"""Versioned storage lifecycle + HTTP façade.

Mirrors the reference's e2e serving tests (``endToEndTests/test/*.test.js``)
and the append/updateColumn API (``src/silo/database.h:76-108``,
``documentation/incremental_preprocessing.md``).
"""

from __future__ import annotations

import datetime as dt
import json

import pytest
from pyspark.sql import functions as F

from lapis_silo_spark.expressions import Equals
from lapis_silo_spark.expressions.base import QueryCompileError
from lapis_silo_spark.operators import Pipeline
from lapis_silo_spark.saneql import execute_query
from lapis_silo_spark.storage import (
    append_version,
    latest_version,
    load_version,
    save_version,
    update_column,
)

from conftest import RECORDS, REF_MAIN, REF_S, seq


@pytest.fixture(scope="module")
def store_root(tmp_path_factory):
    return str(tmp_path_factory.mktemp("versions_root"))


@pytest.fixture(scope="module")
def persisted(example_db, store_root, spark):
    example_db.lineage_definitions["pango_lineage"] = (
        "B: {}\nB.1:\n  parents:\n  - B\n"
    )
    version = save_version(example_db, store_root)
    db = load_version(spark, store_root)
    return version, db


def test_save_load_roundtrip(persisted, example_db):
    version, db = persisted
    assert db.data_version == version and len(version) == 10

    out = execute_query(
        db, "default.filter(country = 'Switzerland').groupBy({count := count()})"
    ).collect()
    assert out[0]["count"] == 2

    # sequence predicates work over the reloaded side tables
    out = execute_query(
        db,
        "default.filter(nucleotideEquals(position := 3, symbol := 'T', "
        "sequenceName := 'main')).project({primary_key})",
    ).collect()
    assert {r["primary_key"] for r in out} == {"k2"}

    # hierarchies survive the roundtrip
    out = execute_query(
        db,
        "default.filter(pango_lineage.lineage('B.1', includeSublineages := "
        "true)).groupBy({count := count()})",
    ).collect()
    assert out[0]["count"] == 2


def test_append_version(persisted, store_root, spark):
    version, _ = persisted
    # private copy: append_version registers the combined table into the db
    # it's given, and the HTTP tests below reuse the shared fixture object
    db = load_version(spark, store_root, version)
    from lapis_silo_spark.sources.ndjson import TableConfig, ingest_records

    config = TableConfig(
        name="default",
        primary_key="primary_key",
        metadata={
            "country": "string", "age": "int", "date": "date",
            "pango_lineage": "string", "usherTree": "string",
        },
        nuc_sequences={"main": REF_MAIN},
        aa_sequences={"S": REF_S},
    )
    new = [{
        "primary_key": "k5", "country": "France", "age": 41,
        "date": dt.date(2021, 4, 1), "pango_lineage": "B.1",
        "usherTree": "L1", "main": seq(REF_MAIN), "S": seq(REF_S),
    }]
    new_df = spark.createDataFrame(new, schema=config.spark_schema())
    main, store = ingest_records(spark, new_df, config)

    v2 = append_version(db, store_root, "default", main, store)
    db2 = load_version(spark, store_root)
    assert db2.data_version == v2
    assert db2.table("default").count() == 5
    out = execute_query(
        db2,
        "default.filter(nucleotideEquals(position := 1, symbol := 'A', "
        "sequenceName := 'main')).groupBy({count := count()})",
    ).collect()
    # k1, k5 full-reference rows match A@1 (k2 also starts with A)
    assert out[0]["count"] == 3

    # duplicate primary key must be rejected, version untouched
    with pytest.raises(QueryCompileError, match="duplicate primary key"):
        append_version(db2, store_root, "default", main, store)
    assert latest_version(store_root) == v2


def test_update_column(persisted, store_root, spark):
    _, db = persisted
    db3 = load_version(spark, store_root)
    update_column(db3, store_root, "default", "age", 99,
                  Equals("country", "Germany"))
    reloaded = load_version(spark, store_root)
    rows = {r["primary_key"]: r["age"]
            for r in reloaded.table("default").collect()}
    assert rows["k3"] == 99 and rows["k4"] == 99
    assert rows["k1"] == 30

    # string columns are updatable since round 6; the version chain advances
    n_before = db3.table("default").filter("country = 'Switzerland'").count()
    update_column(db3, store_root, "default", "country", "Schweiz",
                  Equals("country", "Switzerland"))
    reloaded2 = load_version(spark, store_root)
    assert reloaded2.table("default").filter("country = 'Switzerland'").count() == 0
    assert reloaded2.table("default").filter("country = 'Schweiz'").count() == n_before


def test_save_version_same_second_no_collision(
    example_db, tmp_path_factory, monkeypatch
):
    """Two saves into one root within the same unix second must land in
    DISTINCT version dirs (ADVICE r9: reused scratch roots + second-
    granularity ids made same-second saves silently overwrite each other).
    The clock is frozen so every save draws the SAME timestamp — the bump
    must still produce distinct, increasing, 10-digit unix-second ids."""
    import lapis_silo_spark.storage as storage_mod

    monkeypatch.setattr(storage_mod.time, "time", lambda: 1_700_000_000.0)
    root = str(tmp_path_factory.mktemp("collide_root"))
    versions = [save_version(example_db, root) for _ in range(3)]
    assert versions == ["1700000000", "1700000001", "1700000002"]


# -- HTTP façade -------------------------------------------------------------

@pytest.fixture(scope="module")
def client(persisted):
    from lapis_silo_spark.server import create_app

    _, db = persisted
    app = create_app(db)
    app.testing = True
    return app.test_client()


def test_health(client):
    resp = client.get("/health")
    assert resp.status_code == 200
    assert resp.get_json() == {"status": "UP"}


def test_info(client, persisted):
    version, _ = persisted
    resp = client.get("/info")
    assert resp.status_code == 200
    body = resp.get_json()
    assert body["sequenceCount"] == 4
    assert {"version", "horizontalBitmapsSize", "verticalBitmapsSize"} <= set(body)
    assert resp.headers["data-version"] == version


def test_query_ndjson_and_headers(client):
    resp = client.post(
        "/query",
        data="default.groupBy({count := count()})",
        headers={"X-Request-Id": "my-request"},
    )
    assert resp.status_code == 200
    assert resp.content_type.startswith("application/x-ndjson")
    assert resp.headers["X-Request-Id"] == "my-request"
    assert resp.headers["result-ordering"] == "[]"
    (line,) = resp.get_data(as_text=True).strip().splitlines()
    assert json.loads(line) == {"count": 4}


def test_query_result_ordering_header(client):
    resp = client.post(
        "/query",
        data="default.project({primary_key, age}).orderBy({desc(age)})",
    )
    assert resp.status_code == 200
    assert json.loads(resp.headers["result-ordering"]) == [
        {"field": "age", "order": "descending", "nullPlacement": "atEnd"}
    ]
    assert len(resp.headers["X-Request-Id"]) > 0

    # map() keeps its input's ordering (row-preserving op)
    resp = client.post("/query", data="default.orderBy({age}).map({y := 1})")
    assert resp.status_code == 200
    assert json.loads(resp.headers["result-ordering"]) == [
        {"field": "age", "order": "ascending", "nullPlacement": "atStart"}
    ]


def test_query_arrow_ipc(client):
    import pyarrow as pa

    resp = client.post(
        "/query",
        data="default.project({primary_key}).orderBy({primary_key})",
        headers={"Accept": "application/vnd.apache.arrow.stream"},
    )
    assert resp.status_code == 200
    assert resp.content_type.startswith("application/vnd.apache.arrow.stream")
    table = pa.ipc.open_stream(resp.get_data()).read_all()
    assert table.column("primary_key").to_pylist() == ["k1", "k2", "k3", "k4"]


def test_query_bad_request(client):
    resp = client.post("/query", data="default.filter(nope = 'x')")
    assert resp.status_code == 400
    body = resp.get_json()
    assert body["error"] == "Bad request"
    assert "does not contain the column" in body["message"]


def test_unknown_url(client):
    resp = client.get("/definitely/not/here")
    assert resp.status_code == 404
    body = resp.get_json()
    assert body["error"] == "Not found"
    assert "does not exist" in body["message"]


def test_lineage_definition(client):
    resp = client.get("/lineageDefinition/pango_lineage")
    assert resp.status_code == 200
    assert resp.content_type.startswith("application/yaml")
    assert resp.get_data(as_text=True).startswith("B: {}")

    resp = client.get("/lineageDefinition/columnThatIsNotPresent")
    assert resp.status_code == 400
    assert resp.get_json()["message"] == (
        "The column columnThatIsNotPresent does not exist in this instance."
    )

    resp = client.get("/lineageDefinition/country")
    assert resp.status_code == 400
    assert resp.get_json()["message"] == (
        "The column country does not have a lineageIndex defined."
    )


# -- CLI ---------------------------------------------------------------------

def test_cli_preprocessing_and_initialize(spark, tmp_path, capsys):
    """preprocessing → initialize roundtrip (app/src/main.cpp subcommands)."""
    from lapis_silo_spark import cli

    config_yaml = tmp_path / "database_config.yaml"
    config_yaml.write_text(
        "schema:\n"
        "  instanceName: cli_test\n"
        "  metadata:\n"
        "    - name: primary_key\n"
        "      type: string\n"
        "    - name: country\n"
        "      type: string\n"
        "    - name: age\n"
        "      type: int\n"
        "  primaryKey: primary_key\n"
    )
    genomes = tmp_path / "reference_genomes.json"
    genomes.write_text(json.dumps({
        "nucleotideSequences": [{"name": "main", "sequence": "ACGT"}],
        "genes": [],
    }))
    ndjson = tmp_path / "input.ndjson"
    ndjson.write_text(
        '{"primary_key": "r1", "country": "CH", "age": 4, '
        '"main": {"sequence": "ACTT", "insertions": [], "offset": null}}\n'
        '{"primary_key": "r2", "country": "DE", "age": 7, '
        '"main": {"sequence": "ACGT", "insertions": ["2:GG"], "offset": null}}\n'
    )
    root = str(tmp_path / "data_root")

    assert cli.main([
        "preprocessing", "--config", str(config_yaml), "--input", str(ndjson),
        "--output", root, "--reference-genomes", str(genomes),
    ]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert len(out["version"]) == 10

    assert cli.main(["initialize", "--root", root]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["tables"] == {"default": 2}

    from lapis_silo_spark.storage import load_version

    db = load_version(spark, root)
    got = execute_query(
        db,
        "default.filter(nucleotideEquals(position := 3, symbol := 'T', "
        "sequenceName := 'main')).project({primary_key})",
    ).collect()
    assert [r["primary_key"] for r in got] == ["r1"]


def test_bucketed_join_avoids_shuffle(spark, tmp_path):
    """Main + side table bucketed by pk ⇒ the pk join plans with no Exchange
    (the co-located-join layout SURVEY §7.3 / M5 calls for)."""
    from lapis_silo_spark.storage import write_bucketed

    main = spark.range(0, 10000).select(
        F.col("id").cast("string").alias("pk"), (F.col("id") % 7).alias("v")
    )
    side = spark.range(0, 30000).select(
        (F.col("id") % 10000).cast("string").alias("pk"),
        (F.col("id") % 13).alias("pos"),
    )
    write_bucketed(main, "bkt_main", "pk", 8, str(tmp_path / "bkt_main"))
    write_bucketed(side, "bkt_side", "pk", 8, str(tmp_path / "bkt_side"))

    m = spark.table("bkt_main")
    s = spark.table("bkt_side").filter(F.col("pos") == 3)
    # hint merge join: broadcast would hide the exchange question entirely
    joined = m.join(s.hint("merge"), on="pk", how="left_semi")
    plan = joined._sc._jvm.PythonSQLUtils.explainString(
        joined._jdf.queryExecution(), "formatted"
    )
    assert "Exchange" not in plan, plan
    assert joined.count() > 0

    # same join over unbucketed inputs shuffles both sides
    joined2 = main.join(
        side.filter(F.col("pos") == 3).hint("merge"), on="pk", how="left_semi"
    )
    plan2 = joined2._sc._jvm.PythonSQLUtils.explainString(
        joined2._jdf.queryExecution(), "formatted"
    )
    spark.sql("DROP TABLE IF EXISTS bkt_main")
    spark.sql("DROP TABLE IF EXISTS bkt_side")
    assert "Exchange" in plan2


def test_partitioned_save_prunes_scan(example_db, spark, tmp_path):
    """``table_partitions`` in save_version produces a layout whose scans
    partition-prune on the partition column — the Spark analog of the
    reference's sorted-date range pruning (date_between.cpp:75-78), checked
    at the PLAN level so the 100 TB behavior is pinned, not assumed."""
    root = str(tmp_path / "part_root")
    save_version(example_db, root, table_partitions={"default": ["country"]})
    db = load_version(spark, root)
    out = db.table("default").filter(F.col("country") == "Germany")
    plan = out._sc._jvm.PythonSQLUtils.explainString(
        out._jdf.queryExecution(), "formatted"
    )
    assert "PartitionFilters" in plan
    # the country predicate must appear as a partition filter, not a data one
    pf_line = [ln for ln in plan.splitlines() if "PartitionFilters" in ln][0]
    assert "country" in pf_line, plan
    assert out.count() == 2


def test_side_table_pos_filter_reaches_parquet(persisted, spark):
    """Sequence side tables persist sorted by (seq_name, pos); a position
    predicate must reach the Parquet scan as a pushed filter so row-group
    min/max stats can skip chunks (the reference's chunk-skipping analog,
    horizontal_coverage_index.h:33-35)."""
    _, db = persisted
    muts = db.sequence_store("default").mutations.filter(F.col("pos") == 3)
    plan = muts._sc._jvm.PythonSQLUtils.explainString(
        muts._jdf.queryExecution(), "formatted"
    )
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert pushed and "pos" in pushed[0], plan
