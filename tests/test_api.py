"""Embedded Python API (silodb-bindings parity) + physical-plan hygiene."""

from __future__ import annotations

import json

import pytest

from lapis_silo_spark.api import SiloDatabase
from lapis_silo_spark.expressions.base import QueryCompileError
from lapis_silo_spark.sources.ndjson import TableConfig


@pytest.fixture(scope="module")
def handle(spark, tmp_path_factory):
    tmp = tmp_path_factory.mktemp("api")
    h = SiloDatabase(spark)
    h.create_table(TableConfig(
        name="default",
        primary_key="primary_key",
        metadata={"country": "string", "age": "int"},
        nuc_sequences={"main": "ACGT"},
    ))
    ndjson = tmp / "batch.ndjson"
    ndjson.write_text(
        '{"primary_key": "a1", "country": "CH", "age": 4, '
        '"main": {"sequence": "ACTT", "insertions": [], "offset": null}}\n'
        '{"primary_key": "a2", "country": "DE", "age": 7, '
        '"main": {"sequence": "ACGT", "insertions": ["2:GG"], "offset": null}}\n'
    )
    h.append_data_from_file("default", str(ndjson))
    return h


def test_query_returns_arrow(handle):
    table = handle.query(
        "default", "default.groupBy({cnt := count()}, {country})"
        ".orderBy({country})"
    )
    assert table.column("country").to_pylist() == ["CH", "DE"]
    assert table.column("cnt").to_pylist() == [1, 1]


def test_filtered_keys(handle):
    keys = handle.get_filtered_keys(
        "default",
        "nucleotideEquals(position := 3, symbol := 'T', sequenceName := 'main')",
    )
    assert keys == {"a1"}


def test_duplicate_append_rejected(handle, tmp_path):
    dup = tmp_path / "dup.ndjson"
    dup.write_text(
        '{"primary_key": "a1", "country": "XX", "age": 1, "main": null}\n'
    )
    with pytest.raises(QueryCompileError, match="duplicate primary key"):
        handle.append_data_from_file("default", str(dup))


def test_update_column_and_checkpoint(handle, tmp_path, spark):
    handle.update_column("default", "age", 42, "country = 'CH'")
    root = str(tmp_path / "ckpt_root")
    version = handle.save_checkpoint(root)
    assert len(version) == 10

    reloaded = SiloDatabase.load_checkpoint(root, spark)
    rows = {r["primary_key"]: r["age"]
            for r in reloaded.db.table("default").collect()}
    assert rows == {"a1": 42, "a2": 7}

    # string columns are updatable since round 6 (scalar_column_update.cpp
    # parity; guard/rejection shapes live in tests/test_update_column.py);
    # sequence data is in side tables, not main-table columns
    with pytest.raises(QueryCompileError, match="unknown column"):
        handle.update_column("default", "main", "ZZ")


def test_append_after_reload_keeps_metadata_and_mutations(spark, tmp_path):
    """A handle loaded from a checkpoint ingests appends with the stored
    table's full schema: metadata columns and sequences, not just the key."""
    h = SiloDatabase(spark)
    h.create_table(TableConfig(
        name="default",
        primary_key="primary_key",
        metadata={"country": "string", "age": "int"},
        nuc_sequences={"main": "ACGT"},
    ))

    def batch(key: str, country: str, age: int) -> str:
        path = tmp_path / f"{key}.ndjson"
        path.write_text(
            f'{{"primary_key": "{key}", "country": "{country}", "age": {age}, '
            '"main": {"sequence": "ACTT", "insertions": [], "offset": null}}\n'
        )
        return str(path)

    h.append_data_from_file("default", batch("a1", "CH", 3))
    root = str(tmp_path / "root")
    h.save_checkpoint(root)
    h = SiloDatabase.load_checkpoint(root, spark)
    h.append_data_from_file("default", batch("a2", "DE", 5))

    rows = {r["primary_key"]: (r["country"], r["age"])
            for r in h.db.table("default").collect()}
    assert rows == {"a1": ("CH", 3), "a2": ("DE", 5)}
    assert h.get_filtered_keys(
        "default",
        "nucleotideEquals(position := 3, symbol := 'T', sequenceName := 'main')",
    ) == {"a1", "a2"}


# -- physical-plan hygiene ---------------------------------------------------

def _formatted_plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_plan_pushdown_and_topk(spark):
    """The scale contracts SURVEY §7 promises: predicate pushdown into the
    Parquet scan, broadcast joins for small dims, fused top-k."""
    from lapis_silo_spark.driver_queries import QUERIES, db_for

    sf = "/root/testdata/sf0.001"
    db_for(spark, sf)

    plan = _formatted_plan(QUERIES["tpch_q3_top_orders"](spark, sf))
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan  # orderBy+limit fused to top-k
    assert "SortMergeJoin" not in plan

    plan = _formatted_plan(QUERIES["filter_equals_groupby_count"](spark, sf))
    assert "PushedFilters: [" in plan
    assert "IsNotNull" in plan or "EqualTo" in plan


def test_plan_sequence_filter_is_join_not_collect(example_db):
    """Sequence predicates must stay distributed (joins against side tables),
    never driver-side loops."""
    from lapis_silo_spark.saneql import bind_query

    pipeline = bind_query(
        example_db,
        "default.filter(nucleotideEquals(position := 3, symbol := 'T', "
        "sequenceName := 'main'))",
    )
    plan = _formatted_plan(pipeline.df)
    assert "Join" in plan  # flag join against seq_mutations


def test_plan_sequence_flags_batched(example_db):
    """k sequence predicates must compile to a constant number of side-table
    joins (batched conditional aggregation), not ~4k — SURVEY §7.3's
    self-semi-join collapse."""
    from lapis_silo_spark.expressions import NOf, SymbolEquals
    from lapis_silo_spark.operators import Pipeline

    children = [
        SymbolEquals("main", p, s)
        for p, s in [(1, "A"), (2, "C"), (3, "T"), (4, "T"), (6, "C"), (7, "G")]
    ]
    pipeline = Pipeline.scan(example_db, "default").filter(NOf(3, children))
    import re

    plan = _formatted_plan(pipeline.df)
    n_joins = len(re.findall(r"\(\d+\) [A-Za-z]*Join", plan))
    # 6 symbol predicates → 3 batched side-table joins (mutations agg,
    # coverage agg, missing agg)
    assert n_joins <= 4, f"expected batched flags, found {n_joins} joins"
    # and it still answers correctly: k1 matches at 1,2,4,6,7 (>=3)
    got = {r["primary_key"] for r in pipeline.df.select("primary_key").collect()}
    assert "k1" in got and "k4" not in got


# Queries whose plans legitimately contain a BroadcastNestedLoopJoin: each
# broadcasts a side bounded by something other than data size, so the shape
# survives a 100 TB corpus.
_BNLJ_WHITELIST = {
    # brute force by definition: broadcast the query batch across the corpus
    "ann_brute_force_topk",
    # ONE-row corpus-stats broadcast (N, avgdl, per-term df) cross-joined
    # back onto the corpus — bounded by the query term count, not data size
    "text_bm25_topk",
    # probe-list build: query batch × codebook cross (|q|×K rows, both small);
    # the corpus-side candidate join is an equi-join on the cell id
    "ann_ivf_topk",
    # same probe-list shape against the TRAINED codebook (k rows broadcast)
    "ann_ivf_trained_topk",
    # euler-interval containment against ONE broadcast ancestor row
    "genomic_phylo_descendant",
    # ONE-row corpus-size broadcast (N) cross-joined onto the tf table —
    # same scalar-stats device as text_bm25_topk
    "text_tfidf_top_terms",
    # ONE-row corpus-token-total broadcast — same device
    "text_unigram_perplexity",
}


def test_plan_hygiene_sweep_all_queries(spark):
    """Every queries() entry keeps the scale contracts: no CartesianProduct,
    no data-sized BroadcastNestedLoopJoin (theta-join explosion), and Python
    only as Arrow-batched stages (MapInPandas/ArrowEvalPython) — never
    row-at-a-time BatchEvalPython. Guards against a future query regressing
    to a shape that cannot finish at 100 TB."""
    from lapis_silo_spark.driver_queries import QUERIES, db_for

    sf = "/root/testdata/sf0.001"
    db_for(spark, sf)
    offenders = {}
    for name, fn in QUERIES.items():
        df = fn(spark, sf)
        if df.isStreaming:
            continue
        plan = _formatted_plan(df)
        bad = [
            marker
            for marker in (
                "CartesianProduct",
                "BroadcastNestedLoopJoin",
                "BatchEvalPython",
            )
            if marker in plan
        ]
        if name in _BNLJ_WHITELIST:
            bad = [m for m in bad if m != "BroadcastNestedLoopJoin"]
        if bad:
            offenders[name] = bad
    assert not offenders, f"plan hygiene violations: {offenders}"


def test_tpch_q5_plan_broadcasts_dims(spark):
    """Q5's join tree must plan as broadcast hash joins (region/nation/
    supplier/customer are dimension-sized) with the date slice pushed into
    the orders scan — the shape that holds when lineitem is 100 TB."""
    from lapis_silo_spark.driver_queries import QUERIES

    df = QUERIES["tpch_q5_local_supplier_volume"](
        spark, "/root/testdata/sf0.001"
    )
    plan = _formatted_plan(df)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    pushed = [ln for ln in plan.splitlines()
              if "PushedFilters" in ln and "o_orderdate" in ln]
    assert pushed, plan
