"""Sequence-flag frames: the store invariant the projected form relies on,
and the plan shape each kind of flag group compiles to.

``expressions/base.py::_batched_seq_flag_frames`` joins each (side table,
seq_name) group of flag requests onto the main table by pk. A group that
reads at most one side row per pk is a plain projection of the side table;
a group over several positions aggregates per pk. That holds only while the
store keeps one coverage row per (pk, seq_name) and at most one mutations or
missing row per (pk, seq_name, pos) — through ingest, append, local-reference
adaptation and an append onto the adapted store.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from lapis_silo_spark.catalog import Database
from lapis_silo_spark.expressions import NOf, SymbolEquals
from lapis_silo_spark.operators import Pipeline
from lapis_silo_spark.sources.adapt import adapt_local_reference
from lapis_silo_spark.sources.ndjson import TableConfig, ingest_records
from lapis_silo_spark.storage import append_rows, load_version, save_version
from store_layouts import multi_file_copy

REF = "ACGTACGTAC"  # pos 2 'C', pos 4 'T', pos 7 'G'
REF_S = "TTTTGGGG"


def _seq(s, insertions=None, offset=None):
    return {
        "sequence": s,
        "sequenceCompressed": None,
        "insertions": insertions or [],
        "offset": offset,
    }


def _row(pk, main, s=None):
    return {"primary_key": pk, "main": main,
            "S": _seq(s) if s is not None else None}


INGEST = [
    _row("r1", _seq("AGGTACGTAC"), "TTATGGGG"),
    _row("r2", _seq("AGNTACGTAC"), "TTTTGNGG"),
    _row("r3", _seq("AGGTACTTAC")),
    _row("r4", _seq("AGGTACGTAC", insertions=["4:GG"])),
    _row("r5", _seq(REF), REF_S),
    _row("r6", _seq("GTACGTAC", offset=2)),
    _row("r7", None),
]
# appended before adaptation: the store is a union of two ingests
APPEND = [
    _row("r8", _seq("AGGAACGTAC"), "TTATGGNN"),
    _row("r9", _seq("ACGTACGTNN")),
]
# appended after adaptation flips pos 2 to 'G': merge_stores rebases this
# batch, so r10 and r13 gain explicit 'C' entries and r11 loses its 'G' one
APPEND_ADAPTED = [
    _row("r10", _seq(REF), "TTATGGGG"),
    _row("r11", _seq("AGGTACGTAC")),
    _row("r12", _seq("NNGTACGTAC")),
    _row("r13", _seq("ACGAACTTAC")),
]


def _config():
    return TableConfig(
        name="default", primary_key="primary_key", metadata={},
        nuc_sequences={"main": REF, "S": REF_S},
    )


def _ingest(spark, rows):
    config = _config()
    return ingest_records(
        spark, spark.createDataFrame(rows, schema=config.spark_schema()),
        config,
    )


@pytest.fixture(scope="module")
def appended_db(spark):
    main, store = _ingest(spark, INGEST)
    db = Database(spark)
    db.register_table("default", main, primary_key="primary_key")
    db.register_sequence_store("default", store)
    append_rows(db, "default", *_ingest(spark, APPEND))
    db.register_sequence_store(
        "default", adapt_local_reference(db.sequence_store("default"))
    )
    assert db.sequence_store("default").local_symbol("main", 2) == "G"
    append_rows(db, "default", *_ingest(spark, APPEND_ADAPTED))
    return db


@pytest.fixture(scope="module")
def saved_root(appended_db, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("flag_frames") / "store")
    save_version(appended_db, root)
    return root


@pytest.fixture(scope="module")
def saved_db(spark, saved_root):
    """The saved store: each dataset is one small file, so it loads
    single-partition."""
    db = load_version(spark, saved_root)
    assert db.single_partition
    return db


@pytest.fixture(scope="module")
def multi_file_db(spark, saved_root, tmp_path_factory):
    """The same data with multi-file datasets, which loads as written."""
    root = str(tmp_path_factory.mktemp("flag_frames_multi") / "store")
    db = load_version(spark, multi_file_copy(spark, saved_root, root))
    assert not db.single_partition
    return db


def _max_rows_per_key(frame, keys) -> int:
    row = frame.groupBy(*keys).count().agg(F.max("count")).first()
    return row[0] or 0


@pytest.mark.parametrize("which", ["in_memory", "saved"])
def test_side_tables_hold_one_row_per_flag_key(appended_db, saved_db, which):
    store = (appended_db if which == "in_memory" else saved_db).sequence_store(
        "default"
    )
    for side in (store.mutations, store.missing):
        assert _max_rows_per_key(side, ["pk", "seq_name", "pos"]) == 1
    assert _max_rows_per_key(store.coverage, ["pk", "seq_name"]) == 1
    # the rebase of the last batch really wrote explicit baseline entries
    assert {
        r["pk"] for r in store.mutations.filter(
            (F.col("seq_name") == "main") & (F.col("pos") == 2)
            & (F.col("symbol") == "C")
        ).collect()
    } == {"r5", "r9", "r10", "r13"}


def _pks(db, expr) -> set[str]:
    return {
        r["primary_key"]
        for r in Pipeline.scan(db, "default").filter(expr).df.collect()
    }


def test_flag_answers_on_appended_adapted_store(appended_db, saved_db):
    for db in (appended_db, saved_db):
        assert _pks(db, SymbolEquals("main", 2, "C")) == {
            "r5", "r9", "r10", "r13"
        }
        assert _pks(db, SymbolEquals("main", 2, "G")) == {
            "r1", "r2", "r3", "r4", "r8", "r11"
        }
        assert _pks(db, SymbolEquals("main", 2, "N")) == {"r6", "r12"}
        assert _pks(db, SymbolEquals("S", 3, "A")) == {"r1", "r8", "r10"}


def _children(node):
    seq = node.children()
    return [seq.apply(i) for i in range(seq.size())]


def _flag_side_nodes(plan) -> list[list[str]]:
    """Node names under the right (flag) side of every join in ``plan``."""
    def names(node):
        yield node.nodeName()
        for child in _children(node):
            yield from names(child)

    out = []
    stack = [plan]
    while stack:
        node = stack.pop()
        if "Join" in node.nodeName():
            out.append(list(names(_children(node)[1])))
        stack.extend(_children(node))
    return out


def _plans(df):
    qe = df._jdf.queryExecution()
    physical = qe.executedPlan()
    if physical.nodeName() == "AdaptiveSparkPlan":
        physical = physical.initialPlan()
    return _flag_side_nodes(qe.optimizedPlan()), _flag_side_nodes(physical)


def _count(db, expr):
    return Pipeline.scan(db, "default").filter(expr).group_by(
        {"count": F.count(F.lit(1))}, []
    ).df


def test_single_position_flag_is_a_projection(saved_db):
    df = _count(saved_db, SymbolEquals("main", 7, "T"))
    assert df.first()["count"] == 2  # r3, r13
    logical, physical = _plans(df)
    assert len(logical) == len(physical) == 1
    assert "Aggregate" not in logical[0]
    assert not [n for n in physical[0] if "Aggregate" in n or n == "Exchange"]


def _multi_position_count(db):
    return _count(db, NOf(2, [
        SymbolEquals("main", 2, "C"),
        SymbolEquals("main", 4, "A"),
        SymbolEquals("main", 7, "T"),
    ]))


def test_multi_position_flags_keep_one_aggregate(multi_file_db):
    df = _multi_position_count(multi_file_db)
    assert df.first()["count"] == 1  # r13
    logical, physical = _plans(df)
    assert len(logical) == len(physical) == 1
    assert logical[0].count("Aggregate") == 1
    assert physical[0].count("Exchange") == 1


def test_multi_position_flags_on_single_split_store_need_no_exchange(
    saved_db,
):
    df = _multi_position_count(saved_db)
    assert df.first()["count"] == 1  # r13
    logical, physical = _plans(df)
    assert len(logical) == len(physical) == 1
    assert logical[0].count("Aggregate") == 1
    assert physical[0].count("Exchange") == 0
    assert "BroadcastExchange" not in physical[0]
