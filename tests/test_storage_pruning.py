"""Storage-layer pruning parity evidence (SURVEY §4.2).

The reference skips row ranges via sorted-date binary search
(``filter_expressions/date_between.cpp:75-134``) and per-chunk coverage
ranges (``horizontal_coverage_index.h:33-35``). The Spark mapping is
range-partitioned + sorted Parquet writes: every file covers a disjoint
sort-key range, every row group carries tight min/max stats, and the
vectorized Parquet reader drops whole row groups whose stats exclude the
pushed predicate. These tests pin that the mapping actually prunes — the
scan's own ``numOutputRows`` metric (rows the READER materialized, before
any residual filter) collapses under a selective predicate on the sorted
layout and does not on a shuffled one.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F


def _executed_scan_metrics(df) -> dict[str, int]:
    """Execute ``df`` and return the leaf FileSourceScan's metrics."""
    df.collect()
    plan = df._jdf.queryExecution().executedPlan()
    scan = plan.collectLeaves().apply(0)
    m = scan.metrics()
    out: dict[str, int] = {}
    it = m.keysIterator()
    while it.hasNext():
        k = it.next()
        out[k] = m.apply(k).value()
    return out


def _events_like(spark, n: int):
    return spark.range(n).select(
        F.col("id"),
        (F.col("id") % 300).alias("day"),
        F.md5(F.col("id").cast("string")).alias("val"),
    )


def test_sorted_write_prunes_row_groups_date_predicate(spark, tmp_path):
    """A 3-day predicate over 300 days must read a small fraction of the
    rows from the sorted layout, and everything from a shuffled one."""
    n = 300_000
    df = _events_like(spark, n)
    p_sorted = str(tmp_path / "sorted")
    (
        df.repartitionByRange(8, "day")
        .sortWithinPartitions("day")
        .write.option("parquet.block.size", 65536)
        .parquet(p_sorted)
    )
    p_shuffled = str(tmp_path / "shuffled")
    (
        df.orderBy(F.md5(F.col("id").cast("string")))
        .repartition(8)
        .write.option("parquet.block.size", 65536)
        .parquet(p_shuffled)
    )

    pred = (F.col("day") >= 10) & (F.col("day") <= 12)
    q_sorted = spark.read.parquet(p_sorted).filter(pred)
    q_shuffled = spark.read.parquet(p_shuffled).filter(pred)

    # the predicate reaches the parquet reader on both layouts
    for q in (q_sorted, q_shuffled):
        assert "PushedFilters: [IsNotNull(day), GreaterThanOrEqual(day,10)" in (
            q._jdf.queryExecution().executedPlan().toString()
        )

    true_matches = n // 300 * 3
    m_sorted = _executed_scan_metrics(q_sorted)
    m_shuffled = _executed_scan_metrics(q_shuffled)
    # shuffled layout: min/max stats are useless, every row group survives
    assert m_shuffled["numOutputRows"] == n
    # sorted layout: the reader materializes only the surviving row groups —
    # a small multiple of the true matches, never a full scan
    assert m_sorted["numOutputRows"] >= true_matches
    assert m_sorted["numOutputRows"] < n * 0.1, m_sorted
    # both answered the same query
    assert q_sorted.count() == q_shuffled.count() == true_matches


def test_save_version_table_sorts_prunes_and_round_trips(spark, tmp_path):
    """save_version(table_sorts=...) writes the range-partitioned sorted
    layout, records it in the manifest, and the reloaded table's scans
    prune under a sort-key predicate."""
    from lapis_silo_spark.catalog import Database
    from lapis_silo_spark.storage import (
        load_version,
        read_manifest,
        save_version,
    )

    n = 120_000
    db = Database(spark)
    db.register_table("events", _events_like(spark, n), primary_key="id")
    root = str(tmp_path / "store")
    version = save_version(db, root, table_sorts={"events": ["day"]})

    assert read_manifest(root)["tables"]["events"]["sort"] == ["day"]

    loaded = load_version(spark, root, version)
    q = loaded.table("events").filter(F.col("day") == 7)
    m = _executed_scan_metrics(q)
    true_matches = n // 300
    assert q.count() == true_matches
    # row groups whose [min, max] excludes day=7 were never read. The write
    # used the default parquet block size, so per-file row-group counts are
    # low — the bound is correspondingly loose, but far below a full scan.
    assert m["numOutputRows"] < n * 0.5, m


def test_sequence_side_tables_prune_position_predicates(spark, tmp_path):
    """The seq side tables are range-partitioned by (seq_name, pos) at
    save_version time — a narrow position predicate (the shape of every
    nucleotideEquals/hasMutation side-table probe) must not read the whole
    mutations table back."""
    from lapis_silo_spark.catalog import Database, SequenceStore
    from lapis_silo_spark.storage import load_version, save_version

    # realistic side-table shape: ONE segment name, many samples (pk), pos
    # over the genome grid — (pk, seq_name, pos, symbol) per catalog.py
    n = 200_000
    muts = spark.range(n).select(
        F.concat(F.lit("k"), F.col("id").cast("string")).alias("pk"),
        F.lit("main").alias("seq_name"),
        (F.col("id") % 2000).cast("int").alias("pos"),
        F.lit("A").alias("symbol"),
    )
    empty = muts.limit(0)
    db = Database(spark)
    db.register_table(
        "default",
        spark.range(100).select(
            F.concat(F.lit("k"), F.col("id").cast("string")).alias("key")
        ),
        primary_key="key",
    )
    db.register_sequence_store(
        "default",
        SequenceStore(
            mutations=muts, coverage=empty, missing=empty,
            insertions=empty, reference=empty,
        ),
    )
    root = str(tmp_path / "store")
    # small row groups = the granularity a 100 TB side table has naturally;
    # parquet_options is the production knob, not a test hook
    version = save_version(
        db, root, parquet_options={"parquet.block.size": "65536"}
    )

    loaded = load_version(spark, root, version)
    q = loaded.sequence_stores["default"].mutations.filter(
        (F.col("pos") >= 100) & (F.col("pos") < 103)
    )
    m = _executed_scan_metrics(q)
    assert q.count() == n // 2000 * 3
    # with one segment, (seq_name, pos) range partitioning sorts pos
    # globally — per-row-group pos ranges are tight and the reader skips
    # everything outside the probe window
    assert m["numOutputRows"] < n * 0.2, m


def test_save_version_sorted_and_partitioned_layout(spark, tmp_path):
    """A table with both ``table_sorts`` and ``table_partitions`` writes one
    file per partition value (not one per input partition per value), every
    file is sorted on the sort key, and the manifest records that sort."""
    import glob

    import pyarrow.parquet as pq

    from lapis_silo_spark.catalog import Database
    from lapis_silo_spark.storage import load_version, read_manifest, save_version

    n, n_values = 200_000, 5
    frame = spark.range(0, n, 1, numPartitions=8).select(
        F.col("id"),
        (F.col("id") % 300).alias("day"),
        (F.col("id") % n_values).alias("part"),
    )
    db = Database(spark)
    db.register_table("t", frame, primary_key="id")
    root = str(tmp_path / "store")
    version = save_version(
        db, root, table_partitions={"t": ["part"]}, table_sorts={"t": ["day"]}
    )

    files = glob.glob(
        os.path.join(root, "versions", version, "tables", "t", "**", "*.parquet"),
        recursive=True,
    )
    assert len(files) == n_values, files
    unsorted = []
    for path in files:
        days = pq.read_table(path, columns=["day"]).column("day").to_pylist()
        if days != sorted(days):
            unsorted.append(path)
    assert not unsorted

    meta = read_manifest(root)["tables"]["t"]
    assert meta["partitions"] == ["part"] and meta["sort"] == ["day"]
    assert load_version(spark, root, version).table("t").count() == n


def _parquet_files(path: str) -> list[str]:
    import glob

    return glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)


def test_save_version_file_count_follows_bytes(spark, tmp_path):
    """Files are sized by bytes, not by the writer's input partitions: a
    small store (well under 1 MB per dataset) writes one file per dataset,
    and side tables of several MB per core keep at least one file per core
    — or one per shuffle partition when the session has fewer of those:
    AQE merges a range exchange's partitions but never splits them."""
    from lapis_silo_spark.catalog import Database, SequenceStore
    from lapis_silo_spark.storage import save_version

    wide = min(
        spark.sparkContext.defaultParallelism,
        int(spark.conf.get("spark.sql.shuffle.partitions")),
    )

    def store_db(n_muts: int) -> Database:
        # md5 keys: the exchange is sized by its compressed bytes, so the
        # rows must not compress away
        muts = spark.range(0, n_muts, 1, numPartitions=8).select(
            F.md5((F.col("id") % 50_000).cast("string")).alias("pk"),
            F.lit("main").alias("seq_name"),
            (F.col("id") % 29_903).cast("int").alias("pos"),
            F.lit("T").alias("symbol"),
        )
        cov = muts.select(
            "pk", "seq_name", F.col("pos").alias("cov_start"),
            (F.col("pos") + 1).alias("cov_end"),
        )
        db = Database(spark)
        db.register_table(
            "default",
            spark.range(0, 1_000, 1, numPartitions=8).select(
                F.md5(F.col("id").cast("string")).alias("key"),
                (F.col("id") % 7).alias("age"),
            ),
            primary_key="key",
        )
        db.register_sequence_store(
            "default",
            SequenceStore(
                mutations=muts, coverage=cov,
                missing=muts.select("pk", "seq_name", "pos"),
                insertions=muts.select(
                    "pk", "seq_name", "pos", F.col("symbol").alias("inserted")
                ),
                reference=muts.select(
                    "seq_name", "pos", F.col("symbol").alias("ref_symbol"),
                    F.lit(False).alias("is_aa"),
                ).limit(100),
            ),
        )
        return db

    small_root = str(tmp_path / "small")
    version = save_version(store_db(5_000), small_root)
    vdir = os.path.join(small_root, "versions", version)
    datasets = [os.path.join(vdir, "tables", "default")] + [
        os.path.join(vdir, "seq", "default", side)
        for side in ("mutations", "coverage", "missing", "insertions",
                     "reference")
    ]
    assert {d: len(_parquet_files(d)) for d in datasets} == {
        d: 1 for d in datasets
    }

    # ~40 compressed bytes a row: 150k rows a file is several MB a file
    large_root = str(tmp_path / "large")
    version = save_version(store_db(150_000 * wide), large_root)
    vdir = os.path.join(large_root, "versions", version)
    for side in ("mutations", "coverage", "missing", "insertions"):
        n_files = len(_parquet_files(os.path.join(vdir, "seq", "default", side)))
        assert n_files >= wide, (side, n_files)
