"""Versioned Parquet persistence: save / load / append / updateColumn.

Reference lifecycle (``documentation/incremental_preprocessing.md:7-9``,
``src/silo/common/data_version.h``): every append produces a NEW immutable
data-version directory (all-or-nothing), and the server atomically switches
to it. Here a version is a directory of Parquet datasets plus a
``manifest.json``; the atomic switch is a ``latest`` pointer file replaced
via ``os.replace`` (POSIX-atomic). Readers that loaded an older version keep
working — Parquet files are never rewritten in place, exactly the
write-once model Spark wants at 100 TB.

Layout::

    <root>/versions/<ts>/manifest.json
    <root>/versions/<ts>/tables/<name>/            (parquet)
    <root>/versions/<ts>/seq/<table>/<side>/       (parquet; side ∈
        mutations coverage missing insertions reference)
    <root>/versions/<ts>/lineage/<col>/{closure,relation}/
    <root>/versions/<ts>/lineage_defs/<col>.yaml
    <root>/versions/<ts>/phylo/<col>/
    <root>/latest                                   (contains "<ts>")

Append and ``updateColumn`` (reference ``src/silo/database.h:76-87``,
``scalar_column_update.cpp``) change the in-memory :class:`Database` through
:func:`append_rows` / :func:`update_rows` — the same two functions the
embedded API calls — and then save a new version. Every version is a full
rewrite: each table, side table, hierarchy and model is written again, even
when only one column of one table changed. Only the recorded layout
(partition and sort columns) carries over from the previous version.

File counts follow bytes, not the writer's input partitioning. Every
dataset is written through one exchange that has no fixed partition count
— a range exchange for sorted datasets (the sequence side tables, the
insertion trigram index and any table with ``table_sorts``), a rebalance
for the rest — and AQE coalesces it. A rebalance runs only where it
changes the file count: an unsorted dataset that the optimizer estimates
below AQE's minimum partition size (1 MB) is rebalanced; any other is
written as it comes, and read back through a rebalance only when its
files average below that size. A dataset below about 1 MB of shuffle
bytes becomes one file, so a light query on a small store scans each
dataset in one task. A larger one gets about one file per MB up to one per
core. The two exchanges differ above that: AQE only merges range
partitions, so a sorted dataset never gets more files than
``spark.sql.shuffle.partitions`` (the session default is one per core),
however large its files grow; a rebalance is also split where a file would
pass the advisory partition size.

Single-partition serving relies on these byte-sized files. When every
dataset of a version is one file that fits one scan split,
:func:`load_version` loads each as one partition, and a light query plans
without exchanges and runs as one Spark job (``expressions/base.py``,
``catalog.py``). A writer that split a small dataset into several files
would silently bring back the shuffles and broadcasts of a multi-file
store.
"""

from __future__ import annotations

import json
import os
import shutil
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lapis_silo_spark.catalog import Database, SequenceStore
from lapis_silo_spark.expressions.base import QueryCompileError
from lapis_silo_spark.operators.relational import Pipeline
from lapis_silo_spark.sources.adapt import merge_stores

_SIDES = ("mutations", "coverage", "missing", "insertions", "reference")


def _version_dir(root: str, version: str) -> str:
    return os.path.join(root, "versions", version)


def new_version_timestamp() -> str:
    """10-digit unix-seconds version id (matches the reference's
    ``data-version`` header format, asserted by its e2e tests)."""
    return f"{int(time.time()):010d}"


def save_version(
    db: Database,
    root: str,
    table_partitions: dict[str, list[str]] | None = None,
    version: str | None = None,
    extra_manifest: dict | None = None,
    table_sorts: dict[str, list[str]] | None = None,
    parquet_options: dict[str, str] | None = None,
) -> str:
    """Write every registered table/side-table/hierarchy of ``db`` as a new
    version directory, then atomically swap the ``latest`` pointer.

    ``table_partitions`` optionally maps table name → partition columns
    (e.g. ``{"default": ["date"]}``) for partition-pruned scans at scale.

    Each dataset's file count follows its bytes (see the module
    docstring): one file below about 1 MB, up to one per core above. A
    sorted dataset is capped at ``spark.sql.shuffle.partitions`` files and
    is not split by bytes beyond that.

    ``table_sorts`` maps table name → sort columns: the table is
    range-partitioned AND sorted on them at write, so every file covers a
    disjoint key range and every Parquet row group carries tight min/max
    stats — a selective predicate on the sort key skips whole row groups at
    the reader (the Spark-native analog of the reference's sorted-date
    binary-search row ranges, ``storage/column/date_column.h`` +
    ``filter_expressions/date_between.cpp:75-134``, and its per-chunk
    coverage ranges, ``horizontal_coverage_index.h:33-35``). Pinned by
    ``tests/test_storage_pruning.py``: scan-level ``numOutputRows`` drops
    ~60× under a narrow date predicate vs an unsorted layout. A table that
    is also partitioned is clustered by its partition columns instead and
    sorted within each file, so each partition value's files are sorted
    but their key ranges may overlap.

    ``parquet_options`` are writer options applied to every Parquet write
    (e.g. ``{"parquet.block.size": ...}`` — the row group is the pruning
    granule, so block size is the knob that trades scan parallelism and
    stats tightness against metadata volume at scale).
    """
    if version is None:
        # unix-second ids collide when two saves land in the same second
        # (scratch roots are reused per process, ADVICE r9): bump by one
        # second until the directory is fresh — ids stay 10-digit unix
        # seconds (the reference's data-version format) and monotonic.
        version = new_version_timestamp()
        while os.path.exists(_version_dir(root, version)):
            version = f"{int(version) + 1:010d}"
    vdir = _version_dir(root, version)
    os.makedirs(os.path.join(vdir, "tables"), exist_ok=True)

    spark = db.spark
    to_bytes = spark._jvm.org.apache.spark.network.util.JavaUtils.byteStringAsBytes
    min_partition = to_bytes(
        spark.conf.get("spark.sql.adaptive.coalescePartitions.minPartitionSize")
    )

    def _save(frame: DataFrame, path: str, parts: list[str] | None = None):
        writer = frame.write.mode("overwrite")
        if parquet_options:
            writer = writer.options(**parquet_options)
        if parts:
            writer = writer.partitionBy(*parts)
        writer.parquet(path)

    def _write(
        frame: DataFrame,
        path: str,
        sorts: list[str] | tuple[str, ...] = (),
        parts: list[str] | None = None,
    ) -> None:
        # one exchange without a fixed partition count: AQE sizes the files
        # by bytes (module docstring)
        if parts:
            # Cluster rows by the partition columns before a partitionBy
            # write: without it every INPUT partition opens a file per
            # partition VALUE it contains — N×V small files, slow commit,
            # slow reader listing. The rebalance targets advisory-sized
            # output files per value and splits skewed values instead of
            # single-tasking them (the plain ``repartition(cols)`` would).
            # The rebalance shuffles any earlier order away, so the sort
            # comes after it; partition columns lead so the writer needs no
            # sort of its own.
            frame = frame.hint("rebalance", *parts).sortWithinPartitions(
                *parts, *sorts
            )
        elif sorts:
            # a range exchange: files cover disjoint key ranges, and the
            # sort within each gives every row group tight min/max stats
            frame = frame.repartitionByRange(*sorts).sortWithinPartitions(
                *sorts
            )
        elif _estimated_bytes(frame) < min_partition:
            # The optimizer puts it below AQE's minimum partition size:
            # rebalance it into one file now instead of writing it twice
            # below. Should the estimate be that far too low, the cost is
            # one shuffle.
            frame = frame.hint("rebalance")
        else:
            # An unsorted dataset is rebalanced only where that changes its
            # file count. It is first written as it is partitioned, with no
            # exchange. When its files average below AQE's minimum
            # partition size, a rebalance would merge them, so they are
            # read back and written again through one. A dataset of larger
            # files keeps them and skips the shuffle: genomic F's main
            # table (5M short reads, 4 cores) wrote 4 files either way, in
            # 0.63-0.75 s plain and 1.48-1.61 s rebalanced. Above the
            # minimum the optimizer's estimate cannot decide this before
            # the write: it put that table at 28.6 MB over 4 input
            # partitions (37 MB of files) and the 2,500-genome store's
            # main table at 45 MB over 4 (about 100 KB of files).
            _save(frame, path)
            if _small_files(path, min_partition):
                staged = path + ".small"
                os.replace(path, staged)
                _save(spark.read.parquet(staged).hint("rebalance"), path)
                shutil.rmtree(staged)
            return
        _save(frame, path, parts)

    manifest: dict = {
        "version": version,
        "tables": {},
        "sequence_stores": {},
        "lineages": {},
        "phylo": [],
    }
    if extra_manifest:
        manifest.update(extra_manifest)

    for name, df in db.tables.items():
        sorts = (table_sorts or {}).get(name) or []
        parts = (table_partitions or {}).get(name)
        _write(df, os.path.join(vdir, "tables", name), sorts, parts)
        manifest["tables"][name] = {
            "primary_key": db.primary_key(name),
            "partitions": parts or [],
            "sort": sorts,
        }

    for table, store in db.sequence_stores.items():
        base = os.path.join(vdir, "seq", table)
        for side in _SIDES:
            # side tables range-partitioned + sorted by (seq_name, pos) →
            # files cover disjoint key ranges and Parquet row-group min/max
            # stats prune position predicates (the Spark analog of the
            # reference's chunk skipping; evidenced by
            # tests/test_storage_pruning.py). How many files a side table
            # gets follows its bytes, not the ingest's partition count: a
            # table below about 1 MB is one file, so a position lookup on a
            # small store scans it in one task, and a large one is capped at
            # spark.sql.shuffle.partitions files.
            side_df: DataFrame = getattr(store, side)
            sort_cols = [c for c in ("seq_name", "pos", "cov_start")
                         if c in side_df.columns]
            _write(side_df, os.path.join(base, side), sort_cols)
        if store.local_reference is not None:
            _write(store.local_reference, os.path.join(base, "local_reference"))
        if store.insertion_trigrams is not None:
            _write(
                store.insertion_trigrams,
                os.path.join(base, "insertion_trigrams"),
                ("seq_name", "pos", "trigram"),
            )
        manifest["sequence_stores"][table] = {
            "local_reference": store.local_reference is not None,
            "insertion_trigrams": store.insertion_trigrams is not None,
        }

    for col, closure in db.lineage_closures.items():
        base = os.path.join(vdir, "lineage", col)
        _write(closure, os.path.join(base, "closure"))
        entry = {"relation": col in db.lineage_relations}
        if col in db.lineage_relations:
            _write(db.lineage_relations[col], os.path.join(base, "relation"))
        if col in db.lineage_definitions:
            defs_dir = os.path.join(vdir, "lineage_defs")
            os.makedirs(defs_dir, exist_ok=True)
            with open(os.path.join(defs_dir, f"{col}.yaml"), "w") as fh:
                fh.write(db.lineage_definitions[col])
            entry["definition"] = True
        manifest["lineages"][col] = entry

    for col, nodes in db.phylo_nodes.items():
        _write(nodes, os.path.join(vdir, "phylo", col))
        manifest["phylo"].append(col)

    # train-once model artifacts (k-means centroids, PQ codebooks, BPE merge
    # tables): KB-scale by construction, so the byte-sized write gives each
    # one file that loads back broadcast-friendly
    manifest["models"] = {}
    for name, mdf in db.models.items():
        _write(mdf, os.path.join(vdir, "models", name))
        manifest["models"][name] = db.model_meta.get(name, {})

    with open(os.path.join(vdir, "manifest.json"), "w") as fh:
        json.dump(manifest, fh, indent=1)

    # atomic pointer swap: readers see either the old or the new version
    tmp = os.path.join(root, ".latest.tmp")
    with open(tmp, "w") as fh:
        fh.write(version)
    os.replace(tmp, os.path.join(root, "latest"))
    return version


def latest_version(root: str) -> str:
    with open(os.path.join(root, "latest")) as fh:
        return fh.read().strip()


def read_manifest(root: str, version: str | None = None) -> dict:
    version = version or latest_version(root)
    with open(os.path.join(_version_dir(root, version), "manifest.json")) as fh:
        return json.load(fh)


def _estimated_bytes(frame: DataFrame) -> int:
    """The optimizer's size estimate of ``frame``."""
    return int(frame._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())


def _small_files(path: str, min_bytes: int) -> bool:
    """True when the dataset at ``path`` is more than one Parquet file and
    its files average below ``min_bytes``."""
    files = [f for f in os.listdir(path) if f.endswith(".parquet")]
    total = sum(os.path.getsize(os.path.join(path, f)) for f in files)
    return len(files) > 1 and total < len(files) * min_bytes


def _fits_one_split(spark: SparkSession, vdir: str) -> bool:
    """True when every dataset under ``vdir`` is at most one Parquet file
    that Spark scans as one split: no partition directories (``col=value``),
    and each file no larger than the split size Spark would compute for it
    (``FilePartition.maxSplitBytes``: ``spark.sql.files.maxPartitionBytes``
    capped, ``openCostInBytes`` floored) nor than
    ``spark.sql.maxSinglePartitionBytes``, the size up to which the planner
    keeps a one-partition join input unshuffled. Decided from the file
    listing alone: planning each dataset to ask its partition count cost
    0.15-0.2 s of api start-up."""
    conf = spark._jsparkSession.sessionState().conf()
    to_bytes = spark._jvm.org.apache.spark.network.util.JavaUtils.byteStringAsBytes
    max_split = conf.filesMaxPartitionBytes()
    open_cost = conf.filesOpenCostInBytes()
    single_max = to_bytes(spark.conf.get("spark.sql.maxSinglePartitionBytes"))
    parallelism = spark.sparkContext.defaultParallelism
    for dirpath, _, files in os.walk(vdir):
        data = [f for f in files if f.endswith(".parquet")]
        if not data:
            continue
        if len(data) > 1 or "=" in os.path.relpath(dirpath, vdir):
            return False
        size = os.path.getsize(os.path.join(dirpath, data[0]))
        split = min(max_split, max(open_cost, (size + open_cost) // parallelism))
        if size > min(split, single_max):
            return False
    return True


def load_version(
    spark: SparkSession, root: str, version: str | None = None
) -> Database:
    """Load a version directory into a registered :class:`Database`.

    A version whose datasets each fit one scan split (:func:`_fits_one_split`)
    loads every dataset as ``coalesce(1)`` and sets
    :attr:`Database.single_partition`: the planner then knows each scan is
    one partition, so aggregates and flag joins over it need no exchange
    and a light query runs as one Spark job. Any other version loads as
    written."""
    version = version or latest_version(root)
    vdir = _version_dir(root, version)
    with open(os.path.join(vdir, "manifest.json")) as fh:
        manifest = json.load(fh)
    single = _fits_one_split(spark, vdir)

    def read(path: str) -> DataFrame:
        df = spark.read.parquet(path)
        return df.coalesce(1) if single else df

    db = Database(spark)
    db.data_version = manifest["version"]
    for name, meta in manifest["tables"].items():
        df = read(os.path.join(vdir, "tables", name))
        db.register_table(name, df, primary_key=meta["primary_key"])
    for table, entry in manifest["sequence_stores"].items():
        base = os.path.join(vdir, "seq", table)
        sides = {side: read(os.path.join(base, side)) for side in _SIDES}
        # entry is True in pre-adaptation manifests, a dict afterwards
        if isinstance(entry, dict):
            for opt in ("local_reference", "insertion_trigrams"):
                if entry.get(opt):
                    sides[opt] = read(os.path.join(base, opt))
        db.register_sequence_store(table, SequenceStore(**sides))
    for col, entry in manifest["lineages"].items():
        base = os.path.join(vdir, "lineage", col)
        closure = read(os.path.join(base, "closure"))
        relation = (
            read(os.path.join(base, "relation"))
            if entry.get("relation") else None
        )
        text = None
        if entry.get("definition"):
            with open(os.path.join(vdir, "lineage_defs", f"{col}.yaml")) as fh:
                text = fh.read()
        db.register_lineage(col, closure, relation, definition_text=text)
    for col in manifest["phylo"]:
        db.register_phylo_tree(col, read(os.path.join(vdir, "phylo", col)))
    # "models" is absent from pre-round-8 manifests
    for name, meta in manifest.get("models", {}).items():
        db.register_model(
            name,
            read(os.path.join(vdir, "models", name)),
            meta=meta,
        )
    db.single_partition = single
    return db


def _save_with_layout(db: Database, root: str,
                      extra_manifest: dict | None = None) -> str:
    """Save ``db`` as a new version of ``root`` with the partition/sort
    columns recorded in ``root``'s latest manifest, so version-to-version
    rewrites (append, updateColumn) PRESERVE the physical layout. Without
    this, the first append to a partitioned table (e.g. the cid-partitioned
    IVF-PQ codes table) silently rewrites it unpartitioned — values stay
    correct but the static-partition-pruning scale contract is lost."""
    try:
        tables = read_manifest(root).get("tables", {})
    except (FileNotFoundError, json.JSONDecodeError):
        tables = {}
    return save_version(
        db, root,
        table_partitions={n: m["partitions"] for n, m in tables.items()
                          if m.get("partitions")},
        table_sorts={n: m["sort"] for n, m in tables.items() if m.get("sort")},
        extra_manifest=extra_manifest,
    )


def append_rows(
    db: Database,
    table: str,
    new_main: DataFrame,
    new_store: SequenceStore | None = None,
) -> None:
    """In-memory batch append: union ``new_main`` into ``table`` and
    ``new_store`` into its side tables. Duplicate primary keys raise before
    anything is registered, so a failed append leaves ``db`` unchanged
    (reference: atomic append, ``storage/table.h:53-56``)."""
    pk = db.primary_key(table)
    combined = db.table(table).unionByName(new_main, allowMissingColumns=True)
    dup = (
        combined.groupBy(pk).count().filter(F.col("count") > 1).limit(1).collect()
    )
    if dup:
        raise QueryCompileError(
            f"duplicate primary key {dup[0][pk]!r} in append to {table!r}"
        )
    db.register_table(table, combined, primary_key=pk)
    if new_store is not None:
        old_store = db.sequence_stores.get(table)
        # merge_stores rebases the fresh batch onto the old store's
        # (possibly adapted) baseline before the union
        db.register_sequence_store(
            table,
            new_store if old_store is None else merge_stores(old_store, new_store),
        )


def append_version(
    db: Database,
    root: str,
    table: str,
    new_main: DataFrame,
    new_store: SequenceStore | None = None,
    extra_manifest: dict | None = None,
) -> str:
    """Batch append (:func:`append_rows`), saved as a new version.

    All-or-nothing: any failure leaves the previous version untouched.
    """
    append_rows(db, table, new_main, new_store)
    return _save_with_layout(db, root, extra_manifest)


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_col: str,
    n_buckets: int,
    path: str,
) -> None:
    """Persist ``df`` bucketed (+sorted) by ``bucket_col`` as an external
    table.

    This is the co-located-join layout for the 100 TB story: when the main
    table and its sequence side tables are bucketed by ``pk`` with the same
    bucket count, every flag semi-join plans WITHOUT a shuffle on either side
    (Catalyst recognizes matching ``HashPartitioning`` from bucket metadata).
    The reference gets the same effect from sharing row-id space between the
    bitmap indexes and the columns; bucketing is the Spark-native equivalent.
    """
    (
        df.write.mode("overwrite")
        .bucketBy(n_buckets, bucket_col)
        .sortBy(bucket_col)
        .option("path", path)
        .format("parquet")
        .saveAsTable(table_name)
    )


_UPDATABLE = ("int", "bigint", "double", "float", "date", "boolean", "string")


def check_updatable(db: Database, table: str, column: str) -> str:
    """Validate that ``column`` of ``table`` may be point-updated; return its
    Spark dtype string.

    Mirrors ``assignScalarLiteralToColumn``
    (reference ``src/silo/query_engine/scalar_column_update.cpp:28-90``):
    scalar columns (INT32/INT64/FLOAT/DATE32/BOOL) plus the whole string
    family — plain STRING, DICTIONARY_ENCODED and ZSTD_COMPRESSED_STRING all
    land as Spark ``string`` columns here (dictionary/zstd encoding is
    Parquet's job, not the engine's) — with the reference's two guards:

    - a phylogenetic-tree-backed string column refuses (updating it would
      break the tree's row bindings, ``scalar_column_update.cpp:54-60``);
    - a lineage-indexed column refuses (``:68-72``).
    """
    df = db.table(table)
    if column not in df.columns:
        raise QueryCompileError(f"unknown column {column!r} in {table!r}")
    dtype = df.schema[column].dataType.simpleString()
    if dtype not in _UPDATABLE:
        raise QueryCompileError(
            f"updateColumn does not support columns of type {dtype} "
            f"(column {column!r})"
        )
    if dtype == "string":
        if column in db.phylo_nodes:
            raise QueryCompileError(
                f"Column {column!r} is backed by a phylogenetic tree and "
                "cannot be updated, because it would break the tree's row "
                "bindings"
            )
        if column in db.lineage_closures:
            raise QueryCompileError(
                f"Column {column!r} is backed by a lineage index and "
                "cannot be updated"
            )
    return dtype


def update_rows(db: Database, table: str, column: str, value,
                filter_expr=None) -> None:
    """In-memory point update: set ``column = value`` on the rows of
    ``table`` matching ``filter_expr`` — an engine Expression, a boolean
    Column, or a SaneQL filter string (the reference's own API shape,
    ``database.test.cpp:155``); ``None`` matches every row. A row whose
    filter is null keeps its value.

    ``Database::updateColumn`` (``scalar_column_update.cpp:28-90``): the
    columns :func:`check_updatable` accepts; ``value=None`` clears the
    matched rows to null (the reference's SaneQL ``null`` literal).
    """
    check_updatable(db, table, column)
    pipe = Pipeline.scan(db, table)
    if isinstance(filter_expr, str):
        from lapis_silo_spark.saneql.binder import Binder
        from lapis_silo_spark.saneql.parser import parse

        filter_expr = Binder(db).to_filter(parse(filter_expr), pipe)
    match = "__update_match"
    target_type = pipe.df.schema[column].dataType
    df = pipe.map({
        match: F.lit(True) if filter_expr is None else filter_expr
    }).df
    df = df.withColumn(
        column,
        F.when(F.col(match), F.lit(value).cast(target_type)).otherwise(
            F.col(column)
        ),
    ).drop(match)
    db.register_table(table, df, primary_key=pipe.pk)


def update_column(
    db: Database,
    root: str,
    table: str,
    column: str,
    value,
    filter_expr=None,
) -> str:
    """Point update (:func:`update_rows`), saved as a new version."""
    update_rows(db, table, column, value, filter_expr)
    return _save_with_layout(db, root)
