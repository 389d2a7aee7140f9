"""Reference-scale genomic benchmark: the reference's own headline workloads
through the real Spark engine, at the reference's own data scales.

Two workloads, both mirroring `/root/reference/performance/` configurations
(workload definitions only — all code here is original PySpark):

**A. mutation_benchmark replica** (`performance/mutation_benchmark.cpp:80-130`
+ `sequence_generator.h:432,445`): reference = "ACGT"×1000 (4,000 nt);
3.2M 4-nt "ACGT" reads at the fixed offset distribution of
`writeMutationBenchmarkNdjson` (1M@0, 1M@4, 100k@99, 1k each @100..199,
1M@2000). Queries: `mutations(minProportion:=0.05)` full-table, and
filtered `!(key = '3')` ("almost all" — the reference's second timing).

**B. full-genome scale** (`sequence_generator.h:367-384` +
`SequenceTreeGenerator:118-185`): 100k full-length genomes over a 29,903-nt
reference (the exampleDataset genome LENGTH; the sequence itself is
deterministic synthetic ACGT — no reference data is copied), evolved along
a 5-generation / 3-children / 10%-death / 0.001-rate tree, cycled i mod n.
Queries: `mutations()` full + filtered over the ~30k-position coverage
grid — this drives the adapted-store grid materialization
(`operators/mutations.py` `_MAX_GRID_ROWS` path) at real genome scale.

Both stores are SAVED through the versioned parquet lifecycle and RELOADED
before timing, so queries run against real file scans and the committed
evidence includes each query's scan-level `numOutputRows` (rows the parquet
reader materialized), not just wall time.

**C. co_occurrence_benchmark replica** (`performance/
co_occurrence_benchmark.cpp:38-41,81` + `sequence_generator.h:487-489`):
2M sequences over a 100-nt random reference, ~10% of positions re-drawn
per row; query = `map({s_i := main.at(p)} x 6 positions 5/10/20/30/40/50)
| groupBy count`. Times BOTH plans on identical data: the targeted
per-position compile (SequenceAt — one position-filtered aggregated join
per side table) and the reconstruct-then-substring baseline the rewrite
replaces (O(genome-length) transform per row), and checks they return the
same groups.

**D. many_short_read_filters replica** (`performance/
many_short_read_filters.cpp` + `sequence_generator.h:189-203`): 5M reads
x 200 nt drawn from 100 evenly spaced amplicon windows over the 29,903-nt
synthetic reference, with `locationName`/`samplingDate` metadata; the
query stream alternates single-symbol and 5-way-OR `nucleotideEquals`
position filters under a date-range predicate (QueryGenerator semantics),
through the FULL SaneQL path. Reports per-query latency stats at two read
counts for the flat-or-linear scaling note.

**E. full-genome co-occurrence** (workload C's 6-position at() groupBy over
FULL 29,903-nt genomes) — the undiluted O(genome-length) comparison.

**F. clustered_ingestion_benchmark replica** (`performance/
clustered_ingestion_benchmark.cpp:23-37` + `performance/README.md:40-60`):
the same amplicon reads ingested under three physical layouts
(amplicon-sorted raw / shuffled raw / shuffled + the engine's default
range-sorted write), identical query stream against each — the engine's
`repartitionByRange` side-table layout must recover the sorted layout's
query profile from scattered input, measured by latency AND the
mutations-scan `numOutputRows` under a position predicate.

**G. nof_sequence_filter replica** (`performance/nof_sequence_filter.cpp:
124-171`): full evolved-leaf query-sequence mutation profile, distance
sweep {0, 5, 50, 200}, over both the full-sequence store and a short-read
store — latency plus an asserted-constant optimized-plan join count (the
k-predicate→constant-joins batching claim, measured).

Usage:  python tools/genomic_scale_bench.py [--out GENOMIC_SCALE_r10.json]
        [--workloads a,b,c,d,e,f,g]
Env:    SPARK_GRAFT_GENOMIC_ROOT   scratch dir (default .scratch/genomic_scale)
        SPARK_GRAFT_GENOMIC_READS  workload-A rows (default 3,200,000)
        SPARK_GRAFT_GENOMIC_GENOMES workload-B rows (default 100,000)
        SPARK_GRAFT_GENOMIC_COOC   workload-C rows (default 2,000,000)
        SPARK_GRAFT_GENOMIC_SHORT_READS workload-D/F rows (default 5,000,000)
        SPARK_GRAFT_GENOMIC_SR_QUERIES  workload-D/F query count (default 40)
        SPARK_GRAFT_GENOMIC_NOF_GENOMES workload-G full genomes (default =GENOMES)
        SPARK_GRAFT_GENOMIC_NOF_READS   workload-G short reads (default 1,000,000)
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame, SparkSession  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from lapis_silo_spark.session import local_relation  # noqa: E402


def _loadavg() -> float:
    try:
        return round(os.getloadavg()[0], 2)
    except OSError:
        return -1.0


def _walk_scans(node, acc: list[dict]) -> None:
    """Recursively unwrap AQE / query-stage wrappers and record every scan
    node's numOutputRows (rows the reader/cache materialized)."""
    cls = node.getClass().getSimpleName()
    if cls == "AdaptiveSparkPlanExec":
        _walk_scans(node.executedPlan(), acc)
        return
    if cls.endswith("QueryStageExec"):
        _walk_scans(node.plan(), acc)
        return
    if "Scan" in cls:
        entry = {"node": node.nodeName().split("\n")[0][:80]}
        m = node.metrics()
        it = m.keysIterator()
        while it.hasNext():
            k = it.next()
            if k == "numOutputRows":
                entry["numOutputRows"] = int(m.apply(k).value())
        acc.append(entry)
    children = node.children()
    for i in range(children.size()):
        _walk_scans(children.apply(i), acc)


def scan_metrics(df: DataFrame) -> tuple[int, list[dict]]:
    """Execute ``df`` (collect) and return (row_count, per-scan metrics)."""
    rows = df.collect()
    out: list[dict] = []
    try:
        _walk_scans(df._jdf.queryExecution().executedPlan(), out)
    except Exception as exc:  # noqa: BLE001 — evidence, never fatal
        out.append({"error": str(exc)[:120]})
    return len(rows), out


# ---------------------------------------------------------------------------
# Workload generators (original implementations of the published workload
# definitions; parameters cited in the module docstring)
# ---------------------------------------------------------------------------

def mutation_reads(spark: SparkSession, n: int) -> DataFrame:
    """n 4-nt 'ACGT' reads at writeMutationBenchmarkNdjson's offset
    distribution (boundaries expressed as 32nds of n, so they are EXACTLY
    the reference's 1M/1M/100k/100k/1M batches at n=3.2M and the same
    proportions at a reduced smoke n)."""
    rid = F.col("id")
    b1, b2, b3, b4 = (n * k // 32 for k in (10, 20, 21, 22))
    sub = max(1, (b4 - b3) // 100)  # rows per 100+i offset (1000 at full n)
    offset = (
        F.when(rid < b1, F.lit(0))
        .when(rid < b2, F.lit(4))
        .when(rid < b3, F.lit(99))
        .when(rid < b4,
              (F.lit(100) + F.least((rid - b3) / sub, F.lit(99))).cast("int"))
        .otherwise(F.lit(2000))
    )
    return spark.range(n).select(
        rid.cast("string").alias("key"),
        F.struct(
            F.lit("ACGT").alias("sequence"),
            F.lit(None).cast("string").alias("sequenceCompressed"),
            F.array().cast("array<string>").alias("insertions"),
            offset.alias("offset"),
        ).alias("main"),
    )


def evolved_tree(
    reference: str,
    seed: int = 42,
    rate: float = 0.001,
    death: float = 0.1,
    generations: int = 5,
    children: int = 3,
) -> list[str]:
    """Distinct evolved sequences: each child re-mutates its parent at
    ``rate`` per position (SequenceTreeGenerator semantics — shared
    ancestral mutations, leaf-private ones)."""
    rng = np.random.default_rng(seed)
    ref = np.frombuffer(reference.encode(), dtype=np.uint8).copy()
    bases = np.frombuffer(b"ACGT", dtype=np.uint8)
    seqs = [ref]
    current = [0]
    for _ in range(generations):
        nxt: list[int] = []
        for idx in current:
            for _c in range(children):
                if rng.random() >= death:
                    parent = seqs[idx]
                    child = parent.copy()
                    k = rng.binomial(len(child), rate)
                    pos = rng.integers(0, len(child), size=k)
                    child[pos] = bases[rng.integers(0, 4, size=k)]
                    seqs.append(child)
                    nxt.append(len(seqs) - 1)
        if not nxt:
            nxt = [len(seqs) - 1]
        current = nxt
    return [s.tobytes().decode() for s in seqs]


def full_genomes(
    spark: SparkSession, reference: str, n: int
) -> tuple[DataFrame, int]:
    """n full-length genome records cycling over the evolved set."""
    evolved = evolved_tree(reference)
    evo_df = local_relation(
        spark, [(i, s) for i, s in enumerate(evolved)], "eid int, seq string"
    )
    rows = spark.range(n).withColumn(
        "eid", (F.col("id") % len(evolved)).cast("int")
    )
    records = rows.join(F.broadcast(evo_df), on="eid").select(
        F.col("id").cast("string").alias("key"),
        F.struct(
            F.col("seq").alias("sequence"),
            F.lit(None).cast("string").alias("sequenceCompressed"),
            F.array().cast("array<string>").alias("insertions"),
            F.lit(None).cast("int").alias("offset"),
        ).alias("main"),
    )
    return records, len(evolved)


def cooccurrence_records(
    spark: SparkSession, reference: str, n: int
) -> DataFrame:
    """n sequences = the reference with ~rate·L positions re-drawn uniformly
    from ACGT (``writeCoOccurrenceNdjson`` semantics; a deterministic
    xxhash64 grid replaces mt19937 — same workload shape, distributable).
    A re-draw can restate the reference base, exactly like the original."""
    L = len(reference)
    ref_lit = F.lit(reference)
    bases = F.lit("ACGT")

    def ch(p):
        mutate = F.pmod(F.xxhash64(F.col("id"), p, F.lit(1)), F.lit(10)) == 0
        pick = F.pmod(F.xxhash64(F.col("id"), p, F.lit(2)), F.lit(4))
        return F.when(
            mutate, F.substr(bases, (pick + 1).cast("int"), F.lit(1))
        ).otherwise(F.substr(ref_lit, p, F.lit(1)))

    seq = F.concat_ws(
        "", F.transform(F.sequence(F.lit(1), F.lit(L)), ch)
    )
    return spark.range(n).select(
        F.col("id").cast("string").alias("key"),
        F.struct(
            seq.alias("sequence"),
            F.lit(None).cast("string").alias("sequenceCompressed"),
            F.array().cast("array<string>").alias("insertions"),
            F.lit(None).cast("int").alias("offset"),
        ).alias("main"),
    )


def short_read_records(
    spark: SparkSession, reference: str, n: int,
    read_length: int = 200, num_amplicons: int = 100,
) -> DataFrame:
    """n reads of ``read_length`` nt cut from the evolved-sequence set at
    ``num_amplicons`` evenly spaced window starts (ShortReadGenerator's
    amplicon mode — every read of a window shares its covered range), plus
    the metadata columns many_short_read_filters queries filter on."""
    evolved = evolved_tree(reference)
    evo_df = local_relation(
        spark, [(i, s) for i, s in enumerate(evolved)], "eid int, seq string"
    )
    L = len(reference)
    span = L - read_length
    starts = [int(k * span / max(1, num_amplicons - 1))
              for k in range(num_amplicons)]
    starts_col = F.array(*[F.lit(s) for s in starts])
    rows = spark.range(n).select(
        F.col("id"),
        (F.col("id") % len(evolved)).cast("int").alias("eid"),
        F.element_at(
            starts_col,
            (F.pmod(F.xxhash64("id", F.lit(3)), F.lit(num_amplicons)) + 1
             ).cast("int"),
        ).alias("off"),
    )
    return rows.join(F.broadcast(evo_df), on="eid").select(
        F.col("id").cast("string").alias("key"),
        F.lit("generated").alias("locationName"),
        F.date_add(
            F.lit("2024-01-01").cast("date"),
            F.pmod(F.xxhash64("id", F.lit(4)), F.lit(14)).cast("int"),
        ).alias("samplingDate"),
        F.struct(
            F.substr("seq", (F.col("off") + 1).cast("int"),
                     F.lit(read_length)).alias("sequence"),
            F.lit(None).cast("string").alias("sequenceCompressed"),
            F.array().cast("array<string>").alias("insertions"),
            F.col("off").cast("int").alias("offset"),
        ).alias("main"),
    )


def short_read_queries(ref_length: int, count: int, seed: int = 42):
    """The QueryGenerator stream (``many_short_read_filters.cpp:42-88``):
    alternating single-symbol and 5-way-OR nucleotideEquals position
    filters under the same date-window predicate, as SaneQL text."""
    rng = np.random.default_rng(seed)
    symbols = ["A", "C", "G", "T", "-"]
    out: list[tuple[str, str]] = []
    for i in range(count):
        position = int(rng.integers(1, ref_length))
        if i % 2 == 1:
            ors = " || ".join(
                f"nucleotideEquals(position:={position}, symbol:='{s}', "
                f"sequenceName:='main')" for s in symbols
            )
            kind, pred = "all_symbols", f"({ors})"
        else:
            sym = symbols[int(rng.integers(0, len(symbols)))]
            kind = "single_symbol"
            pred = (f"nucleotideEquals(position:={position}, "
                    f"symbol:='{sym}', sequenceName:='main')")
        out.append((kind, (
            "default.filter(locationName = 'generated' && "
            "samplingDate.between('2024-01-01'::date, '2024-01-07'::date) "
            f"&& {pred} && "
            "samplingDate.between('2024-01-01'::date, '2024-01-07'::date))"
            ".groupBy({count:=count()})"
        )))
    return out


# ---------------------------------------------------------------------------
# Harness
# ---------------------------------------------------------------------------

def _parquet_file_count(path: str) -> int:
    """Parquet files the dataset at ``path`` was written as."""
    return sum(
        f.endswith(".parquet") for _, _, files in os.walk(path) for f in files
    )


def run_workload(
    spark: SparkSession,
    label: str,
    records: DataFrame,
    reference: str,
    root: str,
    adapted: bool = False,
    reuse_saved: bool = False,
) -> dict:
    from lapis_silo_spark.catalog import Database
    from lapis_silo_spark.expressions import Equals, Negation
    from lapis_silo_spark.operators.mutations import mutations_aggregate
    from lapis_silo_spark.operators.relational import Pipeline
    from lapis_silo_spark.sources.ndjson import TableConfig, ingest_records
    from lapis_silo_spark.storage import load_version, save_version

    result: dict = {"label": label, "loadavg_start": _loadavg()}
    if not (reuse_saved and os.path.exists(os.path.join(root, "latest"))):
        config = TableConfig(
            name="default", primary_key="key", metadata={},
            nuc_sequences={"main": reference},
        )
        records = records.repartition(
            spark.sparkContext.defaultParallelism
        )
        # ingest through the real diffing pipeline ("Added all data" in the
        # reference's log), then persist via the versioned lifecycle
        t0 = time.perf_counter()
        main, store = ingest_records(spark, records, config)
        db = Database(spark)
        db.register_table("default", main, primary_key="key")
        db.register_sequence_store("default", store)
        # save_version range-partitions + sorts every store side table by
        # (seq_name, pos/cov_start) itself — position predicates prune row
        # groups on the reloaded store
        version = save_version(db, root)
        result["ingest_and_save_sec"] = round(time.perf_counter() - t0, 2)
        vdir = os.path.join(root, "versions", version)
        result["files"] = {
            "default": _parquet_file_count(
                os.path.join(vdir, "tables", "default")
            ),
            **{
                side: _parquet_file_count(
                    os.path.join(vdir, "seq", "default", side)
                )
                for side in ("mutations", "coverage", "missing", "insertions")
            },
        }

    db2 = load_version(spark, root)
    store2 = db2.sequence_store("default")
    if adapted:
        from lapis_silo_spark.sources.adapt import adapt_local_reference

        t0 = time.perf_counter()
        store2 = adapt_local_reference(store2)
        store2.mutations.persist().count()
        result["adapt_sec"] = round(time.perf_counter() - t0, 2)
        db2.register_sequence_store("default", store2)
    result["side_rows"] = {
        "mutations": store2.mutations.count(),
        "coverage": store2.coverage.count(),
        "missing": store2.missing.count(),
    }

    def timed(name: str, df: DataFrame) -> None:
        load = _loadavg()
        t0 = time.perf_counter()
        n_rows, scans = scan_metrics(df)
        result[name] = {
            "wall_sec": round(time.perf_counter() - t0, 2),
            "rows": n_rows,
            "loadavg_1m": load,
            "scan_numOutputRows": scans,
        }
        print(f"  {label}/{name}: {result[name]['wall_sec']}s, "
              f"{n_rows} rows, load {load}", flush=True)

    pipe = Pipeline.scan(db2, "default")
    timed("mutations_all", mutations_aggregate(pipe, ["main"], 0.05))
    timed(
        "mutations_almost_all",
        mutations_aggregate(
            Pipeline.scan(db2, "default").filter(
                Negation(Equals("key", "3"))
            ),
            ["main"],
            0.05,
        ),
    )
    result["loadavg_end"] = _loadavg()
    return result


def _ingest_and_load(
    spark: SparkSession,
    records: DataFrame,
    reference: str,
    root: str,
    metadata: dict | None = None,
    result: dict | None = None,
):
    from lapis_silo_spark.catalog import Database
    from lapis_silo_spark.sources.ndjson import TableConfig, ingest_records
    from lapis_silo_spark.storage import load_version, save_version

    config = TableConfig(
        name="default", primary_key="key", metadata=metadata or {},
        nuc_sequences={"main": reference},
    )
    records = records.repartition(spark.sparkContext.defaultParallelism)
    t0 = time.perf_counter()
    main_df, store = ingest_records(spark, records, config)
    db = Database(spark)
    db.register_table("default", main_df, primary_key="key")
    db.register_sequence_store("default", store)
    save_version(db, root)
    if result is not None:
        result["ingest_and_save_sec"] = round(time.perf_counter() - t0, 2)
    return load_version(spark, root)


def run_cooccurrence(
    spark: SparkSession, reference: str, n: int, root: str,
    iterations: int = 3, baseline_iterations: int | None = None,
    records: DataFrame | None = None, label: str = "C",
    positions: list[int] | None = None,
) -> dict:
    """Workload C: the 6-position co-occurrence groupBy, both plans."""
    from lapis_silo_spark.operators.reconstruct import with_sequence_column
    from lapis_silo_spark.operators.relational import Pipeline
    from lapis_silo_spark.saneql import execute_query

    if positions is None:
        positions = [5, 10, 20, 30, 40, 50]  # co_occurrence_benchmark.cpp:40
    result: dict = {"label": label, "rows": n, "positions": positions,
                    "reference_nt": len(reference),
                    "loadavg_start": _loadavg()}
    shutil.rmtree(root, ignore_errors=True)
    if records is None:
        records = cooccurrence_records(spark, reference, n)
    db2 = _ingest_and_load(spark, records, reference, root, result=result)
    store2 = db2.sequence_store("default")
    result["side_rows"] = {
        "mutations": store2.mutations.count(),
        "coverage": store2.coverage.count(),
    }

    assigns = ", ".join(
        f"s{i} := main.at({p})" for i, p in enumerate(positions)
    )
    keys = ", ".join(f"s{i}" for i in range(len(positions)))
    qtext = (f"default.map({{{assigns}}})"
             f".groupBy({{count:=count()}}, {{{keys}}})")
    result["query"] = qtext

    def targeted() -> DataFrame:
        return execute_query(db2, qtext)

    def reconstruct_baseline() -> DataFrame:
        # the generic plan the reference's rewrite pass replaces: project
        # the sequence column (full O(L) rebuild per row), then substring
        pipe = with_sequence_column(Pipeline.scan(db2, "default"), "main")
        return pipe.df.groupBy(
            *[F.substring("main", p, 1).alias(f"s{i}")
              for i, p in enumerate(positions)]
        ).agg(F.count(F.lit(1)).alias("count"))

    b_cols = [f"s{i}" for i in range(len(positions))] + ["count"]
    collected: dict[str, list] = {}
    for name, build in (("targeted_at", targeted),
                        ("reconstruct_substring", reconstruct_baseline)):
        n_iter = iterations if name == "targeted_at" else (
            baseline_iterations or iterations
        )
        walls = []
        rows = []
        for _ in range(n_iter):
            load = _loadavg()
            t0 = time.perf_counter()
            rows = build().select(*b_cols).collect()
            walls.append(round(time.perf_counter() - t0, 2))
        collected[name] = sorted(map(tuple, rows))
        result[name] = {"wall_sec_min": min(walls), "wall_sec_all": walls,
                        "rows": len(rows), "loadavg_1m": load}
        print(f"  {label}/{name}: min {min(walls)}s over {walls}, "
              f"{len(rows)} groups", flush=True)

    # the two plans must agree group-for-group (reuses the timed collects)
    result["plans_agree"] = (
        collected["targeted_at"] == collected["reconstruct_substring"]
    )
    result["speedup_targeted_vs_reconstruct"] = round(
        result["reconstruct_substring"]["wall_sec_min"]
        / max(result["targeted_at"]["wall_sec_min"], 1e-9), 2
    )
    result["loadavg_end"] = _loadavg()
    return result


def run_short_read_filters(
    spark: SparkSession, reference: str, n: int, n_queries: int, root: str,
) -> dict:
    """Workload D: the alternating position-filter query stream over the
    amplicon short-read store."""
    from lapis_silo_spark.saneql import execute_query

    result: dict = {"label": "D", "rows": n, "loadavg_start": _loadavg()}
    shutil.rmtree(root, ignore_errors=True)
    db2 = _ingest_and_load(
        spark, short_read_records(spark, reference, n), reference, root,
        metadata={"locationName": "string", "samplingDate": "date"},
        result=result,
    )
    store2 = db2.sequence_store("default")
    result["side_rows"] = {
        "mutations": store2.mutations.count(),
        "coverage": store2.coverage.count(),
    }

    walls: dict[str, list[float]] = {"single_symbol": [], "all_symbols": []}
    counts: list[int] = []
    for kind, qtext in short_read_queries(len(reference), n_queries):
        t0 = time.perf_counter()
        out = execute_query(db2, qtext).collect()
        walls[kind].append(round(time.perf_counter() - t0, 4))
        counts.append(out[0]["count"] if out else 0)

    def stats(xs: list[float]) -> dict:
        ss = sorted(xs)
        return {
            "n": len(ss),
            "mean_sec": round(sum(ss) / len(ss), 4),
            "p50_sec": ss[len(ss) // 2],
            "p90_sec": ss[int(len(ss) * 0.9)],
            "min_sec": ss[0],
            "max_sec": ss[-1],
        }

    for kind, xs in walls.items():
        if xs:
            result[kind] = stats(xs)
            print(f"  D/{kind} @ {n}: {result[kind]}", flush=True)
    result["nonzero_count_queries"] = sum(1 for c in counts if c > 0)
    result["loadavg_end"] = _loadavg()
    return result


def run_nof_distance_sweep(
    spark: SparkSession, reference: str, n: int, root: str, label: str,
    records: DataFrame | None = None,
    metadata: dict | None = None,
    distances: tuple[int, ...] = (0, 5, 50, 200),
    iterations: int = 3,
) -> dict:
    """Workload G — ``performance/nof_sequence_filter.cpp:124-171``: full
    query-sequence mutation-profile latency as ``distance`` sweeps the
    reference's own grid {0, 5, 50, 200} (d=0 "almost nothing matches",
    d=200 "almost everything matches").

    The query profile is a full-length evolved leaf sequence — ~30k
    per-position predicates, the configuration whose naive compile
    (one flag join per position, ``mutation_profile.cpp:249-256``) is a
    plan explosion. The engine's ``MutationProfileAggregate`` computes the
    conservative difference count with a CONSTANT number of joins
    (aggregated passes over mutations/coverage/missing + the flag joins),
    so latency must stay flat-ish across the sweep and the optimized-plan
    join count must be IDENTICAL at every distance — both are recorded, and
    the join-count invariance is asserted here, not just claimed.
    """
    from lapis_silo_spark.saneql import execute_query

    result: dict = {"label": label, "rows": n, "loadavg_start": _loadavg()}
    if records is None:
        records, _ = full_genomes(spark, reference, n)
    shutil.rmtree(root, ignore_errors=True)
    db2 = _ingest_and_load(
        spark, records, reference, root, metadata=metadata, result=result,
    )
    store2 = db2.sequence_store("default")
    result["side_rows"] = {
        "mutations": store2.mutations.count(),
        "coverage": store2.coverage.count(),
    }

    # "Using a leaf of the tree maximises divergence from the reference"
    # (nof_sequence_filter.cpp:150-152) — same choice: last evolved leaf.
    query_sequence = evolved_tree(reference)[-1]
    n_diff = sum(1 for a, b in zip(reference, query_sequence) if a != b)
    result["profile_positions"] = len(query_sequence)
    result["profile_diff_vs_reference"] = n_diff

    join_counts: dict[int, int] = {}
    sweep: dict[str, dict] = {}
    for d in distances:
        qtext = (
            f"default.filter(nucleotideMutationProfile(distance:={d}, "
            f"sequenceName:='main', querySequence:='{query_sequence}'))"
            ".groupBy({count:=count()})"
        )
        walls: list[float] = []
        match_count = None
        for _ in range(iterations):
            t0 = time.perf_counter()
            out = execute_query(db2, qtext).collect()
            walls.append(round(time.perf_counter() - t0, 4))
            match_count = out[0]["count"] if out else 0
        plan = (
            execute_query(db2, qtext)
            ._jdf.queryExecution().optimizedPlan().toString()
        )
        join_counts[d] = sum(
            1 for ln in plan.splitlines() if ln.lstrip("+-: ").startswith("Join")
        )
        sweep[str(d)] = {
            "avg_sec": round(sum(walls) / len(walls), 4),
            "min_sec": min(walls),
            "max_sec": max(walls),
            "matching_rows": match_count,
            "optimized_plan_joins": join_counts[d],
        }
        print(f"  {label}/distance={d}: min {min(walls)}s, "
              f"{match_count} rows, {join_counts[d]} joins", flush=True)
    # the batching claim, enforced: join count must not grow with distance
    assert len(set(join_counts.values())) == 1, (
        f"mutation-profile join count varies with distance: {join_counts}"
    )
    result["distances"] = sweep
    result["plan_joins_constant"] = next(iter(join_counts.values()))
    result["loadavg_end"] = _loadavg()
    return result


def run_clustered_layout(
    spark: SparkSession, reference: str, n: int, n_queries: int, root: str,
) -> dict:
    """Workload F — ``performance/clustered_ingestion_benchmark.cpp:23-37``:
    what coverage-clustered physical layout buys on amplicon short reads.

    The reference ingests the same 5M reads three ways (amplicon-sorted
    input / shuffled input / shuffled input + 128-way clustered buffering)
    and shows clustering recovers the sorted layout's query speed from
    scattered input. The Spark-native equivalent of its clustered
    buffering is the engine's default side-table write layout
    (``storage.save_version``: ``repartitionByRange + sortWithinPartitions``
    on (seq_name, pos / cov_start)) — a shuffle at write time instead of
    ingest-side buffer management. Three scenarios over identical reads:

      1. amplicon-sorted input, RAW side-table write (ideal for free)
      2. shuffled input, RAW write (coverage scattered — no row-group
         pruning for position predicates)
      3. shuffled input, written by ``save_version`` itself (the
         engine's default layout) — must recover scenario 1's query
         profile

    Per scenario: ingest+write wall, the query stream's latency stats, and
    the mutations-side scan ``numOutputRows`` for a fixed position filter
    (the direct measure of chunk/row-group skipping).
    """
    from lapis_silo_spark.catalog import Database, SequenceStore
    from lapis_silo_spark.expressions import SymbolEquals
    from lapis_silo_spark.operators.relational import Pipeline
    from lapis_silo_spark.saneql import execute_query
    from lapis_silo_spark.sources.ndjson import TableConfig, ingest_records
    from lapis_silo_spark.storage import save_version

    base = short_read_records(spark, reference, n)
    nparts = spark.sparkContext.defaultParallelism
    # The reference reads each ordering from a pre-written NDJSON file
    # (sorted vs shuffled on DISK, same reads). Materialize both orderings
    # to parquet UNTIMED so every scenario's timed section starts from "read
    # the input file" — otherwise scenario 1 would be billed for the range
    # shuffle that builds the sorted input it is supposed to get for free.
    inputs_dir = os.path.join(root, f"_inputs_{n}")
    sorted_path = os.path.join(inputs_dir, "amplicon_sorted")
    shuffled_path = os.path.join(inputs_dir, "amplicon_shuffled")
    if not os.path.exists(sorted_path):
        (base.repartitionByRange(nparts, F.col("main.offset"))
             .sortWithinPartitions("main.offset")
             .write.mode("overwrite").parquet(sorted_path))
    if not os.path.exists(shuffled_path):
        (base.repartition(nparts)
             .write.mode("overwrite").parquet(shuffled_path))
    scenarios = [
        ("sorted_input_raw_write", spark.read.parquet(sorted_path), False),
        ("shuffled_input_raw_write", spark.read.parquet(shuffled_path),
         False),
        ("shuffled_input_ranged_write", spark.read.parquet(shuffled_path),
         True),
    ]
    result: dict = {"label": "F", "rows": n, "loadavg_start": _loadavg()}
    config = TableConfig(
        name="default", primary_key="key",
        metadata={"locationName": "string", "samplingDate": "date"},
        nuc_sequences={"main": reference},
    )
    # probe at the store's most-mutated position (computed once, on the
    # first scenario's side table) so the pruning probe has real matches:
    # "read only the files whose range covers pos" is only evidence when
    # matching rows exist to be read
    probe_pos: int | None = None
    queries = short_read_queries(len(reference), n_queries)
    sides_written = ("mutations", "coverage", "missing", "insertions",
                     "reference")

    for name, records, ranged in scenarios:
        sdir = os.path.join(root, name)
        shutil.rmtree(sdir, ignore_errors=True)
        t0 = time.perf_counter()
        main_df, store = ingest_records(spark, records, config)
        if ranged:
            # the engine's own write: save_version lays every dataset out
            # (side tables range-sorted, file counts sized by bytes)
            written = Database(spark)
            written.register_table("default", main_df, primary_key="key")
            written.register_sequence_store("default", store)
            vdir = os.path.join(sdir, "versions", save_version(written, sdir))
            paths = {"main": os.path.join(vdir, "tables", "default")}
            paths.update(
                (side, os.path.join(vdir, "seq", "default", side))
                for side in sides_written
            )
        else:
            paths = {"main": os.path.join(sdir, "main")}
            paths.update((side, os.path.join(sdir, side))
                         for side in sides_written)
            main_df.write.mode("overwrite").parquet(paths["main"])
            for side in sides_written:
                getattr(store, side).write.mode("overwrite").parquet(
                    paths[side]
                )
        entry: dict = {
            "ingest_and_write_sec": round(time.perf_counter() - t0, 2),
            "files": {
                dataset: _parquet_file_count(paths[dataset])
                for dataset in ("main", "mutations", "coverage", "missing")
            },
        }

        sides = {side: spark.read.parquet(paths[side])
                 for side in sides_written}
        db = Database(spark)
        db.register_table(
            "default", spark.read.parquet(paths["main"]), primary_key="key"
        )
        db.register_sequence_store("default", SequenceStore(**sides))

        walls: dict[str, list[float]] = {"single_symbol": [],
                                         "all_symbols": []}
        for kind, qtext in queries:
            t0 = time.perf_counter()
            execute_query(db, qtext).collect()
            walls[kind].append(round(time.perf_counter() - t0, 4))
        for kind, xs in walls.items():
            if xs:
                ss = sorted(xs)
                entry[kind] = {
                    "n": len(ss),
                    "mean_sec": round(sum(ss) / len(ss), 4),
                    "p50_sec": ss[len(ss) // 2],
                    "p90_sec": ss[int(len(ss) * 0.9)],
                }
        if probe_pos is None:
            top = (
                sides["mutations"].filter(F.col("seq_name") == "main")
                .groupBy("pos").count().orderBy(F.desc("count"), "pos")
                .first()
            )
            probe_pos = int(top["pos"]) if top else len(reference) // 2
        # direct pruning evidence, two levels:
        # 1. the mutations side table under the exact pushed predicate the
        #    flag-join path issues (EqualTo(pos, p)) — reader-materialized
        #    rows are THE chunk/row-group-skipping measure
        side_probe = sides["mutations"].filter(
            (F.col("seq_name") == "main") & (F.col("pos") == probe_pos)
        )
        n_rows, scans = scan_metrics(side_probe)
        # the pure side-scan wall: the component row-group pruning actually
        # accelerates (the query stream's wall is dominated by main-table
        # work identical across layouts at this node count)
        scan_walls = []
        for _ in range(3):
            t0 = time.perf_counter()
            side_probe.count()
            scan_walls.append(round(time.perf_counter() - t0, 4))
        entry["mutations_pos_probe"] = {
            "pos": probe_pos,
            "matching_rows": n_rows,
            "scan_numOutputRows": scans,
            "scan_wall_min_sec": min(scan_walls),
            "table_rows": sides["mutations"].count(),
        }
        # 2. the full engine query through the flag-join path (wall only;
        #    its broadcast-stage scans don't surface in the walk)
        probe = Pipeline.scan(db, "default").filter(
            SymbolEquals("main", probe_pos, "A")
        ).group_by({"count": F.count(F.lit(1))}, [])
        t0 = time.perf_counter()
        probe.df.collect()
        entry["engine_pos_probe_sec"] = round(time.perf_counter() - t0, 3)
        entry["loadavg_1m"] = _loadavg()
        result[name] = entry
        print(f"  F/{name}: ingest {entry['ingest_and_write_sec']}s, "
              f"single p50 {entry['single_symbol']['p50_sec']}s, "
              f"all p50 {entry['all_symbols']['p50_sec']}s", flush=True)

    return result


def main() -> None:
    out_path = None
    if "--out" in sys.argv:
        out_path = sys.argv[sys.argv.index("--out") + 1]
    workloads = "a,b,c,d,e"
    if "--workloads" in sys.argv:
        workloads = sys.argv[sys.argv.index("--workloads") + 1]
    workloads = {w.strip() for w in workloads.split(",")}
    root = os.environ.get(
        "SPARK_GRAFT_GENOMIC_ROOT",
        os.path.join(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__))), ".scratch", "genomic_scale"),
    )
    n_reads = int(os.environ.get("SPARK_GRAFT_GENOMIC_READS", "3200000"))
    n_genomes = int(os.environ.get("SPARK_GRAFT_GENOMIC_GENOMES", "100000"))
    n_cooc = int(os.environ.get("SPARK_GRAFT_GENOMIC_COOC", "2000000"))
    n_short = int(
        os.environ.get("SPARK_GRAFT_GENOMIC_SHORT_READS", "5000000")
    )
    n_sr_queries = int(
        os.environ.get("SPARK_GRAFT_GENOMIC_SR_QUERIES", "40")
    )

    from lapis_silo_spark.session import get_spark

    spark = get_spark()
    results: dict = {
        "config": {
            "reads": n_reads,
            "genomes": n_genomes,
            "cooccurrence_rows": n_cooc,
            "short_reads": n_short,
            "short_read_queries": n_sr_queries,
            "reference_a_nt": 4000,
            "reference_b_nt": 29903,
            "reference_c_nt": 100,
            "cpus": spark.sparkContext.defaultParallelism,
        }
    }

    # deterministic synthetic reference, the exampleDataset genome LENGTH
    rng = np.random.default_rng(7)
    ref_b = (
        np.frombuffer(b"ACGT", dtype=np.uint8)[rng.integers(0, 4, 29903)]
        .tobytes().decode()
    )

    if "a" in workloads:
        print("workload A: mutation_benchmark replica "
              f"({n_reads} reads, 4,000-nt reference)", flush=True)
        shutil.rmtree(os.path.join(root, "a"), ignore_errors=True)
        results["mutation_benchmark"] = run_workload(
            spark, "A", mutation_reads(spark, n_reads), "ACGT" * 1000,
            os.path.join(root, "a"),
        )

    if "b" in workloads:
        print(f"workload B: full genomes ({n_genomes} x 29,903 nt)",
              flush=True)
        shutil.rmtree(os.path.join(root, "b"), ignore_errors=True)
        records_b, n_evolved = full_genomes(spark, ref_b, n_genomes)
        results["full_genomes"] = run_workload(
            spark, "B", records_b, ref_b, os.path.join(root, "b"),
        )
        results["full_genomes"]["n_evolved_sequences"] = n_evolved

        # B-adapted: majority-vote local reference over the 29,903-position
        # grid — the _MAX_GRID_ROWS driver materialization at genome scale
        print("workload B-adapted: 29,903-position grid path", flush=True)
        results["full_genomes_adapted"] = run_workload(
            spark, "B-adapted", records_b, ref_b,
            os.path.join(root, "b"), adapted=True, reuse_saved=True,
        )

    if "c" in workloads:
        print(f"workload C: co_occurrence_benchmark ({n_cooc} x 100 nt, "
              "6-position at() groupBy, both plans)", flush=True)
        rng_c = np.random.default_rng(42)
        ref_c = (
            np.frombuffer(b"ACGT", dtype=np.uint8)[rng_c.integers(0, 4, 100)]
            .tobytes().decode()
        )
        results["co_occurrence"] = run_cooccurrence(
            spark, ref_c, n_cooc, os.path.join(root, "c"),
        )

    if "e" in workloads:
        # the O(genome-length) demonstration: the SAME 6-position at()
        # groupBy over FULL 29,903-nt genomes — here the reconstruct
        # baseline rebuilds 30k characters per row to read six of them,
        # while the targeted plan's cost is unchanged from workload C
        n_full = int(
            os.environ.get("SPARK_GRAFT_GENOMIC_COOC_FULL", "1000")
        )
        print(f"workload E: co-occurrence over full genomes ({n_full} x "
              "29,903 nt, both plans)", flush=True)
        records_e, _ = full_genomes(spark, ref_b, n_full)
        results["co_occurrence_full_genome"] = run_cooccurrence(
            spark, ref_b, n_full, os.path.join(root, "e"),
            baseline_iterations=1, records=records_e, label="E",
            positions=[5, 1000, 5000, 10000, 20000, 29000],
        )

    if "f" in workloads:
        print(f"workload F: clustered-layout comparison ({n_short} amplicon "
              f"reads, 3 layouts, {n_sr_queries} queries each)", flush=True)
        results["clustered_layout"] = run_clustered_layout(
            spark, ref_b, n_short, n_sr_queries, os.path.join(root, "f"),
        )

    if "g" in workloads:
        n_nof_full = int(
            os.environ.get("SPARK_GRAFT_GENOMIC_NOF_GENOMES",
                           str(n_genomes))
        )
        n_nof_reads = int(
            os.environ.get("SPARK_GRAFT_GENOMIC_NOF_READS", "1000000")
        )
        print(f"workload G: nof_sequence_filter distance sweep "
              f"({n_nof_full} full genomes x 29,903 nt)", flush=True)
        results["nof_distance_sweep_full_sequences"] = run_nof_distance_sweep(
            spark, ref_b, n_nof_full, os.path.join(root, "g_full"),
            label="G-full",
        )
        print(f"workload G: nof_sequence_filter distance sweep "
              f"({n_nof_reads} short reads x 200 nt)", flush=True)
        results["nof_distance_sweep_short_reads"] = run_nof_distance_sweep(
            spark, ref_b, n_nof_reads, os.path.join(root, "g_short"),
            label="G-short",
            records=short_read_records(spark, ref_b, n_nof_reads),
            metadata={"locationName": "string", "samplingDate": "date"},
        )

    if "d" in workloads:
        # two read counts: the headline 5M plus a 5x-smaller point, so the
        # artifact carries the flat-or-linear scaling evidence directly
        for scale_n in (max(1, n_short // 5), n_short):
            print(f"workload D: many_short_read_filters ({scale_n} reads "
                  f"x 200 nt, {n_sr_queries} queries)", flush=True)
            results[f"short_read_filters_{scale_n}"] = (
                run_short_read_filters(
                    spark, ref_b, scale_n, n_sr_queries,
                    os.path.join(root, "d"),
                )
            )

    line = json.dumps(results)
    print(line)
    if out_path:
        with open(out_path, "w") as fh:
            fh.write(line + "\n")


if __name__ == "__main__":
    main()
