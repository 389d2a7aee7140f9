"""SparkSession construction with scale-aware defaults.

The reference engine is single-node in-memory (SILO); our engine targets a
multi-executor cluster reading ~100 TB of Parquet. The defaults below are the
ones that matter at that scale and are harmless on ``local[*]``:

- AQE on (runtime coalescing / skew-join splitting replaces SILO's hand-tuned
  batch sizing, ``/root/reference/src/silo/query_engine/query_plan.cpp:174-194``).
- Arrow-accelerated Python<->JVM transfer for the few Pandas-UDF paths
  (sequence diffing at ingest, multimodal decode).
- Modest broadcast threshold: dimension tables (reference genomes, lineage
  closures, phylo node tables) are small and should always broadcast.
- Python<->JVM data sockets over a Unix-domain socket instead of loopback
  TCP. ``toLocalIterator`` (the server's result stream) fetches each
  partition with a request/reply handshake; the JVM writes small
  unbuffered packets, so Nagle's algorithm on the JVM side meets delayed
  ACK on the Python side and every partition stalls ~40 ms. On 4 cores a
  100-row frame took 88 ms to iterate on 1 partition and 252 ms on 4 over
  TCP (``collect()``: 44 ms), and 50 ms / 102 ms over a Unix socket.
  Python UDF workers use the same socket. Spark names each socket
  ``<dir>/.<uuid>.sock``; the directory is a per-process one under
  :func:`tempfile.gettempdir`, removed at exit (a process that exits
  without ``spark.stop()`` would otherwise leave its socket files behind),
  and the session keeps TCP when that path would pass the ``AF_UNIX``
  length limit, or when the master is not local.
- A generated-code cache that holds the working set
  (:data:`CODEGEN_CACHE_ENTRIES`), so a repeated query reuses its compiled
  classes instead of recompiling them with Janino.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

#: ``spark.sql.codegen.cache.maxEntries``. Spark's default of 100 is below
#: the working set, so the cache evicts classes that come back a moment
#: later: one pass of the 36 ``registry_headline`` rows generates 716
#: distinct classes, and one of every ``lapis_serve`` pool query, with one
#: ``mutations`` and one ``export``, 241 (counted as Janino compiles with a
#: cache that never evicts). At 100 entries the registry's second pass
#: compiled 858 classes again and 2-client serving 300 in 20 s after a 20 s
#: warm-up; with a cache above the working set, 36 and 0 (4 cores).
CODEGEN_CACHE_ENTRIES = 2048

#: ``sun_path`` holds 108 bytes on Linux, the terminating NUL included.
_UNIX_SOCKET_PATH_MAX = 107
#: Spark's socket name under its directory: ``/.<uuid4>.sock``.
_SOCKET_NAME_LEN = len("/.") + 36 + len(".sock")
#: This process's socket directory: unset until the first session, then
#: the directory, or ``""`` when its path is too long for a socket.
_socket_dir: str | None = None


def _socket_dir_fits(directory: str) -> bool:
    """True when Spark's sockets under ``directory`` fit ``AF_UNIX``."""
    return len(os.fsencode(directory)) + _SOCKET_NAME_LEN <= _UNIX_SOCKET_PATH_MAX


def _unix_socket_conf() -> dict[str, str]:
    """Session settings that move the Python<->JVM sockets onto Unix-domain
    sockets in a per-process directory (created once, removed at exit);
    none when that directory's path is too long, so the session keeps TCP."""
    global _socket_dir
    if _socket_dir is None:
        # a short name leaves the most room for a long temporary path
        directory = tempfile.mkdtemp(prefix="uds")
        if _socket_dir_fits(directory):
            atexit.register(shutil.rmtree, directory, ignore_errors=True)
            _socket_dir = directory
        else:
            os.rmdir(directory)
            _socket_dir = ""
    if not _socket_dir:
        return {}
    return {
        "spark.python.unix.domain.socket.enabled": "true",
        "spark.python.unix.domain.socket.dir": _socket_dir,
    }


def get_spark(
    app_name: str = "lapis-silo-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` when no cluster is
    configured — on a real deployment spark-submit supplies the master and
    these local settings are inert. ``extra_conf`` overrides any default,
    the Unix-socket settings included.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # NOTE(round 12, negative A/B): coalescing post-shuffle partitions by
        # byte size (parallelismFirst=false, guide §2.2) measured WORSE on 9
        # of 12 profiled rows (sessionize 1.09→1.48 s, char_spans 2.39→2.94,
        # dsir 1.26→1.54, incremental_minhash 2.26→2.64 min-of-4): at bench
        # scale the advisory 64 MB target coalesces every exchange to ONE
        # task, serializing stages that still carry real work (sorts,
        # windows, gram explodes). parallelismFirst's core-count fan-out is
        # the right default here; the per-task floor is handled where it
        # matters (rebalance_width for Python-boundary stages).
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # Dimension tables (reference genomes ~30k rows, lineage closures,
        # phylo trees) must broadcast; 64 MB covers them with room to spare.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.sql.parquet.aggregatePushdown", "true")
        # Read TIMESTAMP(NANOS) parquet columns as long; the catalog converts
        # them back to TimestampType on registration (Spark has no ns type).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
    )
    if master is None:
        master = os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    builder = builder.master(master)
    # executors on other hosts would need the socket directory too
    sockets = _unix_socket_conf() if master.startswith("local") else {}
    for k, v in {**sockets, **(extra_conf or {})}.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


# Compressed-parquet bytes per partition when fanning a narrow file scan
# out for heavy per-row work. Python-boundary stages pay ~0.3-0.5 s of
# fixed per-TASK overhead (Arrow ser/de + worker dispatch; measured round
# 11: identity mapInPandas over 5 000 rows — 0.76 s wall at 32 partitions
# vs 0.35 s at 4), so tiny inputs must not fan out to defaultParallelism
# tasks. 128 KB of compressed parquet ≈ 0.5-1 MB of text ≈ enough work to
# amortize the boundary. Cluster-sized inputs hit the defaultParallelism
# cap and keep full width — the constant is a floor on work per task, not
# a local-mode tune.
REBALANCE_TARGET_BYTES = 128 * 1024


def rebalance_width(
    files: list[str], n: int, target_bytes: int | None = None
) -> int:
    """SCALE-ADAPTIVE partition count for rebalancing a narrow file scan
    (guide §2: derive from input size): one partition per ``target_bytes``
    (default :data:`REBALANCE_TARGET_BYTES`) of input, clamped to [2, n].
    Pass a smaller ``target_bytes`` when the downstream work per input
    byte is far above the text-pipeline norm (e.g. the char-gram explode
    multiplies each byte into ~k rows of JVM md5 work). Unknown sizes
    (non-local paths) fall back to full width."""
    import os as _os

    try:
        total = sum(
            _os.path.getsize(f[len("file:"):] if f.startswith("file:") else f)
            for f in files
        )
    except OSError:
        return n
    per = target_bytes or REBALANCE_TARGET_BYTES
    return min(n, max(2, -(-total // per)))


def local_relation(spark: SparkSession, data, schema) -> DataFrame:
    """``createDataFrame`` for small driver-side row lists that compiles to
    a pure-JVM ``LocalRelation`` instead of a ``LogicalRDD``.

    ``spark.createDataFrame(list, schema)`` ships the rows through a Python
    RDD scan: every job over the frame launches a Python worker, and in a
    WRITE job (``InsertIntoHadoopFsRelation``) the task then stalls ~5 s
    in ``BasePythonRunner$ReaderInputStream.read`` waiting for the worker's
    end-of-stream — measured on this box as a constant +5 s on EVERY
    parquet/json write whose lineage contains such a frame, vs 0.2 s for
    the identical data as a LocalRelation (round-10; this was 8.8 s of the
    ann_ivfpq_topk row's 11.7 s persist/reload phase). Routing the rows
    through pandas takes Spark's Arrow conversion path, which materializes
    them JVM-side at plan time: no Python worker in any downstream job, and
    Catalyst can constant-fold/broadcast the relation like any literal
    table. Falls back to the plain path if the Arrow conversion rejects the
    data, and ALSO when any cell is a float NaN: pandas stores NaN in
    float64 columns and Arrow reads it as null, so the pandas route would
    silently coerce NaN -> NULL while the classic path preserves NaN
    (round-10 ADVICE). NaN-carrying frames therefore pay the LogicalRDD
    write-stall cost — acceptable, since none of the engine's driver-built
    frames carry NaN; everything else is value-identical either way.

    Use for every small driver-built frame (model artifacts, reference
    side tables, profile/grid frames) — anything that may be saved by
    ``storage.save_version`` or broadcast into a hot plan.
    """
    import pandas as pd

    from pyspark.sql import types as T

    st = (
        T._parse_datatype_string(schema)
        if isinstance(schema, str) else schema
    )
    rows = list(data)

    def _cells(row):
        return row.values() if isinstance(row, dict) else row

    if any(
        isinstance(v, float) and v != v for r in rows for v in _cells(r)
    ):
        # NaN survives only the classic path (see docstring)
        return spark.createDataFrame(rows, schema=st)
    try:
        if not rows:
            # the Arrow path skips empty inputs (falls back to a Python
            # RDD scan); an all-None probe row + limit(0) keeps the
            # LocalRelation shape and PropagateEmptyRelation folds it
            probe = pd.DataFrame([[None] * len(st.names)], columns=st.names)
            return spark.createDataFrame(probe, schema=st).limit(0)
        pdf = pd.DataFrame.from_records(rows, columns=st.names)
        return spark.createDataFrame(pdf, schema=st)
    except Exception:  # noqa: BLE001 — fall back to the classic path
        return spark.createDataFrame(rows, schema=st)

