"""Concurrent-serving soak: N parallel ``POST /query`` clients against the
real threaded HTTP server (one shared SparkSession), measuring p50/p95
latency and aggregate throughput per concurrency level.

The reference serves from a Poco worker pool (``query_handler.cpp:38``);
Spark's analog of its fair request scheduling is the FAIR job scheduler —
``--fair`` builds the session with ``spark.scheduler.mode=FAIR`` so
concurrent queries' jobs round-robin instead of FIFO head-of-line
blocking (a long mutations aggregate no longer stalls cheap lookups).

Usage::

    python tools/serving_soak.py [sf_dir] [--fair] [--requests N]
        [--levels 1,4,8]

Serves the sf genomic dataset (driver_queries.genomic_db) on
127.0.0.1:8399 from a daemon thread and drives it over real sockets.
Prints one JSON line per (concurrency, query-class) plus a summary line
per level. Next to the latencies it prints counts that do not depend on
timing noise: the Spark jobs each request ran (its job group,
``http-query-<X-Request-Id>``), averaged per class, the Janino compiles
of each level (Spark's ``CodegenMetrics``), which fall to about zero once
the generated-code cache holds every query's classes, and the server's
plan-cache hits, misses and evictions of each level.

The ``fresh_lookup`` class sends a text that no earlier request sent, so
each of its requests is a plan-cache miss: its latency is the cost of a
first visit (parse, bind, plan and execute), while the fixed texts of the
other classes are answered from cached plans after the warm-up.
"""

from __future__ import annotations

import itertools
import json
import os
import statistics
import sys
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from urllib import request as urlreq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

PORT = 8399

#: query mix: a cheap metadata aggregate, a point genomic lookup, and the
#: heavy full-table mutations aggregate — the shape that exposes
#: head-of-line blocking if the scheduler has any
QUERY_MIX = {
    "light_groupby": "default.groupBy({count:=count()},{lang})",
    "point_lookup": (
        "default.filter(hasMutation(position:=3, sequenceName:='main'))"
        ".groupBy({count:=count()})"
    ),
    "heavy_mutations": "default.mutations(minProportion:=0.01)",
}
FRESH = "fresh_lookup"


def fresh_lookup(i: int, ref_length: int) -> str:
    """The ``i``-th text of the fresh class: a point lookup like
    ``point_lookup`` whose position cycles through the reference and whose
    excluded key is new on every call, so no two texts are equal."""
    return (
        f"default.filter(hasMutation(position:={1 + i % ref_length}, "
        f"sequenceName:='main') && primary_key != 'fresh-{i}')"
        ".groupBy({count:=count()})"
    )


def percentile(xs: list[float], p: float) -> float:
    xs = sorted(xs)
    idx = min(len(xs) - 1, max(0, int(round(p / 100 * (len(xs) - 1)))))
    return xs[idx]


def main() -> int:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    sf_dir = args[0] if args else "/root/testdata/sf0.1"
    fair = "--fair" in sys.argv
    n_requests = 24
    levels = [1, 4, 8]
    timeout_s = None  # --timeout=N: serve with a tight query timeout and
    # EXPECT the heavy class to return the reference's timeout error while
    # light queries keep their latency profile (query_handler.cpp:34)
    for a in sys.argv[1:]:
        if a.startswith("--requests"):
            n_requests = int(a.split("=")[1])
        if a.startswith("--levels"):
            levels = [int(x) for x in a.split("=")[1].split(",")]
        if a.startswith("--timeout"):
            timeout_s = int(a.split("=")[1])

    from lapis_silo_spark.driver_queries import genomic_db
    from lapis_silo_spark.server import create_app
    from lapis_silo_spark.session import get_spark

    # keep every finished job in the status store for the per-request count
    extra = {"spark.ui.retainedJobs": "100000"}
    if fair:
        extra["spark.scheduler.mode"] = "FAIR"
    spark = get_spark(app_name="serving-soak", extra_conf=extra)
    tracker = spark.sparkContext.statusTracker()
    codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics

    def compiles() -> int:
        """Janino compiles in this JVM so far."""
        return codegen.METRIC_COMPILATION_TIME().getCount()

    print(json.dumps({
        "scheduler": spark.sparkContext.getConf().get(
            "spark.scheduler.mode", "FIFO"
        ),
        "sf_dir": sf_dir,
    }))

    db = genomic_db(spark, sf_dir)
    ref_length = db.sequence_store("default").ref_length("main")
    fresh_ids = itertools.count()
    app = create_app(db, query_timeout=timeout_s) if timeout_s else create_app(db)
    plan_cache = app.extensions["plan_cache"]

    def cache_counts() -> dict[str, int]:
        stats = plan_cache.stats()
        return {k: stats[k] for k in ("hits", "misses", "evictions")}
    threading.Thread(
        target=lambda: app.run(
            host="127.0.0.1", port=PORT, threaded=True, use_reloader=False
        ),
        daemon=True,
    ).start()

    def post(query: str, rid: str | None = None) -> tuple[int, float, str]:
        from urllib.error import HTTPError

        t0 = time.monotonic()
        req = urlreq.Request(
            f"http://127.0.0.1:{PORT}/query", data=query.encode(),
            method="POST", headers={"X-Request-Id": rid} if rid else {},
        )
        try:
            with urlreq.urlopen(req, timeout=300) as resp:
                resp.read()
                return resp.status, (time.monotonic() - t0) * 1000, ""
        except HTTPError as exc:  # 5xx: body carries the engine error
            body = exc.read().decode(errors="replace")
            return exc.code, (time.monotonic() - t0) * 1000, body

    # warm: server up + every query's codegen/caches hot
    for _ in range(60):
        try:
            for q in QUERY_MIX.values():
                post(q)
            post(fresh_lookup(next(fresh_ids), ref_length))
            break
        except OSError:
            time.sleep(0.5)

    if "--export" in sys.argv:
        # Round-6 scenario (VERDICT #2): full-table details export through
        # the STREAMING response body. Measures first-byte latency (the
        # streaming win: bytes flow before the last partition finishes)
        # and peak driver RSS delta while the body is consumed chunk-wise
        # — bounded buffering means RSS must not grow with result size.
        # The lineitem table is the volume case (600k rows / ~100 MB of
        # NDJSON at sf0.1 vs the 0.4 MB genomic metadata table).
        db.register_table(
            "lineitem",
            spark.read.parquet(f"{sf_dir}/lineitem.parquet"),
            primary_key="l_orderkey",
        )
        def rss_mb() -> float:
            with open("/proc/self/status") as f:
                for line in f:
                    if line.startswith("VmRSS"):
                        return int(line.split()[1]) / 1024
            return 0.0

        peak = {"v": 0.0}
        stop = threading.Event()

        def sampler():
            while not stop.is_set():
                peak["v"] = max(peak["v"], rss_mb())
                time.sleep(0.05)

        rss_before = rss_mb()
        threading.Thread(target=sampler, daemon=True).start()
        t0 = time.monotonic()
        req = urlreq.Request(
            f"http://127.0.0.1:{PORT}/query", data=b"lineitem",
            method="POST",
        )
        first_byte_ms = None
        total_bytes = 0
        n_lines = 0
        with urlreq.urlopen(req, timeout=600) as resp:
            while True:
                chunk = resp.read(1 << 16)
                if first_byte_ms is None:
                    first_byte_ms = (time.monotonic() - t0) * 1000
                if not chunk:
                    break
                total_bytes += len(chunk)
                n_lines += chunk.count(b"\n")
        total_ms = (time.monotonic() - t0) * 1000
        stop.set()
        print(json.dumps({
            "scenario": "full_table_export_streaming",
            "rows": n_lines,
            "mb": round(total_bytes / 1e6, 1),
            "first_byte_ms": round(first_byte_ms, 1),
            "total_ms": round(total_ms, 1),
            "rss_before_mb": round(rss_before, 1),
            "rss_peak_delta_mb": round(peak["v"] - rss_before, 1),
        }))
        return 0

    names = [*QUERY_MIX, FRESH]
    for level in levels:
        jobs = []
        for i in range(n_requests):
            name = names[i % len(names)]
            text = (fresh_lookup(next(fresh_ids), ref_length)
                    if name == FRESH else QUERY_MIX[name])
            jobs.append((name, text, f"soak-{level}-{i}"))
        lat: dict[str, list[float]] = {n: [] for n in names}
        spark_jobs: dict[str, list[int]] = {n: [] for n in names}
        timeouts: dict[str, int] = {n: 0 for n in names}
        compiles_before = compiles()
        cache_before = cache_counts()
        t0 = time.monotonic()
        with ThreadPoolExecutor(max_workers=level) as pool:
            for (name, _, rid), (status, ms, body) in zip(
                jobs, pool.map(lambda j: post(j[1], j[2]), jobs),
            ):
                if timeout_s and status == 500 and "timed out" in body:
                    timeouts[name] += 1
                    continue
                assert status == 200, (name, status, body[:200])
                lat[name].append(ms)
                spark_jobs[name].append(
                    len(tracker.getJobIdsForGroup(f"http-query-{rid}"))
                )
        wall = time.monotonic() - t0
        level_compiles = compiles() - compiles_before
        level_cache = {k: v - cache_before[k]
                       for k, v in cache_counts().items()}
        for name in names:
            xs = lat[name]
            out = {
                "concurrency": level,
                "query": name,
                "n": len(xs),
                "p50_ms": round(percentile(xs, 50), 1) if xs else None,
                "p95_ms": round(percentile(xs, 95), 1) if xs else None,
                "jobs_per_request": (
                    round(statistics.mean(spark_jobs[name]), 2)
                    if spark_jobs[name] else None
                ),
            }
            if timeout_s:
                out["timeouts"] = timeouts[name]
            print(json.dumps(out))
        print(json.dumps({
            "concurrency": level,
            "total_requests": n_requests,
            "wall_sec": round(wall, 2),
            "throughput_rps": round(n_requests / wall, 2),
            "janino_compiles": level_compiles,
            "plan_cache": level_cache,
        }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
