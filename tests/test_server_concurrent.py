"""Serving under concurrent load (round-10 VERDICT #5).

The reference serves many simultaneous requests from a Poco worker pool
with 16 KB flush / 64 MB backpressure bounds
(``/root/reference/src/silo/query_engine/query_plan.cpp:174-194``); the
Spark analog is one shared SparkSession + a threaded HTTP server, each
request streaming through its own bounded queue under a per-request job
group. This drives ~8 concurrent ``POST /query`` streams over REAL
sockets — a mix of distinct NDJSON result bodies and requests that hit
the query timeout — and asserts:

- no cross-request state leak: every response's body rows satisfy that
  request's own predicate and row count, and ``X-Request-Id`` echoes the
  id that request sent;
- a timed-out request's job-group cancellation does NOT kill concurrent
  healthy requests (per-request tags, thread-local job groups);
- correct ``data-version`` and ``result-ordering`` headers on every
  successful response;
- bounded driver memory while all bodies stream (RSS smoke bound), and
  the timed-out requests' jobs cancelled: no Spark job is left running
  before the slow tasks could have ended on their own.

The slow table holds ONE executor slot per timeout request (one
partition). Spark never preempts a running task, and a request's
first-batch clock includes the time its job waits for a free slot, so a
healthy request is only served while its neighbours' sleeping tasks
leave a slot free: the test needs 3 + 1 = 4 task slots and is skipped
on a smaller session.
"""

from __future__ import annotations

import json
import threading
import time
import uuid
from concurrent.futures import ThreadPoolExecutor
from urllib import request as urlreq
from urllib.error import HTTPError

import pytest

PORT = 8431
TIMEOUT_S = 6
SLEEP_S = 30
TIMEOUT_REQUESTS = 3


def _rss_mb() -> float:
    with open("/proc/self/status") as f:
        for line in f:
            if line.startswith("VmRSS"):
                return int(line.split()[1]) / 1024
    return 0.0


@pytest.fixture(scope="module")
def served_db(spark):
    """Threaded HTTP server over a real db: the sf0.001 genomic store, the
    lineitem volume table, and a deliberately slow table (one partition,
    one ``SLEEP_S`` sleeping task) that can never beat the server's
    ``TIMEOUT_S`` query timeout.

    One partition means each timeout request holds one executor slot
    until it is cancelled. Spark does not preempt running tasks, so the
    three timeout requests must leave at least one of the session's slots
    free for the large requests: the test needs 4 slots."""
    from lapis_silo_spark.driver_queries import genomic_db
    from lapis_silo_spark.server import create_app

    db = genomic_db(spark, "/root/testdata/sf0.001")
    db.register_table(
        "lineitem",
        spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet"),
        primary_key="l_orderkey",
    )
    slow = spark.createDataFrame(
        spark.sparkContext.parallelize(range(1), 1).map(
            lambda i: (time.sleep(SLEEP_S), i)[1:]
        ),
        "id long",
    )
    db.register_table("slow", slow, primary_key="id")

    app = create_app(db, query_timeout=TIMEOUT_S)
    threading.Thread(
        target=lambda: app.run(
            host="127.0.0.1", port=PORT, threaded=True, use_reloader=False
        ),
        daemon=True,
    ).start()

    def post(query: str, rid: str):
        req = urlreq.Request(
            f"http://127.0.0.1:{PORT}/query", data=query.encode(),
            method="POST", headers={"X-Request-Id": rid},
        )
        try:
            with urlreq.urlopen(req, timeout=120) as resp:
                return resp.status, dict(resp.headers), resp.read().decode()
        except HTTPError as exc:
            return (exc.code, dict(exc.headers),
                    exc.read().decode(errors="replace"))

    # server up + codegen warm (one cheap request, retried until the
    # socket accepts)
    for _ in range(120):
        try:
            post("lineitem.filter(l_linenumber = 7)", "warm")
            break
        except OSError:
            time.sleep(0.5)
    return db, post


def test_eight_concurrent_streams_no_cross_request_leak(spark, served_db):
    slots = spark.sparkContext.defaultParallelism
    if slots < TIMEOUT_REQUESTS + 1:
        pytest.skip(
            f"needs {TIMEOUT_REQUESTS} task slots held by the timeout "
            f"requests plus 1 free for the large requests; the session "
            f"has {slots} (Spark does not preempt running tasks)"
        )
    db, post = served_db
    # the binder reproduces the reference's PARTIAL `<` (not implemented
    # for integer expressions), so request-distinguishing predicates use
    # equality on l_linenumber — each value has a distinct row count
    thresholds = [1, 2, 3, 4, 5]
    expected = {
        k: db.tables["lineitem"].filter(f"l_linenumber = {k}").count()
        for k in thresholds
    }
    # distinct expected counts, or the no-mixing assertion proves nothing
    assert len(set(expected.values())) == len(thresholds)

    jobs = ([("large", k) for k in thresholds]
            + [("timeout", None)] * TIMEOUT_REQUESTS)
    rss_before = _rss_mb()
    t_sent = time.monotonic()

    def run(job):
        kind, k = job
        rid = f"{kind}-{k}-{uuid.uuid4()}"
        if kind == "large":
            q = f"lineitem.filter(l_linenumber = {k})"
        else:
            q = "slow.groupBy({count := count()})"
        status, headers, body = post(q, rid)
        return kind, k, rid, status, headers, body

    with ThreadPoolExecutor(max_workers=len(jobs)) as pool:
        results = list(pool.map(run, jobs))

    rss_after = _rss_mb()

    for kind, k, rid, status, headers, body in results:
        # header isolation: each response carries ITS request's id and the
        # db's data version — on errors too (error() passes the request's
        # headers through)
        assert headers.get("X-Request-Id") == rid
        assert headers.get("data-version") == db.data_version
        if kind == "timeout":
            assert status == 500, body
            assert (
                f"Request timed out, no batch within {TIMEOUT_S} seconds"
                in body
            )
            continue
        # healthy requests must survive their neighbors' cancellations
        assert status == 200, body
        assert "result-ordering" in headers
        rows = [json.loads(ln) for ln in body.splitlines() if ln]
        assert len(rows) == expected[k]
        assert all(r["l_linenumber"] == k for r in rows)

    # bounded memory: five streamed NDJSON bodies + three cancelled
    # streams must not accumulate driver-side (bounded queues, no
    # whole-body assembly) — smoke bound, generous for GC slack
    assert rss_after - rss_before < 256, (rss_before, rss_after)

    # the timed-out requests' job groups were cancelled: no job may still
    # occupy executor slots once responses are in. Poll only until the
    # slow tasks could have ended by themselves, or a server that never
    # cancels would pass too.
    tracker = spark.sparkContext.statusTracker()
    while (tracker.getActiveJobsIds()
           and time.monotonic() < t_sent + SLEEP_S):
        time.sleep(0.5)
    assert not tracker.getActiveJobsIds()
