"""HTTP façade: the reference's serving API over the Spark engine.

Endpoints (reference ``app/src/``):

- ``POST /query``               SaneQL body → NDJSON (default) or Arrow IPC
  stream under ``Accept: application/vnd.apache.arrow.stream``
  (``query_handler.cpp:38-99``).
- ``GET /info``                 database info JSON (``info_handler.cpp``).
- ``GET /health``               ``{"status": "UP"}`` (``health_handler.cpp``).
- ``GET /lineageDefinition/<col>``  original lineage YAML
  (``lineage_definition_handler.cpp``).
- anything else                 404 ``{"error": "Not found", ...}``
  (``not_found_handler.cpp``).

Headers: every response carries ``data-version`` (10-digit version
timestamp) and ``X-Request-Id`` (echoed or generated,
``request_id_handler.cpp``); ``/query`` additionally reports
``result-ordering`` — a JSON array of ``{field, order, nullPlacement}``
(``query_plan.cpp:16-29``). Errors return the reference's
``{"error", "message"}`` JSON shape with 400/500.

Results stream with ``toLocalIterator``, which fetches one partition at a
time over a socket with a request/reply handshake. Over loopback TCP the
JVM's small unbuffered writes meet Python's delayed ACK and each partition
stalls ~40 ms: on 4 cores a 100-row result took 88 ms on 1 partition and
252 ms on 4, where ``collect()`` took 44 ms. The session therefore runs
these sockets over a Unix-domain socket (:mod:`lapis_silo_spark.session`;
50 ms and 102 ms), which keeps the one-partition memory bound of the
stream.

A light query's result arrives as one partition, so the stream runs one
result job. On a store that ``storage.load_version`` loads
single-partition (every dataset one small file), that is the query's only
job: counted with ``statusTracker().getJobIdsForGroup`` on warmed queries
of each light ``lapis_serve`` class (2,500 genomes, one client, 4 cores),
``aggregated``, ``lineage``, ``details`` and all five ``sequence_filter``
kinds ran one job each, with no Exchange and no BroadcastExchange
(pinned by ``tests/test_single_split_plans.py``). On a store with
multi-file datasets an aggregate adds a shuffle-map job and each broadcast
flag side one more (``aggregated`` 2, ``sequence_filter`` 3-5 on the same
data loaded as written).

Plan cache. The reference answers every request against one immutable
data version, so a dashboard sends the same text again and again against
the same data. Each app keeps a :class:`PlanCache` of
``PLAN_CACHE_ENTRIES`` plans, empty at start:

- the key is (database generation, data version, query text, response
  format); the value is the executed DataFrame (the NDJSON ``to_json``
  projection, or the bound frame for Arrow) and its ``result-ordering``
  header;
- a repeat runs that same DataFrame again. It skips the parse, the bind
  with its bind-time jobs, Catalyst's planning and code generation, but
  still runs its own Spark job over the store under its own job group,
  timeout and cancellation: this caches plans, not results;
- only a plan with no Exchange, BroadcastExchange or subquery is cached
  (:func:`_reruns_from_store`, after the first run). A DataFrame run
  again reuses the RDD of its first run, so Spark skips the map stages
  of a shuffle whose output it still holds and reuses a broadcast
  relation or a subquery's value: such a "hit" would answer
  from the first run's intermediate results and pin their shuffle files
  and broadcast blocks for as long as the entry lives (on a multi-file
  store a hit of ``aggregated`` ran 1 job where its first run took 2, and
  ``mutations`` 1 where it took 12). On a single-split store
  (``storage.load_version``) every light query qualifies; the
  ``mutations`` query, with its broadcast joins, is bound every time;
- every ``register_*`` call on the :class:`Database` bumps its
  generation, and another version has another ``data_version``, so a
  store change makes every older entry unreachable, and the first lookup
  after it drops them;
- a plan is added only after its stream ran to its end; a timeout, a
  client disconnect or an error adds nothing. An error while running a
  cached plan evicts it; a timeout or a disconnect leaves it, since the
  plan did nothing wrong;
- a query whose binding read the wall clock (an unseeded ``randomize()``,
  ``Pipeline.reproducible``) is never added.

What a repeat saves, split by layer (2,500 genomes, 4 cores, warmed, one
client): an ``aggregated`` query bound in 19.7 ms and planned in 5.5 ms,
then executed a fresh DataFrame in 43.0 ms against 22.0 ms for the same
DataFrame run again; ``sequence_filter`` took 49.8 / 12.2 / 71.7 ms
against 30.7 ms. Over 10 alternating ``lapis_serve`` pairs at 4 cores
(BENCH_NOTES), ``ops_per_s`` rose 11.6 → 28.1 and ``op_p50_ms`` fell
159 → 53.
"""

from __future__ import annotations

import io
import json
import queue as queue_mod
import threading
import uuid
from collections import OrderedDict

from pyspark.sql import functions as F

from lapis_silo_spark.catalog import Database
from lapis_silo_spark.expressions.base import QueryCompileError

ARROW_MIME = "application/vnd.apache.arrow.stream"
QUERY_TIMEOUT_SECONDS = 120  # reference default, query_handler.cpp:34
#: NDJSON chunk flush threshold — the reference's ndjson_sink flushes its
#: line buffer to the wire at 16 KB (``exec_node/ndjson_sink.cpp``).
FLUSH_BYTES = 16 * 1024
#: Bounded producer→response queue depth. The producer thread blocks once
#: this many chunks are unread — the backpressure window the reference
#: implements with its 64 MB bounded batch pipe (``query_plan.cpp:174-194``);
#: 64 slots × ~16 KB chunks ≈ 1 MB of driver buffering, plus at most one
#: in-flight partition inside toLocalIterator.
MAX_BUFFERED_CHUNKS = 64
#: Arrow IPC record-batch size for the streaming sink.
ARROW_BATCH_ROWS = 8192
#: Plans one server keeps (:class:`PlanCache`). A dashboard's working set
#: is small: the query pools of silobench's ``lapis_serve`` hold 77 light
#: texts plus 12 ``mutations`` and 8 ``export`` texts, 97 in all, each
#: sent as NDJSON (the ``mutations`` plans broadcast and are not kept).
#: 128 entries hold that whole set, while a stream of texts that never
#: repeat keeps no more than 128 plans alive.
PLAN_CACHE_ENTRIES = 128


class QueryTimeoutError(RuntimeError):
    """A query exceeded the serving timeout; message mirrors the
    reference's ExecutionError (query_plan.cpp:121)."""


class _CleanupStream:
    """Iterable wrapper whose ``close()`` ALWAYS runs the stream cleanup.

    A bare generator's ``close()`` is a no-op when the generator was never
    started, so ``finally`` never runs if werkzeug discards the response
    before its first iteration (teardown error, disconnect before the
    first write) — leaking the producer thread blocked in ``q.put()`` and
    leaving the request's Spark jobs running. werkzeug always calls
    ``close()`` on the response iterable; this wrapper makes that call
    sufficient on every path."""

    def __init__(self, gen, cleanup):
        self._gen = gen
        self._cleanup = cleanup

    def __iter__(self):
        return self

    def __next__(self):
        return next(self._gen)

    def close(self):
        try:
            self._gen.close()
        finally:
            self._cleanup()


def _stream_with_timeout(spark, chunks_fn, seconds: int, tag: str,
                         on_end=lambda outcome: None):
    """Stream ``chunks_fn()`` (a generator of response chunks backed by
    ``toLocalIterator``) through a bounded queue with the reference's
    serving semantics (``query_plan.cpp:109-194``):

    - a producer ``InheritableThread`` runs the Spark jobs under a
      per-request job group and feeds a ``MAX_BUFFERED_CHUNKS``-slot queue
      (backpressure: a slow client stalls the producer, never grows driver
      memory — the response body is NEVER assembled in driver memory);
    - each chunk must arrive within ``seconds`` (the reference's per-batch
      future wait) or the request's Spark jobs are cancelled and
      :class:`QueryTimeoutError` raises. The first-batch wait includes the
      time the request's job spends queued for an executor slot, and Spark
      does not preempt running tasks, so a request whose neighbours'
      tasks hold every slot for ``seconds`` times out;
    - the FIRST chunk is awaited before the HTTP status is committed, so
      bind/execution errors still surface as clean 400/500 responses;
      mid-stream failures abort the chunked transfer (reference behavior —
      the sink cannot un-send a 200);
    - closing the response (client disconnect) cancels the job group and
      unblocks the producer.

    ``on_end(outcome)`` runs once, with the first of: ``"done"`` when the
    consumer has read every chunk and the end of the stream, ``"err"``
    when the query failed, ``"timeout"`` when a chunk did not arrive in
    time, ``"closed"`` when the response was closed before the end.

    Returns a generator yielding the chunks (possibly none).
    """
    from pyspark import InheritableThread

    q: queue_mod.Queue = queue_mod.Queue(maxsize=MAX_BUFFERED_CHUNKS)
    state = {"closed": False, "ended": False}

    def end(outcome: str) -> None:
        if not state["ended"]:
            state["ended"] = True
            on_end(outcome)

    def producer():
        sc = spark.sparkContext
        sc.setJobGroup(tag, "http query", interruptOnCancel=True)
        try:
            for chunk in chunks_fn():
                if state["closed"]:
                    return
                q.put(("chunk", chunk))
            q.put(("done", None))
        except BaseException as exc:  # surfaced in the consumer
            q.put(("err", exc))

    t = InheritableThread(target=producer, daemon=True)
    t.start()

    def cleanup():
        # normal end: jobs already finished, cancel is a no-op.
        # timeout / client disconnect / discarded response: stop the Spark
        # jobs and drain the queue so a producer blocked in put() can
        # observe the closed flag and exit.
        state["closed"] = True
        end("closed")  # no-op after the end of the stream
        spark.sparkContext.cancelJobGroup(tag)
        try:
            while True:
                q.get_nowait()
        except queue_mod.Empty:
            pass

    def next_chunk():
        try:
            kind, payload = q.get(timeout=seconds)
        except queue_mod.Empty:
            # full cleanup here, not only on generator close: a FIRST-chunk
            # timeout raises before gen() exists, and a producer that got
            # past cancelJobGroup (prefetched toLocalIterator partitions)
            # would otherwise block in q.put() forever — leaking the thread
            # and MAX_BUFFERED_CHUNKS of body per timed-out request
            end("timeout")
            cleanup()
            raise QueryTimeoutError(
                f"Request timed out, no batch within {seconds} seconds."
            ) from None
        if kind == "err":
            end("err")
            raise payload
        if kind == "done":
            end("done")
            return None
        return payload

    first = next_chunk()  # pre-response: errors/timeout → clean 400/500

    def gen():
        try:
            chunk = first
            while chunk is not None:
                yield chunk
                chunk = next_chunk()
        finally:
            cleanup()

    return _CleanupStream(gen(), cleanup)


class PlanCache:
    """Bounded LRU map from a query's key to its executed plan.

    A key starts with the store state it was bound against, (database
    generation, data version); a value is ``(df, ordering)``: the
    DataFrame whose rows the response streams and the ``result-ordering``
    header. Running the same DataFrame again reuses Spark's analysed,
    optimised and physical plan; each run is still its own job over the
    store. ``hits``, ``misses`` and ``evictions`` (capacity, error and
    store-change evictions) count since the start."""

    def __init__(self):
        self._entries: OrderedDict = OrderedDict()
        self._state = None  # the store state of every entry
        self._lock = threading.Lock()
        self.hits = self.misses = self.evictions = 0

    def get(self, key):
        with self._lock:
            if key[0] != self._state:
                # the store changed: no later request can reach the old
                # entries, so free their frames now instead of waiting
                # for LRU to push them out
                self.evictions += len(self._entries)
                self._entries.clear()
                self._state = key[0]
            entry = self._entries.get(key)
            if entry is None:
                self.misses += 1
            else:
                self.hits += 1
                self._entries.move_to_end(key)
            return entry

    def put(self, key, entry) -> None:
        with self._lock:
            if key[0] != self._state:
                return  # bound against a store state that has passed
            self._entries[key] = entry
            self._entries.move_to_end(key)
            while len(self._entries) > PLAN_CACHE_ENTRIES:
                self._entries.popitem(last=False)
                self.evictions += 1

    def evict(self, key, entry) -> None:
        """Drop ``entry`` unless another request has replaced it."""
        with self._lock:
            if self._entries.get(key) is entry:
                del self._entries[key]
                self.evictions += 1

    def stats(self) -> dict[str, int]:
        with self._lock:
            return {"hits": self.hits, "misses": self.misses,
                    "evictions": self.evictions,
                    "entries": len(self._entries)}


def _reruns_from_store(df) -> bool:
    """True when running ``df`` again reads every input from the store:
    its executed plan has no exchange, no shuffle or broadcast query stage
    and no subquery, whose output a second run would reuse.

    Walks the final adaptive plan node by node, after the run. Its tree
    string would say the same, but building it cost 45 ms for a point
    lookup over a cached table (the soak's store), the walk 1-3 ms."""
    plan = df._jdf.queryExecution().executedPlan()
    if plan.nodeName() == "AdaptiveSparkPlan":
        plan = plan.executedPlan()  # the final plan
    if plan.nodeName() == "ResultQueryStage":
        plan = plan.plan()
    if not plan.subqueriesAll().isEmpty():
        return False
    nodes = [plan]
    while nodes:
        node = nodes.pop()
        name = node.nodeName()
        if name.endswith("Exchange") or name in (
            "ShuffleQueryStage", "BroadcastQueryStage"
        ):
            return False
        children = node.children()
        nodes.extend(children.apply(i) for i in range(children.size()))
    return True


def database_info(db: Database) -> dict:
    """Shape-compatible ``/info`` payload (``info.test.js``): the bitmap-size
    gauges map to the normalized side tables' row counts."""
    sequence_count = db.table("default").count() if "default" in db.tables else 0
    horizontal = 0
    vertical = 0
    for store in db.sequence_stores.values():
        horizontal += store.coverage.count() + store.missing.count()
        vertical += store.mutations.count() + store.insertions.count()
    return {
        "version": "lapis-silo-spark/0.1",
        "sequenceCount": sequence_count,
        "horizontalBitmapsSize": horizontal,
        "verticalBitmapsSize": vertical,
    }


def create_app(db: Database, query_timeout: int = QUERY_TIMEOUT_SECONDS):
    """Build the Flask app serving ``db``. Import-guarded so the engine
    library works without Flask installed. ``query_timeout`` bounds each
    ``POST /query``'s execution (reference default 120 s); on expiry the
    request's Spark jobs are cancelled and a 500 with the reference's
    timeout message is returned."""
    from flask import Flask, Response, request

    app = Flask("lapis_silo_spark")

    def base_headers() -> dict[str, str]:
        rid = request.headers.get("X-Request-Id") or str(uuid.uuid4())
        return {"X-Request-Id": rid, "data-version": db.data_version}

    def error(status: int, err: str, message: str, headers=None) -> Response:
        return Response(
            json.dumps({"error": err, "message": message}),
            status=status,
            content_type="application/json",
            headers=headers or base_headers(),
        )

    # empty at start: filling it here would move request work into start-up
    plans = PlanCache()
    app.extensions["plan_cache"] = plans

    @app.post("/query")
    def query() -> Response:
        headers = base_headers()
        text = request.get_data(as_text=True)
        arrow = ARROW_MIME in request.headers.get("Accept", "")
        # Generation and version enter the key before binding, so a plan
        # bound while a register_* call lands is stored under the old
        # generation and never found again.
        key = ((db.generation, db.data_version), text, arrow)
        try:
            plan = plans.get(key)
            hit = plan is not None
            cacheable = False
            if not hit:
                from lapis_silo_spark.saneql import bind_query

                pipeline = bind_query(db, text)
                df = pipeline.df if arrow else _ndjson_frame(pipeline.df)
                plan = (df, json.dumps(pipeline.ordering))
                # an unseeded randomize() read the clock while binding
                cacheable = pipeline.reproducible
            df, headers["result-ordering"] = plan

            def on_end(outcome: str) -> None:
                # Only a stream that ran to its end adds an entry, and only
                # an error evicts one: a timeout or a disconnect says
                # nothing about the plan.
                if outcome == "done" and cacheable and _reruns_from_store(df):
                    plans.put(key, plan)
                elif outcome == "err" and hit:
                    plans.evict(key, plan)

            chunks = _arrow_ipc_chunks if arrow else _ndjson_chunks
            body = _stream_with_timeout(
                df.sparkSession, lambda: chunks(df), query_timeout,
                f"http-query-{headers['X-Request-Id']}", on_end,
            )
            return Response(
                body,
                content_type=ARROW_MIME if arrow else "application/x-ndjson",
                headers=headers,
            )
        except QueryCompileError as exc:
            return error(400, "Bad request", str(exc), headers)
        except Exception as exc:  # mirror error_request_handler.cpp
            return error(500, "Internal server error", str(exc), headers)

    info_cache: dict[str, dict] = {}

    @app.get("/info")
    def info() -> Response:
        # counts are immutable per data version — compute once, not per poll
        if db.data_version not in info_cache:
            info_cache.clear()
            info_cache[db.data_version] = database_info(db)
        return Response(
            json.dumps(info_cache[db.data_version]),
            content_type="application/json",
            headers=base_headers(),
        )

    @app.get("/health")
    def health() -> Response:
        return Response(
            json.dumps({"status": "UP"}),
            content_type="application/json",
            headers=base_headers(),
        )

    @app.get("/lineageDefinition/<column>")
    def lineage_definition(column: str) -> Response:
        known_columns = set()
        for df in db.tables.values():
            known_columns.update(df.columns)
        if column not in known_columns:
            return error(
                400, "Bad request",
                f"The column {column} does not exist in this instance.",
            )
        if column not in db.lineage_definitions:
            return error(
                400, "Bad request",
                f"The column {column} does not have a lineageIndex defined.",
            )
        return Response(
            db.lineage_definitions[column],
            content_type="application/yaml",
            headers=base_headers(),
        )

    @app.errorhandler(404)
    def not_found(_exc) -> Response:
        return error(
            404, "Not found", f"Resource {request.path} does not exist"
        )

    return app


def _ndjson_frame(df):
    """One JSON line per row. Null fields are written explicitly, matching
    the reference's rows (Spark's toJSON drops them)."""
    return df.select(
        F.to_json(F.struct(*df.columns), {"ignoreNullFields": "false"})
        .alias("j")
    )


def _ndjson_chunks(jdf):
    """NDJSON sink (``exec_node/ndjson_sink.cpp``): lines from
    ``toLocalIterator`` flushed in ``FLUSH_BYTES`` chunks, so a large
    result never materializes driver-side at once."""
    buf: list[str] = []
    size = 0
    for r in jdf.toLocalIterator():
        line = r["j"] + "\n"
        buf.append(line)
        size += len(line)
        if size >= FLUSH_BYTES:
            yield "".join(buf)
            buf, size = [], 0
    if buf:
        yield "".join(buf)


def _arrow_ipc_chunks(df):
    """Arrow IPC stream sink (``exec_node/arrow_ipc_sink.cpp``), batch-wise:
    rows from ``toLocalIterator`` are packed into ``ARROW_BATCH_ROWS``-row
    record batches and each batch's IPC bytes yielded as soon as it is
    written — driver memory holds one batch, never the table. The stream
    header (schema message) is emitted first, so empty results still
    produce a valid, schema-bearing IPC stream."""
    import datetime as _dt

    import pyarrow as pa
    from pyspark.sql import types as T
    from pyspark.sql.pandas.types import to_arrow_schema

    schema = to_arrow_schema(df.schema)
    # to_arrow_schema maps TimestampType to timestamp[us, tz=UTC], but
    # toLocalIterator materializes timestamps via fromInternal's
    # datetime.fromtimestamp — NAIVE wall time in the driver PROCESS'S OS
    # zone — and from_pylist would stamp that as UTC, shifting every value
    # by the host offset on non-UTC hosts. astimezone() on a naive datetime
    # attaches the OS-local zone (DST-aware per instant, the exact inverse
    # of fromtimestamp); the result must then be handed over as NAIVE UTC
    # wall time because pyarrow's from_pylist ignores tzinfo against a
    # tz-typed field (verified on pyarrow 16: an aware 12:30-05:00 lands as
    # 12:30Z). (TimestampNTZType stays naive by design; the catalog has no
    # nested timestamps — struct fields would need a schema walk.)
    _ts_cols = [
        f.name for f in df.schema.fields
        if type(f.dataType) is T.TimestampType
    ]

    def _localize(d: dict) -> dict:
        for c in _ts_cols:
            v = d.get(c)
            if isinstance(v, _dt.datetime) and v.tzinfo is None:
                d[c] = (
                    v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
                )
        return d

    sink = io.BytesIO()
    writer = pa.ipc.new_stream(sink, schema)

    def take():
        data = sink.getvalue()
        sink.seek(0)
        sink.truncate(0)
        return data

    rows: list[dict] = []
    for row in df.toLocalIterator():
        rows.append(_localize(row.asDict(recursive=True)))
        if len(rows) >= ARROW_BATCH_ROWS:
            writer.write_batch(pa.RecordBatch.from_pylist(rows, schema=schema))
            rows = []
            yield take()
    if rows:
        writer.write_batch(pa.RecordBatch.from_pylist(rows, schema=schema))
    writer.close()
    yield take()


def serve(db: Database, host: str = "127.0.0.1", port: int = 8081) -> None:
    create_app(db).run(host=host, port=port, threaded=True)
