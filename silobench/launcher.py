"""Runs ``lapis_silo_spark.cli`` commands the way a maintainer's script
runs them, one after the other in one process, with the benchmark's
temp-directory settings.

Run by ``serve.py`` as a subprocess::

    python3 silobench/launcher.py --run-dir DIR --phases FILE [--spans FILE] \
        -- preprocessing --config ... --output ... -- api --root ... --port ...

Each command gets a Spark context of its own: the launcher stops the
previous command's context before the next command starts, so ``cli api``
builds its session with its own FAIR scheduling and holds none of the
caches an ingest left behind. The JVM stays up between commands. When a
command ends, its start and end (``time.perf_counter``, the machine's
monotonic clock) are written to ``--phases``.

The engine is only wrapped from outside: ``session.get_spark`` gets the
settings of ``common.spark_conf`` on top of whatever the command asks for,
and with ``--spans`` the session start, the SaneQL binder, the ingest and
storage calls and the Flask app are timed at their boundaries (a set-up
span's ``trace`` is the command's name). The spans are written to
``--spans`` when the process ends (``cli api`` ends on SIGTERM); traced
request records are served at ``GET /__silobench/trace`` while the api
runs.
"""

from __future__ import annotations

import argparse
import json
import signal
import sys
import threading
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from silobench.common import (  # noqa: E402
    StatusStore, Tracer, plan_counts, spark_conf, stop_spark,
)


class _TracedBody:
    """Response iterable that times the transfer and counts bytes."""

    def __init__(self, body, on_close):
        self._body = body
        self._it = iter(body)
        self._on_close = on_close
        self.bytes = 0

    def __iter__(self):
        return self

    def __next__(self):
        chunk = next(self._it)
        self.bytes += len(chunk)
        return chunk

    def close(self):
        try:
            if hasattr(self._body, "close"):
                self._body.close()
        finally:
            self._on_close(self)


class Instruments:
    """Wraps the engine's entry points for the traced run."""

    def __init__(self, tracer: Tracer):
        self.tracer = tracer
        #: the running command; names the set-up spans' trace
        self.command = "setup"
        self.local = threading.local()
        self.requests: list[dict] = []
        self.spark = None
        self.lock = threading.Lock()

    def install(self) -> None:
        import lapis_silo_spark.saneql as saneql
        import lapis_silo_spark.server as server
        import lapis_silo_spark.session as session
        import lapis_silo_spark.sources.ndjson as ndjson
        import lapis_silo_spark.storage as storage

        bind_query = saneql.bind_query

        def traced_bind(db, text):
            rid = getattr(self.local, "rid", None) or "setup"
            sc = db.spark.sparkContext
            sc.setJobGroup(f"bind-{rid}", "bind", interruptOnCancel=False)
            with self.tracer.span("saneql.bind", rid) as s:
                pipeline = bind_query(db, text)
            self.local.bind_s = s.seconds
            self.local.plan = plan_counts(pipeline.df)
            return pipeline

        saneql.bind_query = traced_bind

        for mod, name, span in (
            (session, "get_spark", "session.get_spark"),
            (ndjson, "ingest_ndjson", "sources.ingest_ndjson"),
            (storage, "save_version", "storage.save_version"),
            (storage, "load_version", "storage.load_version"),
            (storage, "append_version", "storage.append_version"),
        ):
            setattr(mod, name, self._timed(getattr(mod, name), span))

        create_app = server.create_app

        def traced_create_app(db, *args, **kwargs):
            app = create_app(db, *args, **kwargs)
            self.spark = db.spark
            inner = app.wsgi_app
            app.wsgi_app = lambda environ, sr: self._wsgi(inner, environ, sr)
            app.add_url_rule("/__silobench/trace", "silobench_trace",
                             self._trace_endpoint)
            return app

        server.create_app = traced_create_app

    def _timed(self, fn, span):
        def wrapper(*args, **kwargs):
            with self.tracer.span(span, self.command):
                return fn(*args, **kwargs)
        return wrapper

    def _wsgi(self, inner, environ, start_response):
        rid = environ.get("HTTP_X_REQUEST_ID")
        if environ.get("PATH_INFO") != "/query" or not rid:
            return inner(environ, start_response)
        self.local.rid, self.local.bind_s, self.local.plan = rid, 0.0, None
        root = self.tracer.reserve()
        with self.tracer.span("server.first_chunk", rid, parent=root) as s:
            body = inner(environ, start_response)  # bind nests in here
        t0, t1 = s.start, s.end
        bind_s, plan = self.local.bind_s, self.local.plan
        self.local.rid = None

        def on_close(traced):
            t2 = time.perf_counter()
            self.tracer.add("server.request", t0, t2, rid, sid=root)
            self.tracer.add("server.transfer", t1, t2, rid, parent=root)
            with self.lock:
                self.requests.append({
                    "rid": rid, "bind_ms": bind_s * 1000,
                    "ttfb_ms": (t1 - t0) * 1000,
                    "transfer_ms": (t2 - t1) * 1000,
                    "bytes": traced.bytes, "plan": plan,
                })
        return _TracedBody(body, on_close)

    def _trace_endpoint(self):
        from flask import Response

        status = StatusStore(self.spark)
        with self.lock:
            records = list(self.requests)
        for r in records:
            r["spark"] = status.totals(
                status.job_ids(f"http-query-{r['rid']}")
                + status.job_ids(f"bind-{r['rid']}")
            )
            r["bind_jobs"] = len(status.job_ids(f"bind-{r['rid']}"))
        return Response(json.dumps({
            "requests": records, "persisted_mb": status.persisted_mb(),
        }), content_type="application/json")


def _commands(argv: list[str]) -> list[list[str]]:
    """The ``cli`` commands after the first ``--``, split at each ``--``."""
    out: list[list[str]] = []
    for arg in argv:
        if arg == "--":
            out.append([])
        else:
            out[-1].append(arg)
    return [c for c in out if c]


def _stop_context() -> None:
    """Stop the Spark context, keeping the JVM for the next command."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--run-dir", required=True)
    ap.add_argument("--phases", required=True)
    ap.add_argument("--spans")
    own = sys.argv[1:sys.argv.index("--")]
    args = ap.parse_args(own)
    commands = _commands(sys.argv[1 + len(own):])
    # the parent already pointed TMPDIR, SPARK_LOCAL_DIRS and PYTHONPATH
    # into --run-dir

    from lapis_silo_spark import cli, session

    get_spark = session.get_spark

    def configured_get_spark(*a, extra_conf=None, **kw):
        conf = {**spark_conf(Path(args.run_dir)), **(extra_conf or {})}
        return get_spark(*a, extra_conf=conf, **kw)

    session.get_spark = configured_get_spark
    tracer = Tracer()
    instruments = Instruments(tracer)
    if args.spans:
        instruments.install()

    def stop(_signum, _frame):
        raise SystemExit(0)

    signal.signal(signal.SIGTERM, stop)
    phases: dict[str, list[float]] = {}
    try:
        for k, command in enumerate(commands):
            if k:
                _stop_context()
            instruments.command = command[0]
            start = time.perf_counter()
            code = cli.main(command)
            phases[command[0]] = [start, time.perf_counter()]
            Path(args.phases).write_text(json.dumps(phases))
            if code:
                return code
        return 0
    finally:
        if args.spans:
            Path(args.spans).write_text(json.dumps(tracer.spans))
        stop_spark()


if __name__ == "__main__":
    sys.exit(main())
