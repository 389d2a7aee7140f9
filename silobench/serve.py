"""``lapis_serve``: a closed loop of ``nproc / 2`` dashboard clients
sending light queries to ``cli api``, which serves a generated genome store
that ``cli preprocessing`` built just before, in the same launcher process.
The traced run also checks the heavy classes, one ``mutations`` and one
``export`` query after the measured window, and then runs ``cli append`` in
a process of its own."""

from __future__ import annotations

import http.client
import json
import os
import signal
import socket
import subprocess
import sys
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

import numpy as np

from silobench.common import (
    CHECKOUT, RssSampler, median, nproc, tail_percentile,
)
from silobench.genomes import generate
from silobench.serve_queries import LIGHT, LIGHT_PAGE, QueryPools

GENOMES = 2_500
#: genomes of the batch the traced run appends after the measured window
APPENDED = 100
CLI_TIMEOUT_S = 150
#: seconds the clients' loop runs before the measured window opens, so the
#: window starts with the server's code already compiled
LOOP_WARM_S = 3
#: closed-loop clients: at 4 cores, 2 clients got as many answers per
#: second as 4, at half the latency (with 4, queries queued)
CLIENTS = max(1, nproc() // 2)
LAUNCHER = CHECKOUT / "silobench" / "launcher.py"


def _free_port() -> int:
    with socket.socket() as s:
        s.bind(("127.0.0.1", 0))
        return s.getsockname()[1]


def _request(port: int, method: str, path: str, body: bytes | None = None,
             rid: str | None = None, timeout: float = 130):
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=timeout)
    try:
        headers = {"X-Request-Id": rid} if rid else {}
        conn.request(method, path, body=body, headers=headers)
        resp = conn.getresponse()
        data = resp.read()
        return resp.status, data
    finally:
        conn.close()


class Launcher:
    """``cli`` commands in a launcher subprocess, in its own process group
    (the JVM and the Python workers share it)."""

    def __init__(self, run_dir: Path, name: str, commands: list[list[str]],
                 spans: Path | None):
        self.name = name
        self.log_path = run_dir / f"{name}.log"
        self.phases_path = run_dir / f"{name}.phases.json"
        self.log = open(self.log_path, "wb")
        cmd = [sys.executable, str(LAUNCHER), "--run-dir", str(run_dir),
               "--phases", str(self.phases_path)]
        if spans is not None:
            cmd += ["--spans", str(spans / f"{name}.json")]
        for command in commands:
            cmd += ["--", *command]
        self.started = time.perf_counter()
        self.proc = subprocess.Popen(cmd, stdout=self.log,
                                     stderr=subprocess.STDOUT,
                                     start_new_session=True)

    def phases(self) -> dict[str, list[float]]:
        """[start, end] of each command that has ended."""
        return json.loads(self.phases_path.read_text())

    def finish(self) -> float:
        """Waits for the commands to end; returns the process's wall
        seconds."""
        try:
            code = self.proc.wait(timeout=CLI_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            code = None
        wall = time.perf_counter() - self.started
        self.stop()
        if code != 0:
            raise RuntimeError(f"{self.name} failed ({code}):\n{self._tail()}")
        return wall

    def _tail(self) -> str:
        """The end of the commands' output (the run directory, which holds
        the log, is removed when the run ends)."""
        return self.log_path.read_bytes()[-3000:].decode(errors="replace")

    def wait_ready(self, port: int) -> float:
        """Blocks until ``/health`` answers; returns the seconds since the
        process started."""
        deadline = self.started + CLI_TIMEOUT_S
        while time.perf_counter() < deadline:
            if self.proc.poll() is not None:
                raise RuntimeError(f"{self.name} exited during set-up:\n"
                                   f"{self._tail()}")
            try:
                status, _ = _request(port, "GET", "/health", timeout=5)
                if status == 200:
                    return time.perf_counter() - self.started
            except OSError:
                pass
            time.sleep(0.1)
        raise RuntimeError("server not ready in time")

    def stop(self) -> None:
        if self.proc.poll() is None:
            self.proc.send_signal(signal.SIGTERM)
            try:
                self.proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                pass
        try:
            os.killpg(self.proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        self.proc.wait()
        self.log.close()


def _set_up(run_dir: Path, inputs: Path, port: int,
            spans: Path | None) -> tuple[Launcher, dict]:
    """``cli preprocessing``, then ``cli api`` serving the new store, in
    one launcher process. Returns the running api and the seconds from the
    process's start to the end of preprocessing and from there to the
    first answer of ``/health``."""
    root = str(run_dir / "store")
    server = Launcher(run_dir, "serve", [[
        "preprocessing",
        "--config", str(inputs / "database_config.yaml"),
        "--input", str(inputs / "data.ndjson"),
        "--output", root,
        "--reference-genomes", str(inputs / "reference_genomes.json"),
        "--lineage-definition", str(inputs / "lineage_definitions.yaml"),
        "--lineage-column", "pango_lineage",
    ], ["api", "--root", root, "--port", str(port)]], spans)
    try:
        ready = server.wait_ready(port)
        preprocess_s = server.phases()["preprocessing"][1] - server.started
    except BaseException:
        server.stop()
        raise
    return server, {"preprocess_s": preprocess_s,
                    "api_ready_s": ready - preprocess_s}


def _append(run_dir: Path, inputs: Path, spans: Path | None) -> float:
    """``cli append`` of ``batch.ndjson`` onto the store, in a process of
    its own; returns its wall seconds."""
    return Launcher(run_dir, "append", [[
        "append",
        "--config", str(inputs / "database_config.yaml"),
        "--input", str(inputs / "batch.ndjson"),
        "--root", str(run_dir / "store"),
        "--reference-genomes", str(inputs / "reference_genomes.json"),
    ]], spans).finish()


def _rows(body: bytes) -> list[dict]:
    return [json.loads(line) for line in body.splitlines() if line.strip()]


def _ask(port, q, rid=None) -> dict:
    t0 = time.perf_counter()
    try:
        status, body = _request(port, "POST", "/query", q.text.encode(), rid)
        ok = status == 200 and q.check(_rows(body))
    except (OSError, ValueError, KeyError, http.client.HTTPException):
        ok, body = False, b""
    t1 = time.perf_counter()
    return {"klass": q.klass, "text": q.text, "rid": rid, "start": t0,
            "end": t1, "ms": (t1 - t0) * 1000, "ok": ok,
            "rows": body.count(b"\n")}


def _client(port, pools, rng, tid, stop_at, out, lock):
    """Closed loop: the next query goes out when the previous answer is in,
    until ``stop_at``."""
    queries = pools.stream(rng)
    k = 0
    while time.perf_counter() < stop_at:
        record = _ask(port, next(queries), f"c{tid}-{k}")
        k += 1
        with lock:
            out.append(record)


def run(seed: int, seconds: int, trace: bool, run_dir: Path) -> dict:
    g = generate(seed, GENOMES + APPENDED)
    inputs = run_dir / "inputs"
    paths = g.write_inputs(inputs, range(GENOMES))
    input_bytes = paths["input"].stat().st_size
    pools = QueryPools(g.head(GENOMES), seed)
    rng = np.random.default_rng([seed, 11])
    spans_dir = run_dir / "spans" if trace else None
    if spans_dir:
        spans_dir.mkdir()
    port = _free_port()
    with RssSampler() as rss:
        server, walls = _set_up(run_dir, inputs, port, spans_dir)
        try:
            setup_s = sum(walls.values())
            # untimed, in parallel: first-use costs of the light classes
            warm = [pools.pools[c][int(rng.integers(0, len(pools.pools[c])))]
                    for c in pools.classes() if c in LIGHT]
            with ThreadPoolExecutor(len(warm)) as ex:
                warm_records = list(ex.map(lambda q: _ask(port, q), warm))

            out: list[dict] = []
            lock = threading.Lock()
            clients = CLIENTS
            t0 = time.perf_counter() + LOOP_WARM_S
            stop_at = t0 + seconds
            threads = [
                threading.Thread(target=_client, args=(
                    port, pools, np.random.default_rng([seed, tid]),
                    tid, stop_at, out, lock))
                for tid in range(clients)
            ]
            for t in threads:
                t.start()
            for t in threads:
                t.join()
            wall = time.perf_counter() - t0
            # answers that went out before the window count as warm-up
            warm_records += [r for r in out if r["start"] < t0]
            out = [r for r in out if r["start"] >= t0]
            heavy, trace_data = [], None
            if trace:  # one of each heavy class, one after the other
                heavy = [_ask(port, pool[int(rng.integers(0, len(pool)))])
                         for c, pool in pools.pools.items()
                         if c not in LIGHT]
                _, body = _request(port, "GET", "/__silobench/trace")
                trace_data = json.loads(body)
        finally:
            server.stop()  # the api writes its spans as it stops
        if trace:
            (inputs / "batch.ndjson").write_bytes(
                g.ndjson_bytes(range(GENOMES, GENOMES + APPENDED)))
            append_s = _append(run_dir, inputs, spans_dir)

    light = [r["ms"] for r in out]
    light_wall = max(r["end"] for r in out) - t0
    by_class = {}
    for r in out:
        by_class.setdefault(r["klass"], []).append(r["ms"])
    tail_q, tail = tail_percentile(light)
    # the class medians weighted by the classes' slots in a page: the
    # median of all light queries falls between two classes' modes and
    # jumps from one to the other between runs
    slots = sum(LIGHT_PAGE[c] for c in by_class)
    p50 = sum(LIGHT_PAGE[c] * median(v) for c, v in by_class.items()) / slots
    seen: set[str] = set()
    repeats = 0
    for r in out:
        repeats += r["text"] in seen
        seen.add(r["text"])
    attempted = warm_records + out + heavy
    wrong = [r for r in attempted if not r["ok"]]
    details = {
        "clients": clients, "closed_loop": True,
        "genomes": GENOMES, "input_bytes": input_bytes,
        "queries": len(out), "measured_s": wall,
        "repeat_share": repeats / max(1, len(out)),
        "light_p50_ms": median(light), "light_tail_percentile": tail_q,
        "per_class": {
            c: dict(zip(("n", "p50_ms", "tail_percentile", "tail_ms"),
                        (len(v), median(v), *tail_percentile(v))))
            for c, v in sorted(by_class.items())
        },
        "heavy_ms": {r["klass"]: r["ms"] for r in heavy},
        "failed_queries": [r["text"] for r in wrong[:5]],
        **walls,
        "preprocess_records_per_s": GENOMES / walls["preprocess_s"],
        "peak_rss_mb": rss.peak_mb,
    }
    if trace:
        details["append_s"] = append_s
    result = {
        "details": details,
        "attempted": len(attempted),
        "failed": len(wrong),
        "metrics": {
            "setup_s": (setup_s, "s"),
            "op_p50_ms": (p50, "ms"),
            "op_tail_ms": (tail, "ms"),
            "ops_per_s": (len(light) / light_wall, "1/s"),
        },
    }
    if trace:
        result["layers"] = _layers(trace_data, _spans(spans_dir), out, run_dir)
    return result


def _spans(spans_dir: Path) -> list[dict]:
    """The spans of every launcher process, with ids made unique across
    processes and the process named."""
    out: list[dict] = []
    for f in sorted(spans_dir.iterdir()):
        spans = json.loads(f.read_text())
        offset = len(out) and max(s["id"] for s in out) + 1
        for s in spans:
            s["id"] += offset
            if s["parent"] is not None:
                s["parent"] += offset
            s["process"] = f.stem
        out += spans
    return out


def _dir_bytes(d: Path) -> int:
    return sum(p.stat().st_size for p in d.rglob("*") if p.is_file())


def _layers(data: dict, spans: list[dict], out: list[dict],
            run_dir: Path) -> dict:
    """Per-layer metrics from the launchers' spans and request records."""
    import pyarrow.dataset as ds

    reqs = {r["rid"]: r for r in data["requests"]}
    recs = [reqs[r["rid"]] for r in out if r["rid"] in reqs]
    n = max(1, len(recs))
    result_rows = sum(r["rows"] for r in out if r["rid"] in reqs)

    def total(key):
        return sum(r["spark"][key] for r in recs)

    plans = [r["plan"] for r in recs if r.get("plan")]
    store_dir = run_dir / "store"
    files = [p for p in store_dir.rglob("*") if p.is_file()]
    # versions/<preprocessed>, versions/<appended>: append rewrites all
    base, appended = sorted((store_dir / "versions").iterdir())
    base_bytes, appended_bytes = _dir_bytes(base), _dir_bytes(appended)
    side_rows = sum(
        ds.dataset(base / "seq" / "default" / side).count_rows()
        for side in ("mutations", "coverage", "missing", "insertions"))
    input_bytes = (run_dir / "inputs" / "data.ndjson").stat().st_size

    def span_s(name, command):
        """Seconds of the one span ``name`` of the ``cli`` command."""
        return next(s["end"] - s["start"] for s in spans
                    if s["name"] == name and s["trace"] == command)

    bind = [r["bind_ms"] for r in recs]
    ttfb = [r["ttfb_ms"] for r in recs]
    transfer = [r["transfer_ms"] for r in recs]
    return {
        "spans": spans,
        "metrics": {
            # the process's first session, which launches the JVM
            "session.start_s": (span_s("session.get_spark", "preprocessing"),
                                "s"),
            "build.ms_per_op": (sum(bind) / n, "ms"),
            "build.jobs_per_op": (sum(r["bind_jobs"] for r in recs) / n,
                                  "count"),
            "execute.ms_per_op": (
                sum(t - b for t, b in zip(ttfb, bind)) / n, "ms"),
            "transfer.ms_per_op": (sum(transfer) / n, "ms"),
            "spark.jobs_per_op": (total("jobs") / n, "count"),
            "spark.tasks_per_op": (total("tasks") / n, "count"),
            "spark.executor_run_ms_per_op": (total("executor_run_ms") / n,
                                             "ms"),
            "spark.shuffle_bytes_per_op": (total("shuffle_bytes") / n,
                                           "bytes"),
            "spark.spill_bytes_per_op": (total("spill_bytes") / n, "bytes"),
            "spark.scan_rows_per_result_row": (
                total("input_rows") / max(1, result_rows), "ratio"),
            "plan.joins_per_op": (
                sum(p["joins"] for p in plans) / max(1, len(plans)), "count"),
            "plan.exchanges_per_op": (
                sum(p["exchanges"] for p in plans) / max(1, len(plans)),
                "count"),
            "plan.python_nodes_per_op": (
                sum(p["python_nodes"] for p in plans) / max(1, len(plans)),
                "count"),
            "storage.bytes_written": (
                sum(p.stat().st_size for p in files), "bytes"),
            "storage.files_written": (len(files), "count"),
            "cache.persisted_mb_after": (data["persisted_mb"], "MB"),
            "server.bytes_per_query": (sum(r["bytes"] for r in recs) / n,
                                       "bytes"),
        },
        "named": {
            "saneql.bind_ms_p50": median(bind) if bind else None,
            "saneql.bind_ms_total": sum(bind),
            "server.ttfb_ms_p50": median(ttfb) if ttfb else None,
            "server.transfer_ms_p50": median(transfer) if transfer else None,
            "session.start_s_api": span_s("session.get_spark", "api"),
            "storage.save_s": span_s("storage.save_version", "preprocessing"),
            "storage.load_s": span_s("storage.load_version", "api"),
            "storage.append_save_s": span_s("storage.append_version",
                                            "append"),
            "sources.ingest_call_s": span_s("sources.ingest_ndjson",
                                            "preprocessing"),
            "sources.side_rows_per_record": side_rows / GENOMES,
            "storage.append_write_amplification":
                appended_bytes / max(1, appended_bytes - base_bytes),
            "stored_bytes_per_input_byte": base_bytes / input_bytes,
            "requests_traced": len(recs),
        },
    }
