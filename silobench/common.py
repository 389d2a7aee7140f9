"""Shared pieces of the benchmark: environment, statistics, spans, memory
sampling, Spark status-store readers and the result line.

Nothing here imports ``lapis_silo_spark`` at module level, so the math can
be tested without Spark.
"""

from __future__ import annotations

import json
import math
import os
import platform
import re
import statistics
import subprocess
import sys
import threading
import time
from pathlib import Path

CHECKOUT = Path(__file__).resolve().parents[1]
#: everything the benchmark writes lives under here (listed in .gitignore)
WORK = CHECKOUT / ".silobench"


def nproc() -> int:
    return len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") \
        else (os.cpu_count() or 1)


def prepare_env() -> Path:
    """Point every temporary location of Python, Spark and the JVM into
    the checkout, size Spark to the core count and make the engine package
    importable by Python workers. Returns this run's private directory."""
    WORK.mkdir(exist_ok=True)
    tmp = WORK / "tmp"  # kept across runs: holds the engine's cached UDF jar
    tmp.mkdir(exist_ok=True)
    run_dir = WORK / f"run-{os.getpid()}"
    run_dir.mkdir(exist_ok=True)
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(nproc()))
    os.environ["SPARK_LOCAL_DIRS"] = str(run_dir / "spark-local")
    os.environ["TMPDIR"] = str(tmp)
    path = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(CHECKOUT), path) if p
    )
    if str(CHECKOUT) not in sys.path:
        sys.path.insert(0, str(CHECKOUT))
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    return run_dir


def spark_conf(run_dir: Path) -> dict[str, str]:
    """Extra session settings: keep the JVM's temporary files inside the
    checkout and retain enough finished jobs in the status store for
    per-request attribution. Neither changes how a query executes."""
    return {
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={WORK / 'tmp'} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": str(run_dir / "warehouse"),
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    }


def engine_available() -> bool:
    """True when this checkout holds the engine package (the benchmark
    measures the checkout's engine, never an installed one)."""
    return (CHECKOUT / "lapis_silo_spark" / "__init__.py").is_file()


def loadavg() -> float:
    return round(os.getloadavg()[0], 2)


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the machine since boot. Steal is time a
    virtual machine's CPUs waited for the host: load this guest's loadavg
    does not show."""
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:]]
    return (ticks[7] if len(ticks) > 7 else 0), sum(ticks)


def _java_version() -> str:
    try:
        out = subprocess.run(
            ["java", "-version"], capture_output=True, text=True, timeout=30
        )
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    first = (out.stderr or out.stdout).splitlines()
    return first[0].strip() if first else "unknown"


def _git_commit() -> str:
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=CHECKOUT, capture_output=True,
            text=True, timeout=10,
        )
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    return out.stdout.strip() if out.returncode == 0 else "unknown"


def env_stamp() -> dict:
    """What every number needs next to it: cores, load, code and versions."""
    import pyarrow
    import pyspark

    return {
        "nproc": nproc(),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "loadavg_1m_start": loadavg(),
        "git_commit": _git_commit(),
        "spark": pyspark.__version__,
        "java": _java_version(),
        "pyarrow": pyarrow.__version__,
        "python": platform.python_version(),
    }


# -- statistics ---------------------------------------------------------------

def percentile(xs: list[float], q: float) -> float:
    """Linear-interpolation percentile, ``q`` in [0, 100]."""
    s = sorted(xs)
    if not s:
        raise ValueError("percentile of no samples")
    pos = (len(s) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


#: samples a tail percentile must leave above it
TAIL_BEYOND = 10


#: the highest tail percentile reported, however many samples there are
TAIL_CAP = 99.0


def tail_percentile(xs: list[float]) -> tuple[float, float]:
    """The highest percentile (at most ``TAIL_CAP``) that leaves at least
    ``TAIL_BEYOND`` samples strictly beyond its rank, and its value.

    With ``n`` sorted samples that is the rank ``n - TAIL_BEYOND - 1``,
    i.e. percentile ``100 (n - 11) / (n - 1)``; it moves smoothly with ``n``
    so run-to-run changes of the sample count do not jump between fixed
    percentiles. With too few samples there is no such percentile and the
    maximum is returned as percentile 100."""
    s = sorted(xs)
    n = len(s)
    if n <= TAIL_BEYOND + 1:
        return 100.0, s[-1]
    rank = n - TAIL_BEYOND - 1
    q = min(TAIL_CAP, 100.0 * rank / (n - 1))
    return q, percentile(s, q)


def median(xs: list[float]) -> float:
    return statistics.median(xs)


# -- spans --------------------------------------------------------------------

class Tracer:
    """In-memory spans (id, name, trace id, parent, start, end), written
    out at the end of the run. A span opened with ``span`` becomes the
    parent of spans opened inside it on the same thread."""

    def __init__(self):
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._next = 0

    def reserve(self) -> int:
        """An id for a span added later (a parent that outlives its
        children's code path)."""
        with self._lock:
            self._next += 1
            return self._next - 1

    def add(self, name: str, start: float, end: float, trace: str,
            parent: int | None = None, sid: int | None = None) -> int:
        sid = self.reserve() if sid is None else sid
        with self._lock:
            self.spans.append({"id": sid, "name": name, "trace": trace,
                               "parent": parent, "start": start, "end": end})
        return sid

    def span(self, name: str, trace: str, parent: int | None = None):
        return _Span(self, name, trace, parent)


class _Span:
    def __init__(self, tracer: Tracer, name: str, trace: str,
                 parent: int | None):
        self.tracer, self.name, self.trace = tracer, name, trace
        self.parent = parent

    def __enter__(self):
        stack = self.tracer._local.__dict__.setdefault("stack", [])
        if self.parent is None and stack:
            self.parent = stack[-1]
        self.id = self.tracer.reserve()
        stack.append(self.id)
        self.start = time.perf_counter()
        return self

    def __exit__(self, *exc):
        self.end = time.perf_counter()
        self.tracer._local.stack.pop()
        self.tracer.add(self.name, self.start, self.end, self.trace,
                        self.parent, self.id)
        return False

    @property
    def seconds(self) -> float:
        return self.end - self.start


def self_times(spans: list[dict]) -> dict[int, float]:
    """Each span's duration minus the part of its interval that its child
    spans cover (overlapping children are counted once; child time outside
    the parent's interval is ignored)."""
    children: dict[int, list[dict]] = {}
    for s in spans:
        if s.get("parent") is not None:
            children.setdefault(s["parent"], []).append(s)
    out: dict[int, float] = {}
    for s in spans:
        covered = 0.0
        cur_start = cur_end = None
        for c in sorted(children.get(s["id"], []), key=lambda c: c["start"]):
            lo, hi = max(c["start"], s["start"]), min(c["end"], s["end"])
            if hi <= lo:
                continue
            if cur_end is None or lo > cur_end:
                if cur_end is not None:
                    covered += cur_end - cur_start
                cur_start, cur_end = lo, hi
            else:
                cur_end = max(cur_end, hi)
        if cur_end is not None:
            covered += cur_end - cur_start
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


# -- memory -------------------------------------------------------------------

def _tree_rss_bytes(root: int) -> int:
    """Resident bytes of ``root`` and all its descendants (Linux /proc)."""
    parent_of: dict[int, int] = {}
    rss: dict[int, int] = {}
    page = os.sysconf("SC_PAGE_SIZE")
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        pid = int(entry)
        parent_of[pid] = int(fields[1])
        rss[pid] = int(fields[21]) * page
    total = 0
    for pid in rss:
        p = pid
        while p not in (0, 1) and p != root:
            p = parent_of.get(p, 0)
        if p == root:
            total += rss[pid]
    return total


#: seconds between two samples of the process tree's resident memory
RSS_INTERVAL = 0.25


class RssSampler:
    """Peak resident memory of this process tree, sampled in a thread."""

    def __init__(self):
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        root = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, _tree_rss_bytes(root))
            self._stop.wait(RSS_INTERVAL)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak = max(self.peak, _tree_rss_bytes(os.getpid()))
        return False

    @property
    def peak_mb(self) -> float:
        return self.peak / (1024 * 1024)


# -- Spark status store and plans ----------------------------------------------

_JOIN_NODES = ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin",
               "BroadcastNestedLoopJoin", "CartesianProduct")
_PYTHON_NODES = ("ArrowEvalPython", "BatchEvalPython", "MapInPandas",
                 "MapInArrow", "FlatMapGroupsInPandas",
                 "FlatMapCoGroupsInPandas", "AggregateInPandas",
                 "WindowInPandas", "FlatMapGroupsInArrow",
                 "FlatMapCoGroupsInArrow", "ArrowEvalPythonUDTF",
                 "BatchEvalPythonUDTF")


def plan_counts(df) -> dict[str, int]:
    """Exact operator counts of ``df``'s physical plan (before adaptive
    re-planning): joins, exchanges (shuffle and broadcast) and Python
    boundary nodes."""
    text = df._jdf.queryExecution().executedPlan().toString()
    nodes = re.findall(r"(?:^|[\s+:-])([A-Z][A-Za-z]+)(?=[\s(\[]|$)", text,
                       re.MULTILINE)
    return {
        "joins": sum(n in _JOIN_NODES for n in nodes),
        "exchanges": sum(n.endswith("Exchange") for n in nodes),
        "python_nodes": sum(n in _PYTHON_NODES for n in nodes),
    }


class StatusStore:
    """Reads Spark's in-process status store (works with the UI off)."""

    FIELDS = ("jobs", "tasks", "executor_run_ms", "shuffle_bytes",
              "spill_bytes", "input_rows")

    def __init__(self, spark):
        sc = spark.sparkContext
        self._tracker = sc.statusTracker()
        self._store = sc._jsc.sc().statusStore()
        self._conv = spark._jvm.scala.jdk.javaapi.CollectionConverters

    def job_ids(self, group: str) -> list[int]:
        return list(self._tracker.getJobIdsForGroup(group))

    def persisted_mb(self) -> float:
        """Memory and disk held by persisted RDDs and cached frames."""
        infos = self._conv.asJava(self._store.rddList(True))
        return sum(i.memoryUsed() + i.diskUsed() for i in infos) / 2**20

    def totals(self, job_ids: list[int]) -> dict[str, float]:
        from py4j.protocol import Py4JJavaError

        out = dict.fromkeys(self.FIELDS, 0)
        out["jobs"] = len(job_ids)
        seen: set[int] = set()
        for jid in job_ids:
            try:
                job = self._store.job(jid)
            except Py4JJavaError:  # evicted from the store
                continue
            for sid in self._conv.asJava(job.stageIds()):
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    st = self._store.lastStageAttempt(sid)
                except Py4JJavaError:  # a skipped stage never ran
                    continue
                out["tasks"] += st.numCompleteTasks()
                out["executor_run_ms"] += st.executorRunTime()
                out["shuffle_bytes"] += st.shuffleWriteBytes()
                out["spill_bytes"] += st.diskBytesSpilled()
                out["input_rows"] += st.inputRecords()
        return out


def stop_spark() -> None:
    """Stop the active Spark session, if any, then close the JVM's stdin
    (it exits on EOF) and wait for it to end."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if proc is None:
        return
    try:
        gateway.shutdown()
    finally:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


# -- result line ----------------------------------------------------------------

def emit(details: dict, correct: bool, attempted: int, failed: int,
         metrics: dict[str, tuple[float, str]]) -> None:
    """Print the details line, then the result object as the last line."""
    print(json.dumps(details, default=str), flush=True)
    print(json.dumps({
        "correct": bool(correct),
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }), flush=True)
