"""``registry_headline``: half of the 72 headline rows of the query
registry (every second pinned row) over fixed generated tables, run as two
concurrent streams in a fixed order, each result checked against its
pinned order-insensitive hash. All 72 rows took about 60 s a pass on 4
cores, which the run budget cannot hold next to ``lapis_serve``. The seed
changes nothing here: with the rows in a seeded order, the row-wall tail
moved 20-28% between seeds, because which rows ran side by side, and
which paid the fresh JVM's first-use costs, moved with the order; in a
fixed order it moved 4%.

Re-pin the hashes (after an intended result change) with::

    python3 silobench/registry.py --pin

which runs every row at 2, 4 and 8 Spark cores, compares each row with its
DuckDB oracle where the registry has one, and rewrites
``registry_rows.json``.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import math
import os
import shutil
import subprocess
import sys
import threading
import time
from decimal import Decimal
from pathlib import Path

import numpy as np

if __name__ == "__main__":
    sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from silobench.common import (  # noqa: E402
    WORK, RssSampler, StatusStore, median, plan_counts, prepare_env, spark_conf,
    stop_spark, tail_percentile,
)
from silobench import tables  # noqa: E402

ROWS_FILE = Path(__file__).with_name("registry_rows.json")
FAMILIES = ("relational", "text", "dedup", "vector", "pipeline")
SETUP_REPS = 3
#: concurrent row streams (a batch scheduler running two pipelines); the
#: pinned rows are dealt round-robin to the streams
STREAMS = 2
#: a row is flagged when build + execute + transfer strays further than
#: this share from its untraced wall
SPLIT_TOLERANCE = 0.10


def family(name: str) -> str:
    """The family a registry row belongs to, by name."""
    if name.startswith("pipeline_curation_"):
        return "pipeline"
    if name.startswith(("dedup_embedding_", "ann_", "cluster_", "semdedup_")):
        return "vector"
    if name.startswith(("dedup_", "decontam_")):
        return "dedup"
    if name.startswith(("text_", "tokenizer_", "sample_", "sketch_", "pack_",
                        "quality_")):
        return "text"
    return "relational"


def load_rows() -> list[dict]:
    return json.loads(ROWS_FILE.read_text())["rows"]


def measured_rows() -> list[dict]:
    """The rows a run measures: every second pinned row, so each family
    keeps about half of its rows."""
    return load_rows()[::2]


# -- result hashing -------------------------------------------------------------

def canon(v) -> str:
    """Type-blind canonical text of a result value: every number as a
    6-significant-digit float, lists as sorted multisets."""
    if v is None:
        return "null"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, (int, float, Decimal, np.integer, np.floating)):
        f = float(v)
        if math.isnan(f):
            return "nan"
        return "0" if f == 0 else format(f, ".6g")
    if isinstance(v, (dt.datetime, dt.date)):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    if isinstance(v, dict):
        return "{" + ",".join(f"{canon(k)}:{canon(x)}"
                              for k, x in sorted(v.items())) + "}"
    if isinstance(v, tuple):  # a Row or a DuckDB record: order matters
        return "(" + ",".join(canon(x) for x in v) + ")"
    if isinstance(v, (list, np.ndarray)):
        return "[" + ",".join(sorted(canon(x) for x in v)) + "]"
    return repr(str(v))


def result_hash(rows) -> str:
    lines = sorted(canon(tuple(r)) for r in rows)
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()[:16]


# -- the workload ---------------------------------------------------------------

def _setup(spark, run_dir: Path) -> tuple[str, list[float]]:
    """Writes the tables, then registers them ``SETUP_REPS`` times under
    distinct directories (hard links), timing each registration."""
    from lapis_silo_spark.driver_queries import db_for

    src = tables.write(run_dir / "tables")
    reps = []
    for k in range(SETUP_REPS):
        d = run_dir / f"sf_{k}"
        d.mkdir()
        for f in src.iterdir():
            os.link(f, d / f.name)
        t = time.perf_counter()
        db_for(spark, str(d))
        reps.append(time.perf_counter() - t)
    return str(d), reps


def _run_row(spark, status, name: str, fn, sf_dir: str):
    t = time.perf_counter()
    rows = fn(spark, sf_dir).collect()
    return {"wall": time.perf_counter() - t, "rows": rows}


def _check(row: dict, rows: list) -> str | None:
    if row["hash"] is not None and result_hash(rows) != row["hash"]:
        return "result hash differs from the pinned hash"
    if row["hash"] is None and row["result_rows"] is not None \
            and len(rows) != row["result_rows"]:
        return "row count differs from the pinned count"
    return None


def _traced_row(spark, status: StatusStore, name: str, fn, sf_dir: str):
    """One execution of the row, split where ``DataFrame.collect`` splits:
    build (the row function, with its eager probe jobs), execute (the JVM
    runs the plan and gathers the result) and transfer (Python reads and
    unpickles the rows)."""
    from pyspark.serializers import BatchedSerializer, CPickleSerializer
    from pyspark.util import _load_from_socket

    sc = spark.sparkContext
    sc.setJobGroup(f"row-{name}-build", name)
    t0 = time.perf_counter()
    df = fn(spark, sf_dir)
    t1 = time.perf_counter()
    plan = plan_counts(df)
    sc.setJobGroup(f"row-{name}-execute", name)
    t2 = time.perf_counter()
    sock_info = df._jdf.collectToPython()
    t3 = time.perf_counter()
    rows = list(_load_from_socket(
        sock_info, BatchedSerializer(CPickleSerializer())))
    t4 = time.perf_counter()
    sc.setJobGroup(f"row-{name}-idle", "")
    build_jobs = status.job_ids(f"row-{name}-build")
    return {
        "wall": t4 - t0, "rows": rows,
        "build_s": t1 - t0, "execute_s": t3 - t2, "transfer_s": t4 - t3,
        "build_jobs": len(build_jobs), "plan": plan,
        "spark": status.totals(
            build_jobs + status.job_ids(f"row-{name}-execute")),
        "result_rows": len(rows), "marks": (t0, t1, t2, t3, t4),
    }


def run(seed: int, seconds: float, trace: bool, run_dir: Path) -> dict:
    from lapis_silo_spark.driver_queries import QUERIES
    from lapis_silo_spark.session import get_spark

    pinned = measured_rows()
    with RssSampler() as rss:
        t = time.perf_counter()
        spark = get_spark(extra_conf=spark_conf(run_dir))
        session_s = time.perf_counter() - t
        sf_dir, reps = _setup(spark, run_dir)
        status = StatusStore(spark) if trace else None

        measure = _traced_row if trace else _run_row
        walls: dict[str, list[float]] = {}
        traced: dict[str, dict] = {}
        errors: dict[str, str] = {}
        lock = threading.Lock()

        def stream(rows) -> None:
            for row in rows:
                name = row["name"]
                try:
                    rec = measure(spark, status, name, QUERIES[name], sf_dir)
                    problem = _check(row, rec.pop("rows"))
                except Exception as exc:  # noqa: BLE001 — counted, reported
                    rec, problem = None, f"{type(exc).__name__}: {exc}"[:300]
                with lock:
                    if problem:
                        errors[name] = problem
                    if rec is not None:
                        walls.setdefault(name, []).append(rec["wall"])
                        traced.setdefault(name, rec)

        passes = 0
        started = time.perf_counter()
        while True:  # whole passes until the run's seconds are used
            threads = [threading.Thread(target=stream,
                                        args=(pinned[k::STREAMS],))
                       for k in range(STREAMS)]
            for t in threads:
                t.start()
            for t in threads:
                t.join()
            passes += 1
            if time.perf_counter() - started >= seconds:
                break
        pass_wall = (time.perf_counter() - started) / passes
        attempted = passes * len(pinned)
        cached_mb = status.persisted_mb() if trace else 0.0
        stop_spark()

    per_row = {n: median(w) for n, w in walls.items()}
    fam = {f: sum(s for n, s in per_row.items() if family(n) == f)
           for f in FAMILIES}
    total = sum(per_row.values())
    tail_q, tail = tail_percentile([s * 1000 for s in per_row.values()])
    details = {
        "rows": len(pinned), "passes": passes, "streams": STREAMS,
        "pass_wall_s": pass_wall,
        "scale_of_sf0.1": tables.SCALE, "headline_total_s": total,
        "family_s": fam, "row_tail_percentile": tail_q,
        "session_start_s": session_s, "register_s": reps,
        "errors": errors, "peak_rss_mb": rss.peak_mb, "row_s": per_row,
    }
    result = {
        "details": details,
        "attempted": attempted,
        "failed": len(errors),
        "metrics": {
            "setup_s": (session_s + median(reps), "s"),
            "op_p50_ms": (median(list(per_row.values())) * 1000, "ms"),
            "op_tail_ms": (tail, "ms"),
            "ops_per_s": (len(per_row) / pass_wall, "1/s"),
        },
    }
    walls_file = WORK / f"registry-untraced-walls-{seed}.json"
    if not trace:
        walls_file.write_text(json.dumps(per_row))
        return result
    # split against an untraced run of the same seed in this checkout: the
    # fixed order runs the same rows side by side, and both runs are fresh
    # processes, so both passes start cold
    try:
        untraced = json.loads(walls_file.read_text())
    except (OSError, ValueError):
        untraced = {}
    result["layers"] = _layers(traced, session_s, cached_mb)
    shared = [n for n in per_row if n in untraced]
    result["layers"]["named"]["split_outliers"] = (
        split_outliers({n: traced[n] for n in shared}, untraced)
        if shared else None)
    return result


def split_outliers(traced: dict[str, dict],
                   walls: dict[str, float]) -> list[str]:
    """Rows whose build + execute + transfer is not within
    ``SPLIT_TOLERANCE`` of their untraced wall."""
    out = []
    for name, r in traced.items():
        parts = r["build_s"] + r["execute_s"] + r["transfer_s"]
        if abs(parts - walls[name]) > SPLIT_TOLERANCE * walls[name]:
            out.append(name)
    return sorted(out)


def _layers(traced: dict[str, dict], session_s: float,
            cached_mb: float) -> dict:
    spans = []
    for i, (name, r) in enumerate(sorted(traced.items())):
        t0, t1, t2, t3, t4 = r["marks"]
        root = 4 * i
        spans.append({"id": root, "name": "registry.row", "trace": name,
                      "parent": None, "start": t0, "end": t4,
                      "family": family(name)})
        for k, (label, a, b) in enumerate((("build", t0, t1),
                                           ("execute", t2, t3),
                                           ("transfer", t3, t4))):
            spans.append({"id": root + k + 1, "name": f"registry.{label}",
                          "trace": name, "parent": root, "start": a,
                          "end": b})
    n = max(1, len(traced))

    def mean(f):
        return sum(f(r) for r in traced.values()) / n

    families = {}
    for fam in FAMILIES:
        rs = [r for name, r in traced.items() if family(name) == fam]
        families[fam] = {
            "build_s": sum(r["build_s"] for r in rs),
            "build_jobs": sum(r["build_jobs"] for r in rs),
            "execute_s": sum(r["execute_s"] for r in rs),
            "transfer_s": sum(r["transfer_s"] for r in rs),
            "jobs": sum(r["spark"]["jobs"] for r in rs),
            "exchanges": sum(r["plan"]["exchanges"] for r in rs),
            "python_nodes": sum(r["plan"]["python_nodes"] for r in rs),
            "shuffle_bytes": sum(r["spark"]["shuffle_bytes"] for r in rs),
            "spill_bytes": sum(r["spark"]["spill_bytes"] for r in rs),
            "executor_run_s": sum(r["spark"]["executor_run_ms"]
                                  for r in rs) / 1000,
        }
    result_rows = sum(r["result_rows"] for r in traced.values())
    return {
        "spans": spans,
        "metrics": {
            "session.start_s": (session_s, "s"),
            "build.ms_per_op": (mean(lambda r: r["build_s"]) * 1000, "ms"),
            "build.jobs_per_op": (mean(lambda r: r["build_jobs"]), "count"),
            "execute.ms_per_op": (mean(lambda r: r["execute_s"]) * 1000,
                                  "ms"),
            "transfer.ms_per_op": (mean(lambda r: r["transfer_s"]) * 1000,
                                   "ms"),
            "spark.jobs_per_op": (mean(lambda r: r["spark"]["jobs"]),
                                  "count"),
            "spark.tasks_per_op": (mean(lambda r: r["spark"]["tasks"]),
                                   "count"),
            "spark.executor_run_ms_per_op": (
                mean(lambda r: r["spark"]["executor_run_ms"]), "ms"),
            "spark.shuffle_bytes_per_op": (
                mean(lambda r: r["spark"]["shuffle_bytes"]), "bytes"),
            "spark.spill_bytes_per_op": (
                mean(lambda r: r["spark"]["spill_bytes"]), "bytes"),
            "spark.scan_rows_per_result_row": (
                sum(r["spark"]["input_rows"] for r in traced.values())
                / max(1, result_rows), "ratio"),
            "plan.joins_per_op": (mean(lambda r: r["plan"]["joins"]),
                                  "count"),
            "plan.exchanges_per_op": (mean(lambda r: r["plan"]["exchanges"]),
                                      "count"),
            "plan.python_nodes_per_op": (
                mean(lambda r: r["plan"]["python_nodes"]), "count"),
            "storage.bytes_written": (0, "bytes"),
            "storage.files_written": (0, "count"),
            "cache.persisted_mb_after": (cached_mb, "MB"),
            "server.bytes_per_query": (0, "bytes"),
        },
        "named": {
            "families": families,
        },
    }


# -- pinning --------------------------------------------------------------------

def _hashes_main() -> int:
    """One pass in this process's configuration; prints name -> [hash, n]."""
    from lapis_silo_spark.driver_queries import QUERIES
    from lapis_silo_spark.session import get_spark

    run_dir = prepare_env()
    spark = get_spark(extra_conf=spark_conf(run_dir))
    sf_dir, _ = _setup(spark, run_dir)
    out = {}
    for row in load_rows():
        rows = QUERIES[row["name"]](spark, sf_dir).collect()
        out[row["name"]] = [result_hash(rows), len(rows)]
    stop_spark()
    shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(out))
    return 0


def _oracle_hashes(names: list[str], run_dir: Path) -> dict[str, str]:
    import duckdb

    from lapis_silo_spark.driver_queries import ORACLES

    src = tables.write(run_dir / "oracle_tables")
    con = duckdb.connect()
    for f in sorted(src.iterdir()):
        con.execute(f"CREATE VIEW {f.stem} AS SELECT * FROM "
                    f"read_parquet('{f}')")
    out = {}
    for name in names:
        if name in ORACLES:
            out[name] = result_hash(con.execute(ORACLES[name]).fetchall())
    return out


def _pin_main() -> int:
    run_dir = prepare_env()
    runs = []
    for cpus in ("2", "4", "8"):
        env = {**os.environ, "SPARK_GRAFT_CPUS": cpus}
        out = subprocess.run([sys.executable, __file__, "--hashes"], env=env,
                             capture_output=True, text=True, check=True)
        runs.append(json.loads(out.stdout.strip().splitlines()[-1]))
    names = [r["name"] for r in load_rows()]
    oracle = _oracle_hashes(names, run_dir)
    shutil.rmtree(run_dir, ignore_errors=True)
    rows = []
    for name in names:
        hashes = {r[name][0] for r in runs}
        counts = {r[name][1] for r in runs}
        stable = len(hashes) == 1
        rows.append({
            "name": name, "family": family(name),
            "hash": runs[0][name][0] if stable else None,
            "result_rows": runs[0][name][1] if len(counts) == 1 else None,
            "oracle": ("none" if name not in oracle else
                       "match" if oracle[name] in hashes else "differs"),
        })
    ROWS_FILE.write_text(json.dumps({
        "about": "Pinned results of the registry_headline rows over "
                 "silobench/tables.py data; hash is null where the result "
                 "depends on the Spark core count (then only the row count, "
                 "if stable, is checked). Regenerate with "
                 "python3 silobench/registry.py --pin.",
        "rows": rows,
    }, indent=1) + "\n")
    return 0


if __name__ == "__main__":
    if "--hashes" in sys.argv:
        sys.exit(_hashes_main())
    if "--pin" in sys.argv:
        sys.exit(_pin_main())
    print(__doc__)
    sys.exit(2)
