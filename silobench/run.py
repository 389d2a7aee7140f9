"""Benchmark entry point.

    python3 silobench/run.py --workload lapis_serve --seed 1 --seconds 15 \
        --trace 0

Prints a details line (environment, per-class numbers) and, as the last
line, ``{"correct", "attempted", "failed", "metrics"}``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1`` (the
traced run also writes its spans to ``.silobench/spans-<workload>-<seed>.json``).
"""

from __future__ import annotations

import argparse
import json
import shutil
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from silobench.common import (  # noqa: E402
    WORK, cpu_ticks, emit, engine_available, env_stamp, loadavg, prepare_env,
    self_times,
)

WORKLOADS = ("lapis_serve", "registry_headline")


def _module(workload: str):
    if workload == "lapis_serve":
        from silobench import serve
        return serve
    from silobench import registry
    return registry


def _overhead(traced: dict[str, float], untraced_file: Path) -> dict | None:
    """Each end-to-end metric of the traced run over the same metric of an
    untraced run of the same seed in this checkout, minus one; None when
    there was no such run."""
    try:
        untraced = json.loads(untraced_file.read_text())
    except (OSError, ValueError):
        return None
    return {k: v / untraced[k] - 1 for k, v in traced.items() if untraced.get(k)}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not engine_available():
        print("this checkout has no lapis_silo_spark package to measure",
              file=sys.stderr)
        return 2
    run_dir = prepare_env()
    env = env_stamp()
    steal0, total0 = cpu_ticks()
    started = time.perf_counter()
    try:
        result = _module(args.workload).run(
            args.seed, args.seconds, bool(args.trace), run_dir
        )
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    env["loadavg_1m_end"] = loadavg()
    steal1, total1 = cpu_ticks()
    env["cpu_steal_share"] = (steal1 - steal0) / max(1, total1 - total0)

    details = {"workload": args.workload, "seed": args.seed,
               "seconds": args.seconds, "trace": args.trace,
               "run_wall_s": time.perf_counter() - started, "env": env,
               **result["details"]}
    metrics = dict(result["metrics"])
    end_to_end = {k: v for k, (v, _) in metrics.items()}
    untraced_file = WORK / f"untraced-{args.workload}-{args.seed}.json"
    if not args.trace:
        untraced_file.write_text(json.dumps(end_to_end))
    else:
        layers = result["layers"]
        spans_path = WORK / f"spans-{args.workload}-{args.seed}.json"
        with open(spans_path, "w") as fh:
            json.dump({"spans": layers["spans"],
                       "self_s": self_times(layers["spans"])}, fh)
        details["spans_file"] = str(spans_path)
        details["layers_named"] = layers.get("named", {})
        details["end_to_end_traced"] = end_to_end
        details["tracing_overhead_share"] = _overhead(end_to_end,
                                                      untraced_file)
        traced_p50 = metrics["op_p50_ms"]
        metrics = dict(layers["metrics"])
        metrics["traced.op_p50_ms"] = traced_p50
    emit(details, result["failed"] == 0, result["attempted"],
         result["failed"], metrics)
    return 0


if __name__ == "__main__":
    sys.exit(main())
