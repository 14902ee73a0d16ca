"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload validate_transcripts --seed 1 \
        --seconds 15 --trace 0

``--trace 0`` times the end-to-end metrics with no tracing installed;
``--trace 1`` runs the same workload with the per-layer wrappers, Catalyst
phase readings and Spark's event log on, and prints the per-layer table.
Run from the root of a source checkout: the package under test is imported
from there, and everything the run writes stays under ``.perfbench/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.common import (ROOT, WORK, adopt_orphans,  # noqa: E402
                              configure_env, machine, process_start_perf,
                              stop_children, write_trace_conf)

PROC_START = process_start_perf()
WORKLOADS = ("validate_transcripts", "cli_wide", "curate_docs")
UNITS = {"op_s": "s", "cold_op_s": "s", "setup_s": "s", "peak_rss_mb": "MB"}


def summary(workload: str, metrics: dict, ctx) -> dict:
    """The end-to-end metrics under the names they have on this workload:
    ``op_s`` is validate_s / cli_wall_s / curate_s; ``cold_op_s`` is
    validate_cold_s (on the other workloads it is not a separate figure)."""
    if workload == "validate_transcripts":
        named = {"validate_s": metrics["op_s"], "validate_cold_s": metrics["cold_op_s"],
                 "turns_per_s": ctx.info["items"] / metrics["op_s"]}
    elif workload == "cli_wide":
        named = {"cli_wall_s": metrics["op_s"]}
    else:
        named = {"curate_s": metrics["op_s"]}
    named.update(setup_s=metrics["setup_s"], peak_rss_mb=metrics["peak_rss_mb"],
                 error_ratio=ctx.failed / max(ctx.attempted, 1))
    return {k: round(v, 6) for k, v in named.items()}


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "datacontract_cli_spark")):
        print(f"error: no datacontract_cli_spark package under {ROOT}; run from "
              "a source checkout", file=sys.stderr)
        return 2

    adopt_orphans()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    try:
        return run(args)
    finally:
        stop_children()


def run(args) -> int:
    trace_dir = os.path.join(WORK, f"trace-{os.getpid()}")
    env = configure_env()
    trace_env = None
    if args.trace:
        conf, event_dir = write_trace_conf(trace_dir)
        trace_env = dict(env, SPARK_CONF_DIR=conf, PERFBENCH_EVENT_DIR=event_dir)
    t0 = time.perf_counter()
    before = machine()

    from perfbench import trace, workloads

    ctx = workloads.Ctx(seed=args.seed, seconds=args.seconds,
                        traced=bool(args.trace), proc_start=PROC_START,
                        excluded_s=time.perf_counter() - t0)
    try:
        if args.workload == "cli_wide":
            metrics = workloads.run_cli(workloads.CliWide(args.seed), ctx, env,
                                        trace_env)
        else:
            if trace_env:
                os.environ.update(trace_env)
            wl = (workloads.Validate if args.workload == "validate_transcripts"
                  else workloads.Curate)(args.seed)
            metrics = workloads.run_in_process(wl, ctx)
    finally:
        shutil.rmtree(trace_dir, ignore_errors=True)

    info = {"workload": args.workload, "seed": args.seed, "machine": before,
            "loadavg_after": os.getloadavg()[0], "untimed_steps": ctx.untimed,
            **ctx.info}
    if args.trace:
        units = dict(trace.PER_LAYER)
        print(f"# per-layer ({args.workload}, median over traced operations)")
        for name, unit in trace.PER_LAYER:
            print(f"#   {name:40s} {metrics[name]:>16.6g} {unit}")
        print("# self time per span (s): " + json.dumps(
            {k: round(v, 4) for k, v in info.pop("self_s", {}).items()}))
    else:
        units = UNITS
        print("# " + json.dumps(summary(args.workload, metrics, ctx)))
    print("# " + json.dumps(info, default=str))
    print(json.dumps({
        "correct": ctx.failed == 0, "attempted": ctx.attempted, "failed": ctx.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
