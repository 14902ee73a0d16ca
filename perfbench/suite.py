"""Record the benchmark's baseline on this machine.

    python3 perfbench/suite.py

Runs every workload over seeds 1-10 in two back-to-back sets, then one
traced run per workload, each a fresh ``perfbench/run.py`` process with
``run_seconds`` from BENCHMARK.json. Writes ``perfbench/results.md`` (and
prints it): per workload and end-to-end metric, under the name it has
on that workload, its unit, sample count, median and quartiles over both
sets, the wider of the two sets' spreads, each set's median and the shift
between them, checked against the metric's bound in BENCHMARK.json (for
the workloads BENCHMARK.json lists); then
each workload's per-layer table. Spread is (q3 - q1) / median over one
set's runs; shift is how much worse set 2's median is than set 1's.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.common import ROOT, nproc, quartiles  # noqa: E402

RUN = os.path.join(ROOT, "perfbench", "run.py")
RESULTS = os.path.join(ROOT, "perfbench", "results.md")
WORKLOADS = ["validate_transcripts", "cli_wide", "curate_docs"]
SEEDS = range(1, 11)
SETS = 2
# the name each BENCHMARK.json metric has on a workload, where it has one
NAMES = {"validate_transcripts": {"op_s": "validate_s", "cold_op_s": "validate_cold_s"},
         "cli_wide": {"op_s": "cli_wall_s", "cold_op_s": "cold_op_s (= cli_wall_s)"},
         "curate_docs": {"op_s": "curate_s"}}
# figures the summary line derives; BENCHMARK.json does not list them
DERIVED = {"turns_per_s": "1/s", "error_ratio": "ratio"}


def run_once(workload: str, seed: int, seconds: int, traced: bool) -> dict:
    t0 = time.perf_counter()
    proc = subprocess.run(
        [sys.executable, RUN, "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(int(traced))],
        cwd=ROOT, capture_output=True, text=True, timeout=900)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        print(proc.stderr[-3000:], file=sys.stderr)
        raise SystemExit(f"{workload} seed {seed}: exit {proc.returncode}")
    result = json.loads(lines[-1])
    result["comments"] = [l[2:] for l in lines if l.startswith("# ")]
    result["wall_s"] = time.perf_counter() - t0
    return result


def baseline_table(rows: list[dict], bench: dict) -> list[str]:
    out = ["| workload | metric | unit | n | median | q1 | q3 | spread (worse set) | "
           "set-1 median | set-2 median | shift | bound |",
           "|---|---|---|---|---|---|---|---|---|---|---|---|"]
    gated = [(m["name"], m["unit"], m["bound"], m["better"]) for m in bench["end_to_end"]]
    gated_workloads = {w["name"] for w in bench["workloads"]}
    derived = [(name, unit, None, "higher" if name == "turns_per_s" else "lower")
               for name, unit in DERIVED.items()]
    for wl in WORKLOADS:
        runs = [r for r in rows if r["workload"] == wl]
        for name, unit, bound, better in gated + derived:
            if name not in runs[0]["values"]:
                continue
            per_set = [[r["values"][name] for r in runs if r["set"] == s]
                       for s in range(1, SETS + 1)]
            q1, med, q3 = quartiles(per_set[0] + per_set[1])
            spreads, medians = [], []
            for values in per_set:
                a, m, b = quartiles(values)
                spreads.append((b - a) / m if m else 0.0)
                medians.append(m)
            m1, m2 = medians
            shift = (m2 - m1) / m1 if m1 else 0.0
            if better == "higher":
                shift = -shift
            verdict = "-"
            if bound is not None and wl not in gated_workloads:
                verdict = "not gated"
            elif bound is not None:
                ok = shift <= bound and (name == "setup_s" or max(spreads) <= bound)
                verdict = f"{bound} ({'ok' if ok else 'OUT'})"
            out.append(f"| {wl} | {NAMES[wl].get(name, name)} | {unit} | {len(runs)} | "
                       f"{med:.4g} | {q1:.4g} | {q3:.4g} | {max(spreads):.3f} | "
                       f"{m1:.4g} | {m2:.4g} | {shift:+.3f} | {verdict} |")
    return out


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = bench["run_seconds"]

    rows = []
    started = time.strftime("%Y-%m-%d %H:%M")
    for s in range(1, SETS + 1):
        for wl in WORKLOADS:
            for seed in SEEDS:
                r = run_once(wl, seed, seconds, False)
                named, info = json.loads(r["comments"][0]), json.loads(r["comments"][1])
                values = {k: v["value"] for k, v in r["metrics"].items()}
                values.update((k, named[k]) for k in DERIVED if k in named)
                rows.append({"workload": wl, "seed": seed, "set": s, "values": values,
                             "info": info, "wall_s": r["wall_s"]})
                print(f"# {wl} seed {seed} set {s}: {json.dumps(named)} "
                      f"(run {r['wall_s']:.1f}s)", flush=True)
    traced = {wl: run_once(wl, SEEDS[0], seconds, True)["comments"] for wl in WORKLOADS}

    m = rows[0]["info"]["machine"]
    loads = [r["info"]["machine"]["loadavg"] for r in rows]
    doc = [f"## {nproc()}-core sf0.1", "",
           f"Recorded {started} by `python3 perfbench/suite.py`: seeds "
           f"{SEEDS[0]}-{SEEDS[-1]}, {SETS} back-to-back sets, run_seconds {seconds}. "
           f"nproc {m['nproc']}, MemTotal {m['mem_total_mb']} MB, pyspark "
           f"{m['pyspark']}, {m['java']}, Python {m['python']}; 1-minute "
           f"loadavg before each run {min(loads):.2f}-{max(loads):.2f}. "
           f"Mean run wall time {sum(r['wall_s'] for r in rows) / len(rows):.1f} s.",
           "", *baseline_table(rows, bench), ""]
    errors = {wl: sum(r["values"]["error_ratio"] > 0 for r in rows if r["workload"] == wl)
              for wl in WORKLOADS}
    for wl in WORKLOADS:
        doc += [f"### traced: {wl}", "", "```", *traced[wl], "```", ""]
    text = "\n".join(doc)
    print(text)
    with open(RESULTS, "w") as f:
        f.write("# perfbench results\n\n" + text)
    return 0 if not any(errors.values()) else 1


if __name__ == "__main__":
    sys.exit(main())
