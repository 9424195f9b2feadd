#!/usr/bin/env python3
"""Traced run of one workload, written to perfbench/traces/<workload>.json.

Runs the workload untraced and traced in PAIRS alternating pairs on seed SEED,
each for the run_seconds of BENCHMARK.json, and records the per-layer metrics of the last traced run, the self time of every
layer against the wall time of its timed loop, its span tree, and the tracing
overhead (median traced end-to-end metrics relative to the untraced ones).

Usage: python3 perfbench/trace_report.py <workload>
"""
import json
import os
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
import build  # noqa: E402
import run  # noqa: E402

SEED = 1
PAIRS = 3


def bench(workload, seconds, trace):
    cmd = [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
           "--seed", str(SEED), "--seconds", str(seconds), "--trace", str(trace)]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
    if out.returncode != 0:
        sys.exit(f"{' '.join(cmd)} exited {out.returncode}\n{out.stdout}{out.stderr}")
    rundir = os.path.join(build.OUT, "runs", f"{workload}-seed{SEED}-trace{trace}")
    with open(os.path.join(rundir, "record.json")) as fh:
        record = json.load(fh)
    return json.loads(out.stdout.strip().splitlines()[-1]), record, rundir


def main():
    workload = sys.argv[1]
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        seconds = json.load(fh)["run_seconds"]
    # untraced and traced runs alternate on one seed; the overhead compares
    # their medians, since single runs differ by more than tracing costs
    runs = {0: [], 1: []}
    for i in range(PAIRS):
        for trace in ((0, 1) if i % 2 == 0 else (1, 0)):
            runs[trace].append(bench(workload, seconds, trace))
    traced, traced_rec, rundir = runs[1][-1]
    with open(os.path.join(rundir, "spans.json")) as fh:
        spans = json.load(fh)
    e2e = {trace: {k: statistics.median(rec["end_to_end"][k] for _, rec, _ in rs)
                   for k in rs[0][1]["end_to_end"]}
           for trace, rs in runs.items()}
    overhead = {k: e2e[1][k] / v - 1.0 for k, v in e2e[0].items() if v}
    report = {
        "workload": workload, "seed": SEED, "seconds": seconds, "pairs": PAIRS,
        "date": time.strftime("%Y-%m-%d", time.gmtime()),
        "cores": traced_rec["cores"], "heap": traced_rec["heap"],
        "fixture": traced_rec["fixture"], "fixture_build_s": traced_rec["fixture_build_s"],
        "loadavg": {("traced" if t else "untraced"): [[rec["loadavg_start"], rec["loadavg_end"]]
                                                      for _, rec, _ in rs]
                    for t, rs in runs.items()},
        "correct": all(res["correct"] for rs in runs.values() for res, _, _ in rs),
        "executions_per_run": traced["attempted"],
        "end_to_end_median": {"untraced": e2e[0], "traced": e2e[1]},
        "tracing_overhead": overhead,
        "per_layer": {k: {"value": v, "unit": run.LAYER_UNITS[k]}
                      for k, v in traced_rec["per_layer"].items()},
        "accounting": traced_rec["accounting"],
        "spans": spans,
    }
    os.makedirs(os.path.join(BENCH, "traces"), exist_ok=True)
    path = os.path.join(BENCH, "traces", f"{workload}.json")
    with open(path, "w") as fh:
        json.dump(report, fh, indent=1)
    acc = report["accounting"]
    print(f"{path}: loop {acc['loop_wall_s']:.2f} s, layers' self time {acc['self_total_s']:.2f} s, "
          f"slack {acc['slack_frac']:+.2%}")
    for k, v in overhead.items():
        print(f"  tracing overhead {k}: {v:+.2%}")


if __name__ == "__main__":
    main()
