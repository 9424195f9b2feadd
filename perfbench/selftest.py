#!/usr/bin/env python3
"""Self-test of the benchmark.

1. A deliberately corrupted expected result must show up as a failed
   execution: `correct` false, `failed` > 0 and failed_frac > 0.
2. An untraced run reports every end_to_end metric of BENCHMARK.json and a
   traced run every per_layer metric, each with its unit.

Both run on WORKLOAD, with a one-entry run set (`--seconds 1`).

Usage: python3 perfbench/selftest.py
"""
import json
import os
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
import build  # noqa: E402
import run  # noqa: E402

WORKLOAD = "presto_corpus"


def bench(trace, *extra):
    cmd = [sys.executable, os.path.join(BENCH, "run.py"), "--workload", WORKLOAD,
           "--seed", "1", "--seconds", "1", "--trace", str(trace), *extra]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    if out.returncode != 0:
        sys.exit(f"FAIL: {' '.join(cmd)} exited {out.returncode}\n{out.stdout}{out.stderr}")
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}, result
    record_dir = os.path.join(build.OUT, "runs", f"{WORKLOAD}-seed1-trace{trace}")
    with open(os.path.join(record_dir, "record.json")) as fh:
        return result, json.load(fh)


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    pool = run.prepare.pools(build.build(), run.jvm)[WORKLOAD]
    victim = run.run_set(WORKLOAD, pool, 1)[0]

    result, record = bench(0, "--corrupt-expected", victim)
    assert not result["correct"] and result["failed"] >= 1, result
    assert record["failed_frac"] == result["failed"] / result["attempted"] > 0, record
    assert any(name == victim for _, name, _ in record["failures"]), record["failures"]
    print(f"ok: corrupted expected result of {victim} -> failed {result['failed']}"
          f"/{result['attempted']}, failed_frac {record['failed_frac']:.3f}")

    for trace, key in ((0, "end_to_end"), (1, "per_layer")):
        result, _ = bench(trace)
        assert result["correct"] and result["failed"] == 0, result
        want = {m["name"]: m["unit"] for m in spec[key]}
        got = {k: v["unit"] for k, v in result["metrics"].items()}
        assert got == want, f"{key}: got {got}, want {want}"
        assert all(isinstance(v["value"], (int, float)) for v in result["metrics"].values())
        print(f"ok: trace {trace} reports all {len(want)} {key} metrics with their units")


if __name__ == "__main__":
    main()
