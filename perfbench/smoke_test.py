#!/usr/bin/env python3
"""Smoke test of the benchmark: every workload run.py defines on a tiny
input, a few ops each, untraced and traced. Asserts that each run passes
its output check with no failed op, and prints every metric
BENCHMARK.json names, with its unit.

    python3 perfbench/smoke_test.py      # from the repository root
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
from run import WORKLOADS  # noqa: E402


def run(workload, trace):
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "1", "--seconds", "2", "--trace", str(trace),
         "--scale", "0.01"],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    lines = proc.stdout.strip().splitlines()
    assert proc.returncode == 0 and lines, (
        f"{workload} trace={trace} exited {proc.returncode}\n"
        f"{proc.stdout[-2000:]}\n{proc.stderr[-4000:]}")
    return lines


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    for workload in WORKLOADS:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            lines = run(workload, trace)
            result = json.loads(lines[-1])
            assert result["correct"] and result["failed"] == 0, result
            assert result["attempted"] >= 1, result
            assert any(l.startswith("ops ") and "failed_ratio 0.0000" in l
                       for l in lines), lines
            assert any(l.startswith("input ") for l in lines), lines
            want = {m["name"]: m["unit"] for m in spec[key]}
            got = {k: v["unit"] for k, v in result["metrics"].items()}
            assert got == want, (workload, trace, got, want)
            for k, v in result["metrics"].items():
                assert isinstance(v["value"], (int, float)), (k, v)
            print(f"ok {workload} trace={trace}: "
                  f"{result['attempted']} ops, {len(got)} metrics")
    print("smoke test passed")


if __name__ == "__main__":
    main()
