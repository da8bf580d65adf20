#!/usr/bin/env python3
"""Run a workload over several seeds; print each metric's median and spread.

    python3 perfbench/spread.py --workload <name> [--seeds 1-10] [--trace 0]

The spread is (Q3 - Q1) / median, quartiles as statistics.quantiles(n=4)
gives them. Each run's result line is echoed to stderr.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10", help="first-last")
    ap.add_argument("--trace", default="0")
    a = ap.parse_args()
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        seconds = str(json.load(f)["run_seconds"])
    lo, hi = (int(x) for x in a.seeds.split("-"))
    values = {}
    for seed in range(lo, hi + 1):
        out = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", a.workload,
             "--seed", str(seed), "--seconds", seconds, "--trace", a.trace],
            stdout=subprocess.PIPE, text=True, check=True).stdout.strip().splitlines()[-1]
        print(out, file=sys.stderr)
        res = json.loads(out)
        if not res["correct"]:
            sys.exit(f"seed {seed}: correct=false")
        for name, m in res["metrics"].items():
            values.setdefault(name, []).append(m["value"])
    for name, vs in values.items():
        med = statistics.median(vs)
        q = statistics.quantiles(vs, n=4)
        spread = (q[2] - q[0]) / med if med else 0.0
        print(f"{a.workload} {name:45s} median {med:12.4f} spread {spread:6.3f}")


if __name__ == "__main__":
    main()
