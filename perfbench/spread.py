#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics.

    python3 perfbench/spread.py <workload> <first seed> <runs> [--log FILE]

Runs the benchmark once per seed (first seed, first seed + 1, ...) and
prints, for each end-to-end metric, its median and the distance between
its first and third quartiles as a share of the median, next to a third of
the metric's bound in BENCHMARK.json (the target a steady benchmark stays
under). With --log, each run's result line is appended to FILE.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("workload")
    ap.add_argument("first_seed", type=int)
    ap.add_argument("runs", type=int)
    ap.add_argument("--log")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    values = {m["name"]: [] for m in spec["end_to_end"]}
    for seed in range(a.first_seed, a.first_seed + a.runs):
        p = subprocess.run(
            [sys.executable, os.path.join(BENCH, "run.py"), "--workload", a.workload,
             "--seed", str(seed), "--seconds", str(spec["run_seconds"]), "--trace", "0"],
            cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
        line = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else ""
        if a.log:
            with open(a.log, "a") as f:
                f.write(f"{a.workload} {seed} {p.returncode} {line}\n")
        if p.returncode != 0 or not line:
            print(f"seed {seed}: exit {p.returncode}", file=sys.stderr)
            continue
        for k, v in json.loads(line)["metrics"].items():
            values[k].append(v["value"])
    for m in spec["end_to_end"]:
        xs = values[m["name"]]
        if len(xs) < 2:
            print(f"{m['name']}: {len(xs)} values")
            continue
        q1, _, q3 = statistics.quantiles(xs, n=4)
        med = statistics.median(xs)
        print(f"{m['name']:>12}: median {med:.4g} {m['unit']}, spread {(q3 - q1) / med:.3f}"
              f" (target < {m['bound'] / 3:.3f}), n={len(xs)}")


if __name__ == "__main__":
    main()
