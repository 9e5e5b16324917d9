#!/usr/bin/env python3
"""Spread report: run one workload k times and compare each metric's spread
with its bound in BENCHMARK.json.

    python3 perfbench/spread.py --workload query_mix --runs 10 [--first-seed 1]

Each run uses its own seed. For every end-to-end metric the report prints
the median, the quartile distance (Q3 - Q1, from statistics.quantiles with
n=4) as a share of the median, and the metric's bound; a spread above a
third of the bound is marked. Raw values go to --out as JSON when given.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spread(values):
    q1, _, q3 = statistics.quantiles(values, n=4)
    m = statistics.median(values)
    return m, (q3 - q1) / m if m else float("inf")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    values, failures = {}, 0
    for i in range(a.runs):
        seed = a.first_seed + i
        cmd = ["python3", "perfbench/run.py", "--workload", a.workload,
               "--seed", str(seed), "--seconds", str(bench["run_seconds"]),
               "--trace", str(a.trace)]
        t0 = time.time()
        p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
        wall = time.time() - t0
        if p.returncode != 0:
            print(f"seed {seed}: exit {p.returncode}\n{p.stderr[-2000:]}", file=sys.stderr)
            failures += 1
            continue
        res = json.loads(p.stdout.strip().splitlines()[-1])
        if not res["correct"]:
            failures += 1
        for k, m in res["metrics"].items():
            values.setdefault(k, []).append(m["value"])
        print(f"seed {seed} ({wall:.0f} s): " + " ".join(
            f"{k}={m['value']:.4g}" for k, m in res["metrics"].items()), flush=True)
    print(f"\n{a.workload}: {a.runs} runs, {failures} failed or incorrect")
    print(f"{'metric':40s} {'median':>12s} {'iqr/med':>8s} {'bound':>6s}")
    for k, vs in values.items():
        if len(vs) < 2:
            continue
        m, s = spread(vs)
        b = bounds.get(k)
        flag = "  WIDE" if b is not None and s > b / 3 else ""
        print(f"{k:40s} {m:12.4f} {s:8.3f} {b if b is not None else '':>6}{flag}")
    if a.out:
        with open(a.out, "w") as f:
            json.dump(values, f, indent=1)
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
