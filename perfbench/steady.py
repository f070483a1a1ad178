#!/usr/bin/env python3
"""Steadiness check: run one workload k times, each with another seed, and
print every end-to-end metric's median, quartiles and spread against the
regression bound that BENCHMARK.json fixes for it.

    python3 perfbench/steady.py --workload short [--runs 10] [--seed 1]

Spread is (Q3 - Q1) / median, with the quartiles that Python's
statistics.quantiles(values, n=4) gives. A spread under a third of the
bound is steady; over the bound, the metric cannot resolve a regression.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed", type=int, default=1, help="first seed")
    a = ap.parse_args()
    if a.runs < 2:
        ap.error("--runs must be at least 2")

    values = {m["name"]: [] for m in spec["end_to_end"]}
    for i in range(a.runs):
        seed = a.seed + i
        r = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"),
             "--workload", a.workload, "--seed", str(seed),
             "--seconds", str(spec["run_seconds"]), "--trace", "0"],
            cwd=ROOT, stdout=subprocess.PIPE, text=True)
        if r.returncode != 0:
            sys.exit(f"run with seed {seed} failed (exit {r.returncode})")
        lines = r.stdout.strip().splitlines()
        result = json.loads(lines[-1])
        host = next((l for l in lines if l.startswith("host:")), "host: ?")
        print(f"seed {seed}: correct={result['correct']} "
              f"failed={result['failed']}/{result['attempted']} " +
              " ".join(f"{k}={v['value']:.4g}"
                       for k, v in result["metrics"].items()), flush=True)
        print(f"  {host}", flush=True)
        for k in values:
            values[k].append(result["metrics"][k]["value"])

    print(f"\n{a.workload}: {a.runs} runs")
    print(f"{'metric':22} {'median':>11} {'Q1':>11} {'Q3':>11} "
          f"{'spread':>8} {'bound':>6}  verdict")
    for m in spec["end_to_end"]:
        xs = values[m["name"]]
        med = statistics.median(xs)
        q1, _, q3 = statistics.quantiles(xs, n=4)
        spread = (q3 - q1) / med if med else float("inf")
        verdict = ("steady" if spread < m["bound"] / 3 else
                   "within bound" if spread <= m["bound"] else "WIDE")
        print(f"{m['name']:22} {med:11.5g} {q1:11.5g} {q3:11.5g} "
              f"{spread:8.4f} {m['bound']:6.2f}  {verdict}")


if __name__ == "__main__":
    main()
