#!/usr/bin/env python3
"""Steadiness tool: run one workload N times, one seed each, and print
each metric's median, quartiles and spread (interquartile distance over
the median), plus the failed share and the wall time per run. The
bounds in BENCHMARK.json are set from this output.

Usage:
  python3 perfbench/steady.py --workload graph_memo [--runs 10]
      [--first-seed 1] [--seconds 10] [--trace 0]
"""
import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

RUN = Path(__file__).resolve().parent / "run.py"


def spread(values):
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, statistics.median(values), q3, (q3 - q1) / statistics.median(values)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()

    results, walls = [], []
    for seed in range(args.first_seed, args.first_seed + args.runs):
        t0 = time.time()
        proc = subprocess.run([sys.executable, str(RUN), "--workload", args.workload,
                               "--seed", str(seed), "--seconds", str(args.seconds),
                               "--trace", str(args.trace)], capture_output=True, text=True)
        walls.append(time.time() - t0)
        if proc.returncode != 0:
            sys.exit(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}")
        r = json.loads(proc.stdout.strip().splitlines()[-1])
        results.append(r)
        line = " ".join(f"{k}={v['value']:.4g}" for k, v in r["metrics"].items())
        print(f"seed {seed}: correct={r['correct']} failed={r['failed']}/{r['attempted']} "
              f"wall={walls[-1]:.1f}s {line}", flush=True)

    print(f"\n{args.workload}: {args.runs} runs, --seconds {args.seconds}, --trace {args.trace}")
    print(f"{'metric':32s} {'q1':>12s} {'median':>12s} {'q3':>12s} {'spread':>8s}")
    for name in results[0]["metrics"]:
        q1, med, q3, sp = spread([r["metrics"][name]["value"] for r in results])
        print(f"{name:32s} {q1:12.4g} {med:12.4g} {q3:12.4g} {sp:8.2%}")
    shares = {r["failed"] / r["attempted"] for r in results}
    print(f"failed share per run: {sorted(shares)}; all correct: {all(r['correct'] for r in results)}")
    print(f"wall per run: median {statistics.median(walls):.1f} s, max {max(walls):.1f} s")


if __name__ == "__main__":
    main()
