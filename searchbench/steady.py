#!/usr/bin/env python3
"""Steadiness of the benchmark: run one workload N times, each in a fresh
process with its own seed, and print per metric the median, the quartiles
and the spread (interquartile distance over the median).

    python3 searchbench/steady.py --workload local-zipf --runs 10 --seconds 10
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def quartiles(values: list[float]) -> tuple[float, float, float]:
    if len(values) < 2:
        v = values[0]
        return v, v, v
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    args = ap.parse_args(argv)

    results = []
    for i in range(args.runs):
        seed = args.first_seed + i
        cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
               "--seed", str(seed), "--seconds", str(args.seconds), "--trace", "0"]
        t0 = time.perf_counter()
        p = subprocess.run(cmd, capture_output=True, text=True, timeout=900)
        wall = time.perf_counter() - t0
        lines = p.stdout.strip().splitlines()
        if p.returncode != 0 or not lines:
            sys.stderr.write(p.stderr[-3000:])
            print(f"seed {seed}: exit {p.returncode}", file=sys.stderr)
            return 1
        res = json.loads(lines[-1])
        res.update(seed=seed, wall_s=wall)
        results.append(res)
        print(f"seed {seed}: {wall:.1f} s, correct={res['correct']}, "
              f"failed {res['failed']}/{res['attempted']}", file=sys.stderr)

    shares = sorted({r["failed"] / r["attempted"] for r in results})
    print(f"workload {args.workload}: {len(results)} runs, all correct: "
          f"{all(r['correct'] for r in results)}, failed shares {shares}, "
          f"median run wall {statistics.median(r['wall_s'] for r in results):.1f} s")
    print(f"{'metric':26} {'unit':>6} {'median':>10} {'q1':>10} {'q3':>10} {'spread':>6}  runs by seed")
    for name, first in results[0]["metrics"].items():
        vals = [r["metrics"][name]["value"] for r in results]
        q1, med, q3 = quartiles(vals)
        spread = (q3 - q1) / med if med else float("nan")
        runs = " ".join(f"{v:.4g}" for v in vals)
        print(f"{name:26} {first['unit']:>6} {med:10.4g} {q1:10.4g} {q3:10.4g} {spread:6.3f}  {runs}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
