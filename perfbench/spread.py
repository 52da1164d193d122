"""Run the benchmark several times on one workload, each time with another
seed, and print each metric's median and its spread (distance between the
first and third quartile as a share of the median), the statistic the
benchmark's bounds are checked against:

    python3 perfbench/spread.py --workload catalog --runs 10 [--first-seed 1]
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
ROOT = os.path.dirname(HERE)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    values: dict[str, list[float]] = {}
    walls = []
    for seed in range(args.first_seed, args.first_seed + args.runs):
        t0 = time.perf_counter()
        proc = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", str(bench["run_seconds"]),
             "--trace", "0"],
            cwd=ROOT, capture_output=True, text=True)
        walls.append(time.perf_counter() - t0)
        last = proc.stdout.strip().splitlines()[-1] if proc.stdout.strip() else ""
        if proc.returncode != 0 or not last.startswith("{"):
            print(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}")
            return 1
        result = json.loads(last)
        print(f"seed {seed}: wall {walls[-1]:.1f}s correct={result['correct']} "
              + " ".join(f"{k}={v['value']:.4g}" for k, v in result["metrics"].items()),
              flush=True)
        for k, v in result["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    print(f"workload {args.workload}: {args.runs} runs, wall median {statistics.median(walls):.1f}s")
    for k, v in values.items():
        med = statistics.median(v)
        q1, _, q3 = statistics.quantiles(v, n=4)
        spread = (q3 - q1) / med if med else float("nan")
        # The target is a third of the bound: then one set of runs leaves
        # room for a real change of up to the bound to show.
        bound, note = bounds[k], ""
        if spread >= bound / 3:
            note = " (WIDE: above a third of it)" if spread <= bound else " (OVER it)"
        print(f"  {k:24s} median {med:10.4f} spread {spread:.4f} bound {bound}{note}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
