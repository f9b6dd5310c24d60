#!/usr/bin/env python3
"""Run the benchmark once per seed and report each metric's spread.

    python3 perfbench/spread.py --workload tpch_sf0.01 --seeds 1-10 --seconds 21

Each run is its own process, one after the other.  For every metric the
script prints the median of the runs and the spread: the distance
between the first and third quartile (``statistics.quantiles(n=4)``) as
a share of the median, the figure a metric's ``bound`` in
BENCHMARK.json must stay above.  ``--log`` keeps every run's output.
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


def seeds(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=seeds, default=seeds("1-10"))
    ap.add_argument("--seconds", default="21")
    ap.add_argument("--trace", default="0")
    ap.add_argument("--log", help="directory for each run's stdout and stderr")
    args = ap.parse_args()
    values: dict[str, list[float]] = {}
    units: dict[str, str] = {}
    for seed in args.seeds:
        t0 = time.perf_counter()
        proc = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", args.seconds, "--trace", args.trace],
            cwd=ROOT, capture_output=True, text=True)
        elapsed = time.perf_counter() - t0
        if args.log:
            os.makedirs(args.log, exist_ok=True)
            stem = os.path.join(args.log, f"{args.workload}-{seed}-{args.trace}")
            for ext, text in (("out", proc.stdout), ("err", proc.stderr)):
                with open(f"{stem}.{ext}", "w") as f:
                    f.write(text)
        if proc.returncode != 0:
            print(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}")
            return 1
        result = json.loads(proc.stdout.strip().splitlines()[-1])
        print(f"seed {seed}: {elapsed:.1f} s, correct={result['correct']} "
              f"attempted={result['attempted']} failed={result['failed']} "
              + " ".join(f"{k}={v['value']:.4g}" for k, v in result["metrics"].items()),
              flush=True)
        for k, v in result["metrics"].items():
            values.setdefault(k, []).append(v["value"])
            units[k] = v["unit"]
    print(f"{'metric':26s} {'unit':6s} {'median':>11s} {'q1':>11s} {'q3':>11s} spread")
    for k, xs in values.items():
        med = statistics.median(xs)
        q1, _, q3 = statistics.quantiles(xs, n=4) if len(xs) > 1 else (med, med, med)
        spread = (q3 - q1) / abs(med) if med else 0.0
        print(f"{k:26s} {units[k]:6s} {med:11.5g} {q1:11.5g} {q3:11.5g} {spread:6.3f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
