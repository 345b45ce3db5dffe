#!/usr/bin/env python3
"""Steadiness tool: runs each workload N times, one seed per run, and
prints for every metric its median, the quartile spread (q3 - q1) as a
share of the median, and the max/min ratio. Run from the repository root:

    python3 filterbench/steady.py --runs 10 [--seconds 10] [--trace 0] [--first-seed 1] [workload ...]

The spread column is the evidence for the bounds in BENCHMARK.json: a
metric whose spread is not well inside its bound cannot tell a change
from noise. Wall time per run is printed too, since the whole set of
runs has to fit the time a benchmark check is given.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def spread(xs):
    """(median, (q3 - q1) / median, max / min) of a list of values."""
    med = statistics.median(xs)
    q = statistics.quantiles(xs, n=4) if len(xs) > 1 else [xs[0]] * 3
    iqr = (q[2] - q[0]) / med if med else float("nan")
    ratio = max(xs) / min(xs) if min(xs) else float("inf")
    return med, iqr, ratio


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("workloads", nargs="*")
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seconds", type=int, default=None)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--first-seed", type=int, default=1)
    args = ap.parse_args()
    bench = json.load(open("BENCHMARK.json"))
    seconds = args.seconds or bench["run_seconds"]
    workloads = args.workloads or [w["name"] for w in bench["workloads"]]
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    for wl in workloads:
        values, walls, failed = {}, [], 0
        for i in range(args.runs):
            seed = args.first_seed + i
            t = time.time()
            r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", wl,
                                "--seed", str(seed), "--seconds", str(seconds),
                                "--trace", str(args.trace)],
                               stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
            walls.append(time.time() - t)
            lines = r.stdout.strip().splitlines()
            if r.returncode != 0 or not lines:
                print(f"{wl} seed {seed}: exit {r.returncode}\n{r.stderr[-2000:]}")
                failed += 1
                continue
            res = json.loads(lines[-1])
            if not res["correct"] or res["failed"]:
                failed += 1
                print(f"{wl} seed {seed}: correct={res['correct']} failed={res['failed']}\n"
                      f"{r.stderr[-2000:]}")
            for k, v in res["metrics"].items():
                values.setdefault(k, []).append(v["value"])
            print(f"{wl} seed {seed}: {walls[-1]:.1f} s " +
                  " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()), flush=True)
        print(f"\n{wl}: {args.runs} runs, {failed} with failures, wall per run "
              f"median {statistics.median(walls):.1f} s max {max(walls):.1f} s")
        print(f"  {'metric':30s} {'median':>12s} {'iqr/median':>11s} {'max/min':>8s} {'bound':>6s}")
        for k, xs in values.items():
            med, iqr, ratio = spread(xs)
            b = bounds.get(k)
            print(f"  {k:30s} {med:12.4f} {iqr:11.4f} {ratio:8.3f} "
                  f"{'' if b is None else b:>6}")
        print(flush=True)


if __name__ == "__main__":
    main()
