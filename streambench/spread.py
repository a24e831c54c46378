"""Run one workload k times and print each metric's spread.

    python3 streambench/spread.py --workload tail_read --runs 10 [--first-seed 1] [--seconds 5] [--trace 0]

Each run uses the next seed. For every metric it prints the median, the
first and third quartiles (``statistics.quantiles(values, n=4)``), the
quartile distance as a share of the median, and the min and max. With
``BENCHMARK.json`` present, the share is compared with the metric's
bound. Run from the root of a checkout.
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


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--first-seed", type=int, default=1)
    p.add_argument("--seconds", type=float)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    seconds = args.seconds if args.seconds is not None else spec["run_seconds"]
    values: dict[str, list[float]] = {}
    bad_runs = 0
    for i in range(args.runs):
        seed = args.first_seed + i
        cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
               "--seed", str(seed), "--seconds", str(seconds), "--trace", str(args.trace)]
        t0 = time.monotonic()
        proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
        took = time.monotonic() - t0
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            print(f"seed {seed}: exit {proc.returncode}", flush=True)
            bad_runs += 1
            continue
        res = json.loads(lines[-1])
        bad_runs += not res["correct"]
        print(f"seed {seed} ({took:.0f} s): correct={res['correct']} attempted={res['attempted']} failed={res['failed']} "
              + " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()), flush=True)
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    print(f"\n{'metric':40s} {'median':>11s} {'q1':>11s} {'q3':>11s} {'iqr/med':>8s} {'bound':>6s} {'min':>11s} {'max':>11s}")
    for k, xs in values.items():
        med = statistics.median(xs)
        q1, _, q3 = statistics.quantiles(xs, n=4) if len(xs) > 1 else (xs[0], xs[0], xs[0])
        share = (q3 - q1) / abs(med) if med else float("inf")
        bound = bounds.get(k)
        flag = "" if bound is None else (" ok" if share <= bound / 3 else (" <bound" if share <= bound else " OVER"))
        print(f"{k:40s} {med:11.5g} {q1:11.5g} {q3:11.5g} {share:8.3f} {bound if bound is not None else '':>6} "
              f"{min(xs):11.5g} {max(xs):11.5g}{flag}")
    return 1 if bad_runs else 0


if __name__ == "__main__":
    sys.exit(main())
