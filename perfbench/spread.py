#!/usr/bin/env python3
"""Run a workload on several seeds and report each metric's median and
spread (inter-quartile distance over the median).

    python3 perfbench/spread.py --workload gate --seeds 1-10 \
        [--seconds 15] [--trace 0]
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.dont_write_bytecode = True
sys.path.insert(0, HERE)

from lib.stats import spread  # noqa: E402


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-5")
    ap.add_argument("--seconds", default="15")
    ap.add_argument("--trace", default="0")
    a = ap.parse_args()
    lo, hi = (int(x) for x in a.seeds.split("-"))
    runs = []
    for seed in range(lo, hi + 1):
        t0 = time.time()
        r = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload",
             a.workload, "--seed", str(seed), "--seconds", a.seconds,
             "--trace", a.trace], stdout=subprocess.PIPE, text=True)
        last = r.stdout.strip().splitlines()[-1] if r.stdout.strip() else ""
        print(f"seed {seed}: exit {r.returncode} in {time.time() - t0:.0f} s "
              f"{last}", flush=True)
        if r.returncode == 0:
            runs.append(json.loads(last)["metrics"])
    if len(runs) < 2:
        sys.exit("too few successful runs")
    for k in runs[0]:
        v = [m[k]["value"] for m in runs]
        print(f"{k:28s} median {statistics.median(v):10.4f}  "
              f"spread {spread(v):.4f}  n={len(v)}")


if __name__ == "__main__":
    main()
