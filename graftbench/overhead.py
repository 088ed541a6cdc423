#!/usr/bin/env python3
"""Tracing overhead: a workload's end-to-end metrics traced minus untraced.

    python3 graftbench/overhead.py --workload ann_serve --seed 1 [--seconds 20] [--pairs 1]

Runs the workload untraced and then traced on the same seed, `--pairs` times,
and prints for every end-to-end metric the median of each side and the
difference traced - untraced, also as a share of the untraced median.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)


def measure(workload, seed, seconds, trace):
    subprocess.run([sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
                    "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                   cwd=ROOT, check=True, stdout=subprocess.DEVNULL)
    with open(os.path.join(BENCH, ".work", "result.json")) as f:
        return json.load(f)["metrics"]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--pairs", type=int, default=1)
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        e2e = [m["name"] for m in json.load(f)["end_to_end"]]
    runs = {0: [], 1: []}
    for _ in range(a.pairs):
        for trace in (0, 1):
            runs[trace].append(measure(a.workload, a.seed, a.seconds, trace))
    print("%-20s %14s %14s %14s %9s" % ("metric", "untraced", "traced", "difference", "share"))
    for n in e2e:
        off = statistics.median(r[n]["value"] for r in runs[0])
        on = statistics.median(r[n]["value"] for r in runs[1])
        print("%-20s %14.6g %14.6g %14.6g %8.1f%%  %s" % (
            n, off, on, on - off, 100 * (on - off) / off, runs[0][0][n]["unit"]))


if __name__ == "__main__":
    main()
