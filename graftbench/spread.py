#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics over several seeds.

    python3 graftbench/spread.py --workload ann_serve --runs 10 [--first-seed 1] [--seconds 20]

Runs the workload untraced once per seed, appends each result line to
graftbench/.runs/<workload>.jsonl, and prints for every metric the median, the
first and third quartiles (Python's statistics.quantiles, n=4), the spread
(Q3 - Q1) / median and the metric's bound from BENCHMARK.json.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=20)
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bounds = {m["name"]: m["bound"] for m in json.load(f)["end_to_end"]}
    os.makedirs(os.path.join(BENCH, ".runs"), exist_ok=True)
    log = os.path.join(BENCH, ".runs", a.workload + ".jsonl")
    results = []
    for seed in range(a.first_seed, a.first_seed + a.runs):
        t0 = time.time()
        p = subprocess.run([sys.executable, os.path.join(BENCH, "run.py"),
                            "--workload", a.workload, "--seed", str(seed),
                            "--seconds", str(a.seconds), "--trace", "0"],
                           cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                           text=True)
        if p.returncode != 0:
            sys.exit("seed %d: exit %d" % (seed, p.returncode))
        lines = p.stdout.strip().splitlines()
        res = json.loads(lines[-1])
        diag = json.loads(lines[0])["diagnostics"]
        res.update(seed=seed, wall_s=time.time() - t0, diagnostics=diag)
        with open(log, "a") as f:
            f.write(json.dumps(res) + "\n")
        results.append(res)
        print("seed %d: %.0f s, correct %s, %s" % (seed, res["wall_s"], res["correct"], " ".join(
            "%s=%.5g" % (n, m["value"]) for n, m in res["metrics"].items())), flush=True)
    print("%-20s %12s %12s %12s %8s %7s" % ("metric", "median", "q1", "q3", "spread", "bound"))
    for n in results[0]["metrics"]:
        vs = [r["metrics"][n]["value"] for r in results]
        q1, _, q3 = statistics.quantiles(vs, n=4)
        med = statistics.median(vs)
        print("%-20s %12.6g %12.6g %12.6g %7.1f%% %6.0f%%" % (
            n, med, q1, q3, 100 * (q3 - q1) / med, 100 * bounds[n]))
    print("wall s: median %.1f, max %.1f" % (
        statistics.median(r["wall_s"] for r in results), max(r["wall_s"] for r in results)))


if __name__ == "__main__":
    main()
