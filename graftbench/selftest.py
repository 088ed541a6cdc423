#!/usr/bin/env python3
"""Smoke-size self-test of the benchmark.

    python3 graftbench/selftest.py

Runs each workload once, traced, with a one-second schedule, and checks the
result line, that the workload measures every declared metric and that no
operation failed. Then checks that a directory holding only BENCHMARK.json
and the benchmark refuses to run. Exits 0 when every check passes.
"""
import json
import os
import shutil
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
RUN = os.path.join(BENCH, "run.py")

WORKLOADS = ("ann_serve", "ingest_fresh")

problems = []


def check(ok, what):
    print(("ok    " if ok else "FAIL  ") + what)
    if not ok:
        problems.append(what)


def declared():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return ([m["name"] for m in spec["end_to_end"]],
            [m["name"] for m in spec["per_layer"]])


def smoke(workload):
    p = subprocess.run([sys.executable, RUN, "--workload", workload, "--seed", "7",
                        "--seconds", "1", "--trace", "1"], cwd=ROOT,
                       stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    check(p.returncode == 0, "%s exits 0" % workload)
    if p.returncode != 0:
        return
    last = json.loads(p.stdout.strip().splitlines()[-1])
    check(sorted(last) == ["attempted", "correct", "failed", "metrics"],
          "%s prints the four result keys last" % workload)
    check(last["correct"] and last["failed"] == 0 and last["attempted"] > 0,
          "%s: %d of %d operations failed" % (workload, last["failed"], last["attempted"]))
    with open(os.path.join(BENCH, ".work", "result.json")) as f:
        measured = json.load(f)["metrics"]
    e2e, layer = declared()
    for n in e2e + layer:
        v = measured.get(n, {}).get("value")
        check(isinstance(v, (int, float)), "%s measures %s (%s)" % (workload, n, v))
    check(sorted(last["metrics"]) == sorted(layer),
          "%s traced run prints exactly the per-layer metrics" % workload)


def bare_directory_refuses():
    bare = os.path.join(BENCH, ".work", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    shutil.copytree(BENCH, os.path.join(bare, "graftbench"),
                    ignore=shutil.ignore_patterns(".work", "target"))
    p = subprocess.run([sys.executable, "graftbench/run.py", "--workload", "ann_serve",
                        "--seed", "1", "--seconds", "1", "--trace", "0"], cwd=bare,
                       stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
                       timeout=180)
    check(p.returncode != 0 and '"correct"' not in p.stdout,
          "a directory without the library refuses to run")
    shutil.rmtree(bare, ignore_errors=True)


def main():
    for w in WORKLOADS:
        smoke(w)
    bare_directory_refuses()
    print("%d problem(s)" % len(problems))
    sys.exit(1 if problems else 0)


if __name__ == "__main__":
    main()
