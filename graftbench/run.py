#!/usr/bin/env python3
"""Run one workload of the graft benchmark and print its result.

    python3 graftbench/run.py --workload ann_serve --seed 1 --seconds 10 --trace 0

Run it from the repository root. The first run builds the library and the
benchmark from source with sbt; later runs reuse that build until a source
file changes. Each run starts from a clean work directory, runs one JVM with
one client thread, and prints the metrics of BENCHMARK.json as the last line
of standard output:

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones of a separately traced run (see README.md in this directory).
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, ".work")
CLASSPATH = os.path.join(BENCH, "target", "bench.classpath")
DEADLINE_S = 170
BUILD_DEADLINE_S = 850
WORKLOADS = ("ann_serve", "ingest_fresh")
JVM_OPTIONS = os.path.join(BENCH, "target", "bench.jvmopts")
# Appended to the library's own javaOptions: a later -Xmx wins, so the heap is
# fixed whatever the library build asks for.
JVM_FLAGS = ["-Xms4g", "-Xmx4g",
             "-Dlog4j2.configurationFile=" + os.path.join(BENCH, "log4j2.properties")]


def fail(msg):
    print("graftbench: " + msg, file=sys.stderr)
    sys.exit(2)


def sources():
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src"),
                os.path.join(ROOT, "build.sbt"), os.path.join(BENCH, "build.sbt")):
        if os.path.isfile(top):
            yield top
        for d, _, fs in os.walk(top):
            for f in fs:
                yield os.path.join(d, f)


def build():
    """Compile with sbt when a source is newer than the recorded classpath.

    Returns the classpath and the library's JVM options, both recorded by the
    sbt call."""
    def recorded():
        with open(CLASSPATH) as f:
            cp = f.read().strip()
        with open(JVM_OPTIONS) as f:
            return cp, [l for l in f.read().splitlines() if l]
    if os.path.exists(CLASSPATH) and os.path.exists(JVM_OPTIONS):
        stamp = min(os.path.getmtime(CLASSPATH), os.path.getmtime(JVM_OPTIONS))
        if all(os.path.getmtime(p) <= stamp for p in sources()):
            return recorded()
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = env.get("SBT_OPTS", "")
    if "sbt.offline" not in opts:
        env["SBT_OPTS"] = (opts + " -Dsbt.offline=true").strip()
    # sbt reads .jvmopts from its working directory only; the library's one
    # (the Vector API module its Java sources compile against) sits at the root
    launcher = []
    if os.path.isfile(os.path.join(ROOT, ".jvmopts")):
        with open(os.path.join(ROOT, ".jvmopts")) as f:
            launcher = ["-J" + l.strip() for l in f if l.strip()]
    cmd = ["sbt"] + launcher + ["--batch", "-Dsbt.log.noformat=true",
                                "compile", "exportJavaOptions", "export Runtime/fullClasspath"]
    p = subprocess.run(cmd, cwd=BENCH, env=env, stdin=subprocess.DEVNULL,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=BUILD_DEADLINE_S)
    lines = [l for l in p.stdout.splitlines() if l and not l.startswith("[")]
    if p.returncode != 0 or not lines or ":" not in lines[-1] or not os.path.exists(JVM_OPTIONS):
        sys.stderr.write(p.stdout[-4000:])
        fail("build failed")
    os.makedirs(os.path.dirname(CLASSPATH), exist_ok=True)
    with open(CLASSPATH, "w") as f:
        f.write(lines[-1].strip())
    return recorded()


def clean():
    shutil.rmtree(WORK, ignore_errors=True)


def declared():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return ([m["name"] for m in spec["end_to_end"]],
            [m["name"] for m in spec["per_layer"]])


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    start = time.time()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("library sources not found next to the benchmark directory")
    e2e, layer = declared()
    cp, jvm_options = build()
    clean()
    os.makedirs(os.path.join(WORK, "tmp"))
    cmd = (["java"] + jvm_options + JVM_FLAGS + ["-Djava.io.tmpdir=" + os.path.join(WORK, "tmp"),
                                   "-cp", cp, "graftbench.Main",
                                   "--workload", a.workload, "--seed", str(a.seed),
                                   "--seconds", str(a.seconds), "--trace", str(a.trace),
                                   "--work", WORK])
    proc = subprocess.Popen(cmd, cwd=WORK, stdin=subprocess.DEVNULL,
                            stdout=subprocess.PIPE, text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=max(10, DEADLINE_S - (time.time() - start)))
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        clean()
        fail("run exceeded %d s" % DEADLINE_S)
    if proc.returncode != 0:
        fail("JVM exited with code %d" % proc.returncode)
    parsed = [json.loads(l) for l in out.splitlines() if l.startswith("{")]
    diag = next(p["diagnostics"] for p in parsed if "diagnostics" in p)
    res = next(p for p in parsed if "metrics" in p)
    with open(os.path.join(WORK, "result.json"), "w") as f:
        json.dump({"diagnostics": diag, **res}, f)
    wanted = layer if a.trace else e2e
    unknown = [n for n in res["metrics"] if n not in e2e and n not in layer]
    if unknown:
        fail("metrics missing from BENCHMARK.json: %s" % ", ".join(unknown))
    missing = [n for n in wanted if res["metrics"].get(n, {}).get("value") is None]
    if missing:
        fail("metrics not measured: %s" % ", ".join(missing))
    metrics = {n: res["metrics"][n] for n in wanted}
    attempted, failed = res["attempted"], res["failed"]
    print(json.dumps({"diagnostics": diag}))
    for n, m in metrics.items():
        print("%-36s %14.6g %s" % (n, m["value"], m["unit"]))
    print("failed share %d/%d = %.6f" % (failed, attempted, failed / max(attempted, 1)))
    print(json.dumps({"correct": failed == 0 and attempted > 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
