#!/usr/bin/env python3
"""Run one graft benchmark workload and print its result line.

    python3 graftbench/run.py --workload fuzzy_match --seed 1 --seconds 15 --trace 0

Builds the engine and the benchmark from source on first use (build.py,
outputs under .bench_build/), then runs one JVM that sets up a local
Spark session, generates the workload's inputs from the seed, measures
for the given number of seconds and checks every output. The last line of
standard output is one JSON object: {"correct", "attempted", "failed",
"metrics"}; its metrics are the end-to-end metrics of BENCHMARK.json, or
the per-layer ones with --trace 1. Run records and span traces are written
to .bench_build/graftbench/runs/.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

sys.dont_write_bytecode = True  # keep the source tree clean
from build import CLASSES, OUT, ROOT, build, fail, java, run_group, spark_jars

HERE = os.path.dirname(os.path.abspath(__file__))
RUN_TIMEOUT_S = 170
HEAP = "2g"

# Spark on JDK 17 outside spark-submit needs these (as the engine's build.sbt sets).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def expected_metrics(trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.exists(os.path.join(ROOT, "BENCHMARK.json")):
        fail("BENCHMARK.json not found at the checkout root")
    want = expected_metrics(a.trace)
    jars = spark_jars()
    build(jars)

    # per-run scratch: JVM temp files, Spark's local dirs, generated inputs
    tmp = os.path.join(OUT, "tmp", str(os.getpid()))
    shutil.rmtree(tmp, ignore_errors=True)
    for d in ("java", "spark", "work"):
        os.makedirs(os.path.join(tmp, d))
    cmd = [java()]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [
        f"-Xms{HEAP}", f"-Xmx{HEAP}",
        f"-Djava.io.tmpdir={os.path.join(tmp, 'java')}",
        f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
        "-cp", os.pathsep.join([CLASSES, os.path.join(jars, "*")]),
        "graftbench.Main",
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--work", os.path.join(tmp, "work"),
        "--records", os.path.join(OUT, "runs"),
    ]
    try:
        env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(tmp, "spark"))
        env.setdefault("SPARK_LOCAL_IP", "127.0.0.1")  # a local session needs no other interface
        code, out = run_group(cmd, RUN_TIMEOUT_S, cwd=ROOT, env=env, stdout=subprocess.PIPE,
                              stdin=subprocess.DEVNULL, text=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    lines = out.splitlines()
    for line in lines[:-1]:
        print(line, file=sys.stderr)
    if code != 0 or not lines:
        fail(f"benchmark JVM exited with {code}", 1)
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail(f"malformed result line: {lines[-1]}", 1)
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    if result["metrics"] and got != want:
        fail(f"metrics {sorted(got.items())} do not match BENCHMARK.json {sorted(want.items())}", 1)
    print(lines[-1])


if __name__ == "__main__":
    main()
