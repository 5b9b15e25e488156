#!/usr/bin/env python3
"""Build the graft engine and the benchmark into .bench_build/graftbench/classes.

    python3 graftbench/build.py

Compiles the engine's sources (src/main/scala) together with the
benchmark's (graftbench/src) with the Scala 2.13 compiler that ships in
the Spark installation's jars ($SPARK_HOME/jars holds scala-compiler,
scala-library and scala-reflect), against those same jars. A build so
needs only Java and Spark: no sbt, no dependency cache, no network.
The compile is skipped when no source changed since the last build.
"""
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build", "graftbench")
CLASSES = os.path.join(OUT, "classes")
SOURCES = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")]

BUILD_TIMEOUT_S = 700


def fail(msg, code=2):
    print(f"graftbench: {msg}", file=sys.stderr)
    sys.exit(code)


def run_group(cmd, timeout, **kw):
    """Run cmd in its own process group. Kill the whole group on timeout,
    or when this script is interrupted or terminated, and wait for it."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
    except BaseException as e:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        if isinstance(e, subprocess.TimeoutExpired):
            fail(f"{cmd[0]} did not finish within {timeout} s", 4)
        raise
    return p.returncode, out


def java():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else shutil.which("java")
    if not exe or not os.path.exists(exe):
        fail("no java found (set JAVA_HOME or put java on PATH)")
    return exe


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars") if home else None
    if not jars or not os.path.isdir(jars):
        fail("no Spark installation found (set SPARK_HOME)")
    if not any(n.startswith("scala-compiler-2.13") for n in os.listdir(jars)):
        fail(f"no scala-compiler 2.13 jar in {jars}")
    return jars


def source_files():
    files = []
    for base in SOURCES:
        for d, _, names in sorted(os.walk(base)):
            files += [os.path.join(d, n) for n in sorted(names) if n.endswith(".scala")]
    return files


def source_stamp(files):
    """Hash of every input of the build, to skip an up-to-date rebuild."""
    h = hashlib.sha256()
    for f in files + [os.path.abspath(__file__)]:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(jars):
    """Compile into CLASSES unless its stamp matches the sources."""
    files = source_files()
    if not files or not os.path.isdir(os.path.join(SOURCES[0], "graft")):
        fail(f"engine sources not found under {os.path.relpath(SOURCES[0], ROOT)}")
    stamp_file = os.path.join(OUT, "build.stamp")
    stamp = source_stamp(files)
    if os.path.isdir(CLASSES) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                return
    t0 = time.time()
    tmp = os.path.join(OUT, "build-tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(tmp)
    os.makedirs(CLASSES)
    if os.path.exists(stamp_file):
        os.remove(stamp_file)
    args = os.path.join(tmp, "sources.txt")
    with open(args, "w") as f:
        f.write("\n".join(files) + "\n")
    # -usejavacp: compile against the launcher's class path, i.e. Spark's jars
    cmd = [java(), "-Xss8m", "-Xmx2g", f"-Djava.io.tmpdir={tmp}",
           "-cp", os.path.join(jars, "*"), "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", CLASSES, "@" + args]
    try:
        code, _ = run_group(cmd, BUILD_TIMEOUT_S, cwd=ROOT, stdout=sys.stderr,
                            stdin=subprocess.DEVNULL)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    if code != 0:
        fail(f"build failed (scalac exit {code})", 3)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    print(f"graftbench: built {len(files)} sources in {time.time() - t0:.0f} s", file=sys.stderr)


if __name__ == "__main__":
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    build(spark_jars())
