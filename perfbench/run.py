#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload query|dedup-bulk|ingest \
        --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --selftest

Run from the root of a checkout. The first run builds the engine and the
benchmark from source with sbt (offline) into `.bench_build/`; later runs
reuse that build while no source file has changed. Each run then starts
one fresh JVM that runs the workload and prints, as the last line of
standard output, one JSON object: correct, attempted, failed and metrics
(the end-to-end metrics with --trace 0, the per-layer ones with
--trace 1). Runtime files (Spark scratch, standing-corpus directories,
traces) go to `.bench_out/`.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
OUT = os.path.join(ROOT, ".bench_out")
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 850

# Spark on JDK 17 needs these outside spark-submit (the engine's build
# passes the same list to its own forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


CHILD = None


def run_child(cmd, cwd, timeout, env=None):
    """Run `cmd`, capturing stdout; the child is killed, and waited for, if
    it outlives `timeout` or if this process is told to stop."""
    global CHILD
    CHILD = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=subprocess.PIPE,
                             stderr=sys.stderr, stdin=subprocess.DEVNULL,
                             text=True)
    try:
        out, _ = CHILD.communicate(timeout=timeout)
        return CHILD.returncode, out
    except subprocess.TimeoutExpired:
        CHILD.kill()
        CHILD.wait()
        return None, ""
    finally:
        CHILD = None


def stop(signum, _frame):
    if CHILD is not None:
        CHILD.kill()
        CHILD.wait()
    sys.exit(128 + signum)


def source_files():
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names]
    return sorted(f for f in files if os.path.isfile(f))


def build():
    """Compile engine + benchmark unless the stamped build is current;
    returns the runtime classpath."""
    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"{need} not found under {ROOT}: nothing to build")
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    stamp_file = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath.txt")
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == stamp:
                with open(cp_file) as fh:
                    return fh.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true").strip()
    code, out = run_child(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"], HERE, BUILD_LIMIT_S, env)
    if code is None:
        fail("build timed out")
    if code != 0:
        sys.stderr.write(out)
        fail(f"build failed (sbt exit {code})")
    cps = [l.strip() for l in out.splitlines()
           if not l.startswith("[") and ".jar" in l and os.pathsep in l]
    if not cps:
        fail("build printed no classpath")
    with open(cp_file, "w") as fh:
        fh.write(cps[-1])
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return cps[-1]


def main():
    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=["query", "dedup-bulk", "ingest"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and a.workload is None:
        fail("--workload is required")
    cp = build()
    start = time.monotonic()
    for scratch in ("spark-local", "tmp", "standing"):
        shutil.rmtree(os.path.join(OUT, scratch), ignore_errors=True)
    os.makedirs(os.path.join(OUT, "tmp"), exist_ok=True)
    cores = min(4, os.cpu_count() or 1)
    java = [os.path.join(os.environ["JAVA_HOME"], "bin", "java")
            if "JAVA_HOME" in os.environ else "java",
            "-Xms3g", "-Xmx3g", "-XX:-UsePerfData", "-XX:+UseParallelGC",
            "-XX:+UseTransparentHugePages", "-XX:+AlwaysPreTouch",
            f"-Djava.io.tmpdir={os.path.join(OUT, 'tmp')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        java += ["--add-opens", f"{p}=ALL-UNNAMED"]
    java += ["-cp", cp, "perfbench.Main",
             "--workload", "selftest" if a.selftest else a.workload,
             "--seed", str(a.seed), "--seconds", str(a.seconds),
             "--trace", str(a.trace), "--t0-ns", str(time.time_ns()),
             "--out", OUT, "--cores", str(cores)]
    left = RUN_LIMIT_S - (time.monotonic() - start)
    try:
        code, out = run_child(java, ROOT, left)
    finally:
        for scratch in ("spark-local", "tmp", "standing"):
            shutil.rmtree(os.path.join(OUT, scratch), ignore_errors=True)
    if code is None:
        fail("run timed out")
    lines = out.strip().splitlines()
    if code != 0 or not lines:
        fail(f"workload failed (exit {code})")
    for line in lines[:-1]:
        print(line, file=sys.stderr)
    result = json.loads(lines[-1])
    print(json.dumps(result))


if __name__ == "__main__":
    main()
