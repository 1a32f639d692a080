#!/usr/bin/env python3
"""Benchmark of the graft KG pipeline and its online matcher.

Run from the root of a checkout:

    python3 perfbench/run.py --workload kg_build --seed 1 --seconds 10 --trace 0

Builds the program and the benchmark from source with sbt on first use (the
build lands in perfbench/target), then runs one workload in one JVM and
prints one JSON object as the last line of standard output. Exits non-zero,
without a result, if the build or the run fails; exits non-zero after the
result if an output check failed. See perfbench/NOTES.md.
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

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
TARGET = os.path.join(BENCH, "target")
CLASSPATH = os.path.join(TARGET, "runtime.classpath")
STAMP = os.path.join(TARGET, "source.stamp")
WORK = os.path.join(BENCH, "work")
WORKLOADS = ("kg_build", "matcher_online")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170

# Spark 4 on JDK 17 needs these when the session is created outside
# spark-submit (org.apache.spark.launcher.JavaModuleOptions).
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


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars") if home else ""
    if not os.path.isdir(jars):
        fail("no Spark installation found (set SPARK_HOME)")
    return jars


def source_stamp():
    """Digest of every input of the build: program and benchmark sources and
    the build definition."""
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src"),
            os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for top in tops:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build(jars):
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("the program's sources (src/main/scala/graft) are not in this checkout")
    if shutil.which("sbt") is None:
        fail("sbt is not on PATH")
    stamp = source_stamp()
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP):
        with open(STAMP) as f:
            if f.read() == stamp:
                return
    env = dict(os.environ, PERFBENCH_SPARK_JARS=jars)
    tmp = os.path.join(TARGET, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # no sbt server and a private temp dir: the build writes only under
    # perfbench/ besides sbt's own caches
    cmd = ["sbt", "-batch", "--no-server", "-Dsbt.log.noformat=true",
           "-Dsbt.supershell=false", f"-Djava.io.tmpdir={tmp}", "-J-XX:-UsePerfData",
           "compile", "writeClasspath"]
    try:
        r = subprocess.run(cmd, cwd=BENCH, env=env, stdout=sys.stderr, stderr=sys.stderr,
                           stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S,
                           start_new_session=True)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    if r.returncode != 0 or not os.path.exists(CLASSPATH):
        fail(f"build failed (sbt exit {r.returncode})")
    with open(STAMP, "w") as f:
        f.write(stamp)


def heap_flags():
    """A fixed heap of a quarter of RAM, between 2 and 4 GB. Fixed (-Xms =
    -Xmx) because a growing heap makes the first build of a fresh JVM pay
    heap resizing and GC ergonomics, which measured as run-to-run noise."""
    try:
        with open("/proc/meminfo") as f:
            kb = int(next(l for l in f if l.startswith("MemTotal:")).split()[1])
        gb = max(2, min(4, kb // (4 * 1024 * 1024)))
    except (OSError, StopIteration, ValueError):
        gb = 2
    return [f"-Xms{gb}g", f"-Xmx{gb}g"]


def run_jvm(args, jars):
    with open(CLASSPATH) as f:
        cp = f.read().strip()
    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(os.path.join(WORK, "tmp"))
    out = os.path.join(WORK, "result.json")
    cmd = ["java", *heap_flags(), "-XX:+UseParallelGC", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", WORK, "--out", out,
            "--expected", os.path.join(BENCH, "expected_triples.txt")]
    if args.request_seed is not None:
        cmd += ["--request-seed", str(args.request_seed)]
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=sys.stderr, stderr=sys.stderr,
                            stdin=subprocess.DEVNULL, start_new_session=True)
    try:
        code = proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    if code != 0 or not os.path.exists(out):
        fail(f"run failed (java exit {code})")
    with open(out) as f:
        result = json.loads(f.read())
    shutil.rmtree(WORK, ignore_errors=True)
    return result


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True,
                    help="corpus seed, folded into the recorded seeds 0-49")
    ap.add_argument("--request-seed", type=int, default=None,
                    help="seed of the matcher's request pages (default: seed + 1000003)")
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    t0 = time.time()
    jars = spark_jars()
    build(jars)
    print(f"perfbench: build ready in {time.time() - t0:.1f} s", file=sys.stderr)
    result = run_jvm(args, jars)
    print(json.dumps(result))
    sys.exit(0 if result["correct"] else 1)


if __name__ == "__main__":
    main()
