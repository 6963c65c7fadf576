#!/usr/bin/env python3
"""graft benchmark: one command per workload.

    python3 perfbench/run.py --workload search|ingest|curate --seed N \
        --seconds S --trace 0|1 [--scale full|tiny]

Run it from the root of a checkout. It builds the engine and the benchmark
from source (the first run compiles; later runs reuse the build while the
sources are unchanged), writes the seeded inputs, runs the workload in one
JVM with one local Spark session, and prints a report followed by one JSON
line: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones, with --trace 1 the per-layer ones.
Everything it writes goes under .bench_build/ in the checkout.
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

sys.path.insert(0, HERE)
import gen  # noqa: E402

# Spark 4 on JDK 17 needs these opens outside spark-submit (the same list
# the engine's own build passes to its forked JVMs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]

RUN_LIMIT_S = 175      # a run (after any build) must end within this
BUILD_LIMIT_S = 840    # the first run may also compile


def fail(msg):
    print("run.py: " + msg, file=sys.stderr)
    sys.exit(2)


def source_fingerprint():
    """Hash of every file the build reads."""
    h = hashlib.sha256()
    paths = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, dirs, files in os.walk(base):
            dirs.sort()
            paths += [os.path.join(d, f) for f in sorted(files)]
    for p in paths:
        if os.path.isfile(p):
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build():
    """Compile engine + benchmark with sbt; return the runtime classpath."""
    stamp = os.path.join(BUILD, "build.json")
    fp = source_fingerprint()
    if os.path.exists(stamp):
        with open(stamp) as f:
            done = json.load(f)
        if done.get("fingerprint") == fp:
            return done["classpath"]
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    log_path = os.path.join(BUILD, "build.log")
    t0 = time.time()
    with open(log_path, "w") as log:
        proc = subprocess.Popen(
            ["sbt", "-batch", "-no-colors", "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=log,
            stdin=subprocess.DEVNULL, text=True)
        try:
            out, _ = proc.communicate(timeout=BUILD_LIMIT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail("build timed out")
        log.write(out)
    lines = [l.strip() for l in out.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or ".jar" not in lines[-1]:
        fail("build failed, see " + log_path)
    cp = lines[-1]
    with open(stamp, "w") as f:
        json.dump({"fingerprint": fp, "classpath": cp,
                   "seconds": round(time.time() - t0, 1)}, f)
    print("run.py: built in %.0f s" % (time.time() - t0), file=sys.stderr)
    return cp


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(gen.GENERATORS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    ap.add_argument("--scale", choices=["full", "tiny"], default="full")
    a = ap.parse_args()

    # the engine is built from the checkout around the benchmark
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail("no engine sources next to the benchmark in " + ROOT)
    cp = build()
    started = time.time()

    run_dir = os.path.join(BUILD, "run", a.workload)
    shutil.rmtree(run_dir, ignore_errors=True)
    in_dir, work = os.path.join(run_dir, "input"), os.path.join(run_dir, "work")
    os.makedirs(os.path.join(work, "tmp"))
    gen.generate(a.workload, a.seed, a.scale, in_dir)
    print("run.py: inputs generated in %.1f s" % (time.time() - started),
          file=sys.stderr)

    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    opens = [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
    cmd = [java, "-Xmx3g", "-XX:ReservedCodeCacheSize=512m",
           "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
           "-Dspark.ui.enabled=false", *opens, "-cp", cp,
           "graft.perfbench.Main", "--workload", a.workload,
           "--input", in_dir, "--work", work, "--seconds", str(a.seconds),
           "--trace", a.trace,
           "--launched-at-us", str(int(time.time() * 1e6))]
    # Spark's scratch space stays in the checkout even when the caller's
    # environment points SPARK_LOCAL_DIRS elsewhere (it overrides the conf)
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    err_path = os.path.join(work, "jvm.log")
    with open(err_path, "w") as err:
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.PIPE,
                                stderr=err, stdin=subprocess.DEVNULL, text=True)

        def stop(signum, _frame):
            proc.kill()
            proc.wait()
            sys.exit(128 + signum)
        signal.signal(signal.SIGTERM, stop)
        try:
            out, _ = proc.communicate(
                timeout=max(10.0, RUN_LIMIT_S - (time.time() - started)))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail("workload timed out; JVM log: " + err_path)
    sys.stdout.write(out)
    result_path = os.path.join(work, "result.json")
    if proc.returncode != 0 or not os.path.exists(result_path):
        with open(err_path) as f:
            sys.stderr.write(f.read()[-4000:])
        fail("workload failed (exit %d)" % proc.returncode)
    with open(result_path) as f:
        result = json.load(f)
    print(json.dumps(result, separators=(",", ":")), flush=True)


if __name__ == "__main__":
    main()
