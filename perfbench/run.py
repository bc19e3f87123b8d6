#!/usr/bin/env python3
"""Seeded end-to-end benchmark of the Spark retrieval stack.

Run from the repository root:

    python3 perfbench/run.py --workload {serve,curate} --seed N \
        --seconds S --trace {0,1}
    python3 perfbench/run.py --gencheck [--seed N]

The first run compiles the program (src/main/scala) together with the
benchmark (perfbench/src) against the Spark installation's jars
($SPARK_HOME/jars) into .bench_build/perfbench; later runs reuse the
classes while the sources are unchanged. A run prints its
metrics by name with their units, the check verdict, and as its last line
one JSON object {"correct", "attempted", "failed", "metrics"}. It exits
non-zero when a check fails, the build fails, or the run overruns.
"""

import argparse
import fcntl
import hashlib
import os
import shutil
import subprocess
import sys
import threading
import time

ROOT = os.getcwd()
BENCH = os.path.join(ROOT, "perfbench")
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 800

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
        fail("SPARK_HOME is not set")
    jars = os.path.join(home, "jars")
    if not os.path.isdir(jars) or not any(
            f.startswith("scala-compiler") for f in os.listdir(jars)):
        fail(f"no Spark jars with a Scala compiler under {jars}")
    return jars


def sources():
    if not os.path.isdir(PROGRAM_SRC):
        fail("src/main/scala not found: run from the repository root")
    found = []
    for base in (PROGRAM_SRC, os.path.join(BENCH, "src")):
        for d, _, files in os.walk(base):
            found += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def build(jars):
    """Compiles program + benchmark once per source state; returns the
    classes directory. Concurrent runs in one checkout wait for one build."""
    srcs = sources()
    os.makedirs(BUILD, exist_ok=True)
    with open(os.path.join(BUILD, "lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        return build_locked(jars, srcs)


def build_locked(jars, srcs):
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    stamp = h.hexdigest()
    classes = os.path.join(BUILD, "classes")
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.isdir(classes) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                return classes
    staging = os.path.join(BUILD, "classes.new")
    shutil.rmtree(staging, ignore_errors=True)
    os.makedirs(staging)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cp = os.path.join(jars, "*")
    t0 = time.time()
    cmd = ["java", "-Xmx3g", "-Xss8m", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-encoding", "UTF-8", "-d", staging, "-classpath", cp,
           "@" + argfile]
    try:
        r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr,
                           timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    if r.returncode != 0:
        fail(f"build failed (scalac exit {r.returncode})")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(staging, classes)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    print(f"perfbench: built {len(srcs)} sources in {time.time() - t0:.1f} s",
          file=sys.stderr)
    return classes


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=["serve", "curate"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--gencheck", action="store_true",
                    help="check the input generator's determinism and shape")
    a = ap.parse_args()
    if not a.gencheck and not a.workload:
        ap.error("--workload is required")
    jars = spark_jars()
    classes = build(jars)
    work = os.path.join(ROOT, ".bench_build", "work",
                        f"{a.workload or 'gencheck'}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = (["java", "-Xmx2g", "-Xss8m"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + [f"-Dlog4j2.configurationFile={os.path.join(BENCH, 'log4j2.properties')}",
              f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
              "-cp", classes + os.pathsep + os.path.join(jars, "*"),
              "perfbench.Main",
              "--workload", a.workload or "gencheck", "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--work", work])
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True)
    watchdog = threading.Timer(RUN_TIMEOUT_S, proc.kill)
    watchdog.start()
    try:
        for line in proc.stdout:
            sys.stdout.write(line)
            sys.stdout.flush()
        code = proc.wait()
        if not watchdog.is_alive():
            print("perfbench: run overran its time limit", file=sys.stderr)
            code = 3
    finally:
        watchdog.cancel()
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    sys.exit(code)


if __name__ == "__main__":
    main()
