#!/usr/bin/env python3
"""Run one workload of the graft feature-store benchmark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <n> --trace <0|1>

Run from the root of a graft checkout. The first run builds graft and the
benchmark with sbt (perfbench/build.sbt); later runs rebuild only when a
source file changed. The last line of standard output is the JSON result.
"""
import argparse
import hashlib
import os
import shutil
import subprocess
import sys
import time

START = time.time()

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
WORK = os.path.join(TARGET, "work")
# The JIT each workload runs under, chosen so that a run of ten-odd
# seconds measures graft rather than compilation progress: under the
# default tiered JIT the Spark-bound workloads keep speeding up for 15+
# operations (a retrieval from 2.0 to 1.1 s), so they run with C1 only; the
# online loop settles within a second under C2, while under C1 it flips
# between two speeds (about 2.2 and 4 ms per lookup) from one second to the
# next. The heap is fixed and collected serially because the online loop
# allocates about 0.6 GB/s, and concurrent collectors made its median
# wander between runs.
JIT = {
    "training_set": ["-XX:TieredStopAtLevel=1"],
    "online_serving": [],
    "feature_refresh": ["-XX:TieredStopAtLevel=1"],
}
WORKLOADS = tuple(JIT)

# Spark 4 on JDK 17 needs these outside spark-submit (graft's build.sbt
# passes the same list to forked runs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def sources():
    """Every file the build reads, in a stable order."""
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for d in (os.path.join(ROOT, "project"), os.path.join(HERE, "project")):
        files += [os.path.join(d, f) for f in sorted(os.listdir(d))
                  if f.endswith((".sbt", ".properties", ".scala"))]
    for d in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for dirpath, dirnames, filenames in os.walk(d):
            dirnames.sort()
            files += [os.path.join(dirpath, f) for f in sorted(filenames)]
    return files


def build():
    """Compile with sbt unless the sources are unchanged since the last
    build; return the runtime classpath."""
    digest = hashlib.sha256()
    for f in sources():
        digest.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            digest.update(fh.read())
    stamp = os.path.join(TARGET, "build.stamp")
    classpath = os.path.join(TARGET, "classpath.txt")
    if not (os.path.exists(classpath) and os.path.exists(stamp)
            and open(stamp).read() == digest.hexdigest()):
        env = dict(os.environ)
        env.setdefault("COURSIER_MODE", "offline")
        proc = subprocess.run(
            ["sbt", "-batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true",
             "writeClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
            text=True)
        if proc.returncode != 0:
            sys.stderr.write(proc.stdout)
            sys.exit("perfbench: build failed")
        with open(stamp, "w") as fh:
            fh.write(digest.hexdigest())
        # a build happens once per checkout and is not part of set-up
        global START
        START = time.time()
    return open(classpath).read().strip()


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        sys.exit("perfbench: no graft sources next to perfbench/ "
                 "(run from the root of a graft checkout)")
    classpath = build()

    for d in ("data", "spark-local", "warehouse"):
        shutil.rmtree(os.path.join(WORK, d), ignore_errors=True)
    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
    cmd = (["java", "-Xms1g", "-Xmx1g", "-XX:+UseSerialGC"] + JIT[args.workload]
           + ["-Djava.io.tmpdir=" + os.path.join(WORK, "tmp")]
           + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
           + ["-cp", classpath, "graft.perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--work", WORK, "--start", repr(START)])
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(WORK, "spark-local"))
    proc = subprocess.run(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE, text=True)
    out = proc.stdout.rstrip("\n").splitlines()
    sys.stdout.write(proc.stdout)
    if proc.returncode != 0 or not out or not out[-1].startswith("{"):
        sys.exit("perfbench: the benchmark JVM exited with code %d" % proc.returncode)


if __name__ == "__main__":
    main()
