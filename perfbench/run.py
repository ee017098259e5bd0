#!/usr/bin/env python3
"""Repository benchmark: one command per (workload, seed) run.

    python3 perfbench/run.py --workload <warc-etl|curation-release|store-ingest>
                             --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the program and the
benchmark from source into .bench_build/ (see perfbench/build.sh); later
runs reuse the build while the sources are unchanged. Inputs are
generated from the seed and cached per seed under .bench_build/inputs/.
Each run gets its own working directory (warehouse, Spark local dirs,
outputs) under .bench_build/run/, removed when the run ends.

The environment is pinned so the numbers measure the program: Spark runs
local[nproc], the JVM heap is sized from MemTotal like the repository's
test command, and SPARK_GRAFT_EXTRA_CONF is dropped.

The last line of standard output is the result JSON: correct, attempted,
failed and metrics (the end-to-end metrics with --trace 0, the per-layer
metrics with --trace 1). Lines before it are a readable report. On any
failure the script exits non-zero and prints no result.
"""
import argparse
import fcntl
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "classes")
WORKLOADS = ("warc-etl", "curation-release", "store-ingest")
RUN_TIMEOUT_S = 170

# JDK 17 module opens Spark needs outside spark-submit (as in build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def source_digest():
    """Digest of every build input: a change to any of them rebuilds."""
    paths = [os.path.join(ROOT, "perfbench", "build.sh")]
    for top in ("src/main", "perfbench/src"):
        for d, _, files in os.walk(os.path.join(ROOT, top)):
            paths += [os.path.join(d, f) for f in files]
    h = hashlib.sha256()
    for p in sorted(paths):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    for need in ("src/main/scala", "perfbench/src"):
        if not os.path.isdir(os.path.join(ROOT, need)):
            fail(f"cannot build: {need} is missing")
    os.makedirs(BUILD, exist_ok=True)
    with open(os.path.join(BUILD, ".lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        digest = source_digest()
        stamp = os.path.join(BUILD, "classes.stamp")
        if os.path.exists(stamp) and open(stamp).read() == digest:
            return
        t0 = time.time()
        # cached inputs belong to the generator of the previous build
        shutil.rmtree(os.path.join(BUILD, "inputs"), ignore_errors=True)
        r = subprocess.run(["bash", "perfbench/build.sh", CLASSES, spark_jars()], cwd=ROOT,
                           stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                           timeout=800)
        if r.returncode != 0:
            sys.stderr.write(r.stdout.decode(errors="replace")[-4000:])
            fail("build failed")
        with open(stamp, "w") as fh:
            fh.write(digest)
        print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr)


def spark_jars():
    """The Spark jar directory the sbt build compiles against."""
    with open(os.path.join(ROOT, "build.sbt")) as fh:
        m = re.search(r'unmanagedBase := file\("([^"]+)"\)', fh.read())
    if not m:
        fail("build.sbt names no unmanagedBase jar directory")
    return m.group(1)


def heap():
    g = 2
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                g = int(line.split()[1]) // 2097152
    return f"{min(8, max(2, g))}g"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    build()
    work = os.path.join(BUILD, "run", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    env = dict(os.environ)
    env.pop("SPARK_GRAFT_EXTRA_CONF", None)
    env["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    result = os.path.join(work, "result.json")
    # the heap is sized once (Xms = Xmx) with a fixed young generation,
    # so how much of it gets touched does not hinge on G1's timing-driven
    # resizing; with the full GC before each operation (Main.settled) the
    # high-water mark is a property of the operations
    cmd = (["java", f"-Xms{heap()}", f"-Xmx{heap()}", "-Xmn1g"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
              f"-Dspark.hadoop.hadoop.tmp.dir={os.path.join(work, 'tmp')}",
              "-cp", f"{CLASSES}:{ROOT}/src/main/resources:{spark_jars()}/*",
              "graft.perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--inputs", os.path.join(BUILD, "inputs"), "--work", work,
              "--result", result, "--spans",
              os.path.join(BUILD, "traces", f"{a.workload}-seed{a.seed}.json")])
    log = os.path.join(BUILD, "run", f"{a.workload}-seed{a.seed}-trace{a.trace}.log")
    try:
        with open(log, "wb") as out:
            p = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=out,
                                 stderr=subprocess.STDOUT)
            try:
                rc = p.wait(timeout=RUN_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                p.kill()
                p.wait()
                fail(f"run exceeded {RUN_TIMEOUT_S} s; log: {log}")
        if rc != 0 or not os.path.exists(result):
            with open(log, "rb") as fh:
                sys.stderr.write(fh.read().decode(errors="replace")[-4000:])
            fail(f"run failed (exit {rc}); log: {log}")
        with open(result) as fh:
            res = json.load(fh)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for line in res.pop("report"):
        print(line)
    print(json.dumps(res))


if __name__ == "__main__":
    main()
