#!/usr/bin/env python3
"""Closed-loop benchmark of the graft engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Builds the engine and the benchmark from
source with sbt when their sources changed since the last build, then runs
one workload in one JVM with a pinned session and a fixed heap. The last
line of stdout is one JSON object: correct, attempted, failed, metrics.
Exits non-zero, without a result line, when the build or the run fails.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
STAMP = os.path.join(TARGET, "build.stamp")
RUNS = os.path.join(TARGET, "runs")
WORKLOADS = ("etl_reload", "store_upsert", "corpus_serve")

# Fixed heap (-Xms = -Xmx) and young generation, so heap_peak_mb and GC
# behaviour do not depend on the machine's memory size.
JVM_FLAGS = ["-Xms2g", "-Xmx2g", "-Xmn512m", "-XX:+UseG1GC", "-Dfile.encoding=UTF-8"]
# What spark-submit adds for Spark on JDK 17.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
BUILD_TIMEOUT_S = 700


def run_timeout(seconds, trace):
    """Wall allowed for one run: JVM and session start, set-up and warm-up,
    then the timed loops: one of `seconds` untraced; with --trace 1 two
    halves around a traced loop, plus the traced phase of a companion
    workload (store_upsert drives corpus_serve). Never above 175 s."""
    return min(175, 60 + seconds * (6 if trace else 3))


def fail(msg, code=1):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources():
    """Every file the build reads, in a stable order."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def source_hash():
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark installation: set SPARK_HOME")
    return home


def build(home):
    digest = source_hash()
    classes = [os.path.join(ROOT, "target", "scala-2.13", "classes"),
               os.path.join(TARGET, "scala-2.13", "classes")]
    if os.path.exists(STAMP) and all(os.path.isdir(c) for c in classes):
        with open(STAMP) as fh:
            if fh.read().strip() == digest:
                return classes
    env = dict(os.environ, SPARK_HOME=home)
    try:
        p = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile"], cwd=HERE, env=env,
                           stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                           timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:])
        fail("build failed")
    os.makedirs(TARGET, exist_ok=True)
    with open(STAMP, "w") as fh:
        fh.write(digest + "\n")
    return classes


def on_signal(signum, _frame):
    # unwinds through subprocess.run, which kills and reaps its child, and
    # through the finally that removes the run's scratch root
    raise SystemExit(128 + signum)


def main():
    for sig in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
        signal.signal(sig, on_signal)
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"no engine sources under {ROOT}: run from the root of a full checkout", 2)
    home = spark_home()
    classes = build(home)
    cp = os.pathsep.join(classes + [os.path.join(home, "jars", "*")])
    os.makedirs(RUNS, exist_ok=True)
    scratch = os.path.join(RUNS, uuid.uuid4().hex[:12])
    # native libraries Spark unpacks land in the run's scratch, not in /tmp
    os.makedirs(os.path.join(scratch, "tmp"))
    cmd = (["java"] + JVM_FLAGS + [f"-Djava.io.tmpdir={os.path.join(scratch, 'tmp')}"]
           + [f"--add-opens={m}=ALL-UNNAMED" for m in ADD_OPENS]
           + ["-cp", cp, "graft.perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace), "--root", scratch,
              "--spans", os.path.join(TARGET, "spans", f"{a.workload}_{a.seed}.jsonl")])
    log = os.path.join(TARGET, "last_run.log")
    timeout = run_timeout(a.seconds, a.trace)
    try:
        with open(log, "w") as err:
            p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=err, text=True,
                               timeout=timeout)
    except subprocess.TimeoutExpired:
        fail(f"run exceeded {timeout} s")
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    lines = p.stdout.splitlines()
    result = None
    if p.returncode == 0 and lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            result = None
    if result is None or set(result) != {"correct", "attempted", "failed", "metrics"}:
        sys.stderr.write("\n".join(lines) + "\n")
        with open(log) as fh:
            sys.stderr.write(fh.read()[-4000:])
        fail(f"run failed (exit {p.returncode}); stderr in {log}")
    print("\n".join(lines))


if __name__ == "__main__":
    main()
