#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <mapreduce|query_mix>
        --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Builds the harness together with the
program's sources (sbt, offline) when they changed since the last build,
runs one workload in one JVM, checks query_mix results against their
DuckDB oracles, and prints one JSON object as the last line of stdout:
end-to-end metrics with --trace 0, per-layer metrics with --trace 1.
Everything the run writes stays under perfbench/.work and perfbench/target.
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
WORK = os.path.join(HERE, ".work")
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
CLASSPATH = os.path.join(HERE, "target", "perfbench-classpath.txt")
STAMP = os.path.join(HERE, "target", "perfbench-sources.sha256")
DEADLINE_S = 170
# query_mix's tables: a copy of the sf0.01 test tables it reads
SF_DIR = os.path.join(HERE, "data", "sf0.01")
HEAP = "3g"
WORKLOADS = ("mapreduce", "query_mix")

# Spark 4 on JDK 17 outside spark-submit needs these (the main build's
# javaOptions use the same list).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_files():
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in (PROGRAM_SRC, os.path.join(HERE, "src")):
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    return sorted(f for f in files if os.path.isfile(f))


def source_hash():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


_children = set()


def _kill(p):
    if p.poll() is None:
        os.killpg(p.pid, signal.SIGKILL)
    p.wait()


def _on_signal(signum, _frame):
    for p in list(_children):
        _kill(p)
    sys.exit(128 + signum)


def run_bounded(cmd, deadline, **kw):
    """Runs cmd in its own process group (so sbt's and Spark's children
    die with it); kills the group at the deadline or when this script is
    interrupted."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    _children.add(p)
    try:
        return p.wait(timeout=max(1.0, deadline - time.monotonic()))
    except subprocess.TimeoutExpired:
        sys.exit(f"perfbench: {cmd[0]} did not finish before the deadline")
    finally:
        _kill(p)
        _children.discard(p)


def build(deadline):
    """Compiles harness + program once per source state; returns the
    classpath."""
    if not os.path.isdir(os.path.join(PROGRAM_SRC, "graft")):
        sys.exit("perfbench: program sources (src/main/scala/graft) not found")
    digest = source_hash()
    if os.path.exists(STAMP) and os.path.exists(CLASSPATH):
        with open(STAMP) as f:
            if f.read().strip() == digest:
                with open(CLASSPATH) as c:
                    return c.read().strip()
    os.makedirs(WORK, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true"
                       " -Dsbt.server.autostart=false").strip()
    out_path = os.path.join(WORK, "build.log")
    log("building (sbt compile) ...")
    with open(out_path, "w") as out:
        rc = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true",
                          "compile", "export Runtime/fullClasspath"],
                         deadline, cwd=HERE, env=env, stdout=out,
                         stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    with open(out_path) as f:
        lines = f.read().splitlines()
    cp = [l for l in lines if "scala-2.13/classes" in l and not l.startswith("[")]
    if rc != 0 or not cp:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        sys.exit(f"perfbench: build failed (sbt exit {rc})")
    with open(CLASSPATH, "w") as f:
        f.write(cp[-1].strip())
    with open(STAMP, "w") as f:
        f.write(digest)
    return cp[-1].strip()


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    a = ap.parse_args()
    deadline = time.monotonic() + DEADLINE_S
    # The first run in a fresh checkout compiles; the contract allows it
    # a longer deadline.
    classpath = build(time.monotonic() + 850)
    deadline = max(deadline, time.monotonic() + 150)

    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    trace_dir = os.path.join(WORK, "trace")
    out = os.path.join(run_dir, "result.json")
    os.makedirs(os.path.join(run_dir, "tmp"), exist_ok=True)
    cmd = (["java", f"-Xmx{HEAP}", "-XX:ReservedCodeCacheSize=512m",
            "-XX:MaxMetaspaceSize=1g", f"-Djava.io.tmpdir={run_dir}/tmp",
            "-Dspark.ui.enabled=false"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--sf-dir", SF_DIR, "--work", run_dir,
              "--out", out, "--trace-dir", trace_dir])
    try:
        env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"))
        rc = run_bounded(cmd, deadline, stdout=sys.stderr, env=env,
                         stdin=subprocess.DEVNULL)
        if rc != 0 or not os.path.exists(out):
            sys.exit(f"perfbench: benchmark JVM failed (exit {rc})")
        with open(out) as f:
            res = json.load(f)
        failures = list(res["failures"])
        attempted, failed = res["attempted"], res["failed"]
        if a.workload == "query_mix":
            import oracle
            checked, bad = oracle.check(os.path.join(run_dir, "ref"), SF_DIR)
            attempted += checked
            failed += len(bad)
            failures += bad
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    for msg in failures:
        log(f"FAILED {msg}")
    log(f"inputs {json.dumps(res['inputs'])} samples "
        f"{json.dumps(res['samples'])} host {json.dumps(res['host'])}")
    if a.trace:
        metrics = res["per_layer"]
        # counts the oracle checks too, which the JVM does not see
        metrics["failed_ratio"] = {"value": failed / attempted, "unit": "ratio"}
    else:
        metrics = res["end_to_end"]
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    sys.path.insert(0, HERE)
    signal.signal(signal.SIGTERM, _on_signal)
    signal.signal(signal.SIGINT, _on_signal)
    main()
