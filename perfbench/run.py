#!/usr/bin/env python3
"""Benchmark runner: builds the program with its benchmark harness and runs
one workload in one JVM.

    python3 perfbench/run.py --workload etl_ticks --seed 1 --seconds 8 --trace 0

Run from the root of a source tree. The first run builds (sbt, offline)
into perfbench/target; later runs reuse the build until a source file
changes. The last line of standard output is the result JSON; the line
before it is the run context. See perfbench/README.md.
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
PROGRAM_SRC = os.path.join(ROOT, "src", "main")
DATA = os.path.join(BENCH, "data", "sf0.1")
CLASSPATH = os.path.join(BENCH, "target", "classpath.txt")
STAMP = os.path.join(BENCH, "target", "source.sha256")
WORKLOADS = ("etl_ticks", "bi_dashboard", "batch_rounds")
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 800
# Spark 4 on JDK 17 outside spark-submit needs these module opens
# (org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def source_digest():
    h = hashlib.sha256()
    tops = [PROGRAM_SRC, os.path.join(BENCH, "src"), os.path.join(BENCH, "build.sbt"),
            os.path.join(BENCH, "project", "build.properties")]
    for top in tops:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build(digest):
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP):
        with open(STAMP) as f:
            if f.read().strip() == digest:
                return
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx3g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    t0 = time.time()
    res = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                         cwd=BENCH, env=env, stdout=sys.stderr, stderr=sys.stderr,
                         timeout=BUILD_LIMIT_S)
    if res.returncode != 0 or not os.path.exists(CLASSPATH):
        fail("build failed")
    with open(STAMP, "w") as f:
        f.write(digest)
    print(f"[perfbench] built in {time.time() - t0:.1f}s", file=sys.stderr)


def loadavg():
    try:
        with open("/proc/loadavg") as f:
            return [float(x) for x in f.read().split()[:3]]
    except OSError:
        return None


def cpu_times():
    """Aggregate (busy, steal, total) jiffies from /proc/stat."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
        return v[0] + v[1] + v[2] + v[5] + v[6], v[7], sum(v[:8])
    except (OSError, ValueError, IndexError):
        return None


def cpu_share(start, end):
    """Busy and steal shares of all CPU time between two cpu_times()."""
    if not start or not end or end[2] <= start[2]:
        return None
    total = end[2] - start[2]
    return {"busy": round((end[0] - start[0]) / total, 4),
            "steal": round((end[1] - start[1]) / total, 4)}


def git_commit():
    try:
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                             text=True, timeout=10)
        return out.stdout.strip() if out.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isdir(PROGRAM_SRC) or not os.path.isdir(DATA):
        fail(f"no program sources at {PROGRAM_SRC} or no data at {DATA}")
    load_start = loadavg()
    digest = source_digest()
    build(digest)
    with open(CLASSPATH) as f:
        classpath = f.read().strip()

    run_dir = os.path.join(BENCH, "out", f"{args.workload}-seed{args.seed}-trace{args.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    cmd = ["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        "-Xmx3g", f"-Djava.io.tmpdir={run_dir}/tmp", f"-Dderby.system.home={run_dir}",
        "-cp", classpath, "perfbench.Main", args.workload, str(args.seed), str(args.seconds),
        str(args.trace), DATA, run_dir]
    started = time.time()
    cpu_start = cpu_times()
    with open(os.path.join(run_dir, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, cwd=run_dir, stdout=log, stderr=log,
                                start_new_session=True)
        try:
            code = proc.wait(timeout=RUN_LIMIT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            fail(f"run exceeded {RUN_LIMIT_S}s; log in {run_dir}/jvm.log")
    result_file = os.path.join(run_dir, "result.json")
    if code != 0 or not os.path.exists(result_file):
        with open(os.path.join(run_dir, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"JVM exited with {code}")
    with open(result_file) as f:
        res = json.load(f)
    # Keep the result, spans and log; drop tables and scratch.
    for d in ("warehouse", "local", "tmp", "metastore_db"):
        shutil.rmtree(os.path.join(run_dir, d), ignore_errors=True)

    context = dict(res.get("context", {}), workload=args.workload, seed=args.seed,
                   seconds=args.seconds, trace=args.trace, commit=git_commit(),
                   source_sha256=digest, loadavg_start=load_start, loadavg_end=loadavg(),
                   cpu_share=cpu_share(cpu_start, cpu_times()),
                   jvm_wall_s=round(time.time() - started, 3))
    print(json.dumps({"context": context}, sort_keys=True))
    print(json.dumps({k: res[k] for k in ("correct", "attempted", "failed", "metrics")}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
