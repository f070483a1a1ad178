#!/usr/bin/env python3
"""graft pipeline-service benchmark: build, run one workload, print metrics.

    python3 perfbench/run.py --workload short --seed 1 --seconds 15 --trace 0

Run from the repository root. The first run in a checkout builds the
program and the benchmark with sbt; later runs reuse that build while the
sources are unchanged. Every metric is printed by name with its unit; the
last line of standard output is the result as one JSON object. With
--trace 1 the run reports the per-layer metrics instead of the end-to-end
ones. Inputs are the read-only sf0.1 fixtures (SPARK_GRAFT_SF_DIR
overrides where they are); the seed only permutes submission order.
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
WORKLOADS = ("short", "service")
BUILD_TIMEOUT_S = 700
SETUP_ALLOWANCE_S = 60
MAX_RUN_S = 170


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def build_dir():
    return os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR",
                                             ".bench_build"))


def source_files():
    """Every file the build reads from the program and the benchmark."""
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for proj in (os.path.join(ROOT, "project"), os.path.join(HERE, "project")):
        if os.path.isdir(proj):
            files += [os.path.join(proj, f) for f in sorted(os.listdir(proj))
                      if f.endswith((".sbt", ".properties"))]
    for src in (os.path.join(ROOT, "src", "main"),
                os.path.join(HERE, "src", "main")):
        for d, dirs, fs in os.walk(src):
            dirs.sort()
            files += [os.path.join(d, f) for f in sorted(fs)]
    return files


def source_stamp():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def launch_args(bdir):
    """JVM options and classpath, building first if the sources changed."""
    stamp_file = os.path.join(bdir, "build.stamp")
    launch_file = os.path.join(bdir, "launch.txt")
    stamp = source_stamp()
    if os.path.exists(stamp_file) and os.path.exists(launch_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(launch_file) as g:
                    return g.read().splitlines()
    print("perfbench: building (sbt launchSpec)", file=sys.stderr)
    try:
        r = subprocess.run(["sbt", "-batch", "launchSpec"], cwd=HERE,
                           stdout=sys.stderr, stderr=sys.stderr,
                           stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out", 1)
    if r.returncode != 0:
        fail(f"build failed (sbt exit {r.returncode})", 1)
    os.makedirs(bdir, exist_ok=True)
    shutil.copyfile(os.path.join(HERE, "target", "launch.txt"), launch_file)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    with open(launch_file) as g:
        return g.read().splitlines()


def run_jvm(cmd, timeout_s):
    """Run the benchmark JVM, echo its stdout, return (exit code, lines).
    The JVM is stopped when it runs past timeout_s, silent or not."""
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                            stdin=subprocess.DEVNULL, text=True,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=timeout_s)
    except subprocess.TimeoutExpired:
        out = None
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.communicate()
    if out is None:
        fail(f"run exceeded {timeout_s:.0f}s and was stopped", 1)
    lines = out.splitlines()
    for line in lines:
        print(line)
    sys.stdout.flush()
    return proc.returncode, lines


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail(f"no graft program to build in {ROOT}")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR",
                            os.path.expanduser("~/testdata/sf0.1"))
    if not os.path.isfile(os.path.join(sf_dir, "lineitem.parquet")):
        fail(f"no sf0.1 fixtures in {sf_dir} (set SPARK_GRAFT_SF_DIR)")

    bdir = build_dir()
    jvm = launch_args(bdir)
    work = os.path.join(bdir, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    # the run's own temporary directory: what pipelines leave in it is
    # this run's leak, and it goes when the run ends
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # set-up time runs from here: JVM start, session, warm-up pipeline
    t0_ns = time.time_ns()
    cmd = ["java"] + jvm + [
        f"-Djava.io.tmpdir={tmp}",
        f"-Dspark.local.dir={work}/spark-local",
        f"-Dspark.sql.warehouse.dir={work}/warehouse",
        "perfbench.Main",
        "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", a.trace,
        "--sf", sf_dir, "--work", work,
        "--expected", os.path.join(HERE, "expected.tsv"),
        "--t0-ns", str(t0_ns)]
    # set-up plus three times the nominal run (a traced run makes twice
    # the passes, see README.md), and never more than MAX_RUN_S
    timeout_s = min(MAX_RUN_S, SETUP_ALLOWANCE_S +
                    3 * a.seconds * (2 if a.trace == "1" else 1))
    try:
        rc, lines = run_jvm(cmd, timeout_s)
    finally:
        traces = os.path.join(bdir, "traces")
        os.makedirs(traces, exist_ok=True)
        for f in os.listdir(work):
            if f.startswith("trace-"):
                shutil.move(os.path.join(work, f), os.path.join(traces, f))
        shutil.rmtree(work, ignore_errors=True)
    if rc != 0 or not lines:
        fail(f"benchmark JVM exited {rc}", 1)
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        fail("malformed result line", 1)


if __name__ == "__main__":
    main()
