#!/usr/bin/env python3
"""Runs one benchmark workload and prints its result (see README.md).

    python3 cdcbench/run.py --workload trickle --seed 1 --seconds 10 --trace 0
    python3 cdcbench/run.py --self-test
    python3 cdcbench/run.py --record-rows      # re-record corpus row counts

Run from the repository root or anywhere else; all output stays under
<root>/.bench_build. The last line of standard output is the JSON result.
"""
import argparse
import os
import shutil
import signal
import subprocess
import sys

import build

WORKLOADS = ("backfill", "trickle", "mor_serve", "corpus")
# the sf0.01 test tables (TESTDATA.md) the corpus workload reads
SF_DIR = os.environ.get("CDCBENCH_SF_DIR", os.path.join(os.path.expanduser("~"), "testdata", "sf0.01"))
ROWS = os.path.join(build.BENCH, "corpus_rows.tsv")
TIMEOUT_S = 170

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def jvm(classes, main, args, scratch):
    jars_dir, _ = build.spark_jars()
    tmp = os.path.join(scratch, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    # -XX:-UsePerfData: no hsperfdata file in the system temp directory
    return ["java", *opens, "-Xms1g", "-Xmx4g", "-XX:+UseG1GC", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            "-cp", f"{classes}:{jars_dir}/*", main, *args]


def source_id():
    try:
        r = subprocess.run(["git", "-C", build.ROOT, "rev-parse", "HEAD"], capture_output=True, text=True)
        if r.returncode == 0:
            return r.stdout.strip()
    except OSError:
        pass
    return "unknown"


def run_jvm(cmd, scratch):
    """Runs the JVM, passing its output through; returns its exit code, or
    None after killing it on timeout or when this process is terminated."""
    # an inherited SPARK_LOCAL_DIRS would outrank spark.local.dir and move
    # shuffle files out of the run's scratch
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(scratch, "work", "spark-local"))
    p = subprocess.Popen(cmd, cwd=build.ROOT, env=env)

    def stop(signum, _frame):
        p.kill()
        p.wait()
        raise SystemExit(128 + signum)

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        return p.wait(timeout=TIMEOUT_S)
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        print(f"benchmark JVM killed after {TIMEOUT_S} s", file=sys.stderr)
        return None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true")
    ap.add_argument("--record-rows", action="store_true")
    a = ap.parse_args()
    if not (a.self_test or a.record_rows) and (a.workload is None or a.seed is None or a.seconds is None):
        ap.error("--workload, --seed and --seconds are required")
    try:
        classes = build.build(tests=a.self_test)
    except build.BuildError as e:
        print(f"cannot build the benchmark: {e}", file=sys.stderr)
        return 2
    scratch = os.path.join(build.BUILD, f"run-{os.getpid()}")
    shutil.rmtree(scratch, ignore_errors=True)
    os.makedirs(scratch)
    try:
        if a.self_test:
            rc = run_jvm(jvm(classes, "cdcbench.SelfTest", [], scratch), scratch)
        else:
            workload = "record-rows" if a.record_rows else a.workload
            args = ["--workload", workload, "--seed", str(a.seed or 0), "--seconds", str(a.seconds or 0),
                    "--trace", str(a.trace), "--work", os.path.join(scratch, "work"),
                    "--out", os.path.join(build.BUILD, "results"), "--rows", ROWS, "--sf", SF_DIR,
                    "--commit", source_id()]
            rc = run_jvm(jvm(classes, "cdcbench.Main", args, scratch), scratch)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    return 1 if rc is None else rc


if __name__ == "__main__":
    sys.exit(main())
