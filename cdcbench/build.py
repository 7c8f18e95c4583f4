#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine sources (src/main/scala)
together with the benchmark's own sources (cdcbench/src, and cdcbench/test
for the self-tests) with the Scala compiler that ships in the Spark jars.

Output goes to .bench_build/classes-<hash> at the repository root, where
<hash> covers every compiled source, so an unchanged tree is not rebuilt.

    python3 cdcbench/build.py [--tests]      # prints the classes directory
"""
import fcntl
import glob
import hashlib
import os
import shutil
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
BUILD = os.path.join(ROOT, ".bench_build")


class BuildError(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home:
        raise BuildError("set SPARK_HOME (or put spark-submit on PATH)")
    jars = os.path.join(home, "jars")
    found = sorted(glob.glob(os.path.join(jars, "*.jar")))
    if not found:
        raise BuildError(f"no Spark jars under {jars}")
    return jars, found


def sources(tests):
    engine = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(engine):
        raise BuildError(f"engine sources not found at {engine}")
    dirs = [engine, os.path.join(BENCH, "src")] + ([os.path.join(BENCH, "test")] if tests else [])
    files = sorted(f for d in dirs for f in glob.glob(os.path.join(d, "**", "*.scala"), recursive=True))
    if not any(f.startswith(os.path.join(BENCH, "src")) for f in files):
        raise BuildError("benchmark sources not found")
    return files


def build(tests=False):
    """Returns the classes directory, compiling first if needed."""
    jars_dir, jars = spark_jars()
    files = sources(tests)
    h = hashlib.sha256()
    for f in files + [os.path.basename(j) for j in jars]:
        h.update(f.encode())
        if os.path.isfile(f):
            with open(f, "rb") as fh:
                h.update(fh.read())
    out = os.path.join(BUILD, "classes-" + h.hexdigest()[:16])
    os.makedirs(BUILD, exist_ok=True)
    with open(os.path.join(BUILD, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.isfile(os.path.join(out, ".complete")):
            return out
        tmp = out + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        compiler = [os.path.join(jars_dir, n) for n in ("scala-compiler-*.jar", "scala-library-*.jar",
                                                         "scala-reflect-*.jar")]
        compiler = [g for p in compiler for g in glob.glob(p)]
        argfile = os.path.join(BUILD, "sources.txt")
        with open(argfile, "w") as fh:
            fh.write("\n".join(files) + "\n")
        cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", ":".join(compiler), "scala.tools.nsc.Main",
               "-classpath", ":".join(jars), "-d", tmp, "-nowarn", "@" + argfile]
        r = subprocess.run(cmd)
        if r.returncode != 0:
            shutil.rmtree(tmp, ignore_errors=True)
            raise BuildError(f"scalac failed with exit code {r.returncode}")
        open(os.path.join(tmp, ".complete"), "w").close()
        shutil.rmtree(out, ignore_errors=True)
        os.rename(tmp, out)
        for old in glob.glob(os.path.join(BUILD, "classes-*")):
            if old != out:
                shutil.rmtree(old, ignore_errors=True)
        return out


if __name__ == "__main__":
    try:
        print(build(tests="--tests" in sys.argv[1:]))
    except BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(2)
