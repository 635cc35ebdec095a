#!/usr/bin/env python3
"""Compile the engine sources plus the benchmark sources into one class
directory, with the Scala compiler that ships in the Spark distribution
at $SPARK_HOME.

Usage: python3 perfbench/build.py   (from the repository root)

The output goes to .bench_build/perfbench/classes under the repository
root and is rebuilt only when a source file changes (a digest of every
source is stamped next to the classes). Exits non-zero when the engine
sources or the Spark distribution are missing.
"""
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
RESOURCES = os.path.join(ROOT, "src", "main", "resources")
BENCH_SRC = os.path.join(HERE, "src")
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
CLASSES = os.path.join(OUT, "classes")
SCALA_VERSION = "2.13.17"


def spark_jars():
    """The jars of the Spark distribution at $SPARK_HOME."""
    jars = os.path.join(os.environ.get("SPARK_HOME", ""), "jars")
    if not os.path.isdir(jars):
        raise SystemExit("build: no Spark jars at $SPARK_HOME/jars (set SPARK_HOME)")
    return sorted(os.path.join(jars, j) for j in os.listdir(jars) if j.endswith(".jar"))


def sources():
    for top in (ENGINE_SRC, BENCH_SRC):
        if not os.path.isdir(top):
            raise SystemExit(f"build: source directory {top} is missing")
    found = []
    for top in (ENGINE_SRC, BENCH_SRC):
        for d, _, files in os.walk(top):
            found += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def digest(files, jars):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    for j in jars:
        h.update(os.path.basename(j).encode())
    return h.hexdigest()


def classpath(jars):
    return os.pathsep.join([CLASSES, RESOURCES] + jars)


def build(log=sys.stderr):
    """Returns (classpath, source digest); compiles if anything changed."""
    jars = spark_jars()
    files = sources()
    stamp = os.path.join(OUT, "classes.stamp")
    dig = digest(files, jars)
    if os.path.isdir(CLASSES) and os.path.exists(stamp) and open(stamp).read() == dig:
        return classpath(jars), dig
    compiler = [j for j in jars if os.path.basename(j) in (
        f"scala-compiler-{SCALA_VERSION}.jar", f"scala-library-{SCALA_VERSION}.jar",
        f"scala-reflect-{SCALA_VERSION}.jar")]
    if len(compiler) != 3:
        raise SystemExit(f"build: Scala {SCALA_VERSION} compiler jars not in the Spark jars")
    tmp = CLASSES + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    print(f"build: compiling {len(files)} sources", file=log, flush=True)
    cmd = ["java", "-Xss16m", "-Xmx2g", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-classpath", os.pathsep.join(jars),
           "-d", tmp] + files
    r = subprocess.run(cmd, stdout=log, stderr=log)
    if r.returncode != 0:
        raise SystemExit(f"build: scalac failed with exit code {r.returncode}")
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.rename(tmp, CLASSES)
    with open(stamp, "w") as fh:
        fh.write(dig)
    return classpath(jars), dig


if __name__ == "__main__":
    cp, dig = build()
    print(dig)
