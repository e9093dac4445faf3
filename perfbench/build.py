#!/usr/bin/env python3
"""Compile the program under test and the benchmark package, offline.

Two compiler passes, both with the Scala 2.13 compiler that ships in the
Spark distribution's jars directory (no sbt, no dependency resolution):

  1. the program's own sources, ``src/main/scala``, into ``program/``;
  2. the benchmark package, ``perfbench/src``, against those classes,
     into ``bench/``.

Outputs land under ``.bench_build/build-<digest>/`` in the checkout. The
digest covers every source file of both passes, so an unchanged tree
reuses its classes and any edit rebuilds from scratch.

Usage: python3 perfbench/build.py   (from the repository root)
Prints the two class directories, one per line.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

BUILD_ROOT = ".bench_build"
PROGRAM_SRC = os.path.join("src", "main", "scala")
BENCH_SRC = os.path.join("perfbench", "src")


def spark_jars():
    """The Spark distribution's jars: $SPARK_HOME, else spark-submit's."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    jars = os.path.join(home or ".", "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-2.13*.jar")):
        raise SystemExit(f"no Scala 2.13 compiler under {jars} (set SPARK_HOME)")
    return jars


def sources(d):
    found = sorted(glob.glob(os.path.join(d, "**", "*.scala"), recursive=True))
    if not found:
        raise SystemExit(f"no Scala sources under {d}: run from the repository root")
    return found


def digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def scalac(jars, classpath, out, files, log):
    os.makedirs(out)
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", out,
           "-classpath", classpath] + files
    r = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT)
    if r.returncode != 0:
        raise SystemExit(f"compilation into {out} failed (see {log.name})")


def build():
    """Return (program_classes, bench_classes), compiling when needed."""
    jars = spark_jars()
    prog, bench = sources(PROGRAM_SRC), sources(BENCH_SRC)
    target = os.path.join(BUILD_ROOT, "build-" + digest(prog + bench))
    prog_out, bench_out = os.path.join(target, "program"), os.path.join(target, "bench")
    if os.path.isdir(target):
        return prog_out, bench_out
    staging = target + ".tmp"
    shutil.rmtree(staging, ignore_errors=True)
    os.makedirs(staging)
    with open(os.path.join(BUILD_ROOT, "build.log"), "w") as log:
        scalac(jars, os.path.join(jars, "*"), os.path.join(staging, "program"), prog, log)
        scalac(jars, os.pathsep.join([os.path.join(staging, "program"), os.path.join(jars, "*")]),
               os.path.join(staging, "bench"), bench, log)
    os.rename(staging, target)
    return prog_out, bench_out


if __name__ == "__main__":
    for d in build():
        print(d)
    sys.exit(0)
