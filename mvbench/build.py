#!/usr/bin/env python3
"""Compile the engine (src/main/scala) together with the benchmark
(mvbench/src) into mvbench/.build/classes with the Scala compiler that
ships in the jars directory of the Spark distribution at $SPARK_HOME.

    python3 mvbench/build.py

Skips the compile when a stamp of every source file's content matches
the last successful build. Exits non-zero when the engine sources are
absent or do not compile.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(BENCH, "src")
OUT = os.path.join(BENCH, ".build")
CLASSES = os.path.join(OUT, "classes")
STAMP = os.path.join(OUT, "stamp")


def spark_jars():
    """The Spark distribution's jars directory, from SPARK_HOME."""
    jars = os.path.join(os.environ.get("SPARK_HOME", ""), "jars")
    if not os.environ.get("SPARK_HOME") or not os.path.isdir(jars):
        sys.exit("build: set SPARK_HOME to a Spark distribution")
    return jars


def sources():
    files = []
    for top in (ENGINE_SRC, BENCH_SRC):
        files += glob.glob(os.path.join(top, "**", "*.scala"), recursive=True)
    return sorted(files)


def stamp(files, jars):
    h = hashlib.sha256()
    h.update(" ".join(sorted(os.listdir(jars))).encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Returns True when it compiled, False when the build was current."""
    if not os.path.isdir(ENGINE_SRC):
        sys.exit(f"build: engine sources not found at {ENGINE_SRC}")
    jars = spark_jars()
    files = sources()
    want = stamp(files, jars)
    if os.path.isfile(STAMP) and open(STAMP).read().strip() == want \
            and os.path.isdir(CLASSES):
        return False
    compiler = sorted(glob.glob(os.path.join(jars, "scala-compiler-*.jar")))
    if not compiler:
        sys.exit(f"build: no scala-compiler jar in {jars}")
    tool_cp = ":".join(compiler + [
        os.path.join(jars, os.path.basename(c).replace("compiler", name))
        for c in compiler[:1] for name in ("library", "reflect")])
    tmp = CLASSES + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", tool_cp, "scala.tools.nsc.Main",
           "-nowarn", "-classpath", os.path.join(jars, "*"), "-d", tmp,
           "@" + argfile]
    print(f"build: compiling {len(files)} sources", file=sys.stderr, flush=True)
    if subprocess.run(cmd, stdout=sys.stderr).returncode != 0:
        sys.exit("build: compile failed")
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.rename(tmp, CLASSES)
    with open(STAMP, "w") as fh:
        fh.write(want + "\n")
    return True


if __name__ == "__main__":
    build()
