#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles the engine (`src/main/scala` at the repository root) together
with the benchmark's own sources (`perfbench/src`) into
`.bench_build/classes`, using the Scala compiler that ships with the
Spark distribution (`$SPARK_HOME/jars`, else the jars directory the
repository's build.sbt uses).
No dependency is resolved or downloaded. A stamp over every source
file's path and content skips the compile when nothing changed.

Usage: python3 perfbench/build.py        (prints the classes directory)
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
BUILD_DIR = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD_DIR, "classes")
STAMP = os.path.join(BUILD_DIR, "classes.stamp")
# generator output cached by the runs; stale once the sources change
GEN_CACHE = os.path.join(BUILD_DIR, "gen")


class BuildError(Exception):
    pass


def spark_jars():
    """The Spark distribution's jars directory (it must hold scalac)."""
    candidates = []
    if os.environ.get("SPARK_HOME"):
        candidates.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m:
            candidates.append(m.group(1))
    for jars in candidates:
        if glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
            return jars
    raise BuildError("no Spark distribution with a Scala compiler found; set SPARK_HOME")


def sources():
    engine = os.path.join(ROOT, "src", "main", "scala")
    eng = sorted(glob.glob(os.path.join(engine, "**", "*.scala"), recursive=True))
    if not eng:
        raise BuildError(f"engine sources not found under {engine}")
    own = sorted(glob.glob(os.path.join(BENCH_DIR, "src", "**", "*.scala"), recursive=True))
    if not own:
        raise BuildError(f"benchmark sources not found under {BENCH_DIR}/src")
    return eng + own


def build():
    """Compile if any source changed; return the classes directory."""
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    stamp = h.hexdigest()
    if os.path.exists(STAMP) and open(STAMP).read() == stamp:
        return CLASSES
    shutil.rmtree(CLASSES, ignore_errors=True)
    shutil.rmtree(GEN_CACHE, ignore_errors=True)
    os.makedirs(CLASSES)
    cp = os.path.join(jars, "*")
    argfile = os.path.join(BUILD_DIR, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    r = subprocess.run(
        ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
         "-nowarn", "-d", CLASSES, "-cp", cp, "@" + argfile],
        stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise BuildError(f"scalac failed with exit code {r.returncode}")
    with open(STAMP, "w") as f:
        f.write(stamp)
    return CLASSES


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        print(f"build: {e}", file=sys.stderr)
        sys.exit(2)
