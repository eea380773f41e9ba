#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles the engine (`src/main/scala`) together with the harness
(`perfbench/harness`) into `.bench_build/classes` with the Scala compiler
that ships among the Spark jars the engine builds against. No sbt, no network, and
nothing written outside the checkout. A stamp over every source file makes
a rebuild a no-op when nothing changed.

Usage: python3 perfbench/build.py
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "classes")


class BuildError(Exception):
    pass


def sources():
    engine = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"),
                              recursive=True))
    if not engine:
        raise BuildError(f"no engine sources under {ROOT}/src/main/scala")
    harness = sorted(glob.glob(os.path.join(HERE, "harness/**/*.scala"),
                               recursive=True))
    return engine + harness


def spark_jars():
    """The Spark jars the engine compiles against: the `unmanagedBase`
    directory its build.sbt declares, else `$SPARK_HOME/jars`."""
    candidates = []
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(sbt):
        with open(sbt) as f:
            candidates += re.findall(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if os.environ.get("SPARK_HOME"):
        candidates.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    for d in candidates:
        if os.path.isdir(d):
            return d
    raise BuildError(f"Spark jars not found (tried {candidates})")


def classpath():
    return os.path.join(spark_jars(), "*")


def stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def java_base():
    """JVM flags for the compiler: no perf-data file and temp files only
    inside the build dir."""
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return ["java", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}"]


def build():
    """Compile if any source changed; return the classes directory."""
    files = sources()
    cp = classpath()
    want = stamp(files)
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.isdir(CLASSES) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == want:
                return CLASSES
    staging = CLASSES + ".new"
    shutil.rmtree(staging, ignore_errors=True)
    os.makedirs(staging)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(files) + "\n")
    cmd = java_base() + ["-Xmx3g", "-Xss8m", "-cp", cp, "scala.tools.nsc.Main",
                         "-d", staging, "-classpath", cp, "-nowarn", f"@{argfile}"]
    r = subprocess.run(cmd, capture_output=True, text=True)
    if r.returncode != 0:
        raise BuildError("scalac failed:\n" + (r.stdout + r.stderr)[-4000:])
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.rename(staging, CLASSES)
    with open(stamp_file, "w") as f:
        f.write(want + "\n")
    print(f"[build] compiled {len(files)} sources -> {CLASSES}", file=sys.stderr)
    return CLASSES


if __name__ == "__main__":
    try:
        build()
    except BuildError as e:
        print(f"[build] {e}", file=sys.stderr)
        sys.exit(1)
