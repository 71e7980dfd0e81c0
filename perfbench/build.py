#!/usr/bin/env python3
"""Build the benchmark: compile the program (src/main/scala) together with the
benchmark harness (perfbench/src) into one class directory.

Usage: python3 perfbench/build.py          (from the repository root)

The compiler is the Scala 2.13 compiler that ships in the Spark jar directory
($SPARK_HOME/jars, else the `unmanagedBase` of the root build.sbt), so no
build tool and no network are needed. Output goes to $CARGO_TARGET_DIR
(default .bench_build) under a directory named by a hash of every compiled
source, so a changed source rebuilds and an unchanged one reuses the earlier
build. Prints the class directory on its last stdout line.
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spark_jars():
    """$SPARK_HOME/jars, else the jar directory the root build.sbt compiles against."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    try:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    except OSError:
        m = None
    if not m:
        raise SystemExit("build: set SPARK_HOME or declare unmanagedBase in build.sbt")
    return m.group(1)


def sources():
    out = []
    for base in (os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")):
        if not os.path.isdir(base):
            raise SystemExit(f"build: missing source directory {os.path.relpath(base, ROOT)}")
        for d, _, files in os.walk(base):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def build():
    srcs = sources()
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    target = os.environ.get("CARGO_TARGET_DIR") or os.path.join(ROOT, ".bench_build")
    out = os.path.join(os.path.abspath(target), "perfbench-" + h.hexdigest()[:16])
    classes = os.path.join(out, "classes")
    if os.path.exists(os.path.join(out, "ok")):
        return classes
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(classes)
    cp = os.path.join(spark_jars(), "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
           "-classpath", cp, "-d", classes, "-nowarn", *srcs]
    res = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if res.returncode != 0:
        sys.stderr.write(res.stdout[-20000:])
        raise SystemExit(f"build: scalac failed with code {res.returncode}")
    open(os.path.join(out, "ok"), "w").close()
    return classes


if __name__ == "__main__":
    print(build())
