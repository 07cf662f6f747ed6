#!/usr/bin/env python3
"""Build file of the benchmark: compiles graft's main sources together with
the harness under perfbench/src into .bench_build/perfbench/classes.

The Scala compiler is the one Spark ships in its jars directory, so the
build needs no build tool and writes nothing outside the checkout. A stamp
over every source file skips the compile when nothing changed.

    python3 perfbench/build.py
"""
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
CLASSES = os.path.join(OUT, "classes")


def spark_jars():
    """Spark's jars directory: $SPARK_HOME, else spark-submit on PATH, else
    the `unmanagedBase` the repo's build.sbt declares."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    raise SystemExit("perfbench: cannot find Spark's jars (set SPARK_HOME)")


def sources():
    dirs = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")]
    found = []
    for d in dirs:
        if not os.path.isdir(d):
            raise SystemExit(f"perfbench: missing source directory {os.path.relpath(d, ROOT)}")
        for base, _, files in os.walk(d):
            found += [os.path.join(base, f) for f in files if f.endswith((".scala", ".java"))]
    return sorted(found)


def build():
    """Compile if needed; return the runtime classpath."""
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    stamp = h.hexdigest()
    stamp_file = os.path.join(OUT, "classes.stamp")
    cp = f"{CLASSES}{os.pathsep}{jars}/*"
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return cp, stamp
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    print(f"perfbench: compiling {len(srcs)} sources", file=sys.stderr)
    rc = subprocess.call(
        ["java", "-Xss8m", "-Xmx2g", "-cp", f"{jars}/*", "scala.tools.nsc.Main",
         "-nowarn", "-d", CLASSES, "-classpath", f"{jars}/*", f"@{argfile}"],
        stdout=sys.stderr, cwd=ROOT)
    if rc != 0:
        raise SystemExit(f"perfbench: compile failed (exit {rc})")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp, stamp


if __name__ == "__main__":
    print(build()[1])
