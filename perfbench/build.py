#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles the program (`src/main/scala`) together with the benchmark's own
Scala sources (`perfbench/src`) into `.bench_build/classes` with the Scala
compiler that ships in the Spark distribution's `jars/` directory, the same
jar set `build.sbt` compiles against. No sbt, no dependency resolution: the
only inputs are the sources of the checkout and the Spark jars.

The build is skipped when the stamp file is newer than every source file.

Run: python3 perfbench/build.py        (from the root of a checkout)
"""
import glob
import os
import re
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BUILD = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD, "classes")
STAMP = os.path.join(BUILD, "classes.stamp")
SOURCE_DIRS = [os.path.join(ROOT, "src", "main", "scala"),
               os.path.join(ROOT, "perfbench", "src")]


def spark_jars():
    """The Spark jar directory: `$SPARK_HOME/jars`, else the `unmanagedBase`
    that build.sbt names."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    raise SystemExit("build: no Spark jar directory (set SPARK_HOME)")


def sources():
    out = []
    for d in SOURCE_DIRS:
        if not os.path.isdir(d):
            raise SystemExit(f"build: source directory {os.path.relpath(d, ROOT)} is missing")
        out += glob.glob(os.path.join(d, "**", "*.scala"), recursive=True)
    if not out:
        raise SystemExit("build: no Scala sources")
    return sorted(out)


def newest_source_mtime():
    return max(os.path.getmtime(p) for p in sources())


def up_to_date():
    return os.path.exists(STAMP) and os.path.getmtime(STAMP) > newest_source_mtime()


def build(quiet=False):
    """Compile when stale; return the runtime classpath."""
    jars = spark_jars()
    cp = os.path.join(jars, "*")
    if not up_to_date():
        srcs = sources()
        os.makedirs(BUILD, exist_ok=True)
        if os.path.exists(CLASSES):
            subprocess.run(["rm", "-rf", CLASSES], check=True)
        os.makedirs(CLASSES)
        argfile = os.path.join(BUILD, "sources.txt")
        with open(argfile, "w") as f:
            f.write("\n".join(srcs) + "\n")
        t0 = time.time()
        r = subprocess.run(
            ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
             "-nowarn", "-encoding", "UTF-8", "-d", CLASSES, "-classpath", cp, "@" + argfile],
            stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        if r.returncode != 0:
            sys.stderr.write(r.stdout[-8000:])
            raise SystemExit(f"build: scalac failed ({r.returncode})")
        with open(STAMP, "w") as f:
            f.write(f"{len(srcs)} sources compiled in {time.time() - t0:.1f} s\n")
        if not quiet:
            print(f"build: {len(srcs)} sources compiled in {time.time() - t0:.1f} s",
                  file=sys.stderr)
    return CLASSES + os.pathsep + cp


if __name__ == "__main__":
    build()
