#!/usr/bin/env python3
"""Build file of graft's benchmark: compiles graft's main sources
(src/main/scala) together with the benchmark's (perfbench/src, perfbench/test)
into .bench_build/classes with the Scala compiler that ships in Spark's jars.
The classes are reused while no source changed.

    python3 perfbench/build.py
"""
import hashlib
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")


def spark_home():
    """$SPARK_HOME, else the Spark distribution whose bin/ on PATH holds
    spark-submit next to a jars/ directory."""
    if os.environ.get("SPARK_HOME"):
        return os.environ["SPARK_HOME"]
    for d in os.environ.get("PATH", "").split(os.pathsep):
        home = os.path.dirname(os.path.realpath(d))
        if (os.path.exists(os.path.join(d, "spark-submit"))
                and os.path.isdir(os.path.join(home, "jars"))):
            return home
    sys.exit("perfbench: no Spark distribution (set SPARK_HOME)")


# Spark's jars are the whole classpath: graft's dependencies and scalac
SPARK_JARS = os.path.join(spark_home(), "jars", "*")
SOURCE_DIRS = [os.path.join(ROOT, "src", "main", "scala"),
               os.path.join(HERE, "src"), os.path.join(HERE, "test")]
ENV = dict(os.environ, LC_ALL="C.utf8", LANG="C.utf8")


def sources():
    out = []
    for d in SOURCE_DIRS:
        for base, _, files in os.walk(d):
            out += [os.path.join(base, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def build():
    """Compile graft's main sources with the benchmark's; reuse the classes
    while no source changed."""
    srcs = sources()
    if not any(s.startswith(SOURCE_DIRS[0] + os.sep) for s in srcs):
        sys.exit("perfbench: no graft sources under src/main/scala")
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    classes = os.path.join(BUILD, "classes")
    stamp_file = os.path.join(classes, "STAMP")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    tmp = os.path.join(BUILD, "classes.tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    args_file = os.path.join(BUILD, "sources.txt")
    with open(args_file, "w") as f:
        f.write("\n".join('"%s"' % s for s in srcs))
    t0 = time.time()
    rc = subprocess.call(
        ["java", "-Xmx3g", "-Xss8m", "-cp", SPARK_JARS, "scala.tools.nsc.Main",
         "-encoding", "utf8", "-nowarn", "-Ybackend-parallelism", "4",
         "-d", tmp, "-classpath", SPARK_JARS, "@" + args_file],
        stdout=sys.stderr, env=ENV)
    if rc != 0:
        sys.exit("perfbench: compile failed (exit %d)" % rc)
    with open(os.path.join(tmp, "STAMP"), "w") as f:
        f.write(stamp)
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    print("perfbench: built in %.1f s" % (time.time() - t0), file=sys.stderr)
    return classes


if __name__ == "__main__":
    build()
