#!/usr/bin/env python3
"""Benchmark build: compiles the library's sources (``src/main``) together
with the benchmark's own code (``perfbench/src/main``) into one jar.

    python3 perfbench/build.py

It calls the Scala compiler that ships in Spark's own jars directory
(``$SPARK_HOME/jars``, the one next to ``spark-submit`` on the PATH, or the
one the library's ``build.sbt`` names), so it needs no build tool,
dependency cache or home directory: only ``java`` and a Spark distribution.  The library depends on nothing else at compile
time.  The jar, the run classpath and a stamp of the sources go to
``perfbench/target``; the build is skipped while the stamp matches.  Exits
with code 3 when the compile fails.
"""

import hashlib
import os
import re
import shutil
import subprocess
import sys
import time
import zipfile

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
TARGET = os.path.join(BENCH, "target")
CLASSPATH = os.path.join(TARGET, "perfbench-classpath.txt")
STAMP = os.path.join(TARGET, "perfbench-stamp.txt")
JAR = os.path.join(TARGET, "perfbench.jar")
SOURCES = [os.path.join(ROOT, "src", "main", "scala"),
           os.path.join(BENCH, "src", "main", "scala")]
RESOURCES = os.path.join(ROOT, "src", "main", "resources")


def log(msg):
    print("[build.py] " + msg, file=sys.stderr, flush=True)


def files(top):
    return sorted(os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)


def spark_jars():
    """Spark's jars: from SPARK_HOME, else next to spark-submit on the PATH,
    else the directory the library's own build.sbt names."""
    dirs = []
    if os.environ.get("SPARK_HOME"):
        dirs.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    submit = shutil.which("spark-submit")
    if submit:
        dirs.append(os.path.join(os.path.dirname(os.path.dirname(
            os.path.realpath(submit))), "jars"))
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.exists(sbt):
        with open(sbt) as f:
            dirs += re.findall(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    for d in dirs:
        found = sorted(os.path.join(d, f) for f in os.listdir(d)
                       if f.endswith(".jar")) if os.path.isdir(d) else []
        if any(os.path.basename(j).startswith("scala-compiler-") for j in found):
            return found
    log("no Spark jars directory with a Scala compiler (set SPARK_HOME)")
    sys.exit(3)


def source_stamp(jars):
    h = hashlib.sha256()
    for p in [f for top in SOURCES + [RESOURCES] for f in files(top)] + [
            os.path.abspath(__file__)]:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    h.update("\n".join(jars).encode())
    return h.hexdigest()


def build():
    """Builds when a source changed; returns True when it did."""
    jars = spark_jars()
    stamp = source_stamp(jars)
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP):
        with open(STAMP) as f:
            if f.read().strip() == stamp:
                return False
    log("compiling")
    t0 = time.time()
    os.makedirs(TARGET, exist_ok=True)
    for f in [STAMP, CLASSPATH, JAR]:
        if os.path.exists(f):
            os.remove(f)
    classes = os.path.join(TARGET, "classes")
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    srcs = os.path.join(TARGET, "sources.txt")
    with open(srcs, "w") as f:
        for top in SOURCES:
            for p in files(top):
                if p.endswith(".scala"):
                    f.write(p + "\n")
    cp = ":".join(jars)
    p = subprocess.run(
        ["java", "-Xss8m", "-Xmx2g", "-XX:+UseParallelGC", "-XX:-UsePerfData",
         "-Djava.io.tmpdir=" + TARGET, "-cp", cp, "scala.tools.nsc.Main",
         "-classpath", cp, "-d", classes, "@" + srcs],
        stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT, text=True, timeout=840)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-6000:])
        log("compile failed")
        sys.exit(3)
    # one jar, so the JVM can map a class-data-sharing archive over it
    tmp = JAR + ".tmp"
    with zipfile.ZipFile(tmp, "w", zipfile.ZIP_DEFLATED) as z:
        for top in [classes, RESOURCES]:
            for f in files(top):
                z.write(f, os.path.relpath(f, top))
    os.replace(tmp, JAR)
    shutil.rmtree(classes)
    with open(CLASSPATH, "w") as f:
        f.write(":".join([JAR] + jars))
    with open(STAMP, "w") as f:
        f.write(stamp)
    log("built in %.1f s" % (time.time() - t0))
    return True


if __name__ == "__main__":
    build()
