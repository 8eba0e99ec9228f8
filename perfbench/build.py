#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program (src/main/scala) and
the benchmark harness (perfbench/harness) from source with the Scala
compiler that ships in Spark's jar directory ($SPARK_HOME/jars, else the
unmanagedBase of build.sbt), into .bench_build/classes.

The repository's own build (build.sbt) takes its Scala and Spark jars
from the same directory and sets no compiler options, so this produces
the same classes without starting sbt. The build is skipped when a stamp
of every source file's path and content is unchanged.

    python3 perfbench/build.py        # build if stale, print the classpath
"""
import glob
import hashlib
import os
import re
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(OUT, "classes")
STAMP = os.path.join(OUT, "classes.stamp")


def spark_jars():
    """$SPARK_HOME/jars, else the jar directory the repository's build.sbt
    names as its unmanagedBase."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    with open(os.path.join(ROOT, "build.sbt")) as fh:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
    if not m:
        sys.exit("perfbench: no unmanagedBase in build.sbt; set SPARK_HOME")
    return m.group(1)


def sources():
    """Program and harness sources; exits if the program is absent."""
    prog = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    harness = sorted(glob.glob(os.path.join(HERE, "harness/*.scala")))
    if not prog or not harness:
        sys.exit("perfbench: no program sources under src/main/scala; "
                 "run from the root of a full checkout")
    return prog + harness


def stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def classpath():
    return os.pathsep.join([CLASSES, os.path.join(ROOT, "src/main/resources"),
                            os.path.join(spark_jars(), "*")])


def build(log=sys.stderr):
    """Compiles when stale; returns the run classpath."""
    files = sources()
    want = stamp(files)
    if os.path.exists(STAMP) and open(STAMP).read() == want:
        return classpath()
    jars = spark_jars()
    if not os.path.isdir(jars):
        sys.exit(f"perfbench: Spark jars not found at {jars} (set SPARK_HOME)")
    os.makedirs(OUT, exist_ok=True)
    subprocess.run(["rm", "-rf", CLASSES], check=True)
    os.makedirs(CLASSES)
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    cp = os.path.join(jars, "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-d", CLASSES, "-classpath", cp, "@" + argfile]
    print(f"perfbench: compiling {len(files)} sources", file=log, flush=True)
    res = subprocess.run(cmd, stdout=log, stderr=log, cwd=ROOT)
    if res.returncode != 0:
        sys.exit(f"perfbench: compile failed ({res.returncode})")
    with open(STAMP, "w") as fh:
        fh.write(want)
    return classpath()


if __name__ == "__main__":
    print(build())
