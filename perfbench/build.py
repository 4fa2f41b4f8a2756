#!/usr/bin/env python3
"""Build file of the benchmark: compiles graft's main sources, then the
benchmark driver (`perfbench/driver/*.scala`) against them, using the
Scala compiler that ships with Spark (`$SPARK_HOME/jars`). Each output
directory is reused while its sources are unchanged.

Usage: build.py   (output in .bench_build/classes)
Prints the runtime classpath on its last line.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home or not glob.glob(os.path.join(home, "jars", "scala-compiler-*.jar")):
        sys.exit("build.py: SPARK_HOME must point at a Spark distribution "
                 "whose jars/ holds the Scala compiler")
    return os.path.join(home, "jars", "*")


def scala_sources(base):
    if not os.path.isdir(base):
        sys.exit(f"build.py: sources not found: {base}")
    found = []
    for d, _, files in os.walk(base):
        found += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def compile_into(out, srcs, classpath, salt=""):
    """scalac `srcs` into `out` unless `out` already holds them."""
    h = hashlib.sha256(salt.encode())
    for s in srcs:
        h.update(os.path.relpath(s, ROOT).encode())
        with open(s, "rb") as fh:
            h.update(fh.read())
    stamp = os.path.join(out, ".stamp")
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return h.hexdigest()
    if os.path.exists(out):
        shutil.rmtree(out)
    os.makedirs(out)
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", spark_jars(), "scala.tools.nsc.Main",
           "-nowarn", "-d", out, "-cp", classpath] + srcs
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        sys.exit(f"build.py: scalac failed (exit {r.returncode})")
    with open(stamp, "w") as fh:
        fh.write(h.hexdigest())
    return h.hexdigest()


def build(out):
    jars = spark_jars()
    graft = os.path.join(out, "graft")
    driver = os.path.join(out, "driver")
    stamp = compile_into(graft, scala_sources(os.path.join(ROOT, "src", "main", "scala")),
                         jars)
    compile_into(driver, scala_sources(os.path.join(HERE, "driver")),
                 os.pathsep.join([graft, jars]), salt=stamp)
    resources = os.path.join(ROOT, "src", "main", "resources")
    return os.pathsep.join([driver, graft, resources, jars])


def main():
    print(build(os.path.join(os.path.abspath(".bench_build"), "classes")))


if __name__ == "__main__":
    main()
