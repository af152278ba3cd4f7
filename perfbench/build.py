#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine (src/main/scala) and the
benchmark harness (perfbench/src) with the Scala compiler that ships in the
Spark distribution, into .bench_build/classes. A digest of every source
file decides whether a build is needed, so repeated runs reuse the classes.

Usage: python3 perfbench/build.py   (from the repository root)
"""
import hashlib
import os
import shutil
import subprocess
import sys


def spark_jars():
    """The Spark distribution's jars: $SPARK_HOME/jars, else the
    distribution holding the spark-submit on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        raise RuntimeError("no Spark distribution: set SPARK_HOME")
    return os.path.join(home, "jars")


def sources(root):
    out = []
    for top in ("src/main/scala", "perfbench/src"):
        for d, _, files in os.walk(os.path.join(root, top)):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def digest(root, srcs):
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build(root):
    """Returns (classes dir, source digest), compiling when sources changed."""
    if not os.path.isdir(os.path.join(root, "src/main/scala")):
        raise RuntimeError("no engine sources under src/main/scala")
    srcs = sources(root)
    dig = digest(root, srcs)
    base = os.path.join(root, ".bench_build")
    classes = os.path.join(base, "classes")
    stamp = os.path.join(base, "stamp")
    if os.path.exists(stamp) and open(stamp).read() == dig:
        return classes, dig
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(base, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cp = os.path.join(spark_jars(), "*")
    r = subprocess.run(["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", cp,
                        "scala.tools.nsc.Main",
                        "-nowarn", "-d", classes, "-classpath", cp, "@" + argfile],
                       cwd=root, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=840)
    if r.returncode != 0:
        raise RuntimeError("compile failed:\n" + r.stdout[-4000:])
    with open(stamp, "w") as f:
        f.write(dig)
    return classes, dig


if __name__ == "__main__":
    try:
        print(build(os.getcwd())[0])
    except RuntimeError as e:
        sys.exit(str(e))
