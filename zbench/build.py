#!/usr/bin/env python3
"""Build the benchmark: compile the program's Scala sources together with the
benchmark's own sources in zbench/src, using the Scala compiler that ships in Spark's
jars directory. Output goes to zbench/.build/classes; a stamp of every input
skips the compile when nothing changed.

    python3 zbench/build.py          # prints the classes directory
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(BENCH, "src")
OUT = os.path.join(BENCH, ".build")


class BuildError(Exception):
    pass


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not glob.glob(os.path.join(home, "jars", "scala-compiler-*.jar")):
        raise BuildError("no Spark installation with a Scala compiler (set SPARK_HOME)")
    return home


def classpath_jars():
    return os.path.join(spark_home(), "jars", "*")


def sources():
    found = []
    for base in (PROGRAM_SRC, BENCH_SRC):
        for dirpath, _, files in os.walk(base):
            found += [os.path.join(dirpath, f) for f in files if f.endswith(".scala")]
    return sorted(found)


def stamp(srcs):
    h = hashlib.sha256()
    h.update("\n".join(sorted(os.path.basename(j) for j in glob.glob(classpath_jars()))).encode())
    for path in srcs:
        h.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build():
    """Compile if needed; return the classes directory."""
    if not os.path.isdir(os.path.join(PROGRAM_SRC, "graft")):
        raise BuildError(f"program sources missing: {PROGRAM_SRC}")
    srcs = sources()
    want = stamp(srcs)
    classes = os.path.join(OUT, "classes")
    stamp_file = os.path.join(OUT, "stamp")
    if os.path.isdir(classes) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == want:
                return classes
    tmp = os.path.join(OUT, "classes.tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    cmd = [java, "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", classpath_jars(), "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", tmp, "@" + argfile]
    proc = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-8000:])
        raise BuildError(f"scalac failed with exit code {proc.returncode}")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as f:
        f.write(want)
    return classes


if __name__ == "__main__":
    try:
        print(build())
    except BuildError as e:
        sys.stderr.write(f"build failed: {e}\n")
        sys.exit(1)
