#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles the program's sources (src/main/scala) together with the
benchmark's own sources (perfbench/src) into .bench_build/classes with the
Scala compiler that ships in the Spark distribution, so a build needs no
sbt, no dependency resolution and writes nothing outside the checkout.

    python3 perfbench/build.py          # build if any source changed
    python3 perfbench/build.py --force  # rebuild

Prints the runtime classpath on its last line.
"""
import argparse
import hashlib
import os
import shutil
import subprocess
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
PROGRAM_RES = os.path.join(ROOT, "src", "main", "resources")
BENCH_SRC = os.path.join(BENCH_DIR, "src")
BUILD_DIR = os.path.join(ROOT, ".bench_build")
CLASSES = os.path.join(BUILD_DIR, "classes")
STAMP = os.path.join(BUILD_DIR, "classes.sha256")


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    submit = shutil.which("spark-submit")
    if not home and submit:
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not os.path.isdir(jars):
        raise SystemExit("build: Spark jars not found (set SPARK_HOME or put spark-submit on PATH)")
    return jars


def sources():
    if not os.path.isdir(os.path.join(PROGRAM_SRC, "graft")):
        raise SystemExit("build: program sources (src/main/scala/graft) are missing")
    out = []
    for base in (PROGRAM_SRC, BENCH_SRC):
        for d, _, files in os.walk(base):
            out.extend(os.path.join(d, f) for f in files if f.endswith(".scala"))
    return sorted(out)


def digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def classpath():
    return os.pathsep.join([CLASSES, PROGRAM_RES, os.path.join(spark_jars(), "*")])


def build(force=False):
    files = sources()
    want = digest(files)
    if not force and os.path.exists(STAMP) and open(STAMP).read().strip() == want:
        return classpath()
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    argfile = os.path.join(BUILD_DIR, "scalac.args")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    jars = os.path.join(spark_jars(), "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", f"-Djava.io.tmpdir={BUILD_DIR}",
           "-cp", jars, "scala.tools.nsc.Main", "-nowarn",
           "-classpath", jars, "-d", CLASSES, "@" + argfile]
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        if os.path.exists(STAMP):
            os.remove(STAMP)
        raise SystemExit(f"build: scalac failed with code {r.returncode}")
    with open(STAMP, "w") as fh:
        fh.write(want + "\n")
    return classpath()


if __name__ == "__main__":
    ap = argparse.ArgumentParser()
    ap.add_argument("--force", action="store_true")
    print(build(ap.parse_args().force))
