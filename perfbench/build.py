#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles the program's sources (src/main/scala) together with the
harness (perfbench/src) with the Scala compiler that ships with the
Spark distribution, into .bench_build/perfbench/classes. A stamp of the
sources' contents skips the compile when nothing changed.

Usage: python3 perfbench/build.py   (from the repository root)
Prints the runtime classpath on success; exits non-zero on failure.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
CLASSES = os.path.join(OUT, "classes")
STAMP = os.path.join(OUT, "classes.stamp")


def spark_jars():
    jars_dir = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")
    jars = sorted(glob.glob(os.path.join(jars_dir, "*.jar")))
    if not jars:
        raise SystemExit(f"build: no Spark jars under {jars_dir}")
    return jars


def sources():
    main = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(main):
        raise SystemExit(f"build: program sources not found at {main}")
    files = glob.glob(os.path.join(main, "**", "*.scala"), recursive=True)
    files += glob.glob(os.path.join(HERE, "src", "*.scala"))
    return sorted(files)


def resources():
    return os.path.join(ROOT, "src", "main", "resources")


def stamp_of(files, jars):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    for j in jars:
        h.update(os.path.basename(j).encode())
    return h.hexdigest()


def build():
    """Compile if needed; return the runtime classpath as a list."""
    jars = spark_jars()
    files = sources()
    stamp = stamp_of(files, jars)
    classpath = [CLASSES, resources()] + jars
    if os.path.exists(STAMP) and open(STAMP).read() == stamp:
        return classpath
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.makedirs(CLASSES)
    compiler = [j for j in jars if os.path.basename(j).startswith(
        ("scala-compiler", "scala-library", "scala-reflect"))]
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-classpath", os.pathsep.join(jars),
           "-d", CLASSES, "@" + argfile]
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr, timeout=840)
    if r.returncode != 0:
        raise SystemExit(f"build: scalac failed with code {r.returncode}")
    with open(STAMP, "w") as fh:
        fh.write(stamp)
    return classpath


if __name__ == "__main__":
    build()
    print("build: ok")
