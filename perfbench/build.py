#!/usr/bin/env python3
"""Build file of the benchmark's JVM side.

Compiles graft's sources (`src/main/scala`) together with the
benchmark's own (`perfbench/src`) using the Scala compiler that ships
in Spark's jars, into `.bench_build/perfbench/classes-<hash>/`. The hash
covers every source file and this file, so a changed source rebuilds
and an unchanged tree reuses the classes.

Usage: python3 perfbench/build.py   (from the repository root)
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
GRAFT_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src")
OUT = os.path.join(ROOT, ".bench_build", "perfbench")


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else next to spark-submit."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise SystemExit(f"build: no Spark jars with a Scala compiler at {jars!r}")
    return jars


def sources():
    files = sorted(glob.glob(os.path.join(GRAFT_SRC, "**", "*.scala"), recursive=True))
    if not files:
        raise SystemExit(f"build: no graft sources under {GRAFT_SRC}")
    return files + sorted(glob.glob(os.path.join(BENCH_SRC, "**", "*.scala"), recursive=True))


def build():
    """Returns the classes directory, compiling first if needed."""
    jars = spark_jars()
    files = sources()
    h = hashlib.sha256()
    for f in files + [os.path.abspath(__file__)]:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    classes = os.path.join(OUT, "classes-" + h.hexdigest()[:16])
    if os.path.isdir(classes):
        return classes
    os.makedirs(OUT, exist_ok=True)
    tmp = f"{classes}.tmp-{os.getpid()}"
    os.makedirs(tmp)
    cp = os.path.join(jars, "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main",
           "-deprecation:false", "-nowarn", "-d", tmp, "-cp", cp] + files
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        sys.stderr.write(r.stdout[-8000:])
        raise SystemExit(f"build: scalac exited {r.returncode}")
    try:
        os.rename(tmp, classes)        # atomic: a concurrent build may have won
    except OSError:
        shutil.rmtree(tmp, ignore_errors=True)
    return classes


if __name__ == "__main__":
    print(build())
