"""Builds the program and the benchmark harness from source with the Scala
compiler that ships in Spark's jar directory (the program's only
dependency), into `<work>/build/<hash>/classes`. The hash covers every
source file, so a checkout is built once and rebuilt when a source changes.

Usage: python3 etlbench/build.py   (prints the classes directory)
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".etlbench")


def spark_jars():
    return os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")


def sources():
    prog = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    if not prog:
        raise SystemExit("etlbench: no program sources under src/main/scala")
    return prog + sorted(glob.glob(os.path.join(HERE, "harness/*.scala")))


def build():
    srcs = sources()
    h = hashlib.sha256()
    for f in srcs:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()[:16]
    out = os.path.join(WORK, "build", stamp)
    classes = os.path.join(out, "classes")
    if os.path.exists(os.path.join(out, "ok")):
        return classes
    shutil.rmtree(os.path.join(WORK, "build"), ignore_errors=True)
    os.makedirs(classes)
    jars = os.path.join(spark_jars(), "*")
    cmd = ["java", "-Xmx2g", f"-Djava.io.tmpdir={out}", "-cp", jars,
           "scala.tools.nsc.Main", "-nowarn", "-d", classes, "-classpath", jars] + srcs
    p = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:])
        raise SystemExit(f"etlbench: build failed (scalac exit {p.returncode})")
    open(os.path.join(out, "ok"), "w").close()
    return classes


if __name__ == "__main__":
    print(build())
