#!/usr/bin/env python3
"""Build file of the benchmark: compiles the program (src/main/scala) and
the benchmark harness (perfbench/harness/src) with the Scala compiler that
ships with Spark, into .bench_build/ under the repository root.

Usage: python3 perfbench/build.py   (from the repository root)

A build is skipped when neither source tree changed since the last one.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.getcwd()
OUT = os.path.join(ROOT, ".bench_build")
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
RESOURCES = os.path.join(ROOT, "src", "main", "resources")
HARNESS_SRC = os.path.join(os.path.dirname(os.path.abspath(__file__)), "harness", "src")
PROGRAM_CLASSES = os.path.join(OUT, "classes")
HARNESS_CLASSES = os.path.join(OUT, "harness")


def spark_jars():
    """Classpath entry of the Spark jars (the JVM expands the wildcard)."""
    jars = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")
    if not glob.glob(os.path.join(jars, "*.jar")):
        raise SystemExit("build: no Spark jars found (set SPARK_HOME)")
    return os.path.join(jars, "*")


def runtime_classpath():
    return os.pathsep.join([HARNESS_CLASSES, PROGRAM_CLASSES, RESOURCES, spark_jars()])


def sources(tree):
    return sorted(glob.glob(os.path.join(tree, "**", "*.scala"), recursive=True))


def stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def scalac(files, out_dir, extra_cp, log):
    os.makedirs(out_dir, exist_ok=True)
    argfile = os.path.join(OUT, os.path.basename(out_dir) + ".args")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files))
    cmd = ["java", "-Xss8m", "-Xmx3g", "-XX:-UsePerfData", "-cp", spark_jars(), "scala.tools.nsc.Main",
           "-nowarn", "-usejavacp", "-d", out_dir]
    if extra_cp:
        cmd += ["-classpath", extra_cp]
    with open(log, "w") as lf:
        rc = subprocess.run(cmd + ["@" + argfile], stdout=lf, stderr=subprocess.STDOUT).returncode
    if rc != 0:
        with open(log) as lf:
            sys.stderr.write(lf.read()[-4000:])
        raise SystemExit(f"build: scalac failed for {out_dir} (log {log})")


def build():
    """Compile what changed; return the runtime classpath."""
    program = sources(PROGRAM_SRC)
    if not program:
        raise SystemExit(f"build: no program sources under {PROGRAM_SRC}")
    harness = sources(HARNESS_SRC)
    os.makedirs(OUT, exist_ok=True)
    stamp_file = os.path.join(OUT, "stamp")
    want = stamp(program) + stamp(harness)
    if os.path.exists(stamp_file) and open(stamp_file).read() == want:
        return runtime_classpath()
    if os.path.exists(stamp_file):
        os.remove(stamp_file)
    for d in (PROGRAM_CLASSES, HARNESS_CLASSES):
        shutil.rmtree(d, ignore_errors=True)
    scalac(program, PROGRAM_CLASSES, None, os.path.join(OUT, "build-program.log"))
    scalac(harness, HARNESS_CLASSES, PROGRAM_CLASSES, os.path.join(OUT, "build-harness.log"))
    with open(stamp_file, "w") as fh:
        fh.write(want)
    return runtime_classpath()


if __name__ == "__main__":
    build()
    print("build: ok ->", OUT)
