#!/usr/bin/env python3
"""Builds the benchmark: compiles the program's Scala sources
(src/main/scala) together with the benchmark's own (perfbench/src) with
the Scala compiler that ships in the Spark distribution's jars.

Usage: python3 perfbench/build.py [build_dir]

Run from the repository root. The classes go to <build_dir>/classes
(default: $CARGO_TARGET_DIR, else .bench_build); a content hash of the
sources skips the compile when nothing changed.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

SCALA_VERSION = "2.13.17"


def spark_jars():
    """The Spark distribution's jars: $SPARK_HOME, else the first
    distribution on PATH (a `bin/spark-submit` next to a `jars/`)."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(d) for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        jars = sorted(glob.glob(os.path.join(home, "jars", "*.jar"))) if home else []
        if jars:
            return jars
    sys.exit("perfbench: no Spark distribution found (set SPARK_HOME)")


def build_dir():
    return os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")


def sources(root):
    files = []
    for d in ("src/main/scala", "perfbench/src"):
        files += glob.glob(os.path.join(root, d, "**", "*.scala"), recursive=True)
    return sorted(files)


def resources(root):
    return os.path.join(root, "src", "main", "resources")


def classpath(root, out):
    return os.pathsep.join([os.path.join(out, "classes"), resources(root)] + spark_jars())


def build(root, out):
    """Compiles into <out>/classes unless the stamp matches; returns the
    class directory."""
    srcs = sources(root)
    if not any(s.startswith(os.path.join(root, "src", "main")) for s in srcs):
        sys.exit("perfbench: the program's sources (src/main/scala) are missing")
    h = hashlib.sha256(SCALA_VERSION.encode())
    for f in srcs:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    stamp = h.hexdigest()
    classes = os.path.join(out, "classes")
    stamp_file = os.path.join(out, "classes.stamp")
    if os.path.isdir(classes) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == stamp:
                return classes
    os.makedirs(out, exist_ok=True)
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    jars = spark_jars()
    compiler = [j for j in jars if os.path.basename(j).startswith(
        ("scala-compiler-", "scala-library-", "scala-reflect-"))]
    args_file = os.path.join(out, "scalac.args")
    with open(args_file, "w") as fh:
        fh.write("-classpath\n" + os.pathsep.join(jars) + "\n-d\n" + tmp + "\n-nowarn\n")
        fh.write("\n".join(srcs) + "\n")
    print(f"perfbench: compiling {len(srcs)} Scala files", file=sys.stderr, flush=True)
    subprocess.run(["java", "-Xmx2g", "-Xss8m", "-cp", os.pathsep.join(compiler),
                    "scala.tools.nsc.Main", "@" + args_file], check=True,
                   stdout=sys.stderr)
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as fh:
        fh.write(stamp + "\n")
    return classes


if __name__ == "__main__":
    out = os.path.abspath(sys.argv[1]) if len(sys.argv) > 1 else build_dir()
    print(build(os.getcwd(), out))
