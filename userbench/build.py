#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine (src/main/scala) and the
benchmark's JVM side (userbench/src) into one class directory with the Scala
compiler that ships in Spark's jars directory. Rebuilds only when a source
changed.

Usage (from the repository root): python3 userbench/build.py [build_dir]
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

SOURCE_DIRS = ["src/main/scala", "userbench/src"]


def spark_jars():
    """Spark's jars directory, which must hold the Scala compiler:
    $SPARK_HOME/jars, else that of the first Spark install on PATH."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(d) for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.exists(os.path.join(d, "spark-submit"))]
    for home in homes:
        jars = os.path.join(home, "jars")
        if home and glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
            return jars
    raise SystemExit("build: no Spark jars directory with a scala-compiler jar; set SPARK_HOME")


def sources(root):
    files = []
    for d in SOURCE_DIRS:
        top = os.path.join(root, d)
        if not os.path.isdir(top):
            raise SystemExit(f"build: missing source directory {d}")
        for dirpath, _, names in os.walk(top):
            files += [os.path.join(dirpath, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def build(root, build_dir):
    """Return the class directory, compiling first if any source changed."""
    files = sources(root)
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    classes = os.path.join(build_dir, "classes")
    stamp_file = os.path.join(build_dir, "classes.stamp")
    if os.path.isdir(classes) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read().strip() == stamp:
                return classes
    jars = spark_jars()
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cp = os.path.join(jars, "*")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
           "-d", tmp, "-classpath", cp] + files
    print(f"build: compiling {len(files)} sources", file=sys.stderr, flush=True)
    if subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr, timeout=840).returncode != 0:
        raise SystemExit("build: compilation failed")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as fh:
        fh.write(stamp + "\n")
    return classes


if __name__ == "__main__":
    print(build(os.getcwd(), sys.argv[1] if len(sys.argv) > 1 else ".bench_build"))
