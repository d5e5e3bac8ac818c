#!/usr/bin/env python3
"""Build file of the graft benchmark package.

Compiles the library sources (src/main/scala at the repository root)
together with the benchmark sources (perfbench/src) into
perfbench/.build/classes with the Scala compiler that ships in Spark's
jars directory. The build is skipped while a stamp of every source
file's content matches the last successful build.

    python3 perfbench/build.py      # from the repository root
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
LIB_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src")
OUT = os.path.join(HERE, ".build")
CLASSES = os.path.join(OUT, "classes")
STAMP = os.path.join(OUT, "stamp")


def spark_jars():
    """The jars directory of the Spark installation: $SPARK_HOME/jars,
    else the one beside the spark-submit found on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not home or not os.path.isdir(jars):
        sys.exit("perfbench: no Spark installation found (set SPARK_HOME)")
    return jars


def sources():
    if not os.path.isdir(LIB_SRC):
        sys.exit(f"perfbench: library sources not found at {os.path.relpath(LIB_SRC)}")
    files = []
    for base in (LIB_SRC, BENCH_SRC):
        files += glob.glob(os.path.join(base, "**", "*.scala"), recursive=True)
        files += glob.glob(os.path.join(base, "**", "*.java"), recursive=True)
    return sorted(files)


def stamp_of(files, jars):
    h = hashlib.sha256()
    h.update(os.path.realpath(jars).encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def ensure_built():
    """Compile if stale; return the classes directory."""
    jars = spark_jars()
    files = sources()
    stamp = stamp_of(files, jars)
    if os.path.exists(STAMP) and open(STAMP).read() == stamp and os.path.isdir(CLASSES):
        return CLASSES, jars
    compiler = [p for pat in ("scala-compiler-*.jar", "scala-library-*.jar", "scala-reflect-*.jar")
                for p in glob.glob(os.path.join(jars, pat))]
    if len(compiler) != 3:
        sys.exit("perfbench: Scala compiler jars not found in the Spark installation")
    tmp = CLASSES + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(OUT, "sources.txt")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp,
           "-classpath", os.path.join(jars, "*"), "@" + argfile]
    print(f"perfbench: compiling {len(files)} sources", file=sys.stderr, flush=True)
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        sys.exit(f"perfbench: compilation failed ({r.returncode})")
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.rename(tmp, CLASSES)
    with open(STAMP, "w") as fh:
        fh.write(stamp)
    return CLASSES, jars


if __name__ == "__main__":
    ensure_built()
