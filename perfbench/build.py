"""Builds the library and the benchmark from source with the Scala
compiler that ships in $SPARK_HOME/jars, into `.bench_build/` at the
root of the checkout.

Run it directly (`python3 perfbench/build.py`) or let run.py call it.
A build is skipped when its stamp (a hash of every source file) matches.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
LIB_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src")


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    jars = os.path.join(home, "jars") if home else ""
    if not home or not glob.glob(os.path.join(jars, "spark-sql_*.jar")):
        raise SystemExit("perfbench: SPARK_HOME must point at a Spark distribution")
    return os.path.join(jars, "*")


def java():
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else "java"


def _sources(d):
    return sorted(glob.glob(os.path.join(d, "**", "*.scala"), recursive=True))


def _scalac(jars, out, srcs, extra_cp=""):
    os.makedirs(out)
    cp = jars + (os.pathsep + extra_cp if extra_cp else "")
    cmd = [java(), "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", jars, "scala.tools.nsc.Main",
           "-nowarn", "-d", out, "-classpath", cp] + srcs
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit(f"perfbench: compile failed ({out})")


def build():
    """Returns the runtime classpath, compiling first when sources changed."""
    lib = _sources(LIB_SRC)
    bench = _sources(BENCH_SRC)
    if not lib:
        raise SystemExit(f"perfbench: no library sources under {LIB_SRC}")
    jars = spark_jars()
    h = hashlib.sha256()
    for f in lib + bench:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    out = os.path.join(BUILD, "classes-" + h.hexdigest()[:16])
    if not os.path.isdir(out):
        tmp = out + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        _scalac(jars, os.path.join(tmp, "main"), lib)
        _scalac(jars, os.path.join(tmp, "bench"), bench, os.path.join(tmp, "main"))
        for old in glob.glob(os.path.join(BUILD, "classes-*")):
            if old != tmp:
                shutil.rmtree(old, ignore_errors=True)
        os.rename(tmp, out)
    return os.pathsep.join([os.path.join(out, "bench"), os.path.join(out, "main"), jars])


if __name__ == "__main__":
    print(build())
