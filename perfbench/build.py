#!/usr/bin/env python3
"""Build file of the benchmark: compiles the engine (src/main/scala), the
benchmark (perfbench/src/main/scala) and its self-test
(perfbench/src/test/scala) with the Scala compiler that ships in Spark's
jars directory.

    python3 perfbench/build.py

Classes go to .bench_build/classes under the checkout root. A stamp of the
source contents skips the compile when nothing changed. Needs `java` on the
PATH and a Spark distribution at $SPARK_HOME, or the one whose
`spark-submit` is on the PATH.
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
ENGINE_RES = os.path.join(ROOT, "src", "main", "resources")
BENCH_SRC = os.path.join(HERE, "src", "main", "scala")
TEST_SRC = os.path.join(HERE, "src", "test", "scala")


class BuildError(Exception):
    pass


def spark_jars():
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(os.path.realpath(d)) for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.exists(os.path.join(d, "spark-submit"))]
    for home in filter(None, homes):
        jars = sorted(glob.glob(os.path.join(home, "jars", "*.jar")))
        if any(os.path.basename(j).startswith("scala-compiler") for j in jars):
            return jars
    raise BuildError("no Spark distribution with a Scala compiler ($SPARK_HOME or spark-submit on the PATH)")


def sources(*dirs):
    out = []
    for d in dirs:
        for base, _, files in os.walk(d):
            out += [os.path.join(base, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile if needed; return the runtime classpath entries."""
    if not sources(ENGINE_SRC):
        raise BuildError(f"no engine sources under {ENGINE_SRC}")
    jars = spark_jars()
    files = sources(ENGINE_SRC, BENCH_SRC, TEST_SRC)
    classes = os.path.join(OUT, "classes")
    stamp_file = os.path.join(OUT, "classes.stamp")
    key = stamp(files)
    if not (os.path.isdir(classes) and os.path.exists(stamp_file)
            and open(stamp_file).read() == key):
        tmp = classes + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        argfile = os.path.join(OUT, "classes.args")
        with open(argfile, "w") as fh:
            fh.write("\n".join(files) + "\n")
        print(f"perfbench: compiling {len(files)} sources", file=sys.stderr, flush=True)
        cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.pathsep.join(jars),
               "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp, "@" + argfile]
        if subprocess.run(cmd, stdout=sys.stderr).returncode != 0:
            raise BuildError("scalac failed")
        shutil.rmtree(classes, ignore_errors=True)
        os.rename(tmp, classes)
        with open(stamp_file, "w") as fh:
            fh.write(key)
    return [classes, ENGINE_RES] + jars


if __name__ == "__main__":
    try:
        build()
    except BuildError as e:
        print(f"perfbench: build failed: {e}", file=sys.stderr)
        sys.exit(2)
