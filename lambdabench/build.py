#!/usr/bin/env python3
"""The benchmark's build: compiles the program (src/main/scala) and the
benchmark (lambdabench/src) with the Scala compiler that ships in
$SPARK_HOME/jars, into .bench_build/classes-<hash of the sources>/, and
reuses that directory while no source changes. Run from a checkout root:

    python3 lambdabench/build.py      # prints the classpath it built
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")


def fail(msg):
    print(f"[lambdabench] {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """$SPARK_HOME/jars/*, else the jars of the first Spark distribution whose
    bin/spark-submit is on PATH; the program builds and runs against them."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(os.path.dirname(os.path.realpath(os.path.join(d, "spark-submit"))))
        for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        if home and glob.glob(os.path.join(home, "jars", "scala-compiler-*.jar")):
            return os.path.join(home, "jars", "*")
    fail("set SPARK_HOME to a Spark 4 distribution with its jars")


def build(jars):
    """Compiles program and benchmark; returns the classpath prefix."""
    program = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                               recursive=True))
    bench = sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    if not program:
        fail("no program sources under src/main/scala: run from a checkout root")
    digest = hashlib.sha256()
    for f in program + bench:
        digest.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            digest.update(fh.read())
    out = os.path.join(BUILD, "classes-" + digest.hexdigest()[:16])
    cp = [os.path.join(out, "bench"), os.path.join(out, "program")]
    if os.path.exists(os.path.join(out, "ok")):
        return cp
    tmp = out + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    for name, files, extra in (("program", program, []),
                               ("bench", bench, [os.path.join(tmp, "program")])):
        dest = os.path.join(tmp, name)
        os.makedirs(dest)
        cmd = ["java", "-Xss4m", "-Xmx2g", "-cp", jars, "scala.tools.nsc.Main",
               "-nowarn", "-d", dest, "-classpath", os.pathsep.join(extra + [jars])] + files
        t0 = time.time()
        res = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        if res.returncode != 0:
            shutil.rmtree(tmp, ignore_errors=True)
            fail(f"compiling the {name} failed:\n{res.stdout[-4000:]}")
        print(f"[lambdabench] compiled {name} in {time.time() - t0:.1f} s", file=sys.stderr)
    open(os.path.join(tmp, "ok"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return cp


if __name__ == "__main__":
    print(os.pathsep.join(build(spark_jars())))
