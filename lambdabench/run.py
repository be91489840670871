#!/usr/bin/env python3
"""Benchmark launcher for the graft lambda-architecture engine.

Run from the root of a checkout:

    python3 lambdabench/run.py --workload corpus --seed 7 --seconds 20 --trace 0

It builds the program and the benchmark with lambdabench/build.py (into
.bench_build/, reused while no source changes), then runs one workload
in a fresh JVM with a fixed heap and prints two lines: a context line (host
load, other JVMs, GC, sample counts) and, last, the result line

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

The exit code is non-zero when any output is wrong or the run fails.

Other modes:
    --self-test   the benchmark's own checks (lambdabench/README.md)
    --record      re-pin lambdabench/expected/panel.tsv from the current
                  program; only after the DuckDB oracle has passed on it
"""
import argparse
import glob
import json
import os
import shutil
import subprocess
import sys

from build import BUILD, HERE, build, fail, spark_jars

DATA = os.path.join(HERE, "data")
EXPECTED = os.path.join(HERE, "expected", "panel.tsv")
# Fixed, not derived from the host's memory: the driver-side fast paths size
# their caps from the heap, so a host-dependent heap changes which path runs.
HEAP = "3g"
# A benchmark run must end within 180 s.
RUN_TIMEOUT_S = 175
JAVA_OPENS = [
    "java.base/" + p + "=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")]


def other_jvms():
    """Live JVMs on the host other than this run's."""
    n = 0
    for comm in glob.glob("/proc/[0-9]*/comm"):
        try:
            with open(comm) as fh:
                n += fh.read().strip() == "java"
        except OSError:
            pass
    return n


def cpu_ticks():
    """(steal, total) jiffies of all CPUs, from /proc/stat."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    return f[7], sum(f[:8])


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true")
    ap.add_argument("--record", action="store_true")
    a = ap.parse_args()
    if not (a.workload or a.self_test or a.record):
        ap.error("give --workload, --self-test or --record")

    jars = spark_jars()
    cp = build(jars)
    work = os.path.join(BUILD, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    spans = os.path.join(BUILD, "trace", f"{a.workload}-seed{a.seed}.jsonl")
    if a.self_test:
        mode = ["--mode", "selftest"]
    elif a.record:
        mode = ["--mode", "record", "--out", EXPECTED]
    else:
        mode = ["--workload", a.workload, "--seed", str(a.seed), "--seconds",
                str(a.seconds), "--trace", str(a.trace), "--spans", spans]
    cmd = (["java"] + [x for o in JAVA_OPENS for x in ("--add-opens", o)] +
           [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseG1GC",
            "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
            "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
            "-cp", os.pathsep.join(cp + [jars]), "lambdabench.Main",
            "--data", DATA, "--expected", EXPECTED, "--work", work] + mode)
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "local"))

    load0, jvms0, ticks0 = os.getloadavg()[0], other_jvms(), cpu_ticks()
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, env=env, cwd=work)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        fail(f"run exceeded {RUN_TIMEOUT_S} s and was stopped")
    load1, ticks1 = os.getloadavg()[0], cpu_ticks()
    shutil.rmtree(work, ignore_errors=True)

    lines = [l for l in out.splitlines() if l.strip()]
    if a.self_test or a.record:
        print("\n".join(lines))
        sys.exit(proc.returncode)
    if len(lines) < 2 or not lines[-1].startswith('{"correct"'):
        print("\n".join(lines[-20:]), file=sys.stderr)
        fail(f"the run printed no result (exit {proc.returncode})")
    detail = json.loads(lines[-2])["detail"]
    steal = (ticks1[0] - ticks0[0]) / max(1, ticks1[1] - ticks0[1])
    detail["host"] = {"load1_before": load0, "load1_after": load1,
                      "steal_pct": round(100 * steal, 2),
                      "other_jvms_before": jvms0, "heap": HEAP}
    print(json.dumps({"detail": detail}))
    print(lines[-1])
    sys.exit(proc.returncode)


if __name__ == "__main__":
    main()
