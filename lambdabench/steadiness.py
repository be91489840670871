#!/usr/bin/env python3
"""Steadiness table: runs a workload once per seed and summarises each metric.

    python3 lambdabench/steadiness.py --workload corpus --seeds 1-10

Prints, per end-to-end metric, the median, the first and third quartiles
(Python's statistics.quantiles, n=4), the spread (Q3 - Q1) as a share of the
median, and min and max, followed by the host load, hypervisor steal and
other JVMs seen around the runs.
Runs are sequential; `--results FILE` keeps each run's two output lines.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--results")
    a = ap.parse_args()
    values, loads, jvms, steal = {}, [], [], []
    out = open(a.results, "a") if a.results else None
    for s in seeds(a.seeds):
        res = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", a.workload,
             "--seed", str(s), "--seconds", str(a.seconds), "--trace", "0"],
            stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
        lines = res.stdout.strip().splitlines()
        if res.returncode != 0 or len(lines) < 2:
            sys.exit(f"seed {s}: run failed (exit {res.returncode})")
        if out:
            out.write(res.stdout)
            out.flush()
        host = json.loads(lines[-2])["detail"]["host"]
        loads += [host["load1_before"], host["load1_after"]]
        jvms.append(host["other_jvms_before"])
        steal.append(host["steal_pct"])
        for k, m in json.loads(lines[-1])["metrics"].items():
            values.setdefault(k, []).append(m["value"])
        print(f"seed {s}: " + " ".join(f"{k}={v[-1]:.4g}" for k, v in values.items()),
              file=sys.stderr)
    print(f"{a.workload}: {len(seeds(a.seeds))} runs, --seconds {a.seconds}")
    print("| metric | median | Q1 | Q3 | (Q3-Q1)/median | min | max |")
    print("|---|---|---|---|---|---|---|")
    for k, v in values.items():
        q1, q2, q3 = statistics.quantiles(v, n=4)
        med = statistics.median(v)
        print(f"| {k} | {med:.4g} | {q1:.4g} | {q3:.4g} | {(q3 - q1) / med:.2%} "
              f"| {min(v):.4g} | {max(v):.4g} |")
    print(f"host: 1-min load {min(loads):.2f}-{max(loads):.2f} around the runs, "
          f"steal {min(steal):.2f}-{max(steal):.2f} % of CPU time during them, "
          f"other JVMs at start {min(jvms)}-{max(jvms)}")


if __name__ == "__main__":
    main()
