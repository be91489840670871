#!/usr/bin/env python3
"""Per-operation breakdown of a lambdabench trace.

    python3 lambdabench/run.py --workload corpus --seed 3 --seconds 20 --trace 1
    python3 dev/trace_ops.py .bench_build/trace/corpus-seed3.jsonl [BASE.jsonl]

Reads the span file a `--trace 1` run writes and prints one row per
operation (a query of `tabular`/`corpus`, a chunk of `stream`) in run order:
total, build and execute milliseconds and the Spark jobs it ran. Jobs run
outside every operation (set-up, listener drain) are one last row. Given a
second trace of the same workload and seed (say, of the parent commit), it
adds that trace's job count per operation and the difference.
"""
import json
import sys
from collections import defaultdict

OUTSIDE = "(outside ops)"


def load(path):
    """{op name: {total_ms, build_ms, execute_ms, jobs}} in run order."""
    with open(path) as fh:
        spans = [json.loads(line) for line in fh if line.strip()]
    names = {}
    for s in spans:
        if s["name"].startswith("op:"):
            names[s["op"]] = s["name"][3:]
        elif s["name"] == "stream.chunk":
            names[s["op"]] = f"chunk {s['op']}"
    rows = defaultdict(lambda: defaultdict(float))
    order = []
    for s in spans:
        op = names.get(s["op"], OUTSIDE)
        if op not in rows:
            order.append(op)
        ms = (s["end_ns"] - s["start_ns"]) / 1e6
        if s["name"] == "spark.job":
            rows[op]["jobs"] += 1
        elif s["name"].startswith("op:") or s["name"] == "stream.chunk":
            rows[op]["total_ms"] += ms
        elif s["name"] == "operators.build":
            rows[op]["build_ms"] += ms
        elif s["name"] == "spark.execute":
            rows[op]["execute_ms"] += ms
    order.sort(key=lambda n: n == OUTSIDE)
    return {n: rows[n] for n in order}


def main():
    if len(sys.argv) not in (2, 3):
        sys.exit(__doc__)
    ops = load(sys.argv[1])
    base = load(sys.argv[2]) if len(sys.argv) == 3 else None
    head = f"{'operation':<32} {'total_ms':>9} {'build_ms':>9} {'exec_ms':>9} {'jobs':>5}"
    print(head + (f" {'base':>5} {'delta':>6}" if base is not None else ""))
    for name, r in ops.items():
        line = (f"{name:<32} {r['total_ms']:>9.0f} {r['build_ms']:>9.0f} "
                f"{r['execute_ms']:>9.0f} {int(r['jobs']):>5}")
        if base is not None:
            b = int(base[name]["jobs"]) if name in base else 0
            line += f" {b:>5} {int(r['jobs']) - b:>+6}"
        print(line)
    jobs = int(sum(r["jobs"] for r in ops.values()))
    line = (f"{'TOTAL':<32} {sum(r['total_ms'] for r in ops.values()):>9.0f} "
            f"{sum(r['build_ms'] for r in ops.values()):>9.0f} "
            f"{sum(r['execute_ms'] for r in ops.values()):>9.0f} {jobs:>5}")
    if base is not None:
        b = int(sum(r["jobs"] for r in base.values()))
        line += f" {b:>5} {jobs - b:>+6}"
    print(line)


if __name__ == "__main__":
    main()
