#!/usr/bin/env python3
"""Per-operation wall time, jobs and tasks of a traced perfbench run.

Usage:
    python3 tools/spans_by_op.py <before.spans.jsonl> [after.spans.jsonl]

A traced run (`perfbench/run.py ... --trace 1`) writes
`.bench_results/<workload>-seed<N>.spans.jsonl`: one line per span, where
a span with `parent == 0` is one timed operation and its child spans
carry the Spark jobs and tasks started inside it. This script sums each
operation's spans and prints, per operation name, the number of calls,
the wall ms of all calls, and the jobs and tasks per call. Given two
files it prints them side by side (before | after), so a change's effect
on each operation's job count is one table.
"""
import collections
import json
import sys


def by_op(path):
    """op name -> [calls, wall_ms, jobs, tasks], summed over passes."""
    spans = [json.loads(line) for line in open(path) if line.strip()]
    roots = {}
    for s in spans:
        if s["parent"] == 0:
            roots[(s["pass"], s["op"])] = s
    out = collections.OrderedDict()
    for s in sorted(roots.values(), key=lambda s: (s["pass"], s["start_ns"])):
        row = out.setdefault(s["name"], [0, 0.0, 0.0, 0.0])
        row[0] += 1
        row[1] += (s["end_ns"] - s["start_ns"]) / 1e6
    for s in spans:
        root = roots.get((s["pass"], s["op"]))
        if root is None:
            continue
        row = out[root["name"]]
        row[2] += s["jobs"]
        row[3] += s["tasks"]
    return out


def cells(row):
    if row is None:
        return ["-"] * 4
    calls, wall, jobs, tasks = row
    return [str(calls), f"{wall:.1f}", f"{jobs / calls:.1f}", f"{tasks / calls:.1f}"]


def main(argv):
    if not 1 <= len(argv) <= 2:
        sys.exit("usage: python3 tools/spans_by_op.py "
                 "<before.spans.jsonl> [after.spans.jsonl]")
    runs = [by_op(p) for p in argv]
    names = list(runs[0])
    for r in runs[1:]:
        names += [n for n in r if n not in names]
    head = ["calls", "wall_ms", "jobs/call", "tasks/call"]
    header = ["op"] + head * len(runs)
    rows = [[n] + sum((cells(r.get(n)) for r in runs), []) for n in names]
    totals = ["total"]
    for r in runs:
        calls = sum(v[0] for v in r.values())
        totals += [str(calls), f"{sum(v[1] for v in r.values()):.1f}",
                   f"{sum(v[2] for v in r.values()):.0f} jobs",
                   f"{sum(v[3] for v in r.values()):.0f} tasks"]
    table = [header] + rows + [totals]
    widths = [max(len(r[i]) for r in table) for i in range(len(header))]
    if len(runs) == 2:
        print(" " * (widths[0] + 2) + "before".ljust(sum(widths[1:5]) + 8)
              + "| after")
    for r in table:
        parts = [r[0].ljust(widths[0])]
        for i in range(1, len(r)):
            sep = " | " if len(runs) == 2 and i == 5 else "  "
            parts.append(sep + r[i].rjust(widths[i]))
        print(parts[0] + "".join(parts[1:]))


if __name__ == "__main__":
    main(sys.argv[1:])
