#!/usr/bin/env python3
"""Smoke self-test of the benchmark, on tiny inputs.

Run from the repository root:  python3 perfbench/selftest.py

Runs every workload untraced and one traced on the smoke corpora, two JVMs
at a time, and asserts that
  - every metric BENCHMARK.json names is printed with its unit
    (end-to-end metrics untraced, per-layer metrics traced);
  - no operation failed (failed_frac is 0);
  - a planted wrong expected digest is caught as a failed operation.
Exits non-zero on the first violated assertion.
"""
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
SPEC = json.load(open(os.path.join(HERE, "..", "BENCHMARK.json")))
PLANTED = "q1_agg"


def start(workload, trace="0", extra=()):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "1", "--seconds", "1", "--trace", trace, "--smoke", "1", *extra]
    return (workload, trace, extra), subprocess.Popen(
        cmd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)


def finish(job):
    (workload, trace, extra), proc = job
    out, _ = proc.communicate(timeout=300)
    assert proc.returncode == 0, f"{workload} trace={trace} {extra}: exit {proc.returncode}"
    return (workload, trace, extra), json.loads(out.strip().splitlines()[-1])


def check_metrics(label, result, specs):
    for m in specs:
        got = result["metrics"].get(m["name"])
        assert got is not None, f"{label}: metric {m['name']} missing"
        assert got["unit"] == m["unit"], f"{label}: {m['name']} unit {got['unit']} != {m['unit']}"
        assert isinstance(got["value"], (int, float)), f"{label}: {m['name']} not a number"


def main():
    t0 = time.time()
    # build once up front: the concurrent runs below must not race to compile
    subprocess.run([sys.executable, os.path.join(HERE, "build.py")], check=True)
    waves = [[lambda: start("relational"), lambda: start("table-rw", "1"),
              lambda: start("curation")],
             [lambda: start("table-rw"),
              lambda: start("relational", extra=("--plant-bad-digest", PLANTED))]]
    results = []
    for wave in waves:
        jobs = [make() for make in wave]
        results += [finish(j) for j in jobs]
    for (workload, trace, extra), r in results:
        label = f"{workload} trace={trace} {' '.join(extra)}".strip()
        if extra:
            assert r["failed"] >= 1 and not r["correct"], \
                f"{label}: planted digest for {PLANTED} was not caught"
            print(f"ok  {label}: planted digest caught ({r['failed']} failed)")
            continue
        assert r["attempted"] >= 1, f"{label}: nothing attempted"
        assert r["failed"] == 0 and r["correct"], f"{label}: {r['failed']} operations failed"
        check_metrics(label, r, SPEC["per_layer"] if trace == "1" else SPEC["end_to_end"])
        print(f"ok  {label}: {r['attempted']} operations, all metrics present")
    print(f"selftest passed in {time.time() - t0:.1f}s")


if __name__ == "__main__":
    main()
