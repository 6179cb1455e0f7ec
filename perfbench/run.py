#!/usr/bin/env python3
"""Runs one benchmark workload and prints its result as the last line.

Usage (from the repository root):
  python3 perfbench/run.py --workload relational|curation|table-rw \
      --seed N --seconds S --trace 0|1

Builds graft and the benchmark from source (perfbench/build.py), starts one
JVM, and relays its stdout: the run record, the per-layer table when
traced, and finally the result object
  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}.
Everything the run writes stays in the checkout: .bench_build (classes),
.bench_work (inputs and tables, removed after the run) and .bench_results
(records and traces).

Extra flags: --smoke 1 (tiny inputs), --record 1 (write expected digests
instead of checking them), --plant-bad-digest OP (corrupt one expected
digest, to show the check is live).
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

JVM_TIMEOUT_S = 170
HEAP = "2g"
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]
RESULT_KEYS = {"correct", "attempted", "failed", "metrics"}


def commit():
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], capture_output=True,
                             text=True, timeout=10)
        return out.stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["relational", "curation", "table-rw"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    ap.add_argument("--smoke", choices=["0", "1"], default="0")
    ap.add_argument("--record", choices=["0", "1"], default="0")
    ap.add_argument("--plant-bad-digest", default=None)
    a = ap.parse_args()

    classpath, src_hash = build.build()
    here = os.path.dirname(os.path.abspath(__file__))
    work = os.path.abspath(os.path.join(".bench_work", f"{a.workload}-{os.getpid()}"))
    results = os.path.abspath(".bench_results")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(results, exist_ok=True)

    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    # a fixed heap cap, not a fixed heap: peak RSS then follows the pages
    # the run touches (shuffle buffers, aggregation maps, collected rows)
    cmd += [f"-Xmx{HEAP}", f"-Djava.io.tmpdir={work}/tmp",
            "-Dspark.sql.session.timeZone=UTC",
            f"-Dlog4j2.configurationFile={os.path.join(here, 'log4j2.properties')}",
            "-cp", ":".join([os.path.join(build.SPARK_JARS, "*")] + classpath),
            "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace,
            "--work", work, "--results", results,
            "--expected", os.path.join(here, "expected"),
            "--record", a.record, "--smoke", a.smoke,
            "--commit", commit(), "--src-hash", src_hash]
    if a.plant_bad_digest:
        cmd += ["--plant-bad-digest", a.plant_bad_digest]

    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=sys.stderr,
                            text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        print(f"[perfbench] run exceeded {JVM_TIMEOUT_S}s", file=sys.stderr)
        return 3
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    if proc.returncode != 0:
        print(f"[perfbench] benchmark JVM exited with {proc.returncode}", file=sys.stderr)
        return 1
    lines = [l for l in out.splitlines() if l.strip()]
    try:
        result = json.loads(lines[-1])
        assert set(result) == RESULT_KEYS
    except (IndexError, ValueError, AssertionError):
        print("[perfbench] no result line from the benchmark JVM", file=sys.stderr)
        return 1
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}" + ("-smoke" if a.smoke == "1" else "")
    with open(os.path.join(results, tag + ".txt"), "w") as f:
        f.write("\n".join(lines) + "\n")
    print("\n".join(lines[:-1]))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
