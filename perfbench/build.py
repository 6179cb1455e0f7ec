#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles graft's main sources (src/main/scala) and the benchmark's own
sources (perfbench/src) with the Scala compiler that ships in Spark's jar
directory, into .bench_build/graft and .bench_build/perfbench. Each half is
rebuilt only when a hash of its inputs changes.

Usage: python3 perfbench/build.py
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

SPARK_JARS = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")
BUILD_DIR = ".bench_build"


def sources(root):
    return sorted(glob.glob(os.path.join(root, "**", "*.scala"), recursive=True))


def digest(paths, extra=""):
    h = hashlib.sha256(extra.encode())
    for p in paths:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def compile_tree(srcs, out, classpath, stamp):
    stamp_file = os.path.join(out, ".stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    cp = ":".join([os.path.join(SPARK_JARS, "*")] + classpath)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(SPARK_JARS, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-classpath", cp, "-d", out] + srcs
    print(f"[perfbench] compiling {len(srcs)} files into {out}", file=sys.stderr)
    subprocess.run(cmd, check=True, stdout=sys.stderr)
    with open(stamp_file, "w") as f:
        f.write(stamp)


def build():
    """Returns (classpath entries, source hash)."""
    main_src = sources(os.path.join("src", "main", "scala"))
    bench_src = sources(os.path.join("perfbench", "src"))
    if not main_src or not bench_src:
        raise SystemExit("[perfbench] graft sources not found: run from the repository root")
    graft_out = os.path.abspath(os.path.join(BUILD_DIR, "graft"))
    bench_out = os.path.abspath(os.path.join(BUILD_DIR, "perfbench"))
    graft_stamp = digest(main_src)
    bench_stamp = digest(bench_src, graft_stamp)
    compile_tree(main_src, graft_out, [], graft_stamp)
    compile_tree(bench_src, bench_out, [graft_out], bench_stamp)
    return [graft_out, bench_out], bench_stamp[:16]


if __name__ == "__main__":
    build()
