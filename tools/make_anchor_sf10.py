#!/usr/bin/env python3
"""Promote an sf10 sweep's BENCH_FULL.json to tools/bench_anchor_sf10.json.

graft.Bench picks tools/bench_anchor_<sftag>.json by the sf tag in the data
dir's basename (round 17), so once this file is committed an sf10 re-sweep
runs WITHOUT SPARK_GRAFT_BENCH_NORERUN and the 1.5x regression gate works
at this rung too. The calibration anchor is machine load calibration, not
SF-dependent — it is copied through from the sf0.1 anchor file.

Usage: tools/make_anchor_sf10.py <BENCH_FULL.json> [out.json]
"""
import json
import sys

args = [a for a in sys.argv[1:] if not a.startswith("--")]
src = args[0]
out = args[1] if len(args) > 1 else "tools/bench_anchor_sf10.json"

with open(src) as f:
    bench = json.load(f)
with open("tools/bench_anchor.json") as f:
    # bench_anchor.json nests the per-query map (incl. calibration_sec)
    # under "queries"; Bench's regex scraper is flat so it finds the key
    # either way — look in both places so this script does too (the r17
    # anchor shipped with calibration_sec: null from a top-level-only get,
    # which made every sf10 re-sweep report a constant 1.0 load factor).
    a = json.load(f)
    cal = a.get("calibration_sec") or a.get("queries", {}).get(
        "calibration_sec")
    # the cores the probe anchor was measured with: Bench scales the
    # anchor by calibration_cores / cores
    cores = a.get("calibration_cores") or a.get("queries", {}).get(
        "calibration_cores")
if cal is None:
    sys.exit("calibration_sec not found in tools/bench_anchor.json")

if bench.get("errors"):
    if "--partial" not in sys.argv:
        sys.exit(f"refusing to anchor a sweep with errors: {bench['errors']}"
                 " (pass --partial to anchor the clean rows only)")
    print(f"PARTIAL anchor: errored/unmeasured rows get no anchor "
          f"(regression gate skips them): {bench['errors']}")

anchor = {"calibration_sec": cal}
if cores is not None:
    anchor["calibration_cores"] = cores
anchor.update({k: round(v, 3) for k, v in sorted(bench["queries"].items())})
# metadata keys UPPERCASE so Bench's regex scraper ("([a-z0-9_]+)": <num>)
# cannot mistake them for query anchors
anchor["_SOURCE"] = {
    "SWEEP_TOTAL_SEC": bench["value"],
    "LOAD_FACTOR": bench.get("load_factor"),
    "N_QUERIES": bench.get("n_queries"),
    "SF": bench.get("sf"),
}
with open(out, "w") as f:
    json.dump(anchor, f, indent=1)
print(f"wrote {out}: {len(bench['queries'])} queries, "
      f"total {bench['value']:.1f}s, load {bench.get('load_factor')}")
