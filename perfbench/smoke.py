#!/usr/bin/env python3
"""Smoke run of the benchmark itself: every workload for its shortest run
(`--seconds 0`) on the smallest input tables, outputs checked, in both
modes.

Usage (from the root of a checkout):

    python3 perfbench/smoke.py

Fails when a run exits non-zero, prints no result line or reports
incorrect outputs. The only failed operations it accepts are the ones a
workload is known to fail every time (README.md, "Known faults").
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATA = os.path.expanduser("~/testdata/sf0.001")
# workload -> operation that fails on every run until its fault is mended
KNOWN_FAILED = {"refresh_cold": "evict_reread",
                "graph_sql": "matching_maximal"}


def main():
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    runs = [(w["name"], t) for w in spec["workloads"] for t in (0, 1)]
    bad = []
    for w, trace in runs:
        p = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
             "--seed", "1", "--seconds", "0", "--trace", str(trace),
             "--data", DATA],
            cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
            text=True)
        lines = p.stdout.strip().splitlines()
        if p.returncode != 0 or not lines:
            bad.append(f"{w} trace {trace}: exit {p.returncode}")
            continue
        out = json.loads(lines[-1])
        notes = [ln for ln in lines[:-1]
                 if ln.startswith(("FAILED", "VIOLATION"))]
        unknown = [n for n in notes
                   if not n.startswith(f"FAILED {KNOWN_FAILED.get(w)}:")]
        if unknown or not out["correct"]:
            bad.append(f"{w} trace {trace}: {unknown or 'incorrect'}")
        if out["failed"] and w not in KNOWN_FAILED:
            bad.append(f"{w} trace {trace}: {out['failed']} failed")
        if w in KNOWN_FAILED and not out["failed"]:
            print(f"{w}: {KNOWN_FAILED[w]} no longer fails; "
                  "update README.md and KNOWN_FAILED")
        print(f"{w} trace {trace}: attempted {out['attempted']}, "
              f"failed {out['failed']}, correct {out['correct']}"
              + "".join(f"\n  {n}" for n in notes), flush=True)
    for b in bad:
        print(f"SMOKE FAIL {b}")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
