#!/usr/bin/env python3
"""Steadiness of the benchmark's end-to-end metrics.

Usage (from the root of a checkout):

    python3 perfbench/steady.py

Runs every workload of BENCHMARK.json ten times in each of two sessions,
one seed per run (session s uses seeds s*1000+1 ..), for BENCHMARK.json's
run length, with tracing off. For each workload and metric it prints the
median and quartiles of each session, the spread (q3 - q1) / median
against the metric's bound, and how far the second session's median moved
from the first's. It also prints each session's share of failed
operations, which must not move. Exits non-zero when a spread or a move
exceeds its bound, or when the failed share differs between runs.
`setup_s` is held to its bound on the move only: a run sets up once, on a
cold JVM, so its spread measures the host as much as the program.
"""
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUNS = 10
SESSIONS = 2


def run(workload, seed, seconds):
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    if p.returncode != 0:
        raise SystemExit(f"{workload} seed {seed} exited with {p.returncode}")
    out = json.loads(p.stdout.strip().splitlines()[-1])
    if not out["correct"]:
        raise SystemExit(f"{workload} seed {seed}: outputs incorrect")
    return out


def main():
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    ok = True
    report = {}
    for w in (w["name"] for w in spec["workloads"]):
        sessions = [[run(w, s * 1000 + i + 1, spec["run_seconds"])
                     for i in range(RUNS)] for s in range(SESSIONS)]
        shares = [{o["failed"] / o["attempted"] for o in outs}
                  for outs in sessions]
        print(f"{w}: failed share per session {[sorted(x) for x in shares]}")
        if any(len(x) != 1 for x in shares) or len(set.union(*shares)) != 1:
            ok = False
        report[w] = {}
        for m in spec["end_to_end"]:
            name, bound = m["name"], m["bound"]
            rows = []
            for outs in sessions:
                vals = [o["metrics"][name]["value"] for o in outs]
                q1, med, q3 = statistics.quantiles(vals, n=4)
                rows.append({"median": med, "q1": q1, "q3": q3,
                             "spread": (q3 - q1) / med, "values": vals})
            first, last = rows[0]["median"], rows[-1]["median"]
            worse = ((last - first) / first if m["better"] == "lower"
                     else (first - last) / first)
            report[w][name] = {"bound": bound, "sessions": rows,
                               "moved": worse}
            bad_spread = name != "setup_s" and any(
                r["spread"] > bound for r in rows)
            bad_move = worse > bound
            ok &= not (bad_spread or bad_move)
            print(f"  {name:12s} bound {bound:.2f}  " + "  ".join(
                f"median {r['median']:.4g} [{r['q1']:.4g}, {r['q3']:.4g}] "
                f"spread {r['spread']:.3f}" for r in rows)
                + f"  moved {worse:+.3f}"
                + ("  SPREAD>BOUND" if bad_spread else "")
                + ("  MOVED>BOUND" if bad_move else ""), flush=True)
    os.makedirs(os.path.join(HERE, "out"), exist_ok=True)
    with open(os.path.join(HERE, "out", "steady.json"), "w") as f:
        json.dump(report, f, indent=1)
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
