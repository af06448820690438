#!/usr/bin/env python3
"""The Observatory benchmark: one workload, one seed, one JSON line.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload refresh_cold --seed 1 --seconds 10 --trace 0

Builds the engine and the benchmark from source with sbt on first use,
runs the workload in one JVM at local[nproc], checks its outputs against
DuckDB (the row-hash comparison of tools/check.py) and against the
properties the operators must have, and prints as its last stdout line
`{"correct", "attempted", "failed", "metrics"}`. `--trace 0` reports the
end-to-end metrics of BENCHMARK.json, `--trace 1` its per-layer metrics.
`--data` points at another copy of the input tables (the smoke run uses
the small one).
"""
import argparse
import contextlib
import glob
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
LAUNCH = os.path.join(HERE, "target", "bench-launch.txt")
# the generated tables TESTDATA.md describes
DEFAULT_DATA = os.path.expanduser("~/testdata/sf0.01")
# a run must end within 180 s; leave room for the checks after the JVM
JVM_TIMEOUT_S = 150
SBT_ENV = {
    "COURSIER_MODE": "offline",
    "SBT_OPTS": "-Dsbt.override.build.repos=true "
                "-Dsbt.repository.config="
                + os.path.expanduser("~/.sbt/repositories") + " "
                "-Dsbt.offline=true -Xmx2g",
}


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources():
    pats = ["src/main/**/*.scala", "src/main/**/*.java", "build.sbt",
            "project/*.properties", "perfbench/src/**/*.scala",
            "perfbench/build.sbt", "perfbench/project/*.properties"]
    return [f for p in pats for f in glob.glob(os.path.join(ROOT, p),
                                               recursive=True)]


def build():
    """Compiles with sbt when a source is newer than the last build and
    returns the engine's JVM options and the classpath."""
    if (not os.path.exists(LAUNCH)
            or max(map(os.path.getmtime, sources()))
            > os.path.getmtime(LAUNCH)):
        log("building with sbt")
        p = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true",
                            "launcher"], cwd=HERE,
                           env=dict(os.environ, **SBT_ENV),
                           stdout=sys.stderr)
        if p.returncode != 0:
            raise SystemExit("perfbench: sbt build failed")
    opts, cp = open(LAUNCH).read().splitlines()
    return [o for o in opts.split() if not o.startswith("-Xmx")], cp


def oracle_check(data, check_dir):
    """Replays every oracle with tools/check.py; its report goes to stderr."""
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    import check  # noqa: E402  (tools/check.py of this checkout)
    with contextlib.redirect_stdout(sys.stderr):
        return check.main(data, check_dir) == 0


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--data", default=DEFAULT_DATA)
    a = ap.parse_args()

    if not os.path.exists(os.path.join(ROOT, "build.sbt")):
        raise SystemExit("perfbench: no engine sources next to the benchmark")
    if not os.path.exists(os.path.join(a.data, "orders.parquet")):
        raise SystemExit(f"perfbench: no input tables in {a.data}")

    opts, cp = build()
    work = os.path.join(HERE, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        cmd = (["java", "-Xmx4g", f"-Djava.io.tmpdir={work}/tmp"] + opts
               + ["-cp", cp, "perfbench.Main", "--workload", a.workload,
                  "--seed", str(a.seed), "--seconds", str(a.seconds),
                  "--trace", str(a.trace), "--data", a.data, "--work", work])
        t0 = time.time()
        jvm = subprocess.Popen(cmd, cwd=ROOT, stdout=sys.stderr)
        try:
            rc = jvm.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            jvm.kill()
            jvm.wait()
            raise SystemExit(f"perfbench: run exceeded {JVM_TIMEOUT_S} s")
        if rc != 0:
            raise SystemExit(f"perfbench: JVM exited with {rc}")
        log(f"JVM done in {time.time() - t0:.1f} s")
        with open(os.path.join(work, "result.json")) as f:
            res = json.load(f)
        t1 = time.time()
        oracles_ok = oracle_check(a.data, os.path.join(work, "check"))
        log(f"DuckDB checks done in {time.time() - t1:.1f} s")
        out = os.path.join(HERE, "out")
        os.makedirs(out, exist_ok=True)
        tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
        for name in ("result.json", "trace.json"):
            shutil.copy(os.path.join(work, name),
                        os.path.join(out, f"{tag}-{name}"))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    for v in res["violations"]:
        print(f"VIOLATION {v}")
    for op, err in res["failures"].items():
        print(f"FAILED {op}: {err}")
    print(f"checks: {res['oracle_checks']} against DuckDB "
          f"({'all match' if oracles_ok else 'MISMATCH'}), "
          f"{res['property_checks']} properties, "
          f"{len(res['violations'])} violated")

    kind = "end_to_end" if a.trace == 0 else "per_layer"
    declared = {m["name"]: m["unit"] for m in spec[kind]}
    unknown = set(res["metrics"]) - set(declared)
    if unknown:
        raise SystemExit(f"perfbench: undeclared metrics {sorted(unknown)}")
    # a layer this workload does not exercise did no work: it reads 0
    metrics = {n: {"value": res["metrics"].get(n, 0.0), "unit": u}
               for n, u in declared.items()}
    print(json.dumps({
        "correct": bool(oracles_ok and not res["violations"]
                        and res["oracle_checks"] > 0),
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    }))


if __name__ == "__main__":
    main()
