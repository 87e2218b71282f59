#!/usr/bin/env python3
"""Runs one workload of the graft benchmark and prints its result.

    python3 perfbench/run.py --workload serve-hot --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run compiles the program and
the harness into .bench_build/. The last line of stdout is one JSON object
with `correct`, `attempted`, `failed` and `metrics`: the end-to-end
metrics of BENCHMARK.json with --trace 0, its per-layer metrics with
--trace 1. `--selftest` runs the harness's own tests instead.
"""

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
sys.path.insert(0, HERE)
import build  # noqa: E402

# A measured run must end well inside the 180 s a run is allowed.
JVM_TIMEOUT_S = 170


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and (a.workload is None or a.seed is None or a.seconds is None):
        ap.error("--workload, --seed and --seconds are required")
    if not os.path.exists(os.path.join(ROOT, "BENCHMARK.json")):
        build.fail("no BENCHMARK.json here; run from the root of a graft checkout")
    cpus = len(os.sched_getaffinity(0))
    b = build.ensure_built(ROOT, cpus)

    if a.selftest:
        sys.exit(subprocess.run(b.jvm("perfbench.SelfTest", [], cpus), cwd=ROOT).returncode)

    cmd = b.jvm("perfbench.Main", ["--workload", a.workload, "--seed", str(a.seed),
                                   "--seconds", str(a.seconds), "--trace", str(a.trace)], cpus)
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        build.fail(f"run exceeded {JVM_TIMEOUT_S} s")
    lines = out.rstrip("\n").split("\n")
    try:
        result = json.loads(lines[-1])
        ok = proc.returncode == 0 and set(result) == {"correct", "attempted", "failed", "metrics"}
    except (ValueError, IndexError):
        ok = False
    print("\n".join(lines[:-1]))
    if not ok:
        build.fail(f"run did not produce a result (exit code {proc.returncode})")
    print(lines[-1], flush=True)


if __name__ == "__main__":
    main()
