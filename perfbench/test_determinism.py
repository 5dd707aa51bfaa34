#!/usr/bin/env python3
"""Determinism test of the benchmark's per-layer counters.

Two traced runs of a workload on the same seed must report identical
`jobs`, `tasks`, `shuffle_records`, `input_rows` and `rows_out` for every
layer: counts that host noise cannot move. Exits 1 on any difference.

    python3 perfbench/test_determinism.py [--workload <name> ...] [--seed <n>] [--seconds <s>]

By default it runs every workload of BENCHMARK.json (two fresh JVMs each).
"""
import argparse
import json
import pathlib
import subprocess
import sys

HERE = pathlib.Path(__file__).resolve().parent
ROOT = HERE.parent
COUNTERS = ("jobs", "tasks", "shuffle_records", "input_rows", "rows_out")


def traced_run(workload, seed, seconds):
    out = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", "1"],
        cwd=ROOT, stdout=subprocess.PIPE, text=True, check=True)
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert result["correct"], f"{workload}: outputs failed their checks"
    return {k: v["value"] for k, v in result["metrics"].items()
            if k.rsplit(".", 1)[-1] in COUNTERS}


def main():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", action="append",
                    default=None, help="repeatable; default: every BENCHMARK.json workload")
    ap.add_argument("--seed", type=int, default=7)
    ap.add_argument("--seconds", type=float, default=spec["run_seconds"])
    a = ap.parse_args()
    workloads = a.workload or [w["name"] for w in spec["workloads"]]

    failures = 0
    for w in workloads:
        first, second = (traced_run(w, a.seed, a.seconds) for _ in range(2))
        diff = {k: (first[k], second.get(k)) for k in first if first[k] != second.get(k)}
        nonzero = sum(1 for v in first.values() if v)
        if diff:
            failures += 1
            print(f"FAIL {w}: {len(diff)} counters differ: {diff}")
        else:
            print(f"PASS {w}: {len(first)} counters identical ({nonzero} non-zero)")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
