#!/usr/bin/env python3
"""The repo benchmark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. It builds the library and the benchmark
(perfbench/build.py), generates the workload's corpus from the seed with
graft.tools.GenSf (cached under .bench_data), and runs the workload in a
fresh JVM (graft.perfbench.PerfBench) with one client in a closed loop on
local[4]. It then checks the outputs: every pass must hash the same, a
rerun of the same seed must hash the same as the last one, the batch
workloads must match their registered twins' DuckDB oracles (through
tools/local_verify.py), and the incremental sink must hold no verified
near-duplicate pair.

A readable report goes to stderr. The last line of stdout is one JSON
object with `correct`, `attempted`, `failed` and `metrics`: the end-to-end
metrics of BENCHMARK.json with --trace 0, its per-layer metrics with
--trace 1. Traced runs also write their spans to .bench_out/.
"""
import argparse
import contextlib
import io
import json
import os
import pathlib
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # keep the checkout free of __pycache__
import build  # noqa: E402

ROOT = build.ROOT
SPEC = ROOT / "BENCHMARK.json"
DATA = ROOT / ".bench_data"
TRACES = ROOT / ".bench_out"
JVM_BUDGET_S = 165

# The near-duplicate rule of the dedup oracles (EntriesDedup): whitespace
# tokens of the lowered text, Jaccard rounded to 4 places, >= 0.9.
SINK_PAIRS_SQL = r"""
WITH t AS (
  SELECT doc_id, list_distinct(regexp_extract_all(lower(text), '[^ \t\n\x0B\f\r]+')) AS toks
  FROM read_parquet('{sink}/*.parquet'))
SELECT count(*) FROM (
  SELECT round(len(list_filter(a.toks, x -> list_contains(b.toks, x)))::DOUBLE /
               nullif(len(list_distinct(a.toks || b.toks)), 0)::DOUBLE, 4) AS j
  FROM t a JOIN t b ON a.doc_id < b.doc_id)
WHERE j >= 0.9
"""


def log(*a):
    print(*a, file=sys.stderr, flush=True)


def run_jvm(java_opts, args, work, deadline):
    """Runs PerfBench; returns its report. Kills the JVM on the deadline."""
    cmd = [*build.java(work, *java_opts), "graft.perfbench.PerfBench", *args]
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    log_path = work / "jvm.log"
    with open(log_path, "w") as jlog:
        proc = subprocess.Popen(cmd, stdout=jlog, stderr=subprocess.STDOUT,
                                env=build.java_env(), start_new_session=True)
        try:
            rc = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            rc = None
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    if rc != 0:
        tail = log_path.read_text(errors="replace").splitlines()[-40:]
        log("\n".join(tail))
        sys.exit(f"perfbench: JVM {'timed out' if rc is None else f'exited {rc}'}")
    return json.loads((work / "result.json").read_text())


def single_file_tables(corpus, tables):
    """The corpus with each table as one parquet file, the fixture layout
    tools/local_verify.py reads (Spark writes a directory per table)."""
    import duckdb
    flat = pathlib.Path(corpus) / "single_file"
    flat.mkdir(exist_ok=True)
    con = duckdb.connect()
    for t in tables:
        dst = flat / f"{t}.parquet"
        if not dst.is_file():
            con.sql(f"COPY (SELECT * FROM read_parquet('{corpus}/{t}.parquet/*.parquet')) "
                    f"TO '{dst}.tmp' (FORMAT parquet)")
            os.replace(f"{dst}.tmp", dst)
    return flat


def oracle_failures(report):
    """Twins whose dumped output differs from their DuckDB oracle."""
    if not report["twin_calls"]:
        return []
    sys.path.insert(0, str(ROOT / "tools"))
    import local_verify
    flat = single_file_tables(report["corpus"], local_verify.TABLES)
    out = io.StringIO()
    with contextlib.redirect_stdout(out):
        local_verify.main(report["oracle_dir"], str(flat))
    log(out.getvalue().rstrip())
    passed = set(re.findall(r"^PASS (\S+)", out.getvalue(), re.M))
    return sorted(set(report["twin_calls"]) - passed)


def sink_pairs(sink):
    import duckdb
    con = duckdb.connect()
    return con.sql(SINK_PAIRS_SQL.format(sink=sink)).fetchone()[0]


def seed_record(workload, mult, seed):
    return DATA / "hashes" / f"{workload}-m{mult}-s{seed}.json"


def cross_run_mismatches(report, record):
    """Keys whose hash differs from the last run of the same seed."""
    if not record.is_file():
        return []
    before = json.loads(record.read_text())["hashes"]
    return sorted(k for k, h in report["hashes"].items() if before.get(k, h) != h)


def oracle_checked_before(report, record):
    """True when a run of this seed with these same outputs passed the oracles."""
    if not record.is_file():
        return False
    before = json.loads(record.read_text())
    return before["oracle_ok"] and before["hashes"] == report["hashes"]


def quantile(xs, q):
    xs = sorted(xs)
    return xs[min(len(xs) - 1, int(q * len(xs)))]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    spec = json.loads(SPEC.read_text())
    wl = build.workloads().get(a.workload)
    if wl is None:
        sys.exit(f"perfbench: unknown workload {a.workload}")
    java_opts = build.build(DATA)
    deadline = time.time() + JVM_BUDGET_S

    work = build.BUILD / f"work-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    try:
        r = run_jvm(java_opts, ["--workload", a.workload, "--seed", str(a.seed),
                         "--seconds", str(a.seconds), "--trace", str(a.trace),
                         "--mult", str(wl["mult"]), "--pass-size", str(wl["pass_size"]),
                         "--data", str(DATA), "--work", str(work),
                         "--out", str(work / "result.json"), "--trace-dir", str(TRACES)],
                    work, deadline)
        if sorted(r["call_names"]) != sorted(wl["calls"]):
            sys.exit(f"perfbench: {a.workload} made calls {r['call_names']}, "
                     f"workloads.json lists {wl['calls']}")

        problems = list(r["check_failures"])
        failed = r["failed_calls"] + r["hash_mismatches"] + len(problems) * r["passes"]
        record = seed_record(a.workload, wl["mult"], a.seed)
        for k in cross_run_mismatches(r, record):
            problems.append(f"hash differs from the last run of seed {a.seed}: {k}")
            failed += r["passes"]
        # Identical outputs need the oracle only once per seed.
        bad_twins = [] if oracle_checked_before(r, record) else oracle_failures(r)
        for twin in bad_twins:
            problems.append(f"oracle mismatch: {twin}")
            failed += r["twin_calls"][twin]
        if "sink_dir" in r:
            n = sink_pairs(r["sink_dir"])
            if n:
                problems.append(f"sink holds {n} pairs at Jaccard >= 0.9")
                failed += r["passes"]
        record.parent.mkdir(parents=True, exist_ok=True)
        record.write_text(json.dumps({"hashes": r["hashes"], "oracle_ok": not bad_twins},
                                     sort_keys=True))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    attempted = r["calls"]
    failed = min(failed, attempted)
    steps = r["step_s"]
    e2e = {
        "setup_s": r["setup_s"],
        "wall_s": statistics.median(r["pass_s"]),
        "peak_heap_mb": statistics.median(r["peak_heap_mb"]),
    }
    step = wl["step"]
    log(f"[perfbench] {a.workload} seed={a.seed} mult={wl['mult']} passes={r['passes']} "
        f"{step}s={len(steps)} gen_s={r['gen_s']:.3f} (not in setup_s) "
        f"failed_frac={failed / attempted:.4f} ({failed}/{attempted})")
    for k, v in e2e.items():
        log(f"  {k} = {v:.4f}")
    log(f"  setup_s = session {r['session_s']:.3f} + preparation and warm-up "
        f"{r['warmup_s']:.3f}; timed region {r['timed_s']:.3f} s")
    log(f"  {step}_p50_s = {statistics.median(steps):.4f}")
    if len(steps) >= 100:
        log(f"  {step}_p90_s = {quantile(steps, 0.9):.4f}")
    else:
        log(f"  {step}_p90_s not reported: {len(steps)} {step}s, p90 needs 100")
    log(f"  host jiffies {r['host_jiffies']}, steal share per pass "
        f"{[round(x, 3) for x in r['pass_steal']]}")
    for p in problems:
        log(f"  CHECK FAILED: {p}")

    names = spec["per_layer"] if a.trace else spec["end_to_end"]
    values = r["per_layer"] if a.trace else e2e
    if a.trace:
        log(f"  traced passes {[round(x, 3) for x in r['traced_pass_s']]} s, "
            f"trace overhead = {values['trace.overhead_s']:.4f} s, untagged share: "
            f"jobs {values['untagged.job_share']:.4f} exec {values['untagged.exec_share']:.4f}")
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in names}
    print(json.dumps({"correct": failed == 0 and not problems, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
