#!/usr/bin/env python3
"""Benchmark of the graft query engine: closed-loop query workloads.

    python3 perfbench/run.py --workload olap --seed 1 --seconds 15 --trace 0

Builds the program from source (cached in perfbench/.build), runs one
workload in one JVM with one client thread, checks every timed result
against DuckDB, and prints one JSON object as the last stdout line: the
end-to-end metrics with --trace 0, the per-layer metrics with --trace 1.
Full detail, with provenance and the per-query latency list, goes to
perfbench/.out/result.json. Exits non-zero, printing no result, when a run
fails.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import jvm  # noqa: E402
import oracle  # noqa: E402
import stats  # noqa: E402

OUT = jvm.BENCH / ".out"
WORKLOADS = ("olap", "iterative")
# Every run must finish within this many seconds, building excluded.
RUN_LIMIT_S = 170


def source_provenance():
    """Git commit when the checkout is a git work tree, and a digest of the
    program sources either way."""
    commit = None
    if (jvm.ROOT / ".git").exists():
        r = subprocess.run(["git", "-C", str(jvm.ROOT), "rev-parse", "HEAD"],
                           capture_output=True, text=True)
        commit = r.stdout.strip() or None
    h = hashlib.sha256()
    for p in sorted((jvm.ROOT / "src" / "main").rglob("*")):
        if p.is_file():
            h.update(str(p.relative_to(jvm.ROOT)).encode() + p.read_bytes())
    return {"git_commit": commit, "src_main_sha256": h.hexdigest()}


def check_results(run, results_dir):
    """Per execution: finished, and its rows equal the oracle's. Every
    workload query must have an oracle digest."""
    con = oracle.connect(OUT / "duckdb_tmp")
    store = oracle.load_expected()
    data_key = oracle.data_sha()
    sqls = run["oracle"]
    verdict, mismatched = {}, set()
    hashes = {}
    for x in run["executions"]:
        if x["q"] not in sqls:
            raise jvm.BenchError(f"{x['q']} has no oracle SQL")
        if x["ok"]:
            hashes.setdefault(x["q"], set()).add(x["hash"])
    for name, hs in sorted(hashes.items()):
        want = oracle.expected_digest(store, name, sqls[name], data_key)
        for h in hs:
            verdict[(name, h)] = oracle.parquet_digest(con, results_dir / name / h)[0] == want
            if not verdict[(name, h)]:
                mismatched.add(name)
    ok = [x["ok"] and verdict[(x["q"], x["hash"])] for x in run["executions"]]
    return ok, sorted(mismatched)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    shutil.rmtree(OUT, ignore_errors=True)
    (OUT / "work").mkdir(parents=True)
    (OUT / "results").mkdir()
    for t in oracle.TABLES:
        if not (oracle.DATA / f"{t}.parquet").is_file():
            raise jvm.BenchError(f"missing input table {oracle.DATA / t}.parquet")
    dest = jvm.build()

    t_start = time.time()
    load_start = os.getloadavg()[0]
    nproc = os.cpu_count()
    if load_start > nproc:
        print(f"warning: load average {load_start:.2f} exceeds nproc {nproc} at start",
              file=sys.stderr)
    rc = jvm.run_main(dest, "graft.perfbench.Main",
                      [a.workload, a.seed, a.seconds, a.trace, oracle.DATA, OUT],
                      OUT / "work", OUT / "jvm.log", RUN_LIMIT_S - 15)
    if rc != 0 or not (OUT / "run.json").exists():
        tail = (OUT / "jvm.log").read_text(errors="replace")[-3000:]
        raise jvm.BenchError(f"benchmark JVM exited with {rc}:\n{tail}")
    run = json.loads((OUT / "run.json").read_text())
    ok, mismatched = check_results(run, OUT / "results")
    for x, good in zip(run["executions"], ok):
        if not good:
            print(f"FAILED {x['q']} (pass {x['pass']}): {x.get('err', 'rows differ from the oracle')}",
                  file=sys.stderr)

    metrics = stats.per_layer(run, ok) if a.trace else stats.end_to_end(run, ok)
    lat = {}
    for x in run["executions"]:
        lat.setdefault(x["q"], []).append(round((x["t1"] - x["t0"]) / stats.NS, 6))
    data_bytes = sum(p.stat().st_size for p in oracle.DATA.iterdir())
    report = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "provenance": {**run["env"], **source_provenance(),
                       "load_avg_start": load_start, "load_avg_end": os.getloadavg()[0],
                       "data_dir": str(oracle.DATA.relative_to(jvm.ROOT)),
                       "data_bytes": data_bytes, "wall_s": time.time() - t_start},
        "setup": {k: run[k] for k in ("session_s", "ddl_s", "warm_s", "warm_errors")},
        "samples": len(run["executions"]), "passes": run["passes"],
        "timed_window_s": run["timed_s"],
        "oracle_mismatches": mismatched,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        "latency_s": lat,
    }
    (OUT / "result.json").write_text(json.dumps(report, indent=1) + "\n")
    n_ok = sum(ok)
    print(f"{a.workload}: {len(ok)} timed executions over {run['passes']} passes, "
          f"{len(ok) - n_ok} failed; detail in {(OUT / 'result.json').relative_to(jvm.ROOT)}")
    print(json.dumps({"correct": n_ok == len(ok), "attempted": len(ok), "failed": len(ok) - n_ok,
                      "metrics": report["metrics"]}))


if __name__ == "__main__":
    try:
        main()
    except jvm.BenchError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        sys.exit(2)
