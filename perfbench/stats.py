"""Arithmetic of the benchmark: latency statistics, span self times and the
per-query layer breakdown. Pure functions over the raw run record that
`graft.perfbench.Main` writes; `tests/test_stats.py` covers them."""
import math

NS = 1e9
# A query's layers must sum to its wall time within this tolerance: listener
# times have 1 ms resolution, so each query may be off by a few ms.
SUM_TOL_FRAC = 0.01
SUM_TOL_NS = 2_000_000


def percentile(values, p):
    """p-quantile (0 <= p <= 1), interpolated linearly between order
    statistics, and the number of samples above it."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    r = (len(xs) - 1) * p
    lo = math.floor(r)
    hi = min(lo + 1, len(xs) - 1)
    v = xs[lo] + (xs[hi] - xs[lo]) * (r - lo)
    return v, sum(1 for x in xs if x > v)


def geomean(values):
    xs = list(values)
    if not xs or min(xs) <= 0:
        raise ValueError("geomean needs positive samples")
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def union_length(intervals, lo=None, hi=None):
    """Length of the union of [start, end] intervals, clipped to [lo, hi]."""
    clipped = []
    for s, e in intervals:
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e > s:
            clipped.append((s, e))
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(clipped):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(span, children):
    """A span's duration minus the part of it its children cover."""
    s, e = span
    return (e - s) - union_length(children, s, e)


def layer_breakdown(x):
    """Split one traced execution's wall time into layers.

    Driver spans: query = build + optimize + plan + execute, with the final
    DataFrame's analysis inside build. Each job hangs under the innermost
    driver span that holds its start. Only a job that overlaps a Catalyst
    phase it does not hang under is counted twice; `sum_ok` bounds that.
    Returns the self time of every span,
    the time jobs were running, and the driver gap: wall time covered by no
    Catalyst phase and no job."""
    t0, tb, to, tp, t1 = x["t0"], x["tb"], x["to"], x["tp"], x["t1"]
    spans = {"query": (t0, t1), "build": (t0, tb), "optimize": (tb, to),
             "plan": (to, tp), "execute": (tp, t1)}
    if x.get("analysis"):
        a0, a1 = (min(max(v, t0), tb) for v in x["analysis"])
        if a1 > a0:
            spans["analysis"] = (a0, a1)
    parent_of = {"build": "query", "optimize": "query", "plan": "query",
                 "execute": "query", "analysis": "build"}
    depth = {"query": 0, "build": 1, "optimize": 1, "plan": 1, "execute": 1, "analysis": 2}
    jobs = {k: [] for k in spans}
    for _, js, je in x.get("jobs", []):
        at = min(max(js, t0), t1 - 1)  # a start rounded to the ms may precede t0
        holders = [k for k, (s, e) in spans.items() if s <= at < e] or ["query"]
        jobs[max(holders, key=depth.get)].append((js, je))
    kids = {k: [spans[c] for c, p in parent_of.items() if p == k and c in spans] for k in spans}
    selves = {k: self_time(spans[k], kids[k] + jobs[k]) for k in spans}
    job_ns = sum(union_length(jobs[k], *spans[k]) for k in spans)
    gap_ns = selves["query"] + selves["build"] + selves["execute"]
    catalyst_ns = sum(selves.get(k, 0) for k in ("analysis", "optimize", "plan"))
    job_ends = [je for js, je in jobs["execute"]]
    return {
        "wall": t1 - t0,
        "self": selves,
        "job": job_ns,
        "gap": gap_ns,
        "sum": catalyst_ns + job_ns + gap_ns,
        "build_jobs": len(jobs["build"]) + len(jobs.get("analysis", [])),
        "collect_tail": t1 - max([tp] + job_ends),
    }


def sum_ok(b):
    return abs(b["sum"] - b["wall"]) <= SUM_TOL_NS + SUM_TOL_FRAC * b["wall"]


# A reported percentile needs at least this many samples above it.
MIN_BEYOND = 10


def end_to_end(run, ok_flags):
    """End-to-end metrics of an untraced run. `ok_flags[i]` says whether
    execution i finished and returned the oracle's rows. Throughput is per
    second of timed wall time: the sum of the timed windows."""
    ex = run["executions"]
    lat = [(x["t1"] - x["t0"]) / NS for x in ex]
    n_ok = sum(1 for f in ok_flags if f)
    p50, beyond = percentile(lat, 0.5)
    if beyond < MIN_BEYOND:
        raise ValueError(f"the median needs {MIN_BEYOND} samples above it; {len(lat)} leave {beyond}")
    return {
        "qps": (n_ok / sum(lat), "1/s"),
        "geomean_s": (geomean(lat), "s"),
        "latency_p50_s": (p50, "s"),
        "ok_frac": (n_ok / len(ex), "ratio"),
        "setup_s": (run["setup_s"], "s"),
    }


GRAFT_RULES = ("AqumvRule", "EagerAggRule", "RlsRule", "BindExpensiveFilterRule")


def per_layer(run, ok_flags):
    """Per-layer metrics of a traced run, as per-query means unless named a
    ratio or a count over the run."""
    ex = run["executions"]
    n = len(ex)
    bd = [layer_breakdown(x) for x in ex]
    c = lambda k: sum(x["c"].get(k, 0) for x in ex)
    mean = lambda v: v / n
    mb = 1 << 20
    fps = {q: set(v) for q, v in run["warm_plan_fp"].items()}
    for x in ex:
        if "plan_fp" in x:
            fps.setdefault(x["q"], set()).add(x["plan_fp"])
    m = {
        "harness.session_s": (run["session_s"], "s"),
        "harness.ddl_s": (run["ddl_s"], "s"),
        "harness.warm_s": (run["warm_s"], "s"),
        "harness.reset_s": (mean(sum(x["reset"][1] - x["reset"][0] for x in ex)) / NS, "s"),
        "operators.build_s": (mean(sum(x["tb"] - x["t0"] for x in ex)) / NS, "s"),
        "operators.build_jobs": (mean(sum(b["build_jobs"] for b in bd)), "count"),
        "catalyst.analysis_s": (mean(sum(b["self"].get("analysis", 0) for b in bd)) / NS, "s"),
        "catalyst.optimize_s": (mean(sum(b["self"]["optimize"] for b in bd)) / NS, "s"),
        "catalyst.plan_s": (mean(sum(b["self"]["plan"] for b in bd)) / NS, "s"),
    }
    for r in GRAFT_RULES:
        m[f"rules.{r.removesuffix('Rule')}_s"] = (mean(c(f"rule_ns.{r}")) / NS, "s")
    m["rules.effective_ratio"] = (c("rule_effective_runs") / max(1, c("rule_runs")), "ratio")
    m.update({
        "codegen.compile_s": (mean(c("compile_ns")) / NS, "s"),
        "exec.task_cpu_s": (mean(c("task_cpu_ns")) / NS, "s"),
        "exec.jobs": (mean(sum(len(x["jobs"]) for x in ex)), "count"),
        "exec.stages": (mean(sum(len(x["stages"]) for x in ex)), "count"),
        "exec.tasks": (mean(c("tasks")), "count"),
        "exec.job_wall_s": (mean(sum(b["job"] for b in bd)) / NS, "s"),
        "exec.task_run_s": (mean(c("task_run_ms")) / 1e3, "s"),
        "exec.sched_delay_s": (mean(c("sched_delay_ms")) / 1e3, "s"),
        "exec.gc_s": (mean(c("gc_ms")) / 1e3, "s"),
        "exec.shuffle_write_mb": (mean(c("shuffle_write_b")) / mb, "MB"),
        "exec.shuffle_read_mb": (mean(c("shuffle_read_b")) / mb, "MB"),
        "exec.spill_mb": (mean(c("spill_b")) / mb, "MB"),
        "exec.input_rows": (mean(c("input_rows")), "count"),
        "exec.input_mb": (mean(c("input_b")) / mb, "MB"),
        "exec.rows_examined_per_result":
            (c("input_rows") / max(1, sum(x.get("rows", 0) for x in ex)), "ratio"),
        "driver.gap_s": (mean(sum(b["gap"] for b in bd)) / NS, "s"),
        "spool.blocks": (mean(c("spool_blocks")), "count"),
        "spool.peak_mb": (mean(c("spool_peak_b")) / mb, "MB"),
        "spool.leftover_blocks": (mean(c("leftover_blocks")), "count"),
        "write.mb": (mean(c("write_b")) / mb, "MB"),
        "write.rows": (mean(c("write_rows")), "count"),
        "write.stage_s": (mean(c("write_stage_ms")) / 1e3, "s"),
        "result.rows": (mean(sum(x.get("rows", 0) for x in ex)), "count"),
        "result.collect_s": (mean(sum(b["collect_tail"] for b in bd)) / NS, "s"),
        "plan.unstable_queries": (sum(1 for v in fps.values() if len(v) > 1), "count"),
        "trace.qps": (sum(1 for f in ok_flags if f) / (sum(b["wall"] for b in bd) / NS), "1/s"),
        "trace.sum_viol_1pct_2ms": (sum(1 for b in bd if not sum_ok(b)), "count"),
        "jvm.peak_rss_mb": (run["peak_rss_mb"], "MB"),
    })
    return m
