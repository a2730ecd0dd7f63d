"""Turns one run's event log into the benchmark's metrics.

Pure functions over plain records (the JSON lines `perfbench.Main`
writes), so every rule here is unit-tested without a JVM.

Span tree of a traced pass (times are epoch microseconds, scheduler
events are epoch milliseconds):

    pass -> query -> build | execute | release
    build, execute -> plan | job          (by time containment)
    job -> stage                          (by the stage's job id)

Self time charges each instant of a pass to the deepest layer active at
that instant (stage, then job, then plan, then build/execute/release,
then query, then the pass itself), so the self times of a pass add up to
its wall time and parallel stages are not counted twice.
"""
import math
import statistics

MB = 1024.0 * 1024.0


# ---------------------------------------------------------------- percentiles

def nearest_rank(samples, pct):
    """The nearest-rank `pct`-th percentile of `samples`."""
    xs = sorted(samples)
    return xs[max(1, math.ceil(pct / 100.0 * len(xs))) - 1]


def tail_percentile(samples, beyond=10):
    """The highest whole percentile that leaves at least `beyond` samples
    strictly above its nearest-rank position.

    Returns (percentile, value). With N samples the percentile is
    floor(100 * (1 - beyond / N)) and the value is the nearest-rank
    sample at that percentile; N must exceed `beyond`.
    """
    n = len(samples)
    if n <= beyond:
        raise ValueError(f"need more than {beyond} samples for the tail, got {n}")
    pct = math.floor(100.0 * (n - beyond) / n)
    return pct, nearest_rank(samples, pct)


# ------------------------------------------------------------------- failures

def count_failures(execs, verified):
    """Failed executions among `execs` (dicts with query, hash, error).

    An execution fails if it threw, or if its row hash differs from the
    verified hash of its query. A query with no verified hash (its check
    failed) fails every execution.
    """
    failed = 0
    for e in execs:
        good = verified.get(e["query"])
        if e.get("error") is not None or e.get("hash") is None or good is None or e["hash"] != good:
            failed += 1
    return failed


# -------------------------------------------------------------- interval math

def union_length(intervals, lo=None, hi=None):
    """Total length covered by (start, end) intervals, optionally clipped
    to [lo, hi]."""
    clipped = []
    for s, e in intervals:
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e > s:
            clipped.append((s, e))
    clipped.sort()
    total, cur_s, cur_e = 0, None, None
    for s, e in clipped:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def exclusive_times(layers, lo, hi):
    """Self time per layer within [lo, hi].

    `layers` is a list of (name, intervals), deepest layer first. Each
    layer is charged the time its intervals cover that no deeper layer
    covers: |U(deeper + own)| - |U(deeper)|. The pass window itself is
    the last, implicit layer, named "pass"."""
    out, deeper, covered = {}, [], 0
    for name, spans in layers:
        deeper = deeper + list(spans)
        now = union_length(deeper, lo, hi)
        out[name] = now - covered
        covered = now
    out["pass"] = (hi - lo) - covered
    return out


def contains(outer, t):
    return outer[0] <= t <= outer[1]


# -------------------------------------------------------------- event parsing

def split(events):
    by = {}
    for ev in events:
        by.setdefault(ev["kind"], []).append(ev)
    return by


def jobs_of(by):
    """Job spans in microseconds: {id: (start_us, end_us)}."""
    starts = {e["job"]: e["t_ms"] for e in by.get("job_start", [])}
    return {e["job"]: (starts[e["job"]] * 1000, e["t_ms"] * 1000)
            for e in by.get("job_end", []) if e["job"] in starts}


def verified_hashes(by):
    return {c["query"]: c["hash"] for c in by.get("check", []) if c.get("hash") is not None}


# -------------------------------------------------------------- end to end

def end_to_end(by, wrong):
    """The end-to-end metrics of an untraced run.

    `wrong` is the number of queries whose checked output differs from the
    oracle. Returns (metrics, attempted, failed, tail percentile)."""
    run = by["run"][0]
    passes = [p for p in by["pass"] if p["pass"] >= 0]
    execs = [e for e in by["exec"] if e["pass"] >= 0]
    n_queries = len(by["check"])
    verified = verified_hashes(by)
    failed = count_failures(execs, verified)
    lat = [(e["executed_us"] - e["start_us"]) / 1e6 for e in execs]
    pct, tail = tail_percentile(lat)
    metrics = {
        "setup_s": ((run["setup_end_ms"] - run["jvm_start_ms"]) / 1e3, "s"),
        "pass_s": (statistics.median((p["end_us"] - p["start_us"]) / 1e6 for p in passes), "s"),
        "query_p50_s": (nearest_rank(lat, 50), "s"),
        "query_tail_s": (tail, "s"),
        "ok_frac": (1.0 - failed / len(execs), "ratio"),
        "oracle_match_frac": (1.0 - wrong / n_queries, "ratio"),
    }
    return metrics, len(execs), failed, pct


# ----------------------------------------------------------------- per layer

def pass_layers(by, p, cores):
    """Per-layer figures of one traced pass `p` (a pass record)."""
    lo, hi = p["start_us"], p["end_us"]
    wall = (hi - lo) / 1e6
    execs = [e for e in by["exec"] if e["pass"] == p["pass"]]
    builds = [(e["start_us"], e["built_us"]) for e in execs]
    executes = [(e["built_us"], e["executed_us"]) for e in execs]
    releases = [(e["release_start_us"], e["end_us"]) for e in execs]
    queries = [(e["start_us"], e["end_us"]) for e in execs]

    jobs = {j: v for j, v in jobs_of(by).items() if lo <= v[0] <= hi}
    stages = [s for s in by.get("stage", []) if s["job"] in jobs and s["start_ms"] >= 0]
    stage_spans = {}
    for s in stages:
        stage_spans.setdefault(s["job"], []).append((s["start_ms"] * 1000, s["end_ms"] * 1000))
    plans = [q for q in by.get("plan", []) if q["start_ms"] >= 0 and lo <= q["start_ms"] * 1000 <= hi]
    plan_spans = [(q["start_ms"] * 1000,
                   q["start_ms"] * 1000 + 1000 * (q["analysis_ms"] + q["optimization_ms"] + q["planning_ms"]))
                  for q in plans]
    job_spans = list(jobs.values())

    own = exclusive_times([("stage", [sp for v in stage_spans.values() for sp in v]),
                           ("job", job_spans), ("plan", plan_spans),
                           ("build", builds), ("execute", executes), ("release", releases),
                           ("query", queries)], lo, hi)
    build_jobs = sum(1 for j in job_spans if any(contains(b, j[0]) for b in builds))
    sum_ = lambda key: sum(s[key] for s in stages)
    skew = max((s["max_run_ms"] / max(s["median_run_ms"], 1) for s in stages if s["tasks"] > 1),
               default=1.0)
    return {
        "entry.build_s": sum(b - a for a, b in builds) / 1e6,
        "entry.build_jobs": build_jobs,
        "plans.plan_s": sum(b - a for a, b in plan_spans) / 1e6,
        "sources.scans": sum(q["scans"] for q in plans),
        "sources.input_mb": sum_("input_bytes") / MB,
        "sources.input_rows": sum_("input_rows"),
        "sched.jobs": len(jobs),
        "sched.stages": len(stages),
        "sched.tasks": sum_("tasks"),
        "sched.driver_only_s": (hi - lo - union_length(job_spans, lo, hi)) / 1e6,
        "sched.task_overhead_s": (sum_("task_ms") - sum_("run_ms")) / 1e3,
        "sched.core_util": sum_("run_ms") / 1e3 / (wall * cores),
        "sched.failed_tasks": sum_("failed_tasks"),
        "operators.run_s": sum_("run_ms") / 1e3,
        "operators.cpu_s": sum_("cpu_ns") / 1e9,
        "operators.gc_s": sum_("gc_ms") / 1e3,
        "operators.stage_skew": skew,
        "operators.peak_exec_mem_mb": max((s["peak_exec_mem_bytes"] for s in stages), default=0) / MB,
        "codegen.compiles": p["compiles"],
        "shuffle.write_mb": sum_("shuffle_write_bytes") / MB,
        "shuffle.read_mb": sum_("shuffle_read_bytes") / MB,
        "shuffle.fetch_wait_s": sum_("fetch_wait_ms") / 1e3,
        "spill.mem_mb": sum_("spill_mem_bytes") / MB,
        "spill.disk_mb": sum_("spill_disk_bytes") / MB,
        "write.files": sum(q["write_files"] for q in plans),
        "write.mb": sum(q["write_bytes"] for q in plans) / MB,
        "write.rows": sum(q["write_rows"] for q in plans),
        "write.commit_s": sum(q["write_commit_ms"] for q in plans) / 1e3,
        "caches.release_s": sum(b - a for a, b in releases) / 1e6,
        "caches.peak_mb": max((e["cached_bytes"] for e in execs), default=0) / MB,
        "driver.result_mb": sum_("result_bytes") / MB,
        **{f"self.{k}_s": v / 1e6 for k, v in own.items()},
    }


# per-layer metric -> unit; the order is the order of BENCHMARK.json
LAYER_UNITS = {
    "entry.build_s": "s", "entry.build_jobs": "count", "plans.plan_s": "s",
    "sources.scans": "count", "sources.input_mb": "MB", "sources.input_rows": "count",
    "sched.jobs": "count", "sched.stages": "count", "sched.tasks": "count",
    "sched.driver_only_s": "s", "sched.task_overhead_s": "s", "sched.core_util": "ratio",
    "sched.failed_tasks": "count",
    "operators.run_s": "s", "operators.cpu_s": "s", "operators.gc_s": "s",
    "operators.stage_skew": "ratio", "operators.peak_exec_mem_mb": "MB", "codegen.compiles": "count",
    "shuffle.write_mb": "MB", "shuffle.read_mb": "MB", "shuffle.fetch_wait_s": "s",
    "spill.mem_mb": "MB", "spill.disk_mb": "MB",
    "write.files": "count", "write.mb": "MB", "write.rows": "count", "write.commit_s": "s",
    "caches.release_s": "s", "caches.peak_mb": "MB", "driver.result_mb": "MB",
    "self.pass_s": "s", "self.query_s": "s", "self.build_s": "s", "self.execute_s": "s",
    "self.release_s": "s", "self.plan_s": "s", "self.job_s": "s", "self.stage_s": "s",
    "trace.overhead": "ratio", "jvm.peak_rss_mb": "MB",
}


def per_layer(by):
    """Medians over the traced passes, plus the price of tracing: the
    mean traced pass over the mean untraced pass, minus one (passes
    alternate untraced/traced, so a steady drift cancels)."""
    cores = by["run"][0]["cores"]
    timed = [p for p in by["pass"] if p["pass"] >= 0]
    traced = [p for p in timed if p["traced"]]
    plain = [p for p in timed if not p["traced"]]
    if not traced or not plain:
        raise ValueError("a traced run needs at least one traced and one untraced pass")
    rows = [pass_layers(by, p, cores) for p in traced]
    out = {k: statistics.median(r[k] for r in rows) for k in rows[0]}
    wall = lambda ps: statistics.mean((p["end_us"] - p["start_us"]) / 1e6 for p in ps)
    out["trace.overhead"] = wall(traced) / wall(plain) - 1.0
    out["jvm.peak_rss_mb"] = by["run"][0]["vmhwm_kb"] / 1024.0
    return {k: (out[k], LAYER_UNITS[k]) for k in LAYER_UNITS}
