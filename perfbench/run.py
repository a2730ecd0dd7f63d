#!/usr/bin/env python3
"""The engine's benchmark: one seeded run of one workload.

Usage (from the repository root):

    python3 perfbench/run.py --workload olap_small --seed 1 --seconds 12 --trace 0

Builds the engine and the benchmark JVM with sbt when the sources changed since
the last build, generates the workload's inputs from the seed, runs one
fresh JVM (an untimed check pass that writes every output, an untimed
warm passes, the timed passes, then an untimed check pass that writes
every output), compares every query's output with DuckDB, and prints as
its last line one JSON object:
{"correct", "attempted", "failed", "metrics"}. `--trace 0` reports the
end-to-end metrics, `--trace 1` the per-layer ones. See README.md.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
STATE = ROOT / ".bench_build"
sys.path.insert(0, str(HERE))

if not (ROOT / "build.sbt").exists() or not (ROOT / "tools" / "check.py").exists():
    sys.exit(f"[perfbench] no engine sources next to {HERE.name}/: run from a full checkout")

import gen  # noqa: E402
import metrics  # noqa: E402
import oracle  # noqa: E402

# The relational list leaves out the six queries whose oracle rounds a
# value that can be an exact decimal tie on generated inputs: q01 and
# q02 (sums of price x (1 - discount), rounded to cents), q07 and q50
# (means of lineitem columns), q19 and q36 (means of integers per group),
# all rounded to 4 decimals. On a tie the engine's round() (half up on the
# double's shortest decimal form) and DuckDB's (on the binary double)
# can disagree in the last digit, so the outputs differ from the oracle
# on some seeds: q02 on seed 1941223631, q07 and q50 on seed 418. Over
# seeds 0-399 a tie falls in q50 on 66 seeds, q07 on 64, q01 on 26, q02
# on 16, q36 on 7, q19 on 1. That is an engine/oracle rounding-parity defect;
# the queries return to this list once it is fixed.
RELATIONAL = [
    "q03_revenue_by_nation", "q04_clv", "q05_filter_parts", "q06_value_counts",
    "q08_missing_frac", "q09_conditional_agg", "q10_window_lag", "q11_running_total",
    "q12_monthly_trend", "q13_corr", "q14_top_customers", "q15_anti_join",
    "q16_semi_join", "q17_pivot_matrix", "q18_hourly_events", "q20_distincts",
    "q32_grouped_ols", "q33_union_presence", "q34_binning", "q35_string_ops",
    "q37_argmax", "q39_quartiles", "q40_collect_sorted", "q41_rollup",
    "q42_sessionize", "q49_fk_audit", "q54_funnel", "q55_asof_join",
    "q56_salted_agg", "q57_range_join",
]

# The curation list is a named subset of the curation queries: shard
# writer (q103), the IVF store build/serve memo and publish (q107,
# q110), the BPE driver train fast path (q90, q91, q106), dedup and LSH
# reads (q25, q27, q87), the indexed incremental dedup (q74) and a quota
# sampler (q108). Queries whose DuckDB oracle takes over 4 s on these
# inputs are left out: q51, q62, q89, q92, q97, q105, q112, q113, and the
# six-tier incremental dedups q78 and q79, whose shared oracle had not
# finished after 240 s (their engine side adds 2.2-2.9 s each to a pass).
# So are the slower writers q104, q109 and q111.
CURATION = [
    "q25_exact_dedup", "q27_minhash_lsh", "q74_indexed_dedup3", "q87_line_dedup",
    "q90_bpe_merges", "q91_bpe_fertility", "q103_shard_write", "q106_bpe_packing",
    "q107_ann_ivf_indexed", "q108_model_quota", "q110_ann_ivf_ingest",
]

# scale: TPC-H scale factor of the generated tables. tables: the tables
# the workload's queries read, the only ones generated. pass_s: the
# nominal length of one timed pass; a run makes round(seconds / pass_s)
# timed passes, so the sample count N, and with it the tail percentile,
# is fixed for a given --seconds.
WORKLOADS = {
    "olap_small": {"scale": 0.01, "tables": gen.TABLES[:8], "queries": RELATIONAL, "pass_s": 6.5},
    "curation": {"scale": 0.1, "tables": ["documents", "embeddings"], "queries": CURATION,
                 "pass_s": 4.5},
}

RUN_BUDGET_S = 170
HEAP = "-Xmx3g"


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg):
    log(msg)
    sys.exit(1)


# ---------------------------------------------------------------------- build

def source_fingerprint():
    files = [ROOT / "build.sbt", HERE / "build.sbt"]
    for d in (ROOT / "project", HERE / "project"):
        files += sorted(p for p in d.glob("*") if p.is_file())
    for d in (ROOT / "src" / "main", HERE / "src"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def build():
    """Compile the engine and the benchmark JVM unless the last build saw
    the same sources; returns the benchmark JVM's launch description."""
    launch = HERE / "target" / "launch.json"
    stamp = STATE / "build.stamp"
    fp = source_fingerprint()
    if launch.exists() and stamp.exists() and stamp.read_text() == fp:
        return json.loads(launch.read_text())
    STATE.mkdir(exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true").strip()
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true",
           f"-Dsbt.global.base={STATE / 'sbt-global'}",
           f"-Dsbt.boot.directory={STATE / 'sbt-boot'}",
           f"-Dsbt.ivy.home={STATE / 'ivy2'}",
           "launchFile"]
    log("building the engine and the benchmark JVM with sbt")
    with open(STATE / "build.log", "w") as out:
        rc = subprocess.run(cmd, cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                            stdin=subprocess.DEVNULL, timeout=850).returncode
    if rc != 0 or not launch.exists():
        tail = (STATE / "build.log").read_text()[-3000:]
        fail(f"build failed (exit {rc}):\n{tail}")
    stamp.write_text(fp)
    return json.loads(launch.read_text())


# ------------------------------------------------------------------------ run

def run_jvm(launch, run_dir, data_dir, queries, passes, trace, cores, deadline):
    tmp, quant, local, wh = (run_dir / d for d in ("tmp", "quantizers", "spark-local", "warehouse"))
    for d in (tmp, quant, local):
        d.mkdir(parents=True)
    env = dict(os.environ)
    env["SPARK_GRAFT_QUANTIZER_DIR"] = str(quant)
    env["SPARK_LOCAL_DIRS"] = str(local)
    cmd = (["java", *launch["java_options"], HEAP, f"-Djava.io.tmpdir={tmp}",
            "-cp", os.pathsep.join(launch["classpath"]), "perfbench.Main",
            "--data", str(data_dir), "--out", str(run_dir), "--queries", ",".join(queries),
            "--passes", str(passes), "--trace", "1" if trace else "0", "--cores", str(cores),
            "--local-dir", str(local), "--warehouse", str(wh)])
    with open(run_dir / "jvm.log", "w") as out:
        proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=out, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, start_new_session=True)
        rc = None
        try:
            rc = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            pass
        finally:
            if proc.poll() is None:  # timed out, or this process is being stopped
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    if rc != 0:
        tail = (run_dir / "jvm.log").read_text(errors="replace")[-3000:]
        fail(f"benchmark JVM {'timed out' if rc is None else f'exited {rc}'}:\n{tail}")
    with open(run_dir / "events.jsonl") as f:
        return metrics.split(json.loads(line) for line in f if line.strip())


def main(argv=None):
    ap = argparse.ArgumentParser(description="graft engine benchmark (one run)")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args(argv)
    # a stop request unwinds through the finally blocks, which end the JVM
    # and remove the run's directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    w = WORKLOADS[a.workload]
    launch = build()
    started = time.monotonic()  # the time budget below is per run, build excluded

    cores = os.cpu_count() or 1
    # the tail percentile needs more than 10 samples
    passes = max(math.ceil(11 / len(w["queries"])), round(a.seconds / w["pass_s"]))
    if a.trace:
        passes = max(3, passes)  # untraced, traced, untraced, ...
    run_dir = STATE / f"run-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        data_dir = run_dir / "data"
        g0 = time.monotonic()
        gen.generate(a.seed, w["scale"], str(data_dir), w["tables"])
        gen_s = time.monotonic() - g0
        by = run_jvm(launch, run_dir, data_dir, w["queries"], passes, a.trace, cores,
                     started + RUN_BUDGET_S - 20)
        o0 = time.monotonic()
        wrong = oracle.check(str(data_dir), str(run_dir / "results"), by["check"], w["tables"])
        oracle_s = time.monotonic() - o0
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    e2e, attempted, failed, tail_pct = metrics.end_to_end(by, len(wrong))
    for q, why in sorted(wrong.items()):
        print(f"WRONG {q}: {why}")
    print(f"workload={a.workload} seed={a.seed} scale={w['scale']} queries={len(w['queries'])} "
          f"passes={passes} N={attempted} tail=p{tail_pct} gen_s={gen_s:.3f} oracle_s={oracle_s:.3f} "
          f"fail_frac={failed / attempted:.6f} wrong_frac={len(wrong) / len(w['queries']):.6f}")
    chosen = metrics.per_layer(by) if a.trace else e2e
    for k, (v, unit) in chosen.items():
        print(f"  {k} = {v:.6g} {unit}")
    result = {
        "correct": failed == 0 and not wrong,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": unit} for k, (v, unit) in chosen.items()},
    }
    print(json.dumps(result))


if __name__ == "__main__":
    main()
