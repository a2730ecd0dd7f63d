"""Correctness check: each query's output against DuckDB.

Runs the engine's own oracle SQL (`SparkEntry.oracleSql`, carried in the
event log) in DuckDB over the same generated parquet files, and compares
with the engine's written output after the canonicalisation of the repo's
oracle harness, `tools/check.py` (its `canon`, imported from there):
columns sorted by name, integers as Int64, floats as float64, everything
else as strings, rows sorted, exact equality.
"""
import glob
import os
import sys
from pathlib import Path

import duckdb
import pandas as pd

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))

from check import canon  # noqa: E402


def compare(got, exp):
    """None if the two frames agree after canonicalisation, else why not."""
    g, e = canon(got), canon(exp)
    if list(g.columns) != list(e.columns):
        return f"columns {list(g.columns)} vs {list(e.columns)}"
    if len(g) != len(e):
        return f"rows {len(g)} vs {len(e)}"
    try:
        pd.testing.assert_frame_equal(g, e, check_dtype=False, check_exact=False, rtol=0, atol=0)
    except AssertionError as ex:
        return "values differ: " + " ".join(str(ex).split())[:300]
    return None


def check(data_dir, results_dir, checks, tables):
    """Returns {query: reason} for every query whose output is wrong.

    `checks` are the event log's check records (query, hash, error,
    oracle_sql)."""
    con = duckdb.connect()
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{os.path.join(data_dir, t)}.parquet')")
    wrong = {}
    for c in checks:
        name = c["query"]
        if c.get("error") is not None:
            wrong[name] = "engine error: " + c["error"]
            continue
        if c.get("oracle_sql") is None:
            wrong[name] = "no oracle SQL"
            continue
        files = sorted(glob.glob(os.path.join(results_dir, name, "*.parquet")))
        if not files:
            wrong[name] = "no engine output"
            continue
        got = pd.concat([pd.read_parquet(f) for f in files])
        try:
            exp = con.execute(c["oracle_sql"]).df()
        except Exception as ex:  # a broken oracle is a wrong query, by name
            wrong[name] = f"oracle error: {ex}"
            continue
        reason = compare(got, exp)
        if reason:
            wrong[name] = reason
    con.close()
    return wrong
