#!/usr/bin/env python3
"""Seeded input generator for the benchmark.

Usage: python3 perfbench/gen.py --seed N --scale SF --out DIR [--tables a,b]

Writes one parquet file per table (region, nation, customer, supplier,
part, orders, lineitem, events, documents, embeddings) with the same
column names and types as the engine's reference testdata. Row counts
follow the TPC-H scale factor `SF` (lineitem = 6,000,000 x SF); the
documents and embeddings tables follow the reference sizes (500 each at
SF <= 0.01, 5,000 documents and 2,000 embeddings at SF 0.1).

The column distributions mirror a profile of the reference testdata:
uniform keys, prices and dates; orders 1995-01-01..2001-08-01; events
with five equally likely types over 30 days of January 2024 and
`{"k": N}` props; documents drawn from a 30-word vocabulary, 10-99 words,
en ~41% plus zh/es/fr/de, 20 round-robin sources, ~5% near duplicates
(an earlier document plus " dup") and a few exact duplicates; 64-dim
unit-norm float embeddings with 10 labels.

The same seed and scale give byte-identical files: every draw comes from
one seeded numpy Generator in a fixed order, and pyarrow writes each table
as one snappy row group.
"""
import argparse
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJECTIVES = ["small", "new", "large", "hot", "cold", "red", "blue", "old"]
NOUNS = ["widget", "gizmo", "bolt", "plate", "rod", "anvil", "ring", "gear"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window"]
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]

DAY_US = 86_400 * 1_000_000


def day_us(y, m, d):
    return int(np.datetime64(f"{y:04d}-{m:02d}-{d:02d}", "us").astype(np.int64))


def ts_col(micros):
    return pa.array(np.asarray(micros, dtype=np.int64), type=pa.timestamp("us"))


def cents(rng, lo, hi, n):
    """Uniform prices with two decimals in [lo, hi]."""
    return rng.integers(int(round(lo * 100)), int(round(hi * 100)) + 1, n) / 100.0


def names(prefix, n):
    return pa.array([f"{prefix}#{i:09d}" for i in range(n)], type=pa.string())


def sizes(sf):
    return {
        "customer": max(1, round(150_000 * sf)),
        "supplier": max(1, round(10_000 * sf)),
        "part": max(1, round(200_000 * sf)),
        "orders": max(1, round(1_500_000 * sf)),
        "lineitem": max(1, round(6_000_000 * sf)),
        "events": max(1, round(1_000_000 * sf)),
        "users": max(1, round(15_000 * sf)),
        "documents": max(500, round(50_000 * sf)),
        "embeddings": max(500, round(20_000 * sf)),
    }


def gen_region(rng, n):
    return pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                     "r_name": pa.array(REGIONS, pa.string())})


def gen_nation(rng, n):
    return pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                     "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
                     "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})


def gen_customer(rng, n):
    return pa.table({
        "c_custkey": pa.array(np.arange(n, dtype=np.int64)),
        "c_name": names("Customer", n),
        "c_nationkey": pa.array(rng.integers(0, 25, n).astype(np.int32)),
        "c_acctbal": pa.array(cents(rng, -999.99, 9999.99, n)),
        "c_mktsegment": pa.array(np.array(SEGMENTS, dtype=object)[rng.integers(0, 5, n)], pa.string()),
    })


def gen_supplier(rng, n):
    return pa.table({
        "s_suppkey": pa.array(np.arange(n, dtype=np.int64)),
        "s_name": names("Supplier", n),
        "s_nationkey": pa.array(rng.integers(0, 25, n).astype(np.int32)),
        "s_acctbal": pa.array(cents(rng, -999.99, 9999.99, n)),
    })


def gen_part(rng, n):
    keys = np.arange(n, dtype=np.int64)
    adj = np.array(ADJECTIVES, dtype=object)[rng.integers(0, 8, n)]
    noun = np.array(NOUNS, dtype=object)[rng.integers(0, 8, n)]
    return pa.table({
        "p_partkey": pa.array(keys),
        "p_name": pa.array([f"{a} {b}" for a, b in zip(adj, noun)], pa.string()),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n)], pa.string()),
        "p_type": pa.array(np.array(PART_TYPES, dtype=object)[rng.integers(0, 6, n)], pa.string()),
        "p_size": pa.array(rng.integers(1, 51, n).astype(np.int32)),
        "p_retailprice": pa.array((900_0 + keys % 1000) / 10.0),
    })


def gen_orders(rng, n, n_cust):
    lo, hi = day_us(1995, 1, 1) // DAY_US, day_us(2001, 8, 1) // DAY_US
    return pa.table({
        "o_orderkey": pa.array(np.arange(n, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n, dtype=np.int64)),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"], dtype=object)[rng.integers(0, 3, n)], pa.string()),
        "o_totalprice": pa.array(cents(rng, 1000.0, 500000.0, n)),
        "o_orderdate": ts_col(rng.integers(lo, hi + 1, n) * DAY_US),
        "o_orderpriority": pa.array(np.array(PRIORITIES, dtype=object)[rng.integers(0, 5, n)], pa.string()),
    })


def gen_lineitem(rng, n, n_orders, n_part, n_supp):
    lo, hi = day_us(1995, 1, 2) // DAY_US, day_us(2001, 11, 4) // DAY_US
    return pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_orders, n, dtype=np.int64)),
        "l_partkey": pa.array(rng.integers(0, n_part, n, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n, dtype=np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n).astype(np.float64)),
        "l_extendedprice": pa.array(cents(rng, 900.0, 105000.0, n)),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
        "l_returnflag": pa.array(np.array(["A", "N", "R"], dtype=object)[rng.integers(0, 3, n)], pa.string()),
        "l_linestatus": pa.array(np.array(["F", "O"], dtype=object)[rng.integers(0, 2, n)], pa.string()),
        "l_shipdate": ts_col(rng.integers(lo, hi + 1, n) * DAY_US),
    })


def gen_events(rng, n, n_users):
    start = day_us(2024, 1, 1)
    # sorted arrival times: event_id order is time order, as in the reference
    ts = start + np.sort(rng.integers(0, 30 * DAY_US, n))
    props = np.array([f'{{"k": {k}}}' for k in range(100)], dtype=object)
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": ts_col(ts),
        "user_id": pa.array(rng.integers(0, n_users, n, dtype=np.int64)),
        "event_type": pa.array(np.array(EVENT_TYPES, dtype=object)[rng.integers(0, 5, n)], pa.string()),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
        "props": pa.array(props[rng.integers(0, 100, n)], pa.string()),
    })


def gen_documents(rng, n):
    vocab = np.array(VOCAB, dtype=object)
    texts = []
    near = rng.random(n) < 0.05
    for i in range(n):
        if near[i] and i > 0:
            texts.append(texts[i - 1 - int(rng.integers(0, min(i, 115)))] + " dup")
        else:
            texts.append(" ".join(vocab[rng.integers(0, len(VOCAB), int(rng.integers(10, 100)))]))
    # a few exact duplicates: copy a document's text over another's
    n_exact = max(1, n // 600)
    for a, b in rng.integers(0, n, (n_exact, 2)):
        texts[int(b)] = texts[int(a)]
    langs = np.array(LANGS, dtype=object)[rng.choice(5, n, p=LANG_P)]
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs, pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def gen_embeddings(rng, n):
    v = rng.standard_normal((n, 64))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.ListArray.from_arrays(pa.array(np.arange(0, 64 * n + 1, 64, dtype=np.int32)),
                                   pa.array(v.reshape(-1), pa.float32()))
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": emb,
        "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
    })


def generate(seed, sf, out, tables=TABLES):
    """Write the selected tables under `out`. Each table draws from its own
    stream (seed, table index), so a subset gives the same bytes as the
    full set for the tables it holds."""
    n = sizes(sf)
    makers = {
        "region": lambda r: gen_region(r, 5),
        "nation": lambda r: gen_nation(r, 25),
        "customer": lambda r: gen_customer(r, n["customer"]),
        "supplier": lambda r: gen_supplier(r, n["supplier"]),
        "part": lambda r: gen_part(r, n["part"]),
        "orders": lambda r: gen_orders(r, n["orders"], n["customer"]),
        "lineitem": lambda r: gen_lineitem(r, n["lineitem"], n["orders"], n["part"], n["supplier"]),
        "events": lambda r: gen_events(r, n["events"], n["users"]),
        "documents": lambda r: gen_documents(r, n["documents"]),
        "embeddings": lambda r: gen_embeddings(r, n["embeddings"]),
    }
    os.makedirs(out, exist_ok=True)
    for t in tables:
        rng = np.random.default_rng([seed, TABLES.index(t)])
        pq.write_table(makers[t](rng), os.path.join(out, f"{t}.parquet"),
                       compression="snappy", row_group_size=1 << 30)


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--scale", type=float, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--tables", default=",".join(TABLES))
    a = ap.parse_args(argv)
    tables = [t for t in a.tables.split(",") if t]
    unknown = [t for t in tables if t not in TABLES]
    if unknown:
        sys.exit(f"unknown table(s): {', '.join(unknown)}")
    pa.set_cpu_count(os.cpu_count() or 1)
    generate(a.seed, a.scale, a.out, tables)


if __name__ == "__main__":
    main()
