"""Deterministic synthetic input tables for the benchmark.

Writes the ten parquet tables graft's queries read (TPC-H-like star
schema, an `events` stream, a `documents` corpus with near-duplicates
and an `embeddings` table) with the column names, types and value
domains the queries expect. The data are a pure function of `SEED` and
the row counts below, so every run and every checkout reads identical
inputs; the workload seed only orders the queries.

    python3 perfbench/gen.py <out_dir>
"""
import datetime as dt
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEED = 42
ROWS = {"customer": 150, "supplier": 10, "part": 200, "orders": 1500,
        "lineitem": 6000, "events": 1000, "documents": 500, "embeddings": 500}
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
WORDS = ("a agg batch big column customer data fast filter group hash join key line "
         "merge order part query row scan slow small sort spark stream table the "
         "value vector window").split()
DIM = 64


def days(rng, n, start, end):
    span = (end - start).days
    d = rng.integers(0, span + 1, n)
    return pa.array([start + dt.timedelta(days=int(x)) for x in d], pa.timestamp("us"))


def money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(rng):
    n = ROWS
    nat = np.arange(25, dtype=np.int32)
    yield "region", {"r_regionkey": pa.array(np.arange(5, dtype=np.int32)), "r_name": REGIONS}
    yield "nation", {"n_nationkey": nat, "n_name": [f"NATION_{i}" for i in nat],
                     "n_regionkey": (nat % 5).astype(np.int32)}
    c = np.arange(n["customer"], dtype=np.int64)
    yield "customer", {
        "c_custkey": c, "c_name": [f"Customer#{i:09d}" for i in c],
        "c_nationkey": rng.integers(0, 25, len(c)).astype(np.int32),
        "c_acctbal": money(rng, len(c), -999.99, 9999.99),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, len(c))]}
    s = np.arange(n["supplier"], dtype=np.int64)
    yield "supplier", {
        "s_suppkey": s, "s_name": [f"Supplier#{i:09d}" for i in s],
        "s_nationkey": rng.integers(0, 25, len(s)).astype(np.int32),
        "s_acctbal": money(rng, len(s), -999.99, 9999.99)}
    p = np.arange(n["part"], dtype=np.int64)
    yield "part", {
        "p_partkey": p,
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, len(p)), rng.integers(0, 8, len(p)))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, len(p))],
        "p_type": [PART_TYPES[i] for i in rng.integers(0, 6, len(p))],
        "p_size": rng.integers(1, 51, len(p)).astype(np.int32),
        "p_retailprice": np.round(900 + (p % 1000) * 0.1, 1)}
    o = np.arange(n["orders"], dtype=np.int64)
    yield "orders", {
        "o_orderkey": o, "o_custkey": rng.integers(0, len(c), len(o)).astype(np.int64),
        "o_orderstatus": [["F", "O", "P"][i] for i in rng.integers(0, 3, len(o))],
        "o_totalprice": money(rng, len(o), 1000, 500000),
        "o_orderdate": days(rng, len(o), dt.datetime(1995, 1, 1), dt.datetime(2001, 8, 1)),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, len(o))]}
    m = n["lineitem"]
    yield "lineitem", {
        "l_orderkey": rng.integers(0, len(o), m).astype(np.int64),
        "l_partkey": rng.integers(0, len(p), m).astype(np.int64),
        "l_suppkey": rng.integers(0, len(s), m).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, m).astype(np.int32),
        "l_quantity": rng.integers(1, 51, m).astype(np.float64),
        "l_extendedprice": money(rng, m, 900, 105000),
        "l_discount": rng.integers(0, 11, m) / 100.0,
        "l_tax": rng.integers(0, 9, m) / 100.0,
        "l_returnflag": [["A", "N", "R"][i] for i in rng.integers(0, 3, m)],
        "l_linestatus": [["F", "O"][i] for i in rng.integers(0, 2, m)],
        "l_shipdate": days(rng, m, dt.datetime(1995, 1, 2), dt.datetime(2001, 11, 4))}
    e = n["events"]
    t0 = dt.datetime(2024, 1, 1)
    micros = np.sort(rng.integers(0, 30 * 86400 * 10**6, e))
    yield "events", {
        "event_id": np.arange(e, dtype=np.int64),
        "ts": pa.array([t0 + dt.timedelta(microseconds=int(x)) for x in micros], pa.timestamp("us")),
        "user_id": rng.integers(0, max(1, len(c) // 10), e).astype(np.int64),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, e)],
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, e), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)]}
    yield "documents", documents(rng, n["documents"])
    v = rng.normal(size=(n["embeddings"], DIM))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    yield "embeddings", {
        "vec_id": np.arange(len(v), dtype=np.int64),
        "embedding": pa.array(list(v.astype(np.float32)), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, len(v)).astype(np.int32)}


def documents(rng, n):
    """Random word texts; one in ten is an earlier text plus a `dup`
    suffix, so the dedup and containment kernels find real pairs."""
    texts = [" ".join(WORDS[w] for w in rng.integers(0, len(WORDS), rng.integers(10, 100)))
             for _ in range(n)]
    for i in range(1, n):
        if rng.random() < 0.1:
            texts[i] = texts[int(rng.integers(0, i))] + " dup" * int(rng.integers(1, 3))
    return {"doc_id": np.arange(n, dtype=np.int64), "text": texts,
            "lang": [LANGS[i] for i in rng.integers(0, len(LANGS), n)],
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64)}


def main(out):
    rng = np.random.default_rng(SEED)
    os.makedirs(out, exist_ok=True)
    for name, cols in tables(rng):
        pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


if __name__ == "__main__":
    main(sys.argv[1])
