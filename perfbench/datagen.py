"""Deterministic synthetic input tables for the benchmark.

Writes the ten fixture tables the graft registry reads (TPC-H-like star
schema, an `events` stream, `documents` and `embeddings`) as parquet, with
the column names and types that `graft.sources.Tables` and the registry's
oracle SQL expect. The value distributions follow the shapes the registry
queries assume: a 30-word vocabulary with ~5% " dup" near-copies and a few
exact copies in `documents`, unit-norm 64-d vectors clustered by label in
`embeddings`, and events spread over January 2024.

The tables depend only on (sf, data seed). The benchmark keeps the data
seed fixed so that stored oracle results stay valid; its `--seed` picks
orders, samples and deltas over these tables instead.

    python3 perfbench/datagen.py <out_dir> [--sf 0.1] [--data-seed 42]
"""
import argparse
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ["a", "the", "data", "spark", "table", "column", "row", "key",
         "value", "join", "group", "agg", "sort", "scan", "filter", "query",
         "stream", "batch", "window", "merge", "hash", "vector", "part",
         "order", "customer", "line", "fast", "slow", "big", "small"]
LANGS = ["en", "zh", "de", "fr", "es"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
COLORS = ["blue", "cold", "hot", "red", "small", "new", "old", "large"]
NOUNS = ["ring", "plate", "gear", "rod", "bolt", "anvil", "widget", "nut"]
PTYPES = ["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["view", "click", "signup", "purchase", "error"]
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

TS_US = pa.timestamp("us")


def _days(rng, n, start, end):
    """Midnight timestamps drawn uniformly from [start, end]."""
    span = (end - start).days
    base = np.datetime64(start.isoformat(), "us")
    return base + rng.integers(0, span + 1, n).astype("timedelta64[D]")


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def sizes(sf):
    return {
        "customer": max(150, int(150_000 * sf)),
        "supplier": max(10, int(10_000 * sf)),
        "part": max(200, int(200_000 * sf)),
        "orders": max(1_500, int(1_500_000 * sf)),
        "lineitem": max(6_000, int(6_000_000 * sf)),
        "events": max(1_000, int(1_000_000 * sf)),
        "users": max(150, int(15_000 * sf)),
        "documents": max(500, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
    }


def documents(rng, n):
    texts = []
    for i in range(n):
        r = rng.random()
        if i > 20 and r < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 20 and r < 0.052:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            words = rng.choice(VOCAB, int(rng.integers(8, 101)))
            texts.append(" ".join(words))
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, n, p=LANG_P)),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def embeddings(rng, n, dim=64, labels=10):
    centres = rng.normal(size=(labels, dim))
    centres /= np.linalg.norm(centres, axis=1, keepdims=True)
    label = rng.integers(0, labels, n)
    vecs = centres[label] + rng.normal(scale=0.12, size=(n, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    vecs = vecs.astype(np.float32)
    emb = pa.ListArray.from_arrays(
        pa.array(np.arange(0, n * dim + 1, dim, dtype=np.int32)),
        pa.array(vecs.reshape(-1), type=pa.float32()))
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": emb,
        "label": pa.array(label.astype(np.int32)),
    })


def generate(sf, data_seed):
    rng = np.random.default_rng(data_seed)
    n = sizes(sf)
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(REGIONS)})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32))})
    c = n["customer"]
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(c, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(c)]),
        "c_nationkey": pa.array(rng.integers(0, 25, c).astype(np.int32)),
        "c_acctbal": pa.array(_money(rng, c, -999.99, 9999.99)),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, c))})
    s = n["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(s, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(s)]),
        "s_nationkey": pa.array(rng.integers(0, 25, s).astype(np.int32)),
        "s_acctbal": pa.array(_money(rng, s, -999.99, 9999.99))})
    p = n["part"]
    names = [f"{a} {b}" for a in COLORS for b in NOUNS]
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(p, dtype=np.int64)),
        "p_name": pa.array(rng.choice(names, p)),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, p)]),
        "p_type": pa.array(rng.choice(PTYPES, p)),
        "p_size": pa.array(rng.integers(1, 51, p).astype(np.int32)),
        "p_retailprice": pa.array(
            np.round(900.0 + (np.arange(p) % 1000) * 0.1, 2))})
    o = n["orders"]
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(o, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, c, o)),
        "o_orderstatus": pa.array(rng.choice(["O", "P", "F"], o)),
        "o_totalprice": pa.array(_money(rng, o, 1000.0, 500000.0)),
        "o_orderdate": pa.array(
            _days(rng, o, dt.date(1995, 1, 1), dt.date(2001, 8, 1)), TS_US),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, o))})
    li = n["lineitem"]
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, o, li)),
        "l_partkey": pa.array(rng.integers(0, p, li)),
        "l_suppkey": pa.array(rng.integers(0, s, li)),
        "l_linenumber": pa.array(rng.integers(1, 8, li).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, li).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, li, 900.0, 105000.0)),
        "l_discount": pa.array(rng.integers(0, 11, li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, li) / 100.0),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], li)),
        "l_linestatus": pa.array(rng.choice(["O", "F"], li)),
        "l_shipdate": pa.array(
            _days(rng, li, dt.date(1995, 1, 2), dt.date(2001, 11, 4)), TS_US)})
    e = n["events"]
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, 30 * 86_400_000_000, e))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(e, dtype=np.int64)),
        "ts": pa.array(start + offs.astype("timedelta64[us]"), TS_US),
        "user_id": pa.array(rng.integers(0, n["users"], e)),
        "event_type": pa.array(rng.choice(EVENT_TYPES, e)),
        "value": pa.array(np.round(rng.exponential(40.0, e), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, e)])})
    t["documents"] = documents(rng, n["documents"])
    t["embeddings"] = embeddings(rng, n["embeddings"])
    return t


def write(out_dir, sf, data_seed):
    os.makedirs(out_dir, exist_ok=True)
    for name, table in generate(sf, data_seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("out_dir")
    ap.add_argument("--sf", type=float, default=0.1)
    ap.add_argument("--data-seed", type=int, default=42)
    a = ap.parse_args()
    write(a.out_dir, a.sf, a.data_seed)


if __name__ == "__main__":
    main()
