#!/usr/bin/env python3
"""The sf tables batch_analytics reads: TPC-H-ish dimensions and facts plus
events, documents and embeddings, with the schemas and value domains of
graft's test data. Deterministic (numpy seed 42) and independent of the
benchmark seed, so every run checks its query results against the same
recorded digests.

    python3 gen_tables.py SF OUTDIR
"""
import os, sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SF = float(sys.argv[1])
OUT = sys.argv[2]
os.makedirs(OUT, exist_ok=True)
rng = np.random.default_rng(42)

DAY_US = 86_400_000_000


def write(name, cols):
    t = pa.table(cols)
    pq.write_table(t, f"{OUT}/{name}.parquet")
    print(f"{name}: {t.num_rows} rows")


def ts_us(base_day_str, day_offsets_us):
    base = np.datetime64(base_day_str, "us").astype(np.int64)
    return pa.array((base + day_offsets_us).astype("datetime64[us]"),
                    type=pa.timestamp("us"))


# -- dimensions -------------------------------------------------------------
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
write("region", {
    "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
    "r_name": REGIONS,
})
write("nation", {
    "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
    "n_name": [f"NATION_{i}" for i in range(25)],
    "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
})

ncust = int(150_000 * SF)
write("customer", {
    "c_custkey": pa.array(np.arange(ncust, dtype=np.int64)),
    "c_name": [f"Customer#{i:09d}" for i in range(ncust)],
    "c_nationkey": pa.array(rng.integers(0, 25, ncust, dtype=np.int32)),
    "c_acctbal": np.round(rng.uniform(-1000, 10000, ncust), 2),
    "c_mktsegment": pa.array(np.array(
        ["MACHINERY", "AUTOMOBILE", "BUILDING", "HOUSEHOLD", "FURNITURE"]
    )[rng.integers(0, 5, ncust)]),
})

nsupp = int(10_000 * SF)
write("supplier", {
    "s_suppkey": pa.array(np.arange(nsupp, dtype=np.int64)),
    "s_name": [f"Supplier#{i:09d}" for i in range(nsupp)],
    "s_nationkey": pa.array(rng.integers(0, 25, nsupp, dtype=np.int32)),
    "s_acctbal": np.round(rng.uniform(-1000, 10000, nsupp), 2),
})

npart = int(200_000 * SF)
ADJS = ["large", "hot", "blue", "old", "cold", "new", "red", "small"]
NOUNS = ["ring", "bolt", "plate", "anvil", "gear", "gizmo", "rod", "widget"]
TYPES = ["LARGE", "ECONOMY", "SMALL", "STANDARD", "MEDIUM", "PROMO"]
adj = rng.integers(0, 8, npart)
noun = rng.integers(0, 8, npart)
write("part", {
    "p_partkey": pa.array(np.arange(npart, dtype=np.int64)),
    "p_name": [f"{ADJS[a]} {NOUNS[b]}" for a, b in zip(adj, noun)],
    "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, npart)],
    "p_type": pa.array(np.array(TYPES)[rng.integers(0, 6, npart)]),
    "p_size": pa.array(rng.integers(1, 51, npart, dtype=np.int32)),
    "p_retailprice": np.round(900.0 + (np.arange(npart) % 1000) / 10.0, 1),
})

# -- facts ------------------------------------------------------------------
norders = int(1_500_000 * SF)
# o_orderdate spans 1995-01-01 .. 2001-08-01 (2404 days, day-granular)
write("orders", {
    "o_orderkey": pa.array(np.arange(norders, dtype=np.int64)),
    "o_custkey": pa.array(rng.integers(0, ncust, norders, dtype=np.int64)),
    "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, norders)]),
    "o_totalprice": np.round(rng.uniform(1000, 500_000, norders), 2),
    "o_orderdate": ts_us("1995-01-01", rng.integers(0, 2405, norders) * DAY_US),
    "o_orderpriority": pa.array(np.array(
        ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    )[rng.integers(0, 5, norders)]),
})

nline = int(6_000_000 * SF)
write("lineitem", {
    "l_orderkey": pa.array(rng.integers(0, norders, nline, dtype=np.int64)),
    "l_partkey": pa.array(rng.integers(0, npart, nline, dtype=np.int64)),
    "l_suppkey": pa.array(rng.integers(0, nsupp, nline, dtype=np.int64)),
    "l_linenumber": pa.array(rng.integers(1, 8, nline, dtype=np.int32)),
    "l_quantity": rng.integers(1, 51, nline).astype(np.float64),
    "l_extendedprice": np.round(rng.uniform(900, 105_000, nline), 2),
    "l_discount": rng.integers(0, 11, nline) / 100.0,
    "l_tax": rng.integers(0, 9, nline) / 100.0,
    "l_returnflag": pa.array(np.array(["N", "A", "R"])[rng.integers(0, 3, nline)]),
    "l_linestatus": pa.array(np.array(["O", "F"])[rng.integers(0, 2, nline)]),
    "l_shipdate": ts_us("1995-01-02", rng.integers(0, 2499, nline) * DAY_US),
})

nev = int(1_000_000 * SF)
nusers = int(15_000 * SF)
gaps = rng.exponential(30 * 86_400_000_000.0 / nev, nev)
write("events", {
    "event_id": pa.array(np.arange(nev, dtype=np.int64)),
    "ts": ts_us("2024-01-01", np.cumsum(gaps).astype(np.int64)),
    "user_id": pa.array(rng.integers(0, nusers, nev, dtype=np.int64)),
    "event_type": pa.array(np.array(
        ["click", "view", "purchase", "signup", "error"])[rng.integers(0, 5, nev)]),
    "value": np.round(rng.exponential(50.0, nev), 2),
    "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, nev)],
})

ndoc = max(500, int(50_000 * SF))
VOCAB = np.array([
    "spark", "window", "merge", "table", "column", "vector", "stream", "value",
    "data", "small", "join", "filter", "big", "group", "hash", "customer",
    "sort", "order", "slow", "line", "part", "fast", "the", "row", "agg",
    "key", "query", "a", "scan", "batch"])
LANGS = np.array(["en", "de", "es", "fr", "zh"])
lens = rng.integers(10, 101, ndoc)
texts = [" ".join(VOCAB[rng.integers(0, 30, n)]) for n in lens]
langs = LANGS[rng.choice(5, ndoc, p=[0.4, 0.15, 0.15, 0.15, 0.15])]
# plant near-dups (5%: twin of an earlier doc + ' dup' suffix) and exact
# dups (0.16%: byte-identical twin) — same rates as graft's test data
for i in rng.choice(np.arange(ndoc // 10, ndoc), int(0.05 * ndoc), replace=False):
    texts[i] = texts[rng.integers(0, ndoc // 10)] + " dup"
for i in rng.choice(np.arange(ndoc // 10, ndoc), max(1, int(0.0016 * ndoc)),
                    replace=False):
    src = int(rng.integers(0, ndoc // 10))
    if not texts[src].endswith(" dup"):
        texts[i] = texts[src]
write("documents", {
    "doc_id": pa.array(np.arange(ndoc, dtype=np.int64)),
    "text": texts,
    "lang": pa.array(langs),
    "source": [f"src{s}" for s in rng.integers(0, 20, ndoc)],
    "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
})

nvec = max(500, int(20_000 * SF))
V = rng.standard_normal((nvec, 64)).astype(np.float32)
V /= np.linalg.norm(V, axis=1, keepdims=True)
write("embeddings", {
    "vec_id": pa.array(np.arange(nvec, dtype=np.int64)),
    "embedding": pa.array(list(V), type=pa.list_(pa.float32())),
    "label": pa.array(rng.integers(0, 10, nvec, dtype=np.int32)),
})
print("done:", OUT)
