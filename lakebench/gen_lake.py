"""Deterministic sf0.1-shaped lake for the benchmark.

The lake is the benchmark's fixed corpus: it is generated from a pinned
data seed (never from the run's --seed), so every (query, parameter)
pair has one pinned result digest.  Shapes, key ranges and value
domains follow the TPC-H-ish star schema of graft's test lakes plus the `events`,
`documents` and `embeddings` tables that graft's queries read.

    python3 lakebench/gen_lake.py <out_dir>
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
VERSION = "1"  # bump when the generated bytes change

N_CUSTOMER, N_SUPPLIER, N_PART = 15_000, 1_000, 20_000
N_ORDERS, N_LINEITEM, N_EVENTS = 150_000, 600_000, 100_000
N_DOCS, N_VECS, DIM = 5_000, 2_000, 64

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]
WORDS = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()

US_PER_DAY = 86_400 * 1_000_000
EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _ts(us):
    return pa.array(us, type=pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(rng):
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": REGIONS})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)})
    out["customer"] = pa.table({
        "c_custkey": np.arange(N_CUSTOMER, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(N_CUSTOMER)],
        "c_nationkey": rng.integers(0, 25, N_CUSTOMER, dtype=np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, N_CUSTOMER),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, N_CUSTOMER)]})
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(N_SUPPLIER, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(N_SUPPLIER)],
        "s_nationkey": rng.integers(0, 25, N_SUPPLIER, dtype=np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, N_SUPPLIER)})
    pk = np.arange(N_PART, dtype=np.int64)
    retail = np.round(900.0 + (pk % 1000) / 10.0, 2)
    out["part"] = pa.table({
        "p_partkey": pk,
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, N_PART), rng.integers(0, 8, N_PART))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, N_PART)],
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, N_PART)],
        "p_size": rng.integers(1, 51, N_PART, dtype=np.int32),
        "p_retailprice": retail})
    out["orders"] = pa.table({
        "o_orderkey": np.arange(N_ORDERS, dtype=np.int64),
        "o_custkey": rng.integers(0, N_CUSTOMER, N_ORDERS, dtype=np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, N_ORDERS)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, N_ORDERS),
        "o_orderdate": _ts(EPOCH_1995 + rng.integers(0, 2404, N_ORDERS) * US_PER_DAY),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, N_ORDERS)]})
    l_part = rng.integers(0, N_PART, N_LINEITEM, dtype=np.int64)
    qty = rng.integers(1, 51, N_LINEITEM).astype(np.float64)
    out["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, N_ORDERS, N_LINEITEM, dtype=np.int64),
        "l_partkey": l_part,
        "l_suppkey": rng.integers(0, N_SUPPLIER, N_LINEITEM, dtype=np.int64),
        "l_linenumber": rng.integers(1, 8, N_LINEITEM, dtype=np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * retail[l_part], 2),
        "l_discount": rng.integers(0, 11, N_LINEITEM) / 100.0,
        "l_tax": rng.integers(0, 9, N_LINEITEM) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, N_LINEITEM)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, N_LINEITEM)],
        "l_shipdate": _ts(EPOCH_1995 + rng.integers(1, 2499, N_LINEITEM) * US_PER_DAY)})
    gaps = rng.integers(1, 2 * 30 * US_PER_DAY // N_EVENTS, N_EVENTS)
    out["events"] = pa.table({
        "event_id": np.arange(N_EVENTS, dtype=np.int64),
        "ts": _ts(EPOCH_2024 + np.cumsum(gaps)),
        "user_id": rng.integers(0, 1500, N_EVENTS, dtype=np.int64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, N_EVENTS)],
        "value": np.round(rng.exponential(50.0, N_EVENTS), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)]})
    out["documents"] = documents(rng)
    labels = rng.integers(0, 10, N_VECS, dtype=np.int32)
    centroids = rng.normal(0.0, 1.0, (10, DIM))
    vecs = centroids[labels] + rng.normal(0.0, 0.8, (N_VECS, DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": np.arange(N_VECS, dtype=np.int64),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": labels})
    return out


def documents(rng):
    """Random word soup with planted near-duplicates (a copy with a few
    words changed and a `dup` marker) and a handful of exact copies."""
    texts = []
    for i in range(N_DOCS):
        r = rng.random()
        if i > 50 and r < 0.05:
            src = texts[rng.integers(0, i)].split()
            for j in rng.integers(0, len(src), 2):
                src[j] = WORDS[rng.integers(0, len(WORDS))]
            texts.append(" ".join(src + ["dup"]))
        elif i > 50 and r < 0.0017:
            texts.append(texts[rng.integers(0, i)])
        else:
            n = int(rng.integers(10, 101))
            texts.append(" ".join(np.array(WORDS)[rng.integers(0, len(WORDS), n)]))
    ids = np.arange(N_DOCS, dtype=np.int64)
    return pa.table({
        "doc_id": ids,
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, N_DOCS, p=LANG_P)],
        "source": [f"src{i % 20}" for i in ids],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})


def generate(out_dir):
    """Write every table as `<out_dir>/<name>.parquet`, then a `_VERSION`
    stamp; a directory whose stamp matches is reused as is."""
    stamp = os.path.join(out_dir, "_VERSION")
    if os.path.exists(stamp) and open(stamp).read() == VERSION:
        return out_dir
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables(np.random.default_rng(DATA_SEED)).items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    with open(stamp, "w") as f:
        f.write(VERSION)
    return out_dir


if __name__ == "__main__":
    generate(sys.argv[1])
