"""Seeded generator for the star-schema tables the catalog queries read.

The tables have the schema, row counts and value distributions of the
sf0.1 fixture set the catalog is verified against (region, nation, customer,
supplier, part, orders, lineitem, events, documents, embeddings), drawn from
a numpy generator seeded by the benchmark seed. Timestamps are written as
timestamp[us] without a time zone and every table as a single parquet file,
as in the fixture set, so the program and the DuckDB oracle read the same
bytes.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()

# rows at scale factor 1; sf0.1 gives 15k customers, 600k lineitems
BASE = {"customer": 150_000, "supplier": 10_000, "part": 200_000,
        "orders": 1_500_000, "lineitem": 6_000_000, "events": 1_000_000,
        "documents": 50_000, "embeddings": 20_000}

DAY_US = 86_400_000_000
EPOCH_1995 = 788_918_400_000_000  # 1995-01-01 in microseconds
EPOCH_2024 = 1_704_067_200_000_000  # 2024-01-01


def _ts(us):
    return pa.array(us, type=pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def generate(out_dir, seed, sf=0.1):
    """Write the ten tables under out_dir; returns {table: rows}."""
    rng = np.random.default_rng(seed)
    n = {k: max(1, int(v * sf)) for k, v in BASE.items()}
    os.makedirs(out_dir, exist_ok=True)
    tables = {}
    tables["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    c = n["customer"]
    tables["customer"] = pa.table({
        "c_custkey": np.arange(c, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(c)],
        "c_nationkey": rng.integers(0, 25, c, dtype=np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, c),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, c)]})
    s = n["supplier"]
    tables["supplier"] = pa.table({
        "s_suppkey": np.arange(s, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(s)],
        "s_nationkey": rng.integers(0, 25, s, dtype=np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, s)})
    p = n["part"]
    keys = np.arange(p, dtype=np.int64)
    names = np.array([f"{a} {b}" for a in PART_ADJ for b in PART_NOUN])
    tables["part"] = pa.table({
        "p_partkey": keys,
        "p_name": names[rng.integers(0, len(names), p)],
        "p_brand": np.array([f"Brand#{i}" for i in range(1, 26)])[rng.integers(0, 25, p)],
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, p)],
        "p_size": rng.integers(1, 51, p, dtype=np.int32),
        "p_retailprice": np.round(900.0 + (keys % 1000) * 0.1, 2)})
    o = n["orders"]
    tables["orders"] = pa.table({
        "o_orderkey": np.arange(o, dtype=np.int64),
        "o_custkey": rng.integers(0, c, o, dtype=np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, o)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, o),
        "o_orderdate": _ts(EPOCH_1995 + rng.integers(0, 2404, o) * DAY_US),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, o)]})
    li = n["lineitem"]
    tables["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, o, li, dtype=np.int64),
        "l_partkey": rng.integers(0, p, li, dtype=np.int64),
        "l_suppkey": rng.integers(0, s, li, dtype=np.int64),
        "l_linenumber": rng.integers(1, 8, li, dtype=np.int32),
        "l_quantity": rng.integers(1, 51, li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, li),
        "l_discount": rng.integers(0, 11, li) / 100.0,
        "l_tax": rng.integers(0, 9, li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, li)],
        "l_shipdate": _ts(EPOCH_1995 + 1 + rng.integers(0, 2499, li) * DAY_US)})
    e = n["events"]
    ts = np.sort(EPOCH_2024 + rng.integers(0, 30 * DAY_US, e))
    tables["events"] = pa.table({
        "event_id": np.arange(e, dtype=np.int64),
        "ts": _ts(ts),
        "user_id": rng.integers(0, 1500, e, dtype=np.int64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, e)],
        "value": np.round(rng.exponential(50.0, e), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)]})
    d = n["documents"]
    vocab = np.array(VOCAB)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), k)])
             for k in rng.integers(10, 101, d)]
    # planted duplicates: a few exact copies and ~5% near copies (one
    # appended token), so the dedup operators have clusters to find
    for i in range(d):
        r = rng.random()
        if i > 0 and r < 0.002:
            texts[i] = texts[rng.integers(0, i)]
        elif i > 0 and r < 0.05:
            texts[i] = texts[rng.integers(0, i)] + " dup"
    tables["documents"] = pa.table({
        "doc_id": np.arange(d, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, d, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(d)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    m = n["embeddings"]
    centers = rng.normal(0.0, 1.0, (10, 64))
    labels = rng.integers(0, 10, m)
    vecs = centers[labels] + rng.normal(0.0, 1.2, (m, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    tables["embeddings"] = pa.table({
        "vec_id": np.arange(m, dtype=np.int64),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": labels.astype(np.int32)})
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}
