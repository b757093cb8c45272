"""Seeded generator of the analytics workload's parquet tables.

Writes the ten tables the registry queries read (region, nation, customer,
supplier, part, orders, lineitem, events, documents, embeddings) with the
schemas and value domains FIXTURES.md §C documents, at about a third of the
row counts of scale factor 0.01. Every value is drawn from one numpy generator seeded by
the benchmark seed, so a seed always yields byte-identical tables.

Usage: python3 gen_tables.py OUT_DIR SEED
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_CUSTOMER, N_SUPPLIER, N_PART = 500, 40, 700
N_ORDERS, N_LINEITEM, N_EVENTS = 5000, 20000, 4000
N_DOCUMENTS, N_EMBEDDINGS, EMBED_DIM = 200, 200, 64

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJECTIVES = ["small", "large", "red", "blue", "hot", "old", "new", "green"]
NOUNS = ["ring", "widget", "plate", "rod", "bolt", "gear", "pipe", "valve"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]

DAY_US = 86_400_000_000


def days(rng, start, end, n):
    """n timestamps at midnight, uniform over the days [start, end]."""
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    return pa.array(rng.integers(lo, hi + 1, n) * DAY_US, pa.timestamp("us"))


def money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def main():
    out, seed = sys.argv[1], int(sys.argv[2])
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)

    write(out, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    write(out, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    write(out, "customer", {
        "c_custkey": pa.array(range(N_CUSTOMER), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(N_CUSTOMER)],
        "c_nationkey": pa.array(rng.integers(0, 25, N_CUSTOMER), pa.int32()),
        "c_acctbal": money(rng, -999.99, 9999.99, N_CUSTOMER),
        "c_mktsegment": rng.choice(SEGMENTS, N_CUSTOMER).tolist()})
    write(out, "supplier", {
        "s_suppkey": pa.array(range(N_SUPPLIER), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(N_SUPPLIER)],
        "s_nationkey": pa.array(rng.integers(0, 25, N_SUPPLIER), pa.int32()),
        "s_acctbal": money(rng, -999.99, 9999.99, N_SUPPLIER)})
    write(out, "part", {
        "p_partkey": pa.array(range(N_PART), pa.int64()),
        "p_name": [f"{a} {n}" for a, n in zip(rng.choice(ADJECTIVES, N_PART),
                                              rng.choice(NOUNS, N_PART))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, N_PART)],
        "p_type": rng.choice(PART_TYPES, N_PART).tolist(),
        "p_size": pa.array(rng.integers(1, 51, N_PART), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(N_PART) % 1000) * 0.1, 1)})
    write(out, "orders", {
        "o_orderkey": pa.array(range(N_ORDERS), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, N_CUSTOMER, N_ORDERS), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], N_ORDERS).tolist(),
        "o_totalprice": money(rng, 1000.0, 500000.0, N_ORDERS),
        "o_orderdate": days(rng, "1995-01-01", "2001-08-01", N_ORDERS),
        "o_orderpriority": rng.choice(PRIORITIES, N_ORDERS).tolist()})
    write(out, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, N_ORDERS, N_LINEITEM), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, N_PART, N_LINEITEM), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, N_SUPPLIER, N_LINEITEM), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, N_LINEITEM), pa.int32()),
        "l_quantity": rng.integers(1, 51, N_LINEITEM).astype(np.float64),
        "l_extendedprice": money(rng, 900.0, 105000.0, N_LINEITEM),
        "l_discount": rng.integers(0, 11, N_LINEITEM) / 100.0,
        "l_tax": rng.integers(0, 9, N_LINEITEM) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], N_LINEITEM).tolist(),
        "l_linestatus": rng.choice(["F", "O"], N_LINEITEM).tolist(),
        "l_shipdate": days(rng, "1995-01-02", "2001-11-04", N_LINEITEM)})

    # events: a 30-day stream, ids in time order
    gaps = rng.exponential(30 * DAY_US / N_EVENTS, N_EVENTS).astype(np.int64)
    start = np.datetime64("2024-01-01", "us").astype(np.int64)
    write(out, "events", {
        "event_id": pa.array(range(N_EVENTS), pa.int64()),
        "ts": pa.array(start + np.cumsum(gaps), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 150, N_EVENTS), pa.int64()),
        "event_type": rng.choice(EVENT_TYPES, N_EVENTS).tolist(),
        "value": np.maximum(np.round(rng.exponential(50.0, N_EVENTS), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)]})

    # documents: random word bags; about 5% repeat another document plus a
    # " dup" marker, so the dedup family has true near-duplicates
    texts = [" ".join(rng.choice(WORDS, rng.integers(10, 100)))
             for _ in range(N_DOCUMENTS)]
    for i in np.flatnonzero(rng.random(N_DOCUMENTS) < 0.05):
        texts[i] = texts[int(rng.integers(0, N_DOCUMENTS))] + " dup"
    write(out, "documents", {
        "doc_id": pa.array(range(N_DOCUMENTS), pa.int64()),
        "text": texts,
        "lang": rng.choice(LANGS, N_DOCUMENTS, p=LANG_P).tolist(),
        "source": [f"src{s}" for s in rng.integers(0, 20, N_DOCUMENTS)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})

    emb = rng.standard_normal((N_EMBEDDINGS, EMBED_DIM)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    write(out, "embeddings", {
        "vec_id": pa.array(range(N_EMBEDDINGS), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, N_EMBEDDINGS), pa.int32())})


if __name__ == "__main__":
    main()
