"""Seeded data-drop generator.

A drop is one directory of parquet tables with the shape the engine
reads (the TPC-H-ish trade star, an events stream, a document corpus
and an embedding table): the same table names, column names, physical
types and value domains as the repository's fixed test data, at a
chosen scale factor. Every value is drawn from `numpy.random` seeded
by the drop's seed, so one seed always gives byte-identical tables
and two seeds give drops whose trade values, document text and
vectors all differ.

Usage: python3 gen.py OUT_DIR SEED [SF]
"""
import datetime as dt
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# rows per unit scale factor (sf0.01: 15,000 orders, 60,000 lines)
BASE_ROWS = {"customer": 150_000, "supplier": 10_000, "part": 200_000,
             "orders": 1_500_000, "lineitem": 6_000_000,
             "events": 1_000_000, "documents": 50_000, "embeddings": 20_000}
EVENT_USERS = 1500  # events.user_id spans the sf0.01 customer keys at every sf
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUN = ["anvil", "bolt", "gear", "plate", "ring", "rod", "widget", "nut"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = ("a agg batch big column customer data fast filter group hash join "
         "key line merge order part query row scan slow small sort spark "
         "stream table the value vector window").split()
LANGS = ["en", "zh", "de", "fr", "es"]
DIM = 64


def rows(table, sf):
    return max(1, int(round(BASE_ROWS[table] * sf)))


def write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def day_stamps(rng, n, lo, hi):
    """n midnight timestamps uniform over the days [lo, hi]."""
    days = rng.integers(0, (hi - lo).days + 1, n)
    base = np.datetime64(lo.isoformat(), "us")
    return pa.array(base + days.astype("timedelta64[D]"), pa.timestamp("us"))


def money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def documents(rng, n):
    """Word-salad documents over a 30-word vocabulary; about 5% are
    near-duplicates of an earlier document (the copy gets a trailing
    'dup' token) and a few of those copies are repeated verbatim, so
    exact and near duplicate detection both have planted answers."""
    vocab = np.array(WORDS)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), rng.integers(10, 101))])
             for _ in range(n)]
    near = rng.choice(np.arange(1, n), size=max(1, n // 20), replace=False)
    for i in near:
        texts[i] = texts[int(rng.integers(0, i))] + " dup"
    exact = near[: max(1, len(near) // 30)]
    for i in exact:
        j = int(rng.integers(0, n))
        if j != i:
            texts[j] = texts[i]
    return texts


def embeddings(rng, n):
    """Unit vectors around ten weak label centroids (no planted
    near-duplicates, like the fixed test data)."""
    labels = rng.integers(0, 10, n).astype(np.int32)
    centroids = rng.normal(0, 1, (10, DIM))
    centroids *= 0.07 / np.linalg.norm(centroids, axis=1, keepdims=True)
    v = rng.normal(0, 1, (n, DIM))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    v = v + centroids[labels]
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return v.astype(np.float32), labels


def generate(out, seed, sf=0.01):
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    write(out, "region", {"r_regionkey": pa.array(range(5), pa.int32()),
                          "r_name": REGIONS})
    write(out, "nation", {"n_nationkey": pa.array(range(25), pa.int32()),
                          "n_name": [f"NATION_{i}" for i in range(25)],
                          "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})

    nc = rows("customer", sf)
    write(out, "customer", {
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, nc)]})

    ns = rows("supplier", sf)
    write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(ns), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": money(rng, -999.99, 9999.99, ns)})

    npart = rows("part", sf)
    write(out, "part", {
        "p_partkey": pa.array(np.arange(npart), pa.int64()),
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, npart), rng.integers(0, 8, npart))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
        "p_type": np.array(PTYPES)[rng.integers(0, 6, npart)],
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": np.round(900.0 + rng.integers(0, 1000, npart) / 10.0, 1)})

    no = rows("orders", sf)
    write(out, "orders", {
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, no)],
        "o_totalprice": money(rng, 1000.0, 500000.0, no),
        "o_orderdate": day_stamps(rng, no, dt.date(1995, 1, 1), dt.date(2001, 8, 1)),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, no)]})

    nl = rows("lineitem", sf)
    write(out, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": money(rng, 900.0, 105000.0, nl),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, nl)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, nl)],
        "l_shipdate": day_stamps(rng, nl, dt.date(1995, 1, 2), dt.date(2001, 11, 4))})

    ne = rows("events", sf)
    month_us = 30 * 24 * 3600 * 10**6
    ts = np.sort(rng.integers(0, month_us, ne)) + np.datetime64("2024-01-01", "us")
    write(out, "events", {
        "event_id": pa.array(np.arange(ne), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, EVENT_USERS, ne), pa.int64()),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, ne)],
        "value": np.round(rng.exponential(50.0, ne), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]})

    nd = rows("documents", sf)
    texts = documents(rng, nd)
    lang_p = [0.4, 0.15, 0.15, 0.15, 0.15]
    langs = np.array(LANGS)[rng.choice(5, nd, p=lang_p)]
    write(out, "documents", {
        "doc_id": pa.array(np.arange(len(texts)), pa.int64()),
        "text": texts,
        "lang": langs,
        "source": [f"src{i % 20}" for i in range(len(texts))],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})

    nv = rows("embeddings", sf)
    vecs, labels = embeddings(rng, nv)
    write(out, "embeddings", {
        "vec_id": pa.array(np.arange(len(vecs)), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})


if __name__ == "__main__":
    generate(sys.argv[1], int(sys.argv[2]), float(sys.argv[3]) if len(sys.argv) > 3 else 0.01)
