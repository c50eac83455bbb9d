"""Seeded generator for the batch suite's input tables.

Writes the ten parquet tables the operator registry reads (a TPC-H-like
star schema, an `events` stream table, `documents` and `embeddings`) with
the schemas and value shapes of the engine's test fixtures, at a size set
by `scale` (1.0 = 6,000 lineitem rows, 500 documents, 500 vectors).
The same (seed, scale) always produces the same rows.
"""
import json
import math
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("a agg batch big column customer data dup fast filter group hash join "
         "key line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()
LANGS = [("en", 41), ("es", 15), ("fr", 15), ("de", 14), ("zh", 15)]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PTYPES = ["ECONOMY", "PROMO", "LARGE", "MEDIUM", "STANDARD", "SMALL"]
ADJ = ["cold", "small", "large", "blue", "new", "old", "red", "fast"]
NOUN = ["widget", "bolt", "rod", "anvil", "ring", "gear", "pipe"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "purchase", "error", "signup", "view"]
US = 1_000_000


def _ts(epoch_s):
    return pa.array(np.asarray(epoch_s, dtype=np.int64) * US, type=pa.timestamp("us"))


def _days(rng, n, start="1992-01-01", end="2001-12-31"):
    a = np.datetime64(start, "D").astype(np.int64)
    b = np.datetime64(end, "D").astype(np.int64)
    return rng.integers(a, b, n) * 86400


def _write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, name + ".parquet"))


def generate(out, seed, scale=1.0):
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    prng = random.Random(seed)
    n_cust, n_supp, n_part = max(10, int(150 * scale)), max(5, int(10 * scale)), max(20, int(200 * scale))
    n_ord, n_line = max(50, int(1500 * scale)), max(200, int(6000 * scale))
    n_ev, n_doc, n_vec = max(100, int(1000 * scale)), max(50, int(500 * scale)), max(50, int(500 * scale))

    _write(out, "region", {"r_regionkey": pa.array(range(5), pa.int32()),
                           "r_name": REGIONS})
    _write(out, "nation", {"n_nationkey": pa.array(range(25), pa.int32()),
                           "n_name": ["NATION_%d" % i for i in range(25)],
                           "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    _write(out, "customer", {
        "c_custkey": pa.array(range(n_cust), pa.int64()),
        "c_name": ["Customer#%09d" % i for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999, 9999, n_cust), 2),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)]})
    _write(out, "supplier", {
        "s_suppkey": pa.array(range(n_supp), pa.int64()),
        "s_name": ["Supplier#%09d" % i for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999, 9999, n_supp), 2)})
    _write(out, "part", {
        "p_partkey": pa.array(range(n_part), pa.int64()),
        "p_name": ["%s %s" % (ADJ[a], NOUN[b]) for a, b in
                   zip(rng.integers(0, len(ADJ), n_part), rng.integers(0, len(NOUN), n_part))],
        "p_brand": ["Brand#%d" % b for b in rng.integers(1, 26, n_part)],
        "p_type": [PTYPES[t] for t in rng.integers(0, len(PTYPES), n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + np.arange(n_part) * 0.1, 2)})
    _write(out, "orders", {
        "o_orderkey": pa.array(range(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": [["F", "O", "P"][i] for i in rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000, 500000, n_ord), 2),
        "o_orderdate": _ts(_days(rng, n_ord)),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n_ord)]})
    qty = rng.integers(1, 51, n_line).astype(float)
    _write(out, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_line), 2),
        "l_discount": np.round(rng.integers(0, 11, n_line) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_line) / 100.0, 2),
        "l_returnflag": [["A", "N", "R"][i] for i in rng.integers(0, 3, n_line)],
        "l_linestatus": [["F", "O"][i] for i in rng.integers(0, 2, n_line)],
        "l_shipdate": _ts(_days(rng, n_line))})

    t0 = np.datetime64("2024-01-01", "s").astype(np.int64)
    ts_us = np.sort(rng.integers(0, 30 * 86400 * US, n_ev)) + t0 * US
    _write(out, "events", {
        "event_id": pa.array(range(n_ev), pa.int64()),
        "ts": pa.array(ts_us, type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 15, n_ev), pa.int64()),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_ev)]})

    # documents: ~0.2% exact and ~2.7% near duplicates (5% word swaps)
    lang_pool = [l for l, w in LANGS for _ in range(w)]
    texts, langs = [], []
    for i in range(n_doc):
        r = prng.random()
        if i > 0 and r < 0.002:
            texts.append(texts[prng.randrange(i)])
        elif i > 0 and r < 0.029:
            words = texts[prng.randrange(i)].split()
            words = [prng.choice(VOCAB) if prng.random() < 0.05 else w for w in words]
            texts.append(" ".join(words))
        else:
            texts.append(" ".join(prng.choice(VOCAB) for _ in range(prng.randint(10, 99))))
        langs.append(prng.choice(lang_pool))
    _write(out, "documents", {
        "doc_id": pa.array(range(n_doc), pa.int64()),
        "text": texts, "lang": langs,
        "source": ["src%d" % (i % 20) for i in range(n_doc)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})

    # embeddings: 64-dim unit vectors around 10 label centroids, ~1%
    # near-duplicate pairs
    cents = rng.normal(0, 1, (10, 64))
    labels = rng.integers(0, 10, n_vec)
    vecs = cents[labels] / math.sqrt(64) + rng.normal(0, 0.35 / math.sqrt(64), (n_vec, 64))
    for i in range(1, n_vec):
        if rng.random() < 0.01:
            vecs[i] = vecs[i - 1] + rng.normal(0, 0.02 / math.sqrt(64), 64)
            labels[i] = labels[i - 1]
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(out, "embeddings", {
        "vec_id": pa.array(range(n_vec), pa.int64()),
        "embedding": pa.array([list(map(float, v.astype(np.float32))) for v in vecs],
                              pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
    return out
