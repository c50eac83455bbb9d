"""store_churn: seeded corpus + a seeded script of small store operations."""
import json
import os
import random

import pyarrow.parquet as pq

import metrics
import tables

SCALE = 1.0          # 500 documents, 500 vectors in the stores' base
ROUNDS = 200         # more than any run gets through; the loop is timed
COMPACT_EVERY = 2


def _letters(n):
    s = ""
    while True:
        s = chr(ord("a") + n % 26) + s
        n //= 26
        if n == 0:
            return s


def _text(rng, lo, hi):
    return " ".join(rng.choice(tables.VOCAB) for _ in range(rng.randint(lo, hi)))


def _unit(rng):
    v = [rng.gauss(0, 1) for _ in range(64)]
    n = sum(x * x for x in v) ** 0.5
    return [x / n for x in v]


def script(seed, base_texts):
    rng = random.Random("churn/%d" % seed)
    rounds = []
    for r in range(ROUNDS):
        term = "zq" + _letters(seed % 100000) + "x" + _letters(r)
        rounds.append({
            "vec_add": [[10_000_000 + r * 10 + j, _unit(rng)] for j in range(3)],
            "doc_add": [[20_000_000 + r * 10, rng.choice(base_texts)],
                        [20_000_000 + r * 10 + 1, _text(rng, 20, 60)]],
            "doc_probe_id": 30_000_000 + r,
            "bm25_add": [[40_000_000 + r * 10, term + " " + _text(rng, 10, 40)],
                         [40_000_000 + r * 10 + 1, _text(rng, 10, 40)]],
            "bm25_term": term,
            "runs_add": [[50_000_000 + r * 10 + j, _text(rng, 30, 60)] for j in range(2)],
            "runs_probe_id": 60_000_000 + r,
        })
    return {"rounds": rounds, "compact_every": COMPACT_EVERY}


def run(args, cp, run_dir, run_jvm):
    data = tables.generate(os.path.join(run_dir, "data"), args.seed, SCALE)
    docs = pq.read_table(os.path.join(data, "documents.parquet")).column("text").to_pylist()
    n_vec = pq.read_table(os.path.join(data, "embeddings.parquet")).num_rows
    ops = os.path.join(run_dir, "ops.json")
    with open(ops, "w") as f:
        json.dump(script(args.seed, docs), f)
    conf = {"workload": args.workload, "trace": int(args.trace), "cores": args.cores,
            "data_dir": data, "ops": ops, "seconds": args.seconds,
            "base.docs": len(docs), "base.vectors": n_vec}
    res = run_jvm(cp, run_dir, conf, 150)
    return metrics.churn(res)
