"""Seeded input tables for the benchmark.

Each workload reads a few of the engine's TPC-H-shaped tables
(`Tables.scala`): the yelp fixture derives business/review/user from
part/orders/customer, the near-dup text queries read `documents`. This module writes those tables as
single-row-group snappy parquet files with the same physical schema
the engine's test data uses (pyarrow, `timestamp[us]` without zone).

Row counts are fixed per workload; only the values depend on the
seed, so every seed costs the engine the same amount of work.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Rows per table, per workload. Part keys 0..199 must exist: the yelp
# fixture maps reviews onto 200 businesses.
SCALES = {
    "dashboard": {"orders": 40000, "customer": 4000, "part": 1000},
    "neardup_text": {"documents": 1500},
}

VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch dup").split()

PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJ = ["large", "hot", "blue", "old", "cold", "small", "red", "new"]
NOUN = ["ring", "bolt", "plate", "gear", "valve", "pipe", "nut", "spring"]
PTYPES = ["LARGE", "ECONOMY", "STANDARD", "PROMO", "SMALL", "MEDIUM"]
LANGS = ["en", "es", "zh", "de", "fr"]

EPOCH_1995 = np.datetime64("1995-01-01", "us")
DAYS = 2404  # 1995-01-01 .. 2001-08-01, the order-date span


def _write(out_dir, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"),
                   compression="snappy", row_group_size=1 << 30)


def _dates(rng, n):
    days = rng.integers(0, DAYS, n)
    return pa.array(EPOCH_1995 + days.astype("timedelta64[D]"),
                    type=pa.timestamp("us"))


def _orders(rng, n, n_cust):
    k = np.arange(n, dtype=np.int64)
    return {
        "o_orderkey": k,
        "o_custkey": rng.integers(0, n_cust, n, dtype=np.int64),
        "o_orderstatus": pa.array(np.array(["O", "P", "F"])[rng.integers(0, 3, n)]),
        "o_totalprice": np.round(rng.uniform(900.0, 450000.0, n), 2),
        "o_orderdate": _dates(rng, n),
        "o_orderpriority": pa.array(np.array(PRIORITIES)[rng.integers(0, 5, n)]),
    }


def _customer(rng, n):
    k = np.arange(n, dtype=np.int64)
    return {
        "c_custkey": k,
        "c_name": pa.array([f"Customer#{i:09d}" for i in k]),
        "c_nationkey": rng.integers(0, 25, n, dtype=np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n), 2),
        "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, n)]),
    }


def _part(rng, n):
    k = np.arange(n, dtype=np.int64)
    names = [f"{ADJ[a]} {NOUN[b]}" for a, b in
             zip(rng.integers(0, len(ADJ), n), rng.integers(0, len(NOUN), n))]
    return {
        "p_partkey": k,
        "p_name": pa.array(names),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n)]),
        "p_type": pa.array(np.array(PTYPES)[rng.integers(0, 6, n)]),
        "p_size": rng.integers(1, 51, n, dtype=np.int32),
        "p_retailprice": np.round(900.0 + k % 20000 / 10.0, 2),
    }


def _documents(rng, n):
    """Random token documents plus planted near-copies: about one doc in
    twelve copies an earlier doc with 0-2 token edits, so the corpus has
    exact, above-threshold and below-threshold pairs at every seed."""
    docs = []
    for i in range(n):
        if i >= 50 and rng.random() < 1 / 12:
            toks = list(docs[rng.integers(0, i)])
            for _ in range(rng.integers(0, 3)):
                toks[rng.integers(0, len(toks))] = VOCAB[rng.integers(0, len(VOCAB))]
        else:
            toks = [VOCAB[j] for j in rng.integers(0, len(VOCAB) - 1,
                                                  rng.integers(8, 101))]
        docs.append(toks)
    text = [" ".join(t) for t in docs]
    return {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": pa.array(text),
        "lang": pa.array(np.array(LANGS)[rng.choice(5, n, p=[.4, .15, .15, .15, .15])]),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": np.array([len(t) for t in text], dtype=np.int64),
    }


def generate(out_dir, workload, seed):
    """Write the workload's tables under `out_dir`; return {table: rows}."""
    scale = SCALES[workload]
    rng = np.random.default_rng([seed, sorted(SCALES).index(workload)])
    os.makedirs(out_dir, exist_ok=True)
    tables = {}
    if "customer" in scale:
        tables["customer"] = _customer(rng, scale["customer"])
        tables["orders"] = _orders(rng, scale["orders"], scale["customer"])
    if "part" in scale:
        tables["part"] = _part(rng, scale["part"])
    if "documents" in scale:
        tables["documents"] = _documents(rng, scale["documents"])
    for name, cols in tables.items():
        _write(out_dir, name, cols)
    return {name: len(next(iter(cols.values()))) for name, cols in tables.items()}
