"""Seeded generator for the tables the query deck reads.

Writes region, nation, customer, orders, lineitem, documents and
embeddings as single parquet files at the row counts of the sf0.01
fixture (60k lineitem, 500 documents, 500 64-d embeddings). Only the
seed changes the contents: key skew, text mix, planted near-duplicate
documents and embedding clusters all derive from it.

    python3 gen_tables.py OUT_DIR SEED
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SCALE = 0.01
WORDS = ["spark", "window", "merge", "table", "column", "vector", "stream",
         "value", "data", "small", "join", "filter", "big", "group", "hash",
         "customer", "sort", "order", "slow", "line", "part", "fast", "row",
         "the", "agg", "key", "query", "a", "scan", "batch"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
LANGS = ["en", "zh", "es", "fr", "de"]


def write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def dates(rng, n):
    days = rng.integers(0, 365 * 10, n)
    return pa.array((np.datetime64("1992-01-01") + days).astype("datetime64[us]"))


def relational(out, rng):
    n_cust = int(150000 * SCALE)
    n_ord = int(1500000 * SCALE)
    n_line = int(6000000 * SCALE)
    write(out, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": REGIONS})
    write(out, "nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)})
    # nation popularity is skewed by the seed
    nation_w = rng.dirichlet(np.full(25, 2.0))
    write(out, "customer", {
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.choice(25, n_cust, p=nation_w).astype(np.int32)),
        "c_acctbal": pa.array(np.round(rng.uniform(-999, 9999, n_cust), 2)),
        "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, n_cust)])})
    write(out, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord, dtype=np.int64)),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)]),
        "o_totalprice": pa.array(np.round(rng.uniform(800, 500000, n_ord), 2)),
        "o_orderdate": dates(rng, n_ord),
        "o_orderpriority": pa.array(np.array(PRIORITIES)[rng.integers(0, 5, n_ord)])})
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    write(out, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line, dtype=np.int64)),
        "l_partkey": pa.array(rng.integers(0, 20000, n_line, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, 1000, n_line, dtype=np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line).astype(np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900, 2000, n_line), 2)),
        "l_discount": pa.array(np.round(rng.integers(0, 11, n_line) / 100.0, 2)),
        "l_tax": pa.array(np.round(rng.integers(0, 9, n_line) / 100.0, 2)),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n_line)]),
        "l_shipdate": dates(rng, n_line)})


def documents(out, rng):
    n = int(50000 * SCALE)
    word_w = rng.dirichlet(np.full(len(WORDS), 50.0))
    texts = []
    for i in range(n):
        if i > 50 and rng.random() < 0.05:
            # planted near-duplicate: an earlier doc with a few edits
            src = texts[rng.integers(0, i)].split()
            for _ in range(rng.integers(1, 4)):
                src[rng.integers(0, len(src))] = WORDS[rng.integers(0, len(WORDS))]
            texts.append(" ".join(src + ["dup"]))
        else:
            k = int(rng.integers(8, 90))
            texts.append(" ".join(np.array(WORDS)[rng.choice(len(WORDS), k, p=word_w)]))
    write(out, "documents", {
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": texts,
        "lang": pa.array(np.array(LANGS)[rng.choice(5, n, p=[0.4, 0.15, 0.15, 0.15, 0.15])]),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64))})


def embeddings(out, rng):
    n, dim, k = 500, 64, 10
    centers = rng.normal(size=(k, dim))
    label = rng.integers(0, k, n)
    x = centers[label] + rng.normal(scale=1.2, size=(n, dim))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    write(out, "embeddings", {
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(x), type=pa.list_(pa.float32())),
        "label": pa.array(label.astype(np.int32))})


def main():
    out, seed = sys.argv[1], int(sys.argv[2])
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    relational(out, rng)
    documents(out, rng)
    embeddings(out, rng)


if __name__ == "__main__":
    main()
