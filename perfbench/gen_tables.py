"""Deterministic generator of the star-schema tables graft's queries read.

Writes region, nation, customer, supplier, part, orders, lineitem, events,
documents and embeddings as one parquet file each, with the column names,
types, value domains and row counts per scale factor of the synthetic
TPC-H-like data graft is developed against (see the repo's TESTDATA.md).
The output is a pure function of (scale factor, data seed): the query
workloads use one fixed data seed, so their expected result digests hold
on every machine with the same numpy and pyarrow.

    python3 gen_tables.py --sf 0.01 --out DIR [--data-seed 42]
"""
import argparse
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window"]
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]

DAY_US = 86_400_000_000


def days_since_epoch(y, m, d):
    return int(np.datetime64(f"{y:04d}-{m:02d}-{d:02d}", "D").astype(np.int64))


def ts_col(us):
    return pa.array(us.astype("datetime64[us]"), type=pa.timestamp("us"))


def money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def generate(sf, out, data_seed):
    os.makedirs(out, exist_ok=True)
    n_cust = max(1, int(round(150_000 * sf)))
    n_supp = max(1, int(round(10_000 * sf)))
    n_part = max(1, int(round(200_000 * sf)))
    n_ord = max(1, int(round(1_500_000 * sf)))
    n_line = max(1, int(round(6_000_000 * sf)))
    n_evt = max(1, int(round(1_000_000 * sf)))
    n_user = max(1, int(round(15_000 * sf)))
    n_doc = max(500, int(round(50_000 * sf)))
    n_emb = max(500, int(round(20_000 * sf)))

    def rng(table):
        return np.random.default_rng([data_seed, sum(map(ord, table))])

    write(out, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(REGIONS)})
    write(out, "nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)})

    r = rng("customer")
    write(out, "customer", {
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(r.integers(0, 25, n_cust, dtype=np.int32)),
        "c_acctbal": pa.array(money(r, -999.99, 9999.99, n_cust)),
        "c_mktsegment": pa.array(np.array(SEGMENTS)[r.integers(0, 5, n_cust)])})

    r = rng("supplier")
    write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(r.integers(0, 25, n_supp, dtype=np.int32)),
        "s_acctbal": pa.array(money(r, -999.99, 9999.99, n_supp))})

    r = rng("part")
    names = np.array([f"{a} {b}" for a in ADJ for b in NOUN])
    keys = np.arange(n_part, dtype=np.int64)
    write(out, "part", {
        "p_partkey": pa.array(keys),
        "p_name": pa.array(names[r.integers(0, len(names), n_part)]),
        "p_brand": pa.array(np.array([f"Brand#{i}" for i in range(1, 26)])
                            [r.integers(0, 25, n_part)]),
        "p_type": pa.array(np.array(PTYPES)[r.integers(0, 6, n_part)]),
        "p_size": pa.array(r.integers(1, 51, n_part, dtype=np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + (keys % 1000) / 10.0, 2))})

    r = rng("orders")
    d0, d1 = days_since_epoch(1995, 1, 1), days_since_epoch(2001, 8, 1)
    write(out, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(r.integers(0, n_cust, n_ord, dtype=np.int64)),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[r.integers(0, 3, n_ord)]),
        "o_totalprice": pa.array(money(r, 1000.0, 500_000.0, n_ord)),
        "o_orderdate": ts_col(r.integers(d0, d1 + 1, n_ord) * DAY_US),
        "o_orderpriority": pa.array(np.array(PRIORITIES)[r.integers(0, 5, n_ord)])})

    r = rng("lineitem")
    s0, s1 = days_since_epoch(1995, 1, 2), days_since_epoch(2001, 11, 4)
    write(out, "lineitem", {
        "l_orderkey": pa.array(r.integers(0, n_ord, n_line, dtype=np.int64)),
        "l_partkey": pa.array(r.integers(0, n_part, n_line, dtype=np.int64)),
        "l_suppkey": pa.array(r.integers(0, n_supp, n_line, dtype=np.int64)),
        "l_linenumber": pa.array(r.integers(1, 8, n_line, dtype=np.int32)),
        "l_quantity": pa.array(r.integers(1, 51, n_line).astype(np.float64)),
        "l_extendedprice": pa.array(money(r, 900.0, 105_000.0, n_line)),
        "l_discount": pa.array(np.round(r.uniform(0.0, 0.10, n_line), 2)),
        "l_tax": pa.array(np.round(r.uniform(0.0, 0.08, n_line), 2)),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[r.integers(0, 3, n_line)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[r.integers(0, 2, n_line)]),
        "l_shipdate": ts_col(r.integers(s0, s1 + 1, n_line) * DAY_US)})

    r = rng("events")
    t0 = days_since_epoch(2024, 1, 1) * DAY_US
    ts = t0 + np.sort(r.integers(0, 30 * DAY_US, n_evt))
    write(out, "events", {
        "event_id": pa.array(np.arange(n_evt, dtype=np.int64)),
        "ts": ts_col(ts),
        "user_id": pa.array(r.integers(0, n_user, n_evt, dtype=np.int64)),
        "event_type": pa.array(np.array(EVENT_TYPES)[r.integers(0, 5, n_evt)]),
        "value": pa.array(np.maximum(0.01, np.round(r.exponential(50.0, n_evt), 2))),
        "props": pa.array([f'{{"k": {k}}}' for k in r.integers(0, 100, n_evt)])})

    r = rng("documents")
    lens = r.integers(10, 100, n_doc)
    vocab = np.array(WORDS)
    texts = []
    for i in range(n_doc):
        words = list(vocab[r.integers(0, len(vocab), lens[i])])
        if r.random() < 0.05:
            words.append("dup")
        texts.append(" ".join(words))
    write(out, "documents", {
        "doc_id": pa.array(np.arange(n_doc, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(np.array(LANGS)[r.choice(5, n_doc, p=LANG_P)]),
        "source": pa.array([f"src{i % 20}" for i in range(n_doc)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64))})

    r = rng("embeddings")
    labels = r.integers(0, 10, n_emb, dtype=np.int32)
    centers = r.normal(0.0, 0.15, (10, 64))
    vecs = centers[labels] + r.normal(0.0, 1.0, (n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    write(out, "embeddings", {
        "vec_id": pa.array(np.arange(n_emb, dtype=np.int64)),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(labels)})


def main(argv):
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", type=float, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--data-seed", type=int, default=42)
    a = ap.parse_args(argv)
    generate(a.sf, a.out, a.data_seed)


if __name__ == "__main__":
    main(sys.argv[1:])
