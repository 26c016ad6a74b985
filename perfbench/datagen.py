"""Deterministic synthetic tables for the benchmark.

The tables follow the schema of the repository's test data (TESTDATA.md):
a TPC-H-like star schema plus `events`, `documents` and `embeddings`, one
parquet file per table.  Row counts scale with `sf` the way the test data
does.  The data seed is fixed, so every run of the benchmark reads the same
tables; the workload seed only orders statements and draws literals.

Usage: python3 datagen.py <out_dir> <sf>
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
VOCAB = ("join hash row batch scan column customer filter small slow merge "
         "order vector line table data agg value key stream window a spark "
         "part group big sort query fast the").split()
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]


def _ts(start, seconds):
    base = np.datetime64(start, "us")
    return (base + (seconds * 1e6).astype("int64").astype("timedelta64[us]"))


def _days(start, n_days, rng, size):
    base = np.datetime64(start, "us")
    d = rng.integers(0, n_days, size).astype("timedelta64[D]")
    return base + d.astype("timedelta64[us]")


def tables(sf):
    rng = np.random.default_rng(DATA_SEED)
    n_cust = int(150_000 * sf)
    n_supp = int(10_000 * sf)
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_line = int(6_000_000 * sf)
    n_evt = int(1_000_000 * sf)
    n_doc = int(50_000 * sf)
    n_emb = max(500, int(20_000 * sf))
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    seg = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    out["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": seg[rng.integers(0, 5, n_cust)]})
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)})
    adj = ["large", "hot", "small", "red", "blue", "old", "new", "green"]
    noun = ["ring", "bolt", "widget", "gear", "gizmo", "nut", "pipe", "spring"]
    ptype = np.array(["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"])
    pk = np.arange(n_part, dtype="int64")
    out["part"] = pa.table({
        "p_partkey": pk,
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": ptype[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 2)})
    status = np.array(["F", "O", "P"])
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    out["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype="int64"),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype("int64"),
        "o_orderstatus": status[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": _days("1995-01-01", 2404, rng, n_ord),
        "o_orderpriority": prio[rng.integers(0, 5, n_ord)]})
    out["lineitem"] = lineitem(rng, n_line, n_ord, n_part, n_supp)
    etype = np.array(["click", "signup", "error", "view", "purchase"])
    out["events"] = pa.table({
        "event_id": np.arange(n_evt, dtype="int64"),
        "ts": _ts("2024-01-01", np.sort(rng.uniform(0, 30 * 86400, n_evt))),
        "user_id": rng.integers(0, max(1, int(15_000 * sf)), n_evt).astype("int64"),
        "event_type": etype[rng.integers(0, 5, n_evt)],
        "value": np.round(rng.uniform(0.01, 490.02, n_evt), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)]})
    out["documents"] = documents(rng, n_doc)
    out["embeddings"] = embeddings(rng, n_emb)
    return out


def lineitem(rng, n, n_ord, n_part, n_supp):
    flag = np.array(["A", "N", "R"])
    stat = np.array(["O", "F"])
    qty = rng.integers(1, 51, n).astype("float64")
    return pa.table({
        "l_orderkey": rng.integers(0, n_ord, n).astype("int64"),
        "l_partkey": rng.integers(0, n_part, n).astype("int64"),
        "l_suppkey": rng.integers(0, n_supp, n).astype("int64"),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n), 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": flag[rng.integers(0, 3, n)],
        "l_linestatus": stat[rng.integers(0, 2, n)],
        "l_shipdate": _days("1995-01-02", 2498, rng, n)})


def documents(rng, n):
    vocab = np.array(VOCAB)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), rng.integers(10, 100))])
             for _ in range(n)]
    # about 5% of documents are a near-duplicate of another one: the same
    # words with a trailing marker word, as in the repository's test data
    for j in rng.choice(n, size=n // 20, replace=False):
        texts[j] = texts[int(rng.integers(0, n))] + " dup"
    return pa.table({
        "doc_id": np.arange(n, dtype="int64"),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(len(LANGS), n, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype="int64")})


def embeddings(rng, n, dim=64, labels=10):
    # unit vectors in uniformly random directions; the label is drawn
    # independently of the vector, as in the repository's test data
    x = rng.normal(0, 1, (n, dim))
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    return pa.table({
        "vec_id": np.arange(n, dtype="int64"),
        "embedding": pa.array(list(x.astype("float32")), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, labels, n), pa.int32())})


def write(out_dir, sf, only=None):
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables(sf).items():
        if only is None or name in only:
            pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))


if __name__ == "__main__":
    write(sys.argv[1], float(sys.argv[2]))
