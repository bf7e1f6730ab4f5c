"""Synthetic analytics tables for the `analytics` workload.

Writes the ten tables the declared queries read (region, nation, customer,
supplier, part, orders, lineitem, events, documents, embeddings) as one
parquet file each, with the schemas and value ranges of the project's test
data at scale factor 0.001. The tables are fixed (their own seed, 42): the
benchmark's --seed only shuffles the order queries run in, so the pinned
results in pins.json hold for every seed.

Usage: python3 gen_tables.py <out_dir>
"""
import datetime as dt
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
N_CUSTOMER, N_SUPPLIER, N_PART, N_ORDERS = 150, 10, 200, 1500
N_EVENTS, N_DOCS, N_EMB, EMB_DIM, EMB_LABELS = 1000, 500, 500, 64, 10

VOCAB = ("scan column window order sort part agg value line key join merge "
         "query group a vector hash slow stream filter fast the spark batch "
         "table small data big customer row").split()
COLORS = "blue cold hot large new old red small".split()
THINGS = "anvil bolt gear gizmo plate ring rod widget".split()


def ts_us(y, m, d):
    return int(dt.datetime(y, m, d, tzinfo=dt.timezone.utc).timestamp() * 1_000_000)


def money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(seed=DATA_SEED):
    rng = np.random.default_rng(seed)
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    segs = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
    t["customer"] = pa.table({
        "c_custkey": pa.array(range(N_CUSTOMER), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(N_CUSTOMER)],
        "c_nationkey": pa.array(rng.integers(0, 25, N_CUSTOMER), pa.int32()),
        "c_acctbal": money(rng, -999.99, 9999.99, N_CUSTOMER),
        "c_mktsegment": [segs[i] for i in rng.integers(0, 5, N_CUSTOMER)]})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(range(N_SUPPLIER), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(N_SUPPLIER)],
        "s_nationkey": pa.array(rng.integers(0, 25, N_SUPPLIER), pa.int32()),
        "s_acctbal": money(rng, -999.99, 9999.99, N_SUPPLIER)})
    types = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
    t["part"] = pa.table({
        "p_partkey": pa.array(range(N_PART), pa.int64()),
        "p_name": [f"{COLORS[a]} {THINGS[b]}" for a, b in
                   zip(rng.integers(0, 8, N_PART), rng.integers(0, 8, N_PART))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, N_PART)],
        "p_type": [types[i] for i in rng.integers(0, 6, N_PART)],
        "p_size": pa.array(rng.integers(1, 51, N_PART), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(N_PART) % 200) / 10.0, 2)})

    day = 86_400_000_000
    lo, hi = ts_us(1995, 1, 1), ts_us(2001, 8, 1)
    odate = lo + rng.integers(0, (hi - lo) // day + 1, N_ORDERS) * day
    prios = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    t["orders"] = pa.table({
        "o_orderkey": pa.array(range(N_ORDERS), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, N_CUSTOMER, N_ORDERS), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, N_ORDERS)],
        "o_totalprice": money(rng, 1000.0, 500000.0, N_ORDERS),
        "o_orderdate": pa.array(odate, pa.timestamp("us")),
        "o_orderpriority": [prios[i] for i in rng.integers(0, 5, N_ORDERS)]})

    n_li = N_ORDERS * 4
    l_ord = np.sort(rng.integers(0, N_ORDERS, n_li))
    ln = np.zeros(n_li, np.int32)
    for i in range(1, n_li):  # 1-based line numbers within an order
        ln[i] = ln[i - 1] + 1 if l_ord[i] == l_ord[i - 1] else 0
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(l_ord, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, N_PART, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, N_SUPPLIER, n_li), pa.int64()),
        "l_linenumber": pa.array(ln + 1, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_li), 2),
        "l_discount": np.round(rng.integers(0, 11, n_li) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) / 100.0, 2),
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_li)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n_li)],
        "l_shipdate": pa.array(odate[l_ord] + rng.integers(1, 122, n_li) * day,
                               pa.timestamp("us"))})

    t0, span = ts_us(2024, 1, 1), 30 * day
    ts = np.sort(t0 + rng.integers(0, span, N_EVENTS))
    etypes = ["click", "error", "purchase", "signup", "view"]
    t["events"] = pa.table({
        "event_id": pa.array(range(N_EVENTS), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 15, N_EVENTS), pa.int64()),
        "event_type": [etypes[i] for i in rng.integers(0, 5, N_EVENTS)],
        "value": np.round(np.maximum(rng.exponential(50.0, N_EVENTS), 0.01), 2),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, N_EVENTS)]})

    # word salad over a closed vocabulary; about one document in twenty
    # re-posts an earlier one with " dup" appended (near-duplicates)
    langs = ["de", "en", "en", "es", "fr", "zh"]
    texts = []
    for i in range(N_DOCS):
        if i > 0 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(VOCAB[j] for j in
                                  rng.integers(0, len(VOCAB), int(rng.integers(10, 100)))))
    t["documents"] = pa.table({
        "doc_id": pa.array(range(N_DOCS), pa.int64()),
        "text": texts,
        "lang": [langs[i] for i in rng.integers(0, len(langs), N_DOCS)],
        "source": [f"src{i % 20}" for i in range(N_DOCS)],
        "n_chars": pa.array([len(x) for x in texts], pa.int64())})

    # unit vectors around one centre per label
    labels = rng.integers(0, EMB_LABELS, N_EMB)
    centres = rng.normal(0.0, 1.0, (EMB_LABELS, EMB_DIM))
    v = centres[labels] + rng.normal(0.0, 1.0, (N_EMB, EMB_DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(range(N_EMB), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
    return t


def main(out):
    os.makedirs(out, exist_ok=True)
    for name, tab in tables().items():
        pq.write_table(tab, os.path.join(out, f"{name}.parquet"))


if __name__ == "__main__":
    main(sys.argv[1])
