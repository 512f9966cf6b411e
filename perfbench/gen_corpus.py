"""Deterministic synthetic corpus for the query workloads.

Writes the ten tables the engine's queries read (region, nation, customer,
supplier, part, orders, lineitem, events, documents, embeddings) as one
parquet file each, with the column names and physical types of the engine's
table contract, about an sf0.001 TPC-H shape (6,000 lineitem rows). The
corpus is fixed: one seed, fixed row counts, byte-identical files, and
every file gets the same fixed mtime, so the engine's metadata fingerprint
of the corpus is stable from run to run and the expected outputs recorded
in ``expected.tsv`` hold for it. ``run.py`` calls ``write``.
"""
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

FIXED_MTIME = 1704067200  # 2024-01-01T00:00:00Z
SEED = 42
N_CUST, N_SUPP, N_PART = 150, 10, 200
N_ORDERS, N_LINE = 1500, 6000
N_USERS, N_EVENTS = 15, 1000
N_DOCS, N_VECS, DIM = 500, 500, 64

VOCAB = ("scan column window order sort part agg value line key join merge group "
         "query a vector hash slow stream filter fast the batch spark table small "
         "data big customer row").split()
LANGS = ["en", "fr", "es", "zh", "de"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
SEGMENTS = ["FURNITURE", "BUILDING", "MACHINERY", "HOUSEHOLD", "AUTOMOBILE"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
P_ADJ = ["cold", "small", "large", "blue", "red", "hot", "new", "old"]
P_NOUN = ["widget", "bolt", "rod", "gear", "anvil", "ring", "plate", "nut"]
P_TYPES = ["ECONOMY", "PROMO", "LARGE", "MEDIUM", "STANDARD", "SMALL"]
EVENT_TYPES = ["click", "purchase", "error", "signup", "view"]


def _micros(d):
    return int((d - dt.datetime(1970, 1, 1)).total_seconds()) * 1_000_000


def _ts(values):
    return pa.array(values, type=pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def build():
    rng = np.random.default_rng(SEED)
    n_cust, n_supp, n_part = N_CUST, N_SUPP, N_PART
    n_orders, n_line = N_ORDERS, N_LINE
    n_users, n_events = N_USERS, N_EVENTS
    n_docs, n_vecs, dim = N_DOCS, N_VECS, DIM
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": pa.array(range(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust)})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(range(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    t["part"] = pa.table({
        "p_partkey": pa.array(range(n_part), pa.int64()),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(P_ADJ, n_part), rng.choice(P_NOUN, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(P_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1)})
    day = 86_400_000_000
    o_lo = _micros(dt.datetime(1995, 1, 1))
    o_days = (dt.datetime(2001, 8, 1) - dt.datetime(1995, 1, 1)).days
    t["orders"] = pa.table({
        "o_orderkey": pa.array(range(n_orders), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_orders), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_orders),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_orders),
        "o_orderdate": _ts(o_lo + rng.integers(0, o_days + 1, n_orders) * day),
        "o_orderpriority": rng.choice(PRIORITIES, n_orders)})
    s_lo = _micros(dt.datetime(1995, 1, 2))
    s_days = (dt.datetime(2001, 11, 4) - dt.datetime(1995, 1, 2)).days
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_orders, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
        "l_discount": np.round(rng.integers(0, 11, n_line) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_line) / 100.0, 2),
        "l_returnflag": rng.choice(["N", "R", "A"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": _ts(s_lo + rng.integers(0, s_days + 1, n_line) * day)})
    e_lo = _micros(dt.datetime(2024, 1, 1))
    e_ts = np.sort(e_lo + rng.integers(0, 30 * day, n_events))
    t["events"] = pa.table({
        "event_id": pa.array(range(n_events), pa.int64()),
        "ts": _ts(e_ts),
        "user_id": pa.array(rng.integers(0, n_users, n_events), pa.int64()),
        "event_type": rng.choice(EVENT_TYPES, n_events),
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, n_events), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]})
    texts = []
    for i in range(n_docs):
        if i >= 20 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(VOCAB, int(rng.integers(10, 100)))))
    t["documents"] = pa.table({
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": texts,
        "lang": rng.choice(LANGS, n_docs, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(x) for x in texts], pa.int64())})
    centers = rng.normal(0.0, 0.14 / np.sqrt(dim), (10, dim))
    labels = rng.integers(0, 10, n_vecs)
    vecs = rng.normal(0.0, 1.0 / np.sqrt(dim), (n_vecs, dim)) + centers[labels]
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(range(n_vecs), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
    return t


def write(out):
    os.makedirs(out, exist_ok=True)
    for name, table in build().items():
        path = os.path.join(out, f"{name}.parquet")
        pq.write_table(table, path)
        os.utime(path, (FIXED_MTIME, FIXED_MTIME))

