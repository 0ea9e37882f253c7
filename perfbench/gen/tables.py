"""TPC-H-like tables in the FIXTURES.md section 1 schemas and domains.

One parquet file per table (``<name>.parquet``), the layout the engine's
``sources.Tables`` reads. Row counts follow sf0.1 at ``scale=1``:
region 5, nation 25, supplier 1,000, customer 15,000, part 20,000,
orders 150,000, lineitem 600,000, events 100,000, documents 5,000,
embeddings 2,000. ``scale`` multiplies every table but the three fixed
dimensions.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ADJ = ["red", "new", "hot", "small", "large", "old", "blue", "cold"]
NOUN = ["bolt", "anvil", "ring", "rod", "plate", "gear", "widget", "spring"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.41, 0.15, 0.15, 0.14, 0.15]
WORDS = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window"]
DAY_MS = 86_400_000
EPOCH_1995 = 788_918_400_000  # 1995-01-01 in ms
EPOCH_2024 = 1_704_067_200_000  # 2024-01-01 in ms


def _write(out_dir, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"),
                   compression="snappy")


def _money(x):
    return np.round(x, 2)


def generate(out_dir, seed, scale=1.0):
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)
    n = {k: max(1, int(v * scale)) for k, v in dict(
        customer=15_000, part=20_000, orders=150_000, lineitem=600_000,
        events=100_000, documents=5_000, embeddings=2_000).items()}
    n_supp = 1_000

    _write(out_dir, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": REGIONS})
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)})
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp, dtype=np.int32)),
        "s_acctbal": pa.array(_money(rng.uniform(-999.99, 9999.99, n_supp)))})

    nc = n["customer"]
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(nc, dtype=np.int64)),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc, dtype=np.int32)),
        "c_acctbal": pa.array(_money(rng.uniform(-999.99, 9999.99, nc))),
        "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, nc)])})

    np_ = n["part"]
    names = np.array([f"{a} {b}" for a in ADJ for b in NOUN])
    _write(out_dir, "part", {
        "p_partkey": pa.array(np.arange(np_, dtype=np.int64)),
        "p_name": pa.array(names[rng.integers(0, len(names), np_)]),
        "p_brand": pa.array(np.array([f"Brand#{i}" for i in range(1, 26)])[
            rng.integers(0, 25, np_)]),
        "p_type": pa.array(np.array(PTYPES)[rng.integers(0, 6, np_)]),
        "p_size": pa.array(rng.integers(1, 51, np_, dtype=np.int32)),
        "p_retailprice": pa.array(np.round(rng.uniform(900.0, 999.9, np_), 1))})

    no = n["orders"]
    odays = rng.integers(0, 2404, no)  # 1995-01-01 .. 2001-08-01
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(no, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, nc, no, dtype=np.int64)),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, no)]),
        "o_totalprice": pa.array(_money(rng.uniform(1000.0, 500000.0, no))),
        "o_orderdate": pa.array(EPOCH_1995 + odays * DAY_MS, pa.timestamp("ms")),
        "o_orderpriority": pa.array(np.array(PRIORITIES)[rng.integers(0, 5, no)])})

    nl = n["lineitem"]
    lorder = np.sort(rng.integers(0, no, nl))
    first = np.r_[True, lorder[1:] != lorder[:-1]]
    run_start = np.maximum.accumulate(np.where(first, np.arange(nl), 0))
    linenumber = (np.arange(nl) - run_start + 1).astype(np.int32)
    qty = rng.integers(1, 51, nl).astype(np.float64)
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(lorder.astype(np.int64)),
        "l_partkey": pa.array(rng.integers(0, np_, nl, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, nl, dtype=np.int64)),
        "l_linenumber": pa.array(linenumber),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(_money(qty * rng.uniform(900.0, 2100.0, nl))),
        "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, nl)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, nl)]),
        "l_shipdate": pa.array(EPOCH_1995 + (1 + rng.integers(0, 2498, nl)) * DAY_MS,
                               pa.timestamp("ms"))})

    ne = n["events"]
    ts_us = (EPOCH_2024 * 1000 + np.sort(rng.integers(0, 30 * DAY_MS * 1000, ne)))
    _write(out_dir, "events", {
        "event_id": pa.array(np.arange(ne, dtype=np.int64)),
        "ts": pa.array(ts_us, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(1, ne // 66), ne, dtype=np.int64)),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, ne)]),
        "value": pa.array(_money(rng.exponential(50.0, ne))),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]})

    nd = n["documents"]
    lens = rng.integers(8, 100, nd)
    words = np.array(WORDS)
    texts = [" ".join(words[rng.integers(0, 30, k)]) for k in lens]
    # a few verbatim repeats, as a real crawl has
    for i in rng.choice(nd, size=max(1, nd // 600), replace=False):
        texts[i] = texts[(i + 1) % nd]
    _write(out_dir, "documents", {
        "doc_id": pa.array(np.arange(nd, dtype=np.int64)),
        "text": texts,
        "lang": pa.array(np.array(LANGS)[rng.choice(5, nd, p=LANG_P)]),
        "source": pa.array(np.array([f"src{i}" for i in range(20)])[
            rng.integers(0, 20, nd)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64))})

    nv = n["embeddings"]
    labels = rng.integers(0, 10, nv)
    centers = rng.normal(0.0, 1.0, (10, 64))
    vecs = centers[labels] + rng.normal(0.0, 1.2, (nv, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(out_dir, "embeddings", {
        "vec_id": pa.array(np.arange(nv, dtype=np.int64)),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32))})
    return {"rows": n | {"region": 5, "nation": 25, "supplier": n_supp}}
