"""Seeded generator for the tables ``__spark_entry__.queries()`` read.

Same table names, columns and physical types as the engine's test tables
(TPC-H-like star schema plus ``events``, ``documents`` and ``embeddings``),
at roughly a hundredth of TPC-H scale. Every value derives from the seed.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["signup", "view", "click", "purchase", "error"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
WORDS = ("a the row scan slow fast table value part hash merge batch spark "
         "line sort window key agg join group filter order column data "
         "stream vector query small big customer").split()
DAY_US = 86_400 * 10 ** 6
EPOCH_1995_US = 788_918_400 * 10 ** 6
EPOCH_2024_US = 1_704_067_200 * 10 ** 6


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), pa.int64()).cast(pa.timestamp("us"))


def generate(seed: int, out_dir: str, orders: int = 15_000) -> dict[str, int]:
    """Write ``<out_dir>/<table>.parquet`` for every table; return row
    counts. ``orders`` sets the scale (4 lineitems per order)."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part = orders // 10, max(orders // 150, 10), orders // 7
    n_line = orders * 4
    money = lambda lo, hi, n: np.round(rng.uniform(lo, hi, n), 2)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                            "r_name": REGIONS})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype("int32"),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust)})
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype("int32"),
        "s_acctbal": money(-999.99, 9999.99, n_supp)})
    t["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype="int64"),
        "p_name": [" ".join(w) for w in rng.choice(WORDS, (n_part, 2))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 6, n_part)],
        "p_type": rng.choice(["ECONOMY", "STANDARD", "PROMO", "LARGE"],
                             n_part),
        "p_size": rng.integers(1, 51, n_part).astype("int32"),
        "p_retailprice": 900.0 + rng.integers(0, 1100, n_part)})
    odays = rng.integers(0, 2404, orders)          # 1995-01-01 .. 2001-08-01
    t["orders"] = pa.table({
        "o_orderkey": np.arange(orders, dtype="int64"),
        "o_custkey": rng.integers(0, n_cust, orders),
        "o_orderstatus": rng.choice(["O", "F", "P"], orders),
        "o_totalprice": money(1000, 500_000, orders),
        "o_orderdate": _ts(EPOCH_1995_US + odays * DAY_US),
        "o_orderpriority": rng.choice(PRIORITIES, orders)})
    okey = rng.integers(0, orders, n_line)
    qty = rng.integers(1, 51, n_line).astype("float64")
    t["lineitem"] = pa.table({
        "l_orderkey": okey,
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": rng.integers(1, 8, n_line).astype("int32"),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": _ts(EPOCH_1995_US
                          + (odays[okey] + rng.integers(1, 92, n_line))
                          * DAY_US)})
    n_ev = orders * 2 // 3
    t["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype="int64"),
        "ts": _ts(EPOCH_2024_US + rng.integers(0, 30 * DAY_US, n_ev)),
        "user_id": rng.integers(0, max(n_ev // 60, 10), n_ev),
        "event_type": rng.choice(EVENT_TYPES, n_ev),
        "value": money(0, 560, n_ev),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    n_doc = 500
    texts = []
    for i in range(n_doc):
        if i >= 20 and rng.random() < 0.05:  # near-duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            n_words = int(rng.integers(10, 101))
            texts.append(" ".join(rng.choice(WORDS, n_words)))
    t["documents"] = pa.table({
        "doc_id": np.arange(n_doc, dtype="int64"), "text": texts,
        "lang": rng.choice(LANGS, n_doc),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(x) for x in texts], dtype="int64")})
    n_vec, dim = 500, 64
    labels = rng.integers(0, 10, n_vec)
    centers = rng.normal(0, 0.6, (10, dim))
    vecs = centers[labels] + rng.normal(0, 1.0, (n_vec, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    vecs = vecs.astype("float32")
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_vec, dtype="int64"),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": labels.astype("int32")})
    for name, table in t.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: table.num_rows for name, table in t.items()}
