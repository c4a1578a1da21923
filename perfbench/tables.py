"""Seeded star-schema and corpus tables in the driver's parquet schema.

Follows the recipe of ``tools/gen_scale_data.py`` (value domains, key
ratios, date ranges, ≈8% exact and ≈4% near-duplicate documents, 8
embedding clusters) but takes the seed as an argument and writes only
the tables asked for. It lives inside the benchmark so that the inputs
stay fixed while the engine and its tools change.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

STAR_TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
               "lineitem", "events")
CORPUS_TABLES = ("documents", "embeddings")

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
NATIONS = [f"NATION_{i}" for i in range(25)]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
LANGS = ["en", "de", "es", "fr", "zh"]
PTYPES = ["STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
DOC_VOCAB = (
    "spark table column row key value data query scan filter group agg "
    "join sort hash merge window stream batch part order line fast slow "
    "big small a the"
).split()

DAY_US = 86_400_000_000
DAY_NS = DAY_US * 1000


def _days(date: str) -> int:
    return int((np.datetime64(date) - np.datetime64("1970-01-01")).astype(int))


def _write(out_dir: str, name: str, cols: dict) -> int:
    table = pa.table(cols)
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"),
                   row_group_size=512 * 1024, compression="snappy")
    return table.num_rows


def generate(out_dir: str, seed: int, sf: float, tables: tuple[str, ...]) -> dict[str, int]:
    """Write ``tables`` at scale factor ``sf`` under ``out_dir``; returns
    the row count of each table written."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_orders, n_events = int(1_500_000 * sf), int(1_000_000 * sf)
    n_docs, n_vecs = int(50_000 * sf), int(20_000 * sf)
    rows: dict[str, int] = {}
    want = set(tables)

    if "region" in want:
        rows["region"] = _write(out_dir, "region", {
            "r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS})
    if "nation" in want:
        rows["nation"] = _write(out_dir, "nation", {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": NATIONS,
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        })
    if "customer" in want:
        rows["customer"] = _write(out_dir, "customer", {
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
            "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]),
        })
    if "supplier" in want:
        rows["supplier"] = _write(out_dir, "supplier", {
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
        })
    if "part" in want:
        adj = np.array(PART_ADJ)[rng.integers(0, len(PART_ADJ), n_part)]
        noun = np.array(PART_NOUN)[rng.integers(0, len(PART_NOUN), n_part)]
        rows["part"] = _write(out_dir, "part", {
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": [f"{a} {b}" for a, b in zip(adj, noun)],
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
            "p_type": pa.array(np.array(PTYPES)[rng.integers(0, len(PTYPES), n_part)]),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0
                                      + rng.uniform(0, 100, n_part), 2),
        })
    if "orders" in want or "lineitem" in want:
        o_date = rng.integers(_days("1995-01-01"), _days("2001-08-01") + 1,
                              n_orders) * DAY_US
        status = np.where(o_date > _days("1999-06-01") * DAY_US, "O", "F").astype(object)
        status[rng.random(n_orders) < 0.03] = "P"
        rows["orders"] = _write(out_dir, "orders", {
            "o_orderkey": pa.array(np.arange(n_orders), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_orders), pa.int64()),
            "o_orderstatus": pa.array(status, pa.string()),
            "o_totalprice": np.round(np.minimum(
                1000.0 + rng.gamma(2.0, 60_000.0, n_orders), 499_999.99), 2),
            "o_orderdate": pa.array(o_date, pa.timestamp("us")),
            "o_orderpriority": pa.array(np.array(PRIORITIES)[rng.integers(0, 5, n_orders)]),
        })
        lines = rng.integers(1, 8, n_orders)
        l_order = np.repeat(np.arange(n_orders), lines)
        n_li = len(l_order)
        starts = np.repeat(np.cumsum(lines) - lines, lines)
        qty = rng.integers(1, 51, n_li).astype(np.float64)
        rflag = np.where(rng.random(n_li) < 0.5, "N",
                         np.where(rng.random(n_li) < 0.5, "A", "R"))
        rows["lineitem"] = _write(out_dir, "lineitem", {
            "l_orderkey": pa.array(l_order, pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
            "l_linenumber": pa.array(np.arange(n_li) - starts + 1, pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": np.round(np.minimum(
                qty * (900.0 + rng.uniform(0, 1200.0, n_li)), 104_999.99), 2),
            "l_discount": np.round(rng.integers(0, 11, n_li) / 100.0, 2),
            "l_tax": np.round(rng.integers(0, 9, n_li) / 100.0, 2),
            "l_returnflag": pa.array(rflag, pa.string()),
            "l_linestatus": pa.array(np.where(rng.random(n_li) < 0.5, "O", "F"),
                                     pa.string()),
            "l_shipdate": pa.array(np.repeat(o_date, lines)
                                   + rng.integers(1, 95, n_li) * DAY_US,
                                   pa.timestamp("us")),
        })
    if "events" in want:
        # TIMESTAMP(NANOS), like the driver's file: the engine's
        # nanosAsLong read path is part of what the queries exercise
        n_users = max(1, n_events // 67)
        start = np.datetime64("2024-01-01", "ns").astype(np.int64)
        user_w = 1.0 / np.arange(1, n_users + 1) ** 0.5
        etype = np.array(EVENT_TYPES)[
            rng.choice(5, n_events, p=[0.45, 0.30, 0.10, 0.05, 0.10])]
        rows["events"] = _write(out_dir, "events", {
            "event_id": pa.array(np.arange(n_events), pa.int64()),
            "ts": pa.array(np.sort(start + rng.integers(0, 30 * DAY_NS, n_events)),
                           pa.timestamp("ns")),
            "user_id": pa.array(rng.choice(n_users, n_events, p=user_w / user_w.sum()),
                                pa.int64()),
            "event_type": pa.array(etype, pa.string()),
            "value": np.where(etype == "purchase",
                              np.round(rng.gamma(2.0, 40.0, n_events), 2), 0.0),
            "props": pa.array([json.dumps({"k": int(k)})
                               for k in rng.integers(0, 100, n_events)]),
        })
    if "documents" in want:
        vocab = np.array(DOC_VOCAB)
        texts = [" ".join(vocab[rng.integers(0, len(vocab), k)])
                 for k in rng.integers(10, 60, n_docs)]
        dup_src = rng.integers(0, n_docs, n_docs)
        for i in range(n_docs):
            r = (i * 2654435761) % 100
            if r < 8:
                texts[i] = texts[dup_src[i]]
            elif r < 12:
                texts[i] = texts[dup_src[i]] + " extra"
        rows["documents"] = _write(out_dir, "documents", {
            "doc_id": pa.array(np.arange(n_docs), pa.int64()),
            "text": texts,
            "lang": pa.array(np.array(LANGS)[
                rng.choice(5, n_docs, p=[0.5, 0.15, 0.15, 0.1, 0.1])]),
            "source": pa.array([f"src{s}" for s in rng.integers(0, 20, n_docs)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        })
    if "embeddings" in want:
        k, dim = 8, 64
        centers = rng.normal(0, 1, (k, dim))
        labels = rng.integers(0, k, n_vecs)
        vecs = (centers[labels] + rng.normal(0, 0.35, (n_vecs, dim))).astype(np.float32)
        rows["embeddings"] = _write(out_dir, "embeddings", {
            "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        })
    return rows
