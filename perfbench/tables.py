"""Seeded analytics tables for the query workload.

Writes the ten corpus tables the registry queries read (a TPC-H-like
star schema, an ``events`` stream, ``documents`` text and
``embeddings`` vectors), one parquet file each, with the column names,
types and value domains of the engine's reference corpus.  ``SCALE``
plays the role of the TPC-H scale factor (lineitem has about
``6_000_000 * SCALE`` rows).
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["cold", "small", "large", "blue", "old", "new", "green", "red", "bright", "tiny"]
PART_NOUN = ["widget", "bolt", "rod", "anvil", "ring", "gear", "spring"]
PART_TYPES = ["ECONOMY", "PROMO", "LARGE", "MEDIUM", "STANDARD", "SMALL"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ["de", "en", "es", "fr", "zh"]

SCALE = 0.002

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def _ts(day0: str, seconds: np.ndarray) -> pa.Array:
    base = np.datetime64(day0, "us")
    return pa.array(base + (seconds * 1_000_000).astype("timedelta64[us]"), pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def build_tables(seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_cust = max(50, int(150_000 * SCALE))
    n_supp = max(10, int(10_000 * SCALE))
    n_part = max(50, int(200_000 * SCALE))
    n_ord = max(500, int(1_500_000 * SCALE))
    n_line = 4 * n_ord
    n_events = max(1000, int(1_000_000 * SCALE))
    n_users = max(15, n_events // 66)
    n_docs, n_vecs, dim = 500, 500, 64

    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust),
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    adj = rng.choice(PART_ADJ, n_part)
    noun = rng.choice(PART_NOUN, n_part)
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{a} {b}" for a, b in zip(adj, noun)],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 200) * 0.1, 2),
    })
    span = int((np.datetime64("2001-08-01") - np.datetime64("1995-01-01")) / np.timedelta64(1, "D"))
    order_day = rng.integers(0, span + 1, n_ord)
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _ts("1995-01-01", order_day * 86400),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord),
    })
    l_order = np.sort(rng.integers(0, n_ord, n_line))
    line_no = np.ones(n_line, dtype=np.int32)
    for i in range(1, n_line):
        if l_order[i] == l_order[i - 1]:
            line_no[i] = line_no[i - 1] + 1
    qty = rng.integers(1, 51, n_line).astype(float)
    l_part = rng.integers(0, n_part, n_line)
    price = np.round(qty * (900.0 + (l_part % 200) * 0.1) * rng.uniform(0.9, 2.3, n_line), 2)
    ship_day = order_day[l_order] + rng.integers(1, 122, n_line)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(l_order, pa.int64()),
        "l_partkey": pa.array(l_part, pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(line_no, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": price,
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": _ts("1995-01-01", ship_day * 86400),
    })
    secs = np.sort(rng.uniform(0, 30 * 86400, n_events))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_events), pa.int64()),
        "ts": _ts("2024-01-01", secs),
        "user_id": pa.array(rng.integers(0, n_users, n_events), pa.int64()),
        "event_type": rng.choice(EVENT_TYPES, n_events),
        "value": _money(rng, 0.01, 330.0, n_events),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
    })
    texts = []
    for i in range(n_docs):
        if i % 25 == 24:  # a near-duplicate of an earlier document
            texts.append(texts[i - 1 - int(rng.integers(0, 10))] + " dup")
            continue
        texts.append(" ".join(rng.choice(WORDS, int(rng.integers(10, 100)))))
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": rng.choice(LANGS, n_docs),
        "source": [f"src{i}" for i in rng.integers(0, 20, n_docs)],
        "n_chars": pa.array([len(x) for x in texts], pa.int64()),
    })
    vecs = rng.normal(0.0, 0.15, (n_vecs, dim)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vecs), pa.int32()),
    })
    return t


def write_tables(root: str, seed: int) -> None:
    """Write every table as ``root/<name>.parquet``."""
    os.makedirs(root, exist_ok=True)
    for name, table in build_tables(seed).items():
        pq.write_table(table, os.path.join(root, f"{name}.parquet"))
