"""Seeded synthetic star-schema tables for the ``query_mix`` workload.

The registered ``plans`` queries read TPC-H-shaped tables (region, nation,
customer, supplier, part, orders, lineitem) plus ``events``,
``documents`` and ``embeddings``. This module writes tables with the same
names, column names and Parquet types (tz-naive microsecond timestamps,
float32 embedding lists), sized like scale factor 0.01, from a seed, so
the benchmark never reads data from outside its checkout.

Value domains follow the shapes the queries filter and group on: five
regions, 25 ``NATION_i`` nations, order dates 1995-01-01..2001-08-01,
five event types with ``{"k": n}`` props, documents over a 30-word
vocabulary with near-duplicates marked by a trailing ``dup``, and unit
64-d embeddings clustered by one of ten labels.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLE_NAMES = (
    "region", "nation", "customer", "supplier", "part", "orders", "lineitem",
    "events", "documents", "embeddings",
)

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["small", "red", "blue", "hot", "cold", "big", "green", "shiny"]
PART_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "nut", "spring", "valve"]
PART_TYPES = ["ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD", "LARGE"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.44, 0.15, 0.14, 0.14, 0.13]
WORDS = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()

DAY_US = 86_400 * 1_000_000
EPOCH_2024 = int(np.datetime64("2024-01-01", "us").astype(np.int64))


def _days(rng: np.random.Generator, n: int, first: str, last: str) -> pa.Array:
    lo = int(np.datetime64(first, "D").astype(np.int64))
    hi = int(np.datetime64(last, "D").astype(np.int64))
    return pa.array(rng.integers(lo, hi + 1, n) * DAY_US, pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def build_tables(seed: int, scale: float = 0.01) -> dict[str, pa.Table]:
    rng = np.random.default_rng([seed, int(scale * 1e6)])
    n_cust, n_supp, n_part = int(150_000 * scale), int(10_000 * scale), int(200_000 * scale)
    n_orders, n_line = int(1_500_000 * scale), int(6_000_000 * scale)
    n_events, n_docs, n_vecs = int(1_000_000 * scale), int(50_000 * scale), int(50_000 * scale)
    t: dict[str, pa.Table] = {}

    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust),
    })
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    retail = np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2)
    t["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in rng.integers(0, 8, (n_part, 2))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PART_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": retail,
    })
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_orders, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_orders),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_orders),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_orders),
        "o_orderdate": _days(rng, n_orders, "1995-01-01", "2001-08-01"),
        "o_orderpriority": rng.choice(PRIORITIES, n_orders),
    })
    partkey = rng.integers(0, n_part, n_line)
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_orders, n_line),
        "l_partkey": partkey,
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * retail[partkey] * rng.uniform(0.95, 2.2, n_line), 2),
        "l_discount": np.round(rng.integers(0, 11, n_line) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_line) / 100.0, 2),
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": _days(rng, n_line, "1995-01-02", "2001-11-04"),
    })

    gaps = rng.exponential(30 * DAY_US / n_events, n_events)
    t["events"] = pa.table({
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": pa.array(EPOCH_2024 + np.cumsum(gaps).astype(np.int64), pa.timestamp("us")),
        "user_id": rng.integers(0, max(n_events // 66, 1), n_events),
        "event_type": rng.choice(EVENT_TYPES, n_events),
        "value": np.round(rng.exponential(40.0, n_events) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
    })

    texts = [" ".join(rng.choice(WORDS, int(k))) for k in rng.integers(10, 100, n_docs)]
    for i in rng.choice(n_docs, n_docs // 20, replace=False):
        src = int(rng.integers(0, n_docs))
        if src != i:
            texts[i] = texts[src] + " dup" * int(rng.integers(1, 3))
    t["documents"] = pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n_docs, p=LANG_P),
        "source": [f"src{s}" for s in rng.integers(0, 20, n_docs)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64),
    })

    labels = rng.integers(0, 10, n_vecs)
    centres = rng.normal(0.0, 1.0, (10, 64))
    vecs = centres[labels] + rng.normal(0.0, 1.2, (n_vecs, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": labels.astype(np.int32),
    })
    return t


def write_tables(out_dir: str, seed: int, scale: float = 0.01) -> int:
    """Write every table as ``<out_dir>/<name>.parquet``; return total bytes."""
    os.makedirs(out_dir, exist_ok=True)
    total = 0
    for name, table in build_tables(seed, scale).items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path)
        total += os.path.getsize(path)
    return total
