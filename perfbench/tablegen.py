"""Seeded generator for the tables the benchmark's queries read.

The tables have the names, column names and types the query registry and
its DuckDB oracles are written against, one parquet file each. Every
column follows the distribution measured on the sf0.1 test tables, so a
generated table is a row sample of sf0.1 at a smaller row count:

- documents (sf0.1: 5,000 rows): 10-100 tokens per text, uniform, drawn
  uniformly from one 30-word vocabulary; 5% of the documents are exact
  copies of another, original document with the token ``dup`` appended;
  lang is ``en`` 41%, ``de``/``es``/``fr``/``zh`` about 15% each; source
  is ``src{doc_id % 20}``.
- embeddings (sf0.1: 2,000 rows): 64-dimensional float32 unit vectors in
  uniformly random directions, label uniform in 0-9, no cluster structure.
- events (sf0.1: 100,000 rows): ts uniform over the 30 days from
  2024-01-01 in microseconds; user_id uniform over 1,500 users (scaled
  with the rows, so events per user stay at about 67); five event types,
  uniform; value exponential with mean 50, two decimals; props
  ``{"k": n}``, n uniform in 0-99.
- lineitem / orders / customer / supplier (sf0.1: 600,000 / 150,000 /
  15,000 / 1,000 rows): uniform keys over the referenced table, TPC-H
  style uniform quantities, prices, discounts, taxes, flags and dates.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# rows of each table at sf0.1
SF01_ROWS = {
    "documents": 5_000,
    "embeddings": 2_000,
    "events": 100_000,
    "lineitem": 600_000,
    "orders": 150_000,
    "customer": 15_000,
    "supplier": 1_000,
}
SF01_USERS = 1_500

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.41, 0.14, 0.15, 0.15, 0.15)
DUP_FRAC = 0.05
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
US_PER_DAY = 86_400_000_000


def _documents(rng, n: int) -> dict:
    texts = [
        " ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), int(rng.integers(10, 101))))
        for _ in range(n)
    ]
    dups = rng.choice(n, size=int(round(DUP_FRAC * n)), replace=False)
    originals = np.setdiff1d(np.arange(n), dups)
    for i, src in zip(dups, rng.choice(originals, dups.size)):
        texts[i] = texts[src] + " dup"
    return {
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(LANGS, n, p=LANG_P), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }


def _embeddings(rng, n: int) -> dict:
    v = rng.normal(size=(n, 64))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return {
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n), pa.int32()),
    }


def _events(rng, n: int, users: int) -> dict:
    ts = np.sort(rng.integers(0, 30 * US_PER_DAY, n)) + np.datetime64("2024-01-01", "us").astype(np.int64)
    return {
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, users, n), pa.int64()),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n), pa.string()),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2), pa.float64()),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)], pa.string()),
    }


def _days(rng, lo: str, hi: str, n: int) -> pa.Array:
    a, b = np.datetime64(lo, "D").astype(np.int64), np.datetime64(hi, "D").astype(np.int64)
    return pa.array(rng.integers(a, b + 1, n) * US_PER_DAY, pa.timestamp("us"))


def _money(rng, lo: float, hi: float, n: int) -> pa.Array:
    return pa.array(np.round(rng.uniform(lo, hi, n), 2), pa.float64())


def _lineitem(rng, n: int, orders: int, parts: int, suppliers: int) -> dict:
    return {
        "l_orderkey": pa.array(rng.integers(0, orders, n), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, parts, n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, suppliers, n), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, n).astype(np.float64), pa.float64()),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0, pa.float64()),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0, pa.float64()),
        "l_returnflag": pa.array(rng.choice(("A", "N", "R"), n), pa.string()),
        "l_linestatus": pa.array(rng.choice(("F", "O"), n), pa.string()),
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n),
    }


def _orders(rng, n: int, customers: int) -> dict:
    return {
        "o_orderkey": pa.array(np.arange(n), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, customers, n), pa.int64()),
        "o_orderstatus": pa.array(rng.choice(("F", "O", "P"), n), pa.string()),
        "o_totalprice": _money(rng, 1_000.0, 500_000.0, n),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, n), pa.string()),
    }


def _customer(rng, n: int) -> dict:
    return {
        "c_custkey": pa.array(np.arange(n), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n)], pa.string()),
        "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9_999.99, n),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, n), pa.string()),
    }


def _supplier(rng, n: int) -> dict:
    return {
        "s_suppkey": pa.array(np.arange(n), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n)], pa.string()),
        "s_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9_999.99, n),
    }


def table_rows(tables: tuple[str, ...], fraction: float) -> dict[str, int]:
    """Rows of each named table at ``fraction`` of its sf0.1 row count."""
    return {t: max(1, int(round(SF01_ROWS[t] * fraction))) for t in tables}


def write_tables(out_dir: str, seed: int, tables: tuple[str, ...], fraction: float) -> dict[str, int]:
    """Write the named tables at ``fraction`` of sf0.1 under ``out_dir``;
    return rows per table."""
    os.makedirs(out_dir, exist_ok=True)
    rows = table_rows(tables, fraction)
    full = table_rows(tuple(SF01_ROWS), fraction)
    users = max(1, int(round(SF01_USERS * fraction)))
    build = {
        "documents": lambda rng, n: _documents(rng, n),
        "embeddings": lambda rng, n: _embeddings(rng, n),
        "events": lambda rng, n: _events(rng, n, users),
        "lineitem": lambda rng, n: _lineitem(rng, n, full["orders"], 20 * full["supplier"], full["supplier"]),
        "orders": lambda rng, n: _orders(rng, n, full["customer"]),
        "customer": lambda rng, n: _customer(rng, n),
        "supplier": lambda rng, n: _supplier(rng, n),
    }
    for name in rows:
        rng = np.random.default_rng([seed, list(SF01_ROWS).index(name)])
        pq.write_table(pa.table(build[name](rng, rows[name])), os.path.join(out_dir, f"{name}.parquet"))
    return rows
