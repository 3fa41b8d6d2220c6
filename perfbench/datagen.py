"""Seeded generator for the benchmark's input tables.

Writes the ten tables the program reads (``sources.parquet.TABLES``) as
one parquet file each, with the same column names, types and value
ranges as the project's synthetic star schema (TESTDATA.md): a
TPC-H-like star (region, nation, customer, supplier, part, orders,
lineitem), a 30-day click stream (events), a text corpus with ~5 %
near-duplicate documents (documents) and 64-d unit vectors
(embeddings). :data:`SCALE` multiplies the row counts of the scaled
tables; a scale of 1 gives 150 customers, 1,500 orders and ~6,000 line
items.

The same seed always gives byte-identical tables. Every
workload reads the tables of :data:`DATA_SEED`, as the project's test
data is one fixed draw; a workload's own seed picks what it does with
them (reload days, query order, client calls).
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["red", "old", "cold", "hot", "new", "large", "small", "blue"]
PART_NOUN = ["bolt", "anvil", "plate", "widget", "gear", "ring", "rod", "gizmo"]
PART_TYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
ORDER_STATUS = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

#: transaction dates span 1995-01-01 .. 2001-11-04, inside the ETL's
#: ten-year backfill window for any ``now`` in the data's last year
ORDER_FIRST = dt.date(1995, 1, 1)
ORDER_LAST = dt.date(2001, 8, 1)
SHIP_FIRST = dt.date(1995, 1, 2)
SHIP_LAST = dt.date(2001, 11, 4)
EVENTS_FIRST = dt.datetime(2024, 1, 1)
EVENTS_SECONDS = 30 * 86400
DATA_SEED = 42
#: row-count multiplier of the scaled tables (README.md, "Sizing")
SCALE = 1


def _days(rng, first: dt.date, last: dt.date, n: int) -> np.ndarray:
    off = rng.integers(0, (last - first).days + 1, n)
    return np.datetime64(first, "D") + off.astype("timedelta64[D]")


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out_dir: str, name: str, table: pa.Table) -> None:
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def _ts(days: np.ndarray) -> pa.Array:
    return pa.array(days.astype("datetime64[us]"), pa.timestamp("us"))


def generate(out_dir: str, seed: int) -> dict[str, int]:
    """Write every input table under ``out_dir``; return row counts."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part = 150 * SCALE, 10 * SCALE, 200 * SCALE
    n_ord, n_events = 1500 * SCALE, 1000 * SCALE
    n_users = 15 * SCALE
    n_docs, n_vecs = 500, 500
    counts: dict[str, int] = {}

    def put(name: str, cols: dict[str, pa.Array]) -> None:
        table = pa.table(cols)
        counts[name] = table.num_rows
        _write(out_dir, name, table)

    put("region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS),
    })
    put("nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    put("customer", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, n_cust)),
    })
    put("supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
    })
    put("part", {
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": pa.array(
            [f"{a} {b}" for a, b in zip(rng.choice(PART_ADJ, n_part), rng.choice(PART_NOUN, n_part))]
        ),
        "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, n_part)]),
        "p_type": pa.array(rng.choice(PART_TYPES, n_part)),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": pa.array(np.round(900 + (np.arange(n_part) % 1000) / 10, 1)),
    })
    put("orders", {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": pa.array(rng.choice(ORDER_STATUS, n_ord)),
        "o_totalprice": pa.array(_money(rng, 1000, 500000, n_ord)),
        "o_orderdate": _ts(_days(rng, ORDER_FIRST, ORDER_LAST, n_ord)),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, n_ord)),
    })

    # line items: random (order, line, part, supplier) draws with the
    # 4-tuple made unique, since it is the transactions' id
    n_li = 4 * n_ord
    key = np.stack([
        rng.integers(0, n_ord, n_li),
        rng.integers(1, 8, n_li),
        rng.integers(0, n_part, n_li),
        rng.integers(0, n_supp, n_li),
    ], axis=1)
    _, first = np.unique(key, axis=0, return_index=True)
    key = key[np.sort(first)]
    n_li = len(key)
    put("lineitem", {
        "l_orderkey": pa.array(key[:, 0], pa.int64()),
        "l_partkey": pa.array(key[:, 2], pa.int64()),
        "l_suppkey": pa.array(key[:, 3], pa.int64()),
        "l_linenumber": pa.array(key[:, 1], pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900, 105000, n_li)),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_li)),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n_li)),
        "l_shipdate": _ts(_days(rng, SHIP_FIRST, SHIP_LAST, n_li)),
    })

    offs = np.sort(rng.integers(0, EVENTS_SECONDS * 1_000_000, n_events))
    put("events", {
        "event_id": pa.array(np.arange(n_events), pa.int64()),
        "ts": pa.array(
            np.datetime64(EVENTS_FIRST, "us") + offs.astype("timedelta64[us]"),
            pa.timestamp("us"),
        ),
        "user_id": pa.array(rng.integers(0, n_users, n_events), pa.int64()),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n_events)),
        "value": pa.array(np.maximum(0.01, np.round(rng.exponential(50.0, n_events), 2))),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]),
    })

    # documents: random word strings; ~5 % are a copy of an earlier
    # document with one or two " dup" suffixes (the near-duplicates the
    # dedup family looks for)
    texts: list[str] = []
    for i in range(n_docs):
        if i >= 20 and rng.random() < 0.05:
            base = texts[int(rng.integers(0, i))]
            texts.append(base + " dup" * int(rng.integers(1, 3)))
        else:
            n_words = int(rng.integers(8, 90))
            texts.append(" ".join(rng.choice(WORDS, n_words)))
    put("documents", {
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, n_docs, p=LANG_P)),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })

    vecs = rng.standard_normal((n_vecs, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    put("embeddings", {
        "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vecs), pa.int32()),
    })
    return counts
