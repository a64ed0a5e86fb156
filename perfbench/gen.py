"""Seeded synthetic warehouse for the benchmark.

Writes the ten warehouse tables (``nzgmdb_spark.tables.TABLE_NAMES``) as
one parquet file each, with the schemas and value ranges of the repo's
synthetic test data: a TPC-H-like star schema, an ``events`` stream
table, a ``documents`` corpus with planted near-duplicates and 64-d
``embeddings``. The same ``(seed, sf)`` always gives byte-identical
tables, so every input the program sees is a function of the seed.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
COLORS = ["blue", "red", "green", "small", "large", "shiny", "old", "new"]
NOUNS = ["anvil", "widget", "ring", "gear", "bolt", "spring", "valve", "lamp"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
LANGS = ["en", "de", "es", "fr", "zh"]
WORDS = (
    "a the data query table row column key value join group order sort scan "
    "filter hash merge batch stream window spark agg part line customer "
    "small big fast slow vector"
).split()
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

EPOCH_DAY = np.datetime64("1995-01-01", "D")
ORDER_DAYS = 2404  # 1995-01-01 .. 2001-08-01
EVENTS_START = np.datetime64("2024-01-01T00:00:00", "us")
EVENTS_SPAN_US = 30 * 86_400 * 1_000_000


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def events_table(seed: int, n: int, n_users: int) -> pa.Table:
    """``n`` events in January 2024, ``ts`` non-decreasing in ``event_id``."""
    rng = np.random.default_rng([seed, 8])
    offsets = np.sort(rng.integers(0, EVENTS_SPAN_US, n))
    return pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(EVENTS_START + offsets.astype("timedelta64[us]")),
            "user_id": pa.array(rng.integers(0, n_users, n, dtype=np.int64)),
            "event_type": pa.array(rng.choice(EVENT_TYPES, n)),
            "value": pa.array(np.maximum(np.round(rng.exponential(50.0, n), 2), 0.01)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
        }
    )


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        if i >= 10 and rng.random() < 0.06:
            # near-duplicate of an earlier document: a few word substitutions
            words = texts[int(rng.integers(0, i))].split(" ")
            for j in rng.integers(0, len(words), 1 + int(rng.integers(0, 3))):
                words[j] = WORDS[int(rng.integers(0, len(WORDS)))]
        else:
            words = list(rng.choice(WORDS, int(rng.integers(10, 100))))
        texts.append(" ".join(words))
    lang_p = np.array([0.8, 0.05, 0.05, 0.05, 0.05])
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array(rng.choice(LANGS, n, p=lang_p)),
            "source": pa.array([f"src{k}" for k in rng.integers(0, 20, n)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )


def generate(out_dir: str, seed: int, sf: float) -> None:
    """Write every table for ``(seed, sf)`` into ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    n_cust = max(int(150_000 * sf), 50)
    n_supp = max(int(10_000 * sf), 25)
    n_part = max(int(200_000 * sf), 50)
    n_ord = max(int(1_500_000 * sf), 100)
    n_events = max(int(1_000_000 * sf), 100)
    n_docs = max(int(50_000 * sf), 50)
    n_vecs = max(int(50_000 * sf), 50)

    tables: dict[str, pa.Table] = {}
    tables["region"] = pa.table(
        {
            "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": pa.array(REGIONS),
        }
    )
    tables["nation"] = pa.table(
        {
            "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
        }
    )
    tables["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust, dtype=np.int32)),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
            "c_mktsegment": pa.array(rng.choice(SEGMENTS, n_cust)),
        }
    )
    tables["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp, dtype=np.int32)),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
        }
    )
    retail = np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2)
    tables["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
            "p_name": pa.array(
                [f"{c} {w}" for c, w in zip(rng.choice(COLORS, n_part), rng.choice(NOUNS, n_part))]
            ),
            "p_brand": pa.array([f"Brand#{k}" for k in rng.integers(1, 26, n_part)]),
            "p_type": pa.array(rng.choice(PART_TYPES, n_part)),
            "p_size": pa.array(rng.integers(1, 51, n_part, dtype=np.int32)),
            "p_retailprice": pa.array(retail),
        }
    )
    order_day = EPOCH_DAY + rng.integers(0, ORDER_DAYS, n_ord).astype("timedelta64[D]")
    tables["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord, dtype=np.int64)),
            "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_ord)),
            "o_totalprice": pa.array(_money(rng, 1000.0, 500_000.0, n_ord)),
            "o_orderdate": pa.array(order_day.astype("datetime64[us]")),
            "o_orderpriority": pa.array(rng.choice(PRIORITIES, n_ord)),
        }
    )
    lines = rng.integers(1, 8, n_ord)
    l_order = np.repeat(np.arange(n_ord, dtype=np.int64), lines)
    n_line = len(l_order)
    l_part = rng.integers(0, n_part, n_line, dtype=np.int64)
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    ship = order_day[l_order] + rng.integers(1, 122, n_line).astype("timedelta64[D]")
    tables["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(l_order),
            "l_partkey": pa.array(l_part),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line, dtype=np.int64)),
            "l_linenumber": pa.array(
                (np.arange(n_line) - np.repeat(np.cumsum(lines) - lines, lines) + 1).astype(np.int32)
            ),
            "l_quantity": pa.array(qty),
            "l_extendedprice": pa.array(np.round(qty * retail[l_part], 2)),
            "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
            "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_line)),
            "l_linestatus": pa.array(rng.choice(["F", "O"], n_line)),
            "l_shipdate": pa.array(ship.astype("datetime64[us]")),
        }
    )
    tables["events"] = events_table(seed, n_events, max(int(15_000 * sf), 10))
    tables["documents"] = _documents(rng, n_docs)
    emb = rng.normal(0.0, 0.125, (n_vecs, 64)).astype(np.float32)
    tables["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)),
            "embedding": pa.array(list(emb), type=pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n_vecs, dtype=np.int32)),
        }
    )
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
