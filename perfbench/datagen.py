"""Seeded synthetic source tables for the benchmark.

The benchmark reads and writes only inside its checkout, so it makes its
own inputs: the ten tables the program's sources layer knows
(``transformers_spark.sources.testdata.TABLES``), with the same column
names and types and the same date ranges as the TPC-H-ish test data the
repository is developed against. ``scale`` follows that data's
scale-factor convention: at ``scale=0.1`` there are 150k orders, ~600k
lineitems and 100k events. The same ``(seed, scale)`` gives the same
files, byte for byte.
"""

from __future__ import annotations

import os
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

__all__ = ["generate", "ORDERS_FIRST_DAY", "ORDERS_LAST_DAY", "EVENTS_FIRST_DAY", "EVENTS_DAYS"]

ORDERS_FIRST_DAY = datetime(1995, 1, 1)
ORDERS_LAST_DAY = datetime(2001, 8, 1)
EVENTS_FIRST_DAY = datetime(2024, 1, 1)
EVENTS_DAYS = 30

_WORDS = (
    "spark line column order small sort fast value scan a hash slow group batch agg "
    "filter query big key window row part table stream merge data vector customer "
    "join the"
).split()
_LANGS = ("en", "en", "en", "de", "es", "fr", "zh")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_EVENT_TYPES = ("view", "click", "purchase", "signup", "error")
_PART_ADJ = ("large", "hot", "blue", "small", "shiny", "cold", "red", "green")
_PART_NOUN = ("ring", "bolt", "gear", "pipe", "valve", "nut", "screw", "spring")
_PART_TYPES = ("LARGE", "ECONOMY", "SMALL", "STANDARD", "MEDIUM", "PROMO")


def _ts(days: np.ndarray, base: datetime, micros: np.ndarray | None = None) -> pa.Array:
    epoch_us = int((base - datetime(1970, 1, 1)) / timedelta(microseconds=1))
    values = epoch_us + days.astype(np.int64) * 86_400_000_000
    if micros is not None:
        values = values + micros
    return pa.array(values, type=pa.timestamp("us"))


def _write(out_dir: str, name: str, columns: dict[str, pa.Array]) -> None:
    pq.write_table(pa.table(columns), os.path.join(out_dir, f"{name}.parquet"))


def _text(rng: np.random.Generator, n_words: int) -> str:
    return " ".join(_WORDS[i] for i in rng.integers(0, len(_WORDS), n_words))


def generate(out_dir: str, seed: int, scale: float) -> dict[str, int]:
    """Write every table under ``out_dir``; returns row counts by table."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust = max(150, int(150_000 * scale))
    n_supp = max(10, int(10_000 * scale))
    n_part = max(200, int(200_000 * scale))
    n_orders = max(1_500, int(1_500_000 * scale))
    n_events = max(1_000, int(1_000_000 * scale))
    n_docs = max(50, int(50_000 * scale))
    n_vecs = max(100, int(20_000 * scale))
    order_days = (ORDERS_LAST_DAY - ORDERS_FIRST_DAY).days + 1

    _write(out_dir, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]),
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32)),
    })
    _write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(np.round(rng.uniform(-999, 9999, n_cust), 2)),
        "c_mktsegment": pa.array([_SEGMENTS[i] for i in rng.integers(0, 5, n_cust)]),
    })
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(np.round(rng.uniform(-999, 9999, n_supp), 2)),
    })
    _write(out_dir, "part", {
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": pa.array([
            f"{_PART_ADJ[a]} {_PART_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
        ]),
        "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, n_part)]),
        "p_type": pa.array([_PART_TYPES[i] for i in rng.integers(0, 6, n_part)]),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2)),
    })

    o_days = rng.integers(0, order_days, n_orders)
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(n_orders, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_orders).astype(np.int64)),
        "o_orderstatus": pa.array([("O", "F", "P")[i] for i in rng.integers(0, 3, n_orders)]),
        "o_totalprice": pa.array(np.round(rng.uniform(1_000, 400_000, n_orders), 2)),
        "o_orderdate": _ts(o_days, ORDERS_FIRST_DAY),
        "o_orderpriority": pa.array([_PRIORITIES[i] for i in rng.integers(0, 5, n_orders)]),
    })

    lines_per_order = rng.integers(1, 8, n_orders)
    l_order = np.repeat(np.arange(n_orders, dtype=np.int64), lines_per_order)
    n_lines = len(l_order)
    starts = np.cumsum(lines_per_order) - lines_per_order
    l_number = (np.arange(n_lines) - np.repeat(starts, lines_per_order) + 1).astype(np.int32)
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(l_order),
        "l_partkey": pa.array(rng.integers(0, n_part, n_lines).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_lines).astype(np.int64)),
        "l_linenumber": pa.array(l_number),
        "l_quantity": pa.array(rng.integers(1, 51, n_lines).astype(np.float64)),
        "l_extendedprice": pa.array(np.round(rng.uniform(900, 100_000, n_lines), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n_lines) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_lines) / 100.0),
        "l_returnflag": pa.array([("A", "N", "R")[i] for i in rng.integers(0, 3, n_lines)]),
        "l_linestatus": pa.array([("O", "F")[i] for i in rng.integers(0, 2, n_lines)]),
        "l_shipdate": _ts(o_days[l_order] + rng.integers(1, 122, n_lines), ORDERS_FIRST_DAY),
    })

    micros = np.sort(rng.integers(0, EVENTS_DAYS * 86_400_000_000, n_events))
    _write(out_dir, "events", {
        "event_id": pa.array(np.arange(n_events, dtype=np.int64)),
        "ts": _ts(np.zeros(n_events, dtype=np.int64), EVENTS_FIRST_DAY, micros),
        "user_id": pa.array(rng.integers(0, max(15, n_events // 66), n_events).astype(np.int64)),
        "event_type": pa.array([_EVENT_TYPES[i] for i in rng.integers(0, 5, n_events)]),
        "value": pa.array(np.round(rng.uniform(0, 200, n_events), 2)),
        "props": pa.array([f'{{"k": {i}}}' for i in rng.integers(0, 100, n_events)]),
    })

    # Documents: random word salads plus ~5% near-duplicates (one word
    # changed) and ~0.2% exact duplicates, so the dedup operators find pairs.
    texts = [_text(rng, int(n)) for n in rng.integers(12, 80, n_docs)]
    for i in range(n_docs):
        roll = rng.random()
        if i and roll < 0.05:
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = _WORDS[int(rng.integers(0, len(_WORDS)))]
            texts[i] = " ".join(words)
        elif i and roll < 0.052:
            texts[i] = texts[int(rng.integers(0, i))]
    _write(out_dir, "documents", {
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array([_LANGS[i] for i in rng.integers(0, len(_LANGS), n_docs)]),
        "source": pa.array([f"src{i}" for i in rng.integers(0, 20, n_docs)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })

    # Embeddings: 10 Gaussian clusters in 64 dimensions.
    labels = rng.integers(0, 10, n_vecs)
    centers = rng.normal(0, 0.15, (10, 64))
    vecs = (centers[labels] + rng.normal(0, 0.08, (n_vecs, 64))).astype(np.float32)
    _write(out_dir, "embeddings", {
        "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32)),
    })
    return {
        "region": 5, "nation": 25, "customer": n_cust, "supplier": n_supp,
        "part": n_part, "orders": n_orders, "lineitem": n_lines,
        "events": n_events, "documents": n_docs, "embeddings": n_vecs,
    }
