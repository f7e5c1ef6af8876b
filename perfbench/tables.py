"""Seeded generator for the ten driver tables the registry queries read.

The tables have the schema and value distributions of the driver's
synthetic star schema (TESTDATA.md): TPC-H-ish dimensions and facts, an
``events`` stream, a word-bag ``documents`` corpus with planted near
duplicates, and unit-norm ``embeddings`` clustered by label. Row counts
scale linearly with ``sf`` (``lineitem`` has 6M x sf rows); ``documents``
and ``embeddings`` keep a floor of 500 rows, as the driver's data does.

The same (seed, sf) always writes the same files.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_ADJ = ("blue", "old", "small", "new", "hot", "large", "cold", "red")
PART_NOUN = ("ring", "gear", "widget", "gizmo", "bolt", "plate", "anvil", "rod")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ("en", "en", "en", "en", "de", "es", "fr", "zh")

_DAY_US = 86_400_000_000


def _days_us(start: str, n_days: int, rng: np.random.Generator, size: int) -> np.ndarray:
    base = np.datetime64(start, "us").astype(np.int64)
    return base + rng.integers(0, n_days, size) * _DAY_US


def _ts(values_us: np.ndarray) -> pa.Array:
    return pa.array(values_us, pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, size: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, size), 2)


def _documents(rng: np.random.Generator, n: int) -> dict:
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            # near duplicate of an earlier document: one word appended or dropped
            words = texts[int(rng.integers(0, i))].split(" ")
            words = words + ["dup"] if rng.random() < 0.5 else words[:-1]
        else:
            words = [WORDS[j] for j in rng.integers(0, len(WORDS), int(rng.integers(10, 100)))]
        texts.append(" ".join(words))
    return {
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([LANGS[j] for j in rng.integers(0, len(LANGS), n)], pa.string()),
        "source": pa.array([f"src{j}" for j in rng.integers(0, 20, n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> dict:
    labels = rng.integers(0, 10, n)
    centroids = rng.normal(0.0, 1.0, (10, dim))
    vecs = centroids[labels] + rng.normal(0.0, 1.5, (n, dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return {
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    }


def generate_tables(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write ``<out_dir>/<table>.parquet`` for every driver table; return
    the row count of each."""
    rng = np.random.default_rng(seed)
    n_cust = int(150_000 * sf)
    n_supp = max(int(10_000 * sf), 10)
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_line = int(6_000_000 * sf)
    n_evt = int(1_000_000 * sf)
    n_users = max(int(15_000 * sf), 15)
    n_docs = max(int(50_000 * sf), 500)
    n_vecs = max(int(20_000 * sf), 500)

    evt_ts = np.sort(
        np.datetime64("2024-01-01", "us").astype(np.int64)
        + rng.choice(30 * _DAY_US, n_evt, replace=False)
    )
    tables = {
        "region": {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": pa.array(REGIONS, pa.string()),
        },
        "nation": {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        },
        "customer": {
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)], pa.string()),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust), pa.float64()),
            "c_mktsegment": pa.array(
                [SEGMENTS[j] for j in rng.integers(0, 5, n_cust)], pa.string()
            ),
        },
        "supplier": {
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)], pa.string()),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp), pa.float64()),
        },
        "part": {
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": pa.array(
                [
                    f"{PART_ADJ[a]} {PART_NOUN[b]}"
                    for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
                ],
                pa.string(),
            ),
            "p_brand": pa.array([f"Brand#{j}" for j in rng.integers(1, 26, n_part)], pa.string()),
            "p_type": pa.array([PART_TYPES[j] for j in rng.integers(0, 6, n_part)], pa.string()),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": pa.array(
                np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 1), pa.float64()
            ),
        },
        "orders": {
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": pa.array([("F", "O", "P")[j] for j in rng.integers(0, 3, n_ord)], pa.string()),
            "o_totalprice": pa.array(_money(rng, 1000.0, 500_000.0, n_ord), pa.float64()),
            "o_orderdate": _ts(_days_us("1995-01-01", 2404, rng, n_ord)),
            "o_orderpriority": pa.array(
                [PRIORITIES[j] for j in rng.integers(0, 5, n_ord)], pa.string()
            ),
        },
        "lineitem": {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
            "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64), pa.float64()),
            "l_extendedprice": pa.array(_money(rng, 900.0, 105_000.0, n_line), pa.float64()),
            "l_discount": pa.array(np.round(rng.uniform(0.0, 0.1, n_line), 2), pa.float64()),
            "l_tax": pa.array(np.round(rng.uniform(0.0, 0.08, n_line), 2), pa.float64()),
            "l_returnflag": pa.array([("A", "N", "R")[j] for j in rng.integers(0, 3, n_line)], pa.string()),
            "l_linestatus": pa.array([("F", "O")[j] for j in rng.integers(0, 2, n_line)], pa.string()),
            "l_shipdate": _ts(_days_us("1995-01-02", 2498, rng, n_line)),
        },
        "events": {
            "event_id": pa.array(np.arange(n_evt), pa.int64()),
            "ts": _ts(evt_ts),
            "user_id": pa.array(rng.integers(0, n_users, n_evt), pa.int64()),
            "event_type": pa.array(
                [EVENT_TYPES[j] for j in rng.integers(0, 5, n_evt)], pa.string()
            ),
            "value": pa.array(np.maximum(np.round(rng.exponential(50.0, n_evt), 2), 0.01), pa.float64()),
            "props": pa.array([f'{{"k": {j}}}' for j in rng.integers(0, 100, n_evt)], pa.string()),
        },
        "documents": _documents(rng, n_docs),
        "embeddings": _embeddings(rng, n_vecs),
    }
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, cols in tables.items():
        table = pa.table(cols)
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = table.num_rows
    return counts
