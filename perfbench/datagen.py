"""Seeded generator for the batch tables the query registry reads.

The tables have the schemas of the registry's test data (a TPC-H-like
star schema plus ``events``, ``documents`` and ``embeddings``), one
parquet file per table with a single row group, like the test data.
Sizes are set by ``SIZES``; the contents follow the same value ranges
(uniform keys, 30-day event span, a 31-word document vocabulary with
planted near-duplicates, label-clustered unit embeddings), drawn
from one fixed ``SEED``.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Table row counts: the test data's scale factor 0.01, with twice its
#: document corpus so the per-row text lanes do measurable work.
SIZES = {
    "customer": 1_500,
    "supplier": 100,
    "part": 2_000,
    "orders": 15_000,
    "lineitem": 60_000,
    "events": 10_000,
    "documents": 1_000,
    "embeddings": 500,
}

SEED = 42
EMBEDDING_DIM = 64
EMBEDDING_LABELS = 10

WORDS = (
    "a batch big column customer data fast filter group hash index join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window agg"
).split()
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
EPOCH_US = {  # day 0 of each date range, in microseconds since 1970
    "1995-01-01": 788_918_400_000_000,
    "2024-01-01": 1_704_067_200_000_000,
}
DAY_US = 86_400_000_000


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.timestamp("us"))


def _money(rng, lo, hi, n) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _keyed_names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def _documents(rng, n: int) -> dict:
    lengths = rng.integers(10, 101, n)
    texts: list[str] = []
    for i in range(n):
        roll = rng.random()
        if i > 10 and roll < 0.01:  # exact duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, i))])
        elif i > 10 and roll < 0.12:  # near duplicate: one or two words swapped
            words = texts[int(rng.integers(0, i))].split(" ")
            for _ in range(int(rng.integers(1, 3))):
                words[int(rng.integers(0, len(words)))] = WORDS[int(rng.integers(0, len(WORDS)))]
            texts.append(" ".join(words))
        else:
            texts.append(" ".join(rng.choice(WORDS, lengths[i])))
    langs = rng.choice(["en", "de", "es", "fr", "zh"], n, p=[0.4, 0.15, 0.15, 0.15, 0.15])
    return {
        "doc_id": np.arange(n, dtype="int64"),
        "text": texts,
        "lang": langs,
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype="int64"),
    }


def _embeddings(rng, n: int) -> dict:
    centroids = rng.normal(0.0, 1.0, (EMBEDDING_LABELS, EMBEDDING_DIM))
    label = rng.integers(0, EMBEDDING_LABELS, n)
    vecs = centroids[label] + rng.normal(0.0, 1.2, (n, EMBEDDING_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return {
        "vec_id": np.arange(n, dtype="int64"),
        "embedding": pa.array(list(vecs.astype("float32")), type=pa.list_(pa.float32())),
        "label": label.astype("int32"),
    }


def tables() -> dict[str, pa.Table]:
    """Build every table in memory; every call gives the same bytes."""
    rng = np.random.default_rng(SEED)
    n = SIZES
    adjectives = "blue cold hot large new old red small".split()
    nouns = "anvil bolt gear gizmo plate ring rod widget".split()
    out = {
        "region": {
            "r_regionkey": np.arange(5, dtype="int32"),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        },
        "nation": {
            "n_nationkey": np.arange(25, dtype="int32"),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype("int32"),
        },
        "customer": {
            "c_custkey": np.arange(n["customer"], dtype="int64"),
            "c_name": _keyed_names("Customer", n["customer"]),
            "c_nationkey": rng.integers(0, 25, n["customer"]).astype("int32"),
            "c_acctbal": _money(rng, -999.99, 9999.99, n["customer"]),
            "c_mktsegment": rng.choice(
                ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"],
                n["customer"],
            ),
        },
        "supplier": {
            "s_suppkey": np.arange(n["supplier"], dtype="int64"),
            "s_name": _keyed_names("Supplier", n["supplier"]),
            "s_nationkey": rng.integers(0, 25, n["supplier"]).astype("int32"),
            "s_acctbal": _money(rng, -999.99, 9999.99, n["supplier"]),
        },
        "part": {
            "p_partkey": np.arange(n["part"], dtype="int64"),
            "p_name": [
                f"{adjectives[a]} {nouns[b]}"
                for a, b in zip(rng.integers(0, 8, n["part"]), rng.integers(0, 8, n["part"]))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n["part"])],
            "p_type": rng.choice(
                ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n["part"]
            ),
            "p_size": rng.integers(1, 51, n["part"]).astype("int32"),
            "p_retailprice": np.round(900 + (np.arange(n["part"]) % 1000) / 10, 1),
        },
        "orders": {
            "o_orderkey": np.arange(n["orders"], dtype="int64"),
            "o_custkey": rng.integers(0, n["customer"], n["orders"]),
            "o_orderstatus": rng.choice(["F", "O", "P"], n["orders"]),
            "o_totalprice": _money(rng, 1000, 500000, n["orders"]),
            "o_orderdate": _ts(
                EPOCH_US["1995-01-01"] + rng.integers(0, 2404, n["orders"]) * DAY_US
            ),
            "o_orderpriority": rng.choice(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
                n["orders"],
            ),
        },
        "lineitem": {
            "l_orderkey": rng.integers(0, n["orders"], n["lineitem"]),
            "l_partkey": rng.integers(0, n["part"], n["lineitem"]),
            "l_suppkey": rng.integers(0, n["supplier"], n["lineitem"]),
            "l_linenumber": rng.integers(1, 8, n["lineitem"]).astype("int32"),
            "l_quantity": rng.integers(1, 51, n["lineitem"]).astype("float64"),
            "l_extendedprice": _money(rng, 900, 105000, n["lineitem"]),
            "l_discount": rng.integers(0, 11, n["lineitem"]) / 100,
            "l_tax": rng.integers(0, 9, n["lineitem"]) / 100,
            "l_returnflag": rng.choice(["A", "N", "R"], n["lineitem"]),
            "l_linestatus": rng.choice(["F", "O"], n["lineitem"]),
            "l_shipdate": _ts(
                EPOCH_US["1995-01-01"] + rng.integers(1, 2499, n["lineitem"]) * DAY_US
            ),
        },
        "events": {
            "event_id": np.arange(n["events"], dtype="int64"),
            "ts": _ts(
                EPOCH_US["2024-01-01"]
                + np.sort(rng.integers(0, 30 * DAY_US, n["events"]))
            ),
            "user_id": rng.integers(0, 1500, n["events"]),
            "event_type": rng.choice(EVENT_TYPES, n["events"]),
            "value": np.round(rng.exponential(50.0, n["events"]), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n["events"])],
        },
        "documents": _documents(rng, n["documents"]),
        "embeddings": _embeddings(rng, n["embeddings"]),
    }
    return {name: pa.table(cols) for name, cols in out.items()}


def write_tables(out_dir: str) -> None:
    """Write ``<table>.parquet`` files into ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables().items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
