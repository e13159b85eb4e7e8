"""Seeded generator for the batch workloads' parquet tables.

Writes the ten tables the engine's ``sources.tables.TABLE_NAMES``
expects, with the same column names and physical types as the
engine's test data, at a scale of ``sf`` (lineitem has about
``6_000_000 * sf`` rows). Documents are word bags over a small
vocabulary and embeddings are random 64-d vectors: no query the
benchmark times reads them, but the engine's loaders expect every
table.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table value vector window index cache"
).split()
LANGS = ("en", "en", "en", "de", "es", "fr", "zh")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PART_WORDS = ("red", "blue", "hot", "old", "small", "large")
PART_NOUNS = ("plate", "widget", "ring", "bolt", "rod")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")

DAY_US = 86_400_000_000


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.timestamp("us"))


def _days(rng, start: str, n_days: int, n: int) -> pa.Array:
    base = np.datetime64(start, "us").astype("int64")
    return _ts(base + rng.integers(0, n_days, n) * DAY_US)


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _texts(rng, n: int) -> list[str]:
    return [
        " ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), int(rng.integers(8, 90))))
        for _ in range(n)
    ]


def generate(out_dir: str, seed: int, sf: float) -> None:
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust = int(150_000 * sf)
    n_supp = int(10_000 * sf)
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_events = int(1_000_000 * sf)
    n_docs = 500
    n_vecs = 500

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": list(REGIONS),
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    _write(out_dir, "customer", {
        "c_custkey": np.arange(n_cust, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype("int32"),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)],
    })
    _write(out_dir, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype("int32"),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    })
    _write(out_dir, "part", {
        "p_partkey": np.arange(n_part, dtype="int64"),
        "p_name": [
            f"{PART_WORDS[a]} {PART_NOUNS[b]}"
            for a, b in zip(rng.integers(0, 6, n_part), rng.integers(0, 5, n_part))
        ],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": [PART_TYPES[i] for i in rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype("int32"),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2),
    })
    _write(out_dir, "orders", {
        "o_orderkey": np.arange(n_ord, dtype="int64"),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype("int64"),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": _days(rng, "1995-01-01", 2404, n_ord),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n_ord)],
    })
    lines_per = rng.integers(1, 8, n_ord)
    n_li = int(lines_per.sum())
    qty = rng.integers(1, 51, n_li).astype("float64")
    _write(out_dir, "lineitem", {
        "l_orderkey": np.repeat(np.arange(n_ord, dtype="int64"), lines_per),
        "l_partkey": rng.integers(0, n_part, n_li).astype("int64"),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype("int64"),
        "l_linenumber": np.concatenate([np.arange(1, k + 1) for k in lines_per]).astype("int32"),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_li)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n_li)],
        "l_shipdate": _days(rng, "1992-01-01", 3650, n_li),
    })
    # events: 30 days, strictly increasing microsecond timestamps
    gaps = rng.integers(1, int(2 * 30 * DAY_US / n_events), n_events)
    ev_ts = np.datetime64("2024-01-01", "us").astype("int64") + np.cumsum(gaps)
    _write(out_dir, "events", {
        "event_id": np.arange(n_events, dtype="int64"),
        "ts": _ts(ev_ts),
        "user_id": rng.integers(0, n_cust, n_events).astype("int64"),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n_events)],
        "value": np.round(rng.exponential(50.0, n_events), 2),
        "props": [f'{{"k": {i}}}' for i in rng.integers(0, 100, n_events)],
    })
    texts = _texts(rng, n_docs)
    _write(out_dir, "documents", {
        "doc_id": np.arange(n_docs, dtype="int64"),
        "text": texts,
        "lang": [LANGS[i] for i in rng.integers(0, len(LANGS), n_docs)],
        "source": [f"src{i}" for i in rng.integers(0, 20, n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype="int64"),
    })
    labels = rng.integers(0, 10, n_vecs)
    vecs = rng.normal(0.0, 0.15, (n_vecs, 64))
    _write(out_dir, "embeddings", {
        "vec_id": np.arange(n_vecs, dtype="int64"),
        "embedding": pa.array(list(vecs.astype("float32")), pa.list_(pa.float32())),
        "label": labels.astype("int32"),
    })
