"""Star-schema corpus for the benchmark, written as one parquet file per table.

The tables have the names, column types and value domains of the
`sources.catalog.STAR_TABLES` corpus the package is tested against: TPC-H
dimensions with ``NATION_<i>`` nations and the five TPC-H regions, an
``events`` stream with JSON ``props``, a word-salad ``documents`` corpus in
which 5% of the documents are a copy of another one plus a trailing
`` dup`` token (the near-duplicates the dedup operators look for), and
unit-norm 64-dimensional ``embeddings`` clustered by label.

The corpus is a fixture: it is generated from a fixed seed, so every run and
every ``--seed`` reads the same data; the seed varies the traffic only.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 20240101

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_WORDS_A = ["large", "hot", "small", "blue", "steel", "polished", "brushed", "red"]
PART_WORDS_B = ["ring", "bolt", "gear", "pipe", "valve", "spring", "nut", "panel"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()


def _ts(days: np.ndarray, base: str) -> pa.Array:
    stamps = np.datetime64(base, "us") + (days * 86_400_000_000).astype("timedelta64[us]")
    return pa.array(stamps, type=pa.timestamp("us"))


def tables(sf: float = 0.1, seed: int = DATA_SEED) -> dict[str, pa.Table]:
    """Every star table at scale factor ``sf`` (sf 0.1 = 600k line items)."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_orders, n_events, n_docs, n_vecs = int(1_500_000 * sf), int(1_000_000 * sf), int(50_000 * sf), int(20_000 * sf)
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    out["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
    })
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    })
    a, b = rng.integers(0, len(PART_WORDS_A), n_part), rng.integers(0, len(PART_WORDS_B), n_part)
    out["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{PART_WORDS_A[i]} {PART_WORDS_B[j]}" for i, j in zip(a, b)],
        "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, n_part)],
        "p_type": np.array(PART_TYPES)[rng.integers(0, len(PART_TYPES), n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2),
    })

    order_days = rng.integers(0, 2404, n_orders)  # 1995-01-01 .. 2001-08-01
    out["orders"] = pa.table({
        "o_orderkey": np.arange(n_orders, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_orders).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_orders)],
        "o_totalprice": np.round(rng.uniform(1000, 500_000, n_orders), 2),
        "o_orderdate": _ts(order_days, "1995-01-01"),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_orders)],
    })

    lines_per_order = rng.integers(1, 8, n_orders)
    n_lines = int(lines_per_order.sum())
    l_order = np.repeat(np.arange(n_orders, dtype=np.int64), lines_per_order)
    starts = np.cumsum(lines_per_order) - lines_per_order
    l_number = (np.arange(n_lines) - np.repeat(starts, lines_per_order) + 1).astype(np.int32)
    quantity = rng.integers(1, 51, n_lines).astype(np.float64)
    out["lineitem"] = pa.table({
        "l_orderkey": l_order,
        "l_partkey": rng.integers(0, n_part, n_lines).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_lines).astype(np.int64),
        "l_linenumber": l_number,
        "l_quantity": quantity,
        "l_extendedprice": np.round(quantity * rng.uniform(900, 2100, n_lines), 2),
        "l_discount": rng.integers(0, 11, n_lines) / 100.0,
        "l_tax": rng.integers(0, 9, n_lines) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_lines)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_lines)],
        "l_shipdate": _ts(np.repeat(order_days, lines_per_order) + rng.integers(1, 122, n_lines), "1995-01-01"),
    })

    micros = np.sort(rng.integers(0, 30 * 86_400_000_000, n_events))
    out["events"] = pa.table({
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + micros.astype("timedelta64[us]"),
                       type=pa.timestamp("us")),
        "user_id": rng.integers(0, 1500, n_events).astype(np.int64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_events)],
        "value": np.round(rng.exponential(60.0, n_events), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
    })

    words = np.array(WORDS)
    texts = [" ".join(words[rng.integers(0, len(WORDS), k)]) for k in rng.integers(10, 101, n_docs)]
    for i in rng.choice(n_docs, n_docs // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, n_docs))] + " dup"
    out["documents"] = pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(len(LANGS), n_docs, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })

    labels = rng.integers(0, 10, n_vecs)
    centers = rng.normal(size=(10, 64))
    vecs = centers[labels] + rng.normal(scale=1.5, size=(n_vecs, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": labels.astype(np.int32),
    })
    return out


def write(directory: str, sf: float = 0.1) -> dict[str, int]:
    """Write every table to ``directory/<name>.parquet``; returns row counts."""
    os.makedirs(directory, exist_ok=True)
    counts = {}
    for name, table in tables(sf).items():
        pq.write_table(table, os.path.join(directory, f"{name}.parquet"))
        counts[name] = table.num_rows
    return counts
