"""Synthetic input tables with the engine's table schemas.

The engine reads ten parquet tables (``schema.TABLE_NAMES``): a
TPC-H-like star schema, an ``events`` clickstream table, and the
``documents`` / ``embeddings`` LLM-data tables.  This module writes
them from numpy with the same column names, types and value domains,
at any scale factor (sf 0.1 → 600,000 lineitem rows), so the benchmark
never depends on data outside its checkout.

The base tables are a pure function of ``(sf, DATA_SEED)``; the
workload seed decides what the benchmark does with them (query order,
corpus splits, probe vectors, live events).
"""

from __future__ import annotations

import datetime as dt
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
# bumped whenever the generator's output changes, so a cached copy
# from an older generator is never reused
DATA_VERSION = 5

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["large", "hot", "blue", "old", "cold", "red", "small", "green"]
PART_NOUN = ["ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "nut"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "es", "fr", "zh", "de"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
VOCAB = (
    "query row stream the part column order scan a slow agg key window table "
    "merge vector join spark line small fast group customer batch sort value "
    "hash filter big data"
).split()
EMBED_DIM = 64
EVENTS_START = dt.datetime(2024, 1, 1)
EVENTS_SPAN_S = 30 * 86400
ORDER_START = dt.datetime(1995, 1, 1)
ORDER_DAYS = (dt.datetime(2001, 8, 1) - ORDER_START).days


def _days(start: dt.datetime, offsets: np.ndarray) -> np.ndarray:
    return np.datetime64(start, "us") + offsets.astype("timedelta64[D]").astype("timedelta64[us]")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(values: np.ndarray) -> pa.Array:
    return pa.array(values.astype("datetime64[us]"), type=pa.timestamp("us"))


def event_rows(rng: np.random.Generator, n: int, n_users: int, first_id: int, t0_us: int, t1_us: int) -> pa.Table:
    """``n`` events with ids ``first_id..`` and sorted timestamps drawn
    uniformly in [t0_us, t1_us) (microseconds since the epoch)."""
    ts = np.sort(rng.integers(t0_us, t1_us, n)).astype("datetime64[us]")
    return pa.table(
        {
            "event_id": pa.array(np.arange(first_id, first_id + n, dtype=np.int64)),
            "ts": _ts(ts),
            "user_id": pa.array(rng.integers(0, n_users, n, dtype=np.int64)),
            "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, len(EVENT_TYPES), n)]),
            "value": pa.array(np.minimum(np.round(rng.exponential(50.0, n), 2), 560.21)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
        }
    )


def build_tables(sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng([DATA_SEED, int(sf * 1_000_000)])
    n_cust = max(int(150_000 * sf), 50)
    n_supp = max(int(10_000 * sf), 10)
    n_part = max(int(200_000 * sf), 64)
    n_ord = max(int(1_500_000 * sf), 200)
    n_line = 4 * n_ord
    n_ev = max(int(1_000_000 * sf), 500)
    n_users = max(int(15_000 * sf), 20)
    n_docs = max(int(50_000 * sf), 100)
    n_vec = max(int(20_000 * sf), 100)
    t = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
            "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
        }
    )
    names = np.array([f"{a} {b}" for a in PART_ADJ for b in PART_NOUN])
    pkeys = np.arange(n_part, dtype=np.int64)
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(pkeys),
            "p_name": pa.array(names[rng.integers(0, len(names), n_part)]),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
            "p_type": pa.array(np.array(PART_TYPES)[rng.integers(0, 6, n_part)]),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": pa.array(np.round(900.0 + (pkeys % 1000) / 10.0, 2)),
        }
    )
    odays = rng.integers(0, ORDER_DAYS + 1, n_ord)
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord, dtype=np.int64)),
            "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)]),
            "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, n_ord)),
            "o_orderdate": _ts(_days(ORDER_START, odays)),
            "o_orderpriority": pa.array(np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]),
        }
    )
    lkeys = rng.integers(0, n_ord, n_line, dtype=np.int64)
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(lkeys),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line, dtype=np.int64)),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line, dtype=np.int64)),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
            "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64)),
            "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, n_line)),
            "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
            "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)]),
            "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n_line)]),
            "l_shipdate": _ts(_days(ORDER_START, odays[lkeys] + rng.integers(1, 96, n_line))),
        }
    )
    t0 = int(np.datetime64(EVENTS_START, "us").astype(np.int64))
    t["events"] = event_rows(rng, n_ev, n_users, 0, t0, t0 + EVENTS_SPAN_S * 1_000_000)
    texts: list[str] = []
    for i in range(n_docs):
        if i > 0 and rng.random() < 0.05:
            # a near-duplicate: an earlier document plus one marker word
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = np.array(VOCAB)[rng.integers(0, len(VOCAB), int(rng.integers(10, 101)))]
            texts.append(" ".join(words))
    t["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
            "text": texts,
            "lang": pa.array(np.array(LANGS)[rng.choice(5, n_docs, p=LANG_P)]),
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": pa.array(np.array([len(x) for x in texts], dtype=np.int64)),
        }
    )
    # groups of ~20 near-duplicate vectors (cosine ~0.94 within a group,
    # ~0 across), so a vector's ten nearest neighbours are its group —
    # the structure real embedding corpora have and ANN indexes exploit;
    # a group's label is its id mod 10
    n_groups = max(n_vec // 20, 1)
    group = rng.integers(0, n_groups, n_vec)
    centers = rng.standard_normal((n_groups, EMBED_DIM))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    vecs = centers[group] + 0.25 * rng.standard_normal((n_vec, EMBED_DIM)) / np.sqrt(EMBED_DIM)
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    labels = group % 10
    t["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n_vec, dtype=np.int64)),
            "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )
    return t


def ensure_tables(root: str, sf: float) -> str:
    """Directory holding ``<table>.parquet`` for every table at ``sf``.
    Written once per checkout and reused: the marker file is written
    last, so a run killed mid-write regenerates instead of reading a
    partial directory."""
    out = os.path.join(root, f"data_v{DATA_VERSION}_sf{sf:g}")
    marker = os.path.join(out, "_COMPLETE")
    if os.path.exists(marker):
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    for name, table in build_tables(sf).items():
        pq.write_table(table, os.path.join(out, f"{name}.parquet"))
    with open(marker, "w") as fh:
        json.dump({"sf": sf, "seed": DATA_SEED, "version": DATA_VERSION}, fh)
    return out
