"""Seeded fixture generator: the ten tables the catalog reads.

Same schemas, key spaces and value shapes as the engine's test
fixtures (TPC-H-like dims and facts, a clickstream, a small text corpus
with planted near-duplicates, unit-norm embeddings) at a third to a half
of the sf0.01 row counts, drawn from one NumPy generator so the same
seed always gives the same parquet bytes. Small on purpose: a run pays
a JVM start and a cold pass, and comparing two commits takes dozens
of runs.
"""

from __future__ import annotations

import os
from datetime import datetime

import numpy as np
import pandas as pd

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()

N_CUSTOMER = 1000
N_SUPPLIER = 100
N_PART = 1000
N_ORDERS = 7500
N_LINEITEM = 30000
N_EVENTS = 4000
N_USERS = 150
N_DOCS = 240
N_VECS = 500
EMBED_DIM = 64

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["red", "blue", "small", "large", "hot", "cold", "old", "new"]
PART_NOUN = ["ring", "widget", "bolt", "plate", "rod", "gear", "gizmo", "anvil"]
PART_TYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
LANGS = ["en"] * 3 + ["zh", "de", "fr", "es"]
WORDS = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()


def _days(rng, n, start: str, end: str) -> np.ndarray:
    lo = np.datetime64(start, "D")
    span = (np.datetime64(end, "D") - lo).astype(int)
    return (lo + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def make_tables(seed: int) -> dict[str, pd.DataFrame]:
    rng = np.random.default_rng(seed)
    t: dict[str, pd.DataFrame] = {}
    t["region"] = pd.DataFrame({
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pd.DataFrame({
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32),
    })
    t["customer"] = pd.DataFrame({
        "c_custkey": np.arange(N_CUSTOMER, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(N_CUSTOMER)],
        "c_nationkey": rng.integers(0, 25, N_CUSTOMER).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, N_CUSTOMER), 2),
        "c_mktsegment": rng.choice(SEGMENTS, N_CUSTOMER),
    })
    t["supplier"] = pd.DataFrame({
        "s_suppkey": np.arange(N_SUPPLIER, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(N_SUPPLIER)],
        "s_nationkey": rng.integers(0, 25, N_SUPPLIER).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, N_SUPPLIER), 2),
    })
    pk = np.arange(N_PART, dtype=np.int64)
    t["part"] = pd.DataFrame({
        "p_partkey": pk,
        "p_name": [
            f"{PART_ADJ[a]} {PART_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, N_PART), rng.integers(0, 8, N_PART))
        ],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, N_PART)],
        "p_type": rng.choice(PART_TYPES, N_PART),
        "p_size": rng.integers(1, 51, N_PART).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 2),
    })
    t["orders"] = pd.DataFrame({
        "o_orderkey": np.arange(N_ORDERS, dtype=np.int64),
        "o_custkey": rng.integers(0, N_CUSTOMER, N_ORDERS).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], N_ORDERS),
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, N_ORDERS), 2),
        "o_orderdate": _days(rng, N_ORDERS, "1995-01-01", "2001-08-01"),
        "o_orderpriority": rng.choice(PRIORITIES, N_ORDERS),
    })
    n = N_LINEITEM
    t["lineitem"] = pd.DataFrame({
        "l_orderkey": rng.integers(0, N_ORDERS, n).astype(np.int64),
        "l_partkey": rng.integers(0, N_PART, n).astype(np.int64),
        "l_suppkey": rng.integers(0, N_SUPPLIER, n).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, n), 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n),
        "l_linestatus": rng.choice(["F", "O"], n),
        "l_shipdate": _days(rng, n, "1995-01-02", "2001-11-04"),
    })
    t0 = np.datetime64(datetime(2024, 1, 1), "us")
    offs = np.sort(rng.integers(0, 30 * 86400 * 10**6, N_EVENTS))
    t["events"] = pd.DataFrame({
        "event_id": np.arange(N_EVENTS, dtype=np.int64),
        "ts": t0 + offs.astype("timedelta64[us]"),
        "user_id": rng.integers(0, N_USERS, N_EVENTS).astype(np.int64),
        "event_type": rng.choice(EVENT_TYPES, N_EVENTS),
        "value": np.round(rng.exponential(50.0, N_EVENTS) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)],
    })
    texts: list[str] = []
    for i in range(N_DOCS):
        if i > 0 and rng.random() < 0.05:
            # planted near-duplicate: an earlier document plus a marker
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            # most lengths pass the corpus quality gate (20-90 tokens,
            # >= 40% distinct); sources are round-robin, so each of the
            # 20 keeps survivors for any seed
            k = int(rng.integers(10, 80))
            texts.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), k)))
    t["documents"] = pd.DataFrame({
        "doc_id": np.arange(N_DOCS, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, N_DOCS),
        "source": [f"src{i % 20}" for i in range(N_DOCS)],
        "n_chars": np.array([len(s) for s in texts], dtype=np.int64),
    })
    v = rng.standard_normal((N_VECS, EMBED_DIM)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    t["embeddings"] = pd.DataFrame({
        "vec_id": np.arange(N_VECS, dtype=np.int64),
        "embedding": list(v),
        "label": rng.integers(0, 10, N_VECS).astype(np.int32),
    })
    return t


def write_fixture(seed: int, out_dir: str) -> str:
    """Write every table as ``<out_dir>/<table>.parquet`` (one file, one
    row group each) and return ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, df in make_tables(seed).items():
        df.to_parquet(os.path.join(out_dir, f"{name}.parquet"), index=False)
    return out_dir
