"""Fixed input tables for the ``query_mix`` workload.

A small star schema (lineitem, orders, customer, supplier, nation,
region), an ``events`` stream table and a ``documents`` corpus, with the
column names and types the registry queries read. The data does not
depend on the benchmark's seed (the seed only permutes query order), so
each query's result digest can be recorded once in ``digests.json``.

Sizes follow the sf0.01 scale (60k line items, 10k events, 500
documents): at this size a warm pass is dominated by the per-query
fixed costs the workload is meant to expose (DataFrame construction,
seam fills, Catalyst, job scheduling), and a cold set-up pass fits the
benchmark's time budget.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEED = 20240601
N_ORDERS, N_CUSTOMERS, N_SUPPLIERS, N_PARTS = 15_000, 1_500, 100, 2_000
N_EVENTS, N_USERS, N_DOCS = 10_000, 150, 500
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
WORDS = ("join hash row batch scan column customer filter small slow merge "
         "order vector line table data agg value key stream window a spark "
         "part group big sort query fast the").split()
LANGS = ("en", "en", "en", "en", "zh", "es", "de", "fr", "es")


def _ts(base: dt.datetime, seconds: np.ndarray) -> pa.Array:
    us = (seconds * 1_000_000).astype("int64")
    epoch = int((base - dt.datetime(1970, 1, 1)).total_seconds() * 1_000_000)
    return pa.array(us + epoch, type=pa.timestamp("us"))


def _money(rng, lo, hi, n) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def tables() -> dict[str, pa.Table]:
    rng = np.random.default_rng(SEED)
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                              "r_name": list(REGIONS)})
    out["nation"] = pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                              "n_name": [f"NATION_{i}" for i in range(25)],
                              "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    out["customer"] = pa.table({
        "c_custkey": np.arange(N_CUSTOMERS, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(N_CUSTOMERS)],
        "c_nationkey": pa.array(rng.integers(0, 25, N_CUSTOMERS), pa.int32()),
        "c_acctbal": _money(rng, -999, 9999, N_CUSTOMERS),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, N_CUSTOMERS)],
    })
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(N_SUPPLIERS, dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(N_SUPPLIERS)],
        "s_nationkey": pa.array(rng.integers(0, 25, N_SUPPLIERS), pa.int32()),
        "s_acctbal": _money(rng, -999, 9999, N_SUPPLIERS),
    })
    order_days = rng.integers(0, 2404, N_ORDERS)  # 1995-01-01 .. 2001-08
    out["orders"] = pa.table({
        "o_orderkey": np.arange(N_ORDERS, dtype="int64"),
        "o_custkey": rng.integers(0, N_CUSTOMERS, N_ORDERS),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, N_ORDERS)],
        "o_totalprice": _money(rng, 1000, 500000, N_ORDERS),
        "o_orderdate": _ts(dt.datetime(1995, 1, 1), order_days * 86400.0),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, N_ORDERS)],
    })
    lines = rng.integers(1, 8, N_ORDERS)
    okey = np.repeat(np.arange(N_ORDERS), lines)
    n = len(okey)
    lineno = np.concatenate([np.arange(1, k + 1) for k in lines]).astype("int32")
    ship = order_days[okey] + rng.integers(1, 122, n)
    qty = rng.integers(1, 51, n).astype("float64")
    out["lineitem"] = pa.table({
        "l_orderkey": okey.astype("int64"),
        "l_partkey": rng.integers(0, N_PARTS, n),
        "l_suppkey": rng.integers(0, N_SUPPLIERS, n),
        "l_linenumber": lineno,
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n), 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n)],
        "l_shipdate": _ts(dt.datetime(1995, 1, 1), ship * 86400.0),
    })
    ev_s = np.sort(rng.uniform(0, 30 * 86400, N_EVENTS))
    out["events"] = pa.table({
        "event_id": np.arange(N_EVENTS, dtype="int64"),
        "ts": _ts(dt.datetime(2024, 1, 1), ev_s),
        "user_id": rng.integers(0, N_USERS, N_EVENTS),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, N_EVENTS)],
        "value": np.round(rng.exponential(50, N_EVENTS) + 0.01, 2),
        "props": [f'{{"k": {i}}}' for i in rng.integers(0, 100, N_EVENTS)],
    })
    texts: list[str] = []
    for i in range(N_DOCS):
        if i >= 20 and rng.random() < 0.12:
            # near-duplicate of an earlier document: a few words swapped
            words = texts[int(rng.integers(0, i))].split()
            for j in rng.integers(0, len(words), max(1, len(words) // 12)):
                words[j] = WORDS[int(rng.integers(0, len(WORDS)))]
            words.append("dup")
        else:
            words = [WORDS[j] for j in rng.integers(0, len(WORDS), int(rng.integers(8, 90)))]
        texts.append(" ".join(words))
    out["documents"] = pa.table({
        "doc_id": np.arange(N_DOCS, dtype="int64"),
        "text": texts,
        "lang": [LANGS[i] for i in rng.integers(0, len(LANGS), N_DOCS)],
        "source": [f"src{i % 20}" for i in range(N_DOCS)],
        "n_chars": np.array([len(t) for t in texts], dtype="int64"),
    })
    return out


def write_tables(root: str) -> str:
    """Write the tables as ``<root>/querydata/<table>.parquet``; returns
    that directory."""
    out = os.path.join(root, "querydata")
    os.makedirs(out, exist_ok=True)
    for name, table in tables().items():
        pq.write_table(table, os.path.join(out, f"{name}.parquet"))
    return out
