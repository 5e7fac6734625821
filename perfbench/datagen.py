"""Seeded input tables for the benchmark.

Writes the ten tables the engine's catalog reads (``catalog.SCHEMAS``)
as one parquet file each, with the shapes and sizes of the engine's
smallest reference dataset (sf0.001): 150 customers, 1500 orders with
1-7 lines each, 1000 January-2024 events from 15 users, 500 documents
and 500 64-dimensional embeddings. The seed changes every value but no
size, so runs with different seeds do the same amount of work.

Documents include exact and one-token-edit duplicates, and embeddings
include near-duplicate vectors, so the dedup and similarity queries
find something on every seed.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
PTYPES = ["ECONOMY", "MEDIUM", "SMALL", "PROMO", "LARGE", "STANDARD"]
STATUSES = ["F", "P", "O"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
ETYPES = ["signup", "click", "purchase", "error", "view"]
LANGS = ["en", "en", "fr", "es", "zh", "de"]
VOCAB = (
    "the a fast slow key order sort table scan merge part window small big "
    "hash join batch stream spark dup group query row data filter customer "
    "line value column agg vector"
).split()

N_CUST, N_SUPP, N_PART, N_ORDERS = 150, 10, 200, 1500
N_EVENTS, N_USERS, N_DOCS, N_EMB, EMB_DIM = 1000, 15, 500, 500, 64
DAY_US = 86_400_000_000


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values, n):
    return [values[i] for i in rng.integers(0, len(values), n)]


def generate(seed: int, out: str) -> None:
    """Write every table for ``seed`` under ``out`` (created if missing)."""
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)

    def write(name: str, columns: dict) -> None:
        pq.write_table(pa.table(columns), os.path.join(out, f"{name}.parquet"))

    write("region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    write("nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    write("supplier", {
        "s_suppkey": pa.array(range(N_SUPP), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(N_SUPP)],
        "s_nationkey": pa.array(rng.integers(0, 25, N_SUPP), pa.int32()),
        "s_acctbal": _money(rng, N_SUPP, -999.0, 9999.0),
    })
    write("customer", {
        "c_custkey": pa.array(range(N_CUST), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(N_CUST)],
        "c_nationkey": pa.array(rng.integers(0, 25, N_CUST), pa.int32()),
        "c_acctbal": _money(rng, N_CUST, -999.0, 9999.0),
        "c_mktsegment": _pick(rng, SEGMENTS, N_CUST),
    })
    adjs = ["cold", "small", "large", "red", "dim", "hot"]
    nouns = ["widget", "bolt", "gear", "cog", "pin"]
    write("part", {
        "p_partkey": pa.array(range(N_PART), pa.int64()),
        "p_name": [f"{a} {b}" for a, b in zip(_pick(rng, adjs, N_PART), _pick(rng, nouns, N_PART))],
        "p_brand": [f"Brand#{1 + int(i)}" for i in rng.integers(0, 25, N_PART)],
        "p_type": _pick(rng, PTYPES, N_PART),
        "p_size": pa.array(rng.integers(1, 51, N_PART), pa.int32()),
        "p_retailprice": _money(rng, N_PART, 900.0, 2000.0),
    })

    base_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
    odate = base_1995 + rng.integers(0, 2400, N_ORDERS) * DAY_US
    write("orders", {
        "o_orderkey": pa.array(range(N_ORDERS), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, N_CUST, N_ORDERS), pa.int64()),
        "o_orderstatus": _pick(rng, STATUSES, N_ORDERS),
        "o_totalprice": _money(rng, N_ORDERS, 900.0, 300_000.0),
        "o_orderdate": pa.array(odate, pa.timestamp("us")),
        "o_orderpriority": _pick(rng, PRIORITIES, N_ORDERS),
    })
    lines = rng.integers(1, 8, N_ORDERS)
    l_order = np.repeat(np.arange(N_ORDERS), lines)
    n_li = len(l_order)
    write("lineitem", {
        "l_orderkey": pa.array(l_order, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, N_PART, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, N_SUPP, n_li), pa.int64()),
        "l_linenumber": pa.array(
            np.concatenate([np.arange(1, k + 1) for k in lines]), pa.int32()
        ),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, n_li, 900.0, 100_000.0),
        "l_discount": np.round(rng.integers(0, 11, n_li) * 0.01, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) * 0.01, 2),
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_li),
        "l_linestatus": _pick(rng, ["F", "O"], n_li),
        "l_shipdate": pa.array(
            odate[l_order] + rng.integers(1, 121, n_li) * DAY_US, pa.timestamp("us")
        ),
    })

    base_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)
    ets = np.sort(base_2024 + rng.integers(0, 30 * DAY_US, N_EVENTS))
    write("events", {
        "event_id": pa.array(range(N_EVENTS), pa.int64()),
        "ts": pa.array(ets, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, N_USERS, N_EVENTS), pa.int64()),
        "event_type": _pick(rng, ETYPES, N_EVENTS),
        "value": _money(rng, N_EVENTS, 0.01, 400.0),
        "props": [f'{{"k": {int(k)}}}' for k in rng.integers(0, 100, N_EVENTS)],
    })

    texts = [
        " ".join(_pick(rng, VOCAB, int(rng.integers(8, 80)))) for _ in range(N_DOCS)
    ]
    for i in range(0, 40, 2):  # exact duplicates
        texts[i + 1] = texts[i]
    for i in range(40, 80, 2):  # one-token edits
        toks = texts[i].split()
        toks[len(toks) // 2] = "edited"
        texts[i + 1] = " ".join(toks)
    write("documents", {
        "doc_id": pa.array(range(N_DOCS), pa.int64()),
        "text": texts,
        "lang": _pick(rng, LANGS, N_DOCS),
        "source": [f"src{int(s)}" for s in rng.integers(0, 20, N_DOCS)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })

    emb = rng.normal(0, 1, (N_EMB, EMB_DIM)).astype(np.float32)
    for i in range(100, 120):  # a tight near-duplicate cluster
        emb[i] = emb[99] + rng.normal(0, 1e-3, EMB_DIM).astype(np.float32)
    write("embeddings", {
        "vec_id": pa.array(range(N_EMB), pa.int64()),
        "embedding": pa.array([v.tolist() for v in emb], pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, N_EMB), pa.int32()),
    })
