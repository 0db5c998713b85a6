"""Deterministic generator for the benchmark's input tables.

Writes the ten fixture tables the engine reads (`sources/catalog.TABLES`)
as one parquet file each, with the same schemas as the TPC-H-ish fixtures
the test suite uses: a star schema (region, nation, customer, supplier,
part, orders, lineitem), an event stream, a document corpus and an
embedding table.  Sizes match scale factor 0.001 of those fixtures; every
value comes from one numpy generator seeded by `DATA_SEED`, so two calls
write byte-identical tables.

The tables are fixed for every benchmark seed: `--seed` picks the op order,
lookup keys and mutation batches, never the base data, so runs with
different seeds measure the same graph.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42

N_CUSTOMER = 150
N_SUPPLIER = 10
N_PART = 200
N_ORDERS = 1500
N_EVENTS = 1000
N_DOCS = 500
N_VECS = 500
VEC_DIM = 64

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.38, 0.14, 0.16, 0.16, 0.16]

_EPOCH = dt.datetime(1995, 1, 1)


def _days(rng: np.random.Generator, n: int, span: int) -> list[dt.datetime]:
    return [_EPOCH + dt.timedelta(days=int(d)) for d in rng.integers(0, span, n)]


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def tables() -> dict[str, pa.Table]:
    """All ten tables as Arrow tables (deterministic)."""
    rng = np.random.default_rng(DATA_SEED)
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
        "c_custkey": pa.array(range(N_CUSTOMER), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(N_CUSTOMER)],
        "c_nationkey": pa.array(rng.integers(0, 25, N_CUSTOMER), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, N_CUSTOMER),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, N_CUSTOMER)],
    })
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(range(N_SUPPLIER), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(N_SUPPLIER)],
        "s_nationkey": pa.array(rng.integers(0, 25, N_SUPPLIER), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, N_SUPPLIER),
    })
    retail = np.round(900.0 + np.arange(N_PART) * 0.1, 2)
    out["part"] = pa.table({
        "p_partkey": pa.array(range(N_PART), pa.int64()),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, N_PART), rng.integers(0, 8, N_PART))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, N_PART)],
        "p_type": [PART_TYPES[i] for i in rng.integers(0, 6, N_PART)],
        "p_size": pa.array(rng.integers(1, 51, N_PART), pa.int32()),
        "p_retailprice": retail,
    })
    out["orders"] = pa.table({
        "o_orderkey": pa.array(range(N_ORDERS), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, N_CUSTOMER, N_ORDERS), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, N_ORDERS)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, N_ORDERS),
        "o_orderdate": pa.array(_days(rng, N_ORDERS, 2400), pa.timestamp("us")),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, N_ORDERS)],
    })
    # 1..7 lines per order with linenumbers 1..n: (order, linenumber) is
    # unique, so every `contains` edge has a distinct identity
    lines = rng.integers(1, 8, N_ORDERS)
    okey = np.repeat(np.arange(N_ORDERS), lines)
    lnum = np.concatenate([np.arange(1, n + 1) for n in lines])
    n_li = len(okey)
    pkey = rng.integers(0, N_PART, n_li)
    qty = rng.integers(1, 51, n_li).astype(float)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(pkey, pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, N_SUPPLIER, n_li), pa.int64()),
        "l_linenumber": pa.array(lnum, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * retail[pkey], 2),
        "l_discount": np.round(rng.integers(0, 11, n_li) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) / 100.0, 2),
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_li)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n_li)],
        "l_shipdate": pa.array(_days(rng, n_li, 2500), pa.timestamp("us")),
    })
    gaps = rng.exponential(2600.0, N_EVENTS)
    ts0 = dt.datetime(2024, 1, 1)
    out["events"] = pa.table({
        "event_id": pa.array(range(N_EVENTS), pa.int64()),
        "ts": pa.array([ts0 + dt.timedelta(seconds=float(s))
                        for s in np.cumsum(gaps)], pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 15, N_EVENTS), pa.int64()),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, N_EVENTS)],
        "value": np.round(rng.exponential(50.0, N_EVENTS), 2),
        "props": [f'{{"k": {i}}}' for i in rng.integers(0, 100, N_EVENTS)],
    })
    # ~6% of documents are near-duplicates: an earlier text plus " dup"
    texts: list[str] = []
    for i in range(N_DOCS):
        if i >= 10 and rng.random() < 0.06:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            n = int(rng.integers(10, 100))
            texts.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), n)))
    out["documents"] = pa.table({
        "doc_id": pa.array(range(N_DOCS), pa.int64()),
        "text": texts,
        "lang": [LANGS[i] for i in rng.choice(5, N_DOCS, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(N_DOCS)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    vecs = rng.normal(size=(N_VECS, VEC_DIM)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(range(N_VECS), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, N_VECS), pa.int32()),
    })
    return out


def write(data_dir: str) -> dict[str, pa.Table]:
    """Write every table to `<data_dir>/<name>.parquet`; returns the tables
    (the graph_rw ledger is derived from them)."""
    os.makedirs(data_dir, exist_ok=True)
    tbls = tables()
    for name, t in tbls.items():
        pq.write_table(t, os.path.join(data_dir, f"{name}.parquet"))
    return tbls
