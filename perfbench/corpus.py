"""Seeded source tables for the benchmark.

Writes the ten tables `graft.Corpus.registerSources` reads, with the
schemas of the project's test data. Only `documents`, `events`, `orders`
and `customer` feed the index rules; the other six are a few rows each,
present so that `registerSources` finds every table it registers.
The same seed always gives byte-identical tables.
"""
import os
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# The word list of the project's test data documents (30 words, near-uniform).
DOC_WORDS = [
    "spark", "window", "merge", "table", "column", "vector", "stream", "value",
    "data", "small", "join", "filter", "big", "group", "hash", "customer",
    "sort", "order", "slow", "line", "part", "fast", "row", "the", "agg",
    "key", "query", "a", "scan", "batch",
]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
ORDER_STATUS = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]

EVENTS_START = datetime(2024, 1, 1)
EVENT_DAYS = 30
ORDERS_START = datetime(1995, 1, 1)
ORDER_DAYS = 2404  # through 2001-08-01

# (documents, events, orders, customers) per corpus size
SIZES = {
    # the index corpus of the build and serve workloads: 25,500 index rows
    "index": (500, 10_000, 15_000, 1_500),
    # the dedup corpus: documents only matter to the x_dedup_* queries
    "dedup": (500, 100, 100, 20),
}


def _documents(rng, n):
    texts = []
    for i in range(n):
        r = rng.random()
        if i >= 20 and r < 0.04:
            # exact copy of an earlier document
            texts.append(texts[int(rng.integers(0, i))])
        elif i >= 20 and r < 0.09:
            # near-duplicate: a few words swapped, tagged like the test data
            words = texts[int(rng.integers(0, i))].split(" ")
            for _ in range(max(1, len(words) // 20)):
                words[int(rng.integers(0, len(words)))] = DOC_WORDS[int(rng.integers(0, 30))]
            texts.append(" ".join(words) + " dup")
        elif i >= 20 and r < 0.12:
            # container: an earlier document plus extra words
            extra = rng.integers(0, 30, int(rng.integers(10, 30)))
            texts.append(texts[int(rng.integers(0, i))] + " " +
                         " ".join(DOC_WORDS[j] for j in extra))
        else:
            words = rng.integers(0, 30, int(rng.integers(10, 101)))
            texts.append(" ".join(DOC_WORDS[j] for j in words))
    return pa.table({
        "doc_id": pa.array(range(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([LANGS[j] for j in rng.integers(0, len(LANGS), n)], pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _events(rng, n):
    micros = np.sort(rng.integers(0, EVENT_DAYS * 86_400_000_000, n))
    return pa.table({
        "event_id": pa.array(range(n), pa.int64()),
        "ts": pa.array([EVENTS_START + timedelta(microseconds=int(u)) for u in micros],
                       pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(1, n // 8), n), pa.int64()),
        "event_type": pa.array([EVENT_TYPES[j] for j in rng.integers(0, 5, n)], pa.string()),
        "value": pa.array(np.round(rng.exponential(40.0, n), 2), pa.float64()),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)], pa.string()),
    })


def _orders(rng, n, n_customers):
    days = rng.integers(0, ORDER_DAYS, n)
    return pa.table({
        "o_orderkey": pa.array(range(n), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_customers, n), pa.int64()),
        "o_orderstatus": pa.array([ORDER_STATUS[j] for j in rng.integers(0, 3, n)], pa.string()),
        "o_totalprice": pa.array(np.round(rng.uniform(1000.0, 500000.0, n), 2), pa.float64()),
        "o_orderdate": pa.array([ORDERS_START + timedelta(days=int(d)) for d in days],
                                pa.timestamp("us")),
        "o_orderpriority": pa.array([PRIORITIES[j] for j in rng.integers(0, 5, n)], pa.string()),
    })


def _customers(rng, n):
    return pa.table({
        "c_custkey": pa.array(range(n), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n)], pa.string()),
        "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n), 2), pa.float64()),
        "c_mktsegment": pa.array([SEGMENTS[j] for j in rng.integers(0, 5, n)], pa.string()),
    })


def _stubs(rng):
    n = 10
    day = datetime(1996, 1, 1)
    return {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]),
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": pa.array([f"NATION{i}" for i in range(25)]),
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(range(n), pa.int64()),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n)]),
            "s_nationkey": pa.array([i % 25 for i in range(n)], pa.int32()),
            "s_acctbal": pa.array([100.0 * i for i in range(n)], pa.float64()),
        }),
        "part": pa.table({
            "p_partkey": pa.array(range(n), pa.int64()),
            "p_name": pa.array([f"part {i}" for i in range(n)]),
            "p_brand": pa.array([f"Brand#{i % 5}" for i in range(n)]),
            "p_type": pa.array(["STANDARD"] * n),
            "p_size": pa.array([i + 1 for i in range(n)], pa.int32()),
            "p_retailprice": pa.array([900.0 + i for i in range(n)], pa.float64()),
        }),
        "lineitem": pa.table({
            "l_orderkey": pa.array(range(n), pa.int64()),
            "l_partkey": pa.array(range(n), pa.int64()),
            "l_suppkey": pa.array(range(n), pa.int64()),
            "l_linenumber": pa.array([1] * n, pa.int32()),
            "l_quantity": pa.array([float(i + 1) for i in range(n)], pa.float64()),
            "l_extendedprice": pa.array([1000.0 + i for i in range(n)], pa.float64()),
            "l_discount": pa.array([0.05] * n, pa.float64()),
            "l_tax": pa.array([0.01] * n, pa.float64()),
            "l_returnflag": pa.array(["N"] * n),
            "l_linestatus": pa.array(["O"] * n),
            "l_shipdate": pa.array([day + timedelta(days=i) for i in range(n)], pa.timestamp("us")),
        }),
        "embeddings": pa.table({
            "vec_id": pa.array(range(n), pa.int64()),
            "embedding": pa.array(
                [rng.normal(0.0, 0.1, 64).astype(np.float32).tolist() for _ in range(n)],
                pa.list_(pa.float32())),
            "label": pa.array([i % 10 for i in range(n)], pa.int32()),
        }),
    }


def write(out_dir, seed, size):
    """Write the ten tables of corpus `size` for `seed` into `out_dir`."""
    n_docs, n_events, n_orders, n_customers = SIZES[size]
    rng = np.random.default_rng(seed)
    tables = {
        "documents": _documents(rng, n_docs),
        "events": _events(rng, n_events),
        "orders": _orders(rng, n_orders, n_customers),
        "customer": _customers(rng, n_customers),
    }
    tables.update(_stubs(rng))
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
