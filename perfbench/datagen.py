"""Seeded fixture generator: the ten catalog tables as parquet.

The engine's queries read ten parquet tables (catalog.TABLES) whose
schemas and value domains are pinned by the repository's fixtures
(FIXTURES.md). The benchmark runs in a bare checkout, so it writes its
own copy of those tables from a fixed data seed: the same columns and
types, the same value domains (TPC-H-style star schema with uniformly
random foreign keys, an ``events`` stream over January 2024, a
``documents`` corpus with 5% near-duplicates, 64-wide ``embeddings``),
scaled by ``sf``. Every file is a single row group, as the fixtures are.
"""

from __future__ import annotations

import datetime
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("en", "en", "de", "es", "fr", "zh", "en")
WORDS = (
    "a", "agg", "batch", "big", "column", "customer", "data", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order",
    "part", "query", "row", "scan", "slow", "small", "sort", "spark",
    "stream", "table", "the", "value", "vector", "window",
)

_EPOCH = datetime.datetime(1970, 1, 1)
_DAY_US = 86_400_000_000


def _days_since_epoch(d: datetime.datetime) -> int:
    return (d - _EPOCH).days


def _money(rng: np.random.Generator, lo: float, hi: float, n: int):
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts_from_days(days: np.ndarray) -> pa.Array:
    return pa.array(days.astype(np.int64) * _DAY_US, pa.timestamp("us"))


def generate_tables(sf: float, seed: int) -> dict[str, pa.Table]:
    """All ten tables for scale factor ``sf``; deterministic in seed."""
    rng = np.random.default_rng(seed)
    n_cust = int(150_000 * sf)
    n_supp = int(10_000 * sf)
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_line = int(6_000_000 * sf)
    n_evt = int(1_000_000 * sf)
    n_docs = int(50_000 * sf)
    n_vecs = int(20_000 * sf)
    t: dict[str, pa.Table] = {}

    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": list(REGIONS),
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    adj = np.array(PART_ADJ)[rng.integers(0, 8, n_part)]
    noun = np.array(PART_NOUN)[rng.integers(0, 8, n_part)]
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": np.char.add(np.char.add(adj, " "), noun),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 1),
    })
    d0 = _days_since_epoch(datetime.datetime(1995, 1, 1))
    d1 = _days_since_epoch(datetime.datetime(2001, 8, 1))
    order_days = rng.integers(d0, d1 + 1, n_ord)
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(("F", "O", "P"))[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _ts_from_days(order_days),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
    })
    l_order = rng.integers(0, n_ord, n_line)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(l_order, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(("A", "N", "R"))[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(("F", "O"))[rng.integers(0, 2, n_line)],
        "l_shipdate": _ts_from_days(
            order_days[l_order] + rng.integers(1, 96, n_line)),
    })
    e0 = _days_since_epoch(datetime.datetime(2024, 1, 1)) * _DAY_US
    ts = np.sort(rng.integers(e0, e0 + 30 * _DAY_US, n_evt))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_evt), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(1, int(15_000 * sf)), n_evt),
                            pa.int64()),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_evt)],
        "value": np.round(rng.exponential(60.0, n_evt), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)],
    })
    t["documents"] = _documents(rng, n_docs)
    vecs = rng.normal(0.0, 0.15, (n_vecs, 64)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vecs), pa.int32()),
    })
    return t


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Random word texts; 5% are an earlier text plus ' dup' (near
    duplicates for the LSH path) and 0.2% an exact earlier copy."""
    texts: list[str] = []
    words = np.array(WORDS)
    for i in range(n):
        roll = rng.random()
        if i > 0 and roll < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 0 and roll < 0.052:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            texts.append(" ".join(words[rng.integers(0, len(words),
                                                     rng.integers(10, 100))]))
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": np.array(LANGS)[rng.integers(0, len(LANGS), n)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(s) for s in texts], pa.int64()),
    })


def ensure_dataset(root: str, sf: float, seed: int) -> str:
    """Write the tables for ``sf`` under ``root`` once; return the dir.

    The directory appears atomically (written aside, then renamed), so
    an interrupted run never leaves a partial dataset behind.
    """
    final = os.path.join(root, f"sf{sf:g}-seed{seed}")
    if os.path.isdir(final):
        return final
    tmp = final + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, table in generate_tables(sf, seed).items():
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"),
                       row_group_size=max(1, table.num_rows))
    os.rename(tmp, final)
    return final
