"""The benchmark's workloads: which query classes run, at which scale,
with how many clients, and the seeded order they arrive in.

Every workload is a closed loop: each client submits its next query
only after the previous one returned its last row. A run is a fixed
number of rounds; one round holds every class of the workload exactly
once, in an order drawn from the seed, so each run measures the same
work and the seed decides only the order the engine sees.
"""

from __future__ import annotations

import os
import random
from collections.abc import Callable
from dataclasses import dataclass

ORDERS_PROJECTION_SQL = """
SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
       CAST(o_orderdate AS DATE) AS o_date, o_orderpriority
FROM orders
"""

CORPUS = (
    "dedup_exact", "dedup_minhash_lsh", "text_quality_score",
    "ann_cosine_topk", "pipeline_corpus_dedup",
)
# Every tenth TPC-DS text (q1, q11, ..., q91): ten statements, so one
# run holds three whole rounds; all ninety-nine take ~40 s warm at
# sf0.01 on one client, longer than a run, and a cold pass over them
# costs ~70 s.
FRONTDOOR = tuple(f"sql_tpcds_q{i}" for i in range(1, 100, 10))
# Writes beside reads: the registered io_roundtrip_* classes run each
# sources codec (pagefile with zstd, avro, rcfile, Spark parquet) on a
# 3000-row orders slice; sink_orders_parquet writes and reads back the
# full orders table; the streaming replays commit state every batch.
INGEST = (
    "io_roundtrip_pagefile_zstd", "io_roundtrip_avro",
    "io_roundtrip_rcfile", "io_roundtrip_parquet", "sink_orders_parquet",
    "stream_tumbling_agg", "stream_sliding_agg",
)


TPCH_TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
               "lineitem")


@dataclass(frozen=True)
class Workload:
    name: str
    classes: tuple[str, ...]
    sf: float
    clients: int
    tables: tuple[str, ...]  # loaded into the catalog during set-up
    # Wall time of one warm round on four cores; a run measures
    # round(seconds / round_s) whole rounds, the same count every run.
    round_s: float


# Why each workload was chosen is recorded in BENCHMARK.json.
WORKLOADS: dict[str, Workload] = {w.name: w for w in (
    Workload("sql_frontdoor", FRONTDOOR, 0.01, 2, TPCH_TABLES, 4.0),
    Workload("corpus_ingest", CORPUS + INGEST, 0.1, 1,
             ("orders", "events", "documents", "embeddings"), 12.0),
)}


def round_order(workload: Workload, seed: int, round_no: int) -> list[str]:
    """The classes of one round, shuffled by (seed, workload, round)."""
    rng = random.Random(f"{seed}:{workload.name}:{round_no}")
    order = list(workload.classes)
    rng.shuffle(order)
    return order


@dataclass
class QueryClass:
    """One query class: how to build its DataFrame and its oracle SQL.

    ``build(spark, sf_dir)`` returns the DataFrame whose collected rows
    are the result; eager work (sink writes, streaming replays) happens
    inside it, as it does in the registry's builders.
    """

    name: str
    build: Callable
    oracle_sql: str


def query_classes(workload: Workload, scratch: str) -> dict[str, QueryClass]:
    """Resolve a workload's class names against the engine registry;
    ``sink_orders_parquet`` is defined here (see _sink_orders_parquet)."""
    from presto_0_235_spark.queries.registry import all_queries

    registry = all_queries()
    out: dict[str, QueryClass] = {}
    for name in workload.classes:
        if name == "sink_orders_parquet":
            path = os.path.join(scratch, name)
            out[name] = QueryClass(
                name, lambda spark, sf_dir: _sink_orders_parquet(
                    spark, sf_dir, path),
                ORDERS_PROJECTION_SQL)
            continue
        q = registry[name]
        if q.oracle is None:
            raise ValueError(f"{name} has no oracle; rows-only classes "
                             "are left out of the mixes")
        out[name] = QueryClass(name, q.builder, q.oracle)
    return out


def _sink_orders_parquet(spark, sf_dir: str, path: str):
    """The whole orders table written through Spark's parquet sink and
    read back; checked row for row against the source table."""
    from pyspark.sql import functions as F

    from presto_0_235_spark.catalog import load_table

    src = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        F.col("o_orderdate").cast("date").alias("o_date"),
        "o_orderpriority",
    )
    src.write.mode("overwrite").parquet(path)
    return spark.read.schema(src.schema).parquet(path)
