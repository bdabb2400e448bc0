"""presto_0_235_spark — a PySpark-native analytics engine.

A from-scratch re-expression of the query and data-processing
capabilities of Presto 0.235 (reference surveyed in SURVEY.md) on top
of Spark SQL / Catalyst. The engine is *not* a port: Presto's operator
and function semantics are declared through the DataFrame/SQL API and
Catalyst/Tungsten own optimization and physical execution (see
SURVEY.md §3-4 for the lifecycle equivalence).

Layout:
  session.py    SparkSession factory + Presto-compatible session defaults
  catalog.py    fixture catalog (named parquet tables -> temp views)
  functions/    Presto scalar/aggregate function surface on Spark exprs
  operators/    relational operator builders (joins, aggs, windows, ...)
  sql/          SQL front door with Presto-dialect rewrites
  dedup/        exact + near-duplicate detection (MinHash-LSH, SimHash, ...)
  similarity/   embedding similarity search (brute-force + LSH-bucketed)
  text/         text analysis (lang-id, quality, tokens, fingerprints)
  multimodal/   binary-column (image/audio) plumbing with stubbed decoders
  streaming/    Structured Streaming extensions over the events table
  queries/      the verified query inventory (drives __spark_entry__)
"""

from presto_0_235_spark.session import (
    build_session,
    ensure_session_defaults,
    freeze_worker_archives,
)

# a worker importing the engine stops re-reading archives every task
freeze_worker_archives()

__all__ = ["build_session", "ensure_session_defaults"]

__version__ = "0.1.0"
