"""Session-layer settings that only build_session can apply."""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame

from presto_0_235_spark.session import CODEGEN_CACHE_ENTRIES


def _compilations(spark) -> int:
    metrics = spark._jvm.org.apache.spark.metrics.source
    return metrics.CodegenMetrics.METRIC_COMPILATION_TIME().getCount()


def test_codegen_cache_reuses_compiled_classes(spark):
    """A pass over more distinct generated classes than Spark's default
    100-entry cache holds compiles each class once: an identical second
    pass is served from the cache. With the default, the second pass
    recompiles every class the first one evicted."""
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(
        CODEGEN_CACHE_ENTRIES)

    def run_pass():
        # literals are inlined into the generated source, so each k
        # yields distinct classes (2 per projection); one union keeps
        # the pass to a single statement
        projections = [spark.range(8, numPartitions=1).selectExpr(
            f"id * {k} + {k} AS v") for k in range(1, 61)]
        functools.reduce(DataFrame.unionAll, projections).collect()

    before = _compilations(spark)
    run_pass()
    first = _compilations(spark) - before
    assert first > 100, first
    before = _compilations(spark)
    run_pass()
    assert _compilations(spark) - before == 0
