"""Streaming replays leave nothing behind in the caller's session."""

from __future__ import annotations

from presto_0_235_spark.queries.registry import all_queries
from tests.conftest import assert_df_matches_oracle


def _temp_views(spark) -> set[str]:
    return {t.name for t in spark.catalog.listTables()
            if t.tableType == "TEMPORARY"}


def test_replay_releases_memory_sink_view(spark, sf_dir, duck):
    """run_to_batch drops its memory sink's temp view once the result is
    analyzed; the result, and a query built on it, still collect."""
    q = all_queries()["stream_tumbling_agg"]
    before = _temp_views(spark)
    df = q.builder(spark, sf_dir)
    assert _temp_views(spark) - before == set()
    assert_df_matches_oracle(df, duck, q.oracle)
    assert df.select(df.columns[0]).count() == df.count() > 0
