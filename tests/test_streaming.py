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


def test_replay_keeps_caller_conf_while_it_runs(spark, sf_dir):
    """A replay's confs (one state partition, no trailing no-data
    batch) live on a clone of the caller's session: while a replay
    runs in one thread, the caller's session, read from another,
    keeps its own spark.sql.shuffle.partitions and noDataMicroBatches
    values, and the replay's memory-sink view never enters its
    catalog."""
    import threading

    q = all_queries()["stream_tumbling_agg"]
    keys = ("spark.sql.shuffle.partitions",
            "spark.sql.streaming.noDataMicroBatches.enabled")
    # A caller value that no replay uses, so any flip shows.
    restore = spark.conf.get(keys[0])
    spark.conf.set(keys[0], "3")
    want = tuple(spark.conf.get(k, "true") for k in keys)
    before = _temp_views(spark)
    seen, views, done = set(), set(), threading.Event()

    def replay():
        try:
            q.builder(spark, sf_dir).count()
        finally:
            done.set()

    try:
        worker = threading.Thread(target=replay)
        worker.start()
        while not done.is_set():
            seen.add(tuple(spark.conf.get(k, "true") for k in keys))
            views |= _temp_views(spark) - before
        worker.join()
    finally:
        spark.conf.set(keys[0], restore)
    assert seen == {want}
    assert views == set()


def test_replays_leave_no_listener_bus_behind(spark, sf_dir):
    """A replay takes the listener buses of its two session clones (its
    own and the one StreamExecution makes at start) off the
    SparkContext's listener bus once its events are delivered: three
    replays leave the bus's listener count where it was."""
    q = all_queries()["stream_tumbling_agg"]
    bus = spark.sparkContext._jsc.sc().listenerBus()
    # the caller's own streaming manager adds its bus once per session
    spark.streams.active  # noqa: B018
    before = bus.listeners().size()
    for _ in range(3):
        assert q.builder(spark, sf_dir).count() > 0
    assert bus.listeners().size() == before
