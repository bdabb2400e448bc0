"""Structured Streaming runtime helpers over the events fixture.

Beyond-reference surface, flagged as such (SURVEY.md §2.10): Presto
0.235 has no event-time streaming — presto-kafka scans topics as batch
tables (reference presto-kafka/.../KafkaRecordSet.java:52). Our
streaming layer is native Structured Streaming: file source ->
watermark -> windowed/stateful ops -> sink.

Test harness shape: each streaming query runs with
Trigger.AvailableNow against the static events parquet and lands in a
memory sink, so the same builder contract (spark, sf_dir) -> batch
DataFrame holds and the DuckDB oracle can replay the equivalent batch
SQL. In production the identical pipeline reads
`spark.readStream.format("kafka")` and writes a real sink — only the
source/sink lines change.

Scale notes:
  - Windowed aggregations shuffle on (window, key) — uniform unless a
    key is hot; watermarks bound state size (state store per key ×
    open windows only).
  - File-source streaming at 100 TB: maxFilesPerTrigger bounds batch
    size; checkpointLocation (omitted here — memory sink) gives
    exactly-once.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


_EVENTS_SCHEMA_CACHE: dict[str, object] = {}


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events as a stream: parquet file source with the batch schema
    (explicit — streaming sources never infer), ts restored to LTZ
    TimestampType exactly as catalog.load_table does (withWatermark
    rejects TIMESTAMP_NTZ event-time columns)."""
    from presto_0_235_spark.catalog import normalize_events_ts

    # Footer-derived schema cached per path: streaming sources must be
    # given an explicit schema, and re-reading the parquet footer on
    # every builder call is measurable (~0.1 s) against a replayed
    # micro-benchmark. Fixture schemas are immutable within a run
    # (tests/test_fixture_schema.py pins them).
    key = f"{sf_dir}/events.parquet"
    schema = _EVENTS_SCHEMA_CACHE.get(key)
    if schema is None:
        schema = spark.read.parquet(key).schema
        _EVENTS_SCHEMA_CACHE[key] = schema
    # The file stream source wants a directory or glob, not a bare
    # file path (basePath must be a directory).
    raw = spark.readStream.schema(schema).parquet(f"{sf_dir}/events*.parquet")
    return normalize_events_ts(raw)


def run_to_batch(
    stream_df: DataFrame,
    output_mode: str = "complete",
    state_partitions: int | None = 8,
) -> DataFrame:
    """Execute a streaming DataFrame to completion (AvailableNow) into
    a memory sink; return the settled result as a batch DataFrame.

    complete mode for aggregations: with a bounded replay the
    watermark stops short of the last windows, and append mode would
    hold them back as "still open" — complete emits every window's
    final state at termination, which is what the batch oracle
    computes. append mode is for row-level ops (dedup).

    state_partitions: stateful-operator parallelism. Structured
    Streaming fixes the state partitioning at the query's FIRST
    micro-batch from spark.sql.shuffle.partitions — choosing it at
    query-start time is the standard Spark knob, and it is a
    STATE-SIZE decision, not a data-size decision: every state store
    instance pays per-commit overhead (delta file + fsync) every
    batch, so running watermark-bounded state (here: open windows x
    keys, hundreds of rows) across 32 stores is pure overhead —
    measured 1.5s -> 0.9s on the sf0.1 tumbling agg by dropping
    32 -> 8. A deployment with genuinely large state raises it at
    query start (or passes None to inherit the session setting);
    the batch shuffles around the stateful operator are unaffected
    (AQE coalesces those independently)."""
    spark = stream_df.sparkSession
    name = f"stream_result_{uuid.uuid4().hex[:12]}"
    before = spark.conf.get("spark.sql.shuffle.partitions")
    nodata_key = "spark.sql.streaming.noDataMicroBatches.enabled"
    before_nodata = spark.conf.get(nodata_key, "true")
    if state_partitions is not None:
        spark.conf.set("spark.sql.shuffle.partitions", str(state_partitions))
    if output_mode == "complete":
        # complete mode re-emits the FULL state at every trigger, so
        # the trailing no-data micro-batch (whose job is to advance
        # the watermark and flush append-mode finalizations) adds a
        # full state-store commit cycle and emits nothing new —
        # skip it. append/update keep it: their row emission depends
        # on the watermark advancing past the last data batch.
        spark.conf.set(nodata_key, "false")
    try:
        query = (
            stream_df.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
        query.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)
        spark.conf.set(nodata_key, before_nodata)
    # The sink's temp view is only a name for its plan, and the
    # analyzed result holds that plan: drop the view so replays leave
    # none behind (via the session catalog, as run_sql does for its
    # CTE views).
    result = spark.table(name)
    spark._jsparkSession.sessionState().catalog().dropTempView(name)
    return result
