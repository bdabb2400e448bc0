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

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, SparkSession


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events as a stream: parquet file source with the batch schema
    (explicit — streaming sources never infer), ts restored to LTZ
    TimestampType exactly as catalog.load_table does (withWatermark
    rejects TIMESTAMP_NTZ event-time columns)."""
    from presto_0_235_spark.catalog import _read_parquet, normalize_events_ts

    # Streaming sources must be given an explicit schema: the batch
    # footer schema, through the catalog's memo (one inference per
    # process and schema-relevant conf set).
    schema = _read_parquet(spark, f"{sf_dir}/events.parquet").schema
    # The file stream source wants a directory or glob, not a bare
    # file path (basePath must be a directory).
    raw = spark.readStream.schema(schema).parquet(f"{sf_dir}/events*.parquet")
    return normalize_events_ts(raw)


def _rebind(spark: SparkSession, jdf, jsession) -> DataFrame:
    """The logical plan of JVM Dataset ``jdf`` as a Dataset of JVM
    session ``jsession``, wrapped for ``spark``'s Python side."""
    dataset = spark._jvm.org.apache.spark.sql.classic.Dataset
    return DataFrame(dataset.ofRows(jsession, jdf.logicalPlan()), spark)


def run_to_batch(stream_df: DataFrame, output_mode: str = "complete") -> DataFrame:
    """Execute a streaming DataFrame to completion (AvailableNow) into
    a memory sink; return the settled result as a batch DataFrame of
    the caller's session.

    complete mode for aggregations: with a bounded replay the
    watermark stops short of the last windows, and append mode would
    hold them back as "still open" — complete emits every window's
    final state at termination, which is what the batch oracle
    computes. append mode is for row-level ops (dedup).

    The replay runs on a clone of the caller's session (cloneSession,
    what StreamExecution itself does at start()), and its confs are
    set on the clone only, so a query running concurrently on the
    caller's session never sees them, and the memory sink's temp view
    never enters the caller's catalog. The caller's streaming
    listeners are attached to the clone, so they still see the
    replay's progress. Once its events are delivered, both clones'
    listener buses (this one's and StreamExecution's) leave the
    SparkContext's bus instead of seeing every later streaming event.

    One state store: Structured Streaming fixes the state partitioning
    at the query's FIRST micro-batch from spark.sql.shuffle.partitions,
    and every state store instance pays a per-commit overhead (delta
    file + fsync) every batch. Watermark-bounded replay state (open
    windows x keys, hundreds of rows) fits one store: on the sf0.1
    tumbling and sliding replays (4 vCPU), 8 -> 1 stores cut the
    summed commitTimeMs per replay from ~490 ms to ~35 ms. A
    deployment with genuinely large state raises the partition count
    at query start."""
    spark = stream_df.sparkSession
    # JVM-side only: a Python SparkSession over the clone would
    # re-point pyspark's process-wide RDD.toDF at it.
    clone = spark._jsparkSession.cloneSession()
    clone.conf().set("spark.sql.shuffle.partitions", "1")
    if output_mode == "complete":
        # complete mode re-emits the FULL state at every trigger, so
        # the trailing no-data micro-batch (whose job is to advance
        # the watermark and flush append-mode finalizations) adds a
        # full state-store commit cycle and emits nothing new —
        # skip it. append/update keep it: their row emission depends
        # on the watermark advancing past the last data batch.
        clone.conf().set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    for listener in spark._jsparkSession.streams().listListeners():
        clone.streams().addListener(listener)
    name = f"stream_result_{uuid.uuid4().hex[:12]}"
    query = (
        _rebind(spark, stream_df._jdf, clone).writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    bus = spark.sparkContext._jsc.sc().listenerBus()
    managers = (clone.streams(),
                query._jsq.streamingQuery().sparkSessionForStream().streams())
    try:
        bus.waitUntilEmpty()  # raises after 10 s with events in flight
    except Py4JJavaError:  # keep the buses rather than drop events
        managers = ()
    for manager in managers:
        field = manager.getClass().getDeclaredField("listenerBus")
        field.setAccessible(True)  # a private field
        bus.removeListener(field.get(manager))
    # The sink's temp view is only a name for its plan (the sink's
    # rows): the result carries that plan into the caller's session.
    return _rebind(spark, clone.table(name), spark._jsparkSession)
