"""Source/sink queries: the write path (SURVEY.md §2.1).

The reference writes through TableWriterOperator + commit via
TableFinishOperator (MAIN/operator/TableWriterOperator.java:64,
TableFinishOperator.java) to Hive-format sinks — PARQUET, ORC, CSV,
JSON among them (presto-hive-metastore/.../HiveStorageFormat.java:42-91).
Spark's df.write covers the same formats with the same commit-protocol
guarantees. Each query here writes a real sink to a scratch dir and
reads it back, so the differential gate verifies the written bytes
decode to the same values the oracle computes from the source table —
a write-path correctness check, not just an API touch.

Scale notes:
  - Writers parallelize per-partition (one file per task) — the same
    layout at 1000 executors; the commit protocol (driver-side
    _SUCCESS rename) is Spark's TableFinishOperator analog.
  - io_partitioned_prune shows partition pruning on read-back
    (PushedFilters + PartitionFilters in explain): the physical
    layout choice (partitionBy year) is what makes a 100 TB scan of
    one year touch 1% of files.
"""

from __future__ import annotations

import hashlib
import os
import re
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from presto_0_235_spark.catalog import load_table
from presto_0_235_spark.queries.registry import register
from presto_0_235_spark.session import drop_temp_view, local_rows

# Scratch roots keyed by (format, fixture dir); mode("overwrite")
# keeps reruns idempotent.
_SCRATCH = os.path.join(tempfile.gettempdir(), "presto_0_235_spark_io")


def _fixture_tag(sf_dir: str) -> str:
    """A fixture directory's name part for saved tables and sinks: the
    basename as an identifier ("sf0.01-seed42" must parse) plus a
    digest of the full path, so same-named directories never share."""
    path = os.path.abspath(sf_dir)
    base = re.sub(r"[^0-9A-Za-z_]", "_", os.path.basename(path))
    return f"{base}_{hashlib.sha1(path.encode()).hexdigest()[:10]}"


def _sink_path(fmt: str, sf_dir: str) -> str:
    return os.path.join(_SCRATCH, f"{fmt}_{_fixture_tag(sf_dir)}")


_ORDERS_SLICE_ORACLE = """
SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
       CAST(o_orderdate AS DATE) AS o_date, o_orderpriority
FROM orders WHERE o_orderkey < 3000
"""


def _orders_slice(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") < 3000)
        .select(
            "o_orderkey",
            "o_custkey",
            "o_orderstatus",
            "o_totalprice",
            F.col("o_orderdate").cast("date").alias("o_date"),
            "o_orderpriority",
        )
    )


# LazySimpleSerDe NULL sentinel (Hive hive.serialization.null.format
# default "\N"): concat_ws SKIPS nulls, which would silently shift all
# subsequent fields on decode. Encode NULL as the sentinel so every
# row has a fixed field count; decode maps the sentinel back to NULL.
_SERDE_NULL = "\\N"


def _lazy_serde_encode(src: DataFrame) -> F.Column:
    """One \\x01-joined line per row, NULL-safe (LazySimpleSerDe
    row encoding, presto-hive LazySimpleSerDe / HiveStorageFormat)."""
    return F.concat_ws(
        "\x01",
        *[
            F.coalesce(F.col(c).cast("string"), F.lit(_SERDE_NULL))
            for c in src.columns
        ],
    ).alias("value")


def _lazy_serde_field(parts: F.Column, i: int) -> F.Column:
    p = parts[i]
    return F.when(p == _SERDE_NULL, F.lit(None)).otherwise(p)


def _decode_orders_slice(df: DataFrame) -> DataFrame:
    parts = F.split(F.col("value"), "\x01")
    f = lambda i: _lazy_serde_field(parts, i)  # noqa: E731
    return df.select(
        f(0).cast("bigint").alias("o_orderkey"),
        f(1).cast("bigint").alias("o_custkey"),
        f(2).alias("o_orderstatus"),
        f(3).cast("double").alias("o_totalprice"),
        f(4).cast("date").alias("o_date"),
        f(5).alias("o_orderpriority"),
    )


@register("io_roundtrip_parquet", oracle=_ORDERS_SLICE_ORACLE)
def io_roundtrip_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet write -> commit -> read-back. The round-tripped values
    must equal the oracle computed from the source — verifying writer
    encode + commit + reader decode, not just the API."""
    path = _sink_path("parquet", sf_dir)
    _orders_slice(spark, sf_dir).write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


@register("io_roundtrip_orc", oracle=_ORDERS_SLICE_ORACLE)
def io_roundtrip_orc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC write/read-back — the reference's default Hive format
    (HiveStorageFormat.java:42, native reader presto-orc/)."""
    path = _sink_path("orc", sf_dir)
    _orders_slice(spark, sf_dir).write.mode("overwrite").orc(path)
    return spark.read.orc(path)


@register("io_roundtrip_json", oracle=_ORDERS_SLICE_ORACLE)
def io_roundtrip_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines write/read-back with an explicit read schema (the
    engine's declared-schema model — no inference at query time,
    matching ConnectorTableMetadata fixed schemas)."""
    path = _sink_path("json", sf_dir)
    src = _orders_slice(spark, sf_dir)
    src.write.mode("overwrite").json(path)
    return spark.read.schema(src.schema).json(path)


@register("io_roundtrip_textfile", oracle=_ORDERS_SLICE_ORACLE)
def io_roundtrip_textfile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive TEXTFILE write/read-back (HiveStorageFormat.java:42-91
    TEXTFILE: LazySimpleSerDe, \\x01 field delimiter). Spark shape:
    concat_ws('\\x01') with \\N-encoded NULLs -> text sink, text
    source -> split + sentinel-aware typed casts — the
    declared-schema decode the reference's SerDe performs, all in
    JVM expressions."""
    path = _sink_path("textfile", sf_dir)
    src = _orders_slice(spark, sf_dir)
    src.select(_lazy_serde_encode(src)).write.mode("overwrite").text(path)
    return _decode_orders_slice(spark.read.text(path))


@register("io_roundtrip_csv", oracle=_ORDERS_SLICE_ORACLE)
def io_roundtrip_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV write/read-back with header + explicit schema. Doubles
    survive exactly (Java shortest-roundtrip formatting); dates via
    ISO format."""
    path = _sink_path("csv", sf_dir)
    src = _orders_slice(spark, sf_dir)
    src.write.mode("overwrite").option("header", True).csv(path)
    return spark.read.schema(src.schema).option("header", True).csv(path)


@register(
    "io_bucketed_join",
    oracle="""
SELECT l.l_orderkey,
       count(*) AS n_lines,
       CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,6))) AS DOUBLE)
         AS line_total,
       max(o.o_totalprice) AS order_total
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
WHERE l.l_orderkey < 5000
GROUP BY l.l_orderkey
""",
)
def io_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed co-located join — the SCALE.md fact-fact strategy.
    Both sides are written `bucketBy(8, orderkey)` + sorted, then the
    join runs with NO exchange on either side (verified by plan test:
    SortMergeJoin over bucketed scans). At 100 TB this is the layout
    decision that deletes the biggest shuffle in the workload
    (reference analog: grouped execution over bucketed Hive tables,
    MAIN/operator/StageExecutionDescriptor.java)."""
    tag = _fixture_tag(sf_dir)
    li_tbl, o_tbl = f"li_bucketed_{tag}", f"o_bucketed_{tag}"
    if not spark.catalog.tableExists(li_tbl):
        (
            load_table(spark, sf_dir, "lineitem")
            .filter(F.col("l_orderkey") < 5000)
            .select("l_orderkey", "l_extendedprice")
            .write.bucketBy(8, "l_orderkey")
            .sortBy("l_orderkey")
            .option("path", _sink_path("bucket_li", sf_dir))
            .mode("overwrite")
            .saveAsTable(li_tbl)
        )
    if not spark.catalog.tableExists(o_tbl):
        (
            load_table(spark, sf_dir, "orders")
            .filter(F.col("o_orderkey") < 5000)
            .select("o_orderkey", "o_totalprice")
            .write.bucketBy(8, "o_orderkey")
            .sortBy("o_orderkey")
            .option("path", _sink_path("bucket_o", sf_dir))
            .mode("overwrite")
            .saveAsTable(o_tbl)
        )
    li = spark.table(li_tbl)
    orders = spark.table(o_tbl)
    # merge hint: at fixture scale AQE would broadcast the small side,
    # which hides the point of the demo — the SortMergeJoin over
    # bucketed+sorted scans runs with ZERO exchanges (and the
    # downstream groupBy(l_orderkey) reuses the same distribution, so
    # the whole query is shuffle-free).
    return (
        li.join(orders.hint("merge"), li.l_orderkey == orders.o_orderkey)
        .groupBy("l_orderkey")
        .agg(
            F.count("*").alias("n_lines"),
            F.sum(F.col("l_extendedprice").cast("decimal(18,6)"))
            .cast("double")
            .alias("line_total"),
            F.max("o_totalprice").alias("order_total"),
        )
    )


@register(
    "io_partitioned_prune",
    oracle="""
SELECT o_orderkey, o_totalprice, CAST(year(o_orderdate) AS INT) AS o_year
FROM orders
WHERE year(o_orderdate) = 1997
""",
)
def io_partitioned_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-style partitioned write + partition-pruned read: write
    orders partitioned by year, read back one year. The filter prunes
    directories before any file IO (PartitionFilters in the plan) —
    the layout decision that makes selective scans at 100 TB touch
    only matching partitions (reference analog: TupleDomain partition
    pruning via PickTableLayout.java + MetadataDeleteOperator's
    partition model)."""
    path = _sink_path("part_year", sf_dir)
    src = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_totalprice",
        F.year("o_orderdate").cast("int").alias("o_year"),
    )
    src.write.mode("overwrite").partitionBy("o_year").parquet(path)
    back = spark.read.parquet(path).filter(F.col("o_year") == 1997)
    return back.select(
        "o_orderkey", "o_totalprice", F.col("o_year").cast("int").alias("o_year")
    )


@register(
    "io_partition_delete",
    oracle="""
SELECT CAST(year(o_orderdate) AS INT) AS o_year, count(*) AS n
FROM orders
WHERE year(o_orderdate) <> 1997
GROUP BY 1
""",
)
def io_partition_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole-partition delete — the reference's MetadataDeleteOperator
    (deletes partitions via metastore metadata, no row scan). Spark
    analog: ALTER TABLE ... DROP PARTITION on a partitioned catalog
    table — an O(1) metadata operation at any scale; the read-back
    proves the partition's rows are gone."""
    tbl = f"orders_part_{_fixture_tag(sf_dir)}"
    path = _sink_path("part_delete", sf_dir)
    src = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", F.year("o_orderdate").cast("int").alias("o_year")
    )
    # (Re)create the partitioned table fresh each run, then drop 1997.
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    (
        src.write.partitionBy("o_year")
        .option("path", path)
        .mode("overwrite")
        .saveAsTable(tbl)
    )
    spark.sql(f"ALTER TABLE {tbl} DROP IF EXISTS PARTITION (o_year=1997)")
    return (
        spark.table(tbl)
        .groupBy(F.col("o_year").cast("int").alias("o_year"))
        .agg(F.count("*").alias("n"))
    )


@register(
    "io_memory_table",
    oracle="""
SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n,
       CAST(max(o_totalprice) AS DOUBLE) AS top
FROM orders WHERE o_totalprice > 200000
GROUP BY o_orderstatus
""",
)
def io_memory_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Memory connector analog (reference presto-memory: tables held
    in RAM across queries): CACHE TABLE pins the relation in the
    in-memory columnar store (eager), and subsequent queries scan
    InMemoryRelation instead of the source files. The view is dropped
    once the result is analyzed; the cached relation stays."""
    load_table(spark, sf_dir, "orders").filter(
        F.col("o_totalprice") > 200000
    ).createOrReplaceTempView("mem_big_orders")
    spark.sql("CACHE TABLE mem_big_orders")
    result = (
        spark.table("mem_big_orders")
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n"),
            F.max("o_totalprice").cast("double").alias("top"),
        )
    )
    drop_temp_view(spark, "mem_big_orders")
    return result


@register("io_system_tables", oracle=None)
def io_system_tables(spark: SparkSession, sf_dir: str) -> DataFrame:
    """System/metadata tables (reference MAIN/connector/system/ —
    system.runtime.*, information_schema): the catalog answers
    queries about itself. Output is engine-specific (rows-only):
    registered table names + column counts from the session catalog."""
    from presto_0_235_spark.catalog import register_views

    register_views(spark, sf_dir)
    rows = [
        (t.name, len(spark.table(t.name).columns))
        for t in spark.catalog.listTables()
        if t.tableType == "TEMPORARY"
    ]
    return local_rows(spark, sorted(rows), "table_name string, n_columns int")


@register("io_roundtrip_sequencefile", oracle=_ORDERS_SLICE_ORACLE)
def io_roundtrip_sequencefile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive SEQUENCEFILE write/read-back (HiveStorageFormat.java:42-91
    SEQUENCEFILE: Hadoop (key, value) container with LazySimpleSerDe
    rows). Spark shape: the same \\x01-delimited row encoding as
    TEXTFILE, carried through Hadoop's SequenceFile container via the
    RDD API — the ONE place the RDD layer is genuinely required
    (SequenceFile is a (key, value) container format with no
    DataFrame source; saveAsSequenceFile/sequenceFile are the
    supported vanilla-Spark path, no extra jars). Decode is the same
    declared-schema split + typed casts, back in DataFrame land
    immediately."""
    path = _sink_path("sequencefile", sf_dir)
    src = _orders_slice(spark, sf_dir)
    encoded = src.select(
        F.col("o_orderkey").cast("string").alias("k"),
        _lazy_serde_encode(src).alias("v"),
    )
    import shutil

    shutil.rmtree(path, ignore_errors=True)
    encoded.rdd.map(lambda r: (r.k, r.v)).saveAsSequenceFile(path)
    rows = spark.sparkContext.sequenceFile(path).map(lambda kv: (kv[1],))
    return _decode_orders_slice(
        spark.createDataFrame(rows, schema="value string")
    )


@register("io_roundtrip_avro", oracle=_ORDERS_SLICE_ORACLE)
def io_roundtrip_avro(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive AVRO write/read-back (HiveStorageFormat.java:42-91 AVRO).
    No spark-avro connector jar is deployable in this container and
    no Python avro package is installed, so the engine carries its
    own object-container codec written from the public Avro 1.11
    spec (sources/avro.py): distributed file-per-task sink over
    mapInArrow and one-task-per-file source over mapInPandas (both in
    sources/sink.py), null codec,
    nullable-union fields, date/timestamp logical types.
    Files interoperate with the real Apache Avro Java library
    (pinned by tests/test_operators.py::test_avro_java_interop, which
    reads a codec-written file through org.apache.avro via the
    session JVM)."""
    from presto_0_235_spark.sources.avro import (
        read_avro_dataframe,
        write_avro_dataframe,
    )

    path = _sink_path("avro", sf_dir)
    src = _orders_slice(spark, sf_dir)
    write_avro_dataframe(src, path)
    return read_avro_dataframe(spark, path, src.schema)


@register("io_roundtrip_pagefile", oracle=_ORDERS_SLICE_ORACLE)
def io_roundtrip_pagefile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PAGEFILE write/read-back — the reference's OWN page-container
    storage format (HiveStorageFormat.java:42-91 PAGEFILE;
    presto-hive/.../pagefile/PageFileWriterFactory.java,
    PageFilePageSource.java). No public engine reads it, so the codec
    is implemented from the reference's byte layout in
    sources/pagefile.py: SerializedPage frames
    (PagesSerdeUtil.java), named block encodings with MSB-first null
    bit streams (EncoderUtil.java:31-63, LongArray/IntArray/
    VariableWidthBlockEncoding.java), stripe-offset footer
    (PageFileFooterOutput.java:44-52). Distributed file-per-task
    sink; the source schedules ONE TASK PER STRIPE from a bounded
    footer tail read — the format's genuine split contract. Byte
    layout pinned against hand-computed golden frames in
    tests/test_operators.py::TestPageFileCodec; ZSTD page compression
    (airlift-compatible standard frames, COMPRESSED marker bit,
    0.8 min-ratio gate) exercised there too."""
    from presto_0_235_spark.sources.pagefile import (
        read_pagefile_dataframe,
        write_pagefile_dataframe,
    )

    path = _sink_path("pagefile", sf_dir)
    src = _orders_slice(spark, sf_dir)
    write_pagefile_dataframe(src, path)
    return read_pagefile_dataframe(spark, path, src.schema)


@register("io_roundtrip_pagefile_zstd", oracle=_ORDERS_SLICE_ORACLE)
def io_roundtrip_pagefile_zstd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PAGEFILE with ZSTD page compression — the codec path
    (PagesSerde.java wrapSlice: per-page compress, COMPRESSED marker
    bit, 0.8 min-compression-ratio gate; airlift-compatible standard
    zstd frames, cross-checked against the JVM's zstd-jni in
    tests/test_operators.py). Same differential gate as the
    uncompressed roundtrip — the written bytes must decode to the
    oracle's values through the compressed frames."""
    from presto_0_235_spark.sources.pagefile import (
        read_pagefile_dataframe,
        write_pagefile_dataframe,
    )

    path = _sink_path("pagefile_zstd", sf_dir)
    src = _orders_slice(spark, sf_dir)
    write_pagefile_dataframe(src, path, compression="zstd")
    return read_pagefile_dataframe(spark, path, src.schema)


@register("io_roundtrip_rcfile", oracle=_ORDERS_SLICE_ORACLE)
def io_roundtrip_rcfile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive RCFILE (RCTEXT) write/read-back
    (HiveStorageFormat.java:42-91 RCTEXT: RCFile columnar row-group
    container + ColumnarSerDe text cells, null = "\\N"). The engine
    carries its own worker-side codec written from the public layout
    (sources/rcfile.py; the reference documents the same layout in
    its own from-scratch presto-rcfile module — RcFileWriter.java
    header/row-group/key-section framing, run-length cell-length
    packing, Hadoop vlong framing): DISTRIBUTED file-per-task sink
    over mapInArrow and one-task-per-file source over mapInPandas —
    no driver-side row loops. Byte compatibility with Hive's real
    org.apache.hadoop.hive.ql.io.RCFile classes is pinned BOTH
    directions in tests/test_operators.py::TestRcFileCodec (the
    session JVM's hive-exec reads codec-written files and vice
    versa)."""
    from presto_0_235_spark.sources.rcfile import (
        read_rcfile_dataframe,
        write_rcfile_dataframe,
    )

    path = _sink_path("rcfile", sf_dir)
    src = _orders_slice(spark, sf_dir)
    write_rcfile_dataframe(src, path, serde="text")
    return read_rcfile_dataframe(spark, path, src.schema, serde="text")


@register("io_roundtrip_rcbinary", oracle=_ORDERS_SLICE_ORACLE)
def io_roundtrip_rcbinary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive RCBINARY write/read-back (HiveStorageFormat.java:42-91
    RCBINARY: RCFile container + LazyBinaryColumnarSerDe BINARY
    cells — null = zero-length cell, bigint = Hadoop vlong, double =
    big-endian IEEE bits, date = vint epoch days, empty string = the
    0xBF marker byte; cell formats per the reference's
    presto-rcfile/binary/*Encoding.java). Same distributed
    worker-side codec as io_roundtrip_rcfile with the binary serde;
    Hive-class byte interop pinned both directions in
    tests/test_operators.py::TestRcFileCodec."""
    from presto_0_235_spark.sources.rcfile import (
        read_rcfile_dataframe,
        write_rcfile_dataframe,
    )

    path = _sink_path("rcbinary", sf_dir)
    src = _orders_slice(spark, sf_dir)
    write_rcfile_dataframe(src, path, serde="binary")
    return read_rcfile_dataframe(spark, path, src.schema, serde="binary")
