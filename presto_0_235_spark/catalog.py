"""Fixture catalog: named parquet tables -> DataFrames / temp views.

Presto surfaces every source as a table of typed columns through a
connector catalog (SURVEY.md §1.1, reference SPI/ConnectorMetadata via
MAIN/metadata/MetadataManager.java). Here the catalog is the driver's
parquet fixture directory (TESTDATA.md): schemas are fixed (read from
parquet footers, never inferred at query time), which mirrors Presto's
declared-schema model.

Scale note: `spark.read.parquet` is the vectorized reader with filter
pushdown and column pruning; at 100 TB the same call works — partition
pruning comes free if the dataset is written partitioned, and the
schema contract here does not change.
"""

from __future__ import annotations

import os
import re
import weakref

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


# The ten driver fixtures (FIXTURES.md). TPC-H-subset star schema +
# events stream + LLM-pipeline tables.
TABLES: tuple[str, ...] = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def normalize_events_ts(df: DataFrame) -> DataFrame:
    """Restore events.ts to session-TZ TimestampType regardless of how
    the fixture generator wrote it.

    Fixture generations have varied: parquet timestamp[ns] (read as
    long nanos under nanosAsLong), timestamp[us] (read as
    TIMESTAMP_NTZ), or already-LTZ timestamp. Event-time semantics
    (and `withWatermark` in streaming, which rejects NTZ) require the
    LTZ TimestampType; the session TZ is pinned UTC so the wall-clock
    values are identical across all three paths.
    """
    from pyspark.sql import functions as F

    dtype = dict(df.dtypes).get("ts")
    if dtype == "bigint":
        # long nanos -> truncate to micros exactly like DuckDB/pyarrow
        df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    elif dtype == "timestamp_ntz":
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


# Per-session memo of base table DataFrames, keyed (sf_dir, name).
# A DataFrame is a LAZY plan — memoizing it caches catalog METADATA
# (the parquet footer schema + file listing), never data or results:
# every action against it still scans parquet. This is the Spark
# analog of the reference's ConnectorMetadata caching
# (MetadataManager holds table handles for the session), and it
# matters because each spark.read.parquet() call pays a fixed
# ~0.15 s of DataSource resolution + footer read on the driver —
# 6 calls per tpch_q5 build (measured: half that query's bench
# time). Keyed weakly on the session so a stopped session's plans
# are collectable; fixtures are immutable within a run
# (tests/test_fixture_schema.py pins them), so the frozen file
# listing is exact.
_TABLE_MEMO: "weakref.WeakKeyDictionary[SparkSession, dict]" = (
    weakref.WeakKeyDictionary()
)

# Process-wide memo of each table's footer schema, under the same
# immutability contract. Without a schema, spark.read.parquet runs a
# Spark job to infer it from the footer; with one it runs none. So
# only a process's first session pays inference per table, and each
# later session (newSession() per client) registers its views without
# a job: register_views over the ten sf0.01 fixtures took 0.8-1.5 s
# in a second session, and takes 0.23-0.30 s with the memo (4 vCPUs).
# The key holds the session confs that change what inference returns,
# so a session that reads binary as string, say, infers its own
# schema. Two sessions racing on a miss both infer and store equal
# schemas, so the memo needs no lock.
_SCHEMA_MEMO: dict[tuple, StructType] = {}
_SCHEMA_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
)

_BYTE_SUFFIX = {
    "": 1, "b": 1, "k": 1024, "kb": 1024, "m": 1024**2, "mb": 1024**2,
    "g": 1024**3, "gb": 1024**3, "t": 1024**4, "tb": 1024**4,
    "p": 1024**5, "pb": 1024**5,
}


def _byte_string_as_bytes(value: str) -> int:
    """Parse a Spark byte-size conf string ("128m", "1g", "134217728")
    with JavaUtils.byteStringAsBytes semantics: a non-negative integer
    with an optional binary (1024-based) suffix b/k/m/g/t/p, optionally
    with a trailing 'b'. Like the JVM parser it raises ValueError on an
    unknown suffix ("128x"), a sign ("-1g") or a fraction ("1.5g"),
    rather than reading a misconfigured size as some other size."""
    m = re.fullmatch(r"([0-9]+)([a-z]*)", value.strip().lower())
    if m is None or m.group(2) not in _BYTE_SUFFIX:
        raise ValueError(f"invalid byte-size string: {value!r}")
    return int(m.group(1)) * _BYTE_SUFFIX[m.group(2)]


def invalidate_table_memo(spark: SparkSession | None = None) -> None:
    """Drop memoized table plans (one session's, or every session's)
    and every memoized footer schema.

    The memo freezes each table's FILE LISTING at first load for the
    lifetime of the session, and its schema for the process — exact
    for the immutable fixtures, but a long-lived session reading a
    table that gains files (streaming append, compaction) would
    silently miss them. Deployments with mutable tables call this
    after appends, or skip the memo by reading through
    spark.read.parquet directly. The schema memo is process-wide, so
    both forms clear all of it; the next load re-infers."""
    _SCHEMA_MEMO.clear()
    if spark is None:
        _TABLE_MEMO.clear()
    else:
        _TABLE_MEMO.pop(spark, None)


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """spark.read.parquet(path), with the footer schema inferred once
    per process and conf set (see _SCHEMA_MEMO)."""
    key = (path,) + tuple(spark.conf.get(c, None) for c in _SCHEMA_CONFS)
    schema = _SCHEMA_MEMO.get(key)
    if schema is not None:
        return spark.read.schema(schema).parquet(path)
    df = spark.read.parquet(path)
    _SCHEMA_MEMO[key] = df.schema
    return df


def load_table(
    spark: SparkSession, sf_dir: str, name: str, spread: bool = False
) -> DataFrame:
    """Load one fixture table as a DataFrame (schema from footer).

    ``spread=True`` requests full-core parallelism for compute-bound
    consumers: see spread_scan. The guard here is a free file-size
    estimate of the scan's split count (size / maxPartitionBytes),
    so the common no-op case costs nothing.

    Contract: the returned plan memoizes the table's file listing per
    (session, sf_dir, name) and its schema per process — correct for
    immutable fixtures; call invalidate_table_memo() if the underlying
    files can change within a process's lifetime.
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; catalog has {TABLES}")
    path = os.path.join(sf_dir, f"{name}.parquet")
    try:
        memo = _TABLE_MEMO.setdefault(spark, {})
    except TypeError:  # pragma: no cover - unweakrefable session stub
        memo = {}
    df = memo.get((sf_dir, name))
    if df is None:
        df = _read_parquet(spark, path)
        if name == "events":
            df = normalize_events_ts(df)
        memo[(sf_dir, name)] = df
    if spread:
        cores = spark.sparkContext.defaultParallelism
        max_bytes = _byte_string_as_bytes(
            spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728")
        )
        est_splits = max(1, os.path.getsize(path) // max_bytes)
        if est_splits < cores:
            df = df.repartition(cores)
    return df


def spread_scan(df: DataFrame) -> DataFrame:
    """Round-robin repartition a scan to the session's core count
    when the source delivers fewer input splits than cores.

    The driver fixtures are single-row-group parquet files — an
    unsplittable scan unit — so every downstream compute runs on ONE
    task regardless of local[$N]. For compute-bound operators
    (decimal aggregation, minhash/md5 passes, cosine folds) this
    explicit exchange buys full-core parallelism for one extra
    shuffle of the scanned rows.

    Scale note: on a real cluster the dataset has thousands of
    splits, `existing >= target` holds, and this is a no-op — the
    guard makes it safe to leave in production plans. It exists to
    fix the local-fixture artifact, not to second-guess Spark's
    split planning.

    The split-count guard is a file-size ESTIMATE (inputFiles +
    local stat), not df.rdd.getNumPartitions(): materializing the
    .rdd converts the whole logical plan to an RDD lineage on the
    driver — measured 0.1-0.26 s per call, pure build-time overhead
    — while inputFiles() is a ~30 ms listing and the stat is free.
    Same decision on every fixture (single file, < one split per
    core) and on any cluster layout (many splits -> no-op).
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    try:
        max_bytes = _byte_string_as_bytes(
            df.sparkSession.conf.get(
                "spark.sql.files.maxPartitionBytes", "134217728")
        )
        est_splits = 0
        for uri in df.inputFiles():
            local = uri.removeprefix("file:")
            size = os.path.getsize(local) if os.path.exists(local) else 0
            est_splits += max(1, size // max_bytes)
    except Exception:  # pragma: no cover - non-file sources
        est_splits = df.rdd.getNumPartitions()
    if est_splits >= target:
        return df
    return df.repartition(target)


def load_tables(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] | None = None
) -> dict[str, DataFrame]:
    """Load several fixture tables at once."""
    return {n: load_table(spark, sf_dir, n) for n in (names or TABLES)}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every fixture as a temp view for the SQL front door.

    Mirrors Presto's catalog.schema.table resolution: after this,
    ``spark.sql("SELECT ... FROM lineitem")`` resolves like a Presto
    query against the tpch catalog. Memoized per (session, sf_dir):
    re-registering re-reads ten parquet footers, which dominates
    sub-second SQL queries' build time.
    """
    marker = "spark.graft.registeredViewsDir"
    try:
        if spark.conf.get(marker, "") == sf_dir:
            return
    except Exception:
        pass
    for name, df in load_tables(spark, sf_dir).items():
        df.createOrReplaceTempView(name)
    try:
        spark.conf.set(marker, sf_dir)
    except Exception:
        pass
