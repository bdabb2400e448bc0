"""SparkSession factory with Presto-compatible defaults.

Presto 0.235 runs a distributed pipelined engine (SURVEY.md §3.1); the
Spark equivalent of its LocalQueryRunner embedding (§3.3) is a
SparkSession. Everything below is session configuration, not engine
code — Catalyst already implements the reference's optimizer rewrites
(SURVEY.md §4.1) and Tungsten its physical techniques (§4.2).

Scale notes (local[N] here, 1000-executor cluster in production):
  - AQE on: runtime shuffle-partition coalescing, skew-join splitting,
    and broadcast conversion replace Presto's cost-based
    DetermineJoinDistributionType (reference
    MAIN/sql/planner/optimizations/DetermineJoinDistributionType.java).
  - shuffle.partitions is only the AQE *upper bound*; at cluster scale
    raise it to ~2-3x total cores and let AQE coalesce.
  - autoBroadcastJoinThreshold handles dimension tables; fact-fact
    joins shuffle on their keys and benefit from bucketing (see
    sources/bucketing in SCALE.md).
  - codegen.cache.maxEntries: Spark keeps each compiled Janino class
    (generated source -> bytecode) in a per-JVM LRU cache keyed by the
    generated source. Its default of 100 entries is smaller than the
    engine's working set: one round of perfbench's 10-statement TPC-DS
    panel (sql_frontdoor) compiles ~190 distinct classes, ~200 with the
    variants later rounds add (~7.9 KB source and ~2.8 KB bytecode
    each), so with 100 entries every warm round recompiled
    ~176 of them at 14-23 ms each. build_session sets
    CODEGEN_CACHE_ENTRIES, ~10x that working set; after warm-up a
    round compiles 0-8 classes and metaspace stays at ~160 MB. The
    conf is static: it takes effect only when build_session starts the
    JVM, so a session built elsewhere (the driver's own vanilla
    session) keeps Spark's 100.
"""

from __future__ import annotations

import atexit
import os
import sys
import weakref

from pyspark.sql import DataFrame, SparkSession

# Entries of Spark's generated-code cache; see the module docstring.
CODEGEN_CACHE_ENTRIES = 2000

# Session-level settings every query path assumes. These are runtime
# (non-static) confs, safe to set on a live session — including the
# driver-provided one handed to __spark_entry__ callables.
SESSION_DEFAULTS: dict[str, str] = {
    # Fixtures are UTC date-valued timestamps (FIXTURES.md); Presto
    # evaluates date/time in the session zone — pin it.
    "spark.sql.session.timeZone": "UTC",
    # Presto raises on division-by-zero / invalid casts / OOB array
    # subscripts (reference MAIN/type/BigintOperators.java:135,
    # ArraySubscriptOperator.java). Spark 4 ANSI mode matches that
    # error discipline; TRY(...) maps to try_* functions.
    "spark.sql.ansi.enabled": "true",
    # NOTE on string-literal escapes: Presto literals have NO
    # backslash escapes ('' is the only escape; SqlBase.g4 STRING
    # rule), while Spark's default parser eats '\b' etc. The tempting
    # fix — spark.sql.parser.escapedStringLiterals=true — BREAKS ''
    # quote-doubling ('a''b' parses as a''b), so the front door
    # instead re-encodes every literal for the default parser at
    # unmask time (sql/frontend.py _unmask doubles backslashes).
    # Runtime re-planning: partition coalescing, skew splitting,
    # shuffle->broadcast conversion.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for any pandas-interop path (vectorized UDFs, toPandas).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Fixture generations have stored events.ts as timestamp[ns],
    # which Spark's parquet reader rejects outright without this flag
    # (read as long nanos instead); current fixtures use
    # timestamp[us], making the flag a harmless no-op, but it stays so
    # the engine reads BOTH layouts — catalog.normalize_events_ts
    # restores TimestampType either way.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}


def ensure_session_defaults(spark: SparkSession) -> SparkSession:
    """Apply SESSION_DEFAULTS to an existing session (idempotent).

    It has two callers: build_session, and the query registry, whose
    wrapper runs it once before every registered builder so a query
    behaves identically on a session the engine did not create (the
    driver's verify harness builds its own). Library calls (load_table,
    run_sql, the codec sinks) do not repair the session: on one that
    build_session made, or a newSession() of it, the confs already
    hold, since build_session also puts them into the SparkConf.
    Cheap and job-free: it sets confs and ships the package zip once
    per SparkContext, and never starts Python workers (see
    warmup_python_workers). It raises when the zip cannot be built or
    added: workers reach engine code only through it.
    """
    for key, value in SESSION_DEFAULTS.items():
        # every key is runtime-modifiable: a static one raises here
        # rather than leaving the session silently misconfigured
        spark.conf.set(key, value)
    _ship_package(spark)
    return spark


def local_rows(spark: SparkSession, rows, schema) -> DataFrame:
    """A DataFrame over driver-side rows that plans as a LocalRelation.

    The constant-rows node of Presto (ValuesNode, run in-process by
    ValuesOperator.java). ``spark.createDataFrame(<list>, schema)``
    plans a LogicalRDD instead, and every execution of it runs one
    Python task per defaultParallelism slice (~0.46 s for four rows on
    4 vCPUs). Built through Arrow, the same rows plan as a
    LocalRelation that Spark evaluates on the driver: no job, no Python
    worker. ``rows`` is a sequence of tuples in ``schema`` order (a
    StructType or a DDL string); longs stay exact and None is null.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    arrow_schema = to_arrow_schema(schema)
    columns = list(zip(*rows)) or [()] * len(arrow_schema)
    table = pa.Table.from_arrays(
        [pa.array(col, type=field.type)
         for col, field in zip(columns, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, schema)


def drop_temp_view(spark: SparkSession, name: str) -> None:
    """Drop a temp view through the session catalog. Unlike
    spark.catalog.dropTempView this keeps the cache of the view's plan,
    so a DataFrame already analyzed over the view still reads it."""
    spark._jsparkSession.sessionState().catalog().dropTempView(name)


_WARMED_SESSIONS: "weakref.WeakSet" = weakref.WeakSet()


def warmup_python_workers(spark: SparkSession) -> None:
    """Pre-fork the Python worker pool and pay the pandas + engine
    kernel imports (numpy, pyarrow, the geo kernels) up front.

    Explicit calls only: nothing in the engine invokes it. Most
    workloads never plan a Python node (none of the TPC-DS front-door
    texts does), and forking and filling a worker per core for them
    cost ~8 s of session start-up on 4 vCPUs. Workers fork on the
    first plan that needs them; both benchmarks (perfbench's warm-up
    round and bench.py's prewarm run) execute every query once before
    timing, so no measured query pays the fork. Call this before
    timing a single cold Arrow-UDF query. Idempotent per session;
    never raises.
    """
    if spark in _WARMED_SESSIONS:
        return
    _WARMED_SESSIONS.add(spark)
    try:
        n = max(spark.sparkContext.defaultParallelism, 1)

        def _touch(batches):
            # the imports ARE the warmup — every worker pays them
            # here instead of inside the first real Arrow UDF task
            import fractions  # noqa: F401 (geo_agg exact kernels)
            import numpy  # noqa: F401
            import pandas  # noqa: F401
            import pyarrow  # noqa: F401

            try:
                from presto_0_235_spark.functions import (  # noqa: F401
                    geo, geo_clip, geo_overlay, geo_wkt,
                )
                from presto_0_235_spark.operators import (  # noqa: F401
                    geo_agg,
                )
            except Exception:
                pass
            for batch in batches:
                yield batch

        df = spark.range(n * 4, numPartitions=n)
        df.mapInPandas(_touch, df.schema).write.format("noop").mode(
            "overwrite"
        ).save()
        # the grouped Arrow path (FlatMapGroupsInPandasExec) JITs
        # separately from mapInPandas — the geometry aggregate's
        # merge phase is applyInPandas, so warm that lane too
        def _gtouch(_key, pdf):
            return pdf

        (df.withColumn("g", df.id % n).groupBy("g")
         .applyInPandas(_gtouch, df.schema.add("g", "long"))
         .write.format("noop").mode("overwrite").save())
    except Exception:  # pragma: no cover - warmup is never load-bearing
        pass


# ---------------------------------------------------------------------------
# Worker-side code distribution
# ---------------------------------------------------------------------------
# Executor Python workers do not share the driver's sys.path (the
# external driver adds the repo to its own sys.path from an arbitrary
# working directory). ensure_session_defaults therefore ships the
# package once per SparkContext, as a cluster deployment does with
# --py-files: it zips presto_0_235_spark and addPyFile()s it, and
# workers import engine modules by NAME. cloudpickle pickles engine
# functions by reference, so a closure carries a module name and a
# qualified name instead of the module's bytecode and constants
# (geo_agg.union_fold: ~234 KB by value, 66 B by reference; SCALE.md
# §9). No engine module is pickled by value: a session the package
# cannot reach fails at ensure_session_defaults, not in a worker.
# Sessions from newSession() share their parent's context and so its
# shipped zip; re-adding it would only log a warning and grow the
# task's Python includes. The zip is deleted at interpreter exit.
#
# Per-task cost in the worker (SCALE.md §9). Two fixed waits sat in
# front of every task a warm Python worker ran:
#  - pyspark (4.1) calls importlib.invalidate_caches() before every
#    task; on Python < 3.13 each cached zipimporter then re-reads its
#    archive's central directory (pyspark.zip: 1,328 entries; the
#    spark-core jar on the worker's path: 5,359).
#    freeze_worker_archives, run when a worker first imports the
#    package, makes every archive importer, cached or later, one
#    whose invalidate_caches does nothing: no archive on a worker's
#    path changes while it runs.
#  - Over loopback TCP a task's input reached the worker ~40 ms after
#    its header (Nagle's algorithm against delayed ACKs); build_session
#    puts the JVM-worker link on a Unix domain socket instead.
# Only both together help: a warm one-task mapInPandas that imports
# the engine took ~68 ms with neither and with frozen importers
# alone, ~30 ms with both (4 vCPUs; a JVM-only job takes ~16 ms).

_SHIPPED_CONTEXTS: "weakref.WeakSet" = weakref.WeakSet()
_PKG_ZIP: str | None = None


def freeze_worker_archives() -> None:
    """Inside a Python worker, stop importlib.invalidate_caches() from
    re-reading zip archives (see the comment above). A no-op on the
    driver."""
    files = sys.modules.get("pyspark.core.files")
    if files is None or not files.SparkFiles._is_running_on_worker:
        return
    import zipimport

    class FrozenZipImporter(zipimport.zipimporter):
        def invalidate_caches(self):
            pass

    sys.path_hooks.insert(0, FrozenZipImporter)
    for finder in sys.path_importer_cache.values():
        if type(finder) is zipimport.zipimporter:
            finder.__class__ = FrozenZipImporter


def _package_zip() -> str:
    """Build (once per process) a zip of this package for addPyFile;
    the zip is removed when the interpreter exits."""
    global _PKG_ZIP
    if _PKG_ZIP is not None:
        return _PKG_ZIP
    import tempfile
    import zipfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    fd, path = tempfile.mkstemp(prefix="presto_0_235_spark_", suffix=".zip")
    os.close(fd)
    atexit.register(_remove_package_zip, path, os.getpid())
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as zf:
        for root, dirs, files in os.walk(pkg_dir):
            dirs[:] = [d for d in dirs if d != "__pycache__"]
            for f in sorted(files):
                if not f.endswith(".py"):
                    continue
                full = os.path.join(root, f)
                rel = os.path.join(
                    "presto_0_235_spark", os.path.relpath(full, pkg_dir))
                zf.write(full, rel)
    _PKG_ZIP = path
    return path


def _remove_package_zip(path: str, owner_pid: int) -> None:
    # a forked child inherits this exit hook; only the process
    # that wrote the zip removes it
    if os.getpid() == owner_pid:
        try:
            os.remove(path)
        except OSError:
            pass


def _ship_package(spark: SparkSession) -> None:
    """Add the package zip to the session's SparkContext, once per
    context. Raises when the zip cannot be built or added: engine
    code that runs in a worker has no other way to get there."""
    sc = spark.sparkContext
    if sc in _SHIPPED_CONTEXTS:
        return
    sc.addPyFile(_package_zip())
    _SHIPPED_CONTEXTS.add(sc)


def _default_driver_memory() -> str:
    """The driver heap when SPARK_GRAFT_DRIVER_MEM is unset: 16g, or
    half of physical memory when that is smaller. A heap larger than
    the machine lets the one local JVM grow until the kernel kills it
    (a 16g heap reached ~12.5 GB RSS on a 15 GB host)."""
    total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{min(16 << 10, total // 2 >> 20)}m"


def build_session(
    app_name: str = "presto-0235-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or reuse) a SparkSession with engine defaults.

    ``master`` defaults to local[$SPARK_GRAFT_CPUS] (driver contract)
    or local[*]. ``shuffle_partitions`` defaults to the local core
    count — small for local runs; AQE coalesces below it anyway.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"

    builder = SparkSession.builder.appName(app_name).master(master)
    for key, value in SESSION_DEFAULTS.items():
        builder = builder.config(key, value)

    if shuffle_partitions is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        shuffle_partitions = int(cpus) if cpus and cpus.isdigit() else 8
    builder = builder.config(
        "spark.sql.shuffle.partitions", str(shuffle_partitions)
    )
    # Each generated class compiles once per JVM instead of once per
    # statement (module docstring). Static conf: it cannot live in
    # SESSION_DEFAULTS, whose runtime set would raise.
    builder = builder.config(
        "spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES)
    )
    # Local runs: keep the UI off and the driver quiet.
    builder = builder.config("spark.ui.enabled", "false")
    # Python workers talk to the JVM over a Unix domain socket, not
    # loopback TCP (see freeze_worker_archives). Static conf: it holds
    # only when this call starts the JVM.
    builder = builder.config(
        "spark.python.unix.domain.socket.enabled", "true")
    # local[N] runs the driver AND all executor threads in one JVM —
    # Spark's 1g default heap is the sf1-tier OOM, not the plans.
    # Static conf: only effective when this call actually starts the
    # JVM (ignored on reuse, and the external driver contract builds
    # its own session).
    builder = builder.config(
        "spark.driver.memory",
        os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_driver_memory(),
    )

    for key, value in (extra_conf or {}).items():
        builder = builder.config(key, value)

    spark = builder.getOrCreate()
    return ensure_session_defaults(spark)
