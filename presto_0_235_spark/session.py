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

    Called at the top of every public query builder so the engine
    behaves identically on a session it did not create (the driver's
    verify harness builds its own). Cheap and job-free: it sets confs
    and ships the package zip once per SparkContext, and never starts
    Python workers (see warmup_python_workers).
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
# Worker-side code distribution (r14)
# ---------------------------------------------------------------------------
# Executor Python workers do not share the driver's sys.path, so every
# module whose functions run inside Arrow UDFs / mapInPandas /
# applyInPandas historically registered itself pickle-BY-VALUE
# (cloudpickle serializes the whole module into every closure). That
# is correct but pays the module's bytecode + constants on every task
# ship — the dominant cost of the geometry-aggregate COLD path (~16 s
# cold vs ~6.5 s warm at sf0.1: 32 fresh Python workers x
# multi-hundred-KB closures). The scalable design (and what a real
# cluster deployment does with --py-files) ships the PACKAGE once per
# SparkContext instead: ensure_session_defaults zips presto_0_235_spark
# and addPyFile()s it, workers import by NAME, and closures shrink to
# references. Sessions from newSession() share their parent's context
# and so its shipped zip; re-adding it would only log a warning and
# grow the task's Python includes. The zip is deleted at interpreter
# exit. The per-module register_pickle_by_value try-blocks
# remain as the fallback for sessions the ship could not reach
# (register_worker_module keeps by-value until the first successful
# ship, then unregisters).
#
# Per-task import cost in the worker. pyspark (4.1) calls
# importlib.invalidate_caches() before EVERY task a Python worker runs
# (worker_util.setup_spark_files). On Python < 3.13 that calls
# invalidate_caches() on every zipimporter in sys.path_importer_cache,
# and each one re-reads its archive's whole central directory. After
# one engine task a worker caches a zipimporter per package it
# imported from an archive: 12 on pyspark.zip (1,328 entries each),
# 2 on the spark-core jar (5,359 each), plus py4j's and the engine
# zip's. That is ~26.7k directory entries re-read per task,
# 0.18-0.27 s on 4 vCPUs: most of a small task's wall time.
# trim_worker_importers drops the per-package importers (those keyed
# on a path INSIDE an archive) when an engine module is imported in a
# worker; the call then costs 0.04-0.07 s. This is safe: each sys.path
# archive keeps its root importer, which still refreshes zipimport's
# directory cache every task, and a later import from a dropped
# package rebuilds its importer from that cache without reading the
# file. Dropping the root importers as well gains nothing: the
# worker's own first-time imports after the trim (pyarrow's pandas
# shim, concurrent.futures) recreate them before the next task.
# Python 3.13's zipimport re-reads lazily, so there the trim only
# saves dict entries.

_WORKER_MODULES: list = []
_SHIPPED_CONTEXTS: "weakref.WeakSet" = weakref.WeakSet()
_PKG_ZIP: str | None = None
_SHIPPED_ANY = False


def trim_worker_importers() -> None:
    """Inside a Python worker, drop the per-package zipimporters from
    sys.path_importer_cache (see the comment above). A no-op on the
    driver."""
    files = sys.modules.get("pyspark.core.files")
    if files is None or not files.SparkFiles._is_running_on_worker:
        return
    import zipimport

    for key, finder in list(sys.path_importer_cache.items()):
        if isinstance(finder, zipimport.zipimporter) and finder.prefix:
            del sys.path_importer_cache[key]


def register_worker_module(mod) -> None:
    """Modules with executor-side code call this at import time.

    Registers the module pickle-by-value (the fallback that always
    works) unless the package has already been shipped to the
    session's workers, in which case by-reference pickling is both
    smaller and faster.
    """
    _WORKER_MODULES.append(mod)
    trim_worker_importers()
    if _SHIPPED_ANY:
        return
    try:  # pragma: no cover - environment-dependent
        from pyspark import cloudpickle as _cp

        _cp.register_pickle_by_value(mod)
    except Exception:
        pass


def _package_zip() -> str | None:
    """Build (once per process) a zip of this package for addPyFile;
    the zip is removed when the interpreter exits."""
    global _PKG_ZIP
    if _PKG_ZIP is not None:
        return _PKG_ZIP or None
    import tempfile
    import zipfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    try:
        fd, path = tempfile.mkstemp(
            prefix="presto_0_235_spark_", suffix=".zip")
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
                        "presto_0_235_spark",
                        os.path.relpath(full, pkg_dir))
                    zf.write(full, rel)
        _PKG_ZIP = path
        return path
    except Exception:  # pragma: no cover - disk-full etc.
        _PKG_ZIP = ""
        return None


def _remove_package_zip(path: str, owner_pid: int) -> None:
    # a forked child inherits this exit hook; only the process
    # that wrote the zip removes it
    if os.getpid() == owner_pid:
        try:
            os.remove(path)
        except OSError:
            pass


def _ship_package(spark: SparkSession) -> None:
    global _SHIPPED_ANY
    try:
        sc = spark.sparkContext
    except Exception:  # pragma: no cover - e.g. connect-only session
        return
    if sc in _SHIPPED_CONTEXTS:
        return
    path = _package_zip()
    if path is None:
        return
    try:
        sc.addPyFile(path)
    except Exception:  # pragma: no cover
        return
    _SHIPPED_CONTEXTS.add(sc)
    if not _SHIPPED_ANY:
        _SHIPPED_ANY = True
        try:
            from pyspark import cloudpickle as _cp

            for mod in _WORKER_MODULES:
                if getattr(mod, "_PICKLE_BY_VALUE_ALWAYS", False):
                    continue
                try:
                    _cp.unregister_pickle_by_value(mod)
                except Exception:
                    pass
            # modules that registered directly (legacy form) are also
            # engine modules — sweep the package namespace; modules
            # whose import is not executor-safe (module-level
            # pandas_udf construction needs a live session) opt out
            # via _PICKLE_BY_VALUE_ALWAYS
            for name, mod in list(sys.modules.items()):
                if (name.startswith("presto_0_235_spark") and mod
                        and not getattr(mod, "_PICKLE_BY_VALUE_ALWAYS",
                                        False)):
                    try:
                        _cp.unregister_pickle_by_value(mod)
                    except Exception:
                        pass
        except Exception:  # pragma: no cover
            pass


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
    # local[N] runs the driver AND all executor threads in one JVM —
    # Spark's 1g default heap is the sf1-tier OOM, not the plans.
    # Static conf: only effective when this call actually starts the
    # JVM (ignored on reuse, and the external driver contract builds
    # its own session).
    builder = builder.config(
        "spark.driver.memory",
        os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"),
    )

    for key, value in (extra_conf or {}).items():
        builder = builder.config(key, value)

    spark = builder.getOrCreate()
    return ensure_session_defaults(spark)
