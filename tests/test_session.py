"""Session-layer settings that only build_session can apply, and the
cost of preparing a session the engine did not build."""

from __future__ import annotations

import functools
import os
import subprocess
import sys

import pytest
from pyspark.sql import DataFrame

import presto_0_235_spark.session as S
from presto_0_235_spark.session import (
    CODEGEN_CACHE_ENTRIES,
    ensure_session_defaults,
    local_rows,
)
from tests.conftest import jobs_submitted

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


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


def test_ensure_defaults_submits_no_job(spark, monkeypatch):
    """Preparing a fresh session runs no Spark job: Python workers fork
    on the first plan that needs them, not at session start, and the
    former opt-in warm-up variable is no longer read."""
    monkeypatch.setenv("SPARK_GRAFT_WARMUP", "1")
    fresh = spark.newSession()
    with jobs_submitted(spark) as jobs:
        ensure_session_defaults(fresh)
    assert jobs == []


def test_static_default_fails_loudly(spark, monkeypatch):
    """A static conf among SESSION_DEFAULTS cannot be set on a live
    session: preparing one raises instead of leaving it silently
    misconfigured."""
    monkeypatch.setitem(S.SESSION_DEFAULTS,
                        "spark.sql.codegen.cache.maxEntries", "2000")
    with pytest.raises(Exception, match="codegen.cache.maxEntries"):
        ensure_session_defaults(spark.newSession())


def test_package_ships_once_per_context(spark):
    """Sessions sharing a SparkContext share its shipped package zip: a
    new session adds no second copy to the tasks' Python includes."""
    ensure_session_defaults(spark)
    sc = spark.sparkContext
    includes = list(sc._python_includes)
    ensure_session_defaults(spark.newSession())
    assert sc in S._SHIPPED_CONTEXTS
    assert sc._python_includes == includes


def test_package_zip_removed_at_exit(tmp_path):
    """The package zip a process builds for its workers is gone once
    the process exits."""
    code = ("import os\n"
            "from presto_0_235_spark.session import _package_zip\n"
            "path = _package_zip()\n"
            "assert os.path.getsize(path) > 0\n"
            "print(path)\n")
    env = dict(os.environ, TMPDIR=str(tmp_path))
    out = subprocess.run([sys.executable, "-c", code], cwd=ROOT, env=env,
                         capture_output=True, text=True, check=True,
                         timeout=120)
    path = out.stdout.strip()
    assert os.path.dirname(path) == str(tmp_path)
    assert os.listdir(tmp_path) == []


def test_local_rows_plans_as_local_relation(spark):
    """Driver-side rows become a LocalRelation: collecting them runs no
    Spark job (a list fed to createDataFrame runs one Python task per
    slice), and longs beyond 2^53 and nulls come back exactly."""
    rows = [(2**62 + 1, "a", 1.5), (None, None, None), (-(2**63), "", 0.0)]
    df = local_rows(spark, rows, "k bigint, s string, v double")
    assert df._jdf.queryExecution().analyzed().nodeName() == "LocalRelation"
    with jobs_submitted(spark) as jobs:
        got = [tuple(r) for r in df.collect()]
    assert jobs == []
    assert got == rows
    empty = local_rows(spark, [], df.schema)
    assert empty.schema == df.schema
    assert empty.collect() == []


def test_worker_trims_per_package_zip_importers(spark):
    """Once a Python worker imports an engine worker module, no
    zipimporter keyed on a package inside an archive is left in
    sys.path_importer_cache, so pyspark's per-task
    importlib.invalidate_caches() re-reads each archive once, not once
    per imported package. A first import of a pyspark submodule in that
    worker still succeeds: its importer is rebuilt from zipimport's
    directory cache."""
    import pandas as pd

    ensure_session_defaults(spark)
    fresh_candidates = ("pyspark.sql.avro.functions",
                        "pyspark.sql.protobuf.functions",
                        "pyspark.mllib.common")

    def probe(batches):
        import importlib
        import sys
        import zipimport

        for _ in batches:
            pass
        # a fresh import of a worker module, whatever this worker ran
        sys.modules.pop("presto_0_235_spark.functions.murmur3", None)
        importlib.import_module("presto_0_235_spark.functions.murmur3")
        zips = [f for f in sys.path_importer_cache.values()
                if isinstance(f, zipimport.zipimporter)]
        nested = [f.archive + "/" + f.prefix for f in zips if f.prefix]
        fresh = next((m for m in fresh_candidates
                      if m not in sys.modules), None)
        loaded = importlib.import_module(fresh).__file__ if fresh else ""
        yield pd.DataFrame({"archives": [len(zips)],
                            "nested": [repr(nested)],
                            "loaded": [loaded]})

    row = spark.range(1, numPartitions=1).mapInPandas(
        probe, "archives int, nested string, loaded string").collect()[0]
    # Spark puts pyspark.zip on the worker's path: archives are in play
    assert row.archives >= 1
    assert row.nested == "[]"
    assert row.loaded


def _package_defs():
    """(path relative to the package, top-level statement) for every
    module of the engine package."""
    import ast

    pkg = os.path.join(ROOT, "presto_0_235_spark")
    for dirpath, _dirs, files in os.walk(pkg):
        for name in (f for f in files if f.endswith(".py")):
            path = os.path.join(dirpath, name)
            with open(path) as f:
                tree = ast.parse(f.read(), path)
            for top in tree.body:
                yield os.path.relpath(path, pkg), top


def _callers(callee: str) -> set[tuple[str, str]]:
    """(module, top-level def) pairs whose body calls ``callee``, by
    name or as an attribute."""
    import ast

    return {(rel, getattr(top, "name", "<module>"))
            for rel, top in _package_defs()
            if any(isinstance(node, ast.Call)
                   and callee in (getattr(node.func, "id", None),
                                  getattr(node.func, "attr", None))
                   for node in ast.walk(top))}


def test_driver_rows_go_through_local_rows():
    """Only the local_rows helper and the RDD-fed sequencefile reader
    call createDataFrame: a list handed to it plans a LogicalRDD that
    runs Python tasks on every execution."""
    assert _callers("createDataFrame") == {
        ("session.py", "local_rows"),
        (os.path.join("queries", "io_q.py"), "io_roundtrip_sequencefile")}


def test_session_defaults_have_one_door():
    """Session defaults are applied where a session is built and by the
    registry's builder wrapper, nowhere else; and no registered
    builder is a hand-written copy of a register_sql declaration."""
    import ast

    assert _callers("ensure_session_defaults") == {
        ("session.py", "build_session"),
        (os.path.join("queries", "registry.py"), "register")}
    copies = []
    for rel, top in _package_defs():
        if not (isinstance(top, ast.FunctionDef) and any(
                isinstance(d, ast.Call)
                and getattr(d.func, "id", None) == "register"
                for d in top.decorator_list)):
            continue
        body = top.body[1:] if ast.get_docstring(top) else top.body
        called = [getattr(getattr(getattr(st, "value", None), "func", None),
                          "id", None) for st in body]
        if called == ["register_views", "run_sql"]:
            copies.append((rel, top.name))
    assert copies == []


def test_registered_builder_applies_defaults_first(monkeypatch):
    """A registered builder is a wrapper that applies the session
    defaults before the body runs and keeps the body's name; a
    register_sql declaration runs its text through the front door
    over the fixture views, and its oracle defaults to that text."""
    from presto_0_235_spark.queries import registry

    calls = []
    monkeypatch.setattr(registry, "_REGISTRY", {})
    monkeypatch.setattr(registry, "ensure_session_defaults",
                        lambda spark: calls.append(("defaults", spark)))
    monkeypatch.setattr(registry, "register_views",
                        lambda spark, sf_dir: calls.append(("views", sf_dir)))
    monkeypatch.setattr(
        registry, "run_sql",
        lambda spark, text: calls.append(("sql", text)) or text)

    def stub_query(spark, sf_dir):
        calls.append(("body", sf_dir))
        return "df"

    builder = registry.register("stub_query", oracle="SELECT 1")(stub_query)
    assert builder.__name__ == "stub_query"
    assert registry._REGISTRY["stub_query"].builder is builder
    assert builder("spark", "sf") == "df"
    assert calls == [("defaults", "spark"), ("body", "sf")]

    calls.clear()
    registry.register_sql("stub_sql", "SELECT 2")
    registry.register_sql("stub_rows_only", "SELECT 3", oracle=None)
    q = registry._REGISTRY["stub_sql"]
    assert q.builder.__name__ == "stub_sql"
    assert q.oracle == "SELECT 2"
    assert registry._REGISTRY["stub_rows_only"].oracle is None
    assert q.builder("spark", "sf") == "SELECT 2"
    assert calls == [("defaults", "spark"), ("views", "sf"),
                     ("sql", "SELECT 2")]
