"""Differential test: every registered query vs its DuckDB oracle.

This is the local mirror of the driver's CORRECTNESS gate — the same
design Presto uses in AbstractTestQueries (514 assertQuery methods
against H2, reference presto-tests/.../AbstractTestQueries.java).
"""

from __future__ import annotations

import pytest

from presto_0_235_spark.queries.registry import all_queries
from tests.conftest import assert_df_matches_oracle

_QUERIES = all_queries()
_WITH_ORACLE = sorted(n for n, q in _QUERIES.items() if q.oracle)
_ROWS_ONLY = sorted(n for n, q in _QUERIES.items() if not q.oracle)
# Iterative label-propagation rows: 35-67 s each (multi-round join+agg
# loops), ~2.5 min of a ~40-minute suite for three rows that the
# per-round full differential (CORRECTNESS_LOCAL artifact) always
# covers. Default-skipped so the external verifier's run completes;
# SPARK_GRAFT_SLOW_TESTS=1 runs them (round close-out does).
_SLOW_ORACLE = {"dedup_connected_components", "dedup_cc_star",
                "dedup_canonical"}


@pytest.mark.parametrize(
    "name",
    [pytest.param(n, marks=pytest.mark.slow) if n in _SLOW_ORACLE
     else n for n in _WITH_ORACLE])
def test_matches_oracle(name, spark, duck, sf_dir):
    q = _QUERIES[name]
    df = q.builder(spark, sf_dir)
    assert_df_matches_oracle(df, duck, q.oracle)


@pytest.mark.parametrize("name", _ROWS_ONLY)
def test_rows_only_runs(name, spark, sf_dir):
    """Non-SQL-expressible ops: must run and yield a stable schema."""
    q = _QUERIES[name]
    df = q.builder(spark, sf_dir)
    assert df.columns, f"{name} produced no columns"
    assert df.count() >= 0


# Queries whose ENGINE side is DecimalType — the oracle matching it
# with a DuckDB DECIMAL is correct there (and only there).
_DECIMAL_ENGINE = {"fn_decimal_arithmetic", "fn_decimal38",
                   "sql_win_nth_frame_scale"}


@pytest.mark.parametrize("name", _WITH_ORACLE)
def test_oracle_no_hugeint_columns(name, duck):
    """No oracle may yield HUGEINT (or an unexpected DECIMAL) result
    column: DuckDB sum(BIGINT) returns HUGEINT, which an Arrow-based
    fetch surfaces as decimal128 — hash-diverging from the engine's
    BIGINT on harnesses that keep the fetched type (r17's one red
    gate row, sql_double_ieee_column_scale). Oracles must CAST such
    sums to BIGINT explicitly."""
    q = _QUERIES[name]
    rel = duck.sql(f"SELECT * FROM ({q.oracle}) LIMIT 0")
    for col, typ in zip(rel.columns, rel.types):
        t = str(typ)
        assert t not in ("HUGEINT", "UHUGEINT"), (
            f"{name}.{col} is {t}: wrap the aggregate in "
            f"CAST(... AS BIGINT)")
        if t.startswith("DECIMAL"):
            assert name in _DECIMAL_ENGINE, (
                f"{name}.{col} is {t} but the engine side is not "
                f"DecimalType — align the oracle's result type")


@pytest.mark.parametrize(
    "name",
    ["io_memory_table", "sql_decimal_agg_column_scale", "sql_ddl_lifecycle"])
def test_builder_leaves_no_temp_view(name, spark, duck, sf_dir):
    """A builder that names an intermediate relation drops the view once
    its result is analyzed: the session's temp views are the same
    before and after the call, and the result still matches its oracle
    (io_system_tables, which lists the temp views, would otherwise
    depend on which queries ran before it)."""
    from presto_0_235_spark.catalog import register_views

    session = spark.newSession()
    register_views(session, sf_dir)

    def temp_views():
        return {t.name for t in session.catalog.listTables()
                if t.tableType == "TEMPORARY"}

    before = temp_views()
    q = _QUERIES[name]
    df = q.builder(session, sf_dir)
    assert temp_views() == before
    assert_df_matches_oracle(df, duck, q.oracle)


@pytest.mark.parametrize("name", ["io_bucketed_join", "io_partition_delete"])
def test_saved_tables_follow_the_full_fixture_path(name, spark, sf_dir,
                                                   tmp_path):
    """Builders that save catalog tables name them from the full fixture
    path: a hyphenated directory name still yields a valid table name,
    and a same-named directory elsewhere with other rows gets its own
    table, not the first one's."""
    import shutil

    import duckdb

    from presto_0_235_spark.catalog import TABLES

    q = _QUERIES[name]
    # the second copy keeps only the even orders
    for sub, orders in (("a", "TRUE"), ("b", "o_orderkey % 2 = 0")):
        copy = tmp_path / sub / "sf0.001-copy"
        shutil.copytree(sf_dir, copy)
        con = duckdb.connect()
        con.execute("SET TimeZone='UTC'")
        con.execute(
            f"COPY (SELECT * FROM read_parquet('{copy}/orders.parquet') "
            f"WHERE {orders}) TO '{copy}/orders.tmp' (FORMAT PARQUET)")
        shutil.move(f"{copy}/orders.tmp", f"{copy}/orders.parquet")
        for table in TABLES:
            con.execute(f"CREATE VIEW {table} AS SELECT * FROM "
                        f"read_parquet('{copy}/{table}.parquet')")
        assert_df_matches_oracle(q.builder(spark, str(copy)), con, q.oracle)
        con.close()


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() >= 0
    assert set(e.oracle_sql()) <= set(e.queries())


@pytest.mark.parametrize("name", [
    "sql_tpcds_q37", "sql_tpcds_q68", "sql_tpcds_q82"])
def test_limit_cut_is_not_a_tie(name):
    """The query's ORDER BY is a unique key over its un-LIMITed result
    at sf0.01, so the LIMIT keeps the same rows on any engine.
    sql_tpcds_q68's inner query groups by (order, customer, ship
    nation): without ship_nation in the ORDER BY, orders shipped from
    several nations tie. q37 and q82 group by (p_name, p_brand,
    p_retailprice): without p_retailprice, same-named parts tie."""
    import os

    import duckdb

    from presto_0_235_spark.catalog import TABLES

    sf = "/root/testdata/sf0.01"
    if not os.path.isdir(sf):
        pytest.skip(f"{sf} not present")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{sf}/{t}.parquet')")
    body, cut = _QUERIES[name].oracle.split("\nORDER BY ")
    keys = cut.split("\nLIMIT")[0]
    unlimited = "SELECT " + keys + "\nFROM" + body.split("\nFROM", 1)[1]
    n, distinct = con.execute(
        f"SELECT count(*), count(DISTINCT ({keys})) FROM ({unlimited})"
    ).fetchone()
    assert n > 100
    assert distinct == n


def test_dedup_canonical_smoke_on_planted_clusters(spark, tmp_path):
    """dedup_canonical's builder and its oracle (LSH bands, the
    recursive-CTE components, the quality arg-max) agree on a small
    documents table with planted near-duplicate clusters, and every
    planted cluster comes out as one component."""
    import random

    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = random.Random(15)
    vocab = [f"w{i}" for i in range(400)] + ["the", "and", "of", "to"]
    rows, planted = [], []
    for c in range(4):
        base = [rng.choice(vocab) for _ in range(40)]
        members = []
        for v in range(3):
            words = list(base)
            if v:  # one word changed: Jaccard ~0.86 with the base
                words[rng.randrange(len(words))] = f"edit{c}{v}"
            members.append(len(rows))
            rows.append(" ".join(words))
        planted.append(members)
    for _ in range(6):
        rows.append(" ".join(rng.choice(vocab) for _ in range(40)))
    pq.write_table(pa.table({
        "doc_id": pa.array(range(len(rows)), pa.int64()),
        "text": rows,
        "lang": ["en"] * len(rows),
        "source": ["web"] * len(rows),
        "n_chars": pa.array([len(t) for t in rows], pa.int64()),
    }), str(tmp_path / "documents.parquet"))

    q = _QUERIES["dedup_canonical"]
    df = q.builder(spark, str(tmp_path))
    con = duckdb.connect()
    con.execute("CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{tmp_path}/documents.parquet')")
    assert_df_matches_oracle(df, con, q.oracle)
    got = {(r.cluster, r.cluster_size) for r in df.collect()}
    assert {(m[0], len(m)) for m in planted} <= got
