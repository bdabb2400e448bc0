"""The front door's shared-CTE rule: ``split_shared_ctes`` finds the
WITH-list CTEs that a statement reads two or more times, and
``run_sql`` computes each once without touching the caller's views.

The finder tests are pure text (no Spark session).
"""

from __future__ import annotations

import pytest

from presto_0_235_spark.catalog import register_views
from presto_0_235_spark.queries.registry import all_queries
from presto_0_235_spark.sql.frontend import run_sql, split_shared_ctes


def bodies(sql: str) -> list[str]:
    pieces = split_shared_ctes(sql)
    assert "".join(pieces) == sql
    return [p.strip() for p in pieces[1::2]]


def test_parens_in_literals_and_comments_do_not_cut_the_body():
    sql = ("WITH t AS (SELECT ')' AS p -- )\n  , /* ( */ 1 AS q FROM x)\n"
           "SELECT * FROM t a, t b")
    assert bodies(sql) == ["SELECT ')' AS p -- )\n  , /* ( */ 1 AS q FROM x"]


def test_cte_read_once_stays_inline():
    sql = "WITH t AS (SELECT 1 AS t) SELECT * FROM t WHERE t > 0"
    assert split_shared_ctes(sql) == (sql,)


def test_qualified_column_is_not_a_read():
    # q11's CTE has a column named like the CTE itself
    sql = ("WITH year_total AS (SELECT 1 AS year_total), y AS (SELECT 2 AS v)\n"
           "SELECT t.year_total FROM year_total t, y WHERE t.year_total > 0")
    assert split_shared_ctes(sql) == (sql,)


def test_reads_after_from_join_and_from_list_commas_count():
    sql = ("WITH a AS (SELECT 1 AS k), b AS (SELECT 2 AS k)\n"
           "SELECT * FROM a x JOIN b ON x.k = b.k, a y\n"
           "WHERE extract(year FROM b) > 0")
    assert bodies(sql) == ["SELECT 1 AS k"]


def test_reads_in_subqueries_count():
    sql = ("WITH a AS (SELECT 1 AS k) SELECT 1 FROM x "
           "WHERE c IN (SELECT k FROM a) AND d IN (SELECT k FROM a)")
    assert bodies(sql) == ["SELECT 1 AS k"]


def test_body_reading_an_earlier_cte_stays_inline():
    sql = ("WITH a AS (SELECT 1 AS k), b AS (SELECT k FROM a)\n"
           "SELECT * FROM a, b, b AS b2")
    assert bodies(sql) == ["SELECT 1 AS k"]


def test_body_with_its_own_with_stays_inline():
    sql = ("WITH a AS (WITH z AS (SELECT 1 AS k) SELECT k FROM z)\n"
           "SELECT * FROM a, a AS a2")
    assert split_shared_ctes(sql) == (sql,)


@pytest.mark.parametrize("sql", [
    "WITH RECURSIVE r AS (SELECT 1 AS k) SELECT * FROM r, r AS r2",
    "SELECT * FROM t, t AS t2",
    "SELECT * FROM (WITH a AS (SELECT 1) SELECT * FROM a, a AS a2) s",
    "WITH",
    "WITH a AS (SELECT 1",
])
def test_statements_without_a_shareable_with_list_are_untouched(sql):
    assert split_shared_ctes(sql) == (sql,)


def test_column_aliases_and_several_shared_ctes():
    sql = ("WITH a (k) AS (SELECT 1), b AS (SELECT 2 AS k)\n"
           "SELECT * FROM a, a AS a2, b, b AS b2")
    assert bodies(sql) == ["SELECT 1", "SELECT 2 AS k"]


def test_run_sql_leaves_session_views_alone(spark, sf_dir):
    """The CTEs of q11 (year_total) and q47 (v1) must not replace the
    caller's views of the same names, and run_sql must leave no view
    of its own behind."""
    register_views(spark, sf_dir)
    spark.range(3).createOrReplaceTempView("year_total")
    spark.range(5).createOrReplaceTempView("v1")
    try:
        before = sorted(t.name for t in spark.catalog.listTables())
        queries = all_queries()
        for name in ("sql_tpcds_q11", "sql_tpcds_q47"):
            assert queries[name].builder(spark, sf_dir).count() > 0
            assert sorted(t.name for t in spark.catalog.listTables()) \
                == before
        run_sql(spark, queries["sql_tpcds_q11"].oracle).collect()
        assert sorted(t.name for t in spark.catalog.listTables()) == before
        assert spark.table("year_total").count() == 3
        assert spark.table("v1").count() == 5
    finally:
        spark.catalog.dropTempView("year_total")
        spark.catalog.dropTempView("v1")
