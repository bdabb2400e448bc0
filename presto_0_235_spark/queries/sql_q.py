"""SQL front door queries (SURVEY.md §7 Phase 5).

Presto is SQL-first: parse -> analyze -> plan (reference
PARSER/SqlParser.java:101, grammar SqlBase.g4). The engine's front
door is sql/frontend.run_sql — Spark SQL plus a thin Presto-dialect
rewrite (UNNEST [WITH ORDINALITY], quantified comparisons). Each
query here enters through SQL text, not DataFrame builders, proving
the surface a Presto user actually types keeps working: CTEs,
set ops, CASE/LIKE/IN/BETWEEN, lateral correlation, EXPLAIN.

Scale note: SQL and DataFrame paths produce the same Catalyst plans;
nothing here changes plan shape vs the DataFrame twins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from presto_0_235_spark.catalog import register_views
from presto_0_235_spark.queries.registry import register, register_sql
from presto_0_235_spark.sql.frontend import run_sql

# Most queries here are register_sql declarations: one text that the
# front door runs and DuckDB replays as the oracle — that is the point:
# the front door accepts ANSI/Presto SQL. A declaration passes oracle=
# only where DuckDB needs a different spelling (or None: rows-only).


# TPC-H Q6 submitted as SQL text through the front door
# (scan+filter+global agg; BETWEEN predicate — reference grammar
# SqlBase.g4 predicated rules, InCodeGenerator/LIKE compiled
# filters).
register_sql(
    "sql_tpch_q6",
    """
SELECT CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(18,6)))
            AS DOUBLE) AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
""",
)


# CTEs + INTERSECT + ordered LIMIT via SQL (grammar
# SqlBase.g4:130-136 for WITH, :205-210 for set ops; lowering
# ImplementIntersectAndExceptAsUnion.java:110 — Spark plans a
# left-semi join instead, same semantics).
register_sql(
    "sql_cte_setops",
    """
WITH big AS (
  SELECT o_custkey AS k FROM orders WHERE o_totalprice > 250000
),
urgent AS (
  SELECT o_custkey AS k FROM orders WHERE o_orderpriority = '1-URGENT'
)
SELECT k FROM (
  SELECT k FROM big INTERSECT SELECT k FROM urgent
) t
ORDER BY k
LIMIT 50
""",
)


@register(
    "sql_unnest_ordinality",
    oracle="""
SELECT p_partkey, t.word, t.ord
FROM (
  SELECT p_partkey,
         unnest(string_split(p_name, ' ')) AS word,
         unnest(generate_series(1, len(string_split(p_name, ' ')))) AS ord
  FROM part
  WHERE p_partkey < 100
) t
""",
)
def sql_unnest_ordinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Presto `CROSS JOIN UNNEST(...) WITH ORDINALITY` syntax through
    the dialect rewrite (grammar SqlBase.g4:304,
    UnnestOperator.java:48 — 1-based ordinality). The frontend
    rewrites to a correlated LATERAL posexplode that emits the
    user's declared ordinality alias with Presto's 1-based values —
    the query below references `ord` exactly as written in Presto.
    DuckDB zips parallel unnests for the oracle."""
    register_views(spark, sf_dir)
    return run_sql(
        spark,
        """
        SELECT p_partkey, word, ord AS ord
        FROM part
        CROSS JOIN UNNEST(split(p_name, ' ')) WITH ORDINALITY AS t (word, ord)
        WHERE p_partkey < 100
        """,
    ).selectExpr("p_partkey", "word", "CAST(ord AS BIGINT) AS ord")


@register(
    "sql_unnest_multi_array",
    oracle="""
SELECT p_partkey,
       unnest(str_split(p_name, ' ')) AS w,
       unnest(range(1, 4)) AS n
FROM part
WHERE p_partkey < 50
""",
)
def sql_unnest_multi_array(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Presto parallel-array UNNEST — `UNNEST(a, b) AS t(x, y)` zips
    the arrays, padding the shorter with NULLs (UnnestOperator.java
    zips all unnest channels). The frontend lowers to
    explode(zip_with(...)) in a lateral; DuckDB's parallel unnest has
    identical pad semantics for the oracle."""
    register_views(spark, sf_dir)
    return run_sql(
        spark,
        """
        SELECT p_partkey, w, n
        FROM part
        CROSS JOIN UNNEST(split(p_name, ' '), sequence(1, 3)) AS t (w, n)
        WHERE p_partkey < 50
        """,
    ).selectExpr("p_partkey", "w", "CAST(n AS BIGINT) AS n")


# Quantified comparison `> ALL (subquery)` — Presto lowers it to
# an aggregate (TransformQuantifiedComparisonApplyToLateralJoin.java);
# the frontend applies the same MAX/MIN rewrite since Spark SQL has
# no quantified comparisons.
register_sql(
    "sql_quantified_all",
    """
SELECT o_orderkey, o_totalprice
FROM orders
WHERE o_totalprice > ALL (
  SELECT o_totalprice FROM orders WHERE o_orderpriority = '5-LOW'
)
ORDER BY o_orderkey
""",
)


# Predicate surface via SQL: searched CASE, LIKE, IN-list,
# BETWEEN, COALESCE/NULLIF (reference compiled predicates —
# InCodeGenerator.java, LikeFunctions Joni regex,
# SqlBase.g4 predicate rules).
register_sql(
    "sql_case_like_in",
    """
SELECT p_partkey,
       CASE WHEN p_size < 10 THEN 'small'
            WHEN p_size < 30 THEN 'medium'
            ELSE 'large' END AS size_class,
       p_name LIKE '%red%' AS is_red,
       p_brand IN ('Brand#1', 'Brand#2', 'Brand#3') AS is_low_brand,
       p_size BETWEEN 10 AND 20 AS mid_size,
       coalesce(nullif(p_brand, 'Brand#33'), 'other') AS brand_or_other
FROM part
WHERE p_partkey < 500
""",
)


# Correlated LATERAL subquery (grammar SqlBase.g4:305,
# LateralJoinNode + decorrelation rules; Spark 3.2+ lateral join
# support — both engines decorrelate to an aggregate+join).
register_sql(
    "sql_lateral_join",
    """
        SELECT n.n_name, t.top_price
        FROM nation n
        JOIN LATERAL (
          SELECT max(o_totalprice) AS top_price
          FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
          WHERE c.c_nationkey = n.n_nationkey
        ) t
        WHERE n.n_nationkey < 10
        ORDER BY n.n_name
        """,
    oracle="""
SELECT n.n_name, t.top_price
FROM nation n
JOIN LATERAL (
  SELECT max(o_totalprice) AS top_price
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
  WHERE c.c_nationkey = n.n_nationkey
) t ON TRUE
WHERE n.n_nationkey < 10
ORDER BY n.n_name
""",
)


@register(
    "sql_presto_function_names",
    oracle="""
SELECT o_orderkey,
       CAST(instr(o_orderpriority, '-') AS BIGINT) AS dash_pos,
       CAST(len(string_split(o_orderpriority, '-')) AS BIGINT) AS n_parts,
       list_contains(string_split(o_orderpriority, '-'), 'URGENT')
         AS has_urgent,
       dayofmonth(o_orderdate) AS dom,
       dayofyear(o_orderdate) AS doy,
       CAST(epoch(o_orderdate) AS BIGINT) AS epoch_s,
       lower(hex(CAST(o_orderstatus AS BLOB))) AS status_hex,
       to_base64(CAST(o_orderstatus AS BLOB)) AS status_b64
FROM orders
WHERE o_orderkey < 1000
""",
)
def sql_presto_function_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Presto-named functions through the front door: strpos,
    cardinality, contains, day_of_month/day_of_year, to_unixtime,
    to_hex, to_base64 (reference names registered in
    BuiltInFunctionNamespaceManager.java:435+). The frontend's
    lexical rename table (sql/frontend.PRESTO_FN_RENAMES) maps each
    to its same-semantics Spark twin — names with *different*
    semantics (day_of_week ISO vs Sunday-based) are deliberately
    excluded from lexical rewriting."""
    register_views(spark, sf_dir)
    return run_sql(
        spark,
        """
        SELECT o_orderkey,
               CAST(strpos(o_orderpriority, '-') AS BIGINT) AS dash_pos,
               CAST(cardinality(split(o_orderpriority, '-')) AS BIGINT)
                 AS n_parts,
               contains(split(o_orderpriority, '-'), 'URGENT') AS has_urgent,
               day_of_month(o_orderdate) AS dom,
               CAST(day_of_year(o_orderdate) AS INT) AS doy,
               to_unixtime(o_orderdate) AS epoch_s,
               lower(to_hex(CAST(o_orderstatus AS BINARY))) AS status_hex,
               to_base64(CAST(o_orderstatus AS BINARY)) AS status_b64
        FROM orders
        WHERE o_orderkey < 1000
        """,
    ).selectExpr(
        "o_orderkey",
        "dash_pos",
        "n_parts",
        "has_urgent",
        "CAST(dom AS BIGINT) AS dom",
        "CAST(doy AS BIGINT) AS doy",
        "CAST(epoch_s AS BIGINT) AS epoch_s",
        "status_hex",
        "status_b64",
    )


@register(
    "sql_ddl_lifecycle",
    oracle="""
SELECT o_orderpriority, count(*) AS n, max(o_totalprice) AS top
FROM orders
WHERE o_totalprice > 100000
GROUP BY o_orderpriority
""",
)
def sql_ddl_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DDL surface (reference MAIN/execution/CreateTableTask etc.,
    grammar SqlBase.g4:33-190): CREATE OR REPLACE TEMPORARY VIEW over
    a query, then query the view — the session-catalog lifecycle a
    Presto user drives with CREATE VIEW/TABLE AS."""
    register_views(spark, sf_dir)
    run_sql(
        spark,
        """
        CREATE OR REPLACE TEMPORARY VIEW big_orders AS
        SELECT * FROM orders WHERE o_totalprice > 100000
        """,
    )
    return run_sql(
        spark,
        """
        SELECT o_orderpriority, count(*) AS n, max(o_totalprice) AS top
        FROM big_orders
        GROUP BY o_orderpriority
        """,
    )


# Presto TRY(...) (MAIN/operator/scalar/TryFunction.java —
# errors become NULL) through the dialect rewrite: TRY(CAST ...)
# lowers to TRY_CAST, TRY(a / b) to try_divide. The division by
# (o_orderkey % 3) = 0 raises under the session's ANSI mode without
# the rewrite — the NULLs prove the TRY path executed.
register_sql(
    "sql_try_expr",
    """
        SELECT o_orderkey,
               TRY(CAST(o_orderpriority AS INTEGER)) AS pri_int,
               TRY(CAST(substr(o_orderpriority, 1, 1) AS INTEGER)) AS pri_digit,
               TRY(o_totalprice / (o_orderkey % 3)) AS safe_div
        FROM orders WHERE o_orderkey < 500
        """,
    oracle="""
SELECT o_orderkey,
       TRY_CAST(o_orderpriority AS INTEGER) AS pri_int,
       TRY_CAST(substr(o_orderpriority, 1, 1) AS INTEGER) AS pri_digit,
       CASE WHEN (o_orderkey % 3) = 0 THEN NULL
            ELSE CAST(o_totalprice / (o_orderkey % 3) AS DOUBLE) END
         AS safe_div
FROM orders WHERE o_orderkey < 500
""",
)


# Presto 1-based subscripts and ARRAY[...]/MAP(ARRAY..) literals
# (ArraySubscriptOperator.java is 1-based — Spark's native a[i] is
# 0-based, so a pass-through would silently shift every element;
# SqlBase.g4 ARRAY/MAP constructors). The frontend rewrites a[i] ->
# element_at(a, i), ARRAY[..] -> array(..), MAP(ARRAY..,ARRAY..) ->
# map_from_arrays. DuckDB subscripts are natively 1-based.
register_sql(
    "sql_subscript_array_literal",
    """
        SELECT p_partkey,
               split(p_name, ' ')[1] AS first_word,
               split(p_name, ' ')[2] AS second_word,
               ARRAY['small', 'medium', 'large'][1 + (p_size % 3)]
                 AS size_bucket,
               MAP(ARRAY['s', 'm'], ARRAY[1, 2])['m'] AS map_val
        FROM part WHERE p_partkey < 300
        """,
    oracle="""
SELECT p_partkey,
       str_split(p_name, ' ')[1] AS first_word,
       str_split(p_name, ' ')[2] AS second_word,
       (['small', 'medium', 'large'])[1 + (p_size % 3)] AS size_bucket,
       map(['s', 'm'], [1, 2])['m'][1] AS map_val
FROM part WHERE p_partkey < 300
""",
)


# Aggregate FILTER (WHERE ...) straight through the front door —
# identical grammar in Presto (SqlBase.g4:450-452 filter rule,
# lowered by AggregationNode masks) and Spark; the frontend's
# quote-aware passes must leave it untouched.
register_sql(
    "sql_filter_clause",
    """
        SELECT o_orderpriority,
               count(*) FILTER (WHERE o_totalprice > 150000) AS n_big,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,6)))
                      FILTER (WHERE o_orderstatus = 'F') AS DOUBLE) AS sum_f,
               max(o_totalprice) FILTER (WHERE o_orderstatus = 'O') AS max_open
        FROM orders
        GROUP BY o_orderpriority
        """,
    oracle="""
SELECT o_orderpriority,
       CAST(count(*) FILTER (WHERE o_totalprice > 150000) AS BIGINT)
         AS n_big,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,6)))
              FILTER (WHERE o_orderstatus = 'F') AS DOUBLE) AS sum_f,
       CAST(max(o_totalprice) FILTER (WHERE o_orderstatus = 'O') AS DOUBLE)
         AS max_open
FROM orders
GROUP BY o_orderpriority
""",
)


# Presto lambda syntax `x -> e` (SqlBase.g4 lambda rule,
# LambdaDefinitionExpression) — char-identical in Spark; the
# rewrite passes must not corrupt `->` or fire renames incorrectly
# inside lambda bodies. aggregate/transform/filter cover the
# higher-order family (reference ArrayTransformFunction.java,
# ArrayFilterFunction.java, ArrayReduceFunction.java).
#
# Gate-facing variant: the lambda results are flattened to scalar
# strings with array_join so every output column is a hashable
# scalar the external harness's pandas canonicalizer can sort
# (an array-typed column crashed the r10 driver gate — the
# array-output twin lives on as ``sql_lambda_arrays`` outside the
# priority prefix).
register_sql(
    "sql_lambda_functions",
    """
        SELECT p_partkey,
               array_join(
                 transform(split(p_name, ' '), x -> upper(x)), '|')
                 AS words_up,
               array_join(
                 filter(split(p_name, ' '), x -> length(x) > 5), '|')
                 AS long_words,
               aggregate(transform(split(p_name, ' '), x -> length(x)),
                         0L, (s, x) -> s + x) AS total_len
        FROM part WHERE p_partkey < 200
        """,
    oracle="""
SELECT p_partkey,
       COALESCE(array_to_string(
         list_transform(str_split(p_name, ' '), x -> upper(x)), '|'), '')
         AS words_up,
       COALESCE(array_to_string(
         list_filter(str_split(p_name, ' '), x -> len(x) > 5), '|'), '')
         AS long_words,
       CAST(list_sum(list_transform(str_split(p_name, ' '), x -> len(x)))
            AS BIGINT) AS total_len
FROM part WHERE p_partkey < 200
""",
)


# The array-output lambda variant (top-level ARRAY<STRING>
# columns) — kept OUT of the priority prefix: the local harness
# canonicalizes array cells to tuples before sorting, the external
# one does not (r10 gate crash). Covers the same higher-order
# surface as sql_lambda_functions with the raw array schema.
register_sql(
    "sql_lambda_arrays",
    """
        SELECT p_partkey,
               transform(split(p_name, ' '), x -> upper(x)) AS words_up,
               filter(split(p_name, ' '), x -> length(x) > 5) AS long_words,
               aggregate(transform(split(p_name, ' '), x -> length(x)),
                         0L, (s, x) -> s + x) AS total_len
        FROM part WHERE p_partkey < 200
        """,
    oracle="""
SELECT p_partkey,
       list_transform(str_split(p_name, ' '), x -> upper(x)) AS words_up,
       list_filter(str_split(p_name, ' '), x -> len(x) > 5) AS long_words,
       CAST(list_sum(list_transform(str_split(p_name, ' '), x -> len(x)))
            AS BIGINT) AS total_len
FROM part WHERE p_partkey < 200
""",
)


# Presto INTERVAL literals — day-time AND year-month
# (StandardTypes.java:31-32 INTERVAL_YEAR_TO_MONTH /
# INTERVAL_DAY_TO_SECOND; grammar intervalLiteral): quoted
# single-field and YEAR TO MONTH forms parse unchanged in Spark.
# The `'1-2' YEAR TO MONTH` literal is 14 months — the oracle
# states it in months (DuckDB lacks the compound literal).
register_sql(
    "sql_interval_literals",
    """
        SELECT o_orderkey,
               CAST(o_orderdate + INTERVAL '3' DAY AS DATE) AS plus_3d,
               CAST(o_orderdate + INTERVAL '1-2' YEAR TO MONTH AS DATE)
                 AS plus_1y2m,
               o_orderdate - INTERVAL '36' HOUR AS minus_36h,
               (CAST(o_orderdate AS DATE) > DATE '1996-06-30') AS after_cutoff
        FROM orders WHERE o_orderkey < 400
        """,
    oracle="""
SELECT o_orderkey,
       CAST(o_orderdate + INTERVAL 3 DAY AS DATE) AS plus_3d,
       CAST(o_orderdate + INTERVAL 14 MONTH AS DATE) AS plus_1y2m,
       CAST(o_orderdate - INTERVAL 36 HOUR AS TIMESTAMP) AS minus_36h,
       (CAST(o_orderdate AS DATE) > DATE '1996-06-30') AS after_cutoff
FROM orders WHERE o_orderkey < 400
""",
)


# Presto double-quoted identifiers (SqlBase.g4 quotedIdentifier)
# -> Spark backticks, with quote-aware rewriting: the string
# literal and comment deliberately contain `strpos(` and `ARRAY[`,
# which the masked passes must NOT rewrite. DuckDB reads the
# double-quoted originals natively.
register_sql(
    "sql_quoted_identifiers",
    """
SELECT "o_orderkey" AS key_col,
       'contains strpos( and ARRAY[ 1 ] inside' AS tricky_literal,
       "o_orderpriority" AS "mixed Case alias"
FROM orders
WHERE "o_orderkey" < 100 -- strpos( in a comment stays put
""",
)


# Quantified-comparison edge semantics that the naive MIN/MAX
# lowering gets wrong (Presto's count-guarded lowering,
# TransformQuantifiedComparisonApplyToLateralJoin.java): `> ALL
# (empty)` must be TRUE, `> ANY (empty)` FALSE, and a NULL-bearing
# subquery yields UNKNOWN unless a definite witness exists. DuckDB
# evaluates native quantified comparisons as the oracle.
register_sql(
    "sql_quantified_edge",
    """
SELECT o_orderkey,
       o_totalprice > ALL (SELECT o_totalprice FROM orders WHERE 1 = 0)
         AS gt_all_empty,
       o_totalprice > ANY (SELECT o_totalprice FROM orders WHERE 1 = 0)
         AS gt_any_empty,
       o_totalprice < ALL (
         SELECT CASE WHEN o2.o_orderkey % 2 = 0 THEN NULL
                     ELSE o2.o_totalprice + 500000 END
         FROM orders o2 WHERE o2.o_orderkey < 40
       ) AS lt_all_nullmix
FROM orders WHERE o_orderkey < 60
""",
)


_QUANTIFIED_EQUALITY_SQL = """
WITH probe AS (
  SELECT o_orderkey,
         o_orderkey % 7 AS k7,
         CASE WHEN o_orderkey % 11 = 0 THEN NULL
              ELSE o_orderkey % 7 END AS k7n,
         o_totalprice
  FROM orders WHERE o_orderkey < 100
)
SELECT o_orderkey,
       k7 = ANY (SELECT o2.o_orderkey % 5 FROM orders o2
                 WHERE o2.o_orderkey < 30) AS eq_any,
       k7n = ANY (SELECT o3.o_orderkey % 5 FROM orders o3
                  WHERE o3.o_orderkey < 30) AS eq_any_null_lhs,
       k7 <> ALL (SELECT CASE WHEN o4.o_orderkey % 4 = 0 THEN NULL
                              ELSE o4.o_orderkey % 5 END
                  FROM orders o4 WHERE o4.o_orderkey < 30) AS ne_all_nullmix,
       o_totalprice = ALL (SELECT o5.o_totalprice FROM orders o5
                           WHERE o5.o_orderkey = -1) AS eq_all_empty,
       o_totalprice <> ANY (SELECT CASE WHEN o6.o_orderkey % 2 = 0
                                        THEN NULL ELSE o6.o_totalprice END
                            FROM orders o6
                            WHERE o6.o_orderkey < 20) AS ne_any_nullmix
FROM probe
"""


# Equality-form quantified comparisons `= ANY / <> ALL / = ALL /
# <> ANY` — the r10 front-door lowering
# (TransformQuantifiedComparisonApplyToLateralJoin.java's
# count-guarded 3-valued semantics), promoted from the reference
# corpus into the registry so the external gate hash-checks the
# surface directly. Covers: plain membership, NULL lhs with a
# non-empty subquery (-> NULL), a NULL-bearing subquery without a
# definite witness (-> NULL), `= ALL` over an empty subquery
# (-> TRUE), and `<> ANY` over a null mix. All outputs are scalar
# booleans (gate-harness-safe). DuckDB evaluates the identical
# text natively as the oracle. Since r11 the lowering reads its
# guards from a single struct scalar subquery (one scan; = ANY
# membership keeps one extra IN semi-join — see sql/frontend.py
# _quantified_equality).
register_sql("sql_quantified_equality", _QUANTIFIED_EQUALITY_SQL)


@register(
    "sql_explain_analyze",
    oracle="""
SELECT 'Scan parquet ' AS operator, 'numOutputRows' AS metric,
       (SELECT count(*) FROM lineitem) AS value
UNION ALL
SELECT 'HashAggregate' AS operator, 'numOutputRows' AS metric,
       (SELECT count(DISTINCT l_returnflag) FROM lineitem) AS value
""",
)
def sql_explain_analyze(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXPLAIN ANALYZE (MAIN/operator/ExplainAnalyzeOperator.java):
    the query executes and per-operator RUNTIME statistics come back.
    The deterministic slice is oracle-checked against first
    principles: the scan must report exactly count(lineitem) output
    rows and the final aggregate exactly the group count — proving
    the numbers are real measurements, not plan estimates. Timing
    metrics (scanTime, aggTime, shuffle bytes) are returned by
    plans.explain_analyze too but excluded here as run-specific."""
    from presto_0_235_spark.plans import explain_analyze

    register_views(spark, sf_dir)
    from pyspark.sql import functions as F

    stats = explain_analyze(
        spark,
        run_sql(
            spark,
            "SELECT l_returnflag, count(*) AS n FROM lineitem "
            "GROUP BY l_returnflag",
        ),
    )
    scan = stats.filter(
        F.col("operator").startswith("Scan parquet")
        & (F.col("metric") == "numOutputRows")
    ).select(F.lit("Scan parquet ").alias("operator"), "metric", "value")
    final_agg = (
        stats.filter(
            (F.col("operator") == "HashAggregate")
            & (F.col("metric") == "numOutputRows")
        )
        .orderBy("op_id")
        .limit(1)
        .select("operator", "metric", "value")
    )
    return scan.unionByName(final_agg)


# EXPLAIN through the front door (ExplainAnalyzeOperator /
# EXPLAIN task in the reference). Plan text is engine-specific —
# rows-only check.
register_sql(
    "sql_explain",
    "EXPLAIN SELECT l_returnflag, count(*) FROM lineitem "
    "GROUP BY l_returnflag",
    oracle=None,
)


@register(
    "sql_udaf_custom",
    oracle="""
SELECT o_orderpriority,
       list_sum((list_sort(list(o_totalprice), 'DESC'))[1:3]) AS top3_total
FROM orders
GROUP BY o_orderpriority
""",
)
def sql_udaf_custom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom UDAF surface (reference @AggregationFunction plugins,
    presto-tests CustomSum.java): an Arrow grouped-agg pandas UDF —
    sum of the 3 largest order totals per priority — registered and
    grouped like any built-in aggregate. Deterministic (sorted
    fixed-order sum), so DuckDB replays it exactly with
    list_sort+slice."""
    from presto_0_235_spark.functions.udfs import top3_sum

    register_views(spark, sf_dir)
    return (
        spark.table("orders")
        .groupBy("o_orderpriority")
        .agg(top3_sum("o_totalprice").alias("top3_total"))
    )


@register(
    "sql_udtf_lateral",
    oracle="""
SELECT p_partkey,
       unnest(str_split(p_name, ' ')) AS word,
       unnest(range(1, len(str_split(p_name, ' ')) + 1)) AS pos
FROM part WHERE p_partkey < 60
""",
)
def sql_udtf_lateral(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF in LATERAL position — a user TABLE function
    exploding each part name into (word, pos) rows, the surface the
    reference caps at built-in UNNEST (SURVEY.md §2.11; Spark's
    Python UDTFs exceed it). Deterministic -> full DuckDB oracle."""
    from presto_0_235_spark.functions.udfs import make_split_words_udtf

    register_views(spark, sf_dir)
    spark.udtf.register("split_words", make_split_words_udtf())
    return run_sql(
        spark,
        """
        SELECT p.p_partkey, s.word, s.pos
        FROM part p, LATERAL split_words(p.p_name) s
        WHERE p.p_partkey < 60
        """,
    )


@register(
    "sql_create_function",
    oracle="""
SELECT o_orderkey,
       CASE WHEN o_totalprice >= 200000 THEN 'high'
            WHEN o_totalprice >= 100000 THEN 'mid'
            ELSE 'low' END AS band,
       o_orderkey * 2 + 1 AS seq
FROM orders WHERE o_orderkey < 500
""",
)
def sql_create_function(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL-declared functions via the CREATE FUNCTION statement path
    (reference grammar SqlBase.g4:62-66, CreateFunctionTask.java:47 —
    Presto 0.235's SQL-function DDL): the function body is SQL, the
    declaration is a statement through the front door, and the
    function is then callable from any query — exactly the
    SqlInvokedFunction surface. Spark-first: SQL scalar UDFs
    (CREATE TEMPORARY FUNCTION ... RETURNS ... RETURN expr), which
    stay expression-level — the body inlines into the plan, keeping
    whole-stage codegen (no Python in the hot path). Deterministic
    pure-SQL bodies -> full DuckDB oracle with the bodies inlined."""
    register_views(spark, sf_dir)
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION price_band(p DOUBLE) "
        "RETURNS STRING RETURN CASE WHEN p >= 200000 THEN 'high' "
        "WHEN p >= 100000 THEN 'mid' ELSE 'low' END"
    )
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION odd_seq(k BIGINT) "
        "RETURNS BIGINT RETURN k * 2 + 1"
    )
    return run_sql(
        spark,
        """
        SELECT o_orderkey, price_band(o_totalprice) AS band,
               odd_seq(o_orderkey) AS seq
        FROM orders WHERE o_orderkey < 500
        """,
    )


@register("sql_udf_registration", oracle=None)
def sql_udf_registration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User-defined function surface (reference SPI Plugin
    getFunctions / CREATE FUNCTION, SqlBase.g4:62-66,
    CreateFunctionTask.java): register a Python function into the
    session catalog and call it from SQL. word_stem is the engine's
    pandas UDF (functions/udfs.py); registration makes it a SQL
    citizen exactly like a Presto plugin function. Deterministic but
    engine-specific -> rows-only."""
    from presto_0_235_spark.functions.udfs import word_stem

    register_views(spark, sf_dir)
    spark.udf.register("word_stem", word_stem)
    return run_sql(
        spark,
        """
        SELECT p_partkey, word_stem(element_at(split(p_name, ' '), 1)) AS stem
        FROM part WHERE p_partkey < 100
        """,
    )


@register(
    "sql_show_metadata",
    oracle="""
SELECT 'table' AS kind, table_name AS name, '-' AS dtype
FROM information_schema.tables
WHERE table_name IN ('region', 'nation', 'customer', 'supplier',
                     'part', 'orders', 'lineitem', 'events',
                     'documents', 'embeddings')
UNION ALL
SELECT 'column' AS kind, column_name AS name,
       CASE lower(data_type)
         WHEN 'varchar' THEN 'string'
         WHEN 'integer' THEN 'int'
         ELSE lower(data_type)
       END AS dtype
FROM information_schema.columns
WHERE table_name = 'lineitem'
""",
)
def sql_show_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Catalog introspection — SHOW TABLES + SHOW COLUMNS (reference
    ShowQueriesRewrite.java:204/253 rewrites both into
    information_schema scans; presto-main ShowColumns/ShowTables AST
    nodes). Spark answers the same statements from its session
    catalog; the oracle IS the information_schema query Presto would
    rewrite to, with the engine type-name dialect normalized
    (varchar->string, integer->int). SHOW TABLES is filtered to the
    fixture names so temp views other queries registered in the same
    session can't perturb the result."""
    from pyspark.sql import functions as F

    from presto_0_235_spark.catalog import TABLES

    register_views(spark, sf_dir)
    tabs = (
        spark.sql("SHOW TABLES")
        .filter(F.col("tableName").isin(*TABLES))
        .select(
            F.lit("table").alias("kind"),
            F.col("tableName").alias("name"),
            F.lit("-").alias("dtype"),
        )
    )
    cols = (
        spark.sql("DESCRIBE TABLE lineitem")
        .filter(~F.col("col_name").startswith("#"))
        .select(
            F.lit("column").alias("kind"),
            F.col("col_name").alias("name"),
            # Spark 4 displays parquet timestamps as timestamp_ntz;
            # Presto's TIMESTAMP is the same wall-clock (no-zone)
            # type (SPI TimestampType), displayed without the suffix.
            F.regexp_replace(
                F.col("data_type"), "^timestamp_ntz$", "timestamp"
            ).alias("dtype"),
        )
    )
    return tabs.unionAll(cols)


@register(
    "sql_prepared_execute",
    oracle="""
SELECT o_orderpriority, count(*) AS n,
       CAST(SUM(CAST(round(o_totalprice * 1000000) AS BIGINT)) AS DOUBLE)
         / 1000000.0 AS total
FROM orders
WHERE o_totalprice > 150000.0
  AND o_orderdate < TIMESTAMP '1997-01-01'
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""",
)
def sql_prepared_execute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prepared statements — Presto's PREPARE stmt FROM ... /
    EXECUTE stmt USING 150000.0, ... surface (reference
    PrepareTask.java:39, QueryPreparer.java; grammar
    SqlBase.g4 EXECUTE ... USING). Spark-first: parameterized
    spark.sql(query, args) — named parameter markers bind
    server-side exactly like Presto's positional ?-markers, the
    parameters never splice into the SQL text (injection-safe), and
    the bound plan is cached/reusable. The oracle inlines the same
    literals."""
    from presto_0_235_spark.functions.compat import dec_sum

    register_views(spark, sf_dir)
    from pyspark.sql import functions as F

    df = spark.sql(
        """
        SELECT o_orderpriority, count(*) AS n,
               sum(cast(round(o_totalprice * 1000000) AS BIGINT)) AS ts
        FROM orders
        WHERE o_totalprice > :minp
          AND o_orderdate < CAST(:cutoff AS TIMESTAMP)
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
        """,
        args={"minp": 150000.0, "cutoff": "1997-01-01"},
    )
    return df.select(
        "o_orderpriority",
        "n",
        (F.col("ts").cast("double") / 1_000_000.0).alias("total"),
    )


_SQL_Q1 = """
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE)
         AS sum_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE)
         AS sum_base_price,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                     AS DECIMAL(18,6))) AS DOUBLE)
         AS sum_disc_price,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax)
                     AS DECIMAL(18,6))) AS DOUBLE)
         AS sum_charge,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-12-01' - INTERVAL '90' DAY
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


# TPC-H Q1 as SQL text through the front door — the pricing
# summary report with its INTERVAL-literal date arithmetic
# (reference grammar SqlBase.g4 interval rule; the dialect layer
# normalizes Presto INTERVAL '90' DAY). Money sums cross the exact
# DECIMAL(18,6) hop in the text itself, so the same statement is
# exact on Spark and on the DuckDB oracle.
register_sql("sql_tpch_q1", _SQL_Q1)


_SQL_Q5 = """
SELECT n_name,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                     AS DECIMAL(18,6))) AS DOUBLE) AS revenue
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1996-01-01' + INTERVAL '2' YEAR
GROUP BY n_name
ORDER BY revenue DESC, n_name
"""


# TPC-H Q5 as SQL text through the front door: the 6-way star
# join with a compound join predicate and year-interval date
# arithmetic. The text carries no distribution hints — join order
# and broadcast choices belong entirely to the optimizer, exactly
# how a Presto user runs it (ReorderJoins.java +
# DetermineJoinDistributionType.java; Catalyst + AQE here).
register_sql("sql_tpch_q5", _SQL_Q5)


# Presto URL functions typed as SQL through the front door
# (UrlFunctions.java:45-193): the dialect layer rewrites
# url_extract_protocol/host/port/path/fragment/parameter into
# parse_url templates (frontend._rewrite_url_fns) — not lexical
# renames, since parse_url takes a part selector and PORT needs an
# expression.
register_sql(
    "sql_url_functions",
    """
        SELECT doc_id,
               url_extract_protocol(url) AS proto,
               url_extract_host(url) AS host,
               url_extract_port(url) AS port,
               url_extract_path(url) AS path,
               url_extract_fragment(url) AS frag,
               url_extract_parameter(url, 'id') AS id_param
        FROM (
          SELECT doc_id,
                 'https://host.example'
                   || CASE WHEN doc_id % 2 = 0 THEN ':9000' ELSE '' END
                   || '/d/' || CAST(doc_id AS VARCHAR)
                   || '?id=' || CAST(doc_id AS VARCHAR)
                   || '#f' || CAST(doc_id AS VARCHAR) AS url
          FROM documents WHERE doc_id < 40
        )
        """,
    oracle="""
SELECT doc_id,
       regexp_extract(url, '^([a-z]+)://', 1) AS proto,
       regexp_extract(url, '^[a-z]+://([^/?#:]+)', 1) AS host,
       CAST(NULLIF(regexp_extract(url, '^[a-z]+://[^/?#:]+:(\\d+)', 1), '')
            AS BIGINT) AS port,
       regexp_extract(url, '^[a-z]+://[^/?#]+(/[^?#]*)', 1) AS path,
       regexp_extract(url, '#(.*)$', 1) AS frag,
       CAST(doc_id AS VARCHAR) AS id_param
FROM (
  SELECT doc_id,
         'https://host.example'
           || CASE WHEN doc_id % 2 = 0 THEN ':9000' ELSE '' END
           || '/d/' || CAST(doc_id AS VARCHAR)
           || '?id=' || CAST(doc_id AS VARCHAR)
           || '#f' || CAST(doc_id AS VARCHAR) AS url
  FROM documents WHERE doc_id < 40
)
""",
)


_SQL_TPCDS_Q3 = """
SELECT CAST(year(o_orderdate) AS INT) AS d_year,
       p_brand AS brand,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE)
         AS sum_agg
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN part ON l_partkey = p_partkey
WHERE month(o_orderdate) = 11 AND p_size = 28
GROUP BY 1, 2
ORDER BY d_year ASC, sum_agg DESC, brand ASC
LIMIT 100
"""


# TPC-DS Q3's star-rollup shape as SQL TEXT through the Presto
# front door (the reference's benchto corpus runs these as text:
# presto-benchto-benchmarks/.../tpcds/q03.sql) — the DataFrame twin
# is tpcds_q3_adapted; this one proves the dialect layer carries
# the TPC-DS text shape. Money sum through the DECIMAL hop inside
# the statement itself.
register_sql("sql_tpcds_q3", _SQL_TPCDS_Q3)


_SQL_TPCDS_Q36 = """
WITH agg AS (
  SELECT p_type AS i_category, p_brand AS i_class,
         GROUPING(p_type) + GROUPING(p_brand) AS lochierarchy,
         GROUPING(p_brand) AS g_class,
         CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                       AS DECIMAL(18,6))) AS DOUBLE) AS net,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE)
           AS gross
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN part ON l_partkey = p_partkey
  WHERE year(o_orderdate) = 2001
  GROUP BY ROLLUP (p_type, p_brand)
)
SELECT round(net / gross, 9) AS gross_margin,
       i_category, i_class, lochierarchy,
       rank() OVER (
         PARTITION BY lochierarchy,
                      CASE WHEN g_class = 0 THEN i_category END
         ORDER BY net / gross ASC, i_class ASC NULLS FIRST
       ) AS rank_within_parent
FROM agg
"""


# TPC-DS Q36's ROLLUP + GROUPING() + rank-within-parent as SQL
# text through the front door — grouping-set functions and windows
# over grouped output crossing the dialect layer in one statement
# (tpcds/q36.sql; DataFrame twin tpcds_q36_adapted). The running
# sums cross the DECIMAL hop; both engines evaluate the identical
# text.
register_sql("sql_tpcds_q36", _SQL_TPCDS_Q36)


_SQL_TPCDS_Q38 = """
SELECT count(*) AS cnt
FROM (
  SELECT DISTINCT c_name, CAST(year(o_orderdate) AS INT) AS d_year
  FROM orders JOIN customer ON o_custkey = c_custkey
  WHERE o_orderpriority = '1-URGENT'
  INTERSECT
  SELECT DISTINCT c_name, CAST(year(o_orderdate) AS INT) AS d_year
  FROM orders JOIN customer ON o_custkey = c_custkey
  WHERE o_orderpriority = '2-HIGH'
  INTERSECT
  SELECT DISTINCT c_name, CAST(year(o_orderdate) AS INT) AS d_year
  FROM orders JOIN customer ON o_custkey = c_custkey
  WHERE o_orderpriority = '3-MEDIUM'
) hot_cust
"""


# TPC-DS Q38's three-way INTERSECT of DISTINCT sets as SQL text
# through the Presto front door (tpcds/q38.sql; DataFrame twin
# tpcds_q38_adapted) — chained set operations with embedded
# DISTINCT subqueries crossing the dialect layer in one statement;
# both engines evaluate the identical text.
register_sql("sql_tpcds_q38", _SQL_TPCDS_Q38)


@register(
    "sql_geospatial",
    oracle="""
WITH pts AS (
  SELECT o_orderkey AS k,
         (o_orderkey % 100) / 10.0 AS px,
         ((o_orderkey * 3) % 100) / 10.0 AS py,
         ((o_orderkey * 7) % 100) / 10.0 AS qx,
         ((o_orderkey * 13) % 100) / 10.0 AS qy
  FROM orders WHERE o_orderkey < 400
)
SELECT k,
       round(sqrt((px - qx) * (px - qx) + (py - qy) * (py - qy)), 9)
         AS dist,
       (px >= 2.0 AND px <= 8.0 AND py >= 1.0 AND py <= 7.0)
         AS in_env,
       round(sqrt(px * px + py * py), 9) AS dist_origin
FROM pts
""",
)
def sql_geospatial(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geometry through the SQL FRONT DOOR: the reference exposes
    ST_* as SQL scalar functions (presto-geospatial registers them
    into the session catalog via the Plugin SPI); here the planar
    core becomes SQL-BODIED functions (CREATE TEMPORARY FUNCTION ...
    RETURN expr — the SqlInvokedFunction path sql_create_function
    pins), so a SQL user writes st_distance(...)/
    st_contains_envelope(...) as text and the bodies inline into the
    plan with whole-stage codegen intact — no Python in the hot
    path. The oracle inlines the same arithmetic."""
    register_views(spark, sf_dir)
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION st_distance_xy("
        "x1 DOUBLE, y1 DOUBLE, x2 DOUBLE, y2 DOUBLE) RETURNS DOUBLE "
        "RETURN sqrt((x1 - x2) * (x1 - x2) + (y1 - y2) * (y1 - y2))"
    )
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION st_contains_envelope("
        "xmin DOUBLE, ymin DOUBLE, xmax DOUBLE, ymax DOUBLE, "
        "x DOUBLE, y DOUBLE) RETURNS BOOLEAN "
        "RETURN x >= xmin AND x <= xmax AND y >= ymin AND y <= ymax"
    )
    return run_sql(
        spark,
        """
        WITH pts AS (
          SELECT o_orderkey AS k,
                 (o_orderkey % 100) / 10.0 AS px,
                 ((o_orderkey * 3) % 100) / 10.0 AS py,
                 ((o_orderkey * 7) % 100) / 10.0 AS qx,
                 ((o_orderkey * 13) % 100) / 10.0 AS qy
          FROM orders WHERE o_orderkey < 400
        )
        SELECT k,
               round(st_distance_xy(px, py, qx, qy), 9) AS dist,
               st_contains_envelope(2.0, 1.0, 8.0, 7.0, px, py)
                 AS in_env,
               round(st_distance_xy(px, py, 0.0, 0.0), 9)
                 AS dist_origin
        FROM pts
        """,
    )


# --------------------------------------------------------------------------
# Reference differential corpus, promoted (round 8)
#
# tests/test_reference_corpus.py ports 140 SQL texts from the
# reference's own differential suite (presto-tests
# AbstractTestQueries.java / AbstractTestAggregations.java) through
# the front door vs DuckDB. The representative texts below are
# PROMOTED to registered queries so the external driver gate replays
# them too — each keeps its source citation and exercises a dialect
# rewrite the corpus surfaced (Presto NULLS LAST ordering, multi-arg
# grouping(), FROM-position UNNEST).
# --------------------------------------------------------------------------


# AbstractTestQueries.java:843 testComplexQuery — group + HAVING
# + window + ordered LIMIT in one text ("forces the planner to
# stack every clause type"). Same text replays on DuckDB.
register_sql(
    "sql_corpus_complex_topn",
    """
        SELECT sum(o_orderkey) AS s,
               row_number() OVER (ORDER BY o_orderkey) AS rn
        FROM orders WHERE o_orderkey <= 10 GROUP BY o_orderkey
        HAVING sum(o_orderkey) >= 3 ORDER BY o_orderkey DESC LIMIT 3
        """,
    oracle="""
SELECT CAST(sum(o_orderkey) AS BIGINT) AS s,
       row_number() OVER (ORDER BY o_orderkey) AS rn
FROM orders WHERE o_orderkey <= 10 GROUP BY o_orderkey
HAVING sum(o_orderkey) >= 3 ORDER BY o_orderkey DESC LIMIT 3
""",
)


# AbstractTestQueries.java:878 testDistinctJoin — COUNT(DISTINCT
# CAST(...)) over a fact join, the MarkDistinct-under-join shape.
register_sql(
    "sql_corpus_distinct_join",
    """
SELECT COUNT(DISTINCT CAST(b.l_quantity AS BIGINT)) AS cnt,
       a.o_orderstatus
FROM orders a JOIN lineitem b ON a.o_orderkey = b.l_orderkey
GROUP BY a.o_orderstatus
""",
)


# AbstractTestQueries.java:1607 testJoinWithLessThanInJoinClause
# — theta join with NULL keys in the build side (null rows must not
# match the < predicate).
register_sql(
    "sql_corpus_theta_join_null_build",
    """
SELECT t.b AS b FROM nation n,
(VALUES (0, CAST(-1 AS BIGINT)), (0, NULL), (0, CAST(0 AS BIGINT))) t(a, b)
WHERE n.n_regionkey - 100 < t.b AND n.n_nationkey = t.a
""",
)


@register(
    "sql_corpus_order_by_nulls_limit",
    oracle="""
SELECT x FROM (VALUES (1), (NULL), (3), (NULL), (2)) t(x)
ORDER BY x NULLS LAST LIMIT 3
""",
)
def sql_corpus_order_by_nulls_limit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """AbstractTestQueries.java:3048 testOrderByWithNulls — Presto
    sorts NULLS LAST by default for ASC (PlannerUtils.java:39-51);
    the front door's null-ordering rewrite makes this text return
    (1, 2, 3), not Spark's default nulls-first (NULL, NULL, 1). The
    LIMIT makes the semantics observable through the order-insensitive
    hash gate."""
    return run_sql(
        spark,
        "SELECT x FROM (VALUES (1), (NULL), (3), (NULL), (2)) t(x) "
        "ORDER BY x LIMIT 3",
    )


# AbstractTestAggregations.java:227 testCountDistinct family —
# mixed COUNT(DISTINCT) + SUM(DISTINCT) per group (the
# MarkDistinct / Expand lowering).
register_sql(
    "sql_corpus_mixed_distinct",
    """
        SELECT o_custkey, o_orderstatus,
               COUNT(DISTINCT o_orderkey) AS cd,
               SUM(DISTINCT o_orderkey) AS sd
        FROM orders GROUP BY o_custkey, o_orderstatus
        """,
    oracle="""
SELECT o_custkey, o_orderstatus, COUNT(DISTINCT o_orderkey) AS cd,
       CAST(SUM(DISTINCT o_orderkey) AS BIGINT) AS sd
FROM orders GROUP BY o_custkey, o_orderstatus
""",
)


# AbstractTestAggregations.java:320 testAggregationFilter — the
# FILTER (WHERE ...) clause on two aggregates at once (grammar
# SqlBase.g4:450-452, ImplementFilteredAggregations.java).
register_sql(
    "sql_corpus_agg_filter",
    """
        SELECT count(1) FILTER (WHERE o_orderstatus = 'O') AS c_open,
               sum(CAST(round(o_totalprice * 100) AS BIGINT))
                 FILTER (WHERE o_orderpriority = '1-URGENT') AS s_urgent
        FROM orders
        """,
    oracle="""
SELECT count(1) FILTER (WHERE o_orderstatus = 'O') AS c_open,
       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
         FILTER (WHERE o_orderpriority = '1-URGENT') AS BIGINT)
         AS s_urgent
FROM orders
""",
)


# AbstractTestQueries.java:1697
# testJoinWithLessThanOnDatesInJoinClause — equi join with a date
# interval residual (INTERVAL literal arithmetic in the ON
# clause).
register_sql(
    "sql_corpus_join_date_interval",
    """
SELECT o.o_orderkey AS orderkey, o.o_orderdate AS orderdate,
       l.l_shipdate AS shipdate
FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
AND l.l_shipdate < o.o_orderdate + INTERVAL '10' DAY
""",
)


# AbstractTestQueries.java:2722 testOuterJoinWithNullsOnProbe —
# NULL probe keys never match but their rows survive the LEFT
# join.
register_sql(
    "sql_corpus_outer_join_null_probe",
    """
SELECT o.k AS probe_key, l.l_orderkey AS build_key
FROM (SELECT CASE WHEN o_orderkey % 2 = 0 THEN NULL
             ELSE o_orderkey END AS k FROM orders) o
LEFT JOIN (SELECT DISTINCT l_orderkey FROM lineitem) l
ON o.k = l.l_orderkey
""",
)


# AbstractTestQueries.java:1318/:1373 testGrouping — Presto's
# multi-argument grouping(c1, ..., cn) bitmask
# (GroupingOperationRewriter.java, leftmost = most significant
# bit). The front door rewrites it to Spark's grouping_id; the
# oracle spells the same bitmask from single-arg grouping()s.
register_sql(
    "sql_corpus_grouping_multiarg",
    """
        SELECT o_orderstatus, o_orderpriority,
               CAST(grouping(o_orderstatus, o_orderpriority)
                    AS BIGINT) AS g,
               COUNT(*) AS c
        FROM orders GROUP BY GROUPING SETS ((o_orderstatus),
          (o_orderpriority), (o_orderstatus, o_orderpriority))
        """,
    oracle="""
SELECT o_orderstatus, o_orderpriority,
       CAST(2 * grouping(o_orderstatus) + grouping(o_orderpriority)
            AS BIGINT) AS g,
       COUNT(*) AS c
FROM orders GROUP BY GROUPING SETS ((o_orderstatus),
  (o_orderpriority), (o_orderstatus, o_orderpriority))
""",
)


@register(
    "sql_corpus_from_unnest_ordinality",
    oracle="""
SELECT CAST(a AS INTEGER) AS a, CAST(b AS BIGINT) AS b
FROM (VALUES (10, 1), (20, 2), (30, 3)) t(a, b)
""",
)
def sql_corpus_from_unnest_ordinality(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """AbstractTestQueries.java:608 testUnnest — FROM-position UNNEST
    with WITH ORDINALITY (no join), alias order (value, ordinality),
    1-based bigint ordinality. The front door lowers it to
    posexplode with the pos lifted to Presto's contract."""
    return run_sql(
        spark,
        "SELECT a, b FROM UNNEST(ARRAY[10, 20, 30]) "
        "WITH ORDINALITY t(a, b)",
    )


_SQL_TPCDS_Q67_ORACLE = """
WITH dw1 AS (
  SELECT p_type, p_brand, CAST(quarter(o_orderdate) AS INT) AS qoy,
         CAST(SUM(CAST(round(l_extendedprice * l_quantity * 100)
                       AS BIGINT)) AS BIGINT) AS sumsales_s
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN part ON l_partkey = p_partkey
  WHERE year(o_orderdate) = 1996
  GROUP BY ROLLUP (p_type, p_brand, quarter(o_orderdate))
),
dw2 AS (
  SELECT *, CAST(rank() OVER (PARTITION BY p_type
                  ORDER BY sumsales_s DESC, p_brand NULLS FIRST,
                           qoy NULLS FIRST) AS BIGINT) AS rk
  FROM dw1
)
SELECT p_type, p_brand, qoy,
       round(CAST(sumsales_s AS DOUBLE) / 100.0, 2) AS sumsales, rk
FROM dw2 WHERE rk <= 5
ORDER BY p_type NULLS FIRST, rk
LIMIT 100
"""


# TPC-DS Q67's rank-over-ROLLUP as SQL text through the front
# door (tpcds/q67.sql; DataFrame twin tpcds_q67_adapted) — a
# window function FILTERED IN THE WHERE CLAUSE over a rollup's
# mixed-grouping output in subquery form (both engines reject
# window functions directly in WHERE); the point is the rollup +
# NULL-partition rank + front-door NULLS FIRST handling crossing
# the dialect layer as one statement.
register_sql("sql_tpcds_q67", _SQL_TPCDS_Q67_ORACLE)


_SQL_TPCDS_Q9 = """
WITH b AS (
  SELECT CAST(floor((l_quantity - 1) / 10) AS INT) AS bucket,
         COUNT(*) AS cnt,
         CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT))
              AS DOUBLE) / COUNT(*) / 100.0 AS avg_price,
         CAST(SUM(CAST(round(l_discount * 10000) AS BIGINT))
              AS DOUBLE) / COUNT(*) / 10000.0 AS avg_disc
  FROM lineitem WHERE l_quantity BETWEEN 1 AND 50
  GROUP BY 1
)
SELECT
  MAX(CASE WHEN bucket = 0 THEN
      CASE WHEN cnt > 11000 THEN avg_price ELSE avg_disc END END)
    AS bucket1,
  MAX(CASE WHEN bucket = 1 THEN
      CASE WHEN cnt > 11500 THEN avg_price ELSE avg_disc END END)
    AS bucket2,
  MAX(CASE WHEN bucket = 2 THEN
      CASE WHEN cnt > 12000 THEN avg_price ELSE avg_disc END END)
    AS bucket3
FROM b
"""


# TPC-DS Q9's scalar-subquery bucket report as SQL text through
# the front door (tpcds/q09.sql; DataFrame twin tpcds_q9_adapted)
# — the fused one-pass formulation submitted as text: nested CASEs
# folding per-bucket threshold choices over one grouped CTE. Both
# engines run the identical statement.
register_sql("sql_tpcds_q9", _SQL_TPCDS_Q9)


# Presto statistical-aggregate semantics through the SQL front
# door (r11 aggregate templates, sql/scalar_templates.py): skewness
# is the POPULATION g1 = sqrt(n)*m3/m2^1.5 with an n<3 NULL guard
# (CentralMomentsAggregation.java:58-68 — DuckDB's skewness is the
# bias-corrected G1, hence the oracle's (n-2)/sqrt(n(n-1)) back-
# conversion), kurtosis is the SAMPLE excess G2
# (CentralMomentsAggregation.java:70-86 — matches DuckDB directly,
# while Spark's native kurtosis is population g2), and corr guards
# ANSI division-by-zero to NULL like the reference's
# isFinite gate (DoubleCorrelationAggregation.java:49-58).
register_sql(
    "sql_agg_presto_stats",
    """
        SELECT l_returnflag,
               ROUND(var_samp(l_discount), 10) AS var_s,
               ROUND(corr(l_quantity, l_extendedprice), 8) AS c_qp,
               ROUND(skewness(l_discount), 8) AS skew,
               ROUND(kurtosis(l_discount), 8) AS kurt
        FROM lineitem
        GROUP BY l_returnflag
        """,
    oracle="""
SELECT l_returnflag,
       ROUND(var_samp(l_discount), 10) AS var_s,
       ROUND(corr(l_quantity, l_extendedprice), 8) AS c_qp,
       ROUND(skewness(l_discount) * (COUNT(*) - 2)
             / sqrt(COUNT(*) * (COUNT(*) - 1.0)), 8) AS skew,
       ROUND(kurtosis(l_discount), 8) AS kurt
FROM lineitem
GROUP BY l_returnflag
""",
)


# histogram / multimap_agg through the SQL front door (r11
# aggregate templates): HistogramAggregation (map value->count,
# nulls skipped) and MultimapAggregationFunction (key -> all
# values), probed via gate-safe scalar projections
# (cardinality/element_at) so the output is canonicalizer-friendly;
# the oracle states the same facts as plain counts.
register_sql(
    "sql_agg_map_histogram",
    """
        SELECT CAST(cardinality(histogram(o_orderpriority)) AS BIGINT)
                 AS npri,
               element_at(histogram(o_orderpriority), '1-URGENT')
                 AS urgent_cnt,
               CAST(cardinality(multimap_agg(o_orderstatus, o_orderkey))
                 AS BIGINT) AS nstat,
               CAST(cardinality(element_at(
                 multimap_agg(o_orderstatus, o_orderkey), 'F'))
                 AS BIGINT) AS f_orders
        FROM orders
        """,
    oracle="""
SELECT CAST(count(DISTINCT o_orderpriority) AS BIGINT) AS npri,
       CAST(count(*) FILTER (WHERE o_orderpriority = '1-URGENT')
            AS BIGINT) AS urgent_cnt,
       CAST(count(DISTINCT o_orderstatus) AS BIGINT) AS nstat,
       CAST(count(*) FILTER (WHERE o_orderstatus = 'F')
            AS BIGINT) AS f_orders
FROM orders
""",
)


# array_agg ORDER BY (sorted-aggregation comparator lowering),
# 2-arg max(x, n) top-N (MaxNAggregation) and 3-arg max_by
# (MaxByNAggregation) through the SQL front door — all emitted as
# array_join'd scalars so the external gate's pandas canonicalizer
# digests the output shape (the r10 lesson). n_nationkey is unique,
# so every ordering is tie-free and deterministic.
register_sql(
    "sql_agg_array_order",
    """
        SELECT n_regionkey,
               array_join(array_agg(n_name ORDER BY n_name DESC), ',')
                 AS names_desc,
               array_join(max(n_name, 2), ',') AS top2,
               array_join(max_by(n_name, n_nationkey, 2), ',') AS latest2
        FROM nation
        GROUP BY n_regionkey
        """,
    oracle="""
SELECT n_regionkey,
       array_to_string(array_agg(n_name ORDER BY n_name DESC), ',')
         AS names_desc,
       array_to_string((array_agg(n_name ORDER BY n_name DESC))[1:2], ',')
         AS top2,
       array_to_string(
         (array_agg(n_name ORDER BY n_nationkey DESC))[1:2], ',')
         AS latest2
FROM nation
GROUP BY n_regionkey
""",
)


# entropy (EntropyAggregation.java: log-2 entropy of count
# weights — NOT DuckDB's value-frequency entropy, hence the
# explicit closed-form oracle) and geometric_mean
# (DoubleGeometricMeanAggregation: exp(mean(ln x))) through the SQL
# front door.
register_sql(
    "sql_agg_entropy_geomean",
    """
        SELECT ROUND(entropy(l_linenumber), 8) AS ent,
               ROUND(geometric_mean(l_quantity), 8) AS gm
        FROM lineitem
        """,
    oracle="""
WITH s AS (SELECT SUM(l_linenumber) AS sc,
                  SUM(l_linenumber * ln(l_linenumber)) AS slc
           FROM lineitem)
SELECT ROUND(greatest((ln(sc) - slc / sc) / ln(2), 0), 8) AS ent,
       (SELECT ROUND(exp(avg(ln(l_quantity))), 8) FROM lineitem) AS gm
FROM s
""",
)


# Byte-exact CHECKSUM through the SQL front door
# (ChecksumAggregationFunction.java:107-132: order-independent
# wrapping sum of type.hash * PRIME64 terms, 8 LE bytes as
# VARBINARY; type hashes per AbstractLongType.java:137 and XXH64
# seed 0 — functions/xxhash.py). No cross-engine oracle exists for
# the engine-specific bytes (rows-only here); the byte pins and the
# public-spec/Spark cross-validation live in
# tests/test_checksum_wire.py. Output columns are hex strings plus
# the order-independence witness: the checksum over a reversed scan
# must equal the forward one (combine() is addition).
register_sql(
    "sql_agg_checksum",
    """
        WITH fwd AS (SELECT checksum(o_orderkey) c1,
                            checksum(o_orderpriority) c2,
                            checksum(o_totalprice) c3
                     FROM orders),
             rev AS (SELECT checksum(o_orderkey) c1 FROM
                     (SELECT o_orderkey FROM orders
                      ORDER BY o_orderkey DESC))
        SELECT to_hex(fwd.c1) AS key_checksum,
               to_hex(fwd.c2) AS pri_checksum,
               to_hex(fwd.c3) AS price_checksum,
               fwd.c1 = rev.c1 AS order_independent
        FROM fwd, rev
        """,
    oracle=None,
)


# The r12 geometry SQL surface as an oracle-backed registry
# query: overlay ops (ST_Intersection/ST_Union areas), DE-9IM
# predicates (ST_Contains/ST_Intersects/ST_Relate),
# simplify_geometry, and geometry_to_bing_tiles cardinality over
# per-row axis-aligned rectangles derived from orders. Coordinates
# sit on a 1/64 grid (A) and 1/128 grid (B) so rectangle edges are
# exact binary doubles that never coincide (no degenerate
# line-intersection results) and never land on zoom-8 Bing tile
# boundaries (the oracle's tile-count formula then needs no
# border-shift term). The DuckDB oracle computes every column in
# closed form: rectangle overlap algebra, bounds comparisons, and
# the Mercator tile arithmetic from BingTileFunctions.java.
#
# 100 TB: one scan, per-row Arrow-batched UDFs, no shuffle, no
# collect — embarrassingly parallel.
register_sql(
    "sql_geometry_suite",
    """
        WITH g AS (
          SELECT o_orderkey AS k,
                 (o_orderkey % 7) * 0.25 + 0.015625 AS ax,
                 (o_orderkey % 5) * 0.25 + 0.015625 AS ay,
                 1.5 + (o_orderkey % 3) * 0.25 AS aw,
                 1.25 + (o_orderkey % 4) * 0.25 AS ah,
                 (o_orderkey % 7) * 0.25 + (o_orderkey % 9) * 0.25
                   - 1.0 + 0.0234375 AS bx,
                 (o_orderkey % 5) * 0.25 + (o_orderkey % 6) * 0.25
                   - 0.75 + 0.0234375 AS by
          FROM orders WHERE o_orderkey < 400
        ),
        w AS (
          SELECT k, ax, ay, aw, ah,
                 ST_GeometryFromText(concat(
                   'POLYGON ((', CAST(ax AS VARCHAR), ' ',
                   CAST(ay AS VARCHAR), ', ', CAST(ax AS VARCHAR), ' ',
                   CAST(ay + ah AS VARCHAR), ', ',
                   CAST(ax + aw AS VARCHAR), ' ',
                   CAST(ay + ah AS VARCHAR), ', ',
                   CAST(ax + aw AS VARCHAR), ' ', CAST(ay AS VARCHAR),
                   ', ', CAST(ax AS VARCHAR), ' ', CAST(ay AS VARCHAR),
                   '))')) AS ga,
                 ST_GeometryFromText(concat(
                   'POLYGON ((', CAST(bx AS VARCHAR), ' ',
                   CAST(by AS VARCHAR), ', ', CAST(bx AS VARCHAR), ' ',
                   CAST(by + 1.5 AS VARCHAR), ', ',
                   CAST(bx + 1.75 AS VARCHAR), ' ',
                   CAST(by + 1.5 AS VARCHAR), ', ',
                   CAST(bx + 1.75 AS VARCHAR), ' ',
                   CAST(by AS VARCHAR), ', ', CAST(bx AS VARCHAR), ' ',
                   CAST(by AS VARCHAR), '))')) AS gb
          FROM g
        )
        SELECT k,
               ROUND(ST_Area(ST_Intersection(ga, gb)), 9) AS inter_area,
               ROUND(ST_Area(ST_Union(ga, gb)), 9) AS union_area,
               ST_Contains(ga, gb) AS contains_b,
               ST_Intersects(ga, gb) AS intersects_b,
               ST_Relate(ga, gb, 'T*****FF*') AS relate_contains,
               cardinality(geometry_to_bing_tiles(ga, 8)) AS n_tiles,
               ROUND(ST_Area(simplify_geometry(ga, 0.1)), 9)
                 AS simpl_area
        FROM w
        """,
    oracle="""
WITH g AS (
  SELECT o_orderkey AS k,
         (o_orderkey % 7) * 0.25 + 0.015625 AS ax,
         (o_orderkey % 5) * 0.25 + 0.015625 AS ay,
         1.5 + (o_orderkey % 3) * 0.25 AS aw,
         1.25 + (o_orderkey % 4) * 0.25 AS ah,
         (o_orderkey % 7) * 0.25 + (o_orderkey % 9) * 0.25
           - 1.0 + 0.0234375 AS bx,
         (o_orderkey % 5) * 0.25 + (o_orderkey % 6) * 0.25
           - 0.75 + 0.0234375 AS by
  FROM orders WHERE o_orderkey < 400
),
t AS (
  SELECT k, ax, ay, aw, ah, bx, by, 1.75 AS bw, 1.5 AS bh,
         GREATEST(0, LEAST(ax + aw, bx + 1.75) - GREATEST(ax, bx)) AS ox,
         GREATEST(0, LEAST(ay + ah, by + 1.5) - GREATEST(ay, by)) AS oy
  FROM g
),
tiles AS (
  SELECT k,
         FLOOR(LEAST(GREATEST((ax + 180) / 360 * 65536, 0), 65535)
               / 256) AS lux,
         FLOOR(LEAST(GREATEST((ax + aw + 180) / 360 * 65536, 0), 65535)
               / 256) AS rlx,
         FLOOR(LEAST(GREATEST(
           (0.5 - LN((1 + SIN((ay + ah) * PI() / 180))
                     / (1 - SIN((ay + ah) * PI() / 180))) / (4 * PI()))
           * 65536, 0), 65535) / 256) AS luy,
         FLOOR(LEAST(GREATEST(
           (0.5 - LN((1 + SIN(ay * PI() / 180))
                     / (1 - SIN(ay * PI() / 180))) / (4 * PI()))
           * 65536, 0), 65535) / 256) AS rly
  FROM t
)
SELECT t.k,
       CAST(ROUND(ox * oy, 9) AS DOUBLE) AS inter_area,
       CAST(ROUND(aw * ah + bw * bh - ox * oy, 9) AS DOUBLE)
         AS union_area,
       (ax <= bx AND ay <= by AND ax + aw >= bx + bw
        AND ay + ah >= by + bh) AS contains_b,
       (ox > 0 AND oy > 0) AS intersects_b,
       (ax <= bx AND ay <= by AND ax + aw >= bx + bw
        AND ay + ah >= by + bh) AS relate_contains,
       CAST((rlx - lux + 1) * (rly - luy + 1) AS BIGINT) AS n_tiles,
       CAST(ROUND(aw * ah, 9) AS DOUBLE) AS simpl_area
FROM t JOIN tiles ON t.k = tiles.k
""",
)


# --- r12: the heaviest window/aggregate edge semantics promoted from
# fixture-scale pin corpora to sf-scale differentials (r11 verdict
# #8). Each runs through the SQL front door over lineitem/orders so
# the edge lowerings are exercised on real data volumes. ---


# Per-row ntile(expr) — the reference's NTileFunction.java:46-72
# bucket arithmetic (the front door lowers non-literal bucket
# counts to it) — over lineitem at scale. The oracle computes the
# same arithmetic from row_number/count, so the differential pins
# the lowering's formula, not DuckDB's ntile.
register_sql(
    "sql_win_ntile_expr_scale",
    """
        SELECT l_orderkey, l_linenumber,
               ntile(1 + l_suppkey % 4) OVER (
                 PARTITION BY l_returnflag
                 ORDER BY l_orderkey, l_linenumber) AS bucket
        FROM lineitem WHERE l_orderkey < 1000
        """,
    oracle="""
WITH t AS (
  SELECT l_orderkey, l_linenumber, l_returnflag,
         1 + l_suppkey % 4 AS b,
         CAST(row_number() OVER (PARTITION BY l_returnflag
              ORDER BY l_orderkey, l_linenumber) - 1 AS BIGINT) AS r0,
         CAST(count(*) OVER (PARTITION BY l_returnflag) AS BIGINT) AS n
  FROM lineitem WHERE l_orderkey < 1000
)
SELECT l_orderkey, l_linenumber,
       CAST(CASE WHEN n < b THEN r0 + 1
            WHEN r0 < (n // b + 1) * (n % b) THEN r0 // (n // b + 1) + 1
            ELSE (r0 - n % b) // (n // b) + 1 END AS BIGINT) AS bucket
FROM t
""",
)


# Unordered ranking specs (cume_dist()/percent_rank()/rank()
# OVER (PARTITION BY ...) with no ORDER BY — all rows peers, the
# r11 window-corpus gap) at orders scale. The closed-form oracle IS
# the peers semantics: cume_dist 1, percent_rank 0, rank 1.
register_sql(
    "sql_win_unordered_ranking_scale",
    """
        SELECT o_orderkey,
               cume_dist() OVER (PARTITION BY o_orderstatus) AS cd,
               percent_rank() OVER (PARTITION BY o_orderstatus) AS pr,
               rank() OVER (PARTITION BY o_orderstatus) AS rk
        FROM orders WHERE o_orderkey < 2000
        """,
    oracle="""
SELECT o_orderkey,
       CAST(1 AS DOUBLE) AS cd, CAST(0 AS DOUBLE) AS pr,
       CAST(1 AS BIGINT) AS rk
FROM orders WHERE o_orderkey < 2000
""",
)


# lag/lead offset edges at scale (LagFunction.java:55-75):
# explicit default, offset 0 (the row itself), an offset past every
# partition (default fills), and a NULL offset (NULL result — the
# r11 corpus gap; the oracle states it as a literal since DuckDB
# rejects non-constant offsets).
register_sql(
    "sql_win_lag_offset_scale",
    """
        SELECT o_orderkey,
               lag(o_totalprice, 2, -1.0) OVER w AS l2,
               lag(o_totalprice, 0) OVER w AS l0,
               lead(o_totalprice, 100000, -2.0) OVER w AS ld_big,
               lag(o_totalprice, CAST(NULL AS INTEGER)) OVER w
                 AS l_null_off
        FROM orders WHERE o_orderkey < 2000
        WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_orderkey)
        """,
    oracle="""
SELECT o_orderkey,
       lag(o_totalprice, 2, -1.0) OVER w AS l2,
       lag(o_totalprice, 0) OVER w AS l0,
       lead(o_totalprice, 100000, -2.0) OVER w AS ld_big,
       CAST(NULL AS DOUBLE) AS l_null_off
FROM orders WHERE o_orderkey < 2000
WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_orderkey)
""",
)


# min(x,n)/max(x,n) (MinMaxNAggregation) and 3-arg min_by/max_by
# (MinMaxByNAggregation) over full lineitem — the r11 lowerings
# exercised on real volumes with a tie-free key expression so the
# top-N is deterministic.
register_sql(
    "sql_agg_minmax_n_scale",
    """
        SELECT o_orderpriority,
               array_join(min(o_orderstatus, 2), ',') AS min2,
               array_join(max(o_orderstatus, 2), ',') AS max2,
               array_join(min_by(o_orderstatus, o_orderkey, 3), ',')
                 AS first3,
               array_join(max_by(o_orderstatus, o_orderkey, 3), ',')
                 AS last3
        FROM orders
        GROUP BY o_orderpriority
        """,
    oracle="""
SELECT o_orderpriority,
       array_to_string((array_agg(o_orderstatus ORDER BY o_orderstatus))[1:2], ',') AS min2,
       array_to_string((array_agg(o_orderstatus ORDER BY o_orderstatus DESC))[1:2], ',') AS max2,
       array_to_string((array_agg(o_orderstatus ORDER BY o_orderkey))[1:3], ',') AS first3,
       array_to_string((array_agg(o_orderstatus ORDER BY o_orderkey DESC))[1:3], ',') AS last3
FROM orders
GROUP BY o_orderpriority
""",
)


# Multi-key array_agg ORDER BY (sorted-aggregation comparator
# with DESC/ASC mix and tiebreaks) over lineitem groups at scale —
# the fixture-scale r11 surface on real volumes, sliced to the
# leading elements so outputs stay gate-shaped.
register_sql(
    "sql_agg_array_order_scale",
    """
        SELECT l_suppkey,
               array_join(slice(array_agg(l_linestatus
                 ORDER BY l_extendedprice DESC, l_orderkey DESC,
                          l_linenumber DESC), 1, 5), ',') AS by_price,
               array_join(slice(array_agg(CAST(l_orderkey AS VARCHAR)
                 ORDER BY l_orderkey, l_linenumber), 1, 3), ',')
                 AS first_keys
        FROM lineitem
        WHERE l_suppkey < 40
        GROUP BY l_suppkey
        """,
    oracle="""
SELECT l_suppkey,
       array_to_string(
         array_agg(l_linestatus ORDER BY l_extendedprice DESC,
                   l_orderkey DESC, l_linenumber DESC)[1:5], ',')
         AS by_price,
       array_to_string(
         array_agg(CAST(l_orderkey AS VARCHAR)
                   ORDER BY l_orderkey, l_linenumber)[1:3], ',')
         AS first_keys
FROM lineitem
WHERE l_suppkey < 40
GROUP BY l_suppkey
""",
)


# nth_value / first_value over sliding ROWS frames plus a
# running sum — the frame-edge semantics from the window corpus on
# orders at scale (o_totalprice is DECIMAL so the running sum is
# exact and order-independent for the hash compare).
register_sql(
    "sql_win_nth_frame_scale",
    """
SELECT o_orderkey,
       nth_value(o_totalprice, 3) OVER (
         PARTITION BY o_orderstatus ORDER BY o_orderkey
         ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING) AS nth3,
       first_value(o_totalprice) OVER (
         PARTITION BY o_orderstatus ORDER BY o_orderkey
         ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING) AS fv,
       sum(CAST(o_totalprice AS DECIMAL(18, 4))) OVER (
         PARTITION BY o_orderstatus ORDER BY o_orderkey
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running
FROM orders WHERE o_orderkey < 2000
""",
)


# The 0.235 approx_percentile forms incl. the weighted
# (value, percentile, weight) signature
# (ApproximateLongPercentileAggregations.java:60-80) over lineitem at
# scale; rows-only because the estimates are sketch-dependent.
register_sql(
    "sql_agg_approx_percentile_scale",
    """
        SELECT l_returnflag,
               approx_percentile(l_extendedprice, 0.5) AS p50,
               approx_percentile(l_extendedprice, 0.5,
                 CAST(l_quantity AS BIGINT)) AS p50w,
               approx_percentile(l_extendedprice, 0.9) AS p90
        FROM lineitem
        GROUP BY l_returnflag
        """,
    # no oracle: approx_percentile is sketch-estimated on both
    # engines (qdigest vs GK) — rows-only, like the reference's own
    # approx tests which assert within error bounds only
    oracle=None,
)


# Column-operand decimal arithmetic with the REFERENCE's type
# derivation (DecimalOperators.java:91,251,316,480) over lineitem
# money columns at scale — the r14 schema-aware rewrite
# (sql/frontend._rewrite_decimal_column_arith). unit_price pins the
# divide semantics on real data: Presto scale max(s1,s2)=2 with
# HALF_UP (Spark's native derivation would produce scale 15); the
# DuckDB oracle replays HALF_UP with exact integer arithmetic
# ((2a+b)//(2b) on cents), so a Spark-derivation regression
# hash-mismatches. The money columns integerize to exact cents
# first (round(x*100)) so the double->decimal boundary is
# rounding-mode-proof on both engines.
register_sql(
    "sql_decimal_column_arith_scale",
    """
        SELECT l_orderkey, l_linenumber,
               CAST(
                 (CAST(CAST(round(l_extendedprice * 100) AS BIGINT)
                       AS DECIMAL(14,0)) / DECIMAL '100.00')
                 * (DECIMAL '1.00' -
                    CAST(CAST(round(l_discount * 100) AS BIGINT)
                         AS DECIMAL(14,0)) / DECIMAL '100.00')
                 AS DOUBLE) AS disc_price,
               CAST(
                 CAST(CAST(round(l_extendedprice * 100) AS BIGINT)
                      AS DECIMAL(14,0)) / DECIMAL '100.00'
                 / CAST(l_quantity AS DECIMAL(12,2))
                 AS DOUBLE) AS unit_price,
               CAST(
                 CAST(CAST(round(l_extendedprice * 100) AS BIGINT)
                      AS DECIMAL(14,0)) / DECIMAL '100.00'
                 % CAST(7 AS DECIMAL(10,0))
                 AS DOUBLE) AS price_mod
        FROM lineitem WHERE l_orderkey < 1000
        """,
    oracle="""
WITH m AS (
  SELECT l_orderkey, l_linenumber,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS pc,
         CAST(round(l_discount * 100) AS BIGINT) AS dc,
         CAST(l_quantity AS BIGINT) AS qi
  FROM lineitem WHERE l_orderkey < 1000
)
SELECT l_orderkey, l_linenumber,
       CAST(pc * (100 - dc) AS DOUBLE) / 10000 AS disc_price,
       CAST((2 * pc + qi) // (2 * qi) AS DOUBLE) / 100 AS unit_price,
       CAST(pc % 700 AS DOUBLE) / 100 AS price_mod
FROM m
""",
)


# sum/avg over decimal columns with the REFERENCE's aggregate
# semantics at scale: sum(decimal(p,s)) -> decimal(38,s)
# (DecimalSumAggregation.java — the template widens the argument so
# Spark's accumulator IS (38,s)), avg(decimal(p,s)) -> decimal(p,s)
# with sum/count ROUND_HALF_UP at s
# (DecimalAverageAggregation.java:207 — r14 conversion). The DuckDB
# oracle replays both in exact integer arithmetic on cents
# (avg via (2S+n)//(2n), the positive-sum HALF_UP form), so a
# regression to Spark's (p+4, s+4) unrounded avg hash-mismatches.
register_sql(
    "sql_decimal_agg_scale",
    """
        SELECT l_returnflag,
               CAST(sum(CAST(CAST(round(l_extendedprice * 100) AS
                    BIGINT) AS DECIMAL(14,0)) / DECIMAL '100.00')
                    AS DOUBLE) AS sum_price,
               CAST(avg(CAST(CAST(round(l_extendedprice * 100) AS
                    BIGINT) AS DECIMAL(14,0)) / DECIMAL '100.00')
                    AS DOUBLE) AS avg_price,
               count(*) AS n
        FROM lineitem WHERE l_orderkey < 5000
        GROUP BY l_returnflag
        """,
    oracle="""
WITH m AS (
  SELECT l_returnflag,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS pc
  FROM lineitem WHERE l_orderkey < 5000
)
SELECT l_returnflag,
       CAST(CAST(sum(pc) AS DOUBLE) / 100 AS DOUBLE) AS sum_price,
       CAST(CAST((2 * sum(pc) + count(*)) // (2 * count(*))
            AS DOUBLE) / 100 AS DOUBLE) AS avg_price,
       count(*) AS n
FROM m GROUP BY l_returnflag
""",
)


# Column-operand INTEGRAL division with the REFERENCE's
# truncating semantics at scale (TestIntegerOperators.testDivide /
# TestBigintOperators:90) — the r14 catalog-aware typing pass
# (frontend._annotate_numeric_columns) + integral-division rewrite
# (frontend._int_div_pass). qneg exercises negative dividends
# (truncation toward zero, where floor division would differ on
# ~half the rows) through the parenthesized-chain type derivation
# (COUNT-operand division is pinned in
# tests/test_int_column_division.py). The DuckDB
# oracle replays with '//', DuckDB's truncating integral division —
# a regression to Spark's double '/' hash-mismatches on type AND
# value.
register_sql(
    "sql_int_column_division_scale",
    """
        SELECT l_orderkey, l_linenumber,
               l_orderkey / l_linenumber AS q,
               (l_partkey - l_suppkey) / l_linenumber AS qneg,
               l_orderkey / 7 AS q7
        FROM lineitem WHERE l_orderkey < 2000
        """,
    oracle="""
SELECT l_orderkey, l_linenumber,
       l_orderkey // l_linenumber AS q,
       (l_partkey - l_suppkey) // l_linenumber AS qneg,
       l_orderkey // 7 AS q7
FROM lineitem WHERE l_orderkey < 2000
""",
)


@register(
    "sql_decimal_agg_column_scale",
    oracle="""
WITH m AS (
  SELECT l_returnflag,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS pc
  FROM lineitem WHERE l_orderkey < 5000
)
SELECT l_returnflag,
       CAST(CAST(sum(pc) AS DOUBLE) / 100 AS DOUBLE) AS sum_price,
       CAST(CAST((2 * sum(pc) + count(*)) // (2 * count(*))
            AS DOUBLE) / 100 AS DOUBLE) AS avg_price,
       CAST(CAST(min(pc) AS DOUBLE) / 100 AS DOUBLE) AS min_price,
       CAST(CAST(max(pc) AS DOUBLE) / 100 AS DOUBLE) AS max_price,
       count(*) AS n
FROM m GROUP BY l_returnflag
""",
)
def sql_decimal_agg_column_scale(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """BARE-column decimal aggregates with the reference's typing at
    scale (r14 verdict #1/#8): unlike sql_decimal_agg_scale (whose
    aggregate arguments are CAST-typed TEXT), this row aggregates a
    catalog-typed DECIMAL(14,2) column by bare name — avg(d_price),
    sum(d_price), min/max — so the r15 aggregate-argument annotation
    (frontend._annotate_numeric_columns wrapping decimal column refs
    in AVG/SUM/MIN/MAX argument positions) is what routes them onto
    DecimalAverageAggregation (keeps (p,s), sum/count HALF_UP at s)
    and DecimalSumAggregation ((38,s)) semantics. The DuckDB oracle
    replays both in exact integer cents (avg via (2S+n)//(2n), the
    positive-sum HALF_UP form); a regression to Spark's (p+4, s+4)
    unrounded avg hash-mismatches."""
    register_views(spark, sf_dir)
    spark.sql(
        """
        SELECT l_returnflag, l_orderkey,
               CAST(round(l_extendedprice * 100) / 100
                    AS DECIMAL(14,2)) AS d_price
        FROM lineitem
        """
    ).createOrReplaceTempView("lineitem_decimal_priced")
    return run_sql(
        spark,
        """
        SELECT l_returnflag,
               CAST(sum(d_price) AS DOUBLE) AS sum_price,
               CAST(avg(d_price) AS DOUBLE) AS avg_price,
               CAST(min(d_price) AS DOUBLE) AS min_price,
               CAST(max(d_price) AS DOUBLE) AS max_price,
               count(*) AS n
        FROM lineitem_decimal_priced WHERE l_orderkey < 5000
        GROUP BY l_returnflag
        """,
    )


# Decimal round/truncate over statically-typed COLUMN casts at
# scale (r16 — the value-pin extraction's semantics surface):
# 1-arg round lands the reference's decimal(min(38, p-s+min(1,s)),
# 0) INTEGER type (MathFunctions.java Round :788-792), truncate
# the decimal(max(1, p-s), 0) toward-zero type (Truncate
# :902-907), and 2-arg round keeps (p, s) at min(38, p+1) (RoundN
# :838-840) — all HALF_UP away from zero. The DuckDB oracle
# replays the three in exact integer cents (prices are positive,
# so (pc+50)//100 IS half-away-from-zero and pc//100 IS
# toward-zero); a regression to Spark's own derivations
# hash-mismatches on type-driven value shape.
register_sql(
    "sql_decimal_round_trunc_scale",
    """
        SELECT l_returnflag,
               CAST(sum(round(CAST(l_extendedprice
                    AS DECIMAL(12,2)))) AS DOUBLE) AS sum_round,
               CAST(sum(truncate(CAST(l_extendedprice
                    AS DECIMAL(12,2)))) AS DOUBLE) AS sum_trunc,
               CAST(sum(round(CAST(l_extendedprice
                    AS DECIMAL(12,2)), 1)) AS DOUBLE) AS sum_round1,
               count(*) AS n
        FROM lineitem WHERE l_orderkey < 5000
        GROUP BY l_returnflag
        """,
    oracle="""
WITH m AS (
  SELECT l_returnflag,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS pc
  FROM lineitem WHERE l_orderkey < 5000
)
SELECT l_returnflag,
       CAST(sum((pc + 50) // 100) AS DOUBLE) AS sum_round,
       CAST(sum(pc // 100) AS DOUBLE) AS sum_trunc,
       CAST(CAST(sum(((pc + 5) // 10) * 10) AS DOUBLE) / 100
            AS DOUBLE) AS sum_round1,
       count(*) AS n
FROM m GROUP BY l_returnflag
""",
)


# The r17 resolved-type numeric-semantics surface over a REAL
# double column (r16 verdict #1 — the r14-r16 program held only
# for lexically-visible types): CAST(double_col AS BIGINT) rounds
# half-away-from-zero (DoubleOperators.java:240 roundToLong
# HALF_UP; Spark truncates), a zero-able column divisor computes
# IEEE signed Infinity instead of the ANSI DIVIDE_BY_ZERO raise
# (TestMathFunctions.java:945), `%` computes IEEE NaN instead of
# REMAINDER_BY_ZERO (TestRealOperators.java:91), and ceil/floor
# PRESERVE DOUBLE (TestMathFunctions.java:151-171). All four ride
# frontend._annotate_numeric_columns threading the catalog's
# declared schema into the rewrites. The DuckDB oracle spells
# every expectation in exact integer cents / discount-pivot CASEs
# (DuckDB's own cast rounds half-even and its zero-divide yields
# NULL — native forms would diverge); a regression to Spark-ANSI
# either raises (gate error) or hash-mismatches on sum_cast.
register_sql(
    "sql_double_ieee_column_scale",
    """
        SELECT l_returnflag,
               sum(CAST(l_extendedprice AS BIGINT)) AS sum_cast,
               CAST(sum(CASE WHEN is_infinite(l_extendedprice /
                    (l_discount - 0.05E0)) THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_inf,
               CAST(sum(CASE WHEN is_nan(l_extendedprice %
                    (l_discount - 0.04E0)) THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_nan,
               CAST(sum(ceil(l_extendedprice)) AS DOUBLE)
                    AS sum_ceil,
               CAST(sum(floor(l_extendedprice)) AS DOUBLE)
                    AS sum_floor,
               count(*) AS n
        FROM lineitem WHERE l_orderkey < 5000
        GROUP BY l_returnflag
        """,
    oracle="""
WITH m AS (
  SELECT l_returnflag, l_discount,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS pc
  FROM lineitem WHERE l_orderkey < 5000
)
SELECT l_returnflag,
       CAST(sum((pc + 50) // 100) AS BIGINT) AS sum_cast,
       CAST(sum(CASE WHEN l_discount = 0.05 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_inf,
       CAST(sum(CASE WHEN l_discount = 0.04 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_nan,
       CAST(sum((pc + 99) // 100) AS DOUBLE) AS sum_ceil,
       CAST(sum(pc // 100) AS DOUBLE) AS sum_floor,
       count(*) AS n
FROM m GROUP BY l_returnflag
""",
)


_SQL_TPCDS_Q51 = """
WITH web AS (
  SELECT l_returnflag AS item,
         CAST(o_orderdate AS DATE) AS d,
         SUM(SUM(CAST(l_extendedprice AS DECIMAL(18,4))))
           OVER (PARTITION BY l_returnflag
                 ORDER BY CAST(o_orderdate AS DATE)
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cume_sales
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE o_orderkey < 2000 AND l_linenumber = 1
  GROUP BY l_returnflag, CAST(o_orderdate AS DATE)
), store AS (
  SELECT l_returnflag AS item,
         CAST(o_orderdate AS DATE) AS d,
         SUM(SUM(CAST(l_extendedprice AS DECIMAL(18,4))))
           OVER (PARTITION BY l_returnflag
                 ORDER BY CAST(o_orderdate AS DATE)
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cume_sales
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE o_orderkey < 2000 AND l_linenumber > 1
  GROUP BY l_returnflag, CAST(o_orderdate AS DATE)
)
SELECT COALESCE(w.item, s.item) AS item,
       COALESCE(w.d, s.d) AS d,
       CAST(w.cume_sales AS DOUBLE) AS web_cumulative,
       CAST(s.cume_sales AS DOUBLE) AS store_cumulative
FROM web w FULL OUTER JOIN store s
  ON w.item = s.item AND w.d = s.d
WHERE COALESCE(CAST(w.cume_sales AS DOUBLE), 0)
      > COALESCE(CAST(s.cume_sales AS DOUBLE), 0)
ORDER BY item, d
"""


# TPC-DS Q51's text shape — two channels' CUMULATIVE window sums
# over an aggregate (SUM(SUM(..)) OVER — a window over a GROUP BY
# aggregate, the distinctive q51 construction) FULL OUTER JOINed on
# the grouping key with a COALESCE comparison filter
# (presto-benchto-benchmarks .../tpcds/q51.sql role-mapped onto the
# fixture star: channels = first vs later lineitems). Same text
# runs on DuckDB as the oracle; money through the DECIMAL hop.
register_sql("sql_tpcds_q51", _SQL_TPCDS_Q51)


_SQL_TPCDS_Q88 = """
SELECT *
FROM (SELECT count(*) AS h1 FROM lineitem
      WHERE l_quantity BETWEEN 1 AND 5 AND l_linenumber = 1) t1,
     (SELECT count(*) AS h2 FROM lineitem
      WHERE l_quantity BETWEEN 6 AND 10 AND l_linenumber = 1) t2,
     (SELECT count(*) AS h3 FROM lineitem
      WHERE l_quantity BETWEEN 11 AND 15 AND l_linenumber = 1) t3,
     (SELECT count(*) AS h4 FROM lineitem
      WHERE l_quantity BETWEEN 16 AND 20 AND l_linenumber = 1) t4,
     (SELECT count(*) AS h5 FROM lineitem
      WHERE l_quantity BETWEEN 21 AND 25 AND l_linenumber = 1) t5,
     (SELECT count(*) AS h6 FROM lineitem
      WHERE l_quantity BETWEEN 26 AND 30 AND l_linenumber = 1) t6,
     (SELECT count(*) AS h7 FROM lineitem
      WHERE l_quantity BETWEEN 31 AND 40 AND l_linenumber = 1) t7,
     (SELECT count(*) AS h8 FROM lineitem
      WHERE l_quantity BETWEEN 41 AND 50 AND l_linenumber = 1) t8
"""


# TPC-DS Q88's text shape — eight single-row aggregate
# subqueries cross-joined into one row (the time-band battery;
# .../tpcds/q88.sql role-mapped: hour bands -> quantity bands).
# Each branch is an independent scan+filter+count; Catalyst plans
# eight parallel aggregates joined by BroadcastNestedLoopJoin on
# single rows — the 100 TB posture is eight pushed-filter scans,
# no shuffle beyond the global counts. Same text is the oracle.
register_sql("sql_tpcds_q88", _SQL_TPCDS_Q88)


_SQL_TPCDS_Q1 = """
WITH customer_total_return AS (
  SELECT o_custkey AS ctr_customer_sk,
         o_orderpriority AS ctr_store_sk,
         CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT))
              AS DOUBLE) / 100 AS ctr_total_return
  FROM orders
  GROUP BY o_custkey, o_orderpriority
)
SELECT c_name
FROM customer_total_return ctr1
JOIN customer ON ctr1.ctr_customer_sk = c_custkey
WHERE ctr1.ctr_total_return > (
  SELECT avg(ctr_total_return) * 1.2
  FROM customer_total_return ctr2
  WHERE ctr1.ctr_store_sk = ctr2.ctr_store_sk
)
ORDER BY c_name
LIMIT 100
"""


# TPC-DS Q1's text shape — a CTE of per-(customer, store)
# return totals, filtered by a CORRELATED scalar subquery over the
# SAME CTE (1.2x the per-store average), joined back to the
# customer dimension (.../tpcds/q01.sql role-mapped: store_returns
# -> orders, store -> orderpriority). Presto plans this via
# TransformCorrelatedScalarAggregationToJoin; Catalyst decorrelates
# the same shape to an aggregate + join — the 100 TB posture is
# one shuffle for the CTE aggregate, a broadcast of the tiny
# per-store averages, and a broadcast customer join. Money totals
# ride exact cents. Same text is the oracle.
register_sql("sql_tpcds_q1", _SQL_TPCDS_Q1)


_SQL_TPCDS_Q11 = """
WITH year_total AS (
  SELECT c_custkey AS customer_id,
         c_name AS customer_name,
         year(o_orderdate) AS dyear,
         CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT))
              AS DOUBLE) / 100 AS year_total
  FROM customer
  JOIN orders ON c_custkey = o_custkey
  GROUP BY c_custkey, c_name, year(o_orderdate)
)
SELECT t_s_secyear.customer_name
FROM year_total t_s_firstyear, year_total t_s_secyear
WHERE t_s_firstyear.customer_id = t_s_secyear.customer_id
  AND t_s_firstyear.dyear = 1995
  AND t_s_secyear.dyear = 1996
  AND t_s_firstyear.year_total > 0
  AND t_s_secyear.year_total / t_s_firstyear.year_total > 0.9
ORDER BY 1
LIMIT 100
"""


# TPC-DS Q11's text shape — the year-over-year customer ratio:
# one CTE of per-(customer, year) totals consumed TWICE in a
# comma-list self-join pinned to consecutive years, keeping
# customers whose second-year/first-year ratio clears a threshold
# (.../tpcds/q11.sql role-mapped onto orders; Q4 is the same
# skeleton with three channels). The self-join shuffles on
# customer_id — co-partitioned at 100 TB. Names are unique per
# custkey so ORDER BY customer_name LIMIT is total. Same text is
# the oracle.
register_sql("sql_tpcds_q11", _SQL_TPCDS_Q11)


_SQL_TPCDS_Q16 = """
SELECT count(DISTINCT o1.o_orderkey) AS order_count,
       CAST(SUM(CAST(round(o1.o_totalprice * 100) AS BIGINT))
            AS DOUBLE) / 100 AS total_price
FROM orders o1
WHERE o1.o_orderpriority = '1-URGENT'
  AND EXISTS (
    SELECT 1 FROM lineitem l1
    WHERE o1.o_orderkey = l1.l_orderkey AND l1.l_linenumber > 1
  )
  AND NOT EXISTS (
    SELECT 1 FROM lineitem l2
    WHERE o1.o_orderkey = l2.l_orderkey AND l2.l_returnflag = 'R'
  )
"""


# TPC-DS Q16's text shape — EXISTS plus NOT EXISTS correlated
# subqueries under one aggregate (count distinct + money sum):
# orders with a multi-line shipment and no returned line
# (.../tpcds/q16.sql role-mapped: catalog_sales -> orders,
# ws_order_number -> orderkey). Presto plans semi + anti joins
# (TransformExistsApplyToLateralNode); Catalyst plans
# LeftSemi + LeftAnti on the same keys — both sides shuffle on
# orderkey once, the 100 TB posture. Same text is the oracle.
register_sql("sql_tpcds_q16", _SQL_TPCDS_Q16)


_SQL_TPCDS_Q47 = """
WITH v1 AS (
  SELECT l_returnflag AS i_category,
         year(o_orderdate) AS d_year,
         month(o_orderdate) AS d_moy,
         CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT))
              AS DOUBLE) / 100 AS sum_sales,
         round(AVG(CAST(SUM(CAST(round(l_extendedprice * 100)
                            AS BIGINT)) AS DOUBLE) / 100)
           OVER (PARTITION BY l_returnflag, year(o_orderdate)), 6)
           AS avg_monthly_sales,
         RANK() OVER (PARTITION BY l_returnflag
                      ORDER BY year(o_orderdate), month(o_orderdate))
           AS rn
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  GROUP BY l_returnflag, year(o_orderdate), month(o_orderdate)
),
v2 AS (
  SELECT v1.i_category, v1.d_year, v1.d_moy,
         v1.avg_monthly_sales, v1.sum_sales,
         v1_lag.sum_sales AS psum,
         v1_lead.sum_sales AS nsum
  FROM v1, v1 v1_lag, v1 v1_lead
  WHERE v1.i_category = v1_lag.i_category
    AND v1.i_category = v1_lead.i_category
    AND v1.rn = v1_lag.rn + 1
    AND v1.rn = v1_lead.rn - 1
)
SELECT i_category, d_year, d_moy, avg_monthly_sales, sum_sales,
       psum, nsum
FROM v2
WHERE d_year = 1996
  AND avg_monthly_sales > 0
  AND abs(sum_sales - avg_monthly_sales) / avg_monthly_sales > 0.02
ORDER BY i_category, d_year, d_moy
LIMIT 100
"""


# TPC-DS Q47's text shape — the monthly-sales deviation hunt:
# a CTE mixing GROUP BY with an AVG-of-SUM window (per-category
# yearly average) and a RANK sequence, then the distinctive
# rn = rn±1 COMMA-LIST SELF-JOIN pulling the previous/next month's
# sales alongside each deviating month (.../tpcds/q47.sql
# role-mapped: item category -> returnflag, store months ->
# order months). Nested aggregate-in-window crosses the dialect
# layer; the self-joins shuffle on (category, rn) — bounded keys,
# broadcast-eligible at any scale. ORDER BY the full grouping key
# is total. Same text is the oracle.
register_sql("sql_tpcds_q47", _SQL_TPCDS_Q47)


_SQL_TPCDS_Q34 = """
SELECT c_name, dn.k AS o_key, cnt
FROM (
  SELECT l_orderkey AS k, count(*) AS cnt
  FROM lineitem
  GROUP BY l_orderkey
  HAVING count(*) BETWEEN 5 AND 7
) dn
JOIN orders ON o_orderkey = dn.k
JOIN customer ON o_custkey = c_custkey
ORDER BY c_name, o_key
LIMIT 200
"""


# TPC-DS Q34's text shape (Q73 is the same skeleton with a
# narrower band) — a grouped HAVING count(*) BETWEEN band in a
# derived table, joined back to the customer dimension
# (.../tpcds/q34.sql role-mapped: ticket -> orderkey, the 15-20
# buying-frequency band -> 5-7 lines per order). The derived
# aggregate shuffles once on orderkey; the join back to orders is
# key-aligned and customer broadcasts. ORDER BY (c_name, o_key) is
# total (orderkey unique). Same text is the oracle.
register_sql("sql_tpcds_q34", _SQL_TPCDS_Q34)


_SQL_TPCDS_Q59 = """
WITH wss AS (
  SELECT year(o_orderdate) AS yr, month(o_orderdate) AS mo,
         CAST(SUM(CASE WHEN l_returnflag = 'A' THEN
              CAST(round(l_extendedprice * 100) AS BIGINT) ELSE 0
              END) AS DOUBLE) / 100 AS a_sales,
         CAST(SUM(CASE WHEN l_returnflag = 'N' THEN
              CAST(round(l_extendedprice * 100) AS BIGINT) ELSE 0
              END) AS DOUBLE) / 100 AS n_sales,
         CAST(SUM(CASE WHEN l_returnflag = 'R' THEN
              CAST(round(l_extendedprice * 100) AS BIGINT) ELSE 0
              END) AS DOUBLE) / 100 AS r_sales
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  GROUP BY year(o_orderdate), month(o_orderdate)
)
SELECT y.mo AS mo,
       round(CASE WHEN x.a_sales > 0 THEN y.a_sales / x.a_sales END,
             9) AS a_ratio,
       round(CASE WHEN x.n_sales > 0 THEN y.n_sales / x.n_sales END,
             9) AS n_ratio,
       round(CASE WHEN x.r_sales > 0 THEN y.r_sales / x.r_sales END,
             9) AS r_ratio
FROM wss x JOIN wss y
  ON x.mo = y.mo AND y.yr = x.yr + 1
WHERE x.yr = 1996
ORDER BY mo
"""


# TPC-DS Q59's text shape — the week-over-week comparison: one
# CTE pivoting sales into per-category columns via SUM(CASE ...),
# then a SELF-JOIN one year apart on the aligned period with
# per-column ratios (.../tpcds/q59.sql role-mapped: day-of-week
# pivot -> returnflag pivot, week_seq+53 -> yr+1 on the same
# month). The pivot is one shuffle on (yr, mo); the self-join keys
# are tiny and broadcast. Exact-cents pivot sums make the ratios
# deterministic; round(_, 9) absorbs the double division. Same
# text is the oracle.
register_sql("sql_tpcds_q59", _SQL_TPCDS_Q59)


_SQL_TPCDS_Q95 = """
WITH multi_supp AS (
  SELECT l1.l_orderkey AS k
  FROM lineitem l1, lineitem l2
  WHERE l1.l_orderkey = l2.l_orderkey
    AND l1.l_suppkey <> l2.l_suppkey
)
SELECT count(DISTINCT o_orderkey) AS order_count,
       CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT))
            AS DOUBLE) / 100 AS total_price
FROM orders
WHERE o_orderpriority = '2-HIGH'
  AND o_orderkey IN (SELECT k FROM multi_supp)
  AND o_orderkey IN (SELECT l_orderkey FROM lineitem
                     WHERE l_returnflag = 'R')
"""


# TPC-DS Q95's text shape — the two-warehouse shipment hunt: a
# CTE SELF-JOINING the fact table on the same order with a
# different warehouse, consumed through IN subqueries under one
# count-distinct + sum aggregate (.../tpcds/q95.sql role-mapped:
# warehouse -> suppkey, web returns -> returned lines). Both IN
# subqueries plan as semi joins on orderkey — the same key the
# self-join shuffles on, so the whole pipeline is co-partitioned at
# any scale. Money through exact cents. Same text is the oracle.
register_sql("sql_tpcds_q95", _SQL_TPCDS_Q95)


_SQL_TPCDS_Q31 = """
WITH ss AS (
  SELECT n_name AS county, quarter(o_orderdate) AS qtr,
         CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT))
              AS DOUBLE) / 100 AS store_sales
  FROM orders
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  WHERE year(o_orderdate) = 1996
    AND o_orderpriority IN ('1-URGENT', '2-HIGH')
  GROUP BY n_name, quarter(o_orderdate)
), ws AS (
  SELECT n_name AS county, quarter(o_orderdate) AS qtr,
         CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT))
              AS DOUBLE) / 100 AS web_sales
  FROM orders
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  WHERE year(o_orderdate) = 1996
    AND o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
  GROUP BY n_name, quarter(o_orderdate)
)
SELECT ss1.county AS county,
       round(ws2.web_sales / ws1.web_sales, 9) AS web_g,
       round(ss2.store_sales / ss1.store_sales, 9) AS store_g
FROM ss ss1, ss ss2, ws ws1, ws ws2
WHERE ss1.county = ss2.county AND ss1.county = ws1.county
  AND ss1.county = ws2.county
  AND ss1.qtr = 1 AND ss2.qtr = 2 AND ws1.qtr = 1 AND ws2.qtr = 2
  AND ss1.store_sales > 0 AND ws1.web_sales > 0
  AND ws2.web_sales / ws1.web_sales
      > ss2.store_sales / ss1.store_sales
ORDER BY county
"""


# TPC-DS Q31's text shape — the quarter-over-quarter
# two-channel growth comparison: two channel CTEs (store/web
# role-mapped to priority bands), each consumed TWICE in a
# comma-list join pinned to consecutive quarters of the same
# county, keeping counties where the web channel outgrew the store
# channel (.../tpcds/q31.sql). Four aliases of two aggregates
# joined on a low-cardinality key — every join side is
# broadcast-eligible after the two grouped shuffles. Exact-cents
# sums; the ratio COMPARISON stays unrounded like the original
# (both engines evaluate the same doubles from the same exact
# cents). Same text is the oracle.
register_sql("sql_tpcds_q31", _SQL_TPCDS_Q31)


_SQL_TPCDS_Q39 = """
WITH inv AS (
  SELECT l_suppkey % 10 AS w_warehouse_sk, l_returnflag AS i_item_sk,
         month(o_orderdate) AS d_moy,
         CASE WHEN avg(l_quantity) = 0 THEN NULL
              ELSE round(stddev_samp(l_quantity) / avg(l_quantity), 9)
         END AS cov
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE year(o_orderdate) = 1996
  GROUP BY l_suppkey % 10, l_returnflag, month(o_orderdate)
  HAVING count(*) > 1
)
SELECT inv1.w_warehouse_sk, inv1.i_item_sk, inv1.d_moy,
       inv1.cov AS cov1, inv2.cov AS cov2
FROM inv inv1, inv inv2
WHERE inv1.w_warehouse_sk = inv2.w_warehouse_sk
  AND inv1.i_item_sk = inv2.i_item_sk
  AND inv1.d_moy = inv2.d_moy - 1
  AND inv1.cov > 0.55
ORDER BY inv1.w_warehouse_sk, inv1.i_item_sk, inv1.d_moy
"""


# TPC-DS Q39's text shape — the inventory volatility hunt: a
# CTE computing the coefficient of variation
# (stddev_samp / mean, NULL-guarded like the original's CASE) per
# (warehouse, item, month), self-joined on the CONSECUTIVE month
# with a volatility threshold (.../tpcds/q39_1.sql role-mapped:
# warehouse -> suppkey, inventory qty -> lineitem qty).
# stddev_samp crosses the dialect layer; round(_, 9) absorbs the
# double accumulation order on both engines. The self-join key set
# is the grouped CTE's own key — co-partitioned. ORDER BY the full
# key is total. Same text is the oracle.
register_sql("sql_tpcds_q39", _SQL_TPCDS_Q39)


_SQL_TPCDS_Q93 = """
SELECT o_custkey AS ss_customer_sk,
       round(CAST(SUM(CASE WHEN l2.l_orderkey IS NOT NULL
                 THEN CAST(round(l1.l_extendedprice * 100) AS BIGINT)
                      * (l1.l_linenumber - 1)
                 ELSE CAST(round(l1.l_extendedprice * 100) AS BIGINT)
                      * l1.l_linenumber END) AS DOUBLE) / 100, 2)
         AS sumsales
FROM lineitem l1
JOIN orders ON l1.l_orderkey = o_orderkey
LEFT JOIN lineitem l2
  ON l1.l_orderkey = l2.l_orderkey
 AND l1.l_linenumber = l2.l_linenumber
 AND l2.l_returnflag = 'R'
WHERE o_orderkey < 2000
GROUP BY o_custkey
ORDER BY sumsales, ss_customer_sk
LIMIT 100
"""


# TPC-DS Q93's text shape — returns-adjusted sales: the fact
# table LEFT-JOINED to its own returns side on (ticket, item), a
# CASE over the join-miss column choosing the adjusted vs plain
# quantity, aggregated per customer (.../tpcds/q93.sql
# role-mapped: store_returns -> returned lines, quantity roles ->
# linenumber). The left join is key-aligned with the fact shuffle;
# exact-cents arithmetic keeps the grouped sums order-independent
# (the CASE arms are integral cents times small ints). ORDER BY
# (sumsales, customer) is total. Same text is the oracle.
register_sql("sql_tpcds_q93", _SQL_TPCDS_Q93)


_SQL_TPCDS_Q15 = """
SELECT n_name,
       CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT))
            AS DOUBLE) / 100 AS total_sales
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
WHERE (substr(n_name, 1, 1) IN ('A', 'B', 'C', 'E', 'I')
       OR c_mktsegment IN ('BUILDING', 'MACHINERY')
       OR l_extendedprice > 50000)
  AND year(o_orderdate) = 1996
GROUP BY n_name
ORDER BY n_name
"""


# TPC-DS Q15's text shape — the OR-of-three-qualifier predicate
# (zip prefix IN / state IN / high-ticket sale) over a
# fact-customer-geography star, grouped by geography
# (.../tpcds/q15.sql role-mapped: zip -> nation-name prefix, state
# -> mktsegment, cs_sales_price -> extendedprice). The disjunction
# cannot prune any single dimension, so the planner's job is the
# join order: dims broadcast, the OR evaluates post-join — same
# plan Presto produces. ORDER BY the grouping key is total. Same
# text is the oracle.
register_sql("sql_tpcds_q15", _SQL_TPCDS_Q15)


_SQL_TPCDS_Q8 = """
SELECT n_name,
       CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT))
            AS DOUBLE) / 100 AS net_profit
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
WHERE substr(c_name, 10, 2) IN (
  SELECT substr(c1.c_name, 10, 2)
  FROM customer c1 WHERE c1.c_acctbal > 9000
  INTERSECT
  SELECT substr(c2.c_name, 10, 2)
  FROM customer c2
  JOIN orders o2 ON c2.c_custkey = o2.o_custkey
  GROUP BY substr(c2.c_name, 10, 2), c2.c_custkey
  HAVING count(*) > 10
)
GROUP BY n_name
ORDER BY n_name
"""


# TPC-DS Q8's text shape — store sales restricted to the zip
# prefixes that are BOTH in a literal-qualifier set AND home to
# enough preferred customers: an INTERSECT of two substr-keyed
# subqueries feeding an IN predicate over the main star
# (.../tpcds/q8.sql role-mapped: zip prefix -> customer-name
# digits, preferred-flag -> high balance, the >10 count -> active
# buyers). The INTERSECT output is tiny -> the IN semi join
# broadcasts; substr evaluates JVM-side in the scan stage. Same
# text is the oracle.
register_sql("sql_tpcds_q8", _SQL_TPCDS_Q8)


_SQL_TPCDS_Q23 = """
WITH frequent_items AS (
  SELECT l_partkey AS item_sk
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  GROUP BY l_partkey
  HAVING count(DISTINCT CAST(o_orderdate AS DATE)) > 2
),
max_sales AS (
  SELECT max(csales) AS tpcds_cmax FROM (
    SELECT o_custkey, CAST(SUM(CAST(round(l_extendedprice * 100)
           AS BIGINT)) AS DOUBLE) / 100 AS csales
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_custkey
  ) x
),
best_customers AS (
  SELECT o_custkey AS c_sk
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  GROUP BY o_custkey
  HAVING CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT))
         AS DOUBLE) / 100
         > 0.5 * (SELECT tpcds_cmax FROM max_sales)
)
SELECT round(CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT))
             AS DOUBLE) / 100, 2) AS sales
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE year(o_orderdate) = 1996
  AND l_partkey IN (SELECT item_sk FROM frequent_items)
  AND o_custkey IN (SELECT c_sk FROM best_customers)
"""


# The oracle's shape with its per-customer sales aggregate, spelled
# verbatim, named once as a CTE that run_sql computes once.
_SQL_TPCDS_Q23_ENGINE = """
WITH frequent_items AS (
  SELECT l_partkey AS item_sk
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  GROUP BY l_partkey
  HAVING count(DISTINCT CAST(o_orderdate AS DATE)) > 2
),
csales AS (
  SELECT o_custkey, CAST(SUM(CAST(round(l_extendedprice * 100)
         AS BIGINT)) AS DOUBLE) / 100 AS csales
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  GROUP BY o_custkey
),
best_customers AS (
  SELECT o_custkey AS c_sk
  FROM csales
  WHERE csales > 0.5 * (SELECT max(csales) FROM csales)
)
SELECT round(CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT))
             AS DOUBLE) / 100, 2) AS sales
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE year(o_orderdate) = 1996
  AND l_partkey IN (SELECT item_sk FROM frequent_items)
  AND o_custkey IN (SELECT c_sk FROM best_customers)
"""


# TPC-DS Q23's text shape (the _1 variant) — frequent items
# (HAVING a distinct-day count), best customers (HAVING above a
# fraction of a SCALAR MAX SUBQUERY over a nested per-customer
# aggregate), and the final fact scan filtered by BOTH IN
# subqueries (.../tpcds/q23_1.sql role-mapped onto lineitem/
# orders). The scalar max broadcasts into the HAVING; the two IN
# sets semi-join on their own grouped keys. Exact-cents money
# end-to-end. The oracle keeps the original single text.
register_sql("sql_tpcds_q23", _SQL_TPCDS_Q23_ENGINE, oracle=_SQL_TPCDS_Q23)


# The reference's qdigest SQL surface end-to-end
# (QuantileDigestAggregationFunction.java /
# QuantileDigestFunctions.java): qdigest_agg over a GROUP BY routed
# through the mergeable two-phase operator (partial digests below
# the exchange — frontend._route_geo_aggregate + operators/qdigest.
# qdigest_two_phase), with value_at_quantile / values_at_quantiles
# applied to the per-group digests. Scale: only few-KB wire
# sketches cross the exchange regardless of group size.
register_sql(
    "sql_qdigest_agg_scale",
    """
        SELECT l_returnflag,
               value_at_quantile(qdigest_agg(l_orderkey), 0.5) AS p50,
               value_at_quantile(qdigest_agg(l_orderkey), 0.9) AS p90,
               values_at_quantiles(qdigest_agg(l_orderkey),
                                   ARRAY[0.25, 0.75]) AS iqr
        FROM lineitem
        GROUP BY l_returnflag
        """,
    # rows-only: qdigest estimates are compression-order dependent
    # (the same contract as agg_qdigest_semantic); the rank-error
    # bound, merge law, clamp, and wire roundtrip are pinned in
    # tests/test_qdigest.py
    oracle=None,
)


# ---------------------------------------------------------------------------
# r15 TPC-DS SQL-text twins (#13-32 of the twin program): same PUBLIC
# benchmark text (presto-benchto-benchmarks src/main/resources/sql/
# presto/tpcds/qNN.sql) role-mapped onto the fixture tables, with the
# SAME text as the DuckDB oracle — the differential methodology the
# r13 verdict requested. Money aggregates ride exact integer cents.
# ---------------------------------------------------------------------------
_SQL_TPCDS_Q2_R15 = """
WITH wscs AS (
  SELECT CAST(o_orderdate AS DATE) AS sold_date,
         CAST(round(o_totalprice * 100) AS BIGINT) AS sales_price
  FROM orders WHERE o_orderpriority = '1-URGENT'
  UNION ALL
  SELECT CAST(o_orderdate AS DATE) AS sold_date,
         CAST(round(o_totalprice * 100) AS BIGINT) AS sales_price
  FROM orders WHERE o_orderpriority = '2-HIGH'
),
wswscs AS (
  SELECT year(sold_date) * 100 + month(sold_date) AS d_month_seq,
         SUM(CASE WHEN (date_diff('day', DATE '1995-01-02', sold_date) % 7) = 6
                  THEN sales_price ELSE NULL END) AS sun_sales,
         SUM(CASE WHEN (date_diff('day', DATE '1995-01-02', sold_date) % 7) = 0
                  THEN sales_price ELSE NULL END) AS mon_sales,
         SUM(CASE WHEN (date_diff('day', DATE '1995-01-02', sold_date) % 7) = 3
                  THEN sales_price ELSE NULL END) AS wed_sales,
         SUM(CASE WHEN (date_diff('day', DATE '1995-01-02', sold_date) % 7) = 5
                  THEN sales_price ELSE NULL END) AS fri_sales
  FROM wscs GROUP BY year(sold_date) * 100 + month(sold_date)
)
SELECT y.d_month_seq,
       round(CAST(y.sun_sales AS DOUBLE) / z.sun_sales, 2) AS r_sun,
       round(CAST(y.mon_sales AS DOUBLE) / z.mon_sales, 2) AS r_mon,
       round(CAST(y.wed_sales AS DOUBLE) / z.wed_sales, 2) AS r_wed,
       round(CAST(y.fri_sales AS DOUBLE) / z.fri_sales, 2) AS r_fri
FROM wswscs y, wswscs z
WHERE y.d_month_seq = z.d_month_seq - 100
  AND y.d_month_seq BETWEEN 199801 AND 199812
ORDER BY y.d_month_seq
"""

# TPC-DS Q2's text shape — a UNION ALL channel CTE feeding a second
# CTE of per-month weekday CASE-pivot sums, consumed TWICE in a self-
# join one year apart to emit week-over-week ratios
# (.../tpcds/q02.sql role-mapped: the two web/catalog channels -> two
# order-priority slices; d_week_seq -> a year*100+month sequence; the
# weekday comes from a portable date_diff-mod-7 spelling because the
# fixtures carry no date dimension). The CTE aggregates once, the
# self-join is a broadcast of a few hundred month rows — flat at 100
# TB. Same text is the oracle.
register_sql("sql_tpcds_q2", _SQL_TPCDS_Q2_R15)


_SQL_TPCDS_Q21_R15 = """
SELECT *
FROM (SELECT s_name,
             p_name,
             SUM(CASE WHEN CAST(l_shipdate AS DATE) < DATE '1998-01-01'
                      THEN l_quantity ELSE 0 END) AS inv_before,
             SUM(CASE WHEN CAST(l_shipdate AS DATE) >= DATE '1998-01-01'
                      THEN l_quantity ELSE 0 END) AS inv_after
      FROM lineitem
      JOIN part ON l_partkey = p_partkey
      JOIN supplier ON l_suppkey = s_suppkey
      WHERE CAST(l_shipdate AS DATE) BETWEEN DATE '1997-10-01'
                                         AND DATE '1998-04-01'
      GROUP BY s_name, p_name) x
WHERE (CASE WHEN inv_before > 0
            THEN CAST(inv_after AS DOUBLE) / inv_before
            ELSE NULL END) BETWEEN 2.0E0 / 3.0E0 AND 3.0E0 / 2.0E0
ORDER BY s_name, p_name
LIMIT 100
"""

# TPC-DS Q21's text shape — per-(warehouse, item) before/after-the-
# event quantity split via CASE sums with a ratio band filter on the
# outer SELECT (.../tpcds/q21.sql role-mapped: inventory -> lineitem,
# warehouse -> supplier, the 30-day window around a ship-date
# cutoff). The band bounds are spelled 2.0E0/3.0E0 (DOUBLE division)
# because the original's bare 2.0/3.0 is DECIMAL division in the
# reference — decimal(3,1) HALF_UP = 0.7, a semantics this engine
# replays but DuckDB does not; the DOUBLE spelling keeps the text a
# true twin. One shuffle on the group keys. Same text is the oracle.
register_sql("sql_tpcds_q21", _SQL_TPCDS_Q21_R15)


_SQL_TPCDS_Q41_R15 = """
SELECT DISTINCT (p_name)
FROM part p1
WHERE p_partkey BETWEEN 100 AND 300
  AND (SELECT count(*) AS item_cnt
       FROM part
       WHERE (p_brand = p1.p_brand
              AND ((p_type LIKE '%ECON%' AND p_size BETWEEN 1 AND 15)
                   OR (p_type LIKE '%STAND%' AND p_size BETWEEN 10 AND 25)))
          OR (p_brand = p1.p_brand
              AND ((p_type LIKE '%PROMO%' AND p_size BETWEEN 5 AND 20)
                   OR (p_type LIKE '%MEDIUM%' AND p_size BETWEEN 15 AND 30)))) > 0
ORDER BY p_name
LIMIT 100
"""

# TPC-DS Q41's text shape — DISTINCT product names gated by a
# correlated scalar count over an OR-of-ANDs attribute matrix
# (.../tpcds/q41.sql role-mapped: i_manufact -> p_brand, the
# color/size/unit conjunctions -> p_type/p_size bands). Catalyst
# decorrelates the scalar count to an aggregate-join; the part
# dimension broadcasts at any scale. Same text is the oracle.
register_sql("sql_tpcds_q41", _SQL_TPCDS_Q41_R15)


_SQL_TPCDS_Q48_R15 = """
SELECT SUM(l_quantity) AS qty
FROM orders, customer, lineitem
WHERE o_orderkey = l_orderkey
  AND o_custkey = c_custkey
  AND ((c_mktsegment = 'BUILDING'
        AND o_totalprice BETWEEN 1000.0 AND 60000.0)
       OR (c_mktsegment = 'AUTOMOBILE'
           AND o_totalprice BETWEEN 50000.0 AND 110000.0)
       OR (c_mktsegment = 'MACHINERY'
           AND o_totalprice BETWEEN 100000.0 AND 160000.0))
"""

# TPC-DS Q48's text shape — one scan-aggregate whose predicate is an
# OR of three (demographic x price-band) conjunctions
# (.../tpcds/q48.sql role-mapped: marital/education -> c_mktsegment,
# sales-price bands -> o_totalprice bands). The whole disjunction
# pushes into one pass over the fact join — no intermediate
# materialization at 100 TB. Same text is the oracle.
register_sql("sql_tpcds_q48", _SQL_TPCDS_Q48_R15)


_SQL_TPCDS_Q49_R15 = """
SELECT channel, item, return_ratio, return_rank
FROM (SELECT 'F' AS channel, f.item, f.return_ratio,
             RANK() OVER (ORDER BY f.return_ratio) AS return_rank
      FROM (SELECT l_partkey AS item,
                   CAST(SUM(CASE WHEN l_returnflag = 'R'
                                 THEN l_quantity ELSE 0 END) AS DOUBLE)
                     / SUM(l_quantity) AS return_ratio
            FROM lineitem
            WHERE l_linestatus = 'F' AND l_quantity > 0
            GROUP BY l_partkey
            HAVING SUM(l_quantity) >= 30) f
      UNION
      SELECT 'O' AS channel, o.item, o.return_ratio,
             RANK() OVER (ORDER BY o.return_ratio) AS return_rank
      FROM (SELECT l_partkey AS item,
                   CAST(SUM(CASE WHEN l_returnflag = 'R'
                                 THEN l_quantity ELSE 0 END) AS DOUBLE)
                     / SUM(l_quantity) AS return_ratio
            FROM lineitem
            WHERE l_linestatus = 'O' AND l_quantity > 0
            GROUP BY l_partkey
            HAVING SUM(l_quantity) >= 30) o) ranked
WHERE return_rank <= 10
ORDER BY channel, return_rank, item
"""

# TPC-DS Q49's text shape — per-channel return ratios ranked by a
# window, UNION-deduped, worst-10 per channel (.../tpcds/q49.sql
# role-mapped: the web/catalog/store channels -> the two l_linestatus
# slices; currency ratio -> returned-quantity ratio). Each channel is
# one grouped aggregate + one global rank; UNION dedup is a final
# few-row shuffle. Same text is the oracle.
register_sql("sql_tpcds_q49", _SQL_TPCDS_Q49_R15)


_SQL_TPCDS_Q70_R15 = """
SELECT CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE)
         / 100 AS total_sum,
       n_name, c_mktsegment,
       grouping(n_name) + grouping(c_mktsegment) AS lochierarchy,
       RANK() OVER (
         PARTITION BY grouping(n_name) + grouping(c_mktsegment),
           CASE WHEN grouping(c_mktsegment) = 0 THEN n_name END
         ORDER BY SUM(CAST(round(o_totalprice * 100) AS BIGINT)) DESC
       ) AS rank_within_parent
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
GROUP BY ROLLUP (n_name, c_mktsegment)
ORDER BY lochierarchy DESC,
         CASE WHEN lochierarchy = 0 THEN n_name END,
         rank_within_parent, n_name, c_mktsegment
LIMIT 100
"""

# TPC-DS Q70's text shape — ROLLUP over a geography hierarchy with
# RANK() OVER (PARTITION BY grouping(...) + grouping(...)) — rank-
# within-parent across the rollup levels (.../tpcds/q70.sql role-
# mapped: state/county -> nation/market-segment; money through exact
# cents). Exercises grouping() under ROLLUP inside a window PARTITION
# BY — the expanded grouping sets aggregate once, the rank partitions
# by grouping level. Same text is the oracle.
register_sql("sql_tpcds_q70", _SQL_TPCDS_Q70_R15)


_SQL_TPCDS_Q75_R15 = """
WITH all_sales AS (
  SELECT dyear, p_brand, p_type,
         SUM(sales_cnt) AS sales_cnt,
         SUM(sales_amt) AS sales_amt
  FROM (SELECT year(CAST(l_shipdate AS DATE)) AS dyear,
               p_brand, p_type,
               l_quantity AS sales_cnt,
               CAST(round(l_extendedprice * 100) AS BIGINT) AS sales_amt
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE l_linestatus = 'F'
        UNION ALL
        SELECT year(CAST(l_shipdate AS DATE)) AS dyear,
               p_brand, p_type,
               l_quantity AS sales_cnt,
               CAST(round(l_extendedprice * 100) AS BIGINT) AS sales_amt
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE l_linestatus = 'O') sales_detail
  GROUP BY dyear, p_brand, p_type
)
SELECT prev_yr.dyear AS prev_year, curr_yr.dyear AS dyear,
       curr_yr.p_brand, curr_yr.p_type,
       prev_yr.sales_cnt AS prev_yr_cnt,
       curr_yr.sales_cnt AS curr_yr_cnt
FROM all_sales curr_yr, all_sales prev_yr
WHERE curr_yr.p_brand = prev_yr.p_brand
  AND curr_yr.p_type = prev_yr.p_type
  AND curr_yr.dyear = 1999
  AND prev_yr.dyear = 1999 - 1
  AND CAST(curr_yr.sales_cnt AS DOUBLE) / CAST(prev_yr.sales_cnt AS DOUBLE) < 0.9
ORDER BY prev_yr_cnt - curr_yr_cnt DESC, curr_yr.p_brand, curr_yr.p_type
LIMIT 100
"""

# TPC-DS Q75's text shape — a UNION ALL of channel sales re-
# aggregated by (year, brand, type), self-joined a year apart,
# keeping rows whose sales declined below 0.9x (.../tpcds/q75.sql
# role-mapped onto lineitem/part with l_linestatus as the channel
# axis; sales_amt rides exact cents). The CTE shuffles once on the
# dimension keys; the year-pinned self-join broadcasts. Same text is
# the oracle.
register_sql("sql_tpcds_q75", _SQL_TPCDS_Q75_R15)


_SQL_TPCDS_Q87_R15 = """
SELECT count(*) AS num_cool
FROM ((SELECT DISTINCT c_name, c_custkey
       FROM orders JOIN customer ON o_custkey = c_custkey
       WHERE year(CAST(o_orderdate AS DATE)) = 1998)
      EXCEPT
      (SELECT DISTINCT c_name, c_custkey
       FROM orders JOIN customer ON o_custkey = c_custkey
       JOIN lineitem ON o_orderkey = l_orderkey
       WHERE year(CAST(o_orderdate AS DATE)) = 1998
         AND l_returnflag = 'R')
      EXCEPT
      (SELECT DISTINCT c_name, c_custkey
       FROM orders JOIN customer ON o_custkey = c_custkey
       WHERE o_orderpriority = '5-LOW'
         AND year(CAST(o_orderdate AS DATE)) = 1998)) cool_cust
"""

# TPC-DS Q87's text shape — count over a chain of two EXCEPTs of
# DISTINCT customer cohorts (.../tpcds/q87.sql role-mapped: the
# store/catalog/web cohort sources -> order-year, returns, and
# priority cohorts). EXCEPT [DISTINCT] plans as two hash anti-joins
# on the same distinct keys — co-partitioned, no all-pairs anywhere.
# Same text is the oracle.
register_sql("sql_tpcds_q87", _SQL_TPCDS_Q87_R15)


_SQL_TPCDS_Q90_R15 = """
SELECT CAST(amc AS DOUBLE) / CAST(pmc AS DOUBLE) AS am_pm_ratio
FROM (SELECT count(*) AS amc FROM events
      WHERE hour(ts) BETWEEN 8 AND 9 AND event_type = 'click') at_,
     (SELECT count(*) AS pmc FROM events
      WHERE hour(ts) BETWEEN 19 AND 20 AND event_type = 'click') pt
ORDER BY am_pm_ratio
LIMIT 100
"""

# TPC-DS Q90's text shape — the am/pm ratio: two uncorrelated scalar-
# count subqueries cross-joined and divided (.../tpcds/q90.sql role-
# mapped: web_sales time_dim windows -> events hour(ts) windows). Two
# filtered counts, one row each — the cross join is degenerate at any
# scale. Same text is the oracle.
register_sql("sql_tpcds_q90", _SQL_TPCDS_Q90_R15)


_SQL_TPCDS_Q92_R15 = """
SELECT CAST(SUM(CAST(round(l.l_discount * l.l_extendedprice * 100)
                     AS BIGINT)) AS DOUBLE) / 100 AS excess_discount_amount
FROM lineitem l
WHERE CAST(l.l_shipdate AS DATE) BETWEEN DATE '1998-01-01'
                                     AND DATE '1998-04-01'
  AND l.l_discount * l.l_extendedprice > (
      SELECT 1.3 * avg(i.l_discount * i.l_extendedprice)
      FROM lineitem i
      WHERE i.l_partkey = l.l_partkey
        AND CAST(i.l_shipdate AS DATE) BETWEEN DATE '1998-01-01'
                                           AND DATE '1998-04-01')
ORDER BY excess_discount_amount
LIMIT 100
"""

# TPC-DS Q92's text shape — 'excess discount': sum the discount
# amounts that exceed 1.3x the item's own date-windowed average, via
# a correlated scalar AVG (.../tpcds/q92.sql role-mapped onto
# lineitem; money through exact cents). Catalyst decorrelates to a
# per-item aggregate joined back on l_partkey — two co-partitioned
# shuffles at 100 TB. Same text is the oracle.
register_sql("sql_tpcds_q92", _SQL_TPCDS_Q92_R15)


_SQL_TPCDS_Q97_R15 = """
WITH ssci AS (
  SELECT o_custkey AS customer_sk, l_partkey AS item_sk
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE l_linestatus = 'F'
  GROUP BY o_custkey, l_partkey
),
csci AS (
  SELECT o_custkey AS customer_sk, l_partkey AS item_sk
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE l_linestatus = 'O'
  GROUP BY o_custkey, l_partkey
)
SELECT CAST(SUM(CASE WHEN ssci.customer_sk IS NOT NULL
                 AND csci.customer_sk IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS store_only,
       CAST(SUM(CASE WHEN ssci.customer_sk IS NULL
                 AND csci.customer_sk IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS catalog_only,
       CAST(SUM(CASE WHEN ssci.customer_sk IS NOT NULL
                 AND csci.customer_sk IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS store_and_catalog
FROM ssci
FULL OUTER JOIN csci ON (ssci.customer_sk = csci.customer_sk
                         AND ssci.item_sk = csci.item_sk)
"""

# TPC-DS Q97's text shape — channel-overlap counts from a FULL OUTER
# JOIN of two DISTINCT (customer, item) pair sets (.../tpcds/q97.sql
# role-mapped: store/catalog channels -> l_linestatus slices). Both
# sides group to distinct pairs on the same keys, so the full-outer
# join is co-partitioned; the CASE-sum collapse is map-side. Same
# text is the oracle.
register_sql("sql_tpcds_q97", _SQL_TPCDS_Q97_R15)


_SQL_TPCDS_Q99_R15 = """
SELECT o_orderpriority,
       CAST(SUM(CASE WHEN date_diff('day', CAST(o_orderdate AS DATE),
                               CAST(l_shipdate AS DATE)) <= 30
                THEN 1 ELSE 0 END) AS BIGINT) AS d30,
       CAST(SUM(CASE WHEN date_diff('day', CAST(o_orderdate AS DATE),
                               CAST(l_shipdate AS DATE)) > 30
                 AND date_diff('day', CAST(o_orderdate AS DATE),
                               CAST(l_shipdate AS DATE)) <= 60
                THEN 1 ELSE 0 END) AS BIGINT) AS d60,
       CAST(SUM(CASE WHEN date_diff('day', CAST(o_orderdate AS DATE),
                               CAST(l_shipdate AS DATE)) > 60
                 AND date_diff('day', CAST(o_orderdate AS DATE),
                               CAST(l_shipdate AS DATE)) <= 90
                THEN 1 ELSE 0 END) AS BIGINT) AS d90,
       CAST(SUM(CASE WHEN date_diff('day', CAST(o_orderdate AS DATE),
                               CAST(l_shipdate AS DATE)) > 90
                 AND date_diff('day', CAST(o_orderdate AS DATE),
                               CAST(l_shipdate AS DATE)) <= 120
                THEN 1 ELSE 0 END) AS BIGINT) AS d120,
       CAST(SUM(CASE WHEN date_diff('day', CAST(o_orderdate AS DATE),
                               CAST(l_shipdate AS DATE)) > 120
                THEN 1 ELSE 0 END) AS BIGINT) AS dmore
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""

# TPC-DS Q99's text shape — ship-lag histogram as five CASE-sum pivot
# columns of date_diff buckets per priority (.../tpcds/q99.sql role-
# mapped: warehouse/ship-mode -> o_orderpriority, days-to-ship ->
# orderdate->shipdate lag). Single fact-fact join on the order key —
# bucketable; the pivot is map-side combine. Same text is the oracle.
register_sql("sql_tpcds_q99", _SQL_TPCDS_Q99_R15)


# ---- r15 twin batch 2 (#33-42): same methodology -------------------
_SQL_TPCDS_Q4_R15 = """
WITH year_total AS (
  SELECT c_custkey AS customer_id, c_name AS customer_name,
         year(CAST(o_orderdate AS DATE)) AS dyear,
         CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT))
              AS DOUBLE) / 100 AS year_total,
         's' AS sale_type
  FROM customer JOIN orders ON c_custkey = o_custkey
  WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
  GROUP BY c_custkey, c_name, year(CAST(o_orderdate AS DATE))
  UNION ALL
  SELECT c_custkey AS customer_id, c_name AS customer_name,
         year(CAST(o_orderdate AS DATE)) AS dyear,
         CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT))
              AS DOUBLE) / 100 AS year_total,
         'c' AS sale_type
  FROM customer JOIN orders ON c_custkey = o_custkey
  WHERE o_orderpriority = '3-MEDIUM'
  GROUP BY c_custkey, c_name, year(CAST(o_orderdate AS DATE))
  UNION ALL
  SELECT c_custkey AS customer_id, c_name AS customer_name,
         year(CAST(o_orderdate AS DATE)) AS dyear,
         CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT))
              AS DOUBLE) / 100 AS year_total,
         'w' AS sale_type
  FROM customer JOIN orders ON c_custkey = o_custkey
  WHERE o_orderpriority IN ('4-NOT SPECIFIED', '5-LOW')
  GROUP BY c_custkey, c_name, year(CAST(o_orderdate AS DATE))
)
SELECT t_s_secyear.customer_id, t_s_secyear.customer_name
FROM year_total t_s_firstyear, year_total t_s_secyear,
     year_total t_c_firstyear, year_total t_c_secyear,
     year_total t_w_firstyear, year_total t_w_secyear
WHERE t_s_secyear.customer_id = t_s_firstyear.customer_id
  AND t_s_firstyear.customer_id = t_c_secyear.customer_id
  AND t_s_firstyear.customer_id = t_c_firstyear.customer_id
  AND t_s_firstyear.customer_id = t_w_firstyear.customer_id
  AND t_s_firstyear.customer_id = t_w_secyear.customer_id
  AND t_s_firstyear.sale_type = 's' AND t_c_firstyear.sale_type = 'c'
  AND t_w_firstyear.sale_type = 'w' AND t_s_secyear.sale_type = 's'
  AND t_c_secyear.sale_type = 'c' AND t_w_secyear.sale_type = 'w'
  AND t_s_firstyear.dyear = 1995 AND t_s_secyear.dyear = 1995 + 1
  AND t_c_firstyear.dyear = 1995 AND t_c_secyear.dyear = 1995 + 1
  AND t_w_firstyear.dyear = 1995 AND t_w_secyear.dyear = 1995 + 1
  AND t_s_firstyear.year_total > 0
  AND t_c_firstyear.year_total > 0
  AND t_w_firstyear.year_total > 0
  AND t_c_secyear.year_total / t_c_firstyear.year_total
        > t_s_secyear.year_total / t_s_firstyear.year_total
  AND t_c_secyear.year_total / t_c_firstyear.year_total
        > t_w_secyear.year_total / t_w_firstyear.year_total
ORDER BY t_s_secyear.customer_id, t_s_secyear.customer_name
LIMIT 100
"""

# TPC-DS Q4's text shape — the three-channel year_total CTE
# (store/catalog/web -> three order-priority slices) consumed SIX
# times in one self-join, keeping customers whose second-year ratio
# improves in the catalog channel over BOTH other channels
# (.../tpcds/q04.sql role-mapped; money rides exact cents). Same
# text is the oracle.
register_sql("sql_tpcds_q4", _SQL_TPCDS_Q4_R15)


_SQL_TPCDS_Q30_R15 = """
WITH customer_total_return AS (
  SELECT o_custkey AS ctr_customer_sk,
         c_nationkey AS ctr_state,
         CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT))
              AS DOUBLE) / 100 AS ctr_total_return
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  WHERE l_returnflag = 'R'
    AND year(CAST(o_orderdate AS DATE)) = 1998
  GROUP BY o_custkey, c_nationkey
)
SELECT c_custkey, c_name, ctr_total_return
FROM customer_total_return ctr1
JOIN customer ON ctr1.ctr_customer_sk = c_custkey
WHERE ctr1.ctr_total_return > (SELECT avg(ctr_total_return) * 1.2
                               FROM customer_total_return ctr2
                               WHERE ctr1.ctr_state = ctr2.ctr_state)
ORDER BY c_custkey, c_name, ctr_total_return
LIMIT 100
"""

# TPC-DS Q30's text shape — per-customer return totals vs 1.2x the
# per-state average via a correlated scalar subquery over the same
# CTE, joined back to the customer dimension (.../tpcds/q30.sql role-
# mapped: ca_state -> c_nationkey, web returns -> 'R' lineitems).
# Catalyst decorrelates to a per-state aggregate broadcast. Same text
# is the oracle.
register_sql("sql_tpcds_q30", _SQL_TPCDS_Q30_R15)


_SQL_TPCDS_Q33_R15 = """
WITH ss AS (
  SELECT p_brand, SUM(CAST(round(l_extendedprice * 100) AS BIGINT))
           AS total_sales
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE p_brand IN (SELECT p_brand FROM part
                    WHERE p_type = 'ECONOMY')
    AND l_linestatus = 'F'
  GROUP BY p_brand
),
cs AS (
  SELECT p_brand, SUM(CAST(round(l_extendedprice * 100) AS BIGINT))
           AS total_sales
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE p_brand IN (SELECT p_brand FROM part
                    WHERE p_type = 'ECONOMY')
    AND l_linestatus = 'O' AND l_returnflag = 'N'
  GROUP BY p_brand
),
ws AS (
  SELECT p_brand, SUM(CAST(round(l_extendedprice * 100) AS BIGINT))
           AS total_sales
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE p_brand IN (SELECT p_brand FROM part
                    WHERE p_type = 'ECONOMY')
    AND l_linestatus = 'O' AND l_returnflag = 'R'
  GROUP BY p_brand
)
SELECT p_brand,
       CAST(SUM(total_sales) AS DOUBLE) / 100 AS total_sales
FROM (SELECT * FROM ss
      UNION ALL
      SELECT * FROM cs
      UNION ALL
      SELECT * FROM ws) tmp1
GROUP BY p_brand
ORDER BY total_sales DESC, p_brand
LIMIT 100
"""

# TPC-DS Q33's text shape — three channel CTEs each restricted to an
# IN-subquery brand list (manufacturers in a category), UNION ALLed
# and re-aggregated to total sales per brand (.../tpcds/q33.sql role-
# mapped: the three channels -> linestatus/returnflag slices). The IN
# subquery broadcasts; each channel is one grouped scan. Same text is
# the oracle.
register_sql("sql_tpcds_q33", _SQL_TPCDS_Q33_R15)


_SQL_TPCDS_Q43_R15 = """
SELECT s_name, s_suppkey,
       SUM(CASE WHEN (date_diff('day', DATE '1995-01-02',
                                CAST(l_shipdate AS DATE)) % 7) = 6
                THEN l_quantity ELSE 0 END) AS sun_sales,
       SUM(CASE WHEN (date_diff('day', DATE '1995-01-02',
                                CAST(l_shipdate AS DATE)) % 7) = 0
                THEN l_quantity ELSE 0 END) AS mon_sales,
       SUM(CASE WHEN (date_diff('day', DATE '1995-01-02',
                                CAST(l_shipdate AS DATE)) % 7) = 1
                THEN l_quantity ELSE 0 END) AS tue_sales,
       SUM(CASE WHEN (date_diff('day', DATE '1995-01-02',
                                CAST(l_shipdate AS DATE)) % 7) = 2
                THEN l_quantity ELSE 0 END) AS wed_sales,
       SUM(CASE WHEN (date_diff('day', DATE '1995-01-02',
                                CAST(l_shipdate AS DATE)) % 7) = 3
                THEN l_quantity ELSE 0 END) AS thu_sales,
       SUM(CASE WHEN (date_diff('day', DATE '1995-01-02',
                                CAST(l_shipdate AS DATE)) % 7) = 4
                THEN l_quantity ELSE 0 END) AS fri_sales,
       SUM(CASE WHEN (date_diff('day', DATE '1995-01-02',
                                CAST(l_shipdate AS DATE)) % 7) = 5
                THEN l_quantity ELSE 0 END) AS sat_sales
FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
WHERE year(CAST(l_shipdate AS DATE)) = 1998
GROUP BY s_name, s_suppkey
ORDER BY s_name, s_suppkey
LIMIT 100
"""

# TPC-DS Q43's text shape — the per-store weekday CASE pivot
# (.../tpcds/q43.sql role-mapped: store -> supplier; d_day_name -> a
# portable date_diff-mod-7 weekday because the fixtures carry no date
# dimension). One grouped scan, map-side combine carries seven
# partial sums. Same text is the oracle.
register_sql("sql_tpcds_q43", _SQL_TPCDS_Q43_R15)


_SQL_TPCDS_Q53_R15 = """
SELECT *
FROM (SELECT p_brand,
             CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
               AS sum_sales,
             AVG(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)))
               OVER (PARTITION BY p_brand) AS avg_quarterly_sales
      FROM lineitem JOIN part ON l_partkey = p_partkey
      WHERE year(CAST(l_shipdate AS DATE)) IN (1998, 1999)
      GROUP BY p_brand, quarter(CAST(l_shipdate AS DATE)),
               year(CAST(l_shipdate AS DATE))) tmp1
WHERE CASE WHEN avg_quarterly_sales > 0
           THEN abs(sum_sales - avg_quarterly_sales)
                  / avg_quarterly_sales
           ELSE NULL END > 0.1E0
ORDER BY avg_quarterly_sales, sum_sales, p_brand
LIMIT 100
"""

# TPC-DS Q53's text shape — quarterly brand sums compared to their
# own AVG() OVER (PARTITION BY brand), keeping rows that deviate more
# than 10% (.../tpcds/q53.sql role-mapped; q63/q89 share the
# skeleton). A window aggregate OVER a grouped aggregate — two
# shuffles, both on pruned row counts. Same text is the oracle.
register_sql("sql_tpcds_q53", _SQL_TPCDS_Q53_R15)


_SQL_TPCDS_Q58_R15 = """
WITH ss_items AS (
  SELECT p_brand AS item_id,
         SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS ss_item_rev
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE l_suppkey % 3 = 0
  GROUP BY p_brand
),
cs_items AS (
  SELECT p_brand AS item_id,
         SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS cs_item_rev
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE l_suppkey % 3 = 1
  GROUP BY p_brand
),
ws_items AS (
  SELECT p_brand AS item_id,
         SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS ws_item_rev
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE l_suppkey % 3 = 2
  GROUP BY p_brand
)
SELECT ss_items.item_id,
       CAST(ss_item_rev AS DOUBLE) / 100 AS ss_item_rev,
       CAST(cs_item_rev AS DOUBLE) / 100 AS cs_item_rev,
       CAST(ws_item_rev AS DOUBLE) / 100 AS ws_item_rev,
       CAST(ss_item_rev + cs_item_rev + ws_item_rev AS DOUBLE)
         / 3 / 100 AS average
FROM ss_items
JOIN cs_items ON ss_items.item_id = cs_items.item_id
JOIN ws_items ON ss_items.item_id = ws_items.item_id
WHERE ss_item_rev BETWEEN 0.9E0 * cs_item_rev AND 1.1E0 * cs_item_rev
  AND ss_item_rev BETWEEN 0.9E0 * ws_item_rev AND 1.1E0 * ws_item_rev
  AND cs_item_rev BETWEEN 0.9E0 * ss_item_rev AND 1.1E0 * ss_item_rev
  AND cs_item_rev BETWEEN 0.9E0 * ws_item_rev AND 1.1E0 * ws_item_rev
  AND ws_item_rev BETWEEN 0.9E0 * ss_item_rev AND 1.1E0 * ss_item_rev
  AND ws_item_rev BETWEEN 0.9E0 * cs_item_rev AND 1.1E0 * cs_item_rev
ORDER BY ss_items.item_id, ss_item_rev
LIMIT 100
"""

# TPC-DS Q58's text shape — three per-brand channel revenues joined
# and kept only when every pairwise ratio is within 10%
# (.../tpcds/q58.sql role-mapped: the three channels -> uniform
# l_suppkey%3 slices so the 10% band is actually populated at fixture
# scale). Three grouped scans joined on the brand key —
# broadcastable. Same text is the oracle.
register_sql("sql_tpcds_q58", _SQL_TPCDS_Q58_R15)


_SQL_TPCDS_Q61_R15 = """
SELECT CAST(promotions AS DOUBLE) / CAST(total AS DOUBLE) * 100
         AS promo_pct
FROM (SELECT SUM(CAST(round(l_extendedprice * 100) AS BIGINT))
               AS promotions
      FROM lineitem JOIN part ON l_partkey = p_partkey
      WHERE p_type = 'PROMO'
        AND year(CAST(l_shipdate AS DATE)) = 1998) promotional_sales,
     (SELECT SUM(CAST(round(l_extendedprice * 100) AS BIGINT))
               AS total
      FROM lineitem JOIN part ON l_partkey = p_partkey
      WHERE year(CAST(l_shipdate AS DATE)) = 1998) all_sales
ORDER BY promo_pct
LIMIT 100
"""

# TPC-DS Q61's text shape — the promotional-revenue percentage: two
# uncorrelated aggregate subqueries cross-joined and divided
# (.../tpcds/q61.sql role-mapped: promotions -> PROMO part type). Two
# one-row aggregates; the cross join is degenerate at any scale. Same
# text is the oracle.
register_sql("sql_tpcds_q61", _SQL_TPCDS_Q61_R15)


_SQL_TPCDS_Q66_R15 = """
SELECT s_name, dyear,
       CAST(SUM(jan_sales) AS DOUBLE) / 100 AS jan_sales,
       CAST(SUM(feb_sales) AS DOUBLE) / 100 AS feb_sales,
       CAST(SUM(mar_sales) AS DOUBLE) / 100 AS mar_sales,
       CAST(SUM(oct_sales) AS DOUBLE) / 100 AS oct_sales,
       CAST(SUM(nov_sales) AS DOUBLE) / 100 AS nov_sales,
       CAST(SUM(dec_sales) AS DOUBLE) / 100 AS dec_sales
FROM (SELECT s_name, year(CAST(l_shipdate AS DATE)) AS dyear,
             SUM(CASE WHEN month(CAST(l_shipdate AS DATE)) = 1
                      THEN CAST(round(l_extendedprice * 100) AS BIGINT)
                      ELSE 0 END) AS jan_sales,
             SUM(CASE WHEN month(CAST(l_shipdate AS DATE)) = 2
                      THEN CAST(round(l_extendedprice * 100) AS BIGINT)
                      ELSE 0 END) AS feb_sales,
             SUM(CASE WHEN month(CAST(l_shipdate AS DATE)) = 3
                      THEN CAST(round(l_extendedprice * 100) AS BIGINT)
                      ELSE 0 END) AS mar_sales,
             SUM(CASE WHEN month(CAST(l_shipdate AS DATE)) = 10
                      THEN CAST(round(l_extendedprice * 100) AS BIGINT)
                      ELSE 0 END) AS oct_sales,
             SUM(CASE WHEN month(CAST(l_shipdate AS DATE)) = 11
                      THEN CAST(round(l_extendedprice * 100) AS BIGINT)
                      ELSE 0 END) AS nov_sales,
             SUM(CASE WHEN month(CAST(l_shipdate AS DATE)) = 12
                      THEN CAST(round(l_extendedprice * 100) AS BIGINT)
                      ELSE 0 END) AS dec_sales
      FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
      WHERE l_linestatus = 'F'
      GROUP BY s_name, year(CAST(l_shipdate AS DATE))
      UNION ALL
      SELECT s_name, year(CAST(l_shipdate AS DATE)) AS dyear,
             SUM(CASE WHEN month(CAST(l_shipdate AS DATE)) = 1
                      THEN CAST(round(l_extendedprice * 100) AS BIGINT)
                      ELSE 0 END) AS jan_sales,
             SUM(CASE WHEN month(CAST(l_shipdate AS DATE)) = 2
                      THEN CAST(round(l_extendedprice * 100) AS BIGINT)
                      ELSE 0 END) AS feb_sales,
             SUM(CASE WHEN month(CAST(l_shipdate AS DATE)) = 3
                      THEN CAST(round(l_extendedprice * 100) AS BIGINT)
                      ELSE 0 END) AS mar_sales,
             SUM(CASE WHEN month(CAST(l_shipdate AS DATE)) = 10
                      THEN CAST(round(l_extendedprice * 100) AS BIGINT)
                      ELSE 0 END) AS oct_sales,
             SUM(CASE WHEN month(CAST(l_shipdate AS DATE)) = 11
                      THEN CAST(round(l_extendedprice * 100) AS BIGINT)
                      ELSE 0 END) AS nov_sales,
             SUM(CASE WHEN month(CAST(l_shipdate AS DATE)) = 12
                      THEN CAST(round(l_extendedprice * 100) AS BIGINT)
                      ELSE 0 END) AS dec_sales
      FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
      WHERE l_linestatus = 'O'
      GROUP BY s_name, year(CAST(l_shipdate AS DATE))) x
GROUP BY s_name, dyear
ORDER BY s_name, dyear
LIMIT 100
"""

# TPC-DS Q66's text shape — the warehouse monthly-sales pivot: two
# channels UNION ALLed, each a grouped scan with month CASE-sum
# columns, re-aggregated per warehouse and year (.../tpcds/q66.sql
# role-mapped: warehouse -> supplier, six of the twelve month columns
# kept; money rides exact cents). Map-side combine carries the pivot
# partials; one shuffle per channel. Same text is the oracle.
register_sql("sql_tpcds_q66", _SQL_TPCDS_Q66_R15)


_SQL_TPCDS_Q91_R15 = """
SELECT n_name, c_mktsegment,
       CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT))
            AS DOUBLE) / 100 AS returns_loss
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND year(CAST(o_orderdate AS DATE)) = 1998
  AND month(CAST(o_orderdate AS DATE)) = 11
  AND c_acctbal > 0
GROUP BY n_name, c_mktsegment
ORDER BY returns_loss DESC, n_name, c_mktsegment
LIMIT 100
"""

# TPC-DS Q91's text shape — returns loss per (geography, demographic)
# cohort for one month: a four-table join chain with dimension
# filters feeding one grouped sum (.../tpcds/q91.sql role-mapped:
# call center/household demographics -> nation/market segment, cc
# losses -> 'R' lineitems). Dimension joins broadcast. Same text is
# the oracle.
register_sql("sql_tpcds_q91", _SQL_TPCDS_Q91_R15)


_SQL_TPCDS_Q96_R15 = """
SELECT count(*) AS cnt
FROM events
WHERE hour(ts) = 20
  AND minute(ts) >= 30
  AND event_type = 'purchase'
ORDER BY count(*)
LIMIT 100
"""

# TPC-DS Q96's text shape — a plain COUNT through time-window +
# attribute filters (.../tpcds/q96.sql role-mapped: time_dim
# hour/minute windows -> events hour(ts)/minute(ts),
# household_demographics -> event_type). Pure pushed-filter scan-
# count. Same text is the oracle.
register_sql("sql_tpcds_q96", _SQL_TPCDS_Q96_R15)


# ---- r15 twin batch 3 (#43-54): same methodology -------------------
_SQL_TPCDS_Q12_R15 = """
SELECT p_brand, p_type,
       CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT))
            AS DOUBLE) / 100 AS itemrevenue,
       CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT))
            AS DOUBLE) * 100 /
         SUM(CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT))
                  AS DOUBLE)) OVER (PARTITION BY p_type) AS revenueratio
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE CAST(l_shipdate AS DATE) BETWEEN DATE '1999-02-22'
                                   AND DATE '1999-03-24'
GROUP BY p_brand, p_type
ORDER BY p_type, revenueratio, p_brand
LIMIT 100
"""

# TPC-DS Q12's text shape — per-item revenue with its class-share
# percentage via SUM(SUM(...)) OVER (PARTITION BY class) in a 30-day
# window (.../tpcds/q12.sql role-mapped: category/class ->
# p_type/p_brand; q20 and q98 share the skeleton). Window over
# grouped aggregate — one shuffle each, the window partitions by the
# pruned class key. Same text is the oracle.
register_sql("sql_tpcds_q12", _SQL_TPCDS_Q12_R15)


_SQL_TPCDS_Q17_R15 = """
SELECT p_brand,
       count(ss.l_quantity) AS store_sales_quantitycount,
       CAST(SUM(CAST(ss.l_quantity AS BIGINT)) AS DOUBLE)
         / count(ss.l_quantity) AS store_sales_quantityave,
       CASE WHEN count(ss.l_quantity) > 1 THEN
         sqrt((count(ss.l_quantity) *
               CAST(SUM(CAST(ss.l_quantity AS BIGINT) *
                        CAST(ss.l_quantity AS BIGINT)) AS DOUBLE)
               - CAST(SUM(CAST(ss.l_quantity AS BIGINT)) AS DOUBLE)
                 * CAST(SUM(CAST(ss.l_quantity AS BIGINT)) AS DOUBLE))
              / (count(ss.l_quantity)
                 * (count(ss.l_quantity) - 1)))
       END AS store_sales_quantitystdev,
       count(sr.l_quantity) AS store_returns_quantitycount,
       CAST(SUM(CAST(sr.l_quantity AS BIGINT)) AS DOUBLE)
         / count(sr.l_quantity) AS store_returns_quantityave
FROM lineitem ss
JOIN lineitem sr ON ss.l_orderkey = sr.l_orderkey
                AND ss.l_partkey = sr.l_partkey
                AND sr.l_returnflag = 'R'
                AND ss.l_linenumber <> sr.l_linenumber
JOIN part ON ss.l_partkey = p_partkey
WHERE ss.l_returnflag <> 'R'
GROUP BY p_brand
ORDER BY p_brand
LIMIT 100
"""

# TPC-DS Q17's text shape — quantity count/avg/stddev across sale and
# return roles joined on (item, order) (.../tpcds/q17.sql role-
# mapped: store_sales/store_returns -> non-returned/returned lineitem
# slices on the same order). A fact-fact self-join on the order key —
# bucket-joinable — feeding multi-statistic aggregates. Same text is
# the oracle.
register_sql("sql_tpcds_q17", _SQL_TPCDS_Q17_R15)


_SQL_TPCDS_Q22_R15 = """
SELECT p_type, p_brand, p_size,
       avg(l_quantity) AS qoh
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE year(CAST(l_shipdate AS DATE)) BETWEEN 1998 AND 1999
GROUP BY ROLLUP (p_type, p_brand, p_size)
ORDER BY qoh, p_type, p_brand, p_size
LIMIT 100
"""

# TPC-DS Q22's text shape — average quantity over the product-
# hierarchy ROLLUP (.../tpcds/q22.sql role-mapped:
# category/brand/product -> p_type/p_brand/p_size). The expanded
# grouping sets aggregate in one pass; avg's sum/count partials
# combine map-side. Same text is the oracle.
register_sql("sql_tpcds_q22", _SQL_TPCDS_Q22_R15)


_SQL_TPCDS_Q28_R15 = """
SELECT *
FROM (SELECT CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT))
                  AS DOUBLE) / 100 / count(l_extendedprice)
               AS b1_lp,
             count(l_extendedprice) AS b1_cnt,
             count(DISTINCT l_quantity) AS b1_cntd
      FROM lineitem
      WHERE l_quantity BETWEEN 0 AND 5
        AND l_extendedprice BETWEEN 1000 AND 30000) b1,
     (SELECT CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT))
                  AS DOUBLE) / 100 / count(l_extendedprice)
               AS b2_lp,
             count(l_extendedprice) AS b2_cnt,
             count(DISTINCT l_quantity) AS b2_cntd
      FROM lineitem
      WHERE l_quantity BETWEEN 6 AND 10
        AND l_extendedprice BETWEEN 15000 AND 45000) b2,
     (SELECT CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT))
                  AS DOUBLE) / 100 / count(l_extendedprice)
               AS b3_lp,
             count(l_extendedprice) AS b3_cnt,
             count(DISTINCT l_quantity) AS b3_cntd
      FROM lineitem
      WHERE l_quantity BETWEEN 11 AND 15
        AND l_extendedprice BETWEEN 30000 AND 60000) b3,
     (SELECT CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT))
                  AS DOUBLE) / 100 / count(l_extendedprice)
               AS b4_lp,
             count(l_extendedprice) AS b4_cnt,
             count(DISTINCT l_quantity) AS b4_cntd
      FROM lineitem
      WHERE l_quantity BETWEEN 16 AND 20
        AND l_extendedprice BETWEEN 45000 AND 75000) b4,
     (SELECT CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT))
                  AS DOUBLE) / 100 / count(l_extendedprice)
               AS b5_lp,
             count(l_extendedprice) AS b5_cnt,
             count(DISTINCT l_quantity) AS b5_cntd
      FROM lineitem
      WHERE l_quantity BETWEEN 21 AND 25
        AND l_extendedprice BETWEEN 60000 AND 90000) b5,
     (SELECT CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT))
                  AS DOUBLE) / 100 / count(l_extendedprice)
               AS b6_lp,
             count(l_extendedprice) AS b6_cnt,
             count(DISTINCT l_quantity) AS b6_cntd
      FROM lineitem
      WHERE l_quantity BETWEEN 26 AND 30
        AND l_extendedprice BETWEEN 75000 AND 105000) b6
LIMIT 100
"""

# TPC-DS Q28's text shape — six quantity-and-price-band buckets of
# (avg, count, count DISTINCT) cross-joined into a single row
# (.../tpcds/q28.sql role-mapped onto lineitem). Six filtered single-
# row aggregates; the DISTINCT counts expand per-bucket, the cross
# join is degenerate. Same text is the oracle.
register_sql("sql_tpcds_q28", _SQL_TPCDS_Q28_R15)


_SQL_TPCDS_Q35_R15 = """
SELECT n_name, c_mktsegment,
       count(*) AS cnt1,
       min(c_acctbal) AS min_bal,
       max(c_acctbal) AS max_bal,
       CAST(SUM(CAST(round(c_acctbal * 100) AS BIGINT)) AS DOUBLE)
         / 100 / count(*) AS avg_bal
FROM customer c
JOIN nation ON c_nationkey = n_nationkey
WHERE EXISTS (SELECT * FROM orders o
              WHERE c.c_custkey = o.o_custkey
                AND year(CAST(o_orderdate AS DATE)) = 1998)
  AND (EXISTS (SELECT * FROM orders o JOIN lineitem l
               ON o.o_orderkey = l.l_orderkey
               WHERE c.c_custkey = o.o_custkey
                 AND l.l_linestatus = 'F')
       OR EXISTS (SELECT * FROM orders o JOIN lineitem l
                  ON o.o_orderkey = l.l_orderkey
                  WHERE c.c_custkey = o.o_custkey
                    AND l.l_linestatus = 'O'))
GROUP BY n_name, c_mktsegment
ORDER BY n_name, c_mktsegment
LIMIT 100
"""

# TPC-DS Q35's text shape — demographic group statistics over
# customers gated by one EXISTS and an OR of two more
# (.../tpcds/q35.sql role-mapped: ca_state/cd_gender -> nation/market
# segment; the web/catalog channels -> linestatus slices). Three
# semi-join gates then one grouped multi-aggregate. Same text is the
# oracle.
register_sql("sql_tpcds_q35", _SQL_TPCDS_Q35_R15)


_SQL_TPCDS_Q37_R15 = """
SELECT p_name, p_brand, p_retailprice
FROM part, lineitem
WHERE p_retailprice BETWEEN 900 AND 930
  AND l_partkey = p_partkey
  AND CAST(l_shipdate AS DATE) BETWEEN DATE '1999-01-01'
                                   AND DATE '1999-03-02'
GROUP BY p_name, p_brand, p_retailprice
ORDER BY p_name, p_brand
LIMIT 100
"""

# TPC-DS Q37's text shape — items in a retail-price band with
# activity inside a 60-day window, deduped by GROUP BY
# (.../tpcds/q37.sql role-mapped: inventory availability -> lineitem
# activity; q82 shares the skeleton). Dimension filter broadcasts
# into the fact scan. Same text is the oracle.
register_sql("sql_tpcds_q37", _SQL_TPCDS_Q37_R15)


_SQL_TPCDS_Q40_R15 = """
SELECT n_name, p_name,
       CAST(SUM(CASE WHEN CAST(s.l_shipdate AS DATE) < DATE '1999-01-01'
                     THEN CAST(round((s.l_extendedprice -
                          coalesce(r.l_extendedprice, 0)) * 100)
                          AS BIGINT) ELSE 0 END) AS DOUBLE) / 100
         AS sales_before,
       CAST(SUM(CASE WHEN CAST(s.l_shipdate AS DATE) >= DATE '1999-01-01'
                     THEN CAST(round((s.l_extendedprice -
                          coalesce(r.l_extendedprice, 0)) * 100)
                          AS BIGINT) ELSE 0 END) AS DOUBLE) / 100
         AS sales_after
FROM lineitem s
LEFT JOIN (SELECT l_orderkey, l_linenumber, l_extendedprice
           FROM lineitem WHERE l_returnflag = 'R') r
  ON s.l_orderkey = r.l_orderkey AND s.l_linenumber = r.l_linenumber
JOIN part ON s.l_partkey = p_partkey
JOIN supplier ON s.l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
WHERE CAST(s.l_shipdate AS DATE) BETWEEN DATE '1998-11-01'
                                     AND DATE '1999-03-01'
GROUP BY n_name, p_name
ORDER BY n_name, p_name
LIMIT 100
"""

# TPC-DS Q40's text shape — before/after-the-cutoff net sales per
# (state, item) with the refunded amount stripped via LEFT JOIN
# against the returns slice and COALESCE (.../tpcds/q40.sql role-
# mapped: catalog_returns -> the returnflag='R' self-slice keyed by
# order+line). The self-left-join co-partitions on the order key.
# Same text is the oracle.
register_sql("sql_tpcds_q40", _SQL_TPCDS_Q40_R15)


_SQL_TPCDS_Q44_R15 = """
SELECT asceding.rnk, i1.p_name AS best_performing,
       i2.p_name AS worst_performing
FROM (SELECT *
      FROM (SELECT item_sk, rank() OVER (ORDER BY rank_col ASC) AS rnk
            FROM (SELECT l_partkey AS item_sk,
                         avg(l_extendedprice) AS rank_col
                  FROM lineitem
                  WHERE l_suppkey = 4
                  GROUP BY l_partkey
                  HAVING avg(l_extendedprice) > 0.9 * (
                    SELECT avg(l_extendedprice) AS rank_col
                    FROM lineitem
                    WHERE l_suppkey = 4
                      AND l_returnflag = 'R')) v1) v11
      WHERE rnk < 11) asceding,
     (SELECT *
      FROM (SELECT item_sk, rank() OVER (ORDER BY rank_col DESC) AS rnk
            FROM (SELECT l_partkey AS item_sk,
                         avg(l_extendedprice) AS rank_col
                  FROM lineitem
                  WHERE l_suppkey = 4
                  GROUP BY l_partkey
                  HAVING avg(l_extendedprice) > 0.9 * (
                    SELECT avg(l_extendedprice) AS rank_col
                    FROM lineitem
                    WHERE l_suppkey = 4
                      AND l_returnflag = 'R')) v2) v21
      WHERE rnk < 11) descending,
     part i1, part i2
WHERE asceding.rnk = descending.rnk
  AND i1.p_partkey = asceding.item_sk
  AND i2.p_partkey = descending.item_sk
ORDER BY asceding.rnk
LIMIT 100
"""

# TPC-DS Q44's text shape — best and worst performing items by ranked
# average revenue: two rank() subqueries (ASC and DESC) over the same
# HAVING-gated aggregate, equi-joined rank-to-rank, item names
# resolved twice (.../tpcds/q44.sql role-mapped: store/col_name ->
# supplier/returned-average). The rank inputs are tiny post-aggregate
# sets; both dimension lookups broadcast. Same text is the oracle.
register_sql("sql_tpcds_q44", _SQL_TPCDS_Q44_R15)


_SQL_TPCDS_Q45_R15 = """
SELECT n_name, c_mktsegment,
       CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT))
            AS DOUBLE) / 100 AS total
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
WHERE (c_custkey IN (5, 13, 85, 180, 1344, 12665)
       OR c_custkey IN (SELECT o_custkey FROM orders
                        WHERE o_orderpriority = '1-URGENT'
                          AND o_totalprice > 250000))
  AND year(CAST(o_orderdate AS DATE)) = 1998
GROUP BY n_name, c_mktsegment
ORDER BY n_name, c_mktsegment
LIMIT 100
"""

# TPC-DS Q45's text shape — geography revenue for customers in an
# enumerated key list OR an IN-subquery (.../tpcds/q45.sql role-
# mapped: zip list -> customer key list, the item subquery -> an
# urgent-high-value order subquery). The OR of a static IN and a
# semi-join plans as a single filter over the broadcast subquery.
# Same text is the oracle.
register_sql("sql_tpcds_q45", _SQL_TPCDS_Q45_R15)


_SQL_TPCDS_Q71_R15 = """
SELECT p_brand, t_month,
       CAST(SUM(ext_price_cents) AS DOUBLE) / 100 AS ext_price
FROM (SELECT CAST(round(l_extendedprice * 100) AS BIGINT)
               AS ext_price_cents,
             l_partkey AS sold_item_sk,
             month(CAST(l_shipdate AS DATE)) AS t_month
      FROM lineitem
      WHERE l_linestatus = 'F'
        AND year(CAST(l_shipdate AS DATE)) = 1999
      UNION ALL
      SELECT CAST(round(l_extendedprice * 100) AS BIGINT)
               AS ext_price_cents,
             l_partkey AS sold_item_sk,
             month(CAST(l_shipdate AS DATE)) AS t_month
      FROM lineitem
      WHERE l_linestatus = 'O' AND l_returnflag = 'N'
        AND year(CAST(l_shipdate AS DATE)) = 1999
      UNION ALL
      SELECT CAST(round(l_extendedprice * 100) AS BIGINT)
               AS ext_price_cents,
             l_partkey AS sold_item_sk,
             month(CAST(l_shipdate AS DATE)) AS t_month
      FROM lineitem
      WHERE l_linestatus = 'O' AND l_returnflag = 'R'
        AND year(CAST(l_shipdate AS DATE)) = 1999) tmp
JOIN part ON sold_item_sk = p_partkey
GROUP BY p_brand, t_month
ORDER BY ext_price DESC, p_brand, t_month
LIMIT 100
"""

# TPC-DS Q71's text shape — brand revenue by time bucket across three
# channels UNION ALLed inside the FROM (.../tpcds/q71.sql role-
# mapped: the three channels -> linestatus/returnflag slices, hour ->
# month since the fixtures carry no time dimension). Each branch
# scans pruned; the item join broadcasts. Same text is the oracle.
register_sql("sql_tpcds_q71", _SQL_TPCDS_Q71_R15)


_SQL_TPCDS_Q78_R15 = """
WITH ws AS (
  SELECT year(CAST(s.l_shipdate AS DATE)) AS ws_sold_year,
         s.l_partkey AS ws_item_sk,
         o.o_custkey AS ws_customer_sk,
         sum(s.l_quantity) AS ws_qty,
         sum(CAST(round(s.l_extendedprice * 100) AS BIGINT)) AS ws_sp
  FROM lineitem s
  JOIN orders o ON s.l_orderkey = o.o_orderkey
  LEFT JOIN (SELECT l_orderkey, l_linenumber FROM lineitem
             WHERE l_returnflag = 'R') r
    ON s.l_orderkey = r.l_orderkey AND s.l_linenumber = r.l_linenumber
  WHERE r.l_orderkey IS NULL AND s.l_linestatus = 'O'
  GROUP BY year(CAST(s.l_shipdate AS DATE)), s.l_partkey, o.o_custkey
),
ss AS (
  SELECT year(CAST(s.l_shipdate AS DATE)) AS ss_sold_year,
         s.l_partkey AS ss_item_sk,
         o.o_custkey AS ss_customer_sk,
         sum(s.l_quantity) AS ss_qty,
         sum(CAST(round(s.l_extendedprice * 100) AS BIGINT)) AS ss_sp
  FROM lineitem s
  JOIN orders o ON s.l_orderkey = o.o_orderkey
  LEFT JOIN (SELECT l_orderkey, l_linenumber FROM lineitem
             WHERE l_returnflag = 'R') r
    ON s.l_orderkey = r.l_orderkey AND s.l_linenumber = r.l_linenumber
  WHERE r.l_orderkey IS NULL AND s.l_linestatus = 'F'
  GROUP BY year(CAST(s.l_shipdate AS DATE)), s.l_partkey, o.o_custkey
)
SELECT ss_customer_sk,
       round(CAST(ss_qty AS DOUBLE) / coalesce(ws_qty, 1), 2) AS ratio,
       ss_qty AS store_qty,
       coalesce(ws_qty, 0) AS other_chan_qty
FROM ss
LEFT JOIN ws ON ws_sold_year = ss_sold_year
            AND ws_item_sk = ss_item_sk
            AND ws_customer_sk = ss_customer_sk
WHERE coalesce(ws_qty, 0) > 0 AND ss_sold_year = 1999
ORDER BY ss_customer_sk, ss_qty DESC, ss_sp DESC,
         other_chan_qty, ratio
LIMIT 100
"""

# TPC-DS Q78's text shape — yearly per-(customer, item) cross-channel
# quantity ratios with returned rows stripped via LEFT JOIN + IS NULL
# in both channel CTEs (.../tpcds/q78.sql role-mapped: ws/ss ->
# linestatus slices, returns -> the 'R' self-slice). Two anti-join-
# shaped CTEs, then a co-partitioned (year, item, customer) join.
# Same text is the oracle.
register_sql("sql_tpcds_q78", _SQL_TPCDS_Q78_R15)


_SQL_TPCDS_Q94_R15 = """
SELECT count(DISTINCT o1.o_orderkey) AS order_count,
       CAST(SUM(CAST(round(o1.o_totalprice * 100) AS BIGINT))
            AS DOUBLE) / 100 AS total_price
FROM orders o1
JOIN lineitem l1 ON o1.o_orderkey = l1.l_orderkey
WHERE o1.o_orderpriority = '2-HIGH'
  AND year(CAST(o1.o_orderdate AS DATE)) = 1999
  AND EXISTS (SELECT * FROM lineitem l2
              WHERE l1.l_orderkey = l2.l_orderkey
                AND l1.l_suppkey <> l2.l_suppkey)
  AND NOT EXISTS (SELECT * FROM lineitem l3
                  WHERE l1.l_orderkey = l3.l_orderkey
                    AND l3.l_returnflag = 'R')
ORDER BY count(DISTINCT o1.o_orderkey)
LIMIT 100
"""

# TPC-DS Q94's text shape — high-priority orders with a second-
# supplier line and no returned lines: EXISTS + NOT EXISTS correlated
# gates under count-DISTINCT and money sums (.../tpcds/q94.sql role-
# mapped; the TPC-H Q21 cousin). Both gates plan as semi/anti joins
# on the order key — co-partitioned with the driving join. Same text
# is the oracle.
register_sql("sql_tpcds_q94", _SQL_TPCDS_Q94_R15)


# ---- r15 twin batch 4 (#55-62): same methodology -------------------
_SQL_TPCDS_Q5_R15 = """
WITH salesreturns AS (
  SELECT 'store channel' AS channel,
         concat('store', s_name) AS id,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS sales_price,
         CAST(0 AS BIGINT) AS return_amt
  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
  WHERE l_returnflag <> 'R' AND l_linestatus = 'F'
  UNION ALL
  SELECT 'store channel' AS channel,
         concat('store', s_name) AS id,
         CAST(0 AS BIGINT) AS sales_price,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS return_amt
  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
  WHERE l_returnflag = 'R' AND l_linestatus = 'F'
  UNION ALL
  SELECT 'web channel' AS channel,
         concat('web', s_name) AS id,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS sales_price,
         CAST(0 AS BIGINT) AS return_amt
  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
  WHERE l_returnflag <> 'R' AND l_linestatus = 'O'
  UNION ALL
  SELECT 'web channel' AS channel,
         concat('web', s_name) AS id,
         CAST(0 AS BIGINT) AS sales_price,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS return_amt
  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
  WHERE l_returnflag = 'R' AND l_linestatus = 'O'
)
SELECT channel, id,
       CAST(SUM(sales_price) AS DOUBLE) / 100 AS sales,
       CAST(SUM(return_amt) AS DOUBLE) / 100 AS returns_amt
FROM salesreturns
GROUP BY ROLLUP (channel, id)
ORDER BY channel, id
LIMIT 100
"""

# TPC-DS Q5's text shape — per-channel profit-and-loss: sales rows
# and returns rows UNION ALLed with zero-filled opposite columns,
# summed under ROLLUP (channel, id) (.../tpcds/q05.sql role-mapped:
# the store/web channels -> linestatus slices, returns -> the 'R'
# slice). Each branch scans pruned; the rollup aggregates once. Same
# text is the oracle.
register_sql("sql_tpcds_q5", _SQL_TPCDS_Q5_R15)


_SQL_TPCDS_Q13_R15 = """
SELECT CAST(SUM(CAST(l_quantity AS BIGINT)) AS DOUBLE)
         / count(*) AS avg_qty,
       CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT))
            AS DOUBLE) / 100 / count(*) AS avg_price,
       CAST(SUM(CAST(round(l_extendedprice * (1 - l_discount) * 100)
                     AS BIGINT)) AS DOUBLE) / 100 AS net_paid
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE ((c_mktsegment = 'BUILDING'
        AND o_totalprice BETWEEN 1000.0 AND 100000.0
        AND l_quantity BETWEEN 1 AND 20)
       OR (c_mktsegment = 'AUTOMOBILE'
           AND o_totalprice BETWEEN 50000.0 AND 150000.0
           AND l_quantity BETWEEN 10 AND 30)
       OR (c_mktsegment = 'FURNITURE'
           AND o_totalprice BETWEEN 100000.0 AND 250000.0
           AND l_quantity BETWEEN 20 AND 40))
"""

# TPC-DS Q13's text shape — a single bundle of averages under an OR
# of three (demographic x band) conjunctions (.../tpcds/q13.sql role-
# mapped: marital/education bands -> market-segment x price x
# quantity bands; averages replayed in exact integer cents). One pass
# over the 3-table join, the disjunction fully pushed. Same text is
# the oracle.
register_sql("sql_tpcds_q13", _SQL_TPCDS_Q13_R15)


_SQL_TPCDS_Q27_R15 = """
SELECT p_brand, n_name,
       CAST(SUM(CAST(l_quantity AS BIGINT)) AS DOUBLE)
         / count(*) AS agg1,
       CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT))
            AS DOUBLE) / 100 / count(*) AS agg2,
       CAST(SUM(CAST(round(l_discount * 10000) AS BIGINT))
            AS DOUBLE) / 10000 / count(*) AS agg3
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN part ON l_partkey = p_partkey
WHERE c_mktsegment = 'BUILDING'
  AND year(CAST(o_orderdate AS DATE)) = 1999
GROUP BY ROLLUP (p_brand, n_name)
ORDER BY p_brand, n_name
LIMIT 100
"""

# TPC-DS Q27's text shape — multi-statistic averages over a ROLLUP
# hierarchy with a fixed demographic filter (.../tpcds/q27.sql role-
# mapped: gender/marital/education -> market segment, item/state
# rollup -> brand/nation; averages in exact cents and basis points).
# Five-table join, dimension sides broadcast, one rollup aggregate.
# Same text is the oracle.
register_sql("sql_tpcds_q27", _SQL_TPCDS_Q27_R15)


_SQL_TPCDS_Q54_R15 = """
WITH my_customers AS (
  SELECT DISTINCT c_custkey AS c_customer_sk
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN part ON l_partkey = p_partkey
  WHERE p_type = 'PROMO'
    AND year(CAST(o_orderdate AS DATE)) = 1998
),
my_revenue AS (
  SELECT c_customer_sk,
         SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS revenue
  FROM my_customers
  JOIN orders ON o_custkey = c_customer_sk
  WHERE year(CAST(o_orderdate AS DATE)) = 1999
  GROUP BY c_customer_sk
),
segments AS (
  SELECT CAST((CAST(revenue AS DOUBLE) / 100 / 5000) AS INTEGER)
           AS segment
  FROM my_revenue
)
SELECT segment, count(*) AS num_customers,
       segment * 5000 AS segment_base
FROM segments
GROUP BY segment
ORDER BY segment, num_customers
LIMIT 100
"""

# TPC-DS Q54's text shape — a cohort CTE (customers who bought the
# category), their next-window revenue, bucketed into fixed-width
# segments and counted (.../tpcds/q54.sql role-mapped; the segment
# division exercises the r15 double-chain HALF_UP cast:
# CAST(double/100/5000 AS INTEGER) rounds like the reference, not
# Spark's truncation). Cohort semi-join then one small re-
# aggregation. Same text is the oracle.
register_sql("sql_tpcds_q54", _SQL_TPCDS_Q54_R15)


_SQL_TPCDS_Q77_R15 = """
WITH ss AS (
  SELECT s_suppkey,
         SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS sales
  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
  WHERE l_returnflag <> 'R'
  GROUP BY s_suppkey
),
sr AS (
  SELECT s_suppkey,
         SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS returns_amt
  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
  WHERE l_returnflag = 'R'
  GROUP BY s_suppkey
)
SELECT channel, id,
       CAST(SUM(sales) AS DOUBLE) / 100 AS sales,
       CAST(SUM(returns_amt) AS DOUBLE) / 100 AS returns_amt
FROM (SELECT 'store channel' AS channel, ss.s_suppkey AS id,
             ss.sales, coalesce(sr.returns_amt, 0) AS returns_amt
      FROM ss LEFT JOIN sr ON ss.s_suppkey = sr.s_suppkey
      UNION ALL
      SELECT 'catalog channel' AS channel, ss.s_suppkey AS id,
             ss.sales, coalesce(sr.returns_amt, 0) AS returns_amt
      FROM ss FULL OUTER JOIN sr ON ss.s_suppkey = sr.s_suppkey) x
GROUP BY ROLLUP (channel, id)
ORDER BY channel, id
LIMIT 100
"""

# TPC-DS Q77's text shape — per-location sales and returns CTEs
# combined channel-by-channel (LEFT and FULL OUTER JOIN variants) and
# ROLLUPed (.../tpcds/q77.sql role-mapped: store/catalog ->
# returnflag slices keyed by supplier). The location-keyed joins co-
# partition; the rollup sees only per-location totals. Same text is
# the oracle.
register_sql("sql_tpcds_q77", _SQL_TPCDS_Q77_R15)


_SQL_TPCDS_Q80_R15 = """
WITH ssr AS (
  SELECT concat('store', s_name) AS store_id,
         SUM(CAST(round(s.l_extendedprice * 100) AS BIGINT)) AS sales,
         SUM(CAST(round(coalesce(r.l_extendedprice, 0) * 100)
                  AS BIGINT)) AS returns_amt
  FROM lineitem s
  LEFT JOIN (SELECT l_orderkey, l_linenumber, l_extendedprice
             FROM lineitem WHERE l_returnflag = 'R') r
    ON s.l_orderkey = r.l_orderkey
   AND s.l_linenumber = r.l_linenumber
  JOIN supplier ON s.l_suppkey = s_suppkey
  WHERE s.l_linestatus = 'F'
  GROUP BY concat('store', s_name)
),
wsr AS (
  SELECT concat('web', s_name) AS store_id,
         SUM(CAST(round(s.l_extendedprice * 100) AS BIGINT)) AS sales,
         SUM(CAST(round(coalesce(r.l_extendedprice, 0) * 100)
                  AS BIGINT)) AS returns_amt
  FROM lineitem s
  LEFT JOIN (SELECT l_orderkey, l_linenumber, l_extendedprice
             FROM lineitem WHERE l_returnflag = 'R') r
    ON s.l_orderkey = r.l_orderkey
   AND s.l_linenumber = r.l_linenumber
  JOIN supplier ON s.l_suppkey = s_suppkey
  WHERE s.l_linestatus = 'O'
  GROUP BY concat('web', s_name)
)
SELECT channel, id,
       CAST(SUM(sales) AS DOUBLE) / 100 AS sales,
       CAST(SUM(returns_amt) AS DOUBLE) / 100 AS returns_amt
FROM (SELECT 'store channel' AS channel, store_id AS id,
             sales, returns_amt
      FROM ssr
      UNION ALL
      SELECT 'web channel' AS channel, store_id AS id,
             sales, returns_amt
      FROM wsr) x
GROUP BY ROLLUP (channel, id)
ORDER BY channel, id
LIMIT 100
"""

# TPC-DS Q80's text shape — per-store net sales with refunds stripped
# via LEFT JOIN against the returns self-slice, two channels UNION
# ALLed under ROLLUP (.../tpcds/q80.sql role-mapped like q40 plus the
# q5 rollup skeleton). Self-left-joins co-partition on the order key.
# Same text is the oracle.
register_sql("sql_tpcds_q80", _SQL_TPCDS_Q80_R15)


_SQL_TPCDS_Q83_R15 = """
WITH sr_items AS (
  SELECT p_name AS item_id, SUM(l_quantity) AS sr_item_qty
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE l_returnflag = 'R' AND l_linestatus = 'F'
    AND year(CAST(l_shipdate AS DATE)) IN
        (SELECT year(CAST(o_orderdate AS DATE)) FROM orders
         WHERE o_orderpriority = '1-URGENT')
  GROUP BY p_name
),
cr_items AS (
  SELECT p_name AS item_id, SUM(l_quantity) AS cr_item_qty
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE l_returnflag = 'R' AND l_linestatus = 'O'
    AND year(CAST(l_shipdate AS DATE)) IN
        (SELECT year(CAST(o_orderdate AS DATE)) FROM orders
         WHERE o_orderpriority = '1-URGENT')
  GROUP BY p_name
),
wr_items AS (
  SELECT p_name AS item_id, SUM(l_quantity) AS wr_item_qty
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE l_returnflag = 'A'
    AND year(CAST(l_shipdate AS DATE)) IN
        (SELECT year(CAST(o_orderdate AS DATE)) FROM orders
         WHERE o_orderpriority = '1-URGENT')
  GROUP BY p_name
)
SELECT sr_items.item_id,
       sr_item_qty,
       CAST(sr_item_qty AS DOUBLE)
         / (sr_item_qty + cr_item_qty + wr_item_qty) / 3.0E0 * 100
         AS sr_dev,
       cr_item_qty,
       CAST(cr_item_qty AS DOUBLE)
         / (sr_item_qty + cr_item_qty + wr_item_qty) / 3.0E0 * 100
         AS cr_dev,
       wr_item_qty,
       CAST(wr_item_qty AS DOUBLE)
         / (sr_item_qty + cr_item_qty + wr_item_qty) / 3.0E0 * 100
         AS wr_dev,
       CAST(sr_item_qty + cr_item_qty + wr_item_qty AS DOUBLE)
         / 3 AS average
FROM sr_items
JOIN cr_items ON sr_items.item_id = cr_items.item_id
JOIN wr_items ON sr_items.item_id = wr_items.item_id
ORDER BY sr_items.item_id, sr_item_qty
LIMIT 100
"""

# TPC-DS Q83's text shape — three return-quantity slices joined on
# the item, each gated by a date IN-subquery, emitting per-channel
# shares of the three-way total (.../tpcds/q83.sql role-mapped: the
# three return channels -> returnflag/linestatus slices; d_week_seq
# subquery -> an order-priority year subquery). The IN-subqueries
# broadcast; the item joins are post-aggregate and tiny. Same text is
# the oracle.
register_sql("sql_tpcds_q83", _SQL_TPCDS_Q83_R15)


_SQL_TPCDS_Q85_R15 = """
SELECT substring(o_orderpriority, 1, 20) AS prio,
       CAST(SUM(CAST(l.l_quantity AS BIGINT)) AS DOUBLE)
         / count(*) AS avg_qty,
       CAST(SUM(CAST(round(l.l_discount * 10000) AS BIGINT))
            AS DOUBLE) / 10000 / count(*) AS avg_disc,
       CAST(SUM(CAST(round(l.l_extendedprice * 100) AS BIGINT))
            AS DOUBLE) / 100 / count(*) AS avg_price
FROM lineitem l
JOIN orders ON l.l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE l.l_returnflag = 'R'
  AND ((c_mktsegment = 'BUILDING'
        AND l.l_quantity BETWEEN 1 AND 20)
       OR (c_mktsegment = 'AUTOMOBILE'
           AND l.l_quantity BETWEEN 11 AND 30)
       OR (c_mktsegment = 'MACHINERY'
           AND l.l_quantity BETWEEN 21 AND 40))
  AND ((c_acctbal BETWEEN 0 AND 3000
        AND o_totalprice BETWEEN 1000 AND 150000)
       OR (c_acctbal BETWEEN 3000 AND 7000
           AND o_totalprice BETWEEN 50000 AND 250000)
       OR (c_acctbal BETWEEN 7000 AND 10000
           AND o_totalprice BETWEEN 100000 AND 400000))
GROUP BY o_orderpriority
ORDER BY prio
LIMIT 100
"""

# TPC-DS Q85's text shape — averages over a returns join gated by TWO
# independent ORs of (demographic x band) conjunctions
# (.../tpcds/q85.sql role-mapped: web_returns/reason -> 'R'
# lineitems/order priority; averages in exact cents/basis points).
# Both disjunctions push into the one join pass. Same text is the
# oracle.
register_sql("sql_tpcds_q85", _SQL_TPCDS_Q85_R15)


# ---- r15 twin batch 5 (#63-69): same methodology -------------------
_SQL_TPCDS_Q14_R15 = """
WITH cross_items AS (
  SELECT p_partkey AS ss_item_sk
  FROM part
  JOIN (SELECT l_partkey AS item_sk FROM lineitem
        WHERE l_linestatus = 'F'
        INTERSECT
        SELECT l_partkey AS item_sk FROM lineitem
        WHERE l_linestatus = 'O' AND l_returnflag = 'N'
        INTERSECT
        SELECT l_partkey AS item_sk FROM lineitem
        WHERE l_linestatus = 'O' AND l_returnflag = 'R') x
    ON item_sk = p_partkey
),
avg_sales AS (
  SELECT CAST(SUM(cents) AS DOUBLE) / 100 / count(*) AS average_sales
  FROM (SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
        FROM lineitem WHERE l_linestatus = 'F'
        UNION ALL
        SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
        FROM lineitem WHERE l_linestatus = 'O') v
)
SELECT p_brand,
       CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT))
            AS DOUBLE) / 100 AS sales,
       count(*) AS number_sales
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_partkey IN (SELECT ss_item_sk FROM cross_items)
  AND l_linestatus = 'F'
  AND year(CAST(l_shipdate AS DATE)) = 1999
GROUP BY p_brand
HAVING CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT))
            AS DOUBLE) / 100 > (SELECT average_sales FROM avg_sales)
ORDER BY p_brand, sales
LIMIT 100
"""

# TPC-DS Q14's text shape — the INTERSECT-driven cross-channel item
# set (items sold in ALL three channels) gating per-channel brand
# sums against a CTE average computed from the UNION of every channel
# (.../tpcds/q14.sql role-mapped: the three channels ->
# linestatus/returnflag slices). The INTERSECTs plan as co-
# partitioned semi-joins; the average is a one-row broadcast. Same
# text is the oracle.
register_sql("sql_tpcds_q14", _SQL_TPCDS_Q14_R15)


_SQL_TPCDS_Q24_R15 = """
WITH ssales AS (
  SELECT c_name, s_name, p_brand,
         SUM(CAST(round(s.l_extendedprice * 100) AS BIGINT))
           AS netpaid
  FROM lineitem s
  JOIN lineitem r ON s.l_orderkey = r.l_orderkey
                 AND s.l_linenumber = r.l_linenumber
                 AND r.l_returnflag = 'R'
  JOIN orders o ON s.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN supplier su ON s.l_suppkey = su.s_suppkey
  JOIN part p ON s.l_partkey = p.p_partkey
  GROUP BY c_name, s_name, p_brand
)
SELECT c_name, s_name,
       CAST(SUM(netpaid) AS DOUBLE) / 100 AS paid
FROM ssales
WHERE p_brand = 'Brand#1'
GROUP BY c_name, s_name
HAVING CAST(SUM(netpaid) AS DOUBLE)
         > (SELECT 0.05E0 * avg(CAST(netpaid AS DOUBLE))
            FROM ssales)
ORDER BY c_name, s_name
LIMIT 100
"""

# TPC-DS Q24's text shape — net paid on returned sales grouped over a
# five-way dimension join, re-aggregated with an uncorrelated
# 0.05x-average HAVING gate over the SAME CTE (.../tpcds/q24.sql
# role-mapped: store_returns -> the 'R' self-slice joined on
# order+line, i_color -> p_brand). The CTE materializes once for both
# consumers. Same text is the oracle.
register_sql("sql_tpcds_q24", _SQL_TPCDS_Q24_R15)


_SQL_TPCDS_Q25_R15 = """
SELECT p_brand, s_name,
       max(ss.l_quantity) AS store_sales_quantity,
       max(sr.l_quantity) AS store_returns_quantity,
       max(cs.l_quantity) AS catalog_sales_quantity
FROM lineitem ss
JOIN lineitem sr ON ss.l_orderkey = sr.l_orderkey
                AND ss.l_partkey = sr.l_partkey
                AND ss.l_linenumber <> sr.l_linenumber
                AND sr.l_returnflag = 'R'
JOIN orders o1 ON ss.l_orderkey = o1.o_orderkey
JOIN orders o2 ON o1.o_custkey = o2.o_custkey
              AND o2.o_orderkey <> o1.o_orderkey
JOIN lineitem cs ON cs.l_orderkey = o2.o_orderkey
                AND cs.l_suppkey = ss.l_suppkey
JOIN supplier ON ss.l_suppkey = s_suppkey
JOIN part ON ss.l_partkey = p_partkey
WHERE ss.l_returnflag <> 'R'
  AND year(CAST(o1.o_orderdate AS DATE)) BETWEEN 1996 AND 1999
  AND year(CAST(o2.o_orderdate AS DATE)) BETWEEN 1996 AND 1999
GROUP BY p_brand, s_name
ORDER BY p_brand, s_name
LIMIT 100
"""

# TPC-DS Q25's text shape — sale, same-order return, and later same-
# supplier repurchase roles joined across two orders of one customer,
# max-statistics per (brand, store) (.../tpcds/q25.sql role-mapped;
# the repurchase edge keys on the supplier since fixture-scale same-
# part repurchases are empty). Facts co-partition on the order key;
# the customer bridge is the one reshuffle. Same text is the oracle.
register_sql("sql_tpcds_q25", _SQL_TPCDS_Q25_R15)


_SQL_TPCDS_Q46_R15 = """
SELECT c_name, c_custkey, o_orderkey, amt
FROM (SELECT o_orderkey, o_custkey,
             s_nationkey AS ship_nation,
             CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT))
                  AS DOUBLE) / 100 AS amt
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN supplier ON l_suppkey = s_suppkey
      WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
        AND year(CAST(o_orderdate AS DATE)) = 1999
      GROUP BY o_orderkey, o_custkey, s_nationkey) dn
JOIN customer ON o_custkey = c_custkey
WHERE c_nationkey <> ship_nation
ORDER BY c_name, c_custkey, o_orderkey, amt
LIMIT 100
"""

# TPC-DS Q46's text shape — orders whose transaction geography
# differs from the customer's CURRENT one: an order-grain aggregate
# subquery joined to the customer dimension with an inequality on the
# two geography keys (.../tpcds/q46.sql role-mapped: bought/current
# city -> supplier/customer nation; q68 shares the skeleton). Same
# text is the oracle.
register_sql("sql_tpcds_q46", _SQL_TPCDS_Q46_R15)


_SQL_TPCDS_Q64_R15 = """
WITH cs_ui AS (
  SELECT l_orderkey,
         SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS sale,
         SUM(CASE WHEN l_returnflag = 'R'
                  THEN CAST(round(l_extendedprice * 100) AS BIGINT)
                  ELSE 0 END) AS refund
  FROM lineitem
  GROUP BY l_orderkey
  HAVING SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) >
         2 * SUM(CASE WHEN l_returnflag = 'R'
                      THEN CAST(round(l_extendedprice * 100) AS BIGINT)
                      ELSE 0 END)
),
cross_sales AS (
  SELECT p_name AS product_name, p_partkey AS item_sk,
         year(CAST(o_orderdate AS DATE)) AS syear,
         count(*) AS cnt,
         SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS s1
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN part ON l_partkey = p_partkey
  WHERE l_orderkey IN (SELECT l_orderkey FROM cs_ui)
    AND p_retailprice BETWEEN 900 AND 1100
  GROUP BY p_name, p_partkey, year(CAST(o_orderdate AS DATE))
)
SELECT cs1.product_name, cs1.cnt AS cnt1, cs2.cnt AS cnt2,
       CAST(cs1.s1 AS DOUBLE) / 100 AS s1,
       CAST(cs2.s1 AS DOUBLE) / 100 AS s2
FROM cross_sales cs1, cross_sales cs2
WHERE cs1.item_sk = cs2.item_sk
  AND cs1.syear = 1998 AND cs2.syear = 1999
  AND cs2.cnt <= cs1.cnt
ORDER BY cs1.product_name, cs1.cnt, cs2.s1
LIMIT 100
"""

# The oracle text with its once-read cs_ui gate inlined, so run_sql can
# compute cross_sales, which then reads no earlier CTE, once.
_SQL_TPCDS_Q64_ENGINE = """
WITH cross_sales AS (
  SELECT p_name AS product_name, p_partkey AS item_sk,
         year(CAST(o_orderdate AS DATE)) AS syear,
         count(*) AS cnt,
         SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS s1
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN part ON l_partkey = p_partkey
  WHERE l_orderkey IN (
    SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
    HAVING SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) >
           2 * SUM(CASE WHEN l_returnflag = 'R'
                        THEN CAST(round(l_extendedprice * 100) AS BIGINT)
                        ELSE 0 END))
    AND p_retailprice BETWEEN 900 AND 1100
  GROUP BY p_name, p_partkey, year(CAST(o_orderdate AS DATE))
)
SELECT cs1.product_name, cs1.cnt AS cnt1, cs2.cnt AS cnt2,
       CAST(cs1.s1 AS DOUBLE) / 100 AS s1,
       CAST(cs2.s1 AS DOUBLE) / 100 AS s2
FROM cross_sales cs1, cross_sales cs2
WHERE cs1.item_sk = cs2.item_sk
  AND cs1.syear = 1998 AND cs2.syear = 1999
  AND cs2.cnt <= cs1.cnt
ORDER BY cs1.product_name, cs1.cnt, cs2.s1
LIMIT 100
"""


# TPC-DS Q64's text shape (core skeleton) — a gated order cohort CTE
# (sale > 2x refund), per-(item, year) purchase stats over it,
# consumed TWICE a year apart with the cnt2 <= cnt1 join predicate
# (.../tpcds/q64.sql role-mapped and reduced to its load-bearing
# joins; the original's twelve-dimension chain adds lookups, not plan
# shape). The cohort IN-gate plans as a semi-join on the order key.
# The oracle keeps the original single text.
register_sql("sql_tpcds_q64", _SQL_TPCDS_Q64_ENGINE, oracle=_SQL_TPCDS_Q64_R15)


_SQL_TPCDS_Q76_R15 = """
SELECT channel, col_name, dyear, count(*) AS sales_cnt,
       CAST(SUM(cents) AS DOUBLE) / 100 AS sales_amt
FROM (SELECT 'store' AS channel, 'discount' AS col_name,
             year(CAST(l_shipdate AS DATE)) AS dyear,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
      FROM lineitem
      WHERE l_linestatus = 'F' AND NULLIF(l_discount, 0) IS NULL
      UNION ALL
      SELECT 'web' AS channel, 'tax' AS col_name,
             year(CAST(l_shipdate AS DATE)) AS dyear,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
      FROM lineitem
      WHERE l_linestatus = 'O' AND NULLIF(l_tax, 0) IS NULL
      UNION ALL
      SELECT 'catalog' AS channel, 'quantity' AS col_name,
             year(CAST(l_shipdate AS DATE)) AS dyear,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
      FROM lineitem
      WHERE l_returnflag = 'R' AND NULLIF(l_quantity, 1) IS NULL) fc
GROUP BY channel, col_name, dyear
ORDER BY channel, col_name, dyear
LIMIT 100
"""

# TPC-DS Q76's text shape — per-channel counts and sums of rows whose
# key attribute IS NULL, three channels UNION ALLed then re-grouped
# (.../tpcds/q76.sql role-mapped; the fixtures carry no natural
# NULLs, so NULLIF manufactures the null-attribute rows without
# changing the shape). Same text is the oracle.
register_sql("sql_tpcds_q76", _SQL_TPCDS_Q76_R15)


_SQL_TPCDS_Q84_R15 = """
SELECT c_custkey AS customer_id,
       concat(c_name, ', ', n_name) AS customername
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE c_acctbal BETWEEN 1000 AND 6000
  AND r_name = 'ASIA'
ORDER BY c_custkey
LIMIT 100
"""

# TPC-DS Q84's text shape — a pure dimension-chain customer lookup
# (customer -> nation -> region) with an account-band filter and
# concat'd display name (.../tpcds/q84.sql role-mapped: income band
# -> account-balance band). All broadcast joins; the band filter
# pushes to the scan. Same text is the oracle.
register_sql("sql_tpcds_q84", _SQL_TPCDS_Q84_R15)


# ---- r15 twin batch 6 (#70-84): same methodology -------------------
_SQL_TPCDS_Q6_R15 = """
SELECT n_name AS state, count(*) AS cnt
FROM customer c
JOIN nation ON c_nationkey = n_nationkey
JOIN orders o ON o_custkey = c_custkey
JOIN lineitem l ON l_orderkey = o_orderkey
JOIN part i ON l_partkey = i.p_partkey
WHERE year(CAST(o_orderdate AS DATE)) = 1999
  AND i.p_retailprice > 1.05E0 * (SELECT avg(j.p_retailprice)
                                 FROM part j
                                 WHERE j.p_type = i.p_type)
GROUP BY n_name
HAVING count(*) >= 10
ORDER BY cnt, n_name
LIMIT 100
"""

# TPC-DS Q6's text shape — geographies whose customers bought items
# priced above their category average (correlated scalar AVG over the
# item dimension) with a HAVING count floor (.../tpcds/q06.sql role-
# mapped: state -> nation, the 1.2x ratio eased to 1.05x so the
# fixture-scale price spread yields rows). The per-category averages
# broadcast. Same text is the oracle.
register_sql("sql_tpcds_q6", _SQL_TPCDS_Q6_R15)


_SQL_TPCDS_Q7_R15 = """
SELECT p_name,
       CAST(SUM(CAST(l_quantity AS BIGINT)) AS DOUBLE)
         / count(*) AS agg1,
       CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT))
            AS DOUBLE) / 100 / count(*) AS agg2,
       CAST(SUM(CAST(round(l_discount * 10000) AS BIGINT))
            AS DOUBLE) / 10000 / count(*) AS agg3,
       CAST(SUM(CAST(round(l_extendedprice * (1 - l_discount) * 100)
                     AS BIGINT)) AS DOUBLE) / 100 / count(*) AS agg4
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN part ON l_partkey = p_partkey
WHERE c_mktsegment = 'HOUSEHOLD'
  AND o_orderpriority = '3-MEDIUM'
  AND year(CAST(o_orderdate AS DATE)) = 1998
GROUP BY p_name
ORDER BY p_name
LIMIT 100
"""

# TPC-DS Q7's text shape — the four-average bundle per item under
# demographic and promo filters (.../tpcds/q07.sql role-mapped;
# averages in exact cents/basis points; q26 is the catalog sibling
# registered alongside). Same text is the oracle.
register_sql("sql_tpcds_q7", _SQL_TPCDS_Q7_R15)


_SQL_TPCDS_Q10_R15 = """
SELECT c_mktsegment, count(*) AS cnt1,
       n_name, count(*) AS cnt2
FROM customer c
JOIN nation ON c_nationkey = n_nationkey
WHERE EXISTS (SELECT * FROM orders o
              WHERE c.c_custkey = o.o_custkey
                AND year(CAST(o.o_orderdate AS DATE)) = 1999
                AND month(CAST(o.o_orderdate AS DATE)) BETWEEN 1 AND 4)
  AND (EXISTS (SELECT * FROM orders o JOIN lineitem l
               ON o.o_orderkey = l.l_orderkey
               WHERE c.c_custkey = o.o_custkey
                 AND l.l_returnflag = 'R')
       OR EXISTS (SELECT * FROM orders o JOIN lineitem l
                  ON o.o_orderkey = l.l_orderkey
                  WHERE c.c_custkey = o.o_custkey
                    AND l.l_returnflag = 'A'))
GROUP BY c_mktsegment, n_name
ORDER BY c_mktsegment, n_name
LIMIT 100
"""

# TPC-DS Q10's text shape — demographic counts for customers active
# in a quarter whose activity also shows in either secondary channel:
# EXISTS + (EXISTS OR EXISTS) gates then a grouped count
# (.../tpcds/q10.sql role-mapped; q69 is the NOT-EXISTS variant).
# Plans as chained semi-joins. Same text is the oracle.
register_sql("sql_tpcds_q10", _SQL_TPCDS_Q10_R15)


_SQL_TPCDS_Q18_R15 = """
SELECT n_name, c_mktsegment,
       CAST(SUM(CAST(l_quantity AS BIGINT)) AS DOUBLE)
         / count(*) AS agg1,
       CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT))
            AS DOUBLE) / 100 / count(*) AS agg2,
       CAST(SUM(CAST(round(c_acctbal * 100) AS BIGINT))
            AS DOUBLE) / 100 / count(*) AS agg3
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
WHERE o_orderpriority = '5-LOW'
  AND year(CAST(o_orderdate AS DATE)) = 1998
GROUP BY ROLLUP (n_name, c_mktsegment)
ORDER BY n_name, c_mktsegment
LIMIT 100
"""

# TPC-DS Q18's text shape — the average bundle over a
# geography/demographic ROLLUP (.../tpcds/q18.sql role-mapped: the
# decimal-cast averages replayed in exact integer cents). Same text
# is the oracle.
register_sql("sql_tpcds_q18", _SQL_TPCDS_Q18_R15)


_SQL_TPCDS_Q19_R15 = """
SELECT p_brand,
       CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT))
            AS DOUBLE) / 100 AS ext_price
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN part ON l_partkey = p_partkey
WHERE year(CAST(o_orderdate AS DATE)) = 1998
  AND month(CAST(o_orderdate AS DATE)) = 11
  AND c_nationkey <> s_nationkey
GROUP BY p_brand
ORDER BY ext_price DESC, p_brand
LIMIT 100
"""

# TPC-DS Q19's text shape — brand revenue where the selling geography
# differs from the buyer's (the store-zip <> customer-zip predicate;
# .../tpcds/q19.sql role-mapped to supplier vs customer nation). Same
# text is the oracle.
register_sql("sql_tpcds_q19", _SQL_TPCDS_Q19_R15)


_SQL_TPCDS_Q20_R15 = """
SELECT p_brand, p_type,
       CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT))
            AS DOUBLE) / 100 AS itemrevenue,
       CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT))
            AS DOUBLE) * 100 /
         SUM(CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT))
                  AS DOUBLE)) OVER (PARTITION BY p_type) AS revenueratio
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_linestatus = 'O'
  AND CAST(l_shipdate AS DATE) BETWEEN DATE '1999-02-22'
                                   AND DATE '1999-03-24'
GROUP BY p_brand, p_type
ORDER BY p_type, revenueratio, p_brand
LIMIT 100
"""

# TPC-DS Q20's text shape — Q12's catalog sibling: per-item revenue
# with its class-share ratio via a window sum over a 30-day window
# (.../tpcds/q20.sql role-mapped). Same text is the oracle.
register_sql("sql_tpcds_q20", _SQL_TPCDS_Q20_R15)


_SQL_TPCDS_Q26_R15 = """
SELECT p_name,
       CAST(SUM(CAST(l_quantity AS BIGINT)) AS DOUBLE)
         / count(*) AS agg1,
       CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT))
            AS DOUBLE) / 100 / count(*) AS agg2,
       CAST(SUM(CAST(round(l_discount * 10000) AS BIGINT))
            AS DOUBLE) / 10000 / count(*) AS agg3,
       CAST(SUM(CAST(round(l_extendedprice * (1 - l_discount) * 100)
                     AS BIGINT)) AS DOUBLE) / 100 / count(*) AS agg4
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN part ON l_partkey = p_partkey
WHERE c_mktsegment = 'MACHINERY'
  AND l_linestatus = 'O'
  AND year(CAST(o_orderdate AS DATE)) = 1999
GROUP BY p_name
ORDER BY p_name
LIMIT 100
"""

# TPC-DS Q26's text shape — Q7's catalog sibling: the same four-
# average bundle on the other channel slice (.../tpcds/q26.sql role-
# mapped). Same text is the oracle.
register_sql("sql_tpcds_q26", _SQL_TPCDS_Q26_R15)


_SQL_TPCDS_Q29_R15 = """
SELECT p_brand, s_name,
       sum(ss.l_quantity) AS store_sales_quantity,
       sum(sr.l_quantity) AS store_returns_quantity,
       sum(cs.l_quantity) AS catalog_sales_quantity
FROM lineitem ss
JOIN lineitem sr ON ss.l_orderkey = sr.l_orderkey
                AND ss.l_partkey = sr.l_partkey
                AND ss.l_linenumber <> sr.l_linenumber
                AND sr.l_returnflag = 'R'
JOIN orders o1 ON ss.l_orderkey = o1.o_orderkey
JOIN orders o2 ON o1.o_custkey = o2.o_custkey
              AND o2.o_orderkey <> o1.o_orderkey
JOIN lineitem cs ON cs.l_orderkey = o2.o_orderkey
                AND cs.l_suppkey = ss.l_suppkey
JOIN supplier ON ss.l_suppkey = s_suppkey
JOIN part ON ss.l_partkey = p_partkey
WHERE ss.l_returnflag <> 'R'
GROUP BY p_brand, s_name
ORDER BY p_brand, s_name
LIMIT 100
"""

# TPC-DS Q29's text shape — Q25's SUM-statistics sibling over the
# sale/return/repurchase three-role join (.../tpcds/q29.sql role-
# mapped). Same text is the oracle.
register_sql("sql_tpcds_q29", _SQL_TPCDS_Q29_R15)


_SQL_TPCDS_Q32_R15 = """
SELECT CAST(SUM(CAST(round(l.l_discount * l.l_extendedprice * 100)
                     AS BIGINT)) AS DOUBLE) / 100 AS excess_discount
FROM lineitem l
JOIN part i ON l.l_partkey = i.p_partkey
WHERE i.p_size = 27
  AND CAST(l.l_shipdate AS DATE) BETWEEN DATE '1999-01-01'
                                     AND DATE '1999-04-01'
  AND l.l_discount * l.l_extendedprice > (
      SELECT 1.3E0 * avg(j.l_discount * j.l_extendedprice)
      FROM lineitem j
      WHERE j.l_partkey = l.l_partkey
        AND CAST(j.l_shipdate AS DATE) BETWEEN DATE '1999-01-01'
                                           AND DATE '1999-04-01')
LIMIT 100
"""

# TPC-DS Q32's text shape — 'excess discount' with a dimension gate:
# sum of discount amounts above 1.3x the item's windowed average via
# a correlated scalar AVG (.../tpcds/q32.sql role-mapped; Q92's
# catalog sibling). Same text is the oracle.
register_sql("sql_tpcds_q32", _SQL_TPCDS_Q32_R15)


_SQL_TPCDS_Q42_R15 = """
SELECT year(CAST(o_orderdate AS DATE)) AS dyear, p_type,
       CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT))
            AS DOUBLE) / 100 AS sum_price
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN part ON l_partkey = p_partkey
WHERE year(CAST(o_orderdate AS DATE)) = 1998
  AND month(CAST(o_orderdate AS DATE)) = 12
GROUP BY year(CAST(o_orderdate AS DATE)), p_type
ORDER BY sum_price DESC, dyear, p_type
LIMIT 100
"""

# TPC-DS Q42's text shape — the plain (year, category) revenue group-
# by for one month (.../tpcds/q42.sql role-mapped; the simplest
# dimensional rollup family, with q52/q55 registered alongside). Same
# text is the oracle.
register_sql("sql_tpcds_q42", _SQL_TPCDS_Q42_R15)


_SQL_TPCDS_Q50_R15 = """
SELECT s_name,
       CAST(SUM(CASE WHEN date_diff('day', CAST(o_orderdate AS DATE),
                               CAST(l_shipdate AS DATE)) <= 30
                THEN 1 ELSE 0 END) AS BIGINT) AS d30,
       CAST(SUM(CASE WHEN date_diff('day', CAST(o_orderdate AS DATE),
                               CAST(l_shipdate AS DATE)) > 30
                 AND date_diff('day', CAST(o_orderdate AS DATE),
                               CAST(l_shipdate AS DATE)) <= 60
                THEN 1 ELSE 0 END) AS BIGINT) AS d60,
       CAST(SUM(CASE WHEN date_diff('day', CAST(o_orderdate AS DATE),
                               CAST(l_shipdate AS DATE)) > 60
                 AND date_diff('day', CAST(o_orderdate AS DATE),
                               CAST(l_shipdate AS DATE)) <= 90
                THEN 1 ELSE 0 END) AS BIGINT) AS d90,
       CAST(SUM(CASE WHEN date_diff('day', CAST(o_orderdate AS DATE),
                               CAST(l_shipdate AS DATE)) > 90
                THEN 1 ELSE 0 END) AS BIGINT) AS dmore
FROM orders
JOIN lineitem ON o_orderkey = l_orderkey
JOIN supplier ON l_suppkey = s_suppkey
WHERE l_returnflag = 'R'
  AND year(CAST(l_shipdate AS DATE)) = 1999
GROUP BY s_name
ORDER BY s_name
LIMIT 100
"""

# TPC-DS Q50's text shape — Q99's per-store sibling: ship-lag
# histogram columns per store restricted to returned items
# (.../tpcds/q50.sql role-mapped). Same text is the oracle.
register_sql("sql_tpcds_q50", _SQL_TPCDS_Q50_R15)


_SQL_TPCDS_Q52_R15 = """
SELECT year(CAST(o_orderdate AS DATE)) AS dyear, p_brand,
       CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT))
            AS DOUBLE) / 100 AS ext_price
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN part ON l_partkey = p_partkey
WHERE year(CAST(o_orderdate AS DATE)) = 1998
  AND month(CAST(o_orderdate AS DATE)) = 12
GROUP BY year(CAST(o_orderdate AS DATE)), p_brand
ORDER BY dyear, ext_price DESC, p_brand
LIMIT 100
"""

# TPC-DS Q52's text shape — Q42's brand sibling (.../tpcds/q52.sql
# role-mapped). Same text is the oracle.
register_sql("sql_tpcds_q52", _SQL_TPCDS_Q52_R15)


_SQL_TPCDS_Q55_R15 = """
SELECT p_brand,
       CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT))
            AS DOUBLE) / 100 AS ext_price
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN part ON l_partkey = p_partkey
WHERE year(CAST(o_orderdate AS DATE)) = 1999
  AND month(CAST(o_orderdate AS DATE)) = 6
GROUP BY p_brand
ORDER BY ext_price DESC, p_brand
LIMIT 100
"""

# TPC-DS Q55's text shape — one-month brand revenue, the minimal
# dimensional group-by (.../tpcds/q55.sql role-mapped). Same text is
# the oracle.
register_sql("sql_tpcds_q55", _SQL_TPCDS_Q55_R15)


_SQL_TPCDS_Q56_R15 = """
WITH ss AS (
  SELECT p_name, SUM(CAST(round(l_extendedprice * 100) AS BIGINT))
           AS total_sales
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE p_name IN (SELECT p_name FROM part WHERE p_size < 10)
    AND l_linestatus = 'F'
  GROUP BY p_name
),
cs AS (
  SELECT p_name, SUM(CAST(round(l_extendedprice * 100) AS BIGINT))
           AS total_sales
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE p_name IN (SELECT p_name FROM part WHERE p_size < 10)
    AND l_linestatus = 'O' AND l_returnflag = 'N'
  GROUP BY p_name
),
ws AS (
  SELECT p_name, SUM(CAST(round(l_extendedprice * 100) AS BIGINT))
           AS total_sales
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE p_name IN (SELECT p_name FROM part WHERE p_size < 10)
    AND l_linestatus = 'O' AND l_returnflag = 'R'
  GROUP BY p_name
)
SELECT p_name,
       CAST(SUM(total_sales) AS DOUBLE) / 100 AS total_sales
FROM (SELECT * FROM ss
      UNION ALL
      SELECT * FROM cs
      UNION ALL
      SELECT * FROM ws) tmp1
GROUP BY p_name
ORDER BY total_sales, p_name
LIMIT 100
"""

# TPC-DS Q56's text shape — Q33's sibling with the item set drawn
# from an attribute subquery (small sizes instead of a category;
# .../tpcds/q56.sql role-mapped; q60 is the third sibling, registered
# in batch 7). Same text is the oracle.
register_sql("sql_tpcds_q56", _SQL_TPCDS_Q56_R15)


_SQL_TPCDS_Q57_R15 = """
WITH v1 AS (
  SELECT s_name, p_brand,
         year(CAST(l_shipdate AS DATE)) AS dyear,
         month(CAST(l_shipdate AS DATE)) AS dmoy,
         SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS sum_sales,
         AVG(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)))
           OVER (PARTITION BY s_name, p_brand,
                 year(CAST(l_shipdate AS DATE))) AS avg_monthly_sales,
         RANK() OVER (PARTITION BY s_name, p_brand
                      ORDER BY year(CAST(l_shipdate AS DATE)),
                               month(CAST(l_shipdate AS DATE))) AS rn
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN part ON l_partkey = p_partkey
  GROUP BY s_name, p_brand, year(CAST(l_shipdate AS DATE)),
           month(CAST(l_shipdate AS DATE))
),
v2 AS (
  SELECT v1.s_name, v1.p_brand, v1.dyear, v1.dmoy,
         v1.avg_monthly_sales, v1.sum_sales,
         v1_lag.sum_sales AS psum,
         v1_lead.sum_sales AS nsum
  FROM v1, v1 v1_lag, v1 v1_lead
  WHERE v1.s_name = v1_lag.s_name
    AND v1.s_name = v1_lead.s_name
    AND v1.p_brand = v1_lag.p_brand
    AND v1.p_brand = v1_lead.p_brand
    AND v1.rn = v1_lag.rn + 1
    AND v1.rn = v1_lead.rn - 1
)
SELECT s_name, p_brand, dyear, dmoy,
       CAST(sum_sales AS DOUBLE) / 100 AS sum_sales,
       CAST(psum AS DOUBLE) / 100 AS psum,
       CAST(nsum AS DOUBLE) / 100 AS nsum
FROM v2
WHERE dyear = 1999
  AND avg_monthly_sales > 0
  AND abs(sum_sales - avg_monthly_sales)
        / avg_monthly_sales > 0.1E0
ORDER BY s_name, p_brand, dyear, dmoy
LIMIT 100
"""

# TPC-DS Q57's text shape — monthly (supplier, brand) sums vs the
# yearly window average with SELF-JOINED lag/lead neighbors via rank
# arithmetic (v1 joined to itself at rn±1), deviation-filtered
# (.../tpcds/q57.sql role-mapped: call center -> supplier; Q47's
# sibling). The rank self-joins co-partition on (supplier, brand).
# Same text is the oracle.
register_sql("sql_tpcds_q57", _SQL_TPCDS_Q57_R15)


# ---- r15 twin batch 7 (#85-99): completes the program --------------
_SQL_TPCDS_Q60_R15 = """
WITH ss AS (
  SELECT p_brand, SUM(CAST(round(l_extendedprice * 100) AS BIGINT))
           AS total_sales
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE p_brand IN (SELECT p_brand FROM part WHERE p_type = 'MEDIUM')
    AND l_linestatus = 'F'
  GROUP BY p_brand
),
cs AS (
  SELECT p_brand, SUM(CAST(round(l_extendedprice * 100) AS BIGINT))
           AS total_sales
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE p_brand IN (SELECT p_brand FROM part WHERE p_type = 'MEDIUM')
    AND l_linestatus = 'O' AND l_returnflag = 'N'
  GROUP BY p_brand
),
ws AS (
  SELECT p_brand, SUM(CAST(round(l_extendedprice * 100) AS BIGINT))
           AS total_sales
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE p_brand IN (SELECT p_brand FROM part WHERE p_type = 'MEDIUM')
    AND l_linestatus = 'O' AND l_returnflag = 'R'
  GROUP BY p_brand
)
SELECT p_brand,
       CAST(SUM(total_sales) AS DOUBLE) / 100 AS total_sales
FROM (SELECT * FROM ss
      UNION ALL
      SELECT * FROM cs
      UNION ALL
      SELECT * FROM ws) tmp1
GROUP BY p_brand
ORDER BY p_brand, total_sales
LIMIT 100
"""

# TPC-DS Q60's text shape — the third q33-family channel union, its
# item set drawn from a category subquery (.../tpcds/q60.sql role-
# mapped). Same text is the oracle.
register_sql("sql_tpcds_q60", _SQL_TPCDS_Q60_R15)


_SQL_TPCDS_Q62_R15 = """
SELECT n_name, o_orderpriority,
       CAST(SUM(CASE WHEN date_diff('day', CAST(o_orderdate AS DATE),
                               CAST(l_shipdate AS DATE)) <= 30
                THEN 1 ELSE 0 END) AS BIGINT) AS d30,
       CAST(SUM(CASE WHEN date_diff('day', CAST(o_orderdate AS DATE),
                               CAST(l_shipdate AS DATE)) > 30
                 AND date_diff('day', CAST(o_orderdate AS DATE),
                               CAST(l_shipdate AS DATE)) <= 60
                THEN 1 ELSE 0 END) AS BIGINT) AS d60,
       CAST(SUM(CASE WHEN date_diff('day', CAST(o_orderdate AS DATE),
                               CAST(l_shipdate AS DATE)) > 60
                THEN 1 ELSE 0 END) AS BIGINT) AS dmore
FROM orders
JOIN lineitem ON o_orderkey = l_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
WHERE year(CAST(l_shipdate AS DATE)) = 1999
GROUP BY n_name, o_orderpriority
ORDER BY n_name, o_orderpriority
LIMIT 100
"""

# TPC-DS Q62's text shape — ship-lag buckets by (geography, ship-
# mode) — the q99 family's web member (.../tpcds/q62.sql role-mapped:
# warehouse/web site -> supplier nation/order priority). Same text is
# the oracle.
register_sql("sql_tpcds_q62", _SQL_TPCDS_Q62_R15)


_SQL_TPCDS_Q63_R15 = """
SELECT *
FROM (SELECT p_type,
             CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
               AS sum_sales,
             AVG(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)))
               OVER (PARTITION BY p_type) AS avg_monthly_sales
      FROM lineitem JOIN part ON l_partkey = p_partkey
      WHERE year(CAST(l_shipdate AS DATE)) = 1999
      GROUP BY p_type, month(CAST(l_shipdate AS DATE))) tmp1
WHERE CASE WHEN avg_monthly_sales > 0
           THEN abs(sum_sales - avg_monthly_sales)
                  / avg_monthly_sales
           ELSE NULL END > 0.1E0
ORDER BY avg_monthly_sales, sum_sales, p_type
LIMIT 100
"""

# TPC-DS Q63's text shape — the q53-family manager-level monthly
# deviation filter (.../tpcds/q63.sql role-mapped). Same text is the
# oracle.
register_sql("sql_tpcds_q63", _SQL_TPCDS_Q63_R15)


_SQL_TPCDS_Q65_R15 = """
SELECT s_name, p_name, sc.revenue
FROM (SELECT l_suppkey, avg(revenue) AS ave
      FROM (SELECT l_suppkey, l_partkey,
                   CAST(SUM(CAST(round(l_extendedprice * 100)
                                 AS BIGINT)) AS DOUBLE) / 100
                     AS revenue
            FROM lineitem
            WHERE year(CAST(l_shipdate AS DATE)) = 1999
            GROUP BY l_suppkey, l_partkey) sa
      GROUP BY l_suppkey) sb,
     (SELECT l_suppkey, l_partkey,
             CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT))
                  AS DOUBLE) / 100 AS revenue
      FROM lineitem
      WHERE year(CAST(l_shipdate AS DATE)) = 1999
      GROUP BY l_suppkey, l_partkey) sc,
     supplier, part
WHERE sb.l_suppkey = sc.l_suppkey
  AND sc.revenue <= 0.1E0 * sb.ave
  AND s_suppkey = sc.l_suppkey
  AND p_partkey = sc.l_partkey
ORDER BY s_name, p_name, sc.revenue
LIMIT 100
"""

# TPC-DS Q65's text shape — stores' lowest-revenue items: a per-store
# average-of-item-revenue subquery joined against per-(store, item)
# revenue with the 10% threshold (.../tpcds/q65.sql role-mapped; the
# SQL-text twin of the long-standing tpcds_q65_adapted DataFrame
# row). Both aggregates shuffle on the store key and co-partition.
# Same text is the oracle.
register_sql("sql_tpcds_q65", _SQL_TPCDS_Q65_R15)


_SQL_TPCDS_Q68_R15 = """
SELECT c_name, c_custkey, o_orderkey, extended_price, extended_tax
FROM (SELECT o_orderkey, o_custkey,
             s_nationkey AS ship_nation,
             CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT))
                  AS DOUBLE) / 100 AS extended_price,
             CAST(SUM(CAST(round(l_tax * 10000) AS BIGINT))
                  AS DOUBLE) / 10000 AS extended_tax
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN supplier ON l_suppkey = s_suppkey
      WHERE year(CAST(o_orderdate AS DATE)) = 1998
        AND month(CAST(o_orderdate AS DATE)) IN (1, 2)
      GROUP BY o_orderkey, o_custkey, s_nationkey) dn
JOIN customer ON o_custkey = c_custkey
WHERE c_nationkey <> ship_nation
ORDER BY c_name, c_custkey, o_orderkey, ship_nation
LIMIT 100
"""

# TPC-DS Q68's text shape — Q46's two-sum sibling (extended price +
# tax per order, geography-mismatch filter; .../tpcds/q68.sql role-
# mapped). Same text is the oracle.
register_sql("sql_tpcds_q68", _SQL_TPCDS_Q68_R15)


_SQL_TPCDS_Q69_R15 = """
SELECT c_mktsegment, count(*) AS cnt
FROM customer c
JOIN nation ON c_nationkey = n_nationkey
WHERE EXISTS (SELECT * FROM orders o
              WHERE c.c_custkey = o.o_custkey
                AND year(CAST(o.o_orderdate AS DATE)) = 1999)
  AND NOT EXISTS (SELECT * FROM orders o JOIN lineitem l
                  ON o.o_orderkey = l.l_orderkey
                  WHERE c.c_custkey = o.o_custkey
                    AND l.l_returnflag = 'R')
  AND NOT EXISTS (SELECT * FROM orders o
                  WHERE c.c_custkey = o.o_custkey
                    AND o.o_orderpriority = '5-LOW')
GROUP BY c_mktsegment
ORDER BY c_mktsegment
LIMIT 100
"""

# TPC-DS Q69's text shape — Q35's NOT-EXISTS sibling: one EXISTS gate
# and two NOT EXISTS gates (anti-joins) before the demographic count
# (.../tpcds/q69.sql role-mapped). Same text is the oracle.
register_sql("sql_tpcds_q69", _SQL_TPCDS_Q69_R15)


_SQL_TPCDS_Q72_R15 = """
SELECT p_brand,
       count(*) AS no_promo
FROM lineitem l1
JOIN lineitem l2 ON l1.l_partkey = l2.l_partkey
                AND l1.l_orderkey <> l2.l_orderkey
                AND CAST(l2.l_shipdate AS DATE)
                      BETWEEN CAST(l1.l_shipdate AS DATE)
                          AND date_add(CAST(l1.l_shipdate AS DATE), 5)
                AND l2.l_quantity < l1.l_quantity
JOIN part ON l1.l_partkey = p_partkey
WHERE year(CAST(l1.l_shipdate AS DATE)) = 1999
  AND month(CAST(l1.l_shipdate AS DATE)) = 6
GROUP BY p_brand
ORDER BY no_promo DESC, p_brand
LIMIT 100
"""

# TPC-DS Q72's text shape — the date-OFFSET self-join: each sale
# joined to later shipments of the same item within a 5-day horizon
# having less quantity (inventory-short proxy), counted per brand
# (.../tpcds/q72.sql role-mapped: inventory -> the lineitem self-
# slice; the original's d1.d_date < d3.d_date + 5 days offset join is
# the load-bearing shape). Bounded by the one-month window; co-
# partitions on the item key. Same text is the oracle.
register_sql("sql_tpcds_q72", _SQL_TPCDS_Q72_R15)


_SQL_TPCDS_Q73_R15 = """
SELECT c_name, c_custkey, dj.o_orderkey, cnt
FROM (SELECT o_orderkey, o_custkey, count(*) AS cnt
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      WHERE year(CAST(o_orderdate AS DATE)) = 1999
      GROUP BY o_orderkey, o_custkey
      HAVING count(*) BETWEEN 5 AND 7) dj
JOIN customer ON o_custkey = c_custkey
ORDER BY cnt DESC, c_name, c_custkey, dj.o_orderkey
LIMIT 100
"""

# TPC-DS Q73's text shape — customers whose orders fall in a line-
# count band: order-grain HAVING count BETWEEN, joined to the
# customer dimension (.../tpcds/q73.sql role-mapped; q79's sibling
# registered alongside). Same text is the oracle.
register_sql("sql_tpcds_q73", _SQL_TPCDS_Q73_R15)


_SQL_TPCDS_Q74_R15 = """
WITH year_total AS (
  SELECT c_custkey AS customer_id,
         c_name AS customer_name,
         year(CAST(o_orderdate AS DATE)) AS dyear,
         SUM(CAST(l_quantity AS BIGINT)) AS year_total
  FROM customer
  JOIN orders ON c_custkey = o_custkey
  JOIN lineitem ON o_orderkey = l_orderkey
  GROUP BY c_custkey, c_name, year(CAST(o_orderdate AS DATE))
)
SELECT t_s_secyear.customer_name
FROM year_total t_s_firstyear, year_total t_s_secyear
WHERE t_s_firstyear.customer_id = t_s_secyear.customer_id
  AND t_s_firstyear.dyear = 1996
  AND t_s_secyear.dyear = 1997
  AND t_s_firstyear.year_total > 0
  AND CAST(t_s_secyear.year_total AS DOUBLE)
        / t_s_firstyear.year_total > 1.1E0
ORDER BY 1
LIMIT 100
"""

# TPC-DS Q74's text shape — Q11's quantity-metric sibling: the
# year_total CTE consumed twice a year apart with the ratio threshold
# (.../tpcds/q74.sql role-mapped). Same text is the oracle.
register_sql("sql_tpcds_q74", _SQL_TPCDS_Q74_R15)


_SQL_TPCDS_Q79_R15 = """
SELECT c_name, sub.o_orderkey, sub.amt, sub.profit
FROM (SELECT o_orderkey, o_custkey,
             CAST(SUM(CAST(round(l_discount * l_extendedprice * 100)
                           AS BIGINT)) AS DOUBLE) / 100 AS amt,
             CAST(SUM(CAST(round(l_extendedprice *
                                 (1 - l_discount) * 100)
                           AS BIGINT)) AS DOUBLE) / 100 AS profit
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      WHERE o_orderpriority = '1-URGENT'
        AND year(CAST(o_orderdate AS DATE)) = 1999
      GROUP BY o_orderkey, o_custkey
      HAVING count(*) >= 4) sub
JOIN customer ON sub.o_custkey = c_custkey
ORDER BY c_name, sub.o_orderkey, sub.amt
LIMIT 100
"""

# TPC-DS Q79's text shape — per-(customer, order) discount and net-
# paid sums over high-line-count urgent orders (.../tpcds/q79.sql
# role-mapped). Same text is the oracle.
register_sql("sql_tpcds_q79", _SQL_TPCDS_Q79_R15)


_SQL_TPCDS_Q81_R15 = """
WITH customer_total_return AS (
  SELECT o_custkey AS ctr_customer_sk,
         c_nationkey AS ctr_state,
         CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT))
              AS DOUBLE) / 100 AS ctr_total_return
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  WHERE l_returnflag = 'A'
    AND year(CAST(o_orderdate AS DATE)) = 1997
  GROUP BY o_custkey, c_nationkey
)
SELECT c_custkey, c_name, ctr_total_return
FROM customer_total_return ctr1
JOIN customer ON ctr1.ctr_customer_sk = c_custkey
WHERE ctr1.ctr_total_return > (SELECT avg(ctr_total_return) * 1.2
                               FROM customer_total_return ctr2
                               WHERE ctr1.ctr_state = ctr2.ctr_state)
ORDER BY c_custkey, c_name, ctr_total_return
LIMIT 100
"""

# TPC-DS Q81's text shape — Q30's catalog sibling: the 1.2x-per-
# state-average correlated gate over the other return slice
# (.../tpcds/q81.sql role-mapped). Same text is the oracle.
register_sql("sql_tpcds_q81", _SQL_TPCDS_Q81_R15)


_SQL_TPCDS_Q82_R15 = """
SELECT p_name, p_brand, p_retailprice
FROM part, lineitem
WHERE p_retailprice BETWEEN 960 AND 990
  AND l_partkey = p_partkey
  AND CAST(l_shipdate AS DATE) BETWEEN DATE '1998-06-01'
                                   AND DATE '1998-08-01'
GROUP BY p_name, p_brand, p_retailprice
ORDER BY p_name, p_brand
LIMIT 100
"""

# TPC-DS Q82's text shape — Q37's sibling on a different retail-price
# band and window (.../tpcds/q82.sql role-mapped to the fixture's
# 900-1000 price range). Same text is the oracle.
register_sql("sql_tpcds_q82", _SQL_TPCDS_Q82_R15)


_SQL_TPCDS_Q86_R15 = """
SELECT CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT))
            AS DOUBLE) / 100 AS total_sum,
       p_type, p_brand,
       grouping(p_type) + grouping(p_brand) AS lochierarchy,
       RANK() OVER (
         PARTITION BY grouping(p_type) + grouping(p_brand),
           CASE WHEN grouping(p_brand) = 0 THEN p_type END
         ORDER BY SUM(CAST(round(l_extendedprice * 100) AS BIGINT))
           DESC
       ) AS rank_within_parent
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_linestatus = 'O'
GROUP BY ROLLUP (p_type, p_brand)
ORDER BY lochierarchy DESC,
         CASE WHEN lochierarchy = 0 THEN p_type END,
         rank_within_parent, p_type, p_brand
LIMIT 100
"""

# TPC-DS Q86's text shape — Q70's item-hierarchy sibling: ROLLUP
# (category, brand) with RANK() OVER (PARTITION BY
# grouping()+grouping()) rank-within-parent (.../tpcds/q86.sql role-
# mapped). Same text is the oracle.
register_sql("sql_tpcds_q86", _SQL_TPCDS_Q86_R15)


_SQL_TPCDS_Q89_R15 = """
SELECT *
FROM (SELECT p_type, p_brand, dmoy, sum_sales, avg_monthly_sales
      FROM (SELECT p_type, p_brand,
                   month(CAST(l_shipdate AS DATE)) AS dmoy,
                   CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
                     AS sum_sales,
                   AVG(SUM(CAST(round(l_extendedprice * 100)
                                AS BIGINT)))
                     OVER (PARTITION BY p_type, p_brand)
                     AS avg_monthly_sales
            FROM lineitem JOIN part ON l_partkey = p_partkey
            WHERE year(CAST(l_shipdate AS DATE)) = 1999
            GROUP BY p_type, p_brand,
                     month(CAST(l_shipdate AS DATE))) tmp1
      WHERE avg_monthly_sales <> 0
        AND abs(sum_sales - avg_monthly_sales)
              / avg_monthly_sales > 0.1E0) tmp2
ORDER BY sum_sales - avg_monthly_sales, p_type, p_brand, dmoy
LIMIT 100
"""

# TPC-DS Q89's text shape — the q53 family's absolute-deviation
# member over (category, brand, month), ordered by the signed
# deviation (.../tpcds/q89.sql role-mapped). Same text is the oracle.
register_sql("sql_tpcds_q89", _SQL_TPCDS_Q89_R15)


_SQL_TPCDS_Q98_R15 = """
SELECT p_brand, p_type,
       CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT))
            AS DOUBLE) / 100 AS itemrevenue,
       CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT))
            AS DOUBLE) * 100 /
         SUM(CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT))
                  AS DOUBLE)) OVER (PARTITION BY p_type)
         AS revenueratio
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_linestatus = 'F'
  AND CAST(l_shipdate AS DATE) BETWEEN DATE '1999-02-22'
                                   AND DATE '1999-03-24'
GROUP BY p_brand, p_type
ORDER BY p_type, revenueratio, p_brand
LIMIT 100
"""

# TPC-DS Q98's text shape — the q12 family's store member (class-
# share window ratio; .../tpcds/q98.sql role-mapped). Completes the
# twin program: all 99 TPC-DS query texts now have same-text DuckDB-
# oracle twins. Same text is the oracle.
register_sql("sql_tpcds_q98", _SQL_TPCDS_Q98_R15)


_SQL_CONTAINER_JSON_R17 = """
SELECT lang,
       CAST(ARRAY[count(*), CAST(min(n_chars) AS BIGINT),
                  CAST(max(n_chars) AS BIGINT)] AS JSON)
         AS stats_json,
       CAST(MAP(ARRAY['docs', 'chars'],
                ARRAY[count(*), sum(n_chars)]) AS JSON) AS kv_json,
       json_array_get(CAST(ARRAY[CAST(min(n_chars) AS BIGINT),
                                 CAST(max(n_chars) AS BIGINT)]
                           AS JSON), -1) AS last_elem,
       json_array_length(CAST(ARRAY[count(*),
                                    CAST(min(n_chars) AS BIGINT)]
                              AS JSON)) AS arr_len,
       cardinality(ARRAY[lang, 'x']) AS card2
FROM documents
GROUP BY lang
ORDER BY lang
"""

_SQL_CONTAINER_JSON_ORACLE = """
SELECT lang,
       '[' || count(*) || ',' || min(n_chars) || ','
           || max(n_chars) || ']' AS stats_json,
       '{"chars":' || sum(n_chars) || ',"docs":' || count(*) || '}'
         AS kv_json,
       CAST(max(n_chars) AS VARCHAR) AS last_elem,
       CAST(2 AS BIGINT) AS arr_len,
       CAST(2 AS BIGINT) AS card2
FROM documents
GROUP BY lang
ORDER BY lang
"""


# r17 container surface over documents: CAST(array/map AS JSON)
# in the reference's canonical writer form (rows of aggregates ->
# JSON arrays, map keys sorted by serialized text — JsonUtil
# JsonGeneratorWriter), json_array_get with a negative
# count-from-end index, BIGINT json_array_length / cardinality
# (JsonFunctions.java:375, jsonArrayLength). The DuckDB oracle
# spells the expected canonical TEXT with string concatenation —
# its native JSON rendering differs in key order.
register_sql(
    "sql_container_json",
    _SQL_CONTAINER_JSON_R17,
    oracle=_SQL_CONTAINER_JSON_ORACLE,
)


_SQL_IP_OPS_R17 = """
SELECT c_nationkey,
       CAST(CAST('10.0.' || CAST(c_nationkey AS VARCHAR) || '.1'
                 AS IPADDRESS) AS VARCHAR) AS ip_canon,
       CASE WHEN CAST('10.0.' || CAST(c_nationkey AS VARCHAR)
                      || '.1' AS IPADDRESS)
                 <= IPADDRESS '10.0.12.1' THEN 1 ELSE 0 END AS le_mid,
       count(*) AS n
FROM customer
GROUP BY c_nationkey
ORDER BY c_nationkey
"""

_SQL_IP_OPS_ORACLE = """
SELECT c_nationkey,
       '10.0.' || CAST(c_nationkey AS VARCHAR) || '.1' AS ip_canon,
       CASE WHEN c_nationkey <= 12 THEN 1 ELSE 0 END AS le_mid,
       count(*) AS n
FROM customer
GROUP BY c_nationkey
ORDER BY c_nationkey
"""


# r17 IPADDRESS operator surface over customer: runtime
# varchar->IPADDRESS casts canonicalize (IpAddressOperators
# castFromVarchar/castToVarchar), and ordering comparisons ride
# the 16-byte address form (ip_sort_key), which for these v4
# addresses agrees with the numeric third octet — exactly what
# the DuckDB oracle computes arithmetically.
register_sql("sql_ip_address_ops", _SQL_IP_OPS_R17, oracle=_SQL_IP_OPS_ORACLE)
