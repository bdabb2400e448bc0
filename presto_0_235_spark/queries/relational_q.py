"""Core relational operator queries (SURVEY.md §2.1-2.4, 2.6-2.8).

One registered query per reference execution operator, built from the
engine's operator modules. Docstrings cite the Presto operator each
query gives parity for.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from presto_0_235_spark.catalog import load_table
from presto_0_235_spark.functions.compat import dec_sum, oracle_dec_sum
from presto_0_235_spark.operators import joins, sample, setops, sort
from presto_0_235_spark.queries.registry import register, register_sql
from presto_0_235_spark.session import local_rows

# --------------------------------------------------------------------------
# §2.1 / §2.2 — scan, filter, project, values
# --------------------------------------------------------------------------


@register(
    "scan_project",
    oracle="""
SELECT l_orderkey, l_linenumber,
       l_extendedprice * l_discount AS disc_amount,
       upper(l_returnflag) AS flag
FROM lineitem
WHERE l_linenumber = 1
""",
)
def scan_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fused scan+filter+project (ScanFilterAndProjectOperator.java:57).

    .explain shows PushedFilters for l_linenumber and a pruned
    ReadSchema — the projection never reads untouched columns.
    """
    return (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_linenumber") == 1)
        .select(
            "l_orderkey",
            "l_linenumber",
            (F.col("l_extendedprice") * F.col("l_discount")).alias(
                "disc_amount"
            ),
            F.upper("l_returnflag").alias("flag"),
        )
    )


@register(
    "filter_predicates",
    oracle="""
SELECT o_orderkey, o_orderstatus, o_orderpriority
FROM orders
WHERE o_totalprice BETWEEN 1000 AND 5000
  AND o_orderstatus IN ('F', 'O')
  AND o_orderpriority LIKE '%URGENT'
  AND NOT (o_custkey < 10)
""",
)
def filter_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Predicate algebra: BETWEEN / IN / LIKE / NOT
    (FilterAndProjectOperator.java:32; IN codegen InCodeGenerator.java,
    LIKE via Joni regex in the reference — Spark compiles all four
    into one WholeStageCodegen filter)."""
    return (
        load_table(spark, sf_dir, "orders")
        .filter(
            F.col("o_totalprice").between(1000, 5000)
            & F.col("o_orderstatus").isin("F", "O")
            & F.col("o_orderpriority").like("%URGENT")
            & ~(F.col("o_custkey") < 10)
        )
        .select("o_orderkey", "o_orderstatus", "o_orderpriority")
    )


@register(
    "filter_null_safe",
    oracle="""
SELECT o_orderkey,
       NULLIF(o_orderstatus, 'O') IS NOT DISTINCT FROM 'F' AS is_f,
       CASE WHEN o_totalprice > 100000 THEN 'big'
            WHEN o_totalprice > 10000 THEN 'mid'
            ELSE 'small' END AS bucket,
       COALESCE(NULLIF(o_orderstatus, 'O'), 'open') AS status_or_open
FROM orders
WHERE o_orderkey % 100 < 5
""",
)
def filter_null_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IS [NOT] DISTINCT FROM (null-safe equality), searched CASE,
    COALESCE/NULLIF — Presto special forms
    (SPI/relation/SpecialFormExpression). Spark: <=>, when/otherwise,
    coalesce, nullif."""
    status = F.nullif(F.col("o_orderstatus"), F.lit("O"))
    return (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 100 < 5)
        .select(
            "o_orderkey",
            status.eqNullSafe(F.lit("F")).alias("is_f"),
            F.when(F.col("o_totalprice") > 100000, "big")
            .when(F.col("o_totalprice") > 10000, "mid")
            .otherwise("small")
            .alias("bucket"),
            F.coalesce(status, F.lit("open")).alias("status_or_open"),
        )
    )


@register(
    "values_inline",
    oracle="""
SELECT id, name, CAST(score AS DOUBLE) AS score FROM (
  VALUES (1, 'alpha', 9.5), (2, 'beta', 7.25), (3, 'gamma', NULL)
) AS t(id, name, score)
""",
)
def values_inline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Literal VALUES rows (ValuesOperator.java:27)."""
    return local_rows(
        spark,
        [(1, "alpha", 9.5), (2, "beta", 7.25), (3, "gamma", None)],
        "id int, name string, score double",
    )


# --------------------------------------------------------------------------
# §2.3 — joins
# --------------------------------------------------------------------------


@register(
    "join_inner",
    oracle=f"""
SELECT o_orderstatus, COUNT(*) AS n,
       {oracle_dec_sum('l_extendedprice', 'total_price')}
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderstatus
""",
)
def join_inner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash inner join (LookupJoinOperator.java:53 INNER)."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    return (
        joins.equi_join(li, orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("o_orderstatus")
        .agg(F.count("*").alias("n"), dec_sum("l_extendedprice", "total_price"))
    )


@register(
    "join_left",
    oracle="""
SELECT o_orderkey, c_name,
       c_name IS NULL AS unmatched
FROM orders LEFT JOIN (
  SELECT * FROM customer WHERE c_acctbal > 9000
) ON o_custkey = c_custkey
WHERE o_orderkey % 50 = 0
""",
)
def join_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer hash join (PROBE_OUTER,
    LookupJoinOperators.java:32-37) — null-producing right side."""
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderkey") % 50 == 0
    )
    rich = load_table(spark, sf_dir, "customer").filter(
        F.col("c_acctbal") > 9000
    )
    return joins.equi_join(
        orders, rich, orders.o_custkey == rich.c_custkey, "left"
    ).select(
        "o_orderkey", "c_name", F.col("c_name").isNull().alias("unmatched")
    )


@register(
    "join_right",
    oracle="""
SELECT c_custkey, c_name, o_orderkey
FROM (SELECT * FROM orders WHERE o_totalprice > 400000)
RIGHT JOIN customer ON o_custkey = c_custkey
WHERE c_custkey % 20 = 0
""",
)
def join_right(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right outer hash join (LOOKUP_OUTER)."""
    big = load_table(spark, sf_dir, "orders").filter(
        F.col("o_totalprice") > 400000
    )
    cust = load_table(spark, sf_dir, "customer").filter(
        F.col("c_custkey") % 20 == 0
    )
    return joins.equi_join(
        big, cust, big.o_custkey == cust.c_custkey, "right"
    ).select("c_custkey", "c_name", "o_orderkey")


@register(
    "join_full",
    oracle="""
WITH c AS (
  SELECT c_nationkey AS nk, COUNT(*) AS n_cust
  FROM customer WHERE c_acctbal > 8000 GROUP BY c_nationkey
), s AS (
  SELECT s_nationkey AS nk, COUNT(*) AS n_supp
  FROM supplier WHERE s_acctbal < 2000 GROUP BY s_nationkey
)
SELECT COALESCE(c.nk, s.nk) AS nationkey, n_cust, n_supp
FROM c FULL OUTER JOIN s ON c.nk = s.nk
""",
)
def join_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer hash join (FULL_OUTER) between two aggregates."""
    cust = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") > 8000)
        .groupBy(F.col("c_nationkey").alias("c_nk"))
        .agg(F.count("*").alias("n_cust"))
    )
    supp = (
        load_table(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 2000)
        .groupBy(F.col("s_nationkey").alias("s_nk"))
        .agg(F.count("*").alias("n_supp"))
    )
    return joins.equi_join(
        cust, supp, cust.c_nk == supp.s_nk, "full"
    ).select(
        F.coalesce("c_nk", "s_nk").alias("nationkey"), "n_cust", "n_supp"
    )


@register(
    "join_cross",
    oracle="""
SELECT r_name, n_name FROM region CROSS JOIN nation
""",
)
def join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cartesian product (NestedLoopJoinOperator.java:36)."""
    return joins.cross_join(
        load_table(spark, sf_dir, "region").select("r_name"),
        load_table(spark, sf_dir, "nation").select("n_name"),
    )


@register(
    "join_semi",
    oracle="""
SELECT c_mktsegment, COUNT(*) AS n_customers_with_big_orders
FROM customer
WHERE EXISTS (
  SELECT 1 FROM orders
  WHERE o_custkey = c_custkey AND o_totalprice > 300000
)
GROUP BY c_mktsegment
""",
)
def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi join / EXISTS (HashSemiJoinOperator.java:32)."""
    cust = load_table(spark, sf_dir, "customer")
    big = load_table(spark, sf_dir, "orders").filter(
        F.col("o_totalprice") > 300000
    )
    return (
        joins.semi_join(cust, big, cust.c_custkey == big.o_custkey)
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_customers_with_big_orders"))
    )


@register(
    "join_anti",
    oracle="""
SELECT c_mktsegment, COUNT(*) AS n_customers_without_big_orders
FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_totalprice > 350000)
GROUP BY c_mktsegment
""",
)
def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti join / NOT EXISTS. The build side is the >350k-price
    orders so the survivor set is nonempty at every fixture SF (every
    customer has SOME order, so an unfiltered anti join is vacuously
    empty and proves nothing)."""
    cust = load_table(spark, sf_dir, "customer")
    big = load_table(spark, sf_dir, "orders").filter(
        F.col("o_totalprice") > 350000
    )
    return (
        joins.anti_join(cust, big, cust.c_custkey == big.o_custkey)
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_customers_without_big_orders"))
    )


@register(
    "join_not_in_null_aware",
    oracle="""
SELECT COUNT(*) AS n
FROM orders
WHERE o_custkey NOT IN (
  SELECT c_custkey FROM customer WHERE c_acctbal > 9900
)
""",
)
def join_not_in_null_aware(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT IN with three-valued-logic semantics (SemiJoinNode +
    filter in the reference; operators/joins.null_aware_not_in)."""
    orders = load_table(spark, sf_dir, "orders")
    rich = load_table(spark, sf_dir, "customer").filter(
        F.col("c_acctbal") > 9900
    )
    return joins.null_aware_not_in(
        orders, "o_custkey", rich, "c_custkey"
    ).agg(F.count("*").alias("n"))


@register(
    "join_theta_range",
    oracle="""
SELECT b.label, COUNT(*) AS n_parts
FROM part p
JOIN (VALUES ('small', 1, 10), ('mid', 11, 25), ('large', 26, 50))
     AS b(label, lo, hi)
  ON p.p_size BETWEEN b.lo AND b.hi
GROUP BY b.label
""",
)
def join_theta_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-equi (theta) join — Presto runs these as nested-loop joins
    with a residual filter; Spark plans BroadcastNestedLoopJoin with
    the tiny VALUES side replicated."""
    part = load_table(spark, sf_dir, "part")
    buckets = local_rows(
        spark,
        [("small", 1, 10), ("mid", 11, 25), ("large", 26, 50)],
        "label string, lo int, hi int",
    )
    return (
        joins.theta_join(
            part,
            buckets,
            (part.p_size >= buckets.lo) & (part.p_size <= buckets.hi),
        )
        .groupBy("label")
        .agg(F.count("*").alias("n_parts"))
    )


@register(
    "join_broadcast_dim",
    oracle="""
SELECT n_name, COUNT(*) AS n_customers
FROM customer JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name
""",
)
def join_broadcast_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REPLICATED-distribution join: dimension broadcast, fact side
    never shuffles (DetermineJoinDistributionType.java). The plan
    must show BroadcastHashJoin — asserted in tests/test_plans.py."""
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    return (
        joins.broadcast_join(
            cust, nation, cust.c_nationkey == nation.n_nationkey
        )
        .groupBy("n_name")
        .agg(F.count("*").alias("n_customers"))
    )


# --------------------------------------------------------------------------
# §2.4 — aggregation
# --------------------------------------------------------------------------


@register(
    "agg_global",
    oracle=f"""
SELECT COUNT(*) AS n_rows,
       COUNT(DISTINCT l_orderkey) AS n_orders,
       MIN(l_quantity) AS min_qty,
       MAX(l_quantity) AS max_qty,
       {oracle_dec_sum('l_quantity', 'sum_qty')},
       MIN(l_shipdate) AS first_ship,
       MAX(l_returnflag) AS max_flag
FROM lineitem
""",
)
def agg_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global aggregation, no grouping keys
    (AggregationOperator.java:35)."""
    return load_table(spark, sf_dir, "lineitem").agg(
        F.count("*").alias("n_rows"),
        F.countDistinct("l_orderkey").alias("n_orders"),
        F.min("l_quantity").alias("min_qty"),
        F.max("l_quantity").alias("max_qty"),
        dec_sum("l_quantity", "sum_qty"),
        F.min("l_shipdate").alias("first_ship"),
        F.max("l_returnflag").alias("max_flag"),
    )


@register(
    "agg_having",
    oracle=f"""
SELECT o_orderpriority, COUNT(*) AS n,
       {oracle_dec_sum('o_totalprice', 'total')}
FROM orders
GROUP BY o_orderpriority
HAVING COUNT(*) > 100
""",
)
def agg_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY + HAVING (filter above HashAggregationOperator)."""
    return (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n"), dec_sum("o_totalprice", "total"))
        .filter(F.col("n") > 100)
    )


@register(
    "agg_distinct_mixed",
    oracle=f"""
SELECT l_returnflag,
       COUNT(DISTINCT l_suppkey) AS n_suppliers,
       COUNT(DISTINCT l_partkey) AS n_parts,
       {oracle_dec_sum('l_quantity', 'sum_qty')},
       COUNT(*) AS n
FROM lineitem
GROUP BY l_returnflag
""",
)
def agg_distinct_mixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiple DISTINCT aggregates mixed with plain ones — Presto
    plans MarkDistinctOperator (MarkDistinctOperator.java:35); Spark's
    RewriteDistinctAggregates lowers to an Expand, same effect."""
    return (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_suppkey").alias("n_suppliers"),
            F.countDistinct("l_partkey").alias("n_parts"),
            dec_sum("l_quantity", "sum_qty"),
            F.count("*").alias("n"),
        )
    )


@register(
    "agg_filter_clause",
    oracle="""
SELECT l_returnflag,
       COUNT(*) FILTER (WHERE l_discount > 0.05) AS n_discounted,
       COUNT(*) FILTER (WHERE l_quantity >= 25) AS n_bulk,
       COUNT(*) AS n
FROM lineitem
GROUP BY l_returnflag
""",
)
def agg_filter_clause(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILTER (WHERE ...) on aggregates (grammar SqlBase.g4:450-452,
    rule ImplementFilteredAggregations.java)."""
    return (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.expr(
                "count(*) FILTER (WHERE l_discount > 0.05)"
            ).alias("n_discounted"),
            F.expr("count(*) FILTER (WHERE l_quantity >= 25)").alias(
                "n_bulk"
            ),
            F.count("*").alias("n"),
        )
    )


@register(
    "agg_rollup",
    oracle=f"""
SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
       {oracle_dec_sum('o_totalprice', 'total')}
FROM orders
GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
""",
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP grouping sets (GroupIdOperator.java:32; grammar
    SqlBase.g4:234-244)."""
    return (
        load_table(spark, sf_dir, "orders")
        .rollup("o_orderstatus", "o_orderpriority")
        .agg(F.count("*").alias("n"), dec_sum("o_totalprice", "total"))
    )


@register(
    "agg_cube",
    oracle="""
SELECT l_returnflag, l_linestatus, COUNT(*) AS n
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
""",
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE grouping sets."""
    return (
        load_table(spark, sf_dir, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(F.count("*").alias("n"))
    )


# Explicit GROUPING SETS + grouping() marker
# (GroupingOperationRewriter.java; QueryPlanner.java:532-536).
# The gid is composed from per-column GROUPING() so the bit
# convention is engine-independent.
register_sql(
    "agg_grouping_sets",
    """
SELECT l_returnflag, l_linestatus,
       GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS gid,
       COUNT(*) AS n
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
""",
)


@register(
    "distinct_rows",
    oracle="SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem",
)
def distinct_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SELECT DISTINCT (aggregation without aggregates)."""
    return (
        load_table(spark, sf_dir, "lineitem")
        .select("l_returnflag", "l_linestatus")
        .distinct()
    )


@register(
    "distinct_limit",
    oracle="""
SELECT DISTINCT o_orderpriority FROM orders
ORDER BY o_orderpriority LIMIT 3
""",
)
def distinct_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTINCT ... LIMIT (DistinctLimitOperator.java:37); ordered for
    a deterministic subset."""
    return sort.distinct_limit(
        load_table(spark, sf_dir, "orders").select("o_orderpriority"),
        3,
        ("o_orderpriority", "asc"),
    )


# --------------------------------------------------------------------------
# §2.6 — sort / limit / top-N
# --------------------------------------------------------------------------


@register(
    "orderby_nulls_last",
    oracle="""
SELECT o_orderkey, NULLIF(o_orderpriority, '1-URGENT') AS pri
FROM orders
ORDER BY pri ASC NULLS LAST, o_orderkey
LIMIT 50
""",
)
def orderby_nulls_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Presto null ordering: nulls last for ASC (PlannerUtils.java:
    39-51) — Spark's ASC default is nulls-first, so the engine always
    emits asc_nulls_last (operators/sort.presto_order)."""
    df = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.nullif(F.col("o_orderpriority"), F.lit("1-URGENT")).alias("pri"),
    )
    return sort.top_n(df, 50, ("pri", "asc"), ("o_orderkey", "asc"))


@register(
    "topn",
    oracle="""
SELECT o_orderkey, o_totalprice FROM orders
ORDER BY o_totalprice DESC, o_orderkey LIMIT 20
""",
)
def topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TopN (TopNOperator.java:35) — Spark plans
    TakeOrderedAndProject: per-partition top-k then k-row merge, no
    global sort materialization (scale-safe)."""
    return sort.top_n(
        load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_totalprice"
        ),
        20,
        ("o_totalprice", "desc"),
        ("o_orderkey", "asc"),
    )


@register(
    "limit_deterministic",
    oracle="""
SELECT n_nationkey, n_name FROM nation ORDER BY n_nationkey LIMIT 10
""",
)
def limit_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIMIT (LimitOperator.java:24; ordered for determinism)."""
    return sort.top_n(
        load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name"),
        10,
        ("n_nationkey", "asc"),
    )


# --------------------------------------------------------------------------
# §2.7 — set operations
# --------------------------------------------------------------------------


def _seg_keys(spark: SparkSession, sf_dir: str, seg: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == seg)
        .select(F.col("c_nationkey").alias("nationkey"))
    )


@register(
    "union_all",
    oracle="""
SELECT nationkey, src FROM (
  SELECT c_nationkey AS nationkey, 'building' AS src
  FROM customer WHERE c_mktsegment = 'BUILDING' AND c_acctbal > 9500
  UNION ALL
  SELECT c_nationkey AS nationkey, 'machinery' AS src
  FROM customer WHERE c_mktsegment = 'MACHINERY' AND c_acctbal > 9500
)
""",
)
def union_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION ALL (UnionNode + SetFlatteningOptimizer)."""
    cust = load_table(spark, sf_dir, "customer").filter(
        F.col("c_acctbal") > 9500
    )
    a = cust.filter(F.col("c_mktsegment") == "BUILDING").select(
        F.col("c_nationkey").alias("nationkey"),
        F.lit("building").alias("src"),
    )
    b = cust.filter(F.col("c_mktsegment") == "MACHINERY").select(
        F.col("c_nationkey").alias("nationkey"),
        F.lit("machinery").alias("src"),
    )
    return setops.union_all(a, b)


@register(
    "union_distinct",
    oracle="""
SELECT c_nationkey AS nationkey FROM customer WHERE c_mktsegment = 'BUILDING'
UNION
SELECT c_nationkey FROM customer WHERE c_mktsegment = 'MACHINERY'
""",
)
def union_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION DISTINCT."""
    return setops.union_distinct(
        _seg_keys(spark, sf_dir, "BUILDING"),
        _seg_keys(spark, sf_dir, "MACHINERY"),
    )


@register(
    "intersect_distinct",
    oracle="""
SELECT c_nationkey AS nationkey FROM customer WHERE c_mktsegment = 'BUILDING'
INTERSECT
SELECT c_nationkey FROM customer WHERE c_mktsegment = 'FURNITURE'
""",
)
def intersect_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT (DISTINCT-only in Presto 0.235,
    ImplementIntersectAndExceptAsUnion.java:110)."""
    return setops.intersect(
        _seg_keys(spark, sf_dir, "BUILDING"),
        _seg_keys(spark, sf_dir, "FURNITURE"),
    )


@register(
    "except_distinct",
    oracle="""
SELECT n_nationkey AS nationkey FROM nation
EXCEPT
SELECT c_nationkey FROM customer
WHERE c_mktsegment = 'BUILDING' AND c_acctbal > 9000
""",
)
def except_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT (DISTINCT). The subtracted set is rich-BUILDING
    nations only, so the difference is nonempty at every fixture SF
    (every nation has a BUILDING customer, so subtracting the whole
    segment returned the vacuous empty set)."""
    rich = (
        load_table(spark, sf_dir, "customer")
        .filter(
            (F.col("c_mktsegment") == "BUILDING")
            & (F.col("c_acctbal") > 9000)
        )
        .select(F.col("c_nationkey").alias("nationkey"))
    )
    return setops.except_(
        load_table(spark, sf_dir, "nation").select(
            F.col("n_nationkey").alias("nationkey")
        ),
        rich,
    )


@register(
    "intersect_all_ext",
    oracle="""
SELECT l_orderkey AS k FROM lineitem WHERE l_linenumber <= 2
INTERSECT ALL
SELECT l_orderkey FROM lineitem WHERE l_quantity > 10
""",
)
def intersect_all_ext(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT ALL — beyond-reference extension (Presto 0.235
    rejects ALL, StatementAnalyzer.java:1227; Spark is a superset)."""
    li = load_table(spark, sf_dir, "lineitem")
    return setops.intersect_all(
        li.filter(F.col("l_linenumber") <= 2).select(
            F.col("l_orderkey").alias("k")
        ),
        li.filter(F.col("l_quantity") > 10).select(
            F.col("l_orderkey").alias("k")
        ),
    )


@register(
    "except_all_ext",
    oracle="""
SELECT l_orderkey AS k FROM lineitem WHERE l_linenumber <= 2
EXCEPT ALL
SELECT l_orderkey FROM lineitem WHERE l_quantity > 10
""",
)
def except_all_ext(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT ALL — beyond-reference extension."""
    li = load_table(spark, sf_dir, "lineitem")
    return setops.except_all(
        li.filter(F.col("l_linenumber") <= 2).select(
            F.col("l_orderkey").alias("k")
        ),
        li.filter(F.col("l_quantity") > 10).select(
            F.col("l_orderkey").alias("k")
        ),
    )


# --------------------------------------------------------------------------
# §2.8 — unnest / lateral / subqueries / sample / misc
# --------------------------------------------------------------------------


@register(
    "unnest_array_ordinality",
    oracle="""
SELECT doc_id,
       unnest(string_split(text, ' ')) AS word,
       unnest(generate_series(1, len(string_split(text, ' ')))) AS ord
FROM documents
WHERE doc_id < 20
""",
)
def unnest_array_ordinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNNEST(array) WITH ORDINALITY (UnnestOperator.java:48;
    ordinality is 1-based) — Spark posexplode + pos+1."""
    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 20)
        .select("doc_id", F.split("text", " ").alias("words"))
    )
    from presto_0_235_spark.operators.unnest import unnest_array

    return unnest_array(docs, "words", "word", ordinality="ord").select(
        "doc_id", "word", "ord"
    )


@register(
    "unnest_map",
    oracle="""
SELECT p_partkey, k AS attr, v AS val FROM (
  SELECT p_partkey, 'brand' AS k, p_brand AS v FROM part WHERE p_partkey < 200
  UNION ALL
  SELECT p_partkey, 'type' AS k, p_type AS v FROM part WHERE p_partkey < 200
)
""",
)
def unnest_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNNEST(map) -> (key, value) rows (MapUnnester). The oracle
    states the same semantics as a union of entries."""
    part = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_partkey") < 200)
        .select(
            "p_partkey",
            F.create_map(
                F.lit("brand"), F.col("p_brand"),
                F.lit("type"), F.col("p_type"),
            ).alias("attrs"),
        )
    )
    from presto_0_235_spark.operators.unnest import unnest_map as um

    return um(part, "attrs", "attr", "val").select(
        "p_partkey", "attr", "val"
    )


# LATERAL correlated subquery (grammar SqlBase.g4:305,
# LateralJoinNode + decorrelation rules) via Spark lateral join.
register_sql(
    "lateral_topn_per_group",
    """
SELECT n_name, top_name, top_bal
FROM nation
LEFT JOIN LATERAL (
  SELECT c_name AS top_name, c_acctbal AS top_bal
  FROM customer
  WHERE c_nationkey = n_nationkey
  ORDER BY c_acctbal DESC, c_custkey
  LIMIT 1
) ON TRUE
""",
)


# Scalar subquery + EnforceSingleRowOperator.java:27 guard;
# Presto decorrelates to a join (TransformCorrelatedScalar...).
register_sql(
    "scalar_subquery",
    """
SELECT o_orderkey, o_totalprice
FROM orders
WHERE o_totalprice > 1.5 * (
  SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*)
  FROM orders
)
""",
)


# Uncorrelated IN subquery -> semi join
# (TransformUncorrelatedInPredicateSubqueryToSemiJoin.java).
register_sql(
    "in_subquery",
    """
        SELECT o_orderkey, o_custkey FROM orders
        WHERE o_custkey IN (
          SELECT c_custkey FROM customer WHERE c_acctbal > 9900
        )
        """,
    oracle="""
SELECT o_orderkey, o_custkey FROM orders
WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_acctbal > 9900)
""",
)


# Quantified comparison > ALL (Presto lowers via
# TransformQuantifiedComparisonApplyToLateralJoin.java; our front
# door rewrites to a MAX scalar subquery — Spark lacks the syntax).
register_sql(
    "quantified_all",
    """
SELECT s_suppkey, s_acctbal FROM supplier
WHERE s_acctbal > ALL (
  SELECT c_acctbal FROM customer WHERE c_nationkey = 3
)
""",
)


# WITH (CTE; grammar SqlBase.g4:130-136, non-recursive).
register_sql(
    "cte_query",
    """
WITH big AS (
  SELECT o_custkey, COUNT(*) AS n_big
  FROM orders WHERE o_totalprice > 200000 GROUP BY o_custkey
)
SELECT c_mktsegment, COUNT(*) AS n_cust, CAST(SUM(n_big) AS BIGINT) AS big_orders
FROM customer JOIN big ON c_custkey = o_custkey
GROUP BY c_mktsegment
""",
)


@register(
    "sample_deterministic",
    oracle="""
SELECT o_orderkey, o_totalprice FROM orders
WHERE (o_orderkey * 2654435761) % 100 < 10
""",
)
def sample_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash sample — the oracle-checkable analog of
    TABLESAMPLE (operators/sample.deterministic_sample)."""
    return sample.deterministic_sample(
        load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_totalprice"
        ),
        "o_orderkey",
        10,
    )


@register("sample_bernoulli", oracle=None)
def sample_bernoulli(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TABLESAMPLE BERNOULLI(10) (ImplementBernoulliSampleAsFilter.
    java) — rand()-based, engine-specific row set -> rows-only check."""
    return sample.bernoulli_sample(
        load_table(spark, sf_dir, "orders").select("o_orderkey"), 0.1
    )


@register(
    "assign_unique_id",
    oracle="SELECT COUNT(*) AS n_rows, COUNT(*) AS n_ids FROM lineitem",
)
def assign_unique_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AssignUniqueIdOperator.java:29 ->
    monotonically_increasing_id(); ids are engine-specific, so the
    checkable property is uniqueness (n_ids == n_rows)."""
    with_id = load_table(spark, sf_dir, "lineitem").withColumn(
        "uid", F.monotonically_increasing_id()
    )
    return with_id.agg(
        F.count("*").alias("n_rows"),
        F.countDistinct("uid").alias("n_ids"),
    )


@register("sample_system", oracle=None)
def sample_system(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TABLESAMPLE SYSTEM(25): split-granularity sampling (grammar
    SqlBase.g4:282-292, SampleNode SYSTEM type) — whole input splits
    kept/dropped. Partition-layout dependent -> rows-only check."""
    li = load_table(spark, sf_dir, "lineitem", spread=True)
    return sample.system_sample(li, 25).select(
        "l_orderkey", "l_linenumber", "l_quantity"
    )


@register(
    "join_skew_salted",
    oracle="""
SELECT s_name,
       count(*) AS n_lines,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE)
         AS total_price
FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
GROUP BY s_name
""",
)
def join_skew_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted skew join (operators/skew.py, SCALE.md §2): the probe
    side scatters each key over S salt buckets, the build side is
    replicated S ways — result exactly equals the plain join (the
    oracle IS the plain join), while a hot key's shuffle partition
    shrinks S-fold. The deterministic remedy for skew AQE can't fix
    (one giant key can't be split by measurement alone when the
    aggregation keys collide with the join key)."""
    from presto_0_235_spark.operators.skew import salted_join

    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    joined = salted_join(li, supp, "l_suppkey", "s_suppkey", salt=8)
    return (
        joined.groupBy("s_name")
        .agg(
            F.count("*").alias("n_lines"),
            F.sum(F.col("l_extendedprice").cast("decimal(18,6)"))
            .cast("double")
            .alias("total_price"),
        )
    )


@register(
    "join_null_keys",
    oracle="""
WITH l AS (
  SELECT o_orderkey, nullif(o_orderkey % 7, 0) AS k FROM orders
  WHERE o_orderkey < 1000
),
r AS (
  SELECT nullif(n_nationkey % 7, 0) AS k, n_name FROM nation
)
SELECT l.o_orderkey, l.k AS lk, r.n_name
FROM l LEFT JOIN r ON l.k = r.k
""",
)
def join_null_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL join keys never match (SQL three-valued equality) — the
    parity point that separates `=` from IS NOT DISTINCT FROM in a
    join condition. Left rows with NULL keys survive with NULL
    payload; both engines agree."""
    left = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") < 1000)
        .select(
            "o_orderkey",
            F.nullif(F.col("o_orderkey") % 7, F.lit(0)).alias("k"),
        )
    )
    right = load_table(spark, sf_dir, "nation").select(
        F.nullif(F.col("n_nationkey") % 7, F.lit(0)).alias("rk"), "n_name"
    )
    return (
        left.join(right, left.k == right.rk, "left")
        .select("o_orderkey", F.col("k").alias("lk"), "n_name")
    )


@register(
    "pivot_unpivot_roundtrip",
    oracle="""
WITH p AS (SELECT DISTINCT o_orderpriority FROM orders),
s AS (SELECT unnest(['O', 'F', 'P']) AS o_orderstatus),
counts AS (
  SELECT o_orderpriority, o_orderstatus, count(*) AS n
  FROM orders WHERE o_orderstatus IN ('O', 'F', 'P')
  GROUP BY o_orderpriority, o_orderstatus
)
SELECT p.o_orderpriority, s.o_orderstatus,
       CAST(coalesce(c.n, 0) AS BIGINT) AS n
FROM p CROSS JOIN s
LEFT JOIN counts c
  ON c.o_orderpriority = p.o_orderpriority
 AND c.o_orderstatus = s.o_orderstatus
""",
)
def pivot_unpivot_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT -> UNPIVOT roundtrip (beyond-reference: Presto 0.235 has
    no PIVOT; its users emulate it with conditional aggregation —
    the oracle does exactly that emulation). Spark pivots order
    counts to one column per status (missing combos coalesced to 0,
    the dense-matrix contract), then unpivots back to long form —
    proving both reshapes preserve every cell."""
    statuses = ["O", "F", "P"]
    pivoted = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .pivot("o_orderstatus", statuses)
        .count()
        .select(
            "o_orderpriority",
            *[
                F.coalesce(F.col(s), F.lit(0)).alias(s)
                for s in statuses
            ],
        )
    )
    return pivoted.unpivot(
        ["o_orderpriority"], statuses, "o_orderstatus", "n"
    )
