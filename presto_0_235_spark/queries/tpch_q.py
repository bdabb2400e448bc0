"""TPC-H-shape headline queries.

Presto's own benchmark suite is built on these shapes (reference
presto-benchmark/.../BenchmarkSuite.java:36-96 — hand-coded and SQL
TPC-H Q1/Q6; presto-benchto-benchmarks/.../sql/presto/tpch/*.sql for
the full set). Dates are adapted to the fixture range (1995-2001,
FIXTURES.md).

Plan shapes to note (checked via .explain in tests):
  - q6: scan -> pushed filters -> partial/final agg. Filters reach the
    parquet scan (PushedFilters), projection prunes to 4 columns.
  - q3/q5: dimension sides are broadcast (customer/nation/region are
    tiny at every SF); the lineitem-orders join shuffles on orderkey —
    at 100 TB that is the single big exchange, and bucketing both
    tables on orderkey removes it entirely.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from presto_0_235_spark.catalog import load_table
from presto_0_235_spark.functions.compat import (
    MONEY_SCALE,
    _scaled_long_sql,
    dec_avg,
    dec_sum,
    oracle_dec_avg,
    oracle_dec_sum,
)
from presto_0_235_spark.queries.registry import register

_Q1_ORACLE = f"""
SELECT
  l_returnflag,
  l_linestatus,
  {oracle_dec_sum('l_quantity', 'sum_qty')},
  {oracle_dec_sum('l_extendedprice', 'sum_base_price')},
  {oracle_dec_sum('l_extendedprice * (1 - l_discount)', 'sum_disc_price')},
  {oracle_dec_sum('(l_extendedprice * (1 - l_discount)) * (1 + l_tax)',
                  'sum_charge')},
  {oracle_dec_avg('l_quantity', 'avg_qty')},
  {oracle_dec_avg('l_extendedprice', 'avg_price')},
  {oracle_dec_avg('l_discount', 'avg_disc')},
  COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2000-12-01'
GROUP BY l_returnflag, l_linestatus
"""


@register("tpch_q1", oracle=_Q1_ORACLE)
def tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q1 pricing summary: grouped aggregation with sums/avgs/count.

    Reference operators: HashAggregationOperator
    (MAIN/operator/HashAggregationOperator.java:47) with
    PARTIAL/FINAL split (SPI/plan/AggregationNode.java:280). Spark
    plans the identical two-phase HashAggregate automatically.
    """
    # No spread_scan here: with the scaled-long money sums
    # (functions/compat.py) the aggregation is cheap enough that a
    # repartition of the single-row-group fixture costs more than the
    # single-task partial agg it would parallelize. On real
    # multi-split data the scan parallelizes by itself.
    li = load_table(spark, sf_dir, "lineitem")
    # Scaled longs are projected ONCE below the aggregate: the
    # sum+avg pairs over the same measure would otherwise each
    # re-evaluate the CASE/FLOOR scaling per row (aggregate children
    # are not CSE'd), and the shared SUM(s_x) aggregate expressions
    # dedup to one buffer. Value-identical to aggregating
    # dec_sum/dec_avg directly: the per-row scaled long is the same
    # expression, integer SUM is order-independent, COUNT(s_x) ==
    # COUNT(x) (the CASE preserves NULL), and the final
    # CAST/divisions are spelled with the same literals.
    disc_price = "l_extendedprice * (1 - l_discount)"
    charge = f"({disc_price}) * (1 + l_tax)"
    scale = f"{float(MONEY_SCALE)}D"
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2000-12-01").cast("timestamp"))
        .select(
            "l_returnflag",
            "l_linestatus",
            F.expr(_scaled_long_sql("l_quantity")).alias("s_qty"),
            F.expr(_scaled_long_sql("l_extendedprice")).alias("s_price"),
            F.expr(_scaled_long_sql(disc_price)).alias("s_disc_price"),
            F.expr(_scaled_long_sql(charge)).alias("s_charge"),
            F.expr(_scaled_long_sql("l_discount")).alias("s_disc"),
        )
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.expr(f"CAST(SUM(s_qty) AS DOUBLE) / {scale}")
            .alias("sum_qty"),
            F.expr(f"CAST(SUM(s_price) AS DOUBLE) / {scale}")
            .alias("sum_base_price"),
            F.expr(f"CAST(SUM(s_disc_price) AS DOUBLE) / {scale}")
            .alias("sum_disc_price"),
            F.expr(f"CAST(SUM(s_charge) AS DOUBLE) / {scale}")
            .alias("sum_charge"),
            F.expr(
                f"CAST(SUM(s_qty) AS DOUBLE) / {scale} / COUNT(s_qty)"
            ).alias("avg_qty"),
            F.expr(
                f"CAST(SUM(s_price) AS DOUBLE) / {scale} / COUNT(s_price)"
            ).alias("avg_price"),
            F.expr(
                f"CAST(SUM(s_disc) AS DOUBLE) / {scale} / COUNT(s_disc)"
            ).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


_Q3_ORACLE = f"""
SELECT
  l_orderkey,
  {oracle_dec_sum('l_extendedprice * (1 - l_discount)', 'revenue')},
  CAST(o_orderdate AS DATE) AS orderdate,
  o_orderpriority
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-03-15'
  AND l_shipdate > TIMESTAMP '1998-03-15'
GROUP BY l_orderkey, CAST(o_orderdate AS DATE), o_orderpriority
ORDER BY revenue DESC, orderdate, l_orderkey
LIMIT 10
"""


@register("tpch_q3", oracle=_Q3_ORACLE)
def tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q3 shipping priority: 3-way join + grouped agg + top-N.

    Reference operators: LookupJoinOperator/HashBuilderOperator
    (MAIN/operator/LookupJoinOperator.java:53), TopNOperator
    (MAIN/operator/TopNOperator.java:35). Spark: broadcast hash join
    for customer (small side), shuffle join lineitem-orders, then
    TakeOrderedAndProject for the ORDER BY+LIMIT.
    """
    cutoff = F.lit("1998-03-15").cast("timestamp")
    cust = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < cutoff
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > cutoff
    )
    revenue = "l_extendedprice * (1 - l_discount)"
    # No broadcast hint on customer: the BUILDING segment grows
    # linearly with SF, so a hard-coded hint would force a multi-GB
    # broadcast at 100x and override the cost-based choice Spark/AQE
    # makes at runtime (the decision Presto takes in
    # DetermineJoinDistributionType.java). At small SF AQE still
    # converts this to a broadcast join via autoBroadcastJoinThreshold
    # (pinned by tests/test_plans.py).
    return (
        li.join(
            orders, li.l_orderkey == orders.o_orderkey
        )
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy(
            "l_orderkey",
            F.col("o_orderdate").cast("date").alias("orderdate"),
            "o_orderpriority",
        )
        .agg(dec_sum(revenue, "revenue"))
        .select("l_orderkey", "revenue", "orderdate", "o_orderpriority")
        .orderBy(F.desc("revenue"), "orderdate", "l_orderkey")
        .limit(10)
    )


_Q5_ORACLE = f"""
SELECT
  n_name,
  {oracle_dec_sum('l_extendedprice * (1 - l_discount)', 'revenue')}
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1998-01-01'
GROUP BY n_name
ORDER BY revenue DESC, n_name
"""


@register("tpch_q5", oracle=_Q5_ORACLE)
def tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q5 local supplier volume: 6-way join through the star schema.

    The classic CBO showcase (reference ReorderJoins.java,
    DetermineJoinDistributionType.java). Spark: region/nation/supplier/
    customer broadcast; the orders-lineitem join is the only shuffle.
    """
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(
        F.col("r_name") == "ASIA"
    )
    revenue = "l_extendedprice * (1 - l_discount)"
    # customer and supplier grow with SF — no hard broadcast hints
    # (AQE decides size-aware at runtime); nation/region are bounded
    # (25/5 rows at any SF) and keep explicit hints.
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(
            supp,
            (li.l_suppkey == supp.s_suppkey)
            & (cust.c_nationkey == supp.s_nationkey),
        )
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(dec_sum(revenue, "revenue"))
        .orderBy(F.desc("revenue"), "n_name")
    )


_Q6_ORACLE = f"""
SELECT
  {oracle_dec_sum('l_extendedprice * l_discount', 'revenue')}
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
"""


@register("tpch_q6", oracle=_Q6_ORACLE)
def tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q6 forecasting revenue change — the flagship scan-filter-agg.

    Reference operators: ScanFilterAndProjectOperator
    (MAIN/operator/ScanFilterAndProjectOperator.java:57) fused with
    AggregationOperator (MAIN/operator/AggregationOperator.java:35).
    Spark fuses the same pipeline in one WholeStageCodegen stage; the
    range/between filters push to the parquet scan (PushedFilters).
    """
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & F.col("l_discount").between(0.05, 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(dec_sum("l_extendedprice * l_discount", "revenue"))
    )


_Q18_ORACLE = f"""
SELECT
  c_name, c_custkey, o_orderkey,
  CAST(o_orderdate AS DATE) AS orderdate,
  o_totalprice,
  {oracle_dec_sum('l_quantity', 'sum_qty')}
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
WHERE o_orderkey IN (
  SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
  HAVING SUM(l_quantity) > 300
)
GROUP BY c_name, c_custkey, o_orderkey, CAST(o_orderdate AS DATE), o_totalprice
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 100
"""


@register("tpch_q18", oracle=_Q18_ORACLE)
def tpch_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q18 large-volume customer: agg subquery feeding a semi join.

    Reference: HashSemiJoinOperator (MAIN/operator/
    HashSemiJoinOperator.java:32) over an aggregated build side.
    """
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("q"))
        .filter(F.col("q") > 300)
        # Fresh name: `big` is joined back against lineitem below, and
        # a shared attribute id would make that a self-join Spark has
        # to disambiguate.
        .select(F.col("l_orderkey").alias("big_orderkey"))
    )
    # The >300-quantity order-key set is a fixed FRACTION of orders
    # (~4e-5: tens of keys at SF1, thousands at 100x), so it grows
    # linearly with SF. It stays broadcast-small in practice — AQE's
    # runtime size check will still broadcast it — but a hard-coded
    # hint pins a planning decision that should stay size-based, so
    # none is given. The cost-based analog in the reference is
    # DetermineJoinDistributionType.java (never an unconditional hint).
    filtered_orders = orders.join(
        big, orders.o_orderkey == big.big_orderkey, "left_semi"
    ).join(cust, F.col("o_custkey") == cust.c_custkey)
    # Semi-filter lineitem by the big-order key set BEFORE the probe
    # join (guide §3.2: reduce the big side before it moves). Without
    # this, Spark's static size estimate (lineitem pruned to 2
    # columns < the post-join filtered_orders estimate) picks
    # lineitem as the BROADCAST side of the final join — wrong at
    # every scale (measured: the final plan broadcast all ~600k
    # lineitem rows at sf0.1). With it, both join inputs are
    # key-pruned to the ~4e-5 big-order fraction and the broadcast
    # side is genuinely small whichever one the planner picks.
    # `big` feeds both semi joins; the duplicated agg subtree is two
    # cheap 3-task partial-agg stages (measured) — the variant that
    # rewires the orders semi through li_big's keys to evaluate the
    # agg once was measured SLOWER in a fresh session (1.65 s vs
    # 1.16 s best-total: one more AQE job round and a third lineitem
    # scan). Result set is unchanged by the extra semi: the inner
    # join against filtered_orders already restricts lineitem to
    # exactly those order keys.
    li_big = li.select("l_orderkey", "l_quantity").join(
        big, F.col("l_orderkey") == big.big_orderkey, "left_semi"
    )
    return (
        li_big.join(
            filtered_orders,
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        .groupBy(
            "c_name",
            "c_custkey",
            "o_orderkey",
            F.col("o_orderdate").cast("date").alias("orderdate"),
            "o_totalprice",
        )
        .agg(dec_sum("l_quantity", "sum_qty"))
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(100)
    )
