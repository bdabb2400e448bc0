"""Window function queries (SURVEY.md §2.5).

Every ORDER BY inside a window spec includes a unique tiebreak column
so ntile/row_number/frame contents are deterministic across engines —
Presto itself makes no intra-ties ordering promise, so this is a
differential-testing constraint, not a semantics change.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from presto_0_235_spark.catalog import load_table
from presto_0_235_spark.functions.compat import MONEY
from presto_0_235_spark.operators.window import spec, top_n_per_group
from presto_0_235_spark.queries.registry import register


@register(
    "win_topn_per_group",
    oracle="""
SELECT * FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         ROW_NUMBER() OVER (
           PARTITION BY o_custkey
           ORDER BY o_totalprice DESC, o_orderkey
         ) AS rn
  FROM orders
) WHERE rn <= 3
""",
)
def win_topn_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders per customer: the TopNRowNumberOperator pattern
    (TopNRowNumberOperator.java:38 / WindowFilterPushDown.java;
    Spark: InferWindowGroupLimit window-group-limit pushdown)."""
    return top_n_per_group(
        load_table(spark, sf_dir, "orders").select(
            "o_custkey", "o_orderkey", "o_totalprice"
        ),
        partition_by=["o_custkey"],
        order_by=[("o_totalprice", "desc"), ("o_orderkey", "asc")],
        n=3,
    )


@register(
    "win_ranking",
    oracle="""
SELECT l_orderkey, l_linenumber, l_quantity,
       RANK() OVER w AS rnk,
       DENSE_RANK() OVER w AS drnk,
       ROW_NUMBER() OVER (
         PARTITION BY l_returnflag ORDER BY l_quantity DESC,
         l_orderkey, l_linenumber
       ) AS rn
FROM lineitem
WHERE l_orderkey < 1000
WINDOW w AS (PARTITION BY l_returnflag ORDER BY l_quantity DESC)
""",
)
def win_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rank / dense_rank / row_number (RankFunction.java,
    DenseRankFunction.java, RowNumberFunction.java)."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_orderkey") < 1000
    )
    w_ties = spec(["l_returnflag"], [("l_quantity", "desc")])
    w_uniq = spec(
        ["l_returnflag"],
        [("l_quantity", "desc"), ("l_orderkey", "asc"), ("l_linenumber", "asc")],
    )
    return li.select(
        "l_orderkey",
        "l_linenumber",
        "l_quantity",
        F.rank().over(w_ties).alias("rnk"),
        F.dense_rank().over(w_ties).alias("drnk"),
        F.row_number().over(w_uniq).alias("rn"),
    )


@register(
    "win_distribution",
    oracle="""
SELECT o_orderkey,
       PERCENT_RANK() OVER w AS pct_rank,
       CUME_DIST() OVER w AS cdist,
       NTILE(4) OVER w AS quartile
FROM orders
WHERE o_custkey < 100
WINDOW w AS (ORDER BY o_totalprice, o_orderkey)
""",
)
def win_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percent_rank / cume_dist / ntile
    (PercentRankFunction.java, CumulativeDistributionFunction.java,
    NTileFunction.java)."""
    w = Window.orderBy(
        F.col("o_totalprice").asc_nulls_last(),
        F.col("o_orderkey").asc_nulls_last(),
    )
    return (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_custkey") < 100)
        .select(
            "o_orderkey",
            F.percent_rank().over(w).alias("pct_rank"),
            F.cume_dist().over(w).alias("cdist"),
            F.ntile(4).over(w).alias("quartile"),
        )
    )


@register(
    "win_lag_lead",
    oracle="""
SELECT o_custkey, o_orderkey,
       CAST(o_orderdate AS DATE) AS odate,
       CAST(LAG(o_orderdate, 1) OVER w AS DATE) AS prev_date,
       CAST(LEAD(o_orderdate, 1) OVER w AS DATE) AS next_date,
       LAG(o_totalprice, 2, -1.0) OVER w AS prev2_price
FROM orders
WHERE o_custkey < 200
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
""",
)
def win_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag / lead with offsets and defaults (LagFunction.java,
    LeadFunction.java)."""
    w = spec(["o_custkey"], [("o_orderdate", "asc"), ("o_orderkey", "asc")])
    return (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_custkey") < 200)
        .select(
            "o_custkey",
            "o_orderkey",
            F.col("o_orderdate").cast("date").alias("odate"),
            F.lag("o_orderdate", 1).over(w).cast("date").alias("prev_date"),
            F.lead("o_orderdate", 1).over(w).cast("date").alias("next_date"),
            F.lag("o_totalprice", 2, -1.0).over(w).alias("prev2_price"),
        )
    )


@register(
    "win_value_functions",
    oracle="""
SELECT o_custkey, o_orderkey,
       FIRST_VALUE(o_orderkey) OVER w AS first_ok,
       LAST_VALUE(o_orderkey) OVER w AS last_ok,
       NTH_VALUE(o_orderkey, 2) OVER w AS second_ok,
       FIRST_VALUE(NULLIF(o_orderstatus, 'O') IGNORE NULLS) OVER w
         AS first_closed
FROM orders
WHERE o_custkey < 100
WINDOW w AS (
  PARTITION BY o_custkey ORDER BY o_orderkey
  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
)
""",
)
def win_value_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first_value / last_value / nth_value incl. IGNORE NULLS
    (FirstValueFunction.java, LastValueFunction.java,
    NthValueFunction.java) over a full-partition ROWS frame."""
    w = (
        spec(["o_custkey"], [("o_orderkey", "asc")])
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    status = F.nullif(F.col("o_orderstatus"), F.lit("O"))
    return (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_custkey") < 100)
        .select(
            "o_custkey",
            "o_orderkey",
            F.first("o_orderkey").over(w).alias("first_ok"),
            F.last("o_orderkey").over(w).alias("last_ok"),
            F.nth_value("o_orderkey", 2).over(w).alias("second_ok"),
            F.first(status, ignorenulls=True).over(w).alias("first_closed"),
        )
    )


@register(
    "win_running_agg",
    oracle="""
SELECT o_custkey, o_orderkey,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) OVER (
         PARTITION BY o_custkey ORDER BY o_orderkey
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ) AS DOUBLE) AS running_total,
       COUNT(*) OVER (
         PARTITION BY o_custkey ORDER BY o_orderkey
         ROWS BETWEEN 2 PRECEDING AND CURRENT ROW
       ) AS n_window
FROM orders
WHERE o_custkey < 200
""",
)
def win_running_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregates as window functions over ROWS frames
    (AggregateWindowFunction.java; FrameInfo.java:25). The running
    money sum goes through DECIMAL so every prefix is exact."""
    w_run = spec(["o_custkey"], [("o_orderkey", "asc")]).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_slide = spec(["o_custkey"], [("o_orderkey", "asc")]).rowsBetween(
        -2, Window.currentRow
    )
    return (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_custkey") < 200)
        .select(
            "o_custkey",
            "o_orderkey",
            F.sum(F.col("o_totalprice").cast(MONEY))
            .over(w_run)
            .cast("double")
            .alias("running_total"),
            F.count("*").over(w_slide).alias("n_window"),
        )
    )


@register(
    "win_range_frame",
    oracle="""
SELECT o_orderkey, o_custkey,
       COUNT(*) OVER (
         PARTITION BY o_orderstatus ORDER BY o_custkey
         RANGE BETWEEN 50 PRECEDING AND CURRENT ROW
       ) AS n_near
FROM orders
WHERE o_orderkey % 20 = 0
""",
)
def win_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE k PRECEDING frame — beyond-reference: Presto 0.235
    rejects bounded RANGE frames (StatementAnalyzer.java:1513-1515);
    Spark's rangeBetween supports them natively."""
    w = (
        Window.partitionBy("o_orderstatus")
        .orderBy(F.col("o_custkey").asc_nulls_last())
        .rangeBetween(-50, Window.currentRow)
    )
    return (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 20 == 0)
        .select(
            "o_orderkey",
            "o_custkey",
            F.count("*").over(w).alias("n_near"),
        )
    )


@register(
    "win_range_time_interval",
    oracle="""
SELECT event_id, user_id, ts,
       count(*) OVER (
         PARTITION BY user_id ORDER BY CAST(epoch(ts) AS BIGINT)
         RANGE BETWEEN 7200 PRECEDING AND CURRENT ROW
       ) AS n_2h,
       CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER (
         PARTITION BY user_id ORDER BY CAST(epoch(ts) AS BIGINT)
         RANGE BETWEEN 7200 PRECEDING AND CURRENT ROW
       ) AS DOUBLE) AS sum_2h
FROM events
WHERE user_id < 30
""",
)
def win_range_time_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-valued RANGE frame: trailing 2-hour window per user.
    The reference analyzer REJECTS `RANGE k PRECEDING`
    (StatementAnalyzer.java:1513-1515) — Spark's rangeBetween over
    event-time seconds is strictly more general (SURVEY.md §2.5
    note), so this entry documents the superset with an exact
    oracle (both engines frame over the same truncated epoch
    seconds — interval frames on full-precision timestamps would
    disagree on sub-second boundary rows). Decimal hop: frame sums
    are order-dependent doubles otherwise."""
    from pyspark.sql import Window

    events = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 30)
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_timestamp("ts"))
        .rangeBetween(-7200, 0)
    )
    return events.select(
        "event_id",
        "user_id",
        "ts",
        F.count("*").over(w).alias("n_2h"),
        F.sum(F.col("value").cast("decimal(18,6)"))
        .over(w)
        .cast("double")
        .alias("sum_2h"),
    )
