"""Extended TPC-H coverage: q7/q8/q10/q13/q14/q15/q17/q19/q22 shapes.

The reference benchmarks the full TPC-H set
(presto-benchto-benchmarks/.../sql/presto/tpch/*.sql); these are the
queries expressible over the driver's reduced fixture schemas
(FIXTURES.md drops partsupp, l_commitdate/receiptdate/shipmode,
p_container, c_phone; literals are adapted to the synthetic value
domains, e.g. NATION_3/NATION_7, p_type='PROMO'). q4/q12/q21's
EXISTS / anti-join / conditional-count SHAPES survive the missing
columns — they are registered as *_adapted with the late-delivery
predicates mapped onto surviving columns (l_returnflag = 'R' stands
in for commitdate < receiptdate) — and q2/q11/q16/q20's
partsupp-dependent shapes are recovered by deriving the
part<->supplier bridge from lineitem (see the partsupp-shape
recovery section at the bottom of this module). All 22 TPC-H plan
shapes are now covered: 15 full + 7 adapted.

Plan shapes these pin down beyond q1/q3/q5/q6/q18:
  - q7/q8: multi-way star joins with two roles for nation (self-alias)
  - q10: join + group + top-k with wide grouping keys
  - q13: LEFT join + two-level aggregation (count distribution)
  - q14: conditional aggregation ratio
  - q15: aggregate -> max-of-aggregate scalar subquery
  - q17: correlated scalar subquery against the same fact table
  - q19: disjunction-of-conjunctions join predicate (OR'd bands)
  - q22: anti join + scalar subquery threshold
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from presto_0_235_spark.catalog import load_table
from presto_0_235_spark.functions.compat import dec_sum, oracle_dec_sum
from presto_0_235_spark.queries.registry import register

_REV = "l_extendedprice * (1 - l_discount)"


@register(
    "tpch_q7",
    oracle=f"""
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       CAST(year(l_shipdate) AS INT) AS l_year,
       {oracle_dec_sum(_REV, 'revenue')}
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation n1 ON s_nationkey = n1.n_nationkey
JOIN nation n2 ON c_nationkey = n2.n_nationkey
WHERE ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7')
    OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3'))
  AND l_shipdate BETWEEN TIMESTAMP '1995-01-01' AND TIMESTAMP '1996-12-31'
GROUP BY 1, 2, 3
""",
)
def tpch_q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q7 volume shipping: nation plays two roles (supplier side and
    customer side) — a self-aliased dimension joined twice, both
    broadcast (25 rows, SF-invariant). customer/supplier carry NO
    hint: they grow with SF, so the size-based planner / AQE decides
    (reference: DetermineJoinDistributionType.java chooses by cost,
    never by fiat). Disjunctive nation-pair filter evaluated after
    both joins (reference: JoinFilterFunction residual predicates)."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate").between("1995-01-01", "1996-12-31 00:00:00")
    )
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    n1 = nation.select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    pair = (
        (F.col("supp_nation") == "NATION_3") & (F.col("cust_nation") == "NATION_7")
    ) | (
        (F.col("supp_nation") == "NATION_7") & (F.col("cust_nation") == "NATION_3")
    )
    revenue = _REV
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(n1), supp.s_nationkey == F.col("n1_key"))
        .join(F.broadcast(n2), cust.c_nationkey == F.col("n2_key"))
        .filter(pair)
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("int").alias("l_year"),
        )
        .agg(dec_sum(revenue, "revenue"))
    )


@register(
    "tpch_q8",
    oracle=f"""
WITH flows AS (
  SELECT CAST(year(o_orderdate) AS INT) AS o_year,
         l_extendedprice * (1 - l_discount) AS volume,
         n2.n_name AS supp_nation
  FROM lineitem
  JOIN part ON l_partkey = p_partkey
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation n1 ON c_nationkey = n1.n_nationkey
  JOIN region ON n1.n_regionkey = r_regionkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation n2 ON s_nationkey = n2.n_nationkey
  WHERE r_name = 'AMERICA' AND p_type = 'PROMO'
    AND o_orderdate BETWEEN TIMESTAMP '1995-01-01' AND TIMESTAMP '1996-12-31'
)
SELECT o_year,
       CAST(SUM(CAST(CASE WHEN supp_nation = 'NATION_1' THEN volume
                          ELSE 0 END AS DECIMAL(18,6))) AS DOUBLE)
         / CAST(SUM(CAST(volume AS DECIMAL(18,6))) AS DOUBLE) AS mkt_share
FROM flows
GROUP BY o_year
""",
)
def tpch_q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q8 national market share: 8-way join, nation twice, ratio of
    conditional to total volume per year (FILTER-style conditional
    aggregation — reference ImplementFilteredAggregations).
    part/customer/supplier grow with SF — no broadcast hints on them;
    only nation/region (bounded 25/5 rows) are pinned. At sf0.01 AQE
    still broadcasts the small sides on its own (plan test)."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate").between("1995-01-01", "1996-12-31 00:00:00")
    )
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "AMERICA")
    n1 = nation.select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_regionkey").alias("n1_region")
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("supp_nation")
    )
    volume = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    flows = (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(n1), cust.c_nationkey == F.col("n1_key"))
        .join(F.broadcast(region), F.col("n1_region") == region.r_regionkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(n2), supp.s_nationkey == F.col("n2_key"))
        .select(
            F.year("o_orderdate").cast("int").alias("o_year"),
            volume.alias("volume"),
            "supp_nation",
        )
    )
    nat_vol = F.when(F.col("supp_nation") == "NATION_1", F.col("volume")).otherwise(
        F.lit(0.0)
    )
    return flows.groupBy("o_year").agg(
        (
            F.sum(nat_vol.cast("decimal(18,6)")).cast("double")
            / F.sum(F.col("volume").cast("decimal(18,6)")).cast("double")
        ).alias("mkt_share")
    )


@register(
    "tpch_q10",
    oracle=f"""
SELECT c_custkey, c_name, {oracle_dec_sum(_REV, 'revenue')},
       c_acctbal, n_name
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN nation ON c_nationkey = n_nationkey
WHERE o_orderdate >= TIMESTAMP '1996-10-01'
  AND o_orderdate < TIMESTAMP '1997-01-01'
  AND l_returnflag = 'R'
GROUP BY c_custkey, c_name, c_acctbal, n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
""",
)
def tpch_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q10 returned items: join + wide-key grouping + top-20
    (TopNOperator over aggregated output; grouping keys carry
    customer attributes). customer grows with SF — no broadcast hint
    (the r2 tpch_q.py rule); nation (25 rows) keeps its hint."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-10-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    nation = load_table(spark, sf_dir, "nation")
    revenue = _REV
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(dec_sum(revenue, "revenue"))
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


@register(
    "tpch_q13",
    oracle="""
SELECT c_count, count(*) AS custdist
FROM (
  SELECT c_custkey, count(o_orderkey) AS c_count
  FROM customer
  LEFT JOIN orders ON c_custkey = o_custkey
                   AND o_orderpriority <> '1-URGENT'
  GROUP BY c_custkey
) t
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
""",
)
def tpch_q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q13 customer distribution: LEFT join with a residual predicate
    + two-level aggregation (count per customer, then histogram of
    counts)."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    per_cust = (
        cust.join(
            orders,
            (cust.c_custkey == orders.o_custkey)
            & (orders.o_orderpriority != "1-URGENT"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


@register(
    "tpch_q14",
    oracle="""
SELECT 100.0 * CAST(SUM(CAST(CASE WHEN p_type = 'PROMO'
                                  THEN l_extendedprice * (1 - l_discount)
                                  ELSE 0 END AS DECIMAL(18,6))) AS DOUBLE)
             / CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                             AS DECIMAL(18,6))) AS DOUBLE) AS promo_revenue
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1996-06-01'
  AND l_shipdate < TIMESTAMP '1996-07-01'
""",
)
def tpch_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q14 promotion effect: conditional-aggregation ratio over a
    part join (CASE inside SUM — filtered aggregation). part grows
    with SF — no broadcast hint, AQE decides."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-06-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-07-01").cast("timestamp"))
    )
    part = load_table(spark, sf_dir, "part")
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type") == "PROMO", revenue).otherwise(F.lit(0.0))
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .agg(
            (
                F.lit(100.0)
                * F.sum(promo.cast("decimal(18,6)")).cast("double")
                / F.sum(revenue.cast("decimal(18,6)")).cast("double")
            ).alias("promo_revenue")
        )
    )


@register(
    "tpch_q15",
    oracle=f"""
WITH revenue0 AS (
  SELECT l_suppkey AS supplier_no, {oracle_dec_sum(_REV, 'total_revenue')}
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate < TIMESTAMP '1996-04-01'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, total_revenue
FROM supplier JOIN revenue0 ON s_suppkey = supplier_no
WHERE total_revenue = (SELECT max(total_revenue) FROM revenue0)
ORDER BY s_suppkey
""",
)
def tpch_q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q15 top supplier: aggregate view + max-of-aggregate scalar
    subquery (EnforceSingleRow over the scalar; equality on the
    decimal-hopped revenue is exact, so the tie set is
    deterministic)."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    supp = load_table(spark, sf_dir, "supplier")
    revenue = _REV
    revenue0 = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        dec_sum(revenue, "total_revenue")
    )
    max_rev = revenue0.agg(F.max("total_revenue").alias("m"))
    return (
        supp.join(revenue0, supp.s_suppkey == revenue0.supplier_no)
        .join(F.broadcast(max_rev), F.col("total_revenue") == F.col("m"))
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


@register(
    "tpch_q17",
    oracle="""
SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) / 7.0
         AS avg_yearly
FROM lineitem
JOIN part ON p_partkey = l_partkey
WHERE p_brand = 'Brand#13'
  AND l_quantity < (
    SELECT 0.2 * avg(l_quantity) FROM lineitem l2
    WHERE l2.l_partkey = lineitem.l_partkey
  )
""",
)
def tpch_q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q17 small-quantity-order revenue: correlated scalar subquery
    against the same fact table — decorrelated to an aggregate+join
    (reference TransformCorrelatedScalarAggregationToJoin). The
    Brand#13 filter is pushed INTO the correlated aggregate: lineitem
    is first semi-joined to the filtered part keys (p_partkey is
    unique, so the semi join equals the original inner join), and
    only then aggregated per part — shrinking the aggregate's shuffle
    to ~4% of lineitem (the reference achieves the same via
    PredicatePushDown.java equality inference). Per-part averages are
    unchanged because the aggregate groups by the same key the filter
    selects on. No broadcast hints: both the filtered keys and the
    per-part aggregate grow with SF; AQE broadcasts them at small SF
    (plan test). avg is over integer-valued quantities per part; the
    0.2*avg threshold compare is exact on both engines."""
    li = load_table(spark, sf_dir, "lineitem")
    part_keys = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_brand") == "Brand#13")
        .select("p_partkey")
    )
    li_brand = li.join(part_keys, li.l_partkey == part_keys.p_partkey, "left_semi")
    per_part = li_brand.groupBy(F.col("l_partkey").alias("ap_partkey")).agg(
        (F.lit(0.2) * F.avg("l_quantity")).alias("qty_threshold")
    )
    return (
        li_brand.join(per_part, li_brand.l_partkey == F.col("ap_partkey"))
        .filter(F.col("l_quantity") < F.col("qty_threshold"))
        .agg(
            (F.sum(F.col("l_extendedprice").cast("decimal(18,6)")).cast("double") / 7.0)
            .alias("avg_yearly")
        )
    )


@register(
    "tpch_q19",
    oracle=f"""
SELECT {oracle_dec_sum(_REV, 'revenue')}
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
       AND l_quantity >= 1 AND l_quantity <= 11)
   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25
       AND l_quantity >= 10 AND l_quantity <= 20)
   OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 35
       AND l_quantity >= 20 AND l_quantity <= 30)
""",
)
def tpch_q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q19 discounted revenue: disjunction-of-conjunctions predicate
    spanning both join sides — the classic OR'd-bands residual filter
    (reference: nested-loop fallback avoided because the equi-key
    p_partkey=l_partkey still drives a hash join; the OR bands stay a
    post-join filter). part grows with SF — no broadcast hint."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    q = F.col("l_quantity")
    band = (
        ((F.col("p_brand") == "Brand#12") & F.col("p_size").between(1, 15)
         & (q >= 1) & (q <= 11))
        | ((F.col("p_brand") == "Brand#23") & F.col("p_size").between(1, 25)
           & (q >= 10) & (q <= 20))
        | ((F.col("p_brand") == "Brand#34") & F.col("p_size").between(1, 35)
           & (q >= 20) & (q <= 30))
    )
    revenue = _REV
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .filter(band)
        .agg(dec_sum(revenue, "revenue"))
    )


@register(
    "tpch_q22",
    oracle="""
WITH rich AS (
  SELECT c_custkey, c_acctbal, CAST(c_nationkey % 10 AS VARCHAR) AS cntrycode
  FROM customer
  WHERE c_acctbal > (
    SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0.0
  )
)
SELECT cntrycode, count(*) AS numcust,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE) AS totacctbal
FROM rich
WHERE NOT EXISTS (
  SELECT 1 FROM orders
  WHERE o_custkey = rich.c_custkey
    AND o_orderpriority = '1-URGENT' AND o_totalprice > 100000
)
GROUP BY cntrycode
ORDER BY cntrycode
""",
)
def tpch_q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q22 global sales opportunity: scalar-subquery threshold +
    anti join (NOT EXISTS -> left_anti) + grouped aggregation.
    Adapted: cntrycode = nationkey%10 (fixtures drop c_phone) and the
    anti-join condition is 'no urgent large order' (every fixture
    customer has *some* order, so the literal q22 form is empty)."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    avg_bal = cust.filter(F.col("c_acctbal") > 0.0).agg(
        F.avg("c_acctbal").alias("threshold")
    )
    rich = (
        cust.join(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("threshold"))
        .select(
            "c_custkey",
            "c_acctbal",
            (F.col("c_nationkey") % 10).cast("string").alias("cntrycode"),
        )
    )
    urgent_big = orders.filter(
        (F.col("o_orderpriority") == "1-URGENT")
        & (F.col("o_totalprice") > 100000)
    )
    no_orders = rich.join(
        urgent_big, rich.c_custkey == urgent_big.o_custkey, "left_anti"
    )
    return (
        no_orders.groupBy("cntrycode")
        .agg(
            F.count("*").alias("numcust"),
            F.sum(F.col("c_acctbal").cast("decimal(18,6)"))
            .cast("double")
            .alias("totacctbal"),
        )
        .orderBy("cntrycode")
    )


@register(
    "tpch_q9",
    oracle=f"""
SELECT n_name AS nation, CAST(year(o_orderdate) AS INT) AS o_year,
       {oracle_dec_sum(_REV, 'profit')}
FROM lineitem
JOIN part ON p_partkey = l_partkey
JOIN supplier ON s_suppkey = l_suppkey
JOIN orders ON o_orderkey = l_orderkey
JOIN nation ON s_nationkey = n_nationkey
WHERE p_name LIKE '%red%'
GROUP BY n_name, CAST(year(o_orderdate) AS INT)
""",
)
def tpch_q9(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q9 product-type profit (adapted: fixtures drop ps_supplycost,
    so profit = discounted revenue): 5-way join filtered by a LIKE
    predicate on part, grouped by supplier nation x order year.
    part/supplier grow with SF — no broadcast hints; nation (25 rows)
    keeps its hint. AQE broadcasts the small sides at small SF."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(F.col("p_name").like("%red%"))
    supp = load_table(spark, sf_dir, "supplier")
    orders = load_table(spark, sf_dir, "orders")
    nation = load_table(spark, sf_dir, "nation")
    revenue = _REV
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("int").alias("o_year"),
        )
        .agg(dec_sum(revenue, "profit"))
    )


@register(
    "tpch_q4_adapted",
    oracle="""
SELECT o_orderpriority, count(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1996-10-01'
  AND EXISTS (
    SELECT 1 FROM lineitem
    WHERE l_orderkey = o_orderkey AND l_returnflag = 'R'
  )
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""",
)
def tpch_q4_adapted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q4 order-priority checking (benchto tpch/q04.sql): date-window
    scan + EXISTS semi join + grouped count. Adapted: the late-
    delivery predicate l_commitdate < l_receiptdate (columns dropped
    by the fixtures) maps to l_returnflag = 'R'; the plan shape —
    SemiJoinNode over the fact table, then count per priority — is
    exactly the reference's."""
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-10-01").cast("timestamp"))
    )
    flagged = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag") == "R"
    ).select("l_orderkey")
    return (
        orders.join(
            flagged, orders.o_orderkey == flagged.l_orderkey, "left_semi"
        )
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
        .orderBy("o_orderpriority")
    )


@register(
    "tpch_q12_adapted",
    oracle="""
SELECT l_linestatus,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM orders
JOIN lineitem ON o_orderkey = l_orderkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate < TIMESTAMP '1997-01-01'
GROUP BY l_linestatus
ORDER BY l_linestatus
""",
)
def tpch_q12_adapted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q12 shipping modes & priority (benchto tpch/q12.sql): fact-fact
    join + the signature conditional-count split on order priority.
    Adapted: grouped by l_linestatus (fixtures drop l_shipmode) and
    windowed on l_shipdate (commit/receipt dates dropped); the
    high/low priority CASE aggregation is verbatim."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
        .orderBy("l_linestatus")
    )


@register(
    "tpch_q21_adapted",
    oracle="""
SELECT s_name, count(*) AS numwait
FROM supplier
JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
JOIN orders ON o_orderkey = l1.l_orderkey
WHERE o_orderstatus = 'F'
  AND l1.l_returnflag = 'R'
  AND EXISTS (
    SELECT 1 FROM lineitem l2
    WHERE l2.l_orderkey = l1.l_orderkey
      AND l2.l_suppkey <> l1.l_suppkey
  )
  AND NOT EXISTS (
    SELECT 1 FROM lineitem l3
    WHERE l3.l_orderkey = l1.l_orderkey
      AND l3.l_suppkey <> l1.l_suppkey
      AND l3.l_returnflag = 'R'
  )
GROUP BY s_name
ORDER BY numwait DESC, s_name
LIMIT 100
""",
)
def tpch_q21_adapted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q21 suppliers who kept orders waiting (benchto tpch/q21.sql) —
    the hardest TPC-H shape: one fact table in three roles, an EXISTS
    semi join AND a NOT EXISTS anti join, both correlated on
    (same order, different supplier). Adapted: 'late' maps to
    l_returnflag = 'R' (receipt/commit dates dropped). The
    correlated-with-inequality EXISTS lowers to semi/anti joins on
    compound conditions — Presto plans the same via SemiJoinNode +
    correlated-scalar decorrelation."""
    supp = load_table(spark, sf_dir, "supplier")
    orders_f = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F"
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_returnflag"
    )
    l1 = li.filter(F.col("l_returnflag") == "R").alias("l1")
    l2 = li.alias("l2")
    l3 = li.filter(F.col("l_returnflag") == "R").alias("l3")
    waiting = (
        l1.join(
            l2,
            (F.col("l2.l_orderkey") == F.col("l1.l_orderkey"))
            & (F.col("l2.l_suppkey") != F.col("l1.l_suppkey")),
            "left_semi",
        )
        .join(
            l3,
            (F.col("l3.l_orderkey") == F.col("l1.l_orderkey"))
            & (F.col("l3.l_suppkey") != F.col("l1.l_suppkey")),
            "left_anti",
        )
    )
    return (
        waiting.join(orders_f, F.col("l1.l_orderkey") == orders_f.o_orderkey)
        .join(supp, F.col("l1.l_suppkey") == supp.s_suppkey)
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(100)
    )


# ---------------------------------------------------------------------------
# partsupp-shape recovery: q2 / q11 / q16 / q20
#
# The driver fixtures drop the partsupp table, but every plan shape
# those four queries pin down survives if the part<->supplier bridge
# is DERIVED from lineitem: ps(partkey, suppkey, supplycost :=
# min(l_extendedprice)) is a deterministic, exact (double min)
# emulation with the same keys and the same join topology. The
# literals are adapted to the synthetic value domains; the SHAPES —
# correlated scalar MIN (q2), agg-vs-global-scalar HAVING (q11),
# distinct-count + NOT IN (q16), IN-over-grouped-HAVING (q20) — are
# exactly the reference's (benchto tpch/q02,q11,q16,q20.sql).
# ---------------------------------------------------------------------------

_PS_CTE = """
WITH ps AS (
  SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
         min(l_extendedprice) AS ps_supplycost
  FROM lineitem GROUP BY 1, 2
)
"""


@register(
    "tpch_q2_adapted",
    oracle=_PS_CTE
    + """
SELECT s_acctbal, s_name, n_name, p_partkey, ps_suppkey, ps_supplycost
FROM part
JOIN ps ON p_partkey = ps_partkey
JOIN supplier ON s_suppkey = ps_suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE p_size <= 10 AND p_type = 'LARGE' AND r_name = 'EUROPE'
  AND ps_supplycost = (
    SELECT min(ps2.ps_supplycost)
    FROM ps ps2
    JOIN supplier s2 ON s2.s_suppkey = ps2.ps_suppkey
    JOIN nation n2 ON s2.s_nationkey = n2.n_nationkey
    JOIN region r2 ON n2.n_regionkey = r2.r_regionkey
    WHERE ps2.ps_partkey = p_partkey AND r2.r_name = 'EUROPE'
  )
ORDER BY s_acctbal DESC, n_name, s_name, p_partkey, ps_suppkey
LIMIT 100
""",
)
def tpch_q2_adapted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q2 minimum-cost supplier (benchto tpch/q02.sql) — the classic
    correlated scalar-MIN subquery. Presto decorrelates it via
    TransformCorrelatedScalarAggregationToJoin; the Spark-first
    lowering is the same algebra: aggregate min(cost) per part over
    the region-filtered bridge, then equi-join back on
    (partkey, cost). Adapted: partsupp := lineitem-derived bridge
    (min extendedprice per (partkey, suppkey) — exact double min,
    engine-identical); EUROPE region kept from the original.

    Scale: the bridge and its min-aggregate shuffle on partkey — one
    uniform key; region/nation broadcast (bounded); no correlated
    per-row re-execution anywhere (the subquery runs ONCE as an agg).
    """
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(
        (F.col("p_size") <= 10) & (F.col("p_type") == "LARGE")
    )
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(
        F.col("r_name") == "EUROPE"
    )
    ps = li.groupBy(
        F.col("l_partkey").alias("ps_partkey"),
        F.col("l_suppkey").alias("ps_suppkey"),
    ).agg(F.min("l_extendedprice").alias("ps_supplycost"))
    # Region-filtered bridge: suppliers in EUROPE only.
    eu = (
        ps.join(supp, ps.ps_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    )
    # Decorrelated scalar subquery: min cost per part over the EU bridge.
    min_cost = eu.groupBy(F.col("ps_partkey").alias("mc_partkey")).agg(
        F.min("ps_supplycost").alias("mc_cost")
    )
    return (
        eu.join(
            min_cost,
            (F.col("ps_partkey") == F.col("mc_partkey"))
            & (F.col("ps_supplycost") == F.col("mc_cost")),
        )
        .join(part, F.col("ps_partkey") == part.p_partkey)
        .select(
            "s_acctbal", "s_name", "n_name",
            "p_partkey", "ps_suppkey", "ps_supplycost",
        )
        .orderBy(
            F.desc("s_acctbal"), "n_name", "s_name", "p_partkey", "ps_suppkey"
        )
        .limit(100)
    )


@register(
    "tpch_q11_adapted",
    oracle="""
WITH val AS (
  SELECT l_partkey,
         SUM(CAST(round(l_extendedprice * 1000000) AS BIGINT)) AS v_scaled
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  WHERE n_name = 'NATION_7'
  GROUP BY l_partkey
)
SELECT l_partkey,
       CAST(v_scaled AS DOUBLE) / 1000000.0 AS part_value
FROM val
WHERE v_scaled * 1000 > (SELECT SUM(v_scaled) FROM val)
ORDER BY part_value DESC, l_partkey
""",
)
def tpch_q11_adapted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q11 important stock identification (benchto tpch/q11.sql):
    grouped aggregate filtered against a GLOBAL scalar aggregate of
    itself (HAVING sum > fraction * total). Adapted: stock value :=
    lineitem extendedprice through NATION_7 suppliers (fixtures drop
    partsupp/ps_availqty); fraction 0.001.

    Exactness: the fraction comparison runs entirely on scaled longs
    (v_scaled * 1000 > total_scaled) — exact integer arithmetic,
    identical on both engines; the float division to part_value
    happens only at projection (see functions/compat.py MONEY_SCALE).

    Scale: one shuffle on l_partkey for the agg; the global total is
    a single-row broadcast (Presto plans the same via an
    EnforceSingleRow + replicated join); no per-row re-aggregation.
    """
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation").filter(
        F.col("n_name") == "NATION_7"
    )
    val = (
        li.join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .groupBy("l_partkey")
        .agg(
            F.sum(
                F.round(F.col("l_extendedprice") * 1_000_000).cast("long")
            ).alias("v_scaled")
        )
    )
    total = val.agg(F.sum("v_scaled").alias("total_scaled"))
    return (
        val.join(F.broadcast(total))
        .filter(F.col("v_scaled") * 1000 > F.col("total_scaled"))
        .select(
            "l_partkey",
            (F.col("v_scaled").cast("double") / 1_000_000.0).alias(
                "part_value"
            ),
        )
        .orderBy(F.desc("part_value"), "l_partkey")
    )


@register(
    "tpch_q16_adapted",
    oracle="""
SELECT p_brand, p_type, p_size,
       count(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE p_brand <> 'Brand#4'
  AND p_type <> 'MEDIUM'
  AND p_size IN (1, 9, 14, 19, 23, 36, 45, 49)
  AND l_suppkey NOT IN (
    SELECT s_suppkey FROM supplier WHERE s_acctbal < 0
  )
GROUP BY p_brand, p_type, p_size
ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
""",
)
def tpch_q16_adapted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q16 parts/supplier relationship (benchto tpch/q16.sql):
    NOT IN anti-join + count(DISTINCT) over wide grouping keys.
    Adapted: the supplier-complaints LIKE predicate (comment column
    dropped) maps to s_acctbal < 0 — same excluded-supplier-set
    shape; bridge via lineitem instead of partsupp.

    Scale: the anti side (negative-balance suppliers) GROWS with SF —
    no broadcast hint (AQE broadcasts it at small SF, shuffles at
    100x; Presto's DetermineJoinDistributionType makes the same
    cost-based call); the distinct-count shuffles once on the
    grouping keys with partial distinct (MarkDistinct in the
    reference, partial agg in Spark).
    """
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#4")
        & (F.col("p_type") != "MEDIUM")
        & (F.col("p_size").isin(1, 9, 14, 19, 23, 36, 45, 49))
    )
    bad_supp = load_table(spark, sf_dir, "supplier").filter(
        F.col("s_acctbal") < 0
    ).select("s_suppkey")
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(bad_supp, li.l_suppkey == bad_supp.s_suppkey, "left_anti")
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct(F.col("l_suppkey")).alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size")
    )


@register(
    "tpch_q20_adapted",
    oracle="""
SELECT s_name, s_acctbal
FROM supplier
JOIN nation ON s_nationkey = n_nationkey
WHERE n_name = 'NATION_3'
  AND s_suppkey IN (
    SELECT l_suppkey
    FROM lineitem
    JOIN part ON l_partkey = p_partkey
    WHERE p_name LIKE 'small%'
      AND l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1997-01-01'
    GROUP BY l_suppkey
    HAVING sum(l_quantity) > 100
  )
ORDER BY s_name
""",
)
def tpch_q20_adapted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q20 potential part promotion (benchto tpch/q20.sql): IN over a
    grouped-HAVING subquery — suppliers whose shipped quantity of
    'small%' parts in 1996 exceeds a threshold. Adapted: quantity
    measured from lineitem (ps_availqty dropped); threshold is a
    constant (the original's 0.5 * correlated half-sum needs
    partsupp's independent availqty to be meaningful).

    Exactness: l_quantity is integral-valued — double sums are exact.

    Scale: the subquery aggregates on l_suppkey (uniform key, one
    shuffle), produces a supplier-bounded set that semi-joins the dim
    table — Presto plans the same SemiJoinNode; nation broadcasts.
    """
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation").filter(
        F.col("n_name") == "NATION_3"
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    part = load_table(spark, sf_dir, "part").filter(
        F.col("p_name").like("small%")
    )
    heavy = (
        li.join(part, li.l_partkey == part.p_partkey)
        .groupBy("l_suppkey")
        .agg(F.sum("l_quantity").alias("qty"))
        .filter(F.col("qty") > 100)
        .select("l_suppkey")
    )
    return (
        supp.join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(heavy, supp.s_suppkey == heavy.l_suppkey, "left_semi")
        .select("s_name", "s_acctbal")
        .orderBy("s_name")
    )
