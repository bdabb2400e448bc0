"""TPC-DS-shape coverage, adapted to the driver fixtures.

The reference ships the full TPC-DS q01-q99 corpus as a first-class
benchmark surface (presto-benchto-benchmarks/src/main/resources/sql/
presto/tpcds/*.sql); this module carries its REPRESENTATIVE PLAN
SHAPES onto the TPC-H-ish fixture tables, the same way
tpch_more_q.py adapts the partsupp-dependent TPC-H queries:

  - q3/q42/q52: date-dim x fact x item star rollup + top-k
    (date_dim -> orders carrying o_orderdate, item -> part)
  - q7: 4-way star with dimension-attribute filters + four AVGs
  - q19: brand rollup with a cross-dimension MISMATCH predicate
    (ca_zip <> s_zip becomes customer.nation <> supplier.nation)
  - q33: per-channel aggregate CTEs + UNION ALL + re-aggregate
    (store/catalog/web channels become order-priority bands)
  - q36: ROLLUP hierarchy + GROUPING() + rank() OVER within parent

Role mapping (fixtures have no date_dim/item/store tables —
FIXTURES.md): date_dim attributes (d_year/d_moy) derive from
o_orderdate; item attributes map p_brand <- i_brand, p_type <-
i_category, p_size bands <- i_manufact_id/i_manager_id; channels map
to o_orderpriority bands. Literals follow the synthetic fixture
domains (Brand#*, PROMO/STANDARD/..., 1-URGENT/...).

Money sums route through the fixed-point hop (functions/compat.py) so
every aggregate hash-matches its DuckDB oracle exactly; every LIMIT
carries a total ORDER BY.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from presto_0_235_spark.catalog import load_table
from presto_0_235_spark.functions.compat import (
    dec_avg,
    dec_sum,
    oracle_dec_avg,
    oracle_dec_sum,
)
from presto_0_235_spark.queries.registry import register
from presto_0_235_spark.session import local_rows


def _fact_dims(spark: SparkSession, sf_dir: str):
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    part = load_table(spark, sf_dir, "part")
    return li, orders, part


@register(
    "tpcds_q3_adapted",
    oracle=f"""
SELECT CAST(year(o_orderdate) AS INT) AS d_year,
       p_brand AS brand,
       {oracle_dec_sum('l_extendedprice', 'sum_agg')}
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN part ON l_partkey = p_partkey
WHERE month(o_orderdate) = 11 AND p_size = 28
GROUP BY 1, 2
ORDER BY d_year ASC, sum_agg DESC, brand ASC
LIMIT 100
""",
)
def tpcds_q3_adapted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS Q3 (tpcds/q03.sql): date-dim x store_sales x item star,
    dim-attribute filters (d_moy = 11, i_manufact_id), brand revenue
    by year, ORDER BY year, revenue DESC LIMIT. Fixture roles:
    orders carries the date dim (month(o_orderdate) = 11), part the
    item dim (p_size = 28 as the manufact-id selector). The plan
    shape is the TPC-DS signature: fact scan with two dim hash joins
    (both dims filter-reduced, so the size-based planner broadcasts
    them), two-phase agg, TakeOrderedAndProject."""
    li, orders, part = _fact_dims(spark, sf_dir)
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(part, li.l_partkey == part.p_partkey)
        .filter((F.month("o_orderdate") == 11) & (F.col("p_size") == 28))
        .groupBy(
            F.year("o_orderdate").cast("int").alias("d_year"),
            F.col("p_brand").alias("brand"),
        )
        .agg(dec_sum("l_extendedprice", "sum_agg"))
        .orderBy(F.col("d_year").asc(), F.col("sum_agg").desc(),
                 F.col("brand").asc())
        .limit(100)
    )


@register(
    "tpcds_q7_adapted",
    oracle=f"""
SELECT p_brand AS i_item_id,
       {oracle_dec_avg('l_quantity', 'agg1')},
       {oracle_dec_avg('p_retailprice', 'agg2')},
       {oracle_dec_avg('l_discount', 'agg3')},
       {oracle_dec_avg('l_extendedprice', 'agg4')}
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN part ON l_partkey = p_partkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND (o_orderpriority = '1-URGENT' OR o_orderpriority = '2-HIGH')
  AND year(o_orderdate) = 2000
GROUP BY 1
ORDER BY i_item_id ASC
""",
)
def tpcds_q7_adapted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS Q7 (tpcds/q07.sql): 4-way star (fact x demographics x
    date x item x promotion) with equality filters on demographic
    attributes, an OR'd promotion predicate, and FOUR AVG aggregates
    per item. Fixture roles: customer(c_mktsegment = 'BUILDING')
    stands in for customer_demographics, the o_orderpriority
    disjunction for the p_channel OR, year(o_orderdate) = 2000 for
    d_year. All four AVGs route through the fixed-point hop so the
    hash comparison is exact."""
    li, orders, part = _fact_dims(spark, sf_dir)
    cust = load_table(spark, sf_dir, "customer")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(part, li.l_partkey == part.p_partkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .filter(
            (F.col("c_mktsegment") == "BUILDING")
            & (
                (F.col("o_orderpriority") == "1-URGENT")
                | (F.col("o_orderpriority") == "2-HIGH")
            )
            & (F.year("o_orderdate") == 2000)
        )
        .groupBy(F.col("p_brand").alias("i_item_id"))
        .agg(
            dec_avg("l_quantity", "agg1"),
            dec_avg("p_retailprice", "agg2"),
            dec_avg("l_discount", "agg3"),
            dec_avg("l_extendedprice", "agg4"),
        )
        .orderBy(F.col("i_item_id").asc())
    )


@register(
    "tpcds_q19_adapted",
    oracle=f"""
SELECT p_brand AS brand, p_type AS manufact,
       {oracle_dec_sum('l_extendedprice', 'ext_price')}
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN part ON l_partkey = p_partkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
WHERE month(o_orderdate) = 11 AND year(o_orderdate) = 1998
  AND p_size BETWEEN 10 AND 20
  AND c_nationkey <> s_nationkey
GROUP BY 1, 2
ORDER BY ext_price DESC, brand ASC, manufact ASC
LIMIT 100
""",
)
def tpcds_q19_adapted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS Q19 (tpcds/q19.sql): brand revenue for one month with
    the signature CROSS-DIMENSION MISMATCH residual — the reference
    filters substr(ca_zip,1,5) <> substr(s_zip,1,5) (customer
    address vs store zip); the fixture analog is c_nationkey <>
    s_nationkey (customer nation differs from supplier nation). The
    inequality cannot be a join key, so it must plan as a residual
    filter on the joined row — the same JoinFilterFunction shape the
    reference compiles."""
    li, orders, part = _fact_dims(spark, sf_dir)
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(part, li.l_partkey == part.p_partkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .filter(
            (F.month("o_orderdate") == 11)
            & (F.year("o_orderdate") == 1998)
            & F.col("p_size").between(10, 20)
            & (cust.c_nationkey != supp.s_nationkey)
        )
        .groupBy(
            F.col("p_brand").alias("brand"), F.col("p_type").alias("manufact")
        )
        .agg(dec_sum("l_extendedprice", "ext_price"))
        .orderBy(
            F.col("ext_price").desc(), F.col("brand").asc(),
            F.col("manufact").asc(),
        )
        .limit(100)
    )


_CHANNELS = (
    ("ch_store", "o_orderpriority IN ('1-URGENT', '2-HIGH')"),
    ("ch_catalog", "o_orderpriority = '3-MEDIUM'"),
    ("ch_web", "o_orderpriority IN ('4-NOT SPECIFIED', '5-LOW')"),
)


@register(
    "tpcds_q33_adapted",
    oracle=f"""
WITH promo_brands AS (
  SELECT DISTINCT p_brand FROM part WHERE p_type = 'PROMO'
),
{", ".join(
    f'''{name} AS (
  SELECT p_brand, {oracle_dec_sum('l_extendedprice', 'total_sales')}
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN part ON l_partkey = p_partkey
  WHERE p_brand IN (SELECT p_brand FROM promo_brands)
    AND year(o_orderdate) = 1998 AND {pred}
  GROUP BY p_brand
)''' for name, pred in _CHANNELS)}
SELECT p_brand,
       CAST(SUM(CAST(round(total_sales * 1000000) AS BIGINT)) AS DOUBLE)
         / 1000000.0 AS total_sales
FROM (SELECT * FROM ch_store UNION ALL
      SELECT * FROM ch_catalog UNION ALL
      SELECT * FROM ch_web)
GROUP BY p_brand
ORDER BY total_sales DESC, p_brand ASC
LIMIT 100
""",
)
def tpcds_q33_adapted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS Q33 (tpcds/q33.sql): the three-channel pattern — one
    aggregate CTE per sales channel (store/catalog/web), each with an
    IN-subquery on the item dim (manufacturers of one category),
    UNION ALL, then re-aggregate the per-channel partials. Fixture
    roles: channels are o_orderpriority bands over the one fact
    table, the category IN-subquery selects the brands that have a
    PROMO part. The re-aggregate sums the (exact) channel partials on
    the same fixed-point grid so the final double is
    order-independent too. Plan: three branch aggregations feeding a
    Union, one final hash agg — the reference's
    exchange-under-union shape."""
    li, orders, part = _fact_dims(spark, sf_dir)
    promo_brands = (
        part.filter(F.col("p_type") == "PROMO").select("p_brand").distinct()
    )
    base = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(part, li.l_partkey == part.p_partkey)
        .join(F.broadcast(promo_brands), "p_brand", "left_semi")
        .filter(F.year("o_orderdate") == 1998)
    )
    channels = [
        base.filter(F.expr(pred))
        .groupBy("p_brand")
        .agg(dec_sum("l_extendedprice", "total_sales"))
        for _, pred in _CHANNELS
    ]
    unioned = channels[0].unionAll(channels[1]).unionAll(channels[2])
    scaled = F.round(F.col("total_sales") * 1_000_000).cast("long")
    return (
        unioned.groupBy("p_brand")
        .agg(
            (F.sum(scaled).cast("double") / F.lit(1_000_000.0)).alias(
                "total_sales"
            )
        )
        .orderBy(F.col("total_sales").desc(), F.col("p_brand").asc())
        .limit(100)
    )


@register(
    "tpcds_q36_adapted",
    oracle=f"""
WITH agg AS (
  SELECT p_type AS i_category, p_brand AS i_class,
         GROUPING(p_type) + GROUPING(p_brand) AS lochierarchy,
         GROUPING(p_brand) AS g_class,
         {oracle_dec_sum('l_extendedprice * (1 - l_discount)', 'net')},
         {oracle_dec_sum('l_extendedprice', 'gross')}
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
ORDER BY lochierarchy DESC,
         CASE WHEN lochierarchy = 0 THEN i_category END ASC NULLS FIRST,
         rank_within_parent ASC, i_category ASC NULLS FIRST,
         i_class ASC NULLS FIRST
""",
)
def tpcds_q36_adapted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS Q36 (tpcds/q36.sql): gross-margin ROLLUP hierarchy —
    GROUP BY ROLLUP(category, class), lochierarchy =
    GROUPING(category) + GROUPING(class), and rank() OVER a
    partition keyed by the grouping level (rank-within-parent). The
    one TPC-DS shape that composes grouping sets WITH window
    functions over the grouped output. Fixture roles: p_type is the
    category, p_brand the class. Both margin components go through
    the fixed-point hop and the rank's ORDER BY carries a total
    tiebreak, so ranks are deterministic on both engines."""
    from pyspark.sql import Window

    li, orders, part = _fact_dims(spark, sf_dir)
    net = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    grouped = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(part, li.l_partkey == part.p_partkey)
        .filter(F.year("o_orderdate") == 2001)
        .select(
            F.col("p_type").alias("i_category"),
            F.col("p_brand").alias("i_class"),
            net.alias("net_val"),
            F.col("l_extendedprice").alias("gross_val"),
        )
        .rollup("i_category", "i_class")
        .agg(
            (F.grouping("i_category") + F.grouping("i_class")).alias(
                "lochierarchy"
            ),
            F.grouping("i_class").alias("g_class"),
            dec_sum("net_val", "net"),
            dec_sum("gross_val", "gross"),
        )
    )
    w = Window.partitionBy(
        F.col("lochierarchy"),
        F.when(F.col("g_class") == 0, F.col("i_category")),
    ).orderBy(
        (F.col("net") / F.col("gross")).asc(),
        F.col("i_class").asc_nulls_first(),
    )
    return (
        grouped.select(
            F.round(F.col("net") / F.col("gross"), 9).alias("gross_margin"),
            "i_category", "i_class", "lochierarchy",
            F.rank().over(w).alias("rank_within_parent"),
        )
        .orderBy(
            F.col("lochierarchy").desc(),
            F.when(F.col("lochierarchy") == 0, F.col("i_category"))
            .asc_nulls_first(),
            F.col("rank_within_parent").asc(),
            F.col("i_category").asc_nulls_first(),
            F.col("i_class").asc_nulls_first(),
        )
    )


@register(
    "tpcds_q42_adapted",
    oracle=f"""
SELECT CAST(year(o_orderdate) AS INT) AS d_year,
       p_type AS i_category,
       {oracle_dec_sum('l_extendedprice', 'ext_price')}
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN part ON l_partkey = p_partkey
WHERE month(o_orderdate) = 11 AND year(o_orderdate) = 2000
  AND p_size < 15
GROUP BY 1, 2
ORDER BY ext_price DESC, d_year ASC, i_category ASC
LIMIT 100
""",
)
def tpcds_q42_adapted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS Q42 (tpcds/q42.sql): category revenue for one month of
    one year (d_moy = 11, d_year = 2000), ORDER BY revenue DESC
    first — the top-categories variant of the q3 star. p_type plays
    i_category, p_size < 15 the i_manager_id selector."""
    li, orders, part = _fact_dims(spark, sf_dir)
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(part, li.l_partkey == part.p_partkey)
        .filter(
            (F.month("o_orderdate") == 11)
            & (F.year("o_orderdate") == 2000)
            & (F.col("p_size") < 15)
        )
        .groupBy(
            F.year("o_orderdate").cast("int").alias("d_year"),
            F.col("p_type").alias("i_category"),
        )
        .agg(dec_sum("l_extendedprice", "ext_price"))
        .orderBy(
            F.col("ext_price").desc(), F.col("d_year").asc(),
            F.col("i_category").asc(),
        )
        .limit(100)
    )


@register(
    "tpcds_q52_adapted",
    oracle=f"""
SELECT CAST(year(o_orderdate) AS INT) AS d_year,
       p_brand AS brand,
       {oracle_dec_sum('l_extendedprice', 'ext_price')}
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN part ON l_partkey = p_partkey
WHERE month(o_orderdate) = 11 AND year(o_orderdate) = 2000
  AND p_type = 'STANDARD'
GROUP BY 1, 2
ORDER BY d_year ASC, ext_price DESC, brand ASC
LIMIT 100
""",
)
def tpcds_q52_adapted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS Q52 (tpcds/q52.sql): brand revenue for one month of one
    year — q3's sibling with the year pinned and ORDER BY year,
    revenue DESC, brand. p_type = 'STANDARD' plays the
    i_manager_id = 1 selector."""
    li, orders, part = _fact_dims(spark, sf_dir)
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(part, li.l_partkey == part.p_partkey)
        .filter(
            (F.month("o_orderdate") == 11)
            & (F.year("o_orderdate") == 2000)
            & (F.col("p_type") == "STANDARD")
        )
        .groupBy(
            F.year("o_orderdate").cast("int").alias("d_year"),
            F.col("p_brand").alias("brand"),
        )
        .agg(dec_sum("l_extendedprice", "ext_price"))
        .orderBy(
            F.col("d_year").asc(), F.col("ext_price").desc(),
            F.col("brand").asc(),
        )
        .limit(100)
    )


@register(
    "tpcds_q1_adapted",
    oracle=f"""
WITH ctr AS (
  SELECT c_custkey, c_nationkey,
         {oracle_dec_sum('l_extendedprice', 'ctr_total')}
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  WHERE l_returnflag = 'R' AND year(o_orderdate) = 1998
  GROUP BY c_custkey, c_nationkey
),
thresh AS (
  SELECT c_nationkey,
         CAST(SUM(CAST(round(ctr_total * 1000000) AS BIGINT)) AS DOUBLE)
           / 1000000.0 / COUNT(*) * 1.2 AS cutoff
  FROM ctr GROUP BY c_nationkey
)
SELECT c_name
FROM ctr
JOIN thresh ON ctr.c_nationkey = thresh.c_nationkey
JOIN customer ON ctr.c_custkey = customer.c_custkey
WHERE ctr_total > cutoff
ORDER BY c_name ASC
LIMIT 100
""",
)
def tpcds_q1_adapted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS Q1 (tpcds/q01.sql): the aggregate-CTE + CORRELATED
    scalar subquery shape — customers whose total returns exceed
    1.2x the average of their store's customers. Fixture roles:
    'returns' are l_returnflag = 'R' lineitems, the store grouping
    is the customer's nation. Implemented in the DECORRELATED form
    the reference's optimizer itself produces
    (TransformCorrelatedScalarAggregationToJoin.java): the per-group
    average joins back to the per-customer totals — one extra
    aggregate + broadcast-size join instead of a per-row subquery.
    The second-level average re-scales the (exact-grid) totals to
    longs so it is order-independent too."""
    li, orders, _ = _fact_dims(spark, sf_dir)
    cust = load_table(spark, sf_dir, "customer")
    ctr = (
        li.filter(F.col("l_returnflag") == "R")
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .filter(F.year("o_orderdate") == 1998)
        .groupBy("c_custkey", "c_nationkey")
        .agg(dec_sum("l_extendedprice", "ctr_total"))
    )
    scaled = F.round(F.col("ctr_total") * 1_000_000).cast("long")
    thresh = ctr.groupBy("c_nationkey").agg(
        (
            F.sum(scaled).cast("double") / F.lit(1_000_000.0)
            / F.count("*") * 1.2
        ).alias("cutoff")
    )
    return (
        ctr.join(thresh, "c_nationkey")
        .filter(F.col("ctr_total") > F.col("cutoff"))
        .join(
            cust.select("c_custkey", "c_name"), "c_custkey"
        )
        .select("c_name")
        .orderBy(F.col("c_name").asc())
        .limit(100)
    )


@register(
    "tpcds_q48_adapted",
    oracle=f"""
SELECT {oracle_dec_sum('l_quantity', 'quantity_total')}
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
WHERE year(o_orderdate) = 1999
  AND ((c_mktsegment = 'BUILDING'
        AND o_totalprice BETWEEN 10000 AND 100000)
    OR (c_mktsegment = 'MACHINERY'
        AND o_totalprice BETWEEN 50000 AND 200000)
    OR (c_mktsegment = 'AUTOMOBILE'
        AND o_totalprice BETWEEN 100000 AND 300000))
  AND ((s_nationkey IN (1, 3, 5) AND l_discount BETWEEN 0.00 AND 0.05)
    OR (s_nationkey IN (7, 9, 11) AND l_discount BETWEEN 0.02 AND 0.08)
    OR (s_nationkey IN (13, 15, 17) AND l_discount BETWEEN 0.04 AND 0.10))
""",
)
def tpcds_q48_adapted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS Q48 (tpcds/q48.sql): one global SUM gated by two
    independent OR-groups of (dimension-attribute AND fact-measure
    band) conjunctions — the disjunction-of-band-predicates shape
    (each OR arm pairs a demographic equality with a different price
    band; each address arm pairs a state set with a profit band).
    Fixture roles: customer market segment x order-price bands, and
    supplier nation sets x discount bands. The predicate cannot be
    pushed into either dimension alone — it must evaluate on the
    joined row, like the reference's residual filter."""
    li, orders, _ = _fact_dims(spark, sf_dir)
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    seg_band = (
        (
            (F.col("c_mktsegment") == "BUILDING")
            & F.col("o_totalprice").between(10000, 100000)
        )
        | (
            (F.col("c_mktsegment") == "MACHINERY")
            & F.col("o_totalprice").between(50000, 200000)
        )
        | (
            (F.col("c_mktsegment") == "AUTOMOBILE")
            & F.col("o_totalprice").between(100000, 300000)
        )
    )
    nat_band = (
        (F.col("s_nationkey").isin(1, 3, 5)
         & F.col("l_discount").between(0.00, 0.05))
        | (F.col("s_nationkey").isin(7, 9, 11)
           & F.col("l_discount").between(0.02, 0.08))
        | (F.col("s_nationkey").isin(13, 15, 17)
           & F.col("l_discount").between(0.04, 0.10))
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .filter((F.year("o_orderdate") == 1999) & seg_band & nat_band)
        .agg(dec_sum("l_quantity", "quantity_total"))
    )


_Q51_CHANNELS = (
    ("web", "o_orderpriority IN ('1-URGENT', '2-HIGH')"),
    ("store", "o_orderpriority NOT IN ('1-URGENT', '2-HIGH')"),
)


@register(
    "tpcds_q51_adapted",
    oracle=f"""
WITH {", ".join(
    f'''{name}_v1 AS (
  SELECT p_brand AS item, CAST(date_trunc('month', o_orderdate) AS DATE) AS mon,
         CAST(SUM(SUM(CAST(round(l_extendedprice * 1000000) AS BIGINT)))
              OVER (PARTITION BY p_brand
                    ORDER BY CAST(date_trunc('month', o_orderdate) AS DATE)
                    ROWS UNBOUNDED PRECEDING) AS DOUBLE) / 1000000.0
           AS cume_sales
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN part ON l_partkey = p_partkey
  WHERE {pred} AND year(o_orderdate) BETWEEN 1996 AND 1997
  GROUP BY p_brand, CAST(date_trunc('month', o_orderdate) AS DATE)
)''' for name, pred in _Q51_CHANNELS)}
SELECT item, mon, web_sales, store_sales,
       max(web_sales) OVER (PARTITION BY item ORDER BY mon
                            ROWS UNBOUNDED PRECEDING) AS web_cumulative,
       max(store_sales) OVER (PARTITION BY item ORDER BY mon
                              ROWS UNBOUNDED PRECEDING) AS store_cumulative
FROM (
  SELECT coalesce(web.item, store.item) AS item,
         coalesce(web.mon, store.mon) AS mon,
         web.cume_sales AS web_sales,
         store.cume_sales AS store_sales
  FROM web_v1 web
  FULL JOIN store_v1 store
    ON web.item = store.item AND web.mon = store.mon
)
""",
)
def tpcds_q51_adapted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS Q51 (tpcds/q51.sql): the cumulative-sales FULL-OUTER
    shape — per channel, a sum-over-sum window (aggregate then
    running cumulative per item); channels FULL JOIN on (item, date)
    with coalesced keys; then running MAX windows over the joined
    row. Exercises window-over-aggregate composition, full-outer key
    coalescing, and windows over a join output in one plan. Fixture
    roles: channels are order-priority bands, item is p_brand, the
    date axis is order month. Running money sums accumulate scaled
    longs (exact, order-independent) and convert to double once per
    row."""
    from pyspark.sql import Window

    li, orders, part = _fact_dims(spark, sf_dir)
    base = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(part, li.l_partkey == part.p_partkey)
        .filter(F.year("o_orderdate").between(1996, 1997))
        .select(
            F.col("p_brand").alias("item"),
            F.trunc("o_orderdate", "month").alias("mon"),
            F.col("o_orderpriority"),
            F.round(F.col("l_extendedprice") * 1_000_000)
            .cast("long")
            .alias("scaled"),
        )
    )

    def channel(pred):
        w = (
            Window.partitionBy("item")
            .orderBy("mon")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        return (
            base.filter(F.expr(pred))
            .groupBy("item", "mon")
            .agg(F.sum("scaled").alias("s"))
            .select(
                "item", "mon",
                (F.sum("s").over(w).cast("double") / 1_000_000.0).alias(
                    "cume_sales"
                ),
            )
        )

    web = channel(_Q51_CHANNELS[0][1])
    store = channel(_Q51_CHANNELS[1][1])
    joined = (
        web.alias("web")
        .join(
            store.alias("store"),
            (F.col("web.item") == F.col("store.item"))
            & (F.col("web.mon") == F.col("store.mon")),
            "full_outer",
        )
        .select(
            F.coalesce(F.col("web.item"), F.col("store.item")).alias("item"),
            F.coalesce(F.col("web.mon"), F.col("store.mon")).alias("mon"),
            F.col("web.cume_sales").alias("web_sales"),
            F.col("store.cume_sales").alias("store_sales"),
        )
    )
    w_max = (
        Window.partitionBy("item")
        .orderBy("mon")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return joined.select(
        "item", "mon", "web_sales", "store_sales",
        F.max("web_sales").over(w_max).alias("web_cumulative"),
        F.max("store_sales").over(w_max).alias("store_cumulative"),
    )


_Q88_BANDS = (
    ("h1", "l_quantity BETWEEN 1 AND 10",
     "o_orderpriority IN ('1-URGENT', '2-HIGH')"),
    ("h2", "l_quantity BETWEEN 11 AND 20",
     "o_orderpriority IN ('2-HIGH', '3-MEDIUM')"),
    ("h3", "l_quantity BETWEEN 21 AND 30",
     "o_orderpriority IN ('3-MEDIUM', '4-NOT SPECIFIED')"),
    ("h4", "l_quantity BETWEEN 31 AND 40",
     "o_orderpriority IN ('4-NOT SPECIFIED', '5-LOW')"),
)


@register(
    "tpcds_q88_adapted",
    oracle=f"""
SELECT {", ".join(f"{name}.n AS {name}" for name, _, _ in _Q88_BANDS)}
FROM {", ".join(
    f'''(SELECT count(*) AS n
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE {band} AND {prio} AND l_returnflag = 'N') {name}'''
    for name, band, prio in _Q88_BANDS)}
""",
)
def tpcds_q88_adapted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS Q88 (tpcds/q88.sql): N independent single-row COUNT
    subqueries (one per half-hour band in the reference) cross-joined
    into ONE wide result row — the multi-scalar-subquery plan shape
    (each subquery is its own aggregation subtree; the joins are
    single-row cartesians, the one place a cross join is exactly
    right). Fixture roles: quantity bands x order-priority sets play
    the time-of-day x household-demographics bands."""
    li, orders, _ = _fact_dims(spark, sf_dir)
    joined = li.join(orders, li.l_orderkey == orders.o_orderkey).filter(
        F.col("l_returnflag") == "N"
    )
    out = None
    for name, band, prio in _Q88_BANDS:
        c = (
            joined.filter(F.expr(band) & F.expr(prio))
            .agg(F.count("*").alias(name))
        )
        out = c if out is None else out.crossJoin(c)
    return out


@register(
    "tpcds_q34_adapted",
    oracle="""
WITH dn AS (
  SELECT o_orderkey AS ticket, o_custkey, count(*) AS cnt
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  WHERE (day(o_orderdate) BETWEEN 1 AND 3
         OR day(o_orderdate) BETWEEN 25 AND 28)
    AND (o_orderpriority = '1-URGENT' OR o_orderpriority = '5-LOW')
    AND year(o_orderdate) IN (1998, 1999, 2000)
  GROUP BY o_orderkey, o_custkey
)
SELECT c_name, ticket, cnt
FROM dn
JOIN customer ON o_custkey = c_custkey
WHERE cnt BETWEEN 4 AND 7
ORDER BY c_name ASC, ticket ASC
""",
)
def tpcds_q34_adapted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS Q34 (tpcds/q34.sql): the 'together buyers' shape — an
    inner aggregate counts items per (ticket, customer) under
    dimension filters (day-of-month bands, demographic OR), a
    HAVING-style band on the COUNT (cnt BETWEEN) gates which
    tickets survive, and the survivors join back to the customer
    dim for display columns. Fixture roles: o_orderkey is the
    ticket, lineitems are the scanned units, order-priority plays
    hd_buy_potential, day(o_orderdate) bands play d_dom. The plan
    signature is aggregate -> filter-on-aggregate -> dimension
    join, with the count band applied AFTER aggregation (not
    pushable)."""
    li, orders, _ = _fact_dims(spark, sf_dir)
    cust = load_table(spark, sf_dir, "customer")
    dn = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .filter(
            (
                F.dayofmonth("o_orderdate").between(1, 3)
                | F.dayofmonth("o_orderdate").between(25, 28)
            )
            & (
                (F.col("o_orderpriority") == "1-URGENT")
                | (F.col("o_orderpriority") == "5-LOW")
            )
            & F.year("o_orderdate").isin(1998, 1999, 2000)
        )
        .groupBy(
            F.col("o_orderkey").alias("ticket"), F.col("o_custkey")
        )
        .agg(F.count("*").alias("cnt"))
        .filter(F.col("cnt").between(4, 7))
    )
    return (
        dn.join(cust, dn.o_custkey == cust.c_custkey)
        .select("c_name", "ticket", "cnt")
        .orderBy(F.col("c_name").asc(), F.col("ticket").asc())
    )


@register(
    "tpcds_q97_adapted",
    oracle="""
WITH ssci AS (
  SELECT DISTINCT o_custkey AS customer_sk, l_partkey AS item_sk
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
    AND year(o_orderdate) BETWEEN 1996 AND 1997
),
csci AS (
  SELECT DISTINCT o_custkey AS customer_sk, l_partkey AS item_sk
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
    AND year(o_orderdate) BETWEEN 1996 AND 1997
)
SELECT
  CAST(SUM(CASE WHEN ssci.customer_sk IS NOT NULL
                 AND csci.customer_sk IS NULL THEN 1 ELSE 0 END)
       AS BIGINT) AS store_only,
  CAST(SUM(CASE WHEN ssci.customer_sk IS NULL
                 AND csci.customer_sk IS NOT NULL THEN 1 ELSE 0 END)
       AS BIGINT) AS catalog_only,
  CAST(SUM(CASE WHEN ssci.customer_sk IS NOT NULL
                 AND csci.customer_sk IS NOT NULL THEN 1 ELSE 0 END)
       AS BIGINT) AS store_and_catalog
FROM ssci
FULL JOIN csci ON ssci.customer_sk = csci.customer_sk
              AND ssci.item_sk = csci.item_sk
""",
)
def tpcds_q97_adapted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS Q97 (tpcds/q97.sql): channel-overlap census — per
    channel a DISTINCT (customer, item) pair set, FULL OUTER join
    on the composite key, then one row of three conditional counts
    (store-only / catalog-only / both). The signature is
    distinct-aggregate CTEs feeding a full-outer set comparison
    whose NULL-ness encodes set membership. Fixture channels are
    the urgent/non-urgent order-priority split."""
    li, orders, _ = _fact_dims(spark, sf_dir)
    base = li.join(orders, li.l_orderkey == orders.o_orderkey).filter(
        F.year("o_orderdate").between(1996, 1997)
    )
    urgent = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")

    def channel(pred):
        return (
            base.filter(pred)
            .select(
                F.col("o_custkey").alias("customer_sk"),
                F.col("l_partkey").alias("item_sk"),
            )
            .distinct()
        )

    ssci, csci = channel(urgent), channel(~urgent)
    j = ssci.alias("s").join(
        csci.alias("c"),
        (F.col("s.customer_sk") == F.col("c.customer_sk"))
        & (F.col("s.item_sk") == F.col("c.item_sk")),
        "full_outer",
    )
    s_k, c_k = F.col("s.customer_sk"), F.col("c.customer_sk")
    return j.agg(
        F.sum(
            F.when(s_k.isNotNull() & c_k.isNull(), 1).otherwise(0)
        ).cast("bigint").alias("store_only"),
        F.sum(
            F.when(s_k.isNull() & c_k.isNotNull(), 1).otherwise(0)
        ).cast("bigint").alias("catalog_only"),
        F.sum(
            F.when(s_k.isNotNull() & c_k.isNotNull(), 1).otherwise(0)
        ).cast("bigint").alias("store_and_catalog"),
    )


@register(
    "tpcds_q38_adapted",
    oracle="""
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
""",
)
def tpcds_q38_adapted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS Q38 (tpcds/q38.sql): COUNT(*) over the three-way
    INTERSECT of per-channel DISTINCT (customer, date) sets — the
    corpus's set-operation signature shape. Fixture roles: the three
    sales channels (store/catalog/web x date_dim x customer) become
    three order-priority bands joined to customer; the distinct key
    (c_last_name, c_first_name, d_date) becomes (c_name, year).
    Spark lowers each DISTINCT to a partial/final hash agg and the
    INTERSECT chain to left-semi joins over the deduped sets — no
    row explosion at any scale; the count is a single-row final
    agg."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")

    def channel(priority: str) -> DataFrame:
        return (
            orders.filter(F.col("o_orderpriority") == priority)
            .join(cust, orders.o_custkey == cust.c_custkey)
            .select(
                F.col("c_name"),
                F.year("o_orderdate").cast("int").alias("d_year"),
            )
            .distinct()
        )

    hot = (
        channel("1-URGENT")
        .intersect(channel("2-HIGH"))
        .intersect(channel("3-MEDIUM"))
    )
    return hot.agg(F.count(F.lit(1)).alias("cnt"))


@register(
    "tpcds_q65_adapted",
    oracle=f"""
WITH sa AS (
  SELECT l_suppkey, l_partkey,
         {oracle_dec_sum('l_extendedprice', 'revenue')}
  FROM lineitem
  WHERE year(l_shipdate) BETWEEN 1996 AND 1998
  GROUP BY l_suppkey, l_partkey
),
sb AS (
  SELECT l_suppkey, {oracle_dec_avg('revenue', 'ave')}
  FROM sa GROUP BY l_suppkey
)
SELECT s_name, p_name, sc.l_partkey AS item_sk, sc.revenue,
       p_retailprice, p_brand
FROM sa sc
JOIN sb ON sb.l_suppkey = sc.l_suppkey
JOIN supplier ON s_suppkey = sc.l_suppkey
JOIN part ON p_partkey = sc.l_partkey
WHERE sc.revenue <= 0.1 * sb.ave
ORDER BY s_name, p_name, item_sk
LIMIT 100
""",
)
def tpcds_q65_adapted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS Q65 (tpcds/q65.sql): two-level aggregation — revenue
    per (store, item), then avg revenue per store — joined back to
    find items selling at <= 0.1x their store's average, decorated
    with both dimension tables. Fixture roles: (ss_store_sk,
    ss_item_sk) -> (l_suppkey, l_partkey), store -> supplier,
    item -> part, d_month_seq window -> shipdate years 1996-1998.
    Plan: the (suppkey, partkey) aggregate feeds two consumers (the
    filter branch and the per-store average); Catalyst prunes their
    columns differently so the exchange would NOT be reused and the
    100 TB fact would be scanned and aggregated once per branch. The
    first-level aggregate is therefore persisted — it is
    |stores x items| sized, tiny next to the fact — so the plan shows
    ONE lineitem scan feeding an InMemoryRelation both branches read
    (the reference's CTE materialization for this query). The
    per-store average is broadcast back (aggregate-sized build
    side); supplier/part joins broadcast; TakeOrderedAndProject caps
    the output. The revenue-vs-average comparison runs on exact
    decimal-hopped doubles, so both engines branch identically."""
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    part = load_table(spark, sf_dir, "part")
    sa = (
        li.filter(F.year("l_shipdate").between(1996, 1998))
        .groupBy("l_suppkey", "l_partkey")
        .agg(dec_sum("l_extendedprice", "revenue"))
        .persist()
    )
    sb = sa.groupBy("l_suppkey").agg(dec_avg("revenue", "ave"))
    sc = sa.alias("sc")
    return (
        sc.join(
            sb.alias("sb"),
            F.col("sb.l_suppkey") == F.col("sc.l_suppkey"),
        )
        .filter(F.col("sc.revenue") <= 0.1 * F.col("sb.ave"))
        .join(supp, supp.s_suppkey == F.col("sc.l_suppkey"))
        .join(part, part.p_partkey == F.col("sc.l_partkey"))
        .select(
            "s_name", "p_name",
            F.col("sc.l_partkey").alias("item_sk"),
            F.col("sc.revenue").alias("revenue"),
            "p_retailprice", "p_brand",
        )
        .orderBy("s_name", "p_name", "item_sk")
        .limit(100)
    )


@register(
    "tpcds_q75_adapted",
    oracle=f"""
WITH sales_detail AS (
  SELECT CAST(year(o_orderdate) AS INT) AS d_year, p_brand,
         CASE WHEN l_returnflag = 'R' THEN -l_quantity
              ELSE l_quantity END AS net_qty,
         CASE WHEN l_returnflag = 'R' THEN -l_extendedprice
              ELSE l_extendedprice END AS net_amt
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN part ON l_partkey = p_partkey
  WHERE o_orderpriority IN ('1-URGENT', '2-HIGH', '3-MEDIUM')
),
all_sales AS (
  SELECT d_year, p_brand,
         CAST(SUM(CAST(net_qty AS BIGINT)) AS BIGINT) AS sales_cnt,
         {oracle_dec_sum('net_amt', 'sales_amt')}
  FROM sales_detail
  GROUP BY d_year, p_brand
)
SELECT prev_yr.d_year AS prev_year, curr_yr.d_year AS d_year,
       curr_yr.p_brand AS brand,
       prev_yr.sales_cnt AS prev_yr_cnt,
       curr_yr.sales_cnt AS curr_yr_cnt,
       curr_yr.sales_cnt - prev_yr.sales_cnt AS sales_cnt_diff,
       round(curr_yr.sales_amt - prev_yr.sales_amt, 4) AS sales_amt_diff
FROM all_sales curr_yr
JOIN all_sales prev_yr
  ON curr_yr.p_brand = prev_yr.p_brand
 AND curr_yr.d_year = prev_yr.d_year + 1
WHERE CAST(curr_yr.sales_cnt AS DOUBLE)
      / CAST(prev_yr.sales_cnt AS DOUBLE) < 0.9
  AND prev_yr.sales_cnt > 0
ORDER BY sales_cnt_diff, brand, d_year
LIMIT 100
""",
)
def tpcds_q75_adapted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS Q75 (tpcds/q75.sql): year-over-year decline report —
    per-channel sales netted of returns, re-aggregated per
    (year, brand), then the aggregate SELF-JOINED on
    curr.year = prev.year + 1 to keep brands whose unit count fell
    below 0.9x. Fixture roles: the three channels with
    cs_quantity - COALESCE(cr_return_quantity, 0) netting become
    priority-band orders with 'R'-flagged lineitems entering
    negatively; (d_year, i_brand) -> (year(o_orderdate), p_brand).
    Plan: one shuffle builds all_sales (small: years x brands), the
    self-join runs on that aggregate — broadcastable at any fact
    scale because the join input is the AGGREGATE, not the fact.
    all_sales is persisted so the 100 TB fact chain is scanned and
    aggregated ONCE; without it Catalyst prunes the two self-join
    sides differently and re-runs the whole chain per side."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    part = load_table(spark, sf_dir, "part")
    sign = F.when(F.col("l_returnflag") == "R", F.lit(-1.0)).otherwise(
        F.lit(1.0)
    )
    detail = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(part, li.l_partkey == part.p_partkey)
        .filter(
            F.col("o_orderpriority").isin(
                "1-URGENT", "2-HIGH", "3-MEDIUM"
            )
        )
        .select(
            F.year("o_orderdate").cast("int").alias("d_year"),
            "p_brand",
            (sign * F.col("l_quantity")).alias("net_qty"),
            (sign * F.col("l_extendedprice")).alias("net_amt"),
        )
    )
    all_sales = detail.groupBy("d_year", "p_brand").agg(
        F.sum(F.col("net_qty").cast("bigint")).alias("sales_cnt"),
        dec_sum("net_amt", "sales_amt"),
    ).persist()
    curr, prev = all_sales.alias("curr"), all_sales.alias("prev")
    return (
        curr.join(
            prev,
            (F.col("curr.p_brand") == F.col("prev.p_brand"))
            & (F.col("curr.d_year") == F.col("prev.d_year") + 1),
        )
        .filter(
            (
                F.col("curr.sales_cnt").cast("double")
                / F.col("prev.sales_cnt").cast("double")
                < 0.9
            )
            & (F.col("prev.sales_cnt") > 0)
        )
        .select(
            F.col("prev.d_year").alias("prev_year"),
            F.col("curr.d_year").alias("d_year"),
            F.col("curr.p_brand").alias("brand"),
            F.col("prev.sales_cnt").alias("prev_yr_cnt"),
            F.col("curr.sales_cnt").alias("curr_yr_cnt"),
            (F.col("curr.sales_cnt") - F.col("prev.sales_cnt")).alias(
                "sales_cnt_diff"
            ),
            F.round(
                F.col("curr.sales_amt") - F.col("prev.sales_amt"), 4
            ).alias("sales_amt_diff"),
        )
        .orderBy("sales_cnt_diff", "brand", "d_year")
        .limit(100)
    )


@register(
    "tpcds_q17_adapted",
    oracle=f"""
WITH ss AS (
  SELECT l_suppkey AS sk, o_custkey AS ck, l_quantity AS qty
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE l_returnflag <> 'R' AND month(o_orderdate) BETWEEN 1 AND 6
),
sr AS (
  SELECT l_suppkey AS sk, o_custkey AS ck, l_quantity AS qty
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE l_returnflag = 'R'
),
cs AS (
  SELECT l_suppkey AS sk, o_custkey AS ck, l_quantity AS qty
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE l_returnflag <> 'R' AND month(o_orderdate) BETWEEN 7 AND 12
)
SELECT s_name,
       CAST(count(ss.qty) AS BIGINT) AS ss_cnt,
       {oracle_dec_avg('ss.qty', 'ss_avg')},
       round(stddev_samp(ss.qty), 6) AS ss_std,
       CAST(count(sr.qty) AS BIGINT) AS sr_cnt,
       {oracle_dec_avg('sr.qty', 'sr_avg')},
       round(stddev_samp(sr.qty), 6) AS sr_std,
       CAST(count(cs.qty) AS BIGINT) AS cs_cnt,
       {oracle_dec_avg('cs.qty', 'cs_avg')},
       round(stddev_samp(cs.qty), 6) AS cs_std
FROM ss
JOIN sr ON ss.sk = sr.sk AND ss.ck = sr.ck
JOIN cs ON ss.sk = cs.sk AND ss.ck = cs.ck
JOIN supplier ON s_suppkey = ss.sk
GROUP BY s_name
ORDER BY s_name
LIMIT 100
""",
)
def tpcds_q17_adapted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS Q17 (tpcds/q17.sql): the triple-fact chain —
    store_sales -> store_returns -> catalog_sales joined on shared
    (customer, item), then per-item count/avg/stddev of each fact's
    quantity (the 'quantity variability across a return cycle'
    report). Fixture roles: the three facts become lineitem slices
    (first-half-year sales, 'R'-flag returns, second-half-year
    repurchases) keyed by (l_suppkey, o_custkey) — the
    supplier/customer pair recurs enough in the fixtures to populate
    the chain, where (part, customer) is empty; the quarter
    constraints (d_quarter_name = '2001Q1'...) become the month
    bands; item/state grouping becomes s_name. Plan: all three
    slices shuffle once on the SAME (sk, ck) composite key, so the
    two fact-fact joins co-partition with zero extra exchanges —
    the property that keeps this shape viable at 100 TB; the
    supplier dim broadcasts; avgs ride the exact decimal hop and
    stddevs round at 1e-6 (fp noise is 1e-12 on O(25) quantities).
    Single-row groups: Spark yields NaN for stddev_samp(n=1) where
    ANSI engines yield NULL — normalized to NULL, matching the
    reference (VarianceAggregation.java output for count < 2)."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    supp = load_table(spark, sf_dir, "supplier")

    def fact(flag_r: bool, lo: int = None, hi: int = None) -> DataFrame:
        cond = (
            (F.col("l_returnflag") == "R")
            if flag_r
            else (F.col("l_returnflag") != "R")
        )
        df = li.join(orders, li.l_orderkey == orders.o_orderkey).filter(
            cond
        )
        if lo is not None:
            df = df.filter(F.month("o_orderdate").between(lo, hi))
        return df.select(
            F.col("l_suppkey").alias("sk"),
            F.col("o_custkey").alias("ck"),
            F.col("l_quantity").alias("qty"),
        )

    def std6(col: str, alias: str):
        s = F.round(F.stddev_samp(col), 6)
        return F.when(~F.isnan(s), s).alias(alias)

    ss = fact(False, 1, 6).alias("ss")
    sr = fact(True).alias("sr")
    cs = fact(False, 7, 12).alias("cs")
    joined = (
        ss.join(
            sr,
            (F.col("ss.sk") == F.col("sr.sk"))
            & (F.col("ss.ck") == F.col("sr.ck")),
        )
        .join(
            cs,
            (F.col("ss.sk") == F.col("cs.sk"))
            & (F.col("ss.ck") == F.col("cs.ck")),
        )
        .join(supp, supp.s_suppkey == F.col("ss.sk"))
    )
    return (
        joined.groupBy("s_name")
        .agg(
            F.count("ss.qty").alias("ss_cnt"),
            dec_avg("ss.qty", "ss_avg"),
            std6("ss.qty", "ss_std"),
            F.count("sr.qty").alias("sr_cnt"),
            dec_avg("sr.qty", "sr_avg"),
            std6("sr.qty", "sr_std"),
            F.count("cs.qty").alias("cs_cnt"),
            dec_avg("cs.qty", "cs_avg"),
            std6("cs.qty", "cs_std"),
        )
        .orderBy("s_name")
        .limit(100)
    )


@register(
    "tpcds_q93_adapted",
    oracle=f"""
WITH returns_agg AS (
  SELECT l_orderkey AS ok, l_partkey AS pk,
         CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS ret_qty
  FROM lineitem WHERE l_returnflag = 'R'
  GROUP BY l_orderkey, l_partkey
),
net AS (
  SELECT o_custkey,
         l_quantity - COALESCE(ret_qty, 0) AS act_qty
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  LEFT JOIN returns_agg ON ok = l_orderkey AND pk = l_partkey
  WHERE l_returnflag <> 'R'
)
SELECT o_custkey, {oracle_dec_sum('act_qty', 'sumact')}
FROM net
GROUP BY o_custkey
ORDER BY sumact, o_custkey
LIMIT 100
""",
)
def tpcds_q93_adapted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS Q93 (tpcds/q93.sql): sales LEFT JOIN returns with
    conditional quantity netting — actual quantity is
    ss_quantity - sr_return_quantity where a matching return exists,
    summed per customer, lowest-activity customers first. Fixture
    roles: store_returns becomes the 'R'-flag lineitem slice
    PRE-AGGREGATED per (orderkey, partkey) (store_returns is
    uniquely keyed by (item, ticket) — the pre-agg restores that
    uniqueness so the left join never fans out), the reason-code
    filter becomes the flag split. Plan: returns_agg and the sales
    side shuffle on the same (orderkey, partkey) key; the per-customer
    re-agg is the only further exchange; TakeOrderedAndProject caps
    output. Netting can push a customer negative — kept, as the
    reference keeps negative actuals."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    returns_agg = (
        li.filter(F.col("l_returnflag") == "R")
        .groupBy(
            F.col("l_orderkey").alias("ok"),
            F.col("l_partkey").alias("pk"),
        )
        .agg(F.sum(F.col("l_quantity").cast("bigint")).alias("ret_qty"))
    )
    net = (
        li.filter(F.col("l_returnflag") != "R")
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(
            returns_agg,
            (F.col("ok") == F.col("l_orderkey"))
            & (F.col("pk") == F.col("l_partkey")),
            "left",
        )
        .select(
            "o_custkey",
            (
                F.col("l_quantity")
                - F.coalesce(F.col("ret_qty"), F.lit(0))
            ).alias("act_qty"),
        )
    )
    return (
        net.groupBy("o_custkey")
        .agg(dec_sum("act_qty", "sumact"))
        .orderBy("sumact", "o_custkey")
        .limit(100)
    )


@register(
    "tpcds_q31_adapted",
    oracle=f"""
WITH ss AS (
  SELECT c_nationkey AS nation, month(o_orderdate) AS moy,
         {oracle_dec_sum('l_extendedprice', 'amt')}
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  WHERE year(o_orderdate) = 1997
    AND o_orderpriority IN ('1-URGENT', '2-HIGH')
    AND month(o_orderdate) IN (1, 2, 3)
  GROUP BY 1, 2
),
ws AS (
  SELECT c_nationkey AS nation, month(o_orderdate) AS moy,
         {oracle_dec_sum('l_extendedprice', 'amt')}
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  WHERE year(o_orderdate) = 1997
    AND o_orderpriority IN ('4-NOT SPECIFIED', '5-LOW')
    AND month(o_orderdate) IN (1, 2, 3)
  GROUP BY 1, 2
)
SELECT ss1.nation,
       round(ss2.amt / ss1.amt, 9) AS store_g1,
       round(ss3.amt / ss2.amt, 9) AS store_g2,
       round(ws2.amt / ws1.amt, 9) AS web_g1,
       round(ws3.amt / ws2.amt, 9) AS web_g2
FROM ss ss1 JOIN ss ss2 ON ss1.nation = ss2.nation AND ss2.moy = 2
            JOIN ss ss3 ON ss1.nation = ss3.nation AND ss3.moy = 3
            JOIN ws ws1 ON ss1.nation = ws1.nation AND ws1.moy = 1
            JOIN ws ws2 ON ss1.nation = ws2.nation AND ws2.moy = 2
            JOIN ws ws3 ON ss1.nation = ws3.nation AND ws3.moy = 3
WHERE ss1.moy = 1 AND ss1.amt > 0 AND ss2.amt > 0
  AND ws1.amt > 0 AND ws2.amt > 0
  AND ws2.amt / ws1.amt > ss2.amt / ss1.amt
ORDER BY ss1.nation
""",
)
def tpcds_q31_adapted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS Q31 (tpcds/q31.sql): the chained-self-join growth
    comparison — store and web sales aggregated per (county,
    quarter), then SIX instances of the two aggregates joined on
    county across three consecutive quarters, keeping counties whose
    web growth outpaced store growth. Fixture roles: county ->
    customer nation, the two channels -> priority bands, quarters ->
    months 1-3 of 1997. Plan: the two aggregates are tiny
    (nations x months), so all five growth joins broadcast off the
    first — aggregate-sized exchanges regardless of fact scale; the
    ratio comparisons run on exact decimal-hopped sums, so both
    engines branch identically. Each channel aggregate feeds THREE
    join instances, so both are persisted — otherwise Catalyst
    re-runs the 100 TB fact chain once per instance (six scans)."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")

    def channel(priorities) -> DataFrame:
        return (
            li.join(orders, li.l_orderkey == orders.o_orderkey)
            .join(cust, orders.o_custkey == cust.c_custkey)
            .filter(
                (F.year("o_orderdate") == 1997)
                & F.col("o_orderpriority").isin(*priorities)
                & F.month("o_orderdate").isin(1, 2, 3)
            )
            .groupBy(
                F.col("c_nationkey").alias("nation"),
                F.month("o_orderdate").alias("moy"),
            )
            .agg(dec_sum("l_extendedprice", "amt"))
        )

    ss = channel(["1-URGENT", "2-HIGH"]).persist()
    ws = channel(["4-NOT SPECIFIED", "5-LOW"]).persist()

    def pick(df, alias, moy):
        return df.filter(F.col("moy") == moy).alias(alias)

    ss1, ss2, ss3 = pick(ss, "ss1", 1), pick(ss, "ss2", 2), pick(ss, "ss3", 3)
    ws1, ws2, ws3 = pick(ws, "ws1", 1), pick(ws, "ws2", 2), pick(ws, "ws3", 3)
    j = (
        ss1.join(ss2, F.col("ss1.nation") == F.col("ss2.nation"))
        .join(ss3, F.col("ss1.nation") == F.col("ss3.nation"))
        .join(ws1, F.col("ss1.nation") == F.col("ws1.nation"))
        .join(ws2, F.col("ss1.nation") == F.col("ws2.nation"))
        .join(ws3, F.col("ss1.nation") == F.col("ws3.nation"))
    )
    return (
        j.filter(
            (F.col("ss1.amt") > 0)
            & (F.col("ss2.amt") > 0)
            & (F.col("ws1.amt") > 0)
            & (F.col("ws2.amt") > 0)
            & (
                F.col("ws2.amt") / F.col("ws1.amt")
                > F.col("ss2.amt") / F.col("ss1.amt")
            )
        )
        .select(
            F.col("ss1.nation").alias("nation"),
            F.round(F.col("ss2.amt") / F.col("ss1.amt"), 9).alias(
                "store_g1"
            ),
            F.round(F.col("ss3.amt") / F.col("ss2.amt"), 9).alias(
                "store_g2"
            ),
            F.round(F.col("ws2.amt") / F.col("ws1.amt"), 9).alias(
                "web_g1"
            ),
            F.round(F.col("ws3.amt") / F.col("ws2.amt"), 9).alias(
                "web_g2"
            ),
        )
        .orderBy("nation")
    )


@register(
    "tpcds_q47_adapted",
    oracle=f"""
WITH v1 AS (
  SELECT p_brand, year(o_orderdate) AS d_year,
         month(o_orderdate) AS d_moy,
         {oracle_dec_sum('l_extendedprice', 'sum_sales')}
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN part ON l_partkey = p_partkey
  GROUP BY 1, 2, 3
),
v2 AS (
  SELECT p_brand, d_year, d_moy, sum_sales,
         CAST(SUM(CAST(round(sum_sales * 10000) AS BIGINT))
                   OVER (PARTITION BY p_brand, d_year) AS DOUBLE)
           / 10000.0
           / COUNT(sum_sales) OVER (PARTITION BY p_brand, d_year)
           AS avg_monthly_sales,
         lag(sum_sales) OVER (PARTITION BY p_brand
                              ORDER BY d_year, d_moy) AS psum,
         lead(sum_sales) OVER (PARTITION BY p_brand
                               ORDER BY d_year, d_moy) AS nsum
  FROM v1
)
SELECT p_brand, d_year, d_moy,
       round(sum_sales, 4) AS sum_sales,
       avg_monthly_sales,
       round(psum, 4) AS psum, round(nsum, 4) AS nsum
FROM v2
WHERE d_year = 1997 AND avg_monthly_sales > 0
  AND abs(sum_sales - avg_monthly_sales) / avg_monthly_sales > 0.1
ORDER BY p_brand, d_year, d_moy
""",
)
def tpcds_q47_adapted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS Q47 (tpcds/q47.sql): the window-over-aggregate
    deviation report — monthly sales per brand, the yearly average
    as a window over the aggregate, lag/lead month neighbors, and a
    >10% deviation filter. Fixture roles: (i_brand, store) ->
    p_brand, d_year/d_moy from o_orderdate. Plan: one shuffle
    builds the monthly aggregate; the three window functions share
    ONE (p_brand)-partitioned window exchange (avg re-sorts within);
    the deviation arithmetic runs on exact decimal-hopped sums.
    avg_monthly_sales itself rides the scaled-bigint hop INSIDE the
    window (exact integer numerator / exact count), so the 0.1
    deviation comparison branches identically on both engines —
    a plain window avg of doubles is summation-order-dependent and
    flips knife-edge rows."""
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    part = load_table(spark, sf_dir, "part")
    v1 = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(part, li.l_partkey == part.p_partkey)
        .groupBy(
            "p_brand",
            F.year("o_orderdate").alias("d_year"),
            F.month("o_orderdate").alias("d_moy"),
        )
        .agg(dec_sum("l_extendedprice", "sum_sales"))
    )
    w_year = Window.partitionBy("p_brand", "d_year")
    w_seq = Window.partitionBy("p_brand").orderBy("d_year", "d_moy")
    v2 = v1.select(
        "p_brand", "d_year", "d_moy", "sum_sales",
        (
            F.sum(
                F.round(F.col("sum_sales") * 10000).cast("bigint")
            ).over(w_year).cast("double")
            / 10000.0
            / F.count("sum_sales").over(w_year)
        ).alias("avg_monthly_sales"),
        F.lag("sum_sales").over(w_seq).alias("psum"),
        F.lead("sum_sales").over(w_seq).alias("nsum"),
    )
    return (
        v2.filter(
            (F.col("d_year") == 1997)
            & (F.col("avg_monthly_sales") > 0)
            & (
                F.abs(F.col("sum_sales") - F.col("avg_monthly_sales"))
                / F.col("avg_monthly_sales")
                > 0.1
            )
        )
        .select(
            "p_brand", "d_year", "d_moy",
            F.round("sum_sales", 4).alias("sum_sales"),
            "avg_monthly_sales",
            F.round("psum", 4).alias("psum"),
            F.round("nsum", 4).alias("nsum"),
        )
        .orderBy("p_brand", "d_year", "d_moy")
    )


@register(
    "tpcds_q49_adapted",
    oracle=f"""
WITH per_item AS (
  SELECT o_orderpriority AS channel, l_partkey AS item,
         CAST(SUM(CASE WHEN l_returnflag = 'R'
                       THEN CAST(l_quantity AS BIGINT) ELSE 0 END)
              AS BIGINT) AS ret_qty,
         CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sold_qty,
         CAST(SUM(CASE WHEN l_returnflag = 'R'
                       THEN CAST(round(l_extendedprice * 10000) AS BIGINT)
                       ELSE 0 END) AS BIGINT) AS ret_amt_s,
         CAST(SUM(CAST(round(l_extendedprice * 10000) AS BIGINT))
              AS BIGINT) AS sold_amt_s
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  WHERE o_orderpriority IN ('1-URGENT', '2-HIGH', '3-MEDIUM')
    AND year(o_orderdate) = 1997
  GROUP BY 1, 2
),
ranked AS (
  SELECT channel, item,
         CAST(ret_qty AS DOUBLE) / sold_qty AS return_ratio,
         CAST(ret_amt_s AS DOUBLE) / sold_amt_s AS currency_ratio,
         rank() OVER (PARTITION BY channel
                      ORDER BY CAST(ret_qty AS DOUBLE) / sold_qty,
                               item) AS return_rank,
         rank() OVER (PARTITION BY channel
                      ORDER BY CAST(ret_amt_s AS DOUBLE) / sold_amt_s,
                               item) AS currency_rank
  FROM per_item WHERE sold_qty > 0
)
SELECT channel, item, round(return_ratio, 9) AS return_ratio,
       CAST(return_rank AS BIGINT) AS return_rank,
       CAST(currency_rank AS BIGINT) AS currency_rank
FROM ranked
WHERE return_rank <= 10 OR currency_rank <= 10
ORDER BY channel, return_rank, currency_rank, item
""",
)
def tpcds_q49_adapted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS Q49 (tpcds/q49.sql): the 'worst return ratios' report
    — per channel, per item: returned-to-sold quantity and currency
    ratios, DUAL rank() windows over each ratio, keep items in
    either top-10, UNION across channels. Fixture roles: the three
    channels (web/catalog/store) -> priority bands computed in ONE
    grouped pass (channel is a group key — the reference's three
    UNION branches share one plan here, an improvement Catalyst
    makes natural); returns -> 'R'-flag rows via conditional sums.
    Ratios are exact-integer divisions (quantities and scaled
    amounts), so ranks are deterministic; rank ties break on the
    item key inside the ORDER BY."""
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    r_flag = F.col("l_returnflag") == "R"
    qty = F.col("l_quantity").cast("bigint")
    amt_s = F.round(F.col("l_extendedprice") * 10000).cast("bigint")
    per_item = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .filter(
            F.col("o_orderpriority").isin(
                "1-URGENT", "2-HIGH", "3-MEDIUM"
            )
            & (F.year("o_orderdate") == 1997)
        )
        .groupBy(
            F.col("o_orderpriority").alias("channel"),
            F.col("l_partkey").alias("item"),
        )
        .agg(
            F.sum(F.when(r_flag, qty).otherwise(F.lit(0)))
            .cast("bigint").alias("ret_qty"),
            F.sum(qty).cast("bigint").alias("sold_qty"),
            F.sum(F.when(r_flag, amt_s).otherwise(F.lit(0)))
            .cast("bigint").alias("ret_amt_s"),
            F.sum(amt_s).cast("bigint").alias("sold_amt_s"),
        )
        .filter(F.col("sold_qty") > 0)
    )
    rr = F.col("ret_qty").cast("double") / F.col("sold_qty")
    cr = F.col("ret_amt_s").cast("double") / F.col("sold_amt_s")
    w_r = Window.partitionBy("channel").orderBy(rr, "item")
    w_c = Window.partitionBy("channel").orderBy(cr, "item")
    ranked = per_item.select(
        "channel", "item",
        rr.alias("return_ratio"),
        F.rank().over(w_r).alias("return_rank"),
        F.rank().over(w_c).alias("currency_rank"),
    )
    return (
        ranked.filter(
            (F.col("return_rank") <= 10) | (F.col("currency_rank") <= 10)
        )
        .select(
            "channel", "item",
            F.round("return_ratio", 9).alias("return_ratio"),
            F.col("return_rank").cast("bigint").alias("return_rank"),
            F.col("currency_rank").cast("bigint").alias("currency_rank"),
        )
        .orderBy("channel", "return_rank", "currency_rank", "item")
    )


@register(
    "tpcds_q66_adapted",
    oracle=f"""
WITH monthly AS (
  SELECT l_suppkey,
         {", ".join(
             "CAST(SUM(CASE WHEN month(l_shipdate) = %d "
             "THEN CAST(round(l_extendedprice * 10000) AS BIGINT) "
             "ELSE 0 END) AS DOUBLE) / 10000.0 AS m%d_sales" % (m, m)
             for m in range(1, 13)
         )},
         {oracle_dec_sum('l_extendedprice', 'total_sales')}
  FROM lineitem
  WHERE year(l_shipdate) = 1997
  GROUP BY l_suppkey
)
SELECT s_name, s_nationkey,
       {", ".join("m%d_sales" % m for m in range(1, 13))},
       total_sales
FROM monthly JOIN supplier ON s_suppkey = l_suppkey
ORDER BY s_name
""",
)
def tpcds_q66_adapted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS Q66 (tpcds/q66.sql): the wide pivot-style aggregate —
    per warehouse, TWELVE monthly conditional sums (jan_sales ..
    dec_sales) plus the total, decorated with warehouse attributes.
    Fixture roles: warehouse -> supplier, ship_mode/time_sk filters
    -> the shipdate year, the web+catalog UNION collapses into one
    fact pass (the reference unions two channel scans; the fixture
    has one fact). The signature is the WIDTH: 13 independent
    conditional aggregates evaluated in a single grouped pass —
    one shuffle, every sum through the exact decimal hop."""
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    amt_s = F.round(F.col("l_extendedprice") * 10000).cast("bigint")
    aggs = [
        (
            F.sum(
                F.when(F.month("l_shipdate") == m, amt_s).otherwise(
                    F.lit(0)
                )
            ).cast("double")
            / 10000.0
        ).alias(f"m{m}_sales")
        for m in range(1, 13)
    ]
    monthly = (
        li.filter(F.year("l_shipdate") == 1997)
        .groupBy("l_suppkey")
        .agg(*aggs, dec_sum("l_extendedprice", "total_sales"))
    )
    return (
        monthly.join(supp, supp.s_suppkey == monthly.l_suppkey)
        .select(
            "s_name", "s_nationkey",
            *[f"m{m}_sales" for m in range(1, 13)],
            "total_sales",
        )
        .orderBy("s_name")
    )


@register(
    "tpcds_q23_adapted",
    oracle=f"""
WITH frequent_parts AS (
  SELECT l_partkey FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  WHERE year(o_orderdate) = 1997
  GROUP BY l_partkey HAVING count(*) > 8
),
spend AS (
  SELECT o_custkey,
         CAST(SUM(CAST(round(l_extendedprice * 10000) AS BIGINT))
              AS BIGINT) AS spend_s
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  GROUP BY o_custkey
),
best_customers AS (
  SELECT o_custkey FROM spend
  WHERE CAST(spend_s AS DOUBLE)
        > 0.5 * (SELECT CAST(max(spend_s) AS DOUBLE) FROM spend)
)
SELECT {oracle_dec_sum('l_extendedprice', 'total_spend')}
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
WHERE year(o_orderdate) = 1997 AND month(o_orderdate) = 12
  AND l_partkey IN (SELECT l_partkey FROM frequent_parts)
  AND o_custkey IN (SELECT o_custkey FROM best_customers)
""",
)
def tpcds_q23_adapted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS Q23 (tpcds/q23_1.sql): the two-stage CTE funnel —
    'frequent items' (sold more than k times in the year), 'best
    customers' (total spend above a fraction of the MAX total spend
    — an aggregate-over-aggregate scalar threshold), then one month's
    sales restricted to both sets, as a single global sum. Fixture
    roles: item count threshold > 8 (q23's > 4 over 4x the dates),
    best-customer fraction 0.5 of the max (q23 uses 95th-percentile
    of totals; max keeps the oracle exact), Dec 1997 as the target
    month. Plan: both filter sets are aggregates (small), so the
    final restriction is two semi joins with broadcast-able build
    sides; the scalar max is a single-row cross join. The threshold
    comparison runs on exact scaled integers."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    lo = li.join(orders, li.l_orderkey == orders.o_orderkey)
    frequent = (
        lo.filter(F.year("o_orderdate") == 1997)
        .groupBy("l_partkey")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") > 8)
        .select("l_partkey")
    )
    # spend feeds two consumers (the scalar max and the threshold
    # filter) — persist the customer-sized aggregate so the 100 TB
    # fact chain aggregates once, not once per consumer.
    spend = lo.groupBy("o_custkey").agg(
        F.sum(
            F.round(F.col("l_extendedprice") * 10000).cast("bigint")
        ).alias("spend_s")
    ).persist()
    max_spend = spend.agg(
        F.max("spend_s").cast("double").alias("max_s")
    )
    best = (
        spend.crossJoin(F.broadcast(max_spend))
        .filter(F.col("spend_s").cast("double") > 0.5 * F.col("max_s"))
        .select("o_custkey")
    )
    target = lo.filter(
        (F.year("o_orderdate") == 1997) & (F.month("o_orderdate") == 12)
    )
    return (
        target.join(frequent, "l_partkey", "left_semi")
        .join(best, "o_custkey", "left_semi")
        .agg(dec_sum("l_extendedprice", "total_spend"))
    )


@register(
    "tpcds_q32_adapted",
    oracle=f"""
WITH amounts AS (
  SELECT l_partkey,
         l_extendedprice * l_discount AS disc_amt
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  WHERE year(o_orderdate) = 1997
),
thresholds AS (
  SELECT l_partkey,
         1.3 * (CAST(SUM(CAST(round(disc_amt * 10000) AS BIGINT))
                     AS DOUBLE) / 10000.0 / COUNT(disc_amt))
           AS excess_floor
  FROM amounts GROUP BY l_partkey
)
SELECT {oracle_dec_sum('a.disc_amt', 'excess_discount')}
FROM amounts a
JOIN thresholds t ON a.l_partkey = t.l_partkey
WHERE a.disc_amt > t.excess_floor
""",
)
def tpcds_q32_adapted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS Q32 (tpcds/q32.sql): 'excess discount' — the sum of
    discount amounts that exceed 1.3x their ITEM's average discount
    for the period; the correlated per-item average decorrelates to
    an aggregate joined back to the detail (exactly what the
    reference's TransformCorrelatedScalarAggregationToJoin does).
    Fixture roles: cs_ext_discount_amt -> l_extendedprice *
    l_discount (a 4-decimal-exact product), the date_dim window ->
    order year 1997. The per-item average rides the scaled-bigint
    hop so the 1.3x comparison branches identically; the final sum
    is one global aggregate. Plan: one shuffle on l_partkey feeds
    the threshold aggregate; the join back is aggregate-vs-detail
    on the same key."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    amounts = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .filter(F.year("o_orderdate") == 1997)
        .select(
            "l_partkey",
            (F.col("l_extendedprice") * F.col("l_discount")).alias(
                "disc_amt"
            ),
        )
    )
    thresholds = amounts.groupBy("l_partkey").agg(
        (
            F.lit(1.3)
            * (
                F.sum(
                    F.round(F.col("disc_amt") * 10000).cast("bigint")
                ).cast("double")
                / 10000.0
                / F.count("disc_amt")
            )
        ).alias("excess_floor")
    )
    return (
        amounts.join(thresholds, "l_partkey")
        .filter(F.col("disc_amt") > F.col("excess_floor"))
        .agg(dec_sum("disc_amt", "excess_discount"))
    )


@register(
    "tpcds_q43_adapted",
    oracle=f"""
SELECT s_name,
       {", ".join(
           "CAST(SUM(CASE WHEN date_diff('day', DATE '1995-01-01',"
           " CAST(o_orderdate AS DATE)) %% 7 = %d"
           " THEN CAST(round(l_extendedprice * 10000) AS BIGINT)"
           " ELSE 0 END) AS DOUBLE) / 10000.0 AS %s_sales" % (d, nm)
           for d, nm in enumerate(
               ["sun", "mon", "tue", "wed", "thu", "fri", "sat"]
           )
       )}
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
WHERE year(o_orderdate) = 1997
GROUP BY s_name
ORDER BY s_name
LIMIT 100
""",
)
def tpcds_q43_adapted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS Q43 (tpcds/q43.sql): per-store weekly day-of-week
    pivot — seven conditional sums (sun_sales .. sat_sales) in one
    grouped pass. Fixture roles: store -> supplier, d_day_name ->
    an ENGINE-NEUTRAL day-of-week (days since Sunday 1995-01-01
    mod 7 — Spark's dayofweek() and DuckDB's dayofweek() number
    days differently, so the oracle-exact formulation avoids both).
    One shuffle; every sum through the exact decimal hop."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    supp = load_table(spark, sf_dir, "supplier")
    dow = (
        F.datediff(F.to_date("o_orderdate"), F.lit("1995-01-01")) % 7
    )
    amt_s = F.round(F.col("l_extendedprice") * 10000).cast("bigint")
    names = ["sun", "mon", "tue", "wed", "thu", "fri", "sat"]
    aggs = [
        (
            F.sum(F.when(dow == d, amt_s).otherwise(F.lit(0)))
            .cast("double")
            / 10000.0
        ).alias(f"{nm}_sales")
        for d, nm in enumerate(names)
    ]
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .filter(F.year("o_orderdate") == 1997)
        .groupBy("s_name")
        .agg(*aggs)
        .orderBy("s_name")
        .limit(100)
    )


@register(
    "tpcds_q50_adapted",
    oracle="""
SELECT s_name,
       CAST(SUM(CASE WHEN lat <= 30 THEN 1 ELSE 0 END) AS BIGINT)
         AS d30,
       CAST(SUM(CASE WHEN lat > 30 AND lat <= 60 THEN 1 ELSE 0 END)
            AS BIGINT) AS d60,
       CAST(SUM(CASE WHEN lat > 60 AND lat <= 90 THEN 1 ELSE 0 END)
            AS BIGINT) AS d90,
       CAST(SUM(CASE WHEN lat > 90 AND lat <= 120 THEN 1 ELSE 0 END)
            AS BIGINT) AS d120,
       CAST(SUM(CASE WHEN lat > 120 THEN 1 ELSE 0 END) AS BIGINT)
         AS d120plus
FROM (
  SELECT s_name,
         date_diff('day', CAST(o_orderdate AS DATE),
                   CAST(l_shipdate AS DATE)) AS lat
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN supplier ON l_suppkey = s_suppkey
  WHERE l_returnflag = 'R'
) t
GROUP BY s_name
ORDER BY s_name
LIMIT 100
""",
)
def tpcds_q50_adapted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS Q50 (tpcds/q50.sql): return-latency banding — counts
    of returns whose sale-to-return gap lands in 30/60/90/120-day
    bands, per store. Fixture roles: store -> supplier, the
    sold-vs-returned date pair -> order date vs ship date of
    'R'-flagged lineitems. Integer day differences into CASE bands —
    five conditional counts in one grouped pass, engine-exact."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    supp = load_table(spark, sf_dir, "supplier")
    lat = F.datediff(F.to_date("l_shipdate"), F.to_date("o_orderdate"))

    def band(cond, name):
        return F.sum(F.when(cond, 1).otherwise(0)).cast("bigint").alias(
            name
        )

    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .filter(F.col("l_returnflag") == "R")
        .select("s_name", lat.alias("lat"))
        .groupBy("s_name")
        .agg(
            band(F.col("lat") <= 30, "d30"),
            band((F.col("lat") > 30) & (F.col("lat") <= 60), "d60"),
            band((F.col("lat") > 60) & (F.col("lat") <= 90), "d90"),
            band((F.col("lat") > 90) & (F.col("lat") <= 120), "d120"),
            band(F.col("lat") > 120, "d120plus"),
        )
        .orderBy("s_name")
        .limit(100)
    )


@register(
    "tpcds_q90_adapted",
    oracle="""
SELECT event_type,
       CAST(SUM(CASE WHEN hour(ts) < 12 THEN 1 ELSE 0 END) AS BIGINT)
         AS am_cnt,
       CAST(SUM(CASE WHEN hour(ts) >= 12 THEN 1 ELSE 0 END) AS BIGINT)
         AS pm_cnt,
       round(CAST(SUM(CASE WHEN hour(ts) < 12 THEN 1 ELSE 0 END)
                  AS DOUBLE)
             / SUM(CASE WHEN hour(ts) >= 12 THEN 1 ELSE 0 END), 9)
         AS am_pm_ratio
FROM events
GROUP BY event_type
ORDER BY event_type
""",
)
def tpcds_q90_adapted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS Q90 (tpcds/q90.sql): the am/pm ratio — counts of
    activity in two time-of-day bands and their ratio. Fixture
    roles: web_sales x time_dim hour bands -> the events table's
    timestamps (the one fixture table with intraday times), household
    demographics grouping -> event_type. The ratio is an
    exact-integer division; hour() runs in the session's pinned UTC
    on both engines."""
    events = load_table(spark, sf_dir, "events")
    am = F.sum(F.when(F.hour("ts") < 12, 1).otherwise(0))
    pm = F.sum(F.when(F.hour("ts") >= 12, 1).otherwise(0))
    return (
        events.groupBy("event_type")
        .agg(
            am.cast("bigint").alias("am_cnt"),
            pm.cast("bigint").alias("pm_cnt"),
            F.round(am.cast("double") / pm, 9).alias("am_pm_ratio"),
        )
        .orderBy("event_type")
    )


@register(
    "tpcds_q87_adapted",
    oracle="""
SELECT count(*) AS cnt
FROM (
  SELECT DISTINCT c_name, CAST(year(o_orderdate) AS INT) AS d_year
  FROM orders JOIN customer ON o_custkey = c_custkey
  WHERE o_orderpriority = '1-URGENT'
  EXCEPT
  SELECT DISTINCT c_name, CAST(year(o_orderdate) AS INT) AS d_year
  FROM orders JOIN customer ON o_custkey = c_custkey
  WHERE o_orderpriority = '2-HIGH'
  EXCEPT
  SELECT DISTINCT c_name, CAST(year(o_orderdate) AS INT) AS d_year
  FROM orders JOIN customer ON o_custkey = c_custkey
  WHERE o_orderpriority = '3-MEDIUM'
) cool_cust
""",
)
def tpcds_q87_adapted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS Q87 (tpcds/q87.sql): the EXCEPT-chain census — store
    customers minus catalog minus web buyers, counted; the
    set-difference complement of Q38's INTERSECT chain (both ship in
    the reference corpus as the canonical set-op pair). Same fixture
    roles as q38: channels -> priority bands, the distinct key ->
    (c_name, year). Spark lowers each EXCEPT to a left-anti join
    over the deduped sets."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")

    def channel(priority: str) -> DataFrame:
        return (
            orders.filter(F.col("o_orderpriority") == priority)
            .join(cust, orders.o_custkey == cust.c_custkey)
            .select(
                F.col("c_name"),
                F.year("o_orderdate").cast("int").alias("d_year"),
            )
            .distinct()
        )

    cool = (
        channel("1-URGENT")
        .exceptAll(channel("2-HIGH"))
        .distinct()
        .exceptAll(channel("3-MEDIUM"))
        .distinct()
    )
    return cool.agg(F.count(F.lit(1)).alias("cnt"))


@register(
    "tpcds_q45_adapted",
    oracle=f"""
WITH wanted_parts AS (
  SELECT p_partkey FROM part WHERE p_size IN (28, 35, 42)
)
SELECT c_nationkey,
       {oracle_dec_sum('l_extendedprice', 'sales')}
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_nationkey IN (3, 7, 11, 17, 21)
   OR l_partkey IN (SELECT p_partkey FROM wanted_parts)
GROUP BY c_nationkey
ORDER BY c_nationkey
""",
)
def tpcds_q45_adapted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS Q45 (tpcds/q45.sql): the OR-ACROSS-SUBQUERY residual —
    keep rows where the customer zip is in a literal list OR the
    item is in a dimension subquery. An OR between a local predicate
    and subquery membership cannot lower to a semi join alone: the
    membership becomes a BOOLEAN COLUMN (left join against the
    deduped subquery, NULL-ness as the flag) so the disjunction
    evaluates row-wise — the same existential-to-marker lowering the
    reference applies (TransformExistsApplyToLateralNode ->
    marker-join). Fixture roles: ca_zip list -> nation keys, the
    i_item_id subquery -> p_size-selected parts."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    part = load_table(spark, sf_dir, "part")
    wanted = (
        part.filter(F.col("p_size").isin(28, 35, 42))
        .select(F.col("p_partkey").alias("wanted_pk"))
        .distinct()
    )
    joined = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(
            wanted, li.l_partkey == F.col("wanted_pk"), "left"
        )
    )
    return (
        joined.filter(
            F.col("c_nationkey").isin(3, 7, 11, 17, 21)
            | F.col("wanted_pk").isNotNull()
        )
        .groupBy("c_nationkey")
        .agg(dec_sum("l_extendedprice", "sales"))
        .orderBy("c_nationkey")
    )


@register(
    "tpcds_q58_adapted",
    oracle=f"""
WITH ch AS (
  SELECT l_partkey AS item, o_orderpriority AS pri,
         CAST(SUM(CAST(round(l_extendedprice * 10000) AS BIGINT))
              AS BIGINT) AS rev_s
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE o_orderpriority IN ('1-URGENT', '2-HIGH', '3-MEDIUM')
    AND year(o_orderdate) = 1997
  GROUP BY 1, 2
),
ss AS (SELECT item, rev_s FROM ch WHERE pri = '1-URGENT'),
cs AS (SELECT item, rev_s FROM ch WHERE pri = '2-HIGH'),
ws AS (SELECT item, rev_s FROM ch WHERE pri = '3-MEDIUM')
SELECT ss.item,
       CAST(ss.rev_s AS DOUBLE) / 10000.0 AS ss_rev,
       CAST(cs.rev_s AS DOUBLE) / 10000.0 AS cs_rev,
       CAST(ws.rev_s AS DOUBLE) / 10000.0 AS ws_rev,
       round(CAST(ss.rev_s + cs.rev_s + ws.rev_s AS DOUBLE)
             / 3.0 / 10000.0, 9) AS average
FROM ss JOIN cs ON ss.item = cs.item JOIN ws ON ss.item = ws.item
WHERE CAST(ss.rev_s AS DOUBLE)
        BETWEEN 0.9 * CAST(ss.rev_s + cs.rev_s + ws.rev_s AS DOUBLE) / 3.0
            AND 1.1 * CAST(ss.rev_s + cs.rev_s + ws.rev_s AS DOUBLE) / 3.0
  AND CAST(cs.rev_s AS DOUBLE)
        BETWEEN 0.9 * CAST(ss.rev_s + cs.rev_s + ws.rev_s AS DOUBLE) / 3.0
            AND 1.1 * CAST(ss.rev_s + cs.rev_s + ws.rev_s AS DOUBLE) / 3.0
  AND CAST(ws.rev_s AS DOUBLE)
        BETWEEN 0.9 * CAST(ss.rev_s + cs.rev_s + ws.rev_s AS DOUBLE) / 3.0
            AND 1.1 * CAST(ss.rev_s + cs.rev_s + ws.rev_s AS DOUBLE) / 3.0
ORDER BY ss.item
""",
)
def tpcds_q58_adapted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS Q58 (tpcds/q58.sql): the equal-share band join —
    items whose revenue is WITHIN 10% of the three-channel average
    in EVERY channel, i.e. a 3-way join of per-channel aggregates
    with six band predicates over the shared average. Fixture roles:
    the three channels -> priority bands, computed in ONE grouped
    pass then split (the reference scans three fact tables). All
    band arithmetic runs on exact scaled integers cast to double
    identically on both engines. Plan: one fact shuffle builds the
    channel aggregate; the three-way join runs on the tiny aggregate."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    ch = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .filter(
            F.col("o_orderpriority").isin(
                "1-URGENT", "2-HIGH", "3-MEDIUM"
            )
            & (F.year("o_orderdate") == 1997)
        )
        .groupBy(
            F.col("l_partkey").alias("item"),
            F.col("o_orderpriority").alias("pri"),
        )
        .agg(
            F.sum(
                F.round(F.col("l_extendedprice") * 10000).cast("bigint")
            ).alias("rev_s")
        )
    )

    def pick(pri, alias):
        return ch.filter(F.col("pri") == pri).select(
            "item", F.col("rev_s").alias(f"{alias}_s")
        )

    j = (
        pick("1-URGENT", "ss")
        .join(pick("2-HIGH", "cs"), "item")
        .join(pick("3-MEDIUM", "ws"), "item")
    )
    total = (
        F.col("ss_s") + F.col("cs_s") + F.col("ws_s")
    ).cast("double")
    avg3 = total / 3.0

    def in_band(col):
        v = F.col(col).cast("double")
        return (v >= 0.9 * avg3) & (v <= 1.1 * avg3)

    return (
        j.filter(in_band("ss_s") & in_band("cs_s") & in_band("ws_s"))
        .select(
            "item",
            (F.col("ss_s").cast("double") / 10000.0).alias("ss_rev"),
            (F.col("cs_s").cast("double") / 10000.0).alias("cs_rev"),
            (F.col("ws_s").cast("double") / 10000.0).alias("ws_rev"),
            F.round(avg3 / 10000.0, 9).alias("average"),
        )
        .orderBy("item")
    )


@register(
    "tpcds_q98_adapted",
    oracle="""
WITH rev AS (
  SELECT p_type, p_brand,
         CAST(SUM(CAST(round(l_extendedprice * 10000) AS BIGINT))
              AS BIGINT) AS rev_s
  FROM lineitem JOIN part ON l_partkey = p_partkey
  GROUP BY p_type, p_brand
)
SELECT p_type, p_brand,
       CAST(rev_s AS DOUBLE) / 10000.0 AS itemrevenue,
       round(CAST(rev_s AS DOUBLE) * 100
             / CAST(SUM(rev_s) OVER (PARTITION BY p_type) AS DOUBLE),
             9) AS revenueratio
FROM rev
ORDER BY p_type, revenueratio DESC, p_brand
""",
)
def tpcds_q98_adapted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS Q98 (tpcds/q98.sql, siblings q12/q20): the windowed
    SHARE-OF-TOTAL — each item's revenue as a percentage of its
    class's total, the ratio_to_report shape: a window SUM over the
    grouped aggregate partitioned by class, then a row/total ratio.
    Fixture roles: i_class -> p_type, i_item_id -> p_brand. The
    window sum runs over exact scaled integers, so the percentage
    division is engine-identical. Plan: one shuffle for the
    aggregate, one window exchange on the class key — both over the
    aggregate's cardinality, not the fact's."""
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    rev = (
        li.join(part, li.l_partkey == part.p_partkey)
        .groupBy("p_type", "p_brand")
        .agg(
            F.sum(
                F.round(F.col("l_extendedprice") * 10000).cast("bigint")
            ).alias("rev_s")
        )
    )
    w = Window.partitionBy("p_type")
    return (
        rev.select(
            "p_type", "p_brand",
            (F.col("rev_s").cast("double") / 10000.0).alias(
                "itemrevenue"
            ),
            F.round(
                F.col("rev_s").cast("double")
                * 100
                / F.sum("rev_s").over(w).cast("double"),
                9,
            ).alias("revenueratio"),
        )
        .orderBy(
            "p_type", F.col("revenueratio").desc(), "p_brand"
        )
    )


@register(
    "tpcds_q95_adapted",
    oracle=f"""
WITH multi_supp AS (
  SELECT l_orderkey FROM lineitem
  GROUP BY l_orderkey HAVING count(DISTINCT l_suppkey) > 1
),
with_return AS (
  SELECT DISTINCT l_orderkey FROM lineitem WHERE l_returnflag = 'R'
)
SELECT CAST(count(*) AS BIGINT) AS order_count,
       {oracle_dec_sum('o_totalprice', 'total_value')}
FROM orders
WHERE o_orderkey IN (SELECT l_orderkey FROM multi_supp)
  AND o_orderkey IN (SELECT l_orderkey FROM with_return)
""",
)
def tpcds_q95_adapted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS Q95 (tpcds/q95.sql): orders shipped from MULTIPLE
    warehouses that also had a return — two membership subqueries,
    one a distinct-count-HAVING aggregate, one a distinct set, both
    consumed as semi joins into a single count+sum row. Fixture
    roles: ws_warehouse_sk -> l_suppkey, the returns table ->
    'R'-flag rows. Plan: both membership sets aggregate on
    l_orderkey (one shuffle each), then two left-semi joins against
    the orders scan — never a fan-out join."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    multi_supp = (
        li.groupBy("l_orderkey")
        .agg(F.count_distinct("l_suppkey").alias("ns"))
        .filter(F.col("ns") > 1)
        .select("l_orderkey")
    )
    with_return = (
        li.filter(F.col("l_returnflag") == "R")
        .select("l_orderkey")
        .distinct()
    )
    return (
        orders.join(
            multi_supp, orders.o_orderkey == multi_supp.l_orderkey,
            "left_semi",
        )
        .join(
            with_return,
            orders.o_orderkey == with_return.l_orderkey,
            "left_semi",
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("order_count"),
            dec_sum("o_totalprice", "total_value"),
        )
    )


@register(
    "tpcds_q39_adapted",
    oracle="""
WITH stats AS (
  SELECT l_suppkey, month(l_shipdate) AS moy,
         CAST(count(*) AS BIGINT) AS n,
         CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sx,
         CAST(SUM(CAST(l_quantity AS BIGINT)
                  * CAST(l_quantity AS BIGINT)) AS BIGINT) AS sxx
  FROM lineitem
  WHERE year(l_shipdate) = 1997
  GROUP BY 1, 2
),
flagged AS (
  SELECT l_suppkey, moy, n, sx, sxx
  FROM stats
  WHERE n > 1
    AND 4 * (n * sxx - sx * sx) * n > sx * sx * (n - 1)
)
SELECT a.l_suppkey AS suppkey, a.moy AS moy1, b.moy AS moy2,
       round(CAST(a.sx AS DOUBLE) / a.n, 9) AS mean1,
       round(CAST(b.sx AS DOUBLE) / b.n, 9) AS mean2
FROM flagged a
JOIN flagged b ON a.l_suppkey = b.l_suppkey AND b.moy = a.moy + 1
ORDER BY suppkey, moy1
""",
)
def tpcds_q39_adapted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS Q39 (tpcds/q39_1.sql): the inventory-variability pair
    report — per (warehouse, item, month) mean and stdev, keep
    months whose coefficient of variation (stdev/mean) exceeds 1,
    then SELF-JOIN consecutive months to find persistent
    variability. Fixture roles: (warehouse, item) -> supplier,
    inv_quantity_on_hand -> l_quantity, the cov threshold 0.5
    (the fixtures' uniform 1..50 quantities sit near cov 0.57; the
    reference's 1.0 would keep nothing). The knife-edge filter is
    made ENGINE-EXACT by comparing in integers:
    stdev/mean > 0.5 <=> 4*var > mean^2 <=> 4*(n*sxx - sx^2)*n >
    sx^2*(n-1) — no floating stdev in the branch at all (a float
    formulation would flip rows between engines; at extreme scale
    the products need decimal(38) headroom, noted). Means surface
    as exact-integer ratios."""
    li = load_table(spark, sf_dir, "lineitem")
    q = F.col("l_quantity").cast("bigint")
    stats = (
        li.filter(F.year("l_shipdate") == 1997)
        .groupBy(
            "l_suppkey", F.month("l_shipdate").alias("moy")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(q).alias("sx"),
            F.sum(q * q).alias("sxx"),
        )
    )
    flagged = stats.filter(
        (F.col("n") > 1)
        & (
            4
            * (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
            * F.col("n")
            > F.col("sx") * F.col("sx") * (F.col("n") - 1)
        )
    )
    a, b = flagged.alias("a"), flagged.alias("b")
    return (
        a.join(
            b,
            (F.col("a.l_suppkey") == F.col("b.l_suppkey"))
            & (F.col("b.moy") == F.col("a.moy") + 1),
        )
        .select(
            F.col("a.l_suppkey").alias("suppkey"),
            F.col("a.moy").alias("moy1"),
            F.col("b.moy").alias("moy2"),
            F.round(
                F.col("a.sx").cast("double") / F.col("a.n"), 9
            ).alias("mean1"),
            F.round(
                F.col("b.sx").cast("double") / F.col("b.n"), 9
            ).alias("mean2"),
        )
        .orderBy("suppkey", "moy1")
    )


@register(
    "tpcds_q59_adapted",
    oracle="""
WITH wk AS (
  SELECT s_suppkey,
         CAST(floor(date_diff('day', DATE '1995-01-01',
                    CAST(o_orderdate AS DATE)) / 7) AS BIGINT) AS wk_seq,
         CAST(date_diff('day', DATE '1995-01-01',
                        CAST(o_orderdate AS DATE)) % 7 AS INT) AS dow,
         CAST(round(l_extendedprice * 10000) AS BIGINT) AS amt_s
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN supplier ON l_suppkey = s_suppkey
),
weekly AS (
  SELECT s_suppkey, wk_seq,
         CAST(SUM(CASE WHEN dow = 0 THEN amt_s ELSE 0 END) AS BIGINT)
           AS sun_s,
         CAST(SUM(CASE WHEN dow = 3 THEN amt_s ELSE 0 END) AS BIGINT)
           AS wed_s,
         CAST(SUM(CASE WHEN dow = 6 THEN amt_s ELSE 0 END) AS BIGINT)
           AS sat_s
  FROM wk GROUP BY 1, 2
)
SELECT y1.s_suppkey AS suppkey, y1.wk_seq AS wk_seq,
       round(CAST(y2.sun_s AS DOUBLE) / y1.sun_s, 9) AS sun_ratio,
       round(CAST(y2.wed_s AS DOUBLE) / y1.wed_s, 9) AS wed_ratio,
       round(CAST(y2.sat_s AS DOUBLE) / y1.sat_s, 9) AS sat_ratio
FROM weekly y1
JOIN weekly y2 ON y1.s_suppkey = y2.s_suppkey
              AND y2.wk_seq = y1.wk_seq + 52
WHERE y1.sun_s > 0 AND y1.wed_s > 0 AND y1.sat_s > 0
ORDER BY suppkey, wk_seq
""",
)
def tpcds_q59_adapted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS Q59 (tpcds/q59.sql): the week-over-week ratio matrix —
    weekly per-day-of-week sales per store, SELF-JOINED against the
    same week one year later (wk_seq + 52), emitting the per-day
    ratios. Fixture roles: store -> supplier; week sequence and
    day-of-week from the engine-neutral days-since-Sunday-epoch
    arithmetic (q43's formulation). Ratios divide exact scaled
    integers. Plan: one shuffle builds the weekly matrix; the
    year-over-year join runs on the (supplier, week) aggregate,
    persisted so the 100 TB fact chain is scanned once for both
    self-join sides."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    supp = load_table(spark, sf_dir, "supplier")
    days = F.datediff(F.to_date("o_orderdate"), F.lit("1995-01-01"))
    amt_s = F.round(F.col("l_extendedprice") * 10000).cast("bigint")
    wk = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .select(
            "s_suppkey",
            F.floor(days / 7).cast("bigint").alias("wk_seq"),
            (days % 7).cast("int").alias("dow"),
            amt_s.alias("amt_s"),
        )
    )

    def day_sum(d, name):
        return F.sum(
            F.when(F.col("dow") == d, F.col("amt_s")).otherwise(F.lit(0))
        ).cast("bigint").alias(name)

    weekly = wk.groupBy("s_suppkey", "wk_seq").agg(
        day_sum(0, "sun_s"), day_sum(3, "wed_s"), day_sum(6, "sat_s")
    ).persist()
    y1, y2 = weekly.alias("y1"), weekly.alias("y2")
    return (
        y1.join(
            y2,
            (F.col("y1.s_suppkey") == F.col("y2.s_suppkey"))
            & (F.col("y2.wk_seq") == F.col("y1.wk_seq") + 52),
        )
        .filter(
            (F.col("y1.sun_s") > 0)
            & (F.col("y1.wed_s") > 0)
            & (F.col("y1.sat_s") > 0)
        )
        .select(
            F.col("y1.s_suppkey").alias("suppkey"),
            F.col("y1.wk_seq").alias("wk_seq"),
            F.round(
                F.col("y2.sun_s").cast("double") / F.col("y1.sun_s"), 9
            ).alias("sun_ratio"),
            F.round(
                F.col("y2.wed_s").cast("double") / F.col("y1.wed_s"), 9
            ).alias("wed_ratio"),
            F.round(
                F.col("y2.sat_s").cast("double") / F.col("y1.sat_s"), 9
            ).alias("sat_ratio"),
        )
        .orderBy("suppkey", "wk_seq")
    )


@register(
    "tpcds_q41_adapted",
    oracle="""
WITH brand_hits AS (
  SELECT p_brand,
         CAST(SUM(CASE
           WHEN (p_type LIKE '%%ECO%%' AND p_size BETWEEN 5 AND 20)
             OR (p_type LIKE '%%STAND%%' AND p_size BETWEEN 15 AND 35)
             OR (p_type LIKE '%%PROMO%%' AND p_size BETWEEN 1 AND 10)
           THEN 1 ELSE 0 END) AS BIGINT) AS n_hits
  FROM part GROUP BY p_brand
)
SELECT DISTINCT p_name
FROM part
JOIN brand_hits ON part.p_brand = brand_hits.p_brand
WHERE p_retailprice BETWEEN 900.25 AND 950.0
  AND n_hits > 0
ORDER BY p_name
LIMIT 100
""",
)
def tpcds_q41_adapted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS Q41 (tpcds/q41.sql): the DIMENSION-ONLY correlated
    EXISTS — distinct product names of items whose MANUFACTURER also
    makes an item matching one of several OR'd attribute-band
    conjunctions ((SELECT count(*) ... WHERE i_manufact =
    i1.i_manufact AND (bands)) > 0). Decorrelated the way the
    reference's TransformCorrelatedScalarAggregationToJoin does: the
    per-manufacturer hit count becomes a conditional aggregate
    joined back, the > 0 test a join filter. Fixture roles:
    i_manufact -> p_brand, the color/size/unit bands -> p_type
    substring + p_size bands (fixture p_type domain: ECONOMY/PROMO/
    STANDARD/...), the outer manufact-id range -> a p_retailprice
    band. No fact table at all — the whole query runs
    on the (broadcastable) dimension."""
    part = load_table(spark, sf_dir, "part")
    hit = (
        (F.col("p_type").like("%ECO%") & F.col("p_size").between(5, 20))
        | (
            F.col("p_type").like("%STAND%")
            & F.col("p_size").between(15, 35)
        )
        | (
            F.col("p_type").like("%PROMO%")
            & F.col("p_size").between(1, 10)
        )
    )
    brand_hits = part.groupBy("p_brand").agg(
        F.sum(F.when(hit, 1).otherwise(0)).cast("bigint").alias("n_hits")
    )
    return (
        part.join(brand_hits, "p_brand")
        .filter(
            F.col("p_retailprice").between(900.25, 950.0)
            & (F.col("n_hits") > 0)
        )
        .select("p_name")
        .distinct()
        .orderBy("p_name")
        .limit(100)
    )


@register(
    "tpcds_q78_adapted",
    oracle=f"""
WITH returned_keys AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
  WHERE l_returnflag = 'R'
),
clean AS (
  SELECT o_custkey, o_orderpriority,
         CAST(l.l_quantity AS BIGINT) AS qty
  FROM lineitem l
  JOIN orders ON l.l_orderkey = o_orderkey
  LEFT JOIN returned_keys r
    ON l.l_orderkey = r.l_orderkey AND l.l_partkey = r.l_partkey
  WHERE l.l_returnflag <> 'R' AND r.l_orderkey IS NULL
),
per_cust AS (
  SELECT o_custkey,
         CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                       THEN qty ELSE 0 END) AS BIGINT) AS store_qty,
         CAST(SUM(CASE WHEN o_orderpriority NOT IN
                            ('1-URGENT', '2-HIGH')
                       THEN qty ELSE 0 END) AS BIGINT) AS other_qty
  FROM clean GROUP BY o_custkey
)
SELECT o_custkey, store_qty, other_qty,
       round(CAST(other_qty AS DOUBLE) / store_qty, 9) AS ratio
FROM per_cust
WHERE store_qty > 0 AND other_qty > 0
ORDER BY ratio DESC, o_custkey
LIMIT 100
""",
)
def tpcds_q78_adapted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS Q78 (tpcds/q78.sql): the NON-RETURNED-sales channel
    ratio — sales rows are kept only when NO matching return exists
    (LEFT JOIN returns, NULL-ness filter — anti-join semantics
    INSIDE the aggregation pipeline), then per-customer
    channel-vs-channel quantity ratios rank the cross-channel
    shoppers. Fixture roles: the returns tables -> distinct
    (orderkey, partkey) pairs of 'R' rows, store/web+catalog
    channels -> priority bands. Ratios are exact-integer divisions;
    the LIMIT order closes over the unique customer key. Plan: the
    anti filter shuffles on the same (orderkey, partkey) key as the
    returns aggregate; the channel pivot is one grouped pass."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    returned = (
        li.filter(F.col("l_returnflag") == "R")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    clean = (
        li.filter(F.col("l_returnflag") != "R")
        .join(returned, ["l_orderkey", "l_partkey"], "left_anti")
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .select(
            "o_custkey", "o_orderpriority",
            F.col("l_quantity").cast("bigint").alias("qty"),
        )
    )
    urgent = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    per_cust = clean.groupBy("o_custkey").agg(
        F.sum(F.when(urgent, F.col("qty")).otherwise(0))
        .cast("bigint").alias("store_qty"),
        F.sum(F.when(~urgent, F.col("qty")).otherwise(0))
        .cast("bigint").alias("other_qty"),
    )
    return (
        per_cust.filter(
            (F.col("store_qty") > 0) & (F.col("other_qty") > 0)
        )
        .select(
            "o_custkey", "store_qty", "other_qty",
            F.round(
                F.col("other_qty").cast("double") / F.col("store_qty"),
                9,
            ).alias("ratio"),
        )
        .orderBy(F.col("ratio").desc(), "o_custkey")
        .limit(100)
    )


@register(
    "tpcds_q30_adapted",
    oracle="""
WITH cust_returns AS (
  SELECT c_nationkey AS nation, o_custkey,
         CAST(SUM(CAST(round(l_extendedprice * 10000) AS BIGINT))
              AS BIGINT) AS ret_s
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  WHERE l_returnflag = 'R'
  GROUP BY 1, 2
),
nation_avg AS (
  SELECT nation,
         CAST(SUM(ret_s) AS DOUBLE) / COUNT(ret_s) AS avg_s
  FROM cust_returns GROUP BY nation
)
SELECT cr.o_custkey, cr.nation,
       CAST(cr.ret_s AS DOUBLE) / 10000.0 AS ctr_total_return
FROM cust_returns cr
JOIN nation_avg na ON cr.nation = na.nation
WHERE CAST(cr.ret_s AS DOUBLE) > 1.2 * na.avg_s
ORDER BY cr.o_custkey
LIMIT 100
""",
)
def tpcds_q30_adapted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS Q30 (tpcds/q30.sql, sibling q81): customers whose
    return total exceeds 1.2x their STATE's average customer return
    total — the correlated above-group-average threshold
    (ctr1.ctr_total_return > (SELECT avg(ctr_total_return)*1.2 FROM
    ctr2 WHERE ctr1.ctr_state = ctr2.ctr_state)), decorrelated to a
    per-state aggregate joined back. Fixture roles: state ->
    customer nation, the returns fact -> 'R'-flag lineitems. The
    per-customer totals are exact scaled integers and the state
    average divides two exact numbers — the 1.2x comparison branches
    identically. Plan: one shuffle builds the per-customer table;
    the state average aggregates THAT (tiny) and broadcasts back."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    cr = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .filter(F.col("l_returnflag") == "R")
        .groupBy(
            F.col("c_nationkey").alias("nation"), "o_custkey"
        )
        .agg(
            F.sum(
                F.round(F.col("l_extendedprice") * 10000).cast("bigint")
            ).alias("ret_s")
        )
    )
    na = cr.groupBy("nation").agg(
        (
            F.sum("ret_s").cast("double") / F.count("ret_s")
        ).alias("avg_s")
    )
    return (
        cr.join(na, "nation")
        .filter(F.col("ret_s").cast("double") > 1.2 * F.col("avg_s"))
        .select(
            "o_custkey", "nation",
            (F.col("ret_s").cast("double") / 10000.0).alias(
                "ctr_total_return"
            ),
        )
        .orderBy("o_custkey")
        .limit(100)
    )


@register(
    "tpcds_q70_adapted",
    oracle="""
WITH nation_sales AS (
  SELECT c_nationkey AS nation,
         CAST(SUM(CAST(round(l_extendedprice * 10000) AS BIGINT))
              AS BIGINT) AS total_s
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  GROUP BY 1
),
top_nations AS (
  SELECT nation FROM (
    SELECT nation,
           rank() OVER (ORDER BY total_s DESC, nation) AS rnk
    FROM nation_sales
  ) r WHERE rnk <= 12
),
detail AS (
  SELECT c_nationkey AS nation, c_mktsegment AS segment,
         CAST(round(l_extendedprice * 10000) AS BIGINT) AS amt_s
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  WHERE c_nationkey IN (SELECT nation FROM top_nations)
),
agg AS (
  SELECT nation, segment,
         GROUPING(nation) + GROUPING(segment) AS lochierarchy,
         GROUPING(segment) AS g_seg,
         CAST(SUM(amt_s) AS DOUBLE) / 10000.0 AS total_sum
  FROM detail
  GROUP BY ROLLUP (nation, segment)
)
SELECT total_sum, nation, segment, lochierarchy,
       CAST(rank() OVER (
         PARTITION BY lochierarchy,
                      CASE WHEN g_seg = 0 THEN nation END
         ORDER BY total_sum DESC, segment NULLS FIRST
       ) AS BIGINT) AS rank_within_parent
FROM agg
ORDER BY lochierarchy DESC, nation NULLS FIRST, segment NULLS FIRST,
         rank_within_parent
""",
)
def tpcds_q70_adapted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS Q70 (tpcds/q70.sql): the RANK-FILTERED-SUBQUERY
    rollup — the main ROLLUP(state, county) report restricted to the
    TOP-k STATES, where the top-k set itself comes from a rank()
    window over a sales aggregate in a subquery (s_state IN (SELECT
    s_state FROM (... rank() over (partition by s_state...)) WHERE
    ranking <= 5)), plus the grouping-hierarchy rank-within-parent
    window over the rollup. Fixture roles: state -> customer nation
    (top 12 of 25), county -> c_mktsegment. Two window layers with
    an aggregate between them; sums exact via the scaled hop, ranks
    tie-broken deterministically. Plan: the top-k subquery runs over
    the nation aggregate (25 rows); its result semi-join-filters the
    detail before the rollup."""
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    base = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .select(
            F.col("c_nationkey").alias("nation"),
            F.col("c_mktsegment").alias("segment"),
            F.round(F.col("l_extendedprice") * 10000)
            .cast("bigint")
            .alias("amt_s"),
        )
    )
    nation_sales = base.groupBy("nation").agg(
        F.sum("amt_s").alias("total_s")
    )
    w_top = Window.orderBy(F.col("total_s").desc(), F.col("nation"))
    top_nations = (
        nation_sales.withColumn("rnk", F.rank().over(w_top))
        .filter(F.col("rnk") <= 12)
        .select("nation")
    )
    detail = base.join(top_nations, "nation", "left_semi")
    agg = detail.rollup("nation", "segment").agg(
        (F.sum("amt_s").cast("double") / 10000.0).alias("total_sum"),
        (F.grouping("nation") + F.grouping("segment"))
        .cast("bigint")
        .alias("lochierarchy"),
        F.grouping("segment").cast("bigint").alias("g_seg"),
    )
    w_rank = Window.partitionBy(
        "lochierarchy",
        F.when(F.col("g_seg") == 0, F.col("nation")),
    ).orderBy(F.col("total_sum").desc(), F.col("segment").asc_nulls_first())
    return (
        agg.select(
            "total_sum", "nation", "segment", "lochierarchy",
            F.rank().over(w_rank).cast("bigint").alias(
                "rank_within_parent"
            ),
        )
        .orderBy(
            F.col("lochierarchy").desc(),
            F.col("nation").asc_nulls_first(),
            F.col("segment").asc_nulls_first(),
            "rank_within_parent",
        )
    )


@register(
    "tpcds_q5_adapted",
    oracle=f"""
WITH detail AS (
  SELECT o_orderpriority AS channel,
         CASE WHEN l_returnflag = 'R' THEN 0
              ELSE CAST(round(l_extendedprice * 10000) AS BIGINT)
         END AS sales_s,
         CASE WHEN l_returnflag = 'R'
              THEN CAST(round(l_extendedprice * 10000) AS BIGINT)
              ELSE 0 END AS returns_s,
         CASE WHEN l_returnflag = 'R'
              THEN -CAST(round(l_extendedprice * l_discount * 10000)
                         AS BIGINT)
              ELSE CAST(round(l_extendedprice * (1 - l_discount)
                              * 10000) AS BIGINT)
         END AS profit_s
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  WHERE year(o_orderdate) = 1997
)
SELECT channel,
       CAST(grouping(channel) AS BIGINT) AS g,
       CAST(SUM(sales_s) AS DOUBLE) / 10000.0 AS sales,
       CAST(SUM(returns_s) AS DOUBLE) / 10000.0 AS returns_amt,
       CAST(SUM(profit_s) AS DOUBLE) / 10000.0 AS profit
FROM detail
GROUP BY ROLLUP (channel)
ORDER BY g, channel NULLS FIRST
""",
)
def tpcds_q5_adapted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS Q5 (tpcds/q05.sql): the channel profit-and-loss
    report — sales, returns, and net profit per channel via a UNION
    of sales rows (positive) and return rows (negative profit), then
    ROLLUP(channel) for the grand total. Fixture roles: the three
    channel fact+returns pairs -> priority-band orders with
    'R'-flag rows entering the returns/negative-profit columns
    (one fact pass; the reference's UNION of five scans collapses),
    profit -> extendedprice x (1-discount) for sales and the
    negated discount amount for returns. Conditional scaled-integer
    sums + grouping() totals — engine-exact."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    is_r = F.col("l_returnflag") == "R"
    amt_s = F.round(F.col("l_extendedprice") * 10000).cast("bigint")
    disc_s = F.round(
        F.col("l_extendedprice") * F.col("l_discount") * 10000
    ).cast("bigint")
    net_s = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000
    ).cast("bigint")
    detail = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .filter(F.year("o_orderdate") == 1997)
        .select(
            F.col("o_orderpriority").alias("channel"),
            F.when(is_r, F.lit(0)).otherwise(amt_s).alias("sales_s"),
            F.when(is_r, amt_s).otherwise(F.lit(0)).alias("returns_s"),
            F.when(is_r, -disc_s).otherwise(net_s).alias("profit_s"),
        )
    )
    return (
        detail.rollup("channel")
        .agg(
            F.grouping("channel").cast("bigint").alias("g"),
            (F.sum("sales_s").cast("double") / 10000.0).alias("sales"),
            (F.sum("returns_s").cast("double") / 10000.0).alias(
                "returns_amt"
            ),
            (F.sum("profit_s").cast("double") / 10000.0).alias("profit"),
        )
        .select("channel", "g", "sales", "returns_amt", "profit")
        .orderBy("g", F.col("channel").asc_nulls_first())
    )


@register(
    "tpcds_q22_adapted",
    oracle=f"""
SELECT p_type, p_brand, p_size,
       CAST(grouping(p_type) + grouping(p_brand)
            + grouping(p_size) AS BIGINT) AS g,
       {oracle_dec_avg('l_quantity', 'qoh')}
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE year(l_shipdate) = 1997
GROUP BY ROLLUP (p_type, p_brand, p_size)
ORDER BY qoh, p_type NULLS FIRST, p_brand NULLS FIRST,
         p_size NULLS FIRST
LIMIT 100
""",
)
def tpcds_q22_adapted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS Q22 (tpcds/q22.sql): the DEEP ROLLUP average — average
    quantity on hand over a FOUR-level item hierarchy rollup
    (product/brand/class/category), ordered by the average itself.
    Fixture roles: the hierarchy -> (p_type, p_brand, p_size)
    three levels plus the grand total; inventory quantity ->
    l_quantity over a shipdate year. The AVG rides the exact
    decimal hop at EVERY grouping level, so ordering by the average
    is deterministic; the LIMIT closes over the full NULLS FIRST
    hierarchy ordering."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .filter(F.year("l_shipdate") == 1997)
        .rollup("p_type", "p_brand", "p_size")
        .agg(
            (
                F.grouping("p_type")
                + F.grouping("p_brand")
                + F.grouping("p_size")
            ).cast("bigint").alias("g"),
            dec_avg("l_quantity", "qoh"),
        )
        .select("p_type", "p_brand", "p_size", "g", "qoh")
        .orderBy(
            "qoh",
            F.col("p_type").asc_nulls_first(),
            F.col("p_brand").asc_nulls_first(),
            F.col("p_size").asc_nulls_first(),
        )
        .limit(100)
    )


# --------------------------------------------------------------------------
# Batch 10 (round 8): the year-over-year self-joins, the share-of-group
# window report, the correlated-threshold window sum, and the
# ROLLUP+grouping report (tpcds/q11.sql, q74.sql, q89.sql, q92.sql,
# q27.sql).
# --------------------------------------------------------------------------


_Q11_YT = """
SELECT o_custkey AS custkey, CAST(year(o_orderdate) AS INT) AS yr,
       CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
            THEN 's' ELSE 'w' END AS sale_type,
       CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
         AS year_total
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE year(o_orderdate) IN (1996, 1997)
GROUP BY 1, 2, 3
"""


@register(
    "tpcds_q11_adapted",
    oracle=f"""
WITH year_total AS ({_Q11_YT})
SELECT s2.custkey
FROM year_total s1
JOIN year_total s2 ON s1.custkey = s2.custkey
JOIN year_total w1 ON s1.custkey = w1.custkey
JOIN year_total w2 ON s1.custkey = w2.custkey
WHERE s1.sale_type = 's' AND s2.sale_type = 's'
  AND w1.sale_type = 'w' AND w2.sale_type = 'w'
  AND s1.yr = 1996 AND s2.yr = 1997
  AND w1.yr = 1996 AND w2.yr = 1997
  AND s1.year_total > 0 AND w1.year_total > 0
  AND (CASE WHEN w1.year_total > 0
            THEN CAST(w2.year_total AS DOUBLE) / w1.year_total
            ELSE 0.0 END)
    > (CASE WHEN s1.year_total > 0
            THEN CAST(s2.year_total AS DOUBLE) / s1.year_total
            ELSE 0.0 END)
ORDER BY s2.custkey
LIMIT 100
""",
)
def tpcds_q11_adapted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS Q11 (tpcds/q11.sql): the year-over-year customer
    self-join — one year_total CTE unioning two channels, then FOUR
    instances of it joined on customer, keeping customers whose web
    growth ratio beat their store growth ratio. Fixture roles:
    store/web channels -> priority bands, d_year -> order year,
    ss_ext_list_price - ss_ext_discount_amt -> l_extendedprice in
    exact cents so the growth ratios are single divisions of exact
    integers (identical IEEE result on both engines).
    Plan: year_total is customer x year x channel sized (tiny next to
    the fact) and feeds FOUR join instances, so it is persisted — one
    fact scan builds it, and all four instances broadcast or
    co-partition off the cached aggregate."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    yt = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .filter(F.year("o_orderdate").isin(1996, 1997))
        .groupBy(
            F.col("o_custkey").alias("custkey"),
            F.year("o_orderdate").cast("int").alias("yr"),
            F.when(
                F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"),
                F.lit("s"),
            ).otherwise(F.lit("w")).alias("sale_type"),
        )
        .agg(
            F.sum(
                F.round(F.col("l_extendedprice") * 100).cast("bigint")
            ).cast("bigint").alias("year_total")
        )
        .persist()
    )

    def inst(alias, st, yr):
        return (
            yt.filter((F.col("sale_type") == st) & (F.col("yr") == yr))
            .alias(alias)
        )

    s1, s2 = inst("s1", "s", 1996), inst("s2", "s", 1997)
    w1, w2 = inst("w1", "w", 1996), inst("w2", "w", 1997)

    def ratio(num, den):
        return F.when(
            F.col(f"{den}.year_total") > 0,
            F.col(f"{num}.year_total").cast("double")
            / F.col(f"{den}.year_total"),
        ).otherwise(F.lit(0.0))

    return (
        s1.join(s2, F.col("s1.custkey") == F.col("s2.custkey"))
        .join(w1, F.col("s1.custkey") == F.col("w1.custkey"))
        .join(w2, F.col("s1.custkey") == F.col("w2.custkey"))
        .filter(
            (F.col("s1.year_total") > 0)
            & (F.col("w1.year_total") > 0)
            & (ratio("w2", "w1") > ratio("s2", "s1"))
        )
        .select(F.col("s2.custkey").alias("custkey"))
        .orderBy("custkey")
        .limit(100)
    )


@register(
    "tpcds_q74_adapted",
    oracle=f"""
WITH year_total AS (
SELECT o_custkey AS custkey, CAST(year(o_orderdate) AS INT) AS yr,
       CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
            THEN 's' ELSE 'w' END AS sale_type,
       CAST(SUM(CAST(l_quantity AS BIGINT)) AS DOUBLE)
         / COUNT(*) AS year_avg
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE year(o_orderdate) IN (1996, 1997)
GROUP BY 1, 2, 3
)
SELECT s2.custkey, round(s2.year_avg, 9) AS s_avg,
       round(w2.year_avg, 9) AS w_avg
FROM year_total s1
JOIN year_total s2 ON s1.custkey = s2.custkey
JOIN year_total w1 ON s1.custkey = w1.custkey
JOIN year_total w2 ON s1.custkey = w2.custkey
WHERE s1.sale_type = 's' AND s2.sale_type = 's'
  AND w1.sale_type = 'w' AND w2.sale_type = 'w'
  AND s1.yr = 1996 AND s2.yr = 1997
  AND w1.yr = 1996 AND w2.yr = 1997
  AND s1.year_avg > 0 AND w1.year_avg > 0
  AND (CASE WHEN w1.year_avg > 0 THEN w2.year_avg / w1.year_avg
            ELSE NULL END)
    > (CASE WHEN s1.year_avg > 0 THEN s2.year_avg / s1.year_avg
            ELSE NULL END)
ORDER BY s2.custkey
LIMIT 100
""",
)
def tpcds_q74_adapted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS Q74 (tpcds/q74.sql): Q11's sibling — the same
    four-instance year-over-year customer self-join, but on AVERAGE
    sales with a NULL-propagating ratio CASE (ELSE NULL: a customer
    with no first-year web sales drops out instead of comparing
    against 0). The average is a single division of an exact integer
    sum by a count — identical IEEE doubles on both engines. Same
    persist-the-CTE plan note as q11."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    yt = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .filter(F.year("o_orderdate").isin(1996, 1997))
        .groupBy(
            F.col("o_custkey").alias("custkey"),
            F.year("o_orderdate").cast("int").alias("yr"),
            F.when(
                F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"),
                F.lit("s"),
            ).otherwise(F.lit("w")).alias("sale_type"),
        )
        .agg(
            (
                F.sum(F.col("l_quantity").cast("bigint")).cast("double")
                / F.count(F.lit(1))
            ).alias("year_avg")
        )
        .persist()
    )

    def inst(alias, st, yr):
        return (
            yt.filter((F.col("sale_type") == st) & (F.col("yr") == yr))
            .alias(alias)
        )

    s1, s2 = inst("s1", "s", 1996), inst("s2", "s", 1997)
    w1, w2 = inst("w1", "w", 1996), inst("w2", "w", 1997)

    def ratio(num, den):
        return F.when(
            F.col(f"{den}.year_avg") > 0,
            F.col(f"{num}.year_avg") / F.col(f"{den}.year_avg"),
        ).otherwise(F.lit(None).cast("double"))

    return (
        s1.join(s2, F.col("s1.custkey") == F.col("s2.custkey"))
        .join(w1, F.col("s1.custkey") == F.col("w1.custkey"))
        .join(w2, F.col("s1.custkey") == F.col("w2.custkey"))
        .filter(
            (F.col("s1.year_avg") > 0)
            & (F.col("w1.year_avg") > 0)
            & (ratio("w2", "w1") > ratio("s2", "s1"))
        )
        .select(
            F.col("s2.custkey").alias("custkey"),
            F.round(F.col("s2.year_avg"), 9).alias("s_avg"),
            F.round(F.col("w2.year_avg"), 9).alias("w_avg"),
        )
        .orderBy("custkey")
        .limit(100)
    )


@register(
    "tpcds_q89_adapted",
    oracle="""
WITH monthly AS (
  SELECT p_brand, p_type, s_name,
         CAST(month(o_orderdate) AS INT) AS moy,
         CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT))
              AS BIGINT) AS sum_s
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN part ON l_partkey = p_partkey
  JOIN supplier ON l_suppkey = s_suppkey
  WHERE year(o_orderdate) = 1997
    AND p_type IN ('PROMO', 'STANDARD', 'ECONOMY')
  GROUP BY p_brand, p_type, s_name, month(o_orderdate)
),
win AS (
  SELECT *, avg(CAST(sum_s AS DOUBLE))
              OVER (PARTITION BY p_brand, p_type, s_name)
              AS avg_monthly
  FROM monthly
)
SELECT p_brand, p_type, s_name, moy,
       round(sum_s / 100.0, 2) AS sum_sales,
       round(avg_monthly / 100.0, 4) AS avg_monthly_sales
FROM win
WHERE CASE WHEN avg_monthly <> 0
           THEN abs(sum_s - avg_monthly) / avg_monthly
           ELSE NULL END > 0.1
ORDER BY sum_s - avg_monthly, s_name, p_brand, p_type, moy
LIMIT 100
""",
)
def tpcds_q89_adapted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS Q89 (tpcds/q89.sql): monthly sales vs the line's
    average month — an aggregate feeding a window aggregate OVER the
    non-time keys, then a deviation filter (> 10% off the average).
    Fixture roles: (i_category, i_brand, s_store_name) ->
    (p_type, p_brand, s_name); d_moy -> order month. The window
    average runs over exact bigint cents (window sum of ints is
    order-free; one division) so the 0.1 branch is engine-identical.
    Plan: one shuffle for the group-by, one window pass over the
    aggregate (months x brands sized) — no second fact scan; the
    deviation ORDER BY carries full tiebreaks under the LIMIT."""
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    part = load_table(spark, sf_dir, "part")
    supp = load_table(spark, sf_dir, "supplier")
    monthly = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(part, li.l_partkey == part.p_partkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .filter(
            (F.year("o_orderdate") == 1997)
            & F.col("p_type").isin("PROMO", "STANDARD", "ECONOMY")
        )
        .groupBy(
            "p_brand", "p_type", "s_name",
            F.month("o_orderdate").cast("int").alias("moy"),
        )
        .agg(
            F.sum(
                F.round(F.col("l_extendedprice") * 100).cast("bigint")
            ).cast("bigint").alias("sum_s")
        )
    )
    w = Window.partitionBy("p_brand", "p_type", "s_name")
    win = monthly.withColumn(
        "avg_monthly", F.avg(F.col("sum_s").cast("double")).over(w)
    )
    dev = F.when(
        F.col("avg_monthly") != 0,
        F.abs(F.col("sum_s") - F.col("avg_monthly"))
        / F.col("avg_monthly"),
    ).otherwise(F.lit(None))
    return (
        win.filter(dev > 0.1)
        .select(
            "p_brand", "p_type", "s_name", "moy",
            F.round(F.col("sum_s") / 100.0, 2).alias("sum_sales"),
            F.round(F.col("avg_monthly") / 100.0, 4).alias(
                "avg_monthly_sales"
            ),
            (F.col("sum_s") - F.col("avg_monthly")).alias("__diff"),
        )
        .orderBy("__diff", "s_name", "p_brand", "p_type", "moy")
        .limit(100)
        .drop("__diff")
    )


@register(
    "tpcds_q92_adapted",
    oracle="""
WITH windowed AS (
  SELECT l_partkey,
         CAST(round(l_extendedprice * l_discount * 10000) AS BIGINT)
           AS disc_s
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  WHERE o_orderdate BETWEEN DATE '1997-01-27'
                        AND DATE '1997-01-27' + INTERVAL 90 DAY
),
brand_parts AS (
  SELECT p_partkey FROM part WHERE p_brand = 'Brand#21'
),
thresholds AS (
  SELECT l_partkey,
         1.3 * (CAST(SUM(disc_s) AS DOUBLE) / COUNT(*)) AS floor_s
  FROM windowed GROUP BY l_partkey
)
SELECT round(CAST(SUM(w.disc_s) AS DOUBLE) / 10000.0, 4)
         AS excess_discount
FROM windowed w
JOIN brand_parts b ON w.l_partkey = b.p_partkey
JOIN thresholds t ON w.l_partkey = t.l_partkey
WHERE w.disc_s > t.floor_s
""",
)
def tpcds_q92_adapted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS Q92 (tpcds/q92.sql): 'excess discount' over a 90-day
    window restricted to ONE manufacturer's items — the correlated
    per-item 1.3x-average threshold decorrelates to an aggregate
    joined back (TransformCorrelatedScalarAggregationToJoin), with
    the brand restriction applied as a semi filter BEFORE the
    threshold join. Differs from q32's shape by the date-window scan
    predicate + tiny broadcast brand list + single-row output.
    Exact: discounts ride scaled bigints; the threshold is one
    division. Plan: thresholds is item-sized (broadcastable); the
    brand list prunes the probe early."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    part = load_table(spark, sf_dir, "part")
    windowed = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .filter(
            F.col("o_orderdate").between("1997-01-27", "1997-04-27")
        )
        .select(
            "l_partkey",
            F.round(
                F.col("l_extendedprice") * F.col("l_discount") * 10000
            ).cast("bigint").alias("disc_s"),
        )
    )
    brand_parts = part.filter(F.col("p_brand") == "Brand#21").select(
        "p_partkey"
    )
    thresholds = windowed.groupBy("l_partkey").agg(
        (
            1.3
            * (F.sum("disc_s").cast("double") / F.count(F.lit(1)))
        ).alias("floor_s")
    )
    return (
        windowed.join(
            F.broadcast(brand_parts),
            windowed.l_partkey == brand_parts.p_partkey,
        )
        .join(thresholds, "l_partkey")
        .filter(F.col("disc_s") > F.col("floor_s"))
        .agg(
            F.round(
                F.sum("disc_s").cast("double") / 10000.0, 4
            ).alias("excess_discount")
        )
    )


@register(
    "tpcds_q27_adapted",
    oracle="""
SELECT p_brand, n_name,
       CAST(grouping(n_name) AS BIGINT) AS g_state,
       CAST(SUM(CAST(l_quantity AS BIGINT)) AS DOUBLE) / COUNT(l_quantity)
         AS agg1,
       CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS DOUBLE)
         / COUNT(*) / 100.0 AS agg2,
       CAST(SUM(CAST(round(l_discount * 10000) AS BIGINT)) AS DOUBLE)
         / COUNT(*) / 10000.0 AS agg3,
       CAST(SUM(CAST(round(l_tax * 10000) AS BIGINT)) AS DOUBLE)
         / COUNT(*) / 10000.0 AS agg4
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN part ON l_partkey = p_partkey
WHERE c_mktsegment = 'BUILDING' AND year(o_orderdate) = 1997
GROUP BY ROLLUP (p_brand, n_name)
ORDER BY p_brand NULLS FIRST, n_name NULLS FIRST
""",
)
def tpcds_q27_adapted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS Q27 (tpcds/q27.sql): demographic-filtered star with
    ROLLUP (item, state) + GROUPING() flag + four averages. Fixture
    roles: cd_* demographic filters -> customer mktsegment, s_state
    -> customer nation name, the four ss_* averages -> quantity /
    extendedprice / discount / tax, each an exact-integer sum over a
    single division so both engines emit identical doubles.
    Plan: dims broadcast; ROLLUP is Spark's Expand over one shuffle."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    part = load_table(spark, sf_dir, "part")

    def exact_avg(col, scale, out):
        s = F.sum(F.round(F.col(col) * scale).cast("bigint"))
        return (
            s.cast("double") / F.count(F.lit(1)) / float(scale)
        ).alias(out)

    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(part, li.l_partkey == part.p_partkey)
        .filter(
            (F.col("c_mktsegment") == "BUILDING")
            & (F.year("o_orderdate") == 1997)
        )
        .rollup("p_brand", "n_name")
        .agg(
            F.grouping("n_name").cast("bigint").alias("g_state"),
            (
                F.sum(F.col("l_quantity").cast("bigint")).cast("double")
                / F.count("l_quantity")
            ).alias("agg1"),
            exact_avg("l_extendedprice", 100, "agg2"),
            exact_avg("l_discount", 10000, "agg3"),
            exact_avg("l_tax", 10000, "agg4"),
        )
        .select(
            "p_brand", "n_name", "g_state",
            "agg1", "agg2", "agg3", "agg4",
        )
        .orderBy(
            F.col("p_brand").asc_nulls_first(),
            F.col("n_name").asc_nulls_first(),
        )
    )


# --------------------------------------------------------------------------
# Batch 11 (round 8): the bought-vs-home mismatch report, the
# cross-channel cohort revenue buckets, the returns-netted channel P&L,
# the EXISTS-gated demographic report, and the inventory date-logic
# join (tpcds/q46.sql, q54.sql, q80.sql, q35.sql, q72.sql).
# --------------------------------------------------------------------------


@register(
    "tpcds_q46_adapted",
    oracle=f"""
WITH dn AS (
  SELECT o_orderkey AS ticket, o_custkey AS custkey,
         n_name AS bought_nation,
         {oracle_dec_sum('l_extendedprice * l_discount', 'amt')},
         {oracle_dec_sum('l_extendedprice', 'profit')}
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  WHERE date_diff('day', DATE '1992-01-05',
                  CAST(o_orderdate AS DATE)) % 7 IN (0, 6)
    AND o_orderpriority IN ('1-URGENT', '2-HIGH')
    AND n_name IN ('NATION_1', 'NATION_2', 'NATION_7', 'NATION_12', 'NATION_19')
  GROUP BY o_orderkey, o_custkey, n_name
)
SELECT c_name, cn.n_name AS cust_nation, dn.bought_nation,
       dn.ticket, dn.amt, dn.profit
FROM dn
JOIN customer ON dn.custkey = c_custkey
JOIN nation cn ON c_nationkey = cn.n_nationkey
WHERE cn.n_name <> dn.bought_nation
ORDER BY c_name, cust_nation, bought_nation, ticket
LIMIT 100
""",
)
def tpcds_q46_adapted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS Q46 (tpcds/q46.sql): weekend purchases aggregated per
    (ticket, customer, bought-city), then joined to the customer's
    CURRENT address keeping only mismatches (bought somewhere other
    than home). Fixture roles: ca_city -> nation names (bought =
    supplier's nation, current = customer's), weekend d_dow IN (6,0)
    -> engine-neutral days-since-Sunday-epoch % 7 IN (0, 6),
    hd_dep_count/vehicle filter -> priority bands, s_city list ->
    nation list. Plan: the inner aggregate shrinks the fact before
    the customer join; nation dims broadcast; total-order LIMIT."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    cust = load_table(spark, sf_dir, "customer")
    days = F.datediff(F.to_date("o_orderdate"), F.lit("1992-01-05"))
    dn = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .filter(
            (days % 7).isin(0, 6)
            & F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
            & F.col("n_name").isin(
                "NATION_1", "NATION_2", "NATION_7", "NATION_12",
                "NATION_19",
            )
        )
        .groupBy(
            F.col("o_orderkey").alias("ticket"),
            F.col("o_custkey").alias("custkey"),
            F.col("n_name").alias("bought_nation"),
        )
        .agg(
            dec_sum("l_extendedprice * l_discount", "amt"),
            dec_sum("l_extendedprice", "profit"),
        )
    )
    cn = nation.alias("cn")
    return (
        dn.join(cust, dn.custkey == cust.c_custkey)
        .join(
            F.broadcast(cn),
            cust.c_nationkey == F.col("cn.n_nationkey"),
        )
        .filter(F.col("cn.n_name") != F.col("bought_nation"))
        .select(
            "c_name",
            F.col("cn.n_name").alias("cust_nation"),
            "bought_nation", "ticket", "amt", "profit",
        )
        .orderBy("c_name", "cust_nation", "bought_nation", "ticket")
        .limit(100)
    )


@register(
    "tpcds_q54_adapted",
    oracle="""
WITH my_customers AS (
  SELECT DISTINCT o_custkey AS custkey
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN part ON l_partkey = p_partkey
  WHERE p_type = 'PROMO'
    AND year(o_orderdate) = 1996 AND month(o_orderdate) = 3
    AND o_orderpriority IN ('1-URGENT', '2-HIGH', '4-NOT SPECIFIED',
                            '5-LOW')
),
my_revenue AS (
  SELECT c.c_custkey AS custkey,
         CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT))
              AS BIGINT) AS revenue_s
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer c ON o_custkey = c.c_custkey
  JOIN supplier s ON l_suppkey = s.s_suppkey
  WHERE c.c_custkey IN (SELECT custkey FROM my_customers)
    AND c.c_nationkey = s.s_nationkey
    AND year(o_orderdate) = 1996
    AND month(o_orderdate) BETWEEN 4 AND 6
  GROUP BY c.c_custkey
)
SELECT CAST(floor(revenue_s / 500000.0) AS BIGINT) AS segment,
       CAST(COUNT(*) AS BIGINT) AS num_customers
FROM my_revenue
GROUP BY 1
ORDER BY segment
LIMIT 100
""",
)
def tpcds_q54_adapted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS Q54 (tpcds/q54.sql): cross-channel cohort — customers
    who bought the target category in the seed month (union of two
    channels -> DISTINCT), their LOCAL revenue over the following
    quarter (customer county/state = store county/state), bucketed
    into $5000 segments with a count per bucket. Fixture roles:
    i_category/i_class -> p_type PROMO; the channel union -> all
    priority bands; county+state locality -> customer nation =
    supplier nation; the month_seq+1..+3 scalar subqueries -> the
    literal following quarter (the fixture's date dim IS the
    calendar). Plan: the cohort is DISTINCT customer keys
    (broadcastable semi join); the revenue aggregate shuffles once on
    customer; buckets are a second tiny aggregate."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    part = load_table(spark, sf_dir, "part")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    cohort = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(part, li.l_partkey == part.p_partkey)
        .filter(
            (F.col("p_type") == "PROMO")
            & (F.year("o_orderdate") == 1996)
            & (F.month("o_orderdate") == 3)
            & F.col("o_orderpriority").isin(
                "1-URGENT", "2-HIGH", "4-NOT SPECIFIED", "5-LOW"
            )
        )
        .select(F.col("o_custkey").alias("custkey"))
        .distinct()
    )
    revenue = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .filter(
            (cust.c_nationkey == supp.s_nationkey)
            & (F.year("o_orderdate") == 1996)
            & F.month("o_orderdate").between(4, 6)
        )
        .join(
            F.broadcast(cohort),
            cust.c_custkey == cohort.custkey,
            "left_semi",
        )
        .groupBy(F.col("c_custkey").alias("custkey"))
        .agg(
            F.sum(
                F.round(F.col("l_extendedprice") * 100).cast("bigint")
            ).cast("bigint").alias("revenue_s")
        )
    )
    return (
        revenue.groupBy(
            F.floor(F.col("revenue_s") / 500000.0)
            .cast("bigint")
            .alias("segment")
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("num_customers"))
        .orderBy("segment")
        .limit(100)
    )


@register(
    "tpcds_q80_adapted",
    oracle=f"""
WITH sales AS (
  SELECT o_orderpriority AS pr, l_orderkey, l_partkey, l_suppkey,
         l_extendedprice, l_discount
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE l_returnflag <> 'R'
    AND o_orderdate BETWEEN DATE '1997-03-01'
                        AND DATE '1997-03-01' + INTERVAL 30 DAY
),
rets AS (
  SELECT l_orderkey, l_partkey,
         {oracle_dec_sum('l_extendedprice', 'ret_amt')}
  FROM lineitem WHERE l_returnflag = 'R'
  GROUP BY l_orderkey, l_partkey
),
channels AS (
  SELECT CASE WHEN s.pr IN ('1-URGENT', '2-HIGH') THEN 'store'
              WHEN s.pr = '3-MEDIUM' THEN 'catalog'
              ELSE 'web' END AS channel,
         sup.s_name AS id,
         CAST(round(s.l_extendedprice * 100) AS BIGINT) AS sales_s,
         CAST(round(COALESCE(r.ret_amt, 0) * 100) AS BIGINT) AS ret_s,
         CAST(round(s.l_extendedprice * (1 - s.l_discount) * 100)
              AS BIGINT)
           - CAST(round(COALESCE(r.ret_amt, 0) * 100) AS BIGINT)
           AS profit_s
  FROM sales s
  JOIN supplier sup ON s.l_suppkey = sup.s_suppkey
  JOIN part p ON s.l_partkey = p.p_partkey
  LEFT JOIN rets r ON s.l_orderkey = r.l_orderkey
                  AND s.l_partkey = r.l_partkey
  WHERE p.p_retailprice > 905
)
SELECT channel, id,
       round(SUM(sales_s) / 100.0, 2) AS sales,
       round(SUM(ret_s) / 100.0, 2) AS returns,
       round(SUM(profit_s) / 100.0, 2) AS profit
FROM channels
GROUP BY ROLLUP (channel, id)
ORDER BY channel NULLS FIRST, id NULLS FIRST
LIMIT 100
""",
)
def tpcds_q80_adapted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS Q80 (tpcds/q80.sql): returns-netted channel P&L — each
    channel LEFT JOINs its returns fact (COALESCE-netted sales /
    returns / profit), a 30-day date window and a price dim filter,
    then ROLLUP (channel, id). Differs from q5's channel rollup by
    the OUTER-join netting against a second fact. Fixture roles:
    returns fact -> 'R'-flagged lineitems keyed (orderkey, partkey);
    channels -> priority bands; i_current_price > 50 ->
    p_retailprice > 905 (the synthetic price floor is 900 at every SF). Exact: all three measures ride bigint
    cents. Plan: returns pre-aggregates to the join key before the
    outer join (no fact x fact fanout); dims broadcast; one rollup
    shuffle."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    supp = load_table(spark, sf_dir, "supplier")
    part = load_table(spark, sf_dir, "part")
    sales = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .filter(
            (F.col("l_returnflag") != "R")
            & F.col("o_orderdate").between("1997-03-01", "1997-03-31")
        )
        .select(
            F.col("o_orderpriority").alias("pr"),
            "l_orderkey", "l_partkey", "l_suppkey",
            "l_extendedprice", "l_discount",
        )
    )
    rets = (
        li.filter(F.col("l_returnflag") == "R")
        .groupBy("l_orderkey", "l_partkey")
        .agg(dec_sum("l_extendedprice", "ret_amt"))
        .withColumnRenamed("l_orderkey", "r_orderkey")
        .withColumnRenamed("l_partkey", "r_partkey")
    )
    channel = (
        F.when(F.col("pr").isin("1-URGENT", "2-HIGH"), F.lit("store"))
        .when(F.col("pr") == "3-MEDIUM", F.lit("catalog"))
        .otherwise(F.lit("web"))
    )
    ret_s = F.round(F.coalesce(F.col("ret_amt"), F.lit(0)) * 100).cast(
        "bigint"
    )
    channels = (
        sales.join(supp, sales.l_suppkey == supp.s_suppkey)
        .join(part, sales.l_partkey == part.p_partkey)
        .filter(F.col("p_retailprice") > 905)
        .join(
            rets,
            (sales.l_orderkey == rets.r_orderkey)
            & (sales.l_partkey == rets.r_partkey),
            "left",
        )
        .select(
            channel.alias("channel"),
            F.col("s_name").alias("id"),
            F.round(F.col("l_extendedprice") * 100)
            .cast("bigint").alias("sales_s"),
            ret_s.alias("ret_s"),
            (
                F.round(
                    F.col("l_extendedprice")
                    * (1 - F.col("l_discount")) * 100
                ).cast("bigint")
                - ret_s
            ).alias("profit_s"),
        )
    )
    return (
        channels.rollup("channel", "id")
        .agg(
            F.round(F.sum("sales_s") / 100.0, 2).alias("sales"),
            F.round(F.sum("ret_s") / 100.0, 2).alias("returns"),
            F.round(F.sum("profit_s") / 100.0, 2).alias("profit"),
        )
        .orderBy(
            F.col("channel").asc_nulls_first(),
            F.col("id").asc_nulls_first(),
        )
        .limit(100)
    )


@register(
    "tpcds_q35_adapted",
    oracle="""
SELECT n_name, c_mktsegment,
       CAST(COUNT(*) AS BIGINT) AS cnt,
       round(MIN(c_acctbal), 2) AS min_bal,
       round(MAX(c_acctbal), 2) AS max_bal,
       round(CAST(SUM(CAST(round(c_acctbal * 100) AS BIGINT)) AS DOUBLE)
             / COUNT(*) / 100.0, 6) AS avg_bal
FROM customer c
JOIN nation ON c_nationkey = n_nationkey
WHERE EXISTS (
    SELECT 1 FROM orders o
    WHERE o.o_custkey = c.c_custkey
      AND o.o_orderpriority IN ('1-URGENT', '2-HIGH')
      AND year(o.o_orderdate) = 1996)
  AND (EXISTS (
    SELECT 1 FROM orders o
    WHERE o.o_custkey = c.c_custkey
      AND o.o_orderpriority = '5-LOW'
      AND year(o.o_orderdate) = 1996)
   OR EXISTS (
    SELECT 1 FROM orders o
    WHERE o.o_custkey = c.c_custkey
      AND o.o_orderpriority = '3-MEDIUM'
      AND year(o.o_orderdate) = 1996))
GROUP BY n_name, c_mktsegment
ORDER BY n_name, c_mktsegment
""",
)
def tpcds_q35_adapted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS Q35 (tpcds/q35.sql): the EXISTS-gated demographic
    report — customers must have store activity AND (web OR catalog)
    activity in the window, then count/min/max/avg per demographic
    cell. Fixture roles: the three channels -> priority bands, the
    demographic columns -> (nation, mktsegment, acctbal). The OR of
    two EXISTS lowers to a union-deduped semi join (Presto lowers
    through TransformExistsApplyToLateralNode + semi joins — Spark
    plans the same shape). avg rides exact cents / count.
    Plan: three semi-join build sides are year-filtered order keys
    (small); the outer customer scan survives once."""
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    orders = load_table(spark, sf_dir, "orders")
    o96 = orders.filter(F.year("o_orderdate") == 1996)

    def keys(pred):
        return o96.filter(pred).select(
            F.col("o_custkey").alias("k")
        )

    store_k = keys(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
    web_k = keys(F.col("o_orderpriority") == "5-LOW")
    cat_k = keys(F.col("o_orderpriority") == "3-MEDIUM")
    either = web_k.union(cat_k)
    return (
        cust.join(
            store_k, cust.c_custkey == store_k.k, "left_semi"
        )
        .join(either, cust.c_custkey == either.k, "left_semi")
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("n_name", "c_mktsegment")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("cnt"),
            F.round(F.min("c_acctbal"), 2).alias("min_bal"),
            F.round(F.max("c_acctbal"), 2).alias("max_bal"),
            F.round(
                F.sum(
                    F.round(F.col("c_acctbal") * 100).cast("bigint")
                ).cast("double")
                / F.count(F.lit(1))
                / 100.0,
                6,
            ).alias("avg_bal"),
        )
        .orderBy("n_name", "c_mktsegment")
    )


@register(
    "tpcds_q72_adapted",
    oracle="""
WITH sale AS (
  SELECT l_orderkey, l_partkey, l_suppkey, l_quantity, l_shipdate,
         o_orderdate
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE l_returnflag <> 'R' AND year(o_orderdate) = 1996
),
inv AS (
  SELECT l_partkey AS inv_partkey, l_quantity AS inv_qty,
         CAST(floor(date_diff('day', DATE '1992-01-05',
                    CAST(l_shipdate AS DATE)) / 7) AS BIGINT) AS inv_wk
  FROM lineitem WHERE l_returnflag = 'R'
),
promo AS (SELECT p_partkey AS promo_key FROM part
          WHERE p_type = 'PROMO'),
joined AS (
  SELECT p.p_brand, n.n_name AS warehouse,
         CAST(floor(date_diff('day', DATE '1992-01-05',
                    CAST(s.o_orderdate AS DATE)) / 7) AS BIGINT)
           AS wk_seq,
         pr.promo_key
  FROM sale s
  JOIN inv ON s.l_partkey = inv.inv_partkey
          AND inv.inv_wk = CAST(floor(date_diff('day',
                DATE '1992-01-05', CAST(s.o_orderdate AS DATE)) / 7)
                AS BIGINT)
          AND inv.inv_qty < s.l_quantity
  JOIN part p ON s.l_partkey = p.p_partkey
  JOIN supplier sup ON s.l_suppkey = sup.s_suppkey
  JOIN nation n ON sup.s_nationkey = n.n_nationkey
  LEFT JOIN promo pr ON s.l_partkey = pr.promo_key
  WHERE CAST(s.l_shipdate AS DATE)
        > CAST(s.o_orderdate AS DATE) + INTERVAL 5 DAY
)
SELECT p_brand, warehouse, wk_seq,
       CAST(SUM(CASE WHEN promo_key IS NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS no_promo,
       CAST(SUM(CASE WHEN promo_key IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS promo,
       CAST(COUNT(*) AS BIGINT) AS total_cnt
FROM joined
GROUP BY p_brand, warehouse, wk_seq
ORDER BY total_cnt DESC, p_brand, warehouse, wk_seq
LIMIT 100
""",
)
def tpcds_q72_adapted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS Q72 (tpcds/q72.sql): the inventory date-logic join —
    sales joined to INVENTORY rows of the same item in the SAME WEEK
    with on-hand quantity below the ordered quantity, a cross-table
    date inequality (ship date > order date + 5 days), and a LEFT
    JOIN against the promotion dim to split promo/no-promo counts.
    Fixture roles: inventory -> 'R'-flagged lineitems (item, week,
    quantity), warehouse -> supplier nation, the three date_dim
    roles -> engine-neutral week arithmetic on
    orderdate/shipdate, promotion -> PROMO-typed parts.
    Plan: the sale-inventory join keys on (partkey, week) — an
    equi-join Catalyst shuffles on both keys with the quantity
    inequality as residual (the reference's planner does exactly
    this split at ExtractCommonPredicates/EqualityInference); promo
    is a broadcast LEFT JOIN; one aggregate shuffle after."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    part = load_table(spark, sf_dir, "part")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")

    def week_of(col):
        return F.floor(
            F.datediff(F.to_date(col), F.lit("1992-01-05")) / 7
        ).cast("bigint")

    sale = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .filter(
            (F.col("l_returnflag") != "R")
            & (F.year("o_orderdate") == 1996)
        )
        .select(
            "l_orderkey", "l_partkey", "l_suppkey", "l_quantity",
            "l_shipdate", "o_orderdate",
        )
    )
    inv = (
        li.filter(F.col("l_returnflag") == "R")
        .select(
            F.col("l_partkey").alias("inv_partkey"),
            F.col("l_quantity").alias("inv_qty"),
            week_of("l_shipdate").alias("inv_wk"),
        )
    )
    promo = part.filter(F.col("p_type") == "PROMO").select(
        F.col("p_partkey").alias("promo_key")
    )
    joined = (
        sale.join(
            inv,
            (sale.l_partkey == inv.inv_partkey)
            & (inv.inv_wk == week_of("o_orderdate"))
            & (inv.inv_qty < sale.l_quantity),
        )
        .join(part, sale.l_partkey == part.p_partkey)
        .join(supp, sale.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(
            F.broadcast(promo),
            sale.l_partkey == promo.promo_key,
            "left",
        )
        .filter(
            F.to_date("l_shipdate")
            > F.date_add(F.to_date("o_orderdate"), 5)
        )
        .select(
            "p_brand",
            F.col("n_name").alias("warehouse"),
            week_of("o_orderdate").alias("wk_seq"),
            "promo_key",
        )
    )
    return (
        joined.groupBy("p_brand", "warehouse", "wk_seq")
        .agg(
            F.sum(
                F.when(F.col("promo_key").isNull(), 1).otherwise(0)
            ).cast("bigint").alias("no_promo"),
            F.sum(
                F.when(F.col("promo_key").isNotNull(), 1).otherwise(0)
            ).cast("bigint").alias("promo"),
            F.count(F.lit(1)).cast("bigint").alias("total_cnt"),
        )
        .orderBy(
            F.col("total_cnt").desc(), "p_brand", "warehouse", "wk_seq"
        )
        .limit(100)
    )


# --------------------------------------------------------------------------
# Batch 12 (round 8): the INTERSECT-driven cross-channel monster, the
# deepest multi-join self-comparison, the correlated category-average
# filter, the EXISTS/NOT-EXISTS shipping report, and the narrow
# point-filter count (tpcds/q14_1.sql, q64.sql, q06.sql, q16.sql,
# q96.sql).
# --------------------------------------------------------------------------

_Q14_CH = {
    "store": ("'1-URGENT', '2-HIGH'", ["1-URGENT", "2-HIGH"]),
    "catalog": ("'3-MEDIUM'", ["3-MEDIUM"]),
    "web": ("'4-NOT SPECIFIED', '5-LOW'", ["4-NOT SPECIFIED", "5-LOW"]),
}


def _q14_channel_attr_sql(prios: str) -> str:
    return f"""
  SELECT DISTINCT p_brand, p_type
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  JOIN part ON l_partkey = p_partkey
  WHERE year(o_orderdate) BETWEEN 1995 AND 1997
    AND o_orderpriority IN ({prios})
"""


def _q14_branch_sql(channel: str, prios: str) -> str:
    return f"""
  SELECT '{channel}' AS channel, p_brand, p_type,
         CAST(SUM(CAST(round(l_quantity * l_extendedprice * 100)
                       AS BIGINT)) AS BIGINT) AS sales_s,
         CAST(COUNT(*) AS BIGINT) AS number_sales
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  JOIN part ON l_partkey = p_partkey
  WHERE year(o_orderdate) = 1997
    AND o_orderpriority IN ({prios})
    AND l_partkey IN (SELECT p_partkey FROM cross_items)
  GROUP BY p_brand, p_type
  HAVING CAST(SUM(CAST(round(l_quantity * l_extendedprice * 100)
                       AS BIGINT)) AS BIGINT)
         > (SELECT avg_s FROM avg_sales)
"""


@register(
    "tpcds_q14_adapted",
    oracle=f"""
WITH attrs AS (
  {_q14_channel_attr_sql(_Q14_CH['store'][0])}
  INTERSECT
  {_q14_channel_attr_sql(_Q14_CH['catalog'][0])}
  INTERSECT
  {_q14_channel_attr_sql(_Q14_CH['web'][0])}
),
cross_items AS (
  SELECT p_partkey FROM part
  JOIN attrs ON part.p_brand = attrs.p_brand
            AND part.p_type = attrs.p_type
),
avg_sales AS (
  SELECT CAST(SUM(CAST(round(l_quantity * l_extendedprice * 100)
                       AS BIGINT)) AS DOUBLE) / COUNT(*) AS avg_s
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE year(o_orderdate) BETWEEN 1995 AND 1997
),
y AS (
  {_q14_branch_sql('store', _Q14_CH['store'][0])}
  UNION ALL
  {_q14_branch_sql('catalog', _Q14_CH['catalog'][0])}
  UNION ALL
  {_q14_branch_sql('web', _Q14_CH['web'][0])}
)
SELECT channel, p_brand, p_type,
       round(SUM(sales_s) / 100.0, 2) AS sales,
       CAST(SUM(number_sales) AS BIGINT) AS number_sales
FROM y
GROUP BY ROLLUP (channel, p_brand, p_type)
ORDER BY channel NULLS FIRST, p_brand NULLS FIRST, p_type NULLS FIRST
LIMIT 100
""",
)
def tpcds_q14_adapted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS Q14 (tpcds/q14_1.sql): the INTERSECT-driven
    cross-channel monster — cross_items is the set of items whose
    attribute tuple sold in ALL THREE channels over three years
    (a 3-way INTERSECT joined back to the item dim), avg_sales is a
    scalar over the 3-channel union, and each channel's target-year
    aggregate keeps only cross_items with sales above that scalar,
    UNION ALL'd under a ROLLUP. Fixture roles: channels -> priority
    bands, (i_brand_id, i_class_id, i_category_id) -> (p_brand,
    p_type), quantity*list_price in exact cents so the HAVING
    threshold branches identically (bigint sum vs single-division
    double).
    Plan: cross_items and avg_sales are each consumed by all three
    branches -> both persisted (the reference materializes these
    CTEs); cross_items enters each branch as a broadcast semi join;
    Spark lowers INTERSECT to two left-semi joins over DISTINCT
    (ReplaceIntersectWithSemiJoin — the analog of the reference's
    ImplementIntersectAndExceptAsUnion lowering)."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    part = load_table(spark, sf_dir, "part")
    # The materialized 3-year slice every consumer reads — the
    # reference materializes exactly this via its CTEs. Seven fact
    # passes (3 attr sets + the scalar avg + 3 branches) collapse to
    # ONE scan + cached reads; the slice is projected to 6 columns.
    lo_slice = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(part, li.l_partkey == part.p_partkey)
        .filter(F.year("o_orderdate").between(1995, 1997))
        .select(
            "l_partkey", "p_brand", "p_type", "o_orderpriority",
            F.year("o_orderdate").alias("__yr"),
            F.round(
                F.col("l_quantity") * F.col("l_extendedprice") * 100
            ).cast("bigint").alias("qp_s"),
        )
        .persist()
    )
    # Materialize eagerly: the INTERSECT legs and branches schedule
    # concurrently, and a lazily-filled cache would recompute the
    # slice once per parallel consumer before it populates.
    lo_slice.count()
    sales_s = F.sum("qp_s").cast("bigint")

    def attrs(prios):
        return (
            lo_slice.filter(F.col("o_orderpriority").isin(*prios))
            .select("p_brand", "p_type")
            .distinct()
        )

    common = (
        attrs(_Q14_CH["store"][1])
        .intersect(attrs(_Q14_CH["catalog"][1]))
        .intersect(attrs(_Q14_CH["web"][1]))
    )
    cross_items = (
        part.join(common, ["p_brand", "p_type"])
        .select(F.col("p_partkey").alias("ci_key"))
        .persist()
    )
    avg_sales = (
        lo_slice.agg(
            (
                sales_s.cast("double") / F.count(F.lit(1))
            ).alias("avg_s")
        )
        .persist()
    )

    def branch(channel, prios):
        return (
            lo_slice.filter(
                (F.col("__yr") == 1997)
                & F.col("o_orderpriority").isin(*prios)
            )
            .join(
                F.broadcast(cross_items),
                F.col("l_partkey") == cross_items.ci_key,
                "left_semi",
            )
            .groupBy("p_brand", "p_type")
            .agg(
                sales_s.alias("sales_s"),
                F.count(F.lit(1)).cast("bigint").alias("number_sales"),
            )
            .crossJoin(F.broadcast(avg_sales))
            .filter(F.col("sales_s") > F.col("avg_s"))
            .select(
                F.lit(channel).alias("channel"),
                "p_brand", "p_type", "sales_s", "number_sales",
            )
        )

    y = (
        branch("store", _Q14_CH["store"][1])
        .unionAll(branch("catalog", _Q14_CH["catalog"][1]))
        .unionAll(branch("web", _Q14_CH["web"][1]))
    )
    return (
        y.rollup("channel", "p_brand", "p_type")
        .agg(
            F.round(F.sum("sales_s") / 100.0, 2).alias("sales"),
            F.sum("number_sales").cast("bigint").alias("number_sales"),
        )
        .orderBy(
            F.col("channel").asc_nulls_first(),
            F.col("p_brand").asc_nulls_first(),
            F.col("p_type").asc_nulls_first(),
        )
        .limit(100)
    )


@register(
    "tpcds_q64_adapted",
    oracle=f"""
WITH rets AS (
  SELECT l_partkey AS r_partkey, l_suppkey AS r_suppkey,
         l_extendedprice AS refund
  FROM lineitem WHERE l_returnflag = 'R'
),
cs_ui AS (
  SELECT s.l_partkey
  FROM lineitem s
  JOIN rets r ON s.l_partkey = r.r_partkey
             AND s.l_suppkey = r.r_suppkey
  WHERE s.l_returnflag <> 'R'
  GROUP BY s.l_partkey
  HAVING SUM(CAST(round(s.l_extendedprice * 100) AS BIGINT))
         > SUM(CAST(round(r.refund * 100) AS BIGINT))
),
cross_sales AS (
  SELECT p.p_name AS product_name, p.p_partkey AS item_sk,
         sup.s_name AS store_name, sn.n_name AS store_zip,
         year(o.o_orderdate) AS syear,
         CAST(COUNT(*) AS BIGINT) AS cnt,
         {oracle_dec_sum('s.l_extendedprice * (1 - s.l_discount)', 's1')},
         {oracle_dec_sum('s.l_extendedprice', 's2')},
         {oracle_dec_sum('s.l_extendedprice * s.l_discount', 's3')}
  FROM lineitem s
  JOIN rets r ON s.l_partkey = r.r_partkey
             AND s.l_suppkey = r.r_suppkey
  JOIN orders o ON s.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation cn ON c.c_nationkey = cn.n_nationkey
  JOIN supplier sup ON s.l_suppkey = sup.s_suppkey
  JOIN nation sn ON sup.s_nationkey = sn.n_nationkey
  JOIN part p ON s.l_partkey = p.p_partkey
  WHERE s.l_returnflag <> 'R'
    AND s.l_partkey IN (SELECT l_partkey FROM cs_ui)
    AND cn.n_name <> sn.n_name
    AND p.p_size BETWEEN 1 AND 50
  GROUP BY p.p_name, p.p_partkey, sup.s_name, sn.n_name,
           year(o.o_orderdate)
)
SELECT cs1.product_name, cs1.store_name, cs1.store_zip,
       cs1.cnt AS cnt1, cs1.s1 AS s11, cs1.s2 AS s21, cs1.s3 AS s31,
       cs2.cnt AS cnt2, cs2.s1 AS s12, cs2.s2 AS s22, cs2.s3 AS s32
FROM cross_sales cs1
JOIN cross_sales cs2 ON cs1.item_sk = cs2.item_sk
                    AND cs1.store_name = cs2.store_name
                    AND cs1.store_zip = cs2.store_zip
WHERE cs1.syear = 1996 AND cs2.syear = 1997
  AND cs2.cnt <= cs1.cnt
ORDER BY cs1.product_name, cs1.store_name, cs2.cnt,
         cs1.item_sk
LIMIT 100
""",
)
def tpcds_q64_adapted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS Q64 (tpcds/q64.sql): the deepest multi-join — a
    returns-heavy item filter CTE (sale > refund; the sale-return
    match keys on (item, warehouse) = (partkey, suppkey) — the
    fixture's synthetic returns rarely share a ticket), then an
    8-table join with DOUBLE-ROLE dimensions (customer's nation vs
    supplier's nation standing in for q64's cd1/cd2 + ad1/ad2 pairs,
    with the reference's cd1.marital <> cd2.marital mismatch
    becoming the nation mismatch), aggregated per (product, store,
    year) — finally SELF-JOINED across consecutive years keeping
    stores that sold the item at most as often in year 2. Exact
    money via the decimal hop; cs_ui's threshold in bigint cents.
    Plan: cs_ui is item-sized (broadcast semi); cross_sales feeds
    both self-join sides -> persisted (one pass over the deep
    join); dims broadcast; the self-join runs on the aggregate."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    supp = load_table(spark, sf_dir, "supplier")
    part = load_table(spark, sf_dir, "part")
    rets = (
        li.filter(F.col("l_returnflag") == "R")
        .select(
            F.col("l_partkey").alias("r_partkey"),
            F.col("l_suppkey").alias("r_suppkey"),
            F.col("l_extendedprice").alias("refund"),
        )
    )
    sales = li.filter(F.col("l_returnflag") != "R")
    sale_ret = sales.join(
        rets,
        (sales.l_partkey == rets.r_partkey)
        & (sales.l_suppkey == rets.r_suppkey),
    )
    cents = lambda c: F.round(c * 100).cast("bigint")  # noqa: E731
    cs_ui = (
        sale_ret.groupBy("l_partkey")
        .agg(
            F.sum(cents(F.col("l_extendedprice"))).alias("sale_s"),
            F.sum(cents(F.col("refund"))).alias("refund_s"),
        )
        .filter(F.col("sale_s") > F.col("refund_s"))
        .select(F.col("l_partkey").alias("ui_key"))
    )
    cn, sn = nation.alias("cn"), nation.alias("sn")
    cross_sales = (
        sale_ret.join(orders, sales.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(
            F.broadcast(cn),
            cust.c_nationkey == F.col("cn.n_nationkey"),
        )
        .join(supp, sales.l_suppkey == supp.s_suppkey)
        .join(
            F.broadcast(sn),
            supp.s_nationkey == F.col("sn.n_nationkey"),
        )
        .join(part, sales.l_partkey == part.p_partkey)
        .filter(
            (F.col("cn.n_name") != F.col("sn.n_name"))
            & F.col("p_size").between(1, 50)
        )
        .join(
            F.broadcast(cs_ui),
            F.col("l_partkey") == cs_ui.ui_key,
            "left_semi",
        )
        .groupBy(
            F.col("p_name").alias("product_name"),
            F.col("p_partkey").alias("item_sk"),
            F.col("s_name").alias("store_name"),
            F.col("sn.n_name").alias("store_zip"),
            F.year("o_orderdate").alias("syear"),
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("cnt"),
            dec_sum("l_extendedprice * (1 - l_discount)", "s1"),
            dec_sum("l_extendedprice", "s2"),
            dec_sum("l_extendedprice * l_discount", "s3"),
        )
        .persist()
    )
    cs1 = cross_sales.filter(F.col("syear") == 1996).alias("cs1")
    cs2 = cross_sales.filter(F.col("syear") == 1997).alias("cs2")
    return (
        cs1.join(
            cs2,
            (F.col("cs1.item_sk") == F.col("cs2.item_sk"))
            & (F.col("cs1.store_name") == F.col("cs2.store_name"))
            & (F.col("cs1.store_zip") == F.col("cs2.store_zip"))
            & (F.col("cs2.cnt") <= F.col("cs1.cnt")),
        )
        .select(
            F.col("cs1.product_name").alias("product_name"),
            F.col("cs1.store_name").alias("store_name"),
            F.col("cs1.store_zip").alias("store_zip"),
            F.col("cs1.cnt").alias("cnt1"),
            F.col("cs1.s1").alias("s11"),
            F.col("cs1.s2").alias("s21"),
            F.col("cs1.s3").alias("s31"),
            F.col("cs2.cnt").alias("cnt2"),
            F.col("cs2.s1").alias("s12"),
            F.col("cs2.s2").alias("s22"),
            F.col("cs2.s3").alias("s32"),
            F.col("cs1.item_sk").alias("__item"),
        )
        .orderBy("product_name", "store_name", "cnt2", "__item")
        .limit(100)
        .drop("__item")
    )


@register(
    "tpcds_q6_adapted",
    oracle="""
WITH type_avg AS (
  SELECT p_type,
         CAST(SUM(CAST(round(p_retailprice * 100) AS BIGINT))
              AS DOUBLE) / COUNT(*) AS avg_price_s
  FROM part GROUP BY p_type
),
pricey_parts AS (
  SELECT p_partkey FROM part
  JOIN type_avg ON part.p_type = type_avg.p_type
  WHERE CAST(round(p_retailprice * 100) AS BIGINT)
        > 1.005 * avg_price_s
)
SELECT n_name AS state, CAST(COUNT(*) AS BIGINT) AS cnt
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
WHERE year(o_orderdate) = 1997 AND month(o_orderdate) = 1
  AND l_partkey IN (SELECT p_partkey FROM pricey_parts)
GROUP BY n_name
HAVING COUNT(*) >= 10
ORDER BY cnt, state
LIMIT 100
""",
)
def tpcds_q6_adapted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS Q6 (tpcds/q06.sql): customers' states buying items
    priced above 1.2x their CATEGORY's average — a correlated scalar
    average decorrelated to a per-category aggregate joined back
    (the reference's TransformCorrelatedScalarAggregationToJoin),
    plus the month_seq scalar subquery collapsed to the literal
    month (the fixture's date dim IS the calendar). Fixture roles:
    ca_state -> customer nation, i_category -> p_type, 1.2x -> 1.005x
    (the synthetic price spread is narrow and SF-dependent). The average is exact
    cents / count. Plan: type_avg is category-sized -> broadcast
    back onto part; pricey_parts enters the fact as a broadcast semi
    join; HAVING count >= 10."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    part = load_table(spark, sf_dir, "part")
    price_s = F.round(F.col("p_retailprice") * 100).cast("bigint")
    type_avg = part.groupBy("p_type").agg(
        (
            F.sum(price_s).cast("double") / F.count(F.lit(1))
        ).alias("avg_price_s")
    )
    pricey = (
        part.join(F.broadcast(type_avg), "p_type")
        .filter(price_s > 1.005 * F.col("avg_price_s"))
        .select("p_partkey")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .filter(
            (F.year("o_orderdate") == 1997)
            & (F.month("o_orderdate") == 1)
        )
        .join(
            F.broadcast(pricey),
            li.l_partkey == pricey.p_partkey,
            "left_semi",
        )
        .groupBy(F.col("n_name").alias("state"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
        .filter(F.col("cnt") >= 10)
        .orderBy("cnt", "state")
        .limit(100)
    )


@register(
    "tpcds_q16_adapted",
    oracle=f"""
SELECT CAST(COUNT(DISTINCT l1.l_orderkey) AS BIGINT) AS order_count,
       {oracle_dec_sum('l1.l_extendedprice * l1.l_discount',
                       'total_ship_cost')},
       {oracle_dec_sum('l1.l_extendedprice', 'total_net_profit')}
FROM lineitem l1
JOIN orders ON l1.l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE o_orderdate BETWEEN DATE '1997-02-01'
                      AND DATE '1997-02-01' + INTERVAL 60 DAY
  AND c_nationkey = 3
  AND o_orderpriority IN ('1-URGENT', '2-HIGH')
  AND EXISTS (
    SELECT 1 FROM lineitem l2
    WHERE l2.l_orderkey = l1.l_orderkey
      AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (
    SELECT 1 FROM lineitem l3
    WHERE l3.l_orderkey = l1.l_orderkey
      AND l3.l_returnflag = 'R')
""",
)
def tpcds_q16_adapted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS Q16 (tpcds/q16.sql): the shipping report — COUNT
    (DISTINCT order) + money sums over orders that shipped from MORE
    THAN ONE warehouse (correlated EXISTS with an inequality on the
    correlated row) and were never returned (NOT EXISTS against the
    returns fact). Fixture roles: warehouses -> suppliers, call
    center county -> customer nation, catalog_returns -> 'R'-flagged
    lineitems. The EXISTS with l2.suppkey <> l1.suppkey holds for a
    row iff its order has >= 2 distinct suppliers, so it lowers to a
    semi join against the multi-supplier order list — the same
    aggregate-then-semi-join decorrelation the reference plans; the
    NOT EXISTS is an anti join on returned-order keys.
    Plan: both build sides are order-key lists (aggregates of the
    fact); the probe survives one scan; no row-level correlated
    subquery remains."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    multi_supp = (
        li.groupBy("l_orderkey")
        .agg(F.count_distinct("l_suppkey").alias("ns"))
        .filter(F.col("ns") >= 2)
        .select(F.col("l_orderkey").alias("mk"))
    )
    returned = (
        li.filter(F.col("l_returnflag") == "R")
        .select(F.col("l_orderkey").alias("rk"))
        .distinct()
    )
    base = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .filter(
            F.col("o_orderdate").between("1997-02-01", "1997-04-02")
            & (F.col("c_nationkey") == 3)
            & F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
        )
    )
    return (
        base.join(multi_supp, li.l_orderkey == multi_supp.mk, "left_semi")
        .join(returned, li.l_orderkey == returned.rk, "left_anti")
        .agg(
            F.count_distinct("l_orderkey").cast("bigint").alias(
                "order_count"
            ),
            dec_sum("l_extendedprice * l_discount", "total_ship_cost"),
            dec_sum("l_extendedprice", "total_net_profit"),
        )
    )


@register(
    "tpcds_q96_adapted",
    oracle="""
SELECT CAST(COUNT(*) AS BIGINT) AS cnt
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
WHERE month(o_orderdate) = 8 AND day(o_orderdate) >= 15
  AND o_orderpriority = '3-MEDIUM'
  AND s_nationkey = 7
""",
)
def tpcds_q96_adapted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS Q96 (tpcds/q96.sql): the narrow point-filter count —
    every dimension contributes exactly one selective predicate
    (t_hour/t_minute -> month/day-of-month bands, hd_dep_count ->
    one priority, s_store_name -> one supplier nation) and the
    answer is a single COUNT(*). The reference uses it to measure
    pure scan+broadcast-join throughput; all three dim filters
    reach the scans as pushed predicates."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    supp = load_table(spark, sf_dir, "supplier")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .filter(
            (F.month("o_orderdate") == 8)
            & (F.dayofmonth("o_orderdate") >= 15)
            & (F.col("o_orderpriority") == "3-MEDIUM")
            & (F.col("s_nationkey") == 7)
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )


# --------------------------------------------------------------------------
# Batch 13 (round 8 continued): the before/after boundary reports, the
# promo-share scalar ratio, the null-key channel census, and the
# dimension-chain lookup (tpcds/q21.sql, q37.sql, q40.sql, q61.sql,
# q76.sql, q84.sql).
# --------------------------------------------------------------------------


@register(
    "tpcds_q21_adapted",
    oracle="""
WITH inv AS (
  SELECT l_partkey, l_suppkey, l_quantity, l_shipdate
  FROM lineitem WHERE l_returnflag = 'R'
),
x AS (
  SELECT n_name AS warehouse, p_brand AS item_id,
         CAST(SUM(CASE WHEN CAST(l_shipdate AS DATE)
                            < DATE '1997-03-11'
                  THEN CAST(l_quantity AS BIGINT) ELSE 0 END)
              AS BIGINT) AS inv_before,
         CAST(SUM(CASE WHEN CAST(l_shipdate AS DATE)
                            >= DATE '1997-03-11'
                  THEN CAST(l_quantity AS BIGINT) ELSE 0 END)
              AS BIGINT) AS inv_after
  FROM inv
  JOIN part ON l_partkey = p_partkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  WHERE p_retailprice BETWEEN 902 AND 940
    AND CAST(l_shipdate AS DATE)
        BETWEEN DATE '1997-03-11' - INTERVAL 30 DAY
            AND DATE '1997-03-11' + INTERVAL 30 DAY
  GROUP BY n_name, p_brand
)
SELECT warehouse, item_id, inv_before, inv_after
FROM x
WHERE CASE WHEN inv_before > 0
           THEN CAST(inv_after AS DOUBLE) / inv_before
           ELSE NULL END BETWEEN 2.0/3.0 AND 3.0/2.0
ORDER BY warehouse, item_id
LIMIT 100
""",
)
def tpcds_q21_adapted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS Q21 (tpcds/q21.sql): inventory before/after a boundary
    date — conditional sums split a ±30-day window at the boundary,
    then a ratio guard keeps (warehouse, item) pairs whose stock
    stayed within [2/3, 3/2]. Fixture roles: inventory ->
    'R'-flagged lineitems (quantity on hand at ship date),
    warehouse -> supplier nation, i_current_price band ->
    p_retailprice band. The ratio is a single division of exact
    bigint sums — both engines branch identically, including the
    NULL (inv_before = 0) rows BETWEEN discards.
    Plan: dims broadcast; one aggregate shuffle; the CASE split is
    a Column expression inside the partial aggregate."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    boundary = "1997-03-11"
    inv = li.filter(F.col("l_returnflag") == "R")
    before = F.sum(
        F.when(
            F.to_date("l_shipdate") < F.lit(boundary),
            F.col("l_quantity").cast("bigint"),
        ).otherwise(F.lit(0))
    ).cast("bigint")
    after = F.sum(
        F.when(
            F.to_date("l_shipdate") >= F.lit(boundary),
            F.col("l_quantity").cast("bigint"),
        ).otherwise(F.lit(0))
    ).cast("bigint")
    x = (
        inv.join(part, inv.l_partkey == part.p_partkey)
        .join(supp, inv.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .filter(
            F.col("p_retailprice").between(902, 940)
            & F.to_date("l_shipdate").between("1997-02-09", "1997-04-10")
        )
        .groupBy(
            F.col("n_name").alias("warehouse"),
            F.col("p_brand").alias("item_id"),
        )
        .agg(before.alias("inv_before"), after.alias("inv_after"))
    )
    ratio = F.when(
        F.col("inv_before") > 0,
        F.col("inv_after").cast("double") / F.col("inv_before"),
    ).otherwise(F.lit(None))
    return (
        x.filter(ratio.between(2.0 / 3.0, 3.0 / 2.0))
        .orderBy("warehouse", "item_id")
        .limit(100)
    )


@register(
    "tpcds_q37_adapted",
    oracle="""
SELECT p_brand, p_type, round(p_retailprice, 2) AS price
FROM part
JOIN lineitem inv ON inv.l_partkey = p_partkey
WHERE p_retailprice BETWEEN 902 AND 930
  AND p_size IN (5, 10, 15, 20)
  AND inv.l_returnflag = 'R'
  AND CAST(inv.l_shipdate AS DATE)
      BETWEEN DATE '1997-02-01' AND DATE '1997-02-01' + INTERVAL 60 DAY
  AND inv.l_quantity BETWEEN 10 AND 40
  AND p_partkey IN (SELECT l_partkey FROM lineitem
                    WHERE l_returnflag <> 'R')
GROUP BY p_brand, p_type, p_retailprice
ORDER BY p_brand, p_type, price
LIMIT 100
""",
)
def tpcds_q37_adapted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS Q37 (tpcds/q37.sql): items in a price band with
    in-window on-hand inventory in a quantity band that ALSO sold
    through the channel — a dim-driven report where the fact tables
    act as filters (inventory join + channel semi join), grouped to
    dedupe. Fixture roles: inventory -> 'R'-flagged lineitems,
    manufact list -> p_size list, catalog_sales membership ->
    non-'R' lineitem semi join.
    Plan: part is the probe; the inventory join filters it; the
    channel membership is a semi join on partkey (aggregate-free
    build side); GROUP BY dedupes the inventory fanout."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    inv = li.filter(F.col("l_returnflag") == "R")
    sold = (
        li.filter(F.col("l_returnflag") != "R")
        .select(F.col("l_partkey").alias("sold_key"))
    )
    return (
        part.join(inv, inv.l_partkey == part.p_partkey)
        .filter(
            F.col("p_retailprice").between(902, 930)
            & F.col("p_size").isin(5, 10, 15, 20)
            & F.to_date("l_shipdate").between("1997-02-01", "1997-04-02")
            & F.col("l_quantity").between(10, 40)
        )
        .join(sold, part.p_partkey == sold.sold_key, "left_semi")
        .groupBy("p_brand", "p_type", "p_retailprice")
        .agg(F.round(F.first("p_retailprice"), 2).alias("price"))
        .select("p_brand", "p_type", "price")
        .orderBy("p_brand", "p_type", "price")
        .limit(100)
    )


@register(
    "tpcds_q40_adapted",
    oracle="""
WITH rets AS (
  SELECT l_orderkey AS r_orderkey, l_partkey AS r_partkey,
         SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS ret_s
  FROM lineitem WHERE l_returnflag = 'R'
  GROUP BY l_orderkey, l_partkey
),
sales AS (
  SELECT s.l_partkey, s.l_suppkey, o.o_orderdate,
         CAST(round(s.l_extendedprice * 100) AS BIGINT)
           - COALESCE(r.ret_s, 0) AS net_s
  FROM lineitem s
  JOIN orders o ON s.l_orderkey = o.o_orderkey
  LEFT JOIN rets r ON s.l_orderkey = r.r_orderkey
                  AND s.l_partkey = r.r_partkey
  WHERE s.l_returnflag <> 'R'
    AND CAST(o.o_orderdate AS DATE)
        BETWEEN DATE '1997-03-11' - INTERVAL 30 DAY
            AND DATE '1997-03-11' + INTERVAL 30 DAY
)
SELECT n_name AS w_state, p_brand AS item_id,
       round(SUM(CASE WHEN CAST(o_orderdate AS DATE) < DATE '1997-03-11'
                 THEN net_s ELSE 0 END) / 100.0, 2) AS sales_before,
       round(SUM(CASE WHEN CAST(o_orderdate AS DATE) >= DATE '1997-03-11'
                 THEN net_s ELSE 0 END) / 100.0, 2) AS sales_after
FROM sales
JOIN part ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
WHERE p_retailprice BETWEEN 902 AND 918
GROUP BY n_name, p_brand
ORDER BY w_state, item_id
LIMIT 100
""",
)
def tpcds_q40_adapted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS Q40 (tpcds/q40.sql): returns-netted sales split
    before/after a boundary date per (warehouse, item) — the q21
    boundary-pivot shape applied to the SALES fact with a LEFT JOIN
    against returns and COALESCE netting. Exact: netting and the
    CASE split ride bigint cents. Plan: returns pre-aggregate to
    the join key before the outer join; dims broadcast; one
    aggregate shuffle."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    part = load_table(spark, sf_dir, "part")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    boundary = "1997-03-11"
    rets = (
        li.filter(F.col("l_returnflag") == "R")
        .groupBy(
            F.col("l_orderkey").alias("r_orderkey"),
            F.col("l_partkey").alias("r_partkey"),
        )
        .agg(
            F.sum(
                F.round(F.col("l_extendedprice") * 100).cast("bigint")
            ).alias("ret_s")
        )
    )
    s = li.filter(F.col("l_returnflag") != "R")
    net_s = (
        F.round(F.col("l_extendedprice") * 100).cast("bigint")
        - F.coalesce(F.col("ret_s"), F.lit(0))
    )
    sales = (
        s.join(orders, s.l_orderkey == orders.o_orderkey)
        .join(
            rets,
            (s.l_orderkey == rets.r_orderkey)
            & (s.l_partkey == rets.r_partkey),
            "left",
        )
        .filter(
            F.to_date("o_orderdate").between("1997-02-09", "1997-04-10")
        )
        .select(
            "l_partkey", "l_suppkey", "o_orderdate",
            net_s.alias("net_s"),
        )
    )
    split = lambda cmp: F.sum(  # noqa: E731
        F.when(cmp, F.col("net_s")).otherwise(F.lit(0))
    )
    return (
        sales.join(part, sales.l_partkey == part.p_partkey)
        .join(supp, sales.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .filter(F.col("p_retailprice").between(902, 918))
        .groupBy(
            F.col("n_name").alias("w_state"),
            F.col("p_brand").alias("item_id"),
        )
        .agg(
            F.round(
                split(F.to_date("o_orderdate") < F.lit(boundary)) / 100.0,
                2,
            ).alias("sales_before"),
            F.round(
                split(F.to_date("o_orderdate") >= F.lit(boundary))
                / 100.0,
                2,
            ).alias("sales_after"),
        )
        .orderBy("w_state", "item_id")
        .limit(100)
    )


@register(
    "tpcds_q61_adapted",
    oracle="""
WITH base AS (
  SELECT p_type,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS price_s
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN part ON l_partkey = p_partkey
  WHERE c_mktsegment = 'BUILDING'
    AND year(o_orderdate) = 1997 AND month(o_orderdate) = 11
),
promotions AS (
  SELECT CAST(SUM(price_s) AS BIGINT) AS promotions
  FROM base WHERE p_type = 'PROMO'
),
total AS (
  SELECT CAST(SUM(price_s) AS BIGINT) AS total FROM base
)
SELECT round(promotions / 100.0, 2) AS promotions,
       round(total / 100.0, 2) AS total,
       round(CAST(promotions AS DOUBLE) / total * 100, 9) AS promo_pct
FROM promotions, total
""",
)
def tpcds_q61_adapted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS Q61 (tpcds/q61.sql): promotional share — two
    single-row aggregates over the same dimensional slice (one
    restricted to promoted items) cross-joined into a percentage.
    Fixture roles: the promo-channel dim flags -> p_type = 'PROMO',
    gmt_offset/category filters -> mktsegment + month slice. The
    share is a single division of exact cent sums. Plan: the slice
    aggregate feeds BOTH single-row branches (persisted — same
    multi-consumer rule as q65); the cross join is 1 x 1."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    part = load_table(spark, sf_dir, "part")
    base = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(part, li.l_partkey == part.p_partkey)
        .filter(
            (F.col("c_mktsegment") == "BUILDING")
            & (F.year("o_orderdate") == 1997)
            & (F.month("o_orderdate") == 11)
        )
        .select(
            "p_type",
            F.round(F.col("l_extendedprice") * 100)
            .cast("bigint").alias("price_s"),
        )
        .persist()
    )
    promos = (
        base.filter(F.col("p_type") == "PROMO")
        .agg(F.sum("price_s").cast("bigint").alias("promotions"))
    )
    total = base.agg(F.sum("price_s").cast("bigint").alias("total"))
    return promos.crossJoin(total).select(
        F.round(F.col("promotions") / 100.0, 2).alias("promotions"),
        F.round(F.col("total") / 100.0, 2).alias("total"),
        F.round(
            F.col("promotions").cast("double") / F.col("total") * 100, 9
        ).alias("promo_pct"),
    )


@register(
    "tpcds_q76_adapted",
    oracle=f"""
WITH slices AS (
  SELECT 'store' AS channel, 'suppkey' AS col_name,
         year(o_orderdate) AS yr, quarter(o_orderdate) AS qoy,
         p_type, l_extendedprice AS price
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  JOIN part ON l_partkey = p_partkey
  WHERE NULLIF(l_suppkey % 13, 0) IS NULL
    AND o_orderpriority IN ('1-URGENT', '2-HIGH')
  UNION ALL
  SELECT 'web', 'custkey', year(o_orderdate), quarter(o_orderdate),
         p_type, l_extendedprice
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  JOIN part ON l_partkey = p_partkey
  WHERE NULLIF(o_custkey % 11, 0) IS NULL
    AND o_orderpriority IN ('4-NOT SPECIFIED', '5-LOW')
  UNION ALL
  SELECT 'catalog', 'partkey', year(o_orderdate),
         quarter(o_orderdate), p_type, l_extendedprice
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  JOIN part ON l_partkey = p_partkey
  WHERE NULLIF(l_partkey % 17, 0) IS NULL
    AND o_orderpriority = '3-MEDIUM'
)
SELECT channel, col_name, yr, qoy, p_type,
       CAST(COUNT(*) AS BIGINT) AS sales_cnt,
       {oracle_dec_sum('price', 'sales_amt')}
FROM slices
GROUP BY channel, col_name, yr, qoy, p_type
ORDER BY channel, col_name, yr, qoy, p_type
LIMIT 100
""",
)
def tpcds_q76_adapted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS Q76 (tpcds/q76.sql): the NULL-key census — each channel
    reports the sales rows whose channel-specific foreign key IS
    NULL, labeled with the column name, unioned and re-aggregated per
    (year, quarter, category). The fixture has no null foreign keys,
    so each slice NULL-ifies a key by modulus (NULLIF(key % m, 0) IS
    NULL keeps exactly the key % m == 0 rows as the 'null' class) —
    preserving the IS NULL predicate shape and the per-channel
    col_name label. Plan: three fact passes (the reference scans
    three distinct facts) unioned before one aggregate shuffle."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    part = load_table(spark, sf_dir, "part")
    lo = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(part, li.l_partkey == part.p_partkey)
    )

    def channel(tag, col_name, null_col, mod, prios):
        return (
            lo.filter(
                F.nullif(F.col(null_col) % mod, F.lit(0)).isNull()
                & F.col("o_orderpriority").isin(*prios)
            )
            .select(
                F.lit(tag).alias("channel"),
                F.lit(col_name).alias("col_name"),
                F.year("o_orderdate").alias("yr"),
                F.quarter("o_orderdate").alias("qoy"),
                "p_type",
                F.col("l_extendedprice").alias("price"),
            )
        )

    slices = (
        channel("store", "suppkey", "l_suppkey", 13,
                ["1-URGENT", "2-HIGH"])
        .unionAll(
            channel("web", "custkey", "o_custkey", 11,
                    ["4-NOT SPECIFIED", "5-LOW"])
        )
        .unionAll(
            channel("catalog", "partkey", "l_partkey", 17,
                    ["3-MEDIUM"])
        )
    )
    return (
        slices.groupBy("channel", "col_name", "yr", "qoy", "p_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("sales_cnt"),
            dec_sum("price", "sales_amt"),
        )
        .orderBy("channel", "col_name", "yr", "qoy", "p_type")
        .limit(100)
    )


@register(
    "tpcds_q84_adapted",
    oracle="""
WITH income_band AS (
  SELECT * FROM (VALUES (1, 0.0, 2500.0), (2, 2500.0, 5000.0),
                        (3, 5000.0, 7500.0), (4, 7500.0, 10000.0))
           t(ib_sk, lower_bound, upper_bound)
),
returners AS (
  SELECT DISTINCT o_custkey FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  WHERE l_returnflag = 'R'
)
SELECT c_custkey AS customer_id,
       concat(concat(c_name, ', '), c_mktsegment) AS customername
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN income_band ON c_acctbal >= lower_bound
                AND c_acctbal < upper_bound
JOIN returners ON c_custkey = o_custkey
WHERE n_name = 'NATION_3' AND ib_sk IN (2, 3)
ORDER BY customer_id
LIMIT 100
""",
)
def tpcds_q84_adapted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS Q84 (tpcds/q84.sql): the dimension-chain lookup — no
    aggregation at all: customer joined through address, an
    income-band RANGE join (lower <= v < upper), demographics, and a
    returns-membership join, emitting a concatenated display name.
    Fixture roles: ca_city -> nation name, income_band -> an inline
    VALUES band dim ranged over c_acctbal, sr_cdemo_sk membership ->
    customers with an 'R' return. Plan: the band dim is a broadcast
    NLJ over 4 rows (bounded — the reference's income_band is 20
    rows); returners is a distinct-key semi-join build; everything
    else broadcasts."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    bands = local_rows(
        spark,
        [(1, 0.0, 2500.0), (2, 2500.0, 5000.0), (3, 5000.0, 7500.0),
         (4, 7500.0, 10000.0)],
        "ib_sk int, lower_bound double, upper_bound double",
    )
    returners = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .filter(F.col("l_returnflag") == "R")
        .select("o_custkey")
        .distinct()
    )
    return (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(
            F.broadcast(bands),
            (cust.c_acctbal >= bands.lower_bound)
            & (cust.c_acctbal < bands.upper_bound),
        )
        .join(returners, cust.c_custkey == returners.o_custkey)
        .filter(
            (F.col("n_name") == "NATION_3") & F.col("ib_sk").isin(2, 3)
        )
        .select(
            F.col("c_custkey").alias("customer_id"),
            F.concat(
                F.concat(F.col("c_name"), F.lit(", ")),
                F.col("c_mktsegment"),
            ).alias("customername"),
        )
        .orderBy("customer_id")
        .limit(100)
    )


# --------------------------------------------------------------------------
# Batch 14 (round 8 continued): the scalar-subquery bucket report, the
# asc/desc rank-position join, rank over a deep ROLLUP, the zip-overlap
# substring star, the fine-grained CTE with a global-scalar HAVING, and
# the latency-band pivot (tpcds/q09.sql, q44.sql, q67.sql, q08.sql,
# q24_1.sql, q62.sql).
# --------------------------------------------------------------------------


@register(
    "tpcds_q9_adapted",
    oracle="""
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
    AS bucket3,
  MAX(CASE WHEN bucket = 3 THEN
      CASE WHEN cnt > 12500 THEN avg_price ELSE avg_disc END END)
    AS bucket4,
  MAX(CASE WHEN bucket = 4 THEN
      CASE WHEN cnt > 13000 THEN avg_price ELSE avg_disc END END)
    AS bucket5
FROM b
""",
)
def tpcds_q9_adapted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS Q9 (tpcds/q09.sql): five quantity buckets, each a CASE
    choosing between two scalar subqueries by a count threshold — 15
    uncorrelated scalar subqueries in the reference's text. The
    Spark-first lowering computes all five (count, avgA, avgB)
    triples in ONE grouped pass over the fact and folds the CASEs in
    a single-row conditional aggregate — one scan instead of the
    reference's fifteen (its own optimizer cannot fuse them; ours
    can because the buckets partition the same scan). Averages are
    exact integer sums over one division.
    Plan: one shuffle on the 5-value bucket key; the final fold is a
    1-row aggregate."""
    li = load_table(spark, sf_dir, "lineitem")
    b = (
        li.filter(F.col("l_quantity").between(1, 50))
        .groupBy(
            F.floor((F.col("l_quantity") - 1) / 10)
            .cast("int")
            .alias("bucket")
        )
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            (
                F.sum(
                    F.round(F.col("l_extendedprice") * 100).cast("bigint")
                ).cast("double")
                / F.count(F.lit(1))
                / 100.0
            ).alias("avg_price"),
            (
                F.sum(
                    F.round(F.col("l_discount") * 10000).cast("bigint")
                ).cast("double")
                / F.count(F.lit(1))
                / 10000.0
            ).alias("avg_disc"),
        )
    )
    thresholds = [11000, 11500, 12000, 12500, 13000]

    def pick(i):
        return F.max(
            F.when(
                F.col("bucket") == i,
                F.when(
                    F.col("cnt") > thresholds[i], F.col("avg_price")
                ).otherwise(F.col("avg_disc")),
            )
        ).alias(f"bucket{i + 1}")

    return b.agg(*[pick(i) for i in range(5)])


@register(
    "tpcds_q44_adapted",
    oracle="""
WITH profits AS (
  SELECT l_partkey AS item_sk,
         CAST(SUM(CAST(round(l_extendedprice * (1 - l_discount) * 100)
                       AS BIGINT)) AS DOUBLE) / COUNT(*) AS rank_col
  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
  WHERE s_nationkey = 4 AND l_returnflag <> 'R'
  GROUP BY l_partkey
),
baseline AS (
  SELECT CAST(SUM(CAST(round(l_extendedprice * (1 - l_discount) * 100)
                       AS BIGINT)) AS DOUBLE) / COUNT(*) AS base_col
  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
  WHERE s_nationkey = 4 AND l_returnflag = 'R'
),
kept AS (
  SELECT item_sk, rank_col FROM profits, baseline
  WHERE rank_col > 0.9 * base_col
),
asc_rnk AS (
  SELECT item_sk, rank() OVER (ORDER BY rank_col, item_sk) AS rnk
  FROM kept
),
desc_rnk AS (
  SELECT item_sk, rank() OVER (ORDER BY rank_col DESC, item_sk) AS rnk
  FROM kept
)
SELECT a.rnk, i1.p_name AS best_performing,
       i2.p_name AS worst_performing
FROM asc_rnk a
JOIN desc_rnk d ON a.rnk = d.rnk
JOIN part i1 ON i1.p_partkey = a.item_sk
JOIN part i2 ON i2.p_partkey = d.item_sk
WHERE a.rnk < 11
ORDER BY a.rnk
""",
)
def tpcds_q44_adapted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS Q44 (tpcds/q44.sql): best vs worst performers — one
    per-item profit aggregate filtered against 0.9x a baseline
    scalar, ranked ASCENDING and DESCENDING, the two rankings joined
    ON RANK POSITION, each side decorated from the item dim (joined
    twice). Fixture roles: store 4 -> supplier nation 4, the
    ss_addr_sk IS NULL baseline -> the 'R'-flagged slice, ties
    broken by item for determinism. Averages are exact single
    divisions.
    Plan: the profit aggregate feeds both rank branches -> persisted;
    each ranking is a single-partition window over the ~|items| rows
    that survive the threshold (bounded, like the reference's rank);
    the position join and both dim joins broadcast."""
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    part = load_table(spark, sf_dir, "part")
    base_f = li.join(supp, li.l_suppkey == supp.s_suppkey).filter(
        F.col("s_nationkey") == 4
    )
    exact_avg = (
        F.sum(
            F.round(
                F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
            ).cast("bigint")
        ).cast("double")
        / F.count(F.lit(1))
    )
    profits = (
        base_f.filter(F.col("l_returnflag") != "R")
        .groupBy(F.col("l_partkey").alias("item_sk"))
        .agg(exact_avg.alias("rank_col"))
    )
    baseline = (
        base_f.filter(F.col("l_returnflag") == "R")
        .agg(exact_avg.alias("base_col"))
    )
    kept = (
        profits.crossJoin(F.broadcast(baseline))
        .filter(F.col("rank_col") > 0.9 * F.col("base_col"))
        .select("item_sk", "rank_col")
        .persist()
    )
    asc_rnk = kept.withColumn(
        "rnk",
        F.rank().over(
            Window.orderBy(F.col("rank_col").asc(), F.col("item_sk"))
        ),
    ).filter(F.col("rnk") < 11)
    desc_rnk = kept.withColumn(
        "rnk",
        F.rank().over(
            Window.orderBy(F.col("rank_col").desc(), F.col("item_sk"))
        ),
    ).filter(F.col("rnk") < 11)
    i1, i2 = part.alias("i1"), part.alias("i2")
    return (
        asc_rnk.alias("a")
        .join(desc_rnk.alias("d"), F.col("a.rnk") == F.col("d.rnk"))
        .join(
            F.broadcast(i1),
            F.col("i1.p_partkey") == F.col("a.item_sk"),
        )
        .join(
            F.broadcast(i2),
            F.col("i2.p_partkey") == F.col("d.item_sk"),
        )
        .select(
            F.col("a.rnk").alias("rnk"),
            F.col("i1.p_name").alias("best_performing"),
            F.col("i2.p_name").alias("worst_performing"),
        )
        .orderBy("rnk")
    )


@register(
    "tpcds_q67_adapted",
    oracle="""
WITH dw1 AS (
  SELECT p_type, p_brand, CAST(year(o_orderdate) AS INT) AS yr,
         CAST(quarter(o_orderdate) AS INT) AS qoy,
         CAST(month(o_orderdate) AS INT) AS moy, s_name,
         CAST(SUM(COALESCE(CAST(round(l_extendedprice * l_quantity
                                      * 100) AS BIGINT), 0))
              AS BIGINT) AS sumsales_s
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN part ON l_partkey = p_partkey
  JOIN supplier ON l_suppkey = s_suppkey
  WHERE year(o_orderdate) = 1997
  GROUP BY ROLLUP (p_type, p_brand, year(o_orderdate),
                   quarter(o_orderdate), month(o_orderdate), s_name)
),
dw2 AS (
  SELECT *, rank() OVER (PARTITION BY p_type
                         ORDER BY sumsales_s DESC, p_brand NULLS FIRST,
                                  yr NULLS FIRST, qoy NULLS FIRST,
                                  moy NULLS FIRST, s_name NULLS FIRST)
            AS rk
  FROM dw1
)
SELECT p_type, p_brand, yr, qoy, moy, s_name,
       round(sumsales_s / 100.0, 2) AS sumsales, rk
FROM dw2 WHERE rk <= 10
ORDER BY p_type NULLS FIRST, rk
LIMIT 100
""",
)
def tpcds_q67_adapted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS Q67 (tpcds/q67.sql): rank OVER a deep ROLLUP — a
    6-level hierarchy rollup whose OUTPUT rows (all grouping levels
    mixed) are ranked within category and top-10-filtered. The rank
    window partitions on a key that is NULL for rolled-up rows —
    NULL is its own partition group on both engines — and carries a
    full NULLS FIRST tiebreak so ranks are deterministic at every
    grouping level. Sales ride exact cents.
    Plan: one Expand+shuffle for the rollup, one window pass over
    the aggregate (grouping-set-sized, not fact-sized), and the
    rk <= 10 filter plans a WindowGroupLimit."""
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    part = load_table(spark, sf_dir, "part")
    supp = load_table(spark, sf_dir, "supplier")
    dw1 = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(part, li.l_partkey == part.p_partkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .filter(F.year("o_orderdate") == 1997)
        .rollup(
            "p_type", "p_brand",
            F.year("o_orderdate").cast("int").alias("yr"),
            F.quarter("o_orderdate").cast("int").alias("qoy"),
            F.month("o_orderdate").cast("int").alias("moy"),
            "s_name",
        )
        .agg(
            F.sum(
                F.coalesce(
                    F.round(
                        F.col("l_extendedprice") * F.col("l_quantity")
                        * 100
                    ).cast("bigint"),
                    F.lit(0),
                )
            ).cast("bigint").alias("sumsales_s")
        )
    )
    w = Window.partitionBy("p_type").orderBy(
        F.col("sumsales_s").desc(),
        F.col("p_brand").asc_nulls_first(),
        F.col("yr").asc_nulls_first(),
        F.col("qoy").asc_nulls_first(),
        F.col("moy").asc_nulls_first(),
        F.col("s_name").asc_nulls_first(),
    )
    return (
        dw1.withColumn("rk", F.rank().over(w))
        .filter(F.col("rk") <= 10)
        .select(
            "p_type", "p_brand", "yr", "qoy", "moy", "s_name",
            F.round(F.col("sumsales_s") / 100.0, 2).alias("sumsales"),
            "rk",
        )
        .orderBy(F.col("p_type").asc_nulls_first(), "rk")
        .limit(100)
    )


@register(
    "tpcds_q8_adapted",
    oracle=f"""
WITH zip_list AS (
  SELECT * FROM (VALUES ('07'), ('13'), ('21'), ('29'), ('33'),
                        ('41'), ('47'), ('55'), ('63'), ('71'),
                        ('77'), ('85'), ('93'), ('99'), ('03')) t(zip)
),
preferred_zips AS (
  SELECT lpad(CAST(c_custkey % 100 AS VARCHAR), 2, '0') AS zip
  FROM customer WHERE c_acctbal > 5000
  GROUP BY 1 HAVING COUNT(*) > 3
),
target_zips AS (
  SELECT zip FROM zip_list INTERSECT SELECT zip FROM preferred_zips
)
SELECT s_name, {oracle_dec_sum('l_extendedprice * (1 - l_discount)',
                               'net_profit')}
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
WHERE year(o_orderdate) = 1997
  AND lpad(CAST(c_custkey % 100 AS VARCHAR), 2, '0')
      IN (SELECT zip FROM target_zips)
GROUP BY s_name
ORDER BY s_name
LIMIT 100
""",
)
def tpcds_q8_adapted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS Q8 (tpcds/q08.sql): store profit restricted to zip
    prefixes that are BOTH in a literal list AND have >10 preferred
    customers — a VALUES list INTERSECTed with a HAVING-filtered
    aggregate, driving the fact through a derived-key semi join.
    Fixture roles: substr(ca_zip, 1, 5) -> the lpad'd customer-key
    residue (a derived string key, preserving the computed-key-join
    shape), preferred flag -> acctbal > 5000, count > 3 (fixture-scaled).
    Plan: both zip sets are tiny (<=100 two-char strings); the
    INTERSECT lowers to a semi join of two small sets, broadcast
    back onto the probe's derived key."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    zip_of = F.lpad((F.col("c_custkey") % 100).cast("string"), 2, "0")
    zip_list = local_rows(
        spark,
        [(z,) for z in ["07", "13", "21", "29", "33", "41", "47",
                        "55", "63", "71", "77", "85", "93", "99",
                        "03"]],
        "zip string",
    )
    preferred = (
        cust.filter(F.col("c_acctbal") > 5000)
        .groupBy(zip_of.alias("zip"))
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 3)
        .select("zip")
    )
    target = zip_list.intersect(preferred)
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .filter(F.year("o_orderdate") == 1997)
        .join(
            F.broadcast(target),
            zip_of == target.zip,
            "left_semi",
        )
        .groupBy("s_name")
        .agg(
            dec_sum("l_extendedprice * (1 - l_discount)", "net_profit")
        )
        .orderBy("s_name")
        .limit(100)
    )


@register(
    "tpcds_q24_adapted",
    oracle=f"""
WITH rets AS (
  SELECT l_partkey AS r_partkey, l_suppkey AS r_suppkey
  FROM lineitem WHERE l_returnflag = 'R'
  GROUP BY l_partkey, l_suppkey
),
ssales AS (
  SELECT c_name, s_name, n.n_name AS state, p_type, p_brand,
         {oracle_dec_sum('l_extendedprice * (1 - l_discount)',
                         'netpaid')}
  FROM lineitem s
  JOIN rets r ON s.l_partkey = r.r_partkey
             AND s.l_suppkey = r.r_suppkey
  JOIN orders o ON s.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN supplier sup ON s.l_suppkey = sup.s_suppkey
  JOIN nation n ON sup.s_nationkey = n.n_nationkey
  JOIN part p ON s.l_partkey = p.p_partkey
  WHERE s.l_returnflag <> 'R'
    AND c.c_nationkey = sup.s_nationkey
  GROUP BY c_name, s_name, n.n_name, p_type, p_brand
),
threshold AS (
  SELECT 0.05 * (CAST(SUM(CAST(round(netpaid * 10000) AS BIGINT))
                      AS DOUBLE) / COUNT(*) / 10000.0) AS floor_paid
  FROM ssales
)
SELECT c_name, s_name,
       round(SUM(CAST(round(netpaid * 10000) AS BIGINT)) / 10000.0, 4)
         AS paid
FROM ssales, threshold
WHERE p_type = 'PROMO'
GROUP BY c_name, s_name, floor_paid
HAVING SUM(CAST(round(netpaid * 10000) AS BIGINT)) / 10000.0
       > floor_paid
ORDER BY c_name, s_name
""",
)
def tpcds_q24_adapted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS Q24 (tpcds/q24_1.sql): the fine-grained returns-joined
    CTE consumed TWICE — once re-aggregated per (customer, store)
    over one item slice with a HAVING threshold, once as the
    GLOBAL average that defines the threshold (0.05x avg netpaid).
    Fixture roles: the ticket-level returns join -> (partkey,
    suppkey) as in q64; c_birth_country = upper(ca_country) and
    s_zip = ca_zip cross-dim equalities -> customer nation =
    supplier nation; i_color = 'pale' -> p_type = 'PROMO'.
    Exactness: netpaid re-aggregation rides scaled bigints; the
    threshold is one division. Plan: ssales is persisted (two
    consumers — the reference names this CTE twice); the threshold
    is a 1-row broadcast."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    part = load_table(spark, sf_dir, "part")
    rets = (
        li.filter(F.col("l_returnflag") == "R")
        .groupBy(
            F.col("l_partkey").alias("r_partkey"),
            F.col("l_suppkey").alias("r_suppkey"),
        )
        .agg(F.lit(1).alias("__r"))
        .drop("__r")
    )
    s = li.filter(F.col("l_returnflag") != "R")
    ssales = (
        s.join(
            rets,
            (s.l_partkey == rets.r_partkey)
            & (s.l_suppkey == rets.r_suppkey),
        )
        .join(orders, s.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(supp, s.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(part, s.l_partkey == part.p_partkey)
        .filter(cust.c_nationkey == supp.s_nationkey)
        .groupBy("c_name", "s_name", "n_name", "p_type", "p_brand")
        .agg(
            dec_sum("l_extendedprice * (1 - l_discount)", "netpaid")
        )
        .persist()
    )
    paid_s = F.round(F.col("netpaid") * 10000).cast("bigint")
    threshold = ssales.agg(
        (
            0.05
            * (
                F.sum(paid_s).cast("double")
                / F.count(F.lit(1))
                / 10000.0
            )
        ).alias("floor_paid")
    )
    return (
        ssales.filter(F.col("p_type") == "PROMO")
        .crossJoin(F.broadcast(threshold))
        .groupBy("c_name", "s_name", "floor_paid")
        .agg((F.sum(paid_s) / 10000.0).alias("paid_raw"))
        .filter(F.col("paid_raw") > F.col("floor_paid"))
        .select(
            "c_name", "s_name",
            F.round(F.col("paid_raw"), 4).alias("paid"),
        )
        .orderBy("c_name", "s_name")
    )


@register(
    "tpcds_q62_adapted",
    oracle="""
SELECT substr(s_name, 1, 12) AS warehouse,
       o_orderpriority AS sm_type,
       n_name AS web_name,
       CAST(SUM(CASE WHEN date_diff('day', CAST(o_orderdate AS DATE),
                         CAST(l_shipdate AS DATE)) <= 30
                THEN 1 ELSE 0 END) AS BIGINT) AS d30,
       CAST(SUM(CASE WHEN date_diff('day', CAST(o_orderdate AS DATE),
                         CAST(l_shipdate AS DATE)) > 30
                 AND date_diff('day', CAST(o_orderdate AS DATE),
                         CAST(l_shipdate AS DATE)) <= 60
                THEN 1 ELSE 0 END) AS BIGINT) AS d31_60,
       CAST(SUM(CASE WHEN date_diff('day', CAST(o_orderdate AS DATE),
                         CAST(l_shipdate AS DATE)) > 60
                 AND date_diff('day', CAST(o_orderdate AS DATE),
                         CAST(l_shipdate AS DATE)) <= 90
                THEN 1 ELSE 0 END) AS BIGINT) AS d61_90,
       CAST(SUM(CASE WHEN date_diff('day', CAST(o_orderdate AS DATE),
                         CAST(l_shipdate AS DATE)) > 90
                 AND date_diff('day', CAST(o_orderdate AS DATE),
                         CAST(l_shipdate AS DATE)) <= 120
                THEN 1 ELSE 0 END) AS BIGINT) AS d91_120,
       CAST(SUM(CASE WHEN date_diff('day', CAST(o_orderdate AS DATE),
                         CAST(l_shipdate AS DATE)) > 120
                THEN 1 ELSE 0 END) AS BIGINT) AS d_over_120
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
WHERE year(o_orderdate) = 1997
GROUP BY substr(s_name, 1, 12), o_orderpriority, n_name
ORDER BY warehouse, sm_type, web_name
LIMIT 100
""",
)
def tpcds_q62_adapted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS Q62 (tpcds/q62.sql): the ship-latency band PIVOT —
    five CASE-band counts as COLUMNS per (warehouse-prefix, ship
    mode, site), the bands computed from the sold->ship day gap.
    Fixture roles: warehouse name prefix -> substr(s_name, 1, 12)
    (preserving the computed GROUP BY key), ship mode -> order
    priority, web site -> supplier nation, ship-sold day gap ->
    shipdate - orderdate.
    Plan: single aggregate shuffle on the three-part computed key;
    the five bands are Column CASEs inside the partial aggregate —
    no extra passes."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    gap = F.datediff(F.to_date("l_shipdate"), F.to_date("o_orderdate"))

    def band(cond, name):
        return F.sum(F.when(cond, 1).otherwise(0)).cast("bigint").alias(
            name
        )

    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .filter(F.year("o_orderdate") == 1997)
        .groupBy(
            F.substring("s_name", 1, 12).alias("warehouse"),
            F.col("o_orderpriority").alias("sm_type"),
            F.col("n_name").alias("web_name"),
        )
        .agg(
            band(gap <= 30, "d30"),
            band((gap > 30) & (gap <= 60), "d31_60"),
            band((gap > 60) & (gap <= 90), "d61_90"),
            band((gap > 90) & (gap <= 120), "d91_120"),
            band(gap > 120, "d_over_120"),
        )
        .orderBy("warehouse", "sm_type", "web_name")
        .limit(100)
    )


# --------------------------------------------------------------------------
# Batch 15 (round 8 continued): the three-channel six-instance growth
# report, the double-OR demographic bands, the OR-of-three-predicates
# rollup feed, the four-level geography ROLLUP of averages, and the
# triple-fact sum chain (tpcds/q04.sql, q13.sql, q15.sql, q18.sql,
# q25.sql).
# --------------------------------------------------------------------------


_Q4_YT = """
SELECT o_custkey AS custkey, CAST(year(o_orderdate) AS INT) AS yr,
       CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 's'
            WHEN o_orderpriority = '3-MEDIUM' THEN 'c'
            ELSE 'w' END AS sale_type,
       CAST(SUM(CAST(round(l_extendedprice * (1 - l_discount) * 100)
                     AS BIGINT)) AS BIGINT) AS year_total
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE year(o_orderdate) IN (1996, 1997)
GROUP BY 1, 2, 3
"""


@register(
    "tpcds_q4_adapted",
    oracle=f"""
WITH year_total AS ({_Q4_YT})
SELECT s2.custkey
FROM year_total s1
JOIN year_total s2 ON s1.custkey = s2.custkey
JOIN year_total c1 ON s1.custkey = c1.custkey
JOIN year_total c2 ON s1.custkey = c2.custkey
JOIN year_total w1 ON s1.custkey = w1.custkey
JOIN year_total w2 ON s1.custkey = w2.custkey
WHERE s1.sale_type = 's' AND s2.sale_type = 's'
  AND c1.sale_type = 'c' AND c2.sale_type = 'c'
  AND w1.sale_type = 'w' AND w2.sale_type = 'w'
  AND s1.yr = 1996 AND s2.yr = 1997
  AND c1.yr = 1996 AND c2.yr = 1997
  AND w1.yr = 1996 AND w2.yr = 1997
  AND s1.year_total > 0 AND c1.year_total > 0 AND w1.year_total > 0
  AND CAST(c2.year_total AS DOUBLE) / c1.year_total
      > CAST(s2.year_total AS DOUBLE) / s1.year_total
  AND CAST(c2.year_total AS DOUBLE) / c1.year_total
      > CAST(w2.year_total AS DOUBLE) / w1.year_total
ORDER BY s2.custkey
LIMIT 100
""",
)
def tpcds_q4_adapted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS Q4 (tpcds/q04.sql): the THREE-channel year-over-year
    report — q11's big sibling: one year_total CTE over three
    channels, SIX instances self-joined on customer, keeping
    customers whose catalog growth beat BOTH store and web growth.
    Fixture roles: the three channels -> priority bands
    (urgent+high / medium / rest); ss_ext_list_price -
    ss_ext_discount_amt -> extendedprice * (1 - discount) in exact
    cents; ratios are single divisions of exact integers.
    Plan: year_total persisted (SIX consumers); all instances join
    off the cached customer x year x channel aggregate."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    yt = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .filter(F.year("o_orderdate").isin(1996, 1997))
        .groupBy(
            F.col("o_custkey").alias("custkey"),
            F.year("o_orderdate").cast("int").alias("yr"),
            F.when(
                F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"),
                F.lit("s"),
            )
            .when(F.col("o_orderpriority") == "3-MEDIUM", F.lit("c"))
            .otherwise(F.lit("w"))
            .alias("sale_type"),
        )
        .agg(
            F.sum(
                F.round(
                    F.col("l_extendedprice")
                    * (1 - F.col("l_discount")) * 100
                ).cast("bigint")
            ).cast("bigint").alias("year_total")
        )
        .persist()
    )

    def inst(alias, st, yr):
        return (
            yt.filter((F.col("sale_type") == st) & (F.col("yr") == yr))
            .alias(alias)
        )

    s1, s2 = inst("s1", "s", 1996), inst("s2", "s", 1997)
    c1, c2 = inst("c1", "c", 1996), inst("c2", "c", 1997)
    w1, w2 = inst("w1", "w", 1996), inst("w2", "w", 1997)

    def growth(num, den):
        return (
            F.col(f"{num}.year_total").cast("double")
            / F.col(f"{den}.year_total")
        )

    return (
        s1.join(s2, F.col("s1.custkey") == F.col("s2.custkey"))
        .join(c1, F.col("s1.custkey") == F.col("c1.custkey"))
        .join(c2, F.col("s1.custkey") == F.col("c2.custkey"))
        .join(w1, F.col("s1.custkey") == F.col("w1.custkey"))
        .join(w2, F.col("s1.custkey") == F.col("w2.custkey"))
        .filter(
            (F.col("s1.year_total") > 0)
            & (F.col("c1.year_total") > 0)
            & (F.col("w1.year_total") > 0)
            & (growth("c2", "c1") > growth("s2", "s1"))
            & (growth("c2", "c1") > growth("w2", "w1"))
        )
        .select(F.col("s2.custkey").alias("custkey"))
        .orderBy("custkey")
        .limit(100)
    )


@register(
    "tpcds_q13_adapted",
    oracle="""
SELECT CAST(SUM(CAST(l_quantity AS BIGINT)) AS DOUBLE)
         / COUNT(l_quantity) AS avg_qty,
       CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS DOUBLE)
         / COUNT(*) / 100.0 AS avg_price,
       CAST(SUM(CAST(round(l_tax * 10000) AS BIGINT)) AS DOUBLE)
         / COUNT(*) / 10000.0 AS avg_tax,
       round(SUM(CAST(round(l_tax * 10000) AS BIGINT)) / 10000.0, 4)
         AS sum_tax
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
WHERE year(o_orderdate) = 1997
  AND ((c_mktsegment = 'BUILDING'
        AND l_extendedprice BETWEEN 30000 AND 60000
        AND o_orderpriority = '1-URGENT')
    OR (c_mktsegment = 'AUTOMOBILE'
        AND l_extendedprice BETWEEN 10000 AND 40000
        AND o_orderpriority = '3-MEDIUM')
    OR (c_mktsegment = 'MACHINERY'
        AND l_extendedprice BETWEEN 40000 AND 70000
        AND o_orderpriority = '5-LOW'))
  AND ((n_name IN ('NATION_1', 'NATION_5', 'NATION_9')
        AND l_quantity BETWEEN 10 AND 30)
    OR (n_name IN ('NATION_12', 'NATION_17', 'NATION_21')
        AND l_quantity BETWEEN 20 AND 40)
    OR (n_name IN ('NATION_2', 'NATION_8', 'NATION_23')
        AND l_quantity BETWEEN 30 AND 50))
""",
)
def tpcds_q13_adapted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS Q13 (tpcds/q13.sql): global averages under TWO
    conjoined OR-groups of dimension x measure bands (demographic
    bands AND geography bands — each row must satisfy one branch of
    EACH group). Fixture roles: marital/education pairs ->
    mktsegment x priority, sales-price bands -> extendedprice
    bands, state triples -> nation triples, net-profit bands ->
    quantity bands. All averages exact (integer sums over one
    division).
    Plan: the OR-groups are pure row-level residuals over the
    joined row — no union fan-out; dims broadcast; single global
    aggregate."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    demo = (
        (
            (F.col("c_mktsegment") == "BUILDING")
            & F.col("l_extendedprice").between(30000, 60000)
            & (F.col("o_orderpriority") == "1-URGENT")
        )
        | (
            (F.col("c_mktsegment") == "AUTOMOBILE")
            & F.col("l_extendedprice").between(10000, 40000)
            & (F.col("o_orderpriority") == "3-MEDIUM")
        )
        | (
            (F.col("c_mktsegment") == "MACHINERY")
            & F.col("l_extendedprice").between(40000, 70000)
            & (F.col("o_orderpriority") == "5-LOW")
        )
    )
    geo = (
        (
            F.col("n_name").isin("NATION_1", "NATION_5", "NATION_9")
            & F.col("l_quantity").between(10, 30)
        )
        | (
            F.col("n_name").isin("NATION_12", "NATION_17", "NATION_21")
            & F.col("l_quantity").between(20, 40)
        )
        | (
            F.col("n_name").isin("NATION_2", "NATION_8", "NATION_23")
            & F.col("l_quantity").between(30, 50)
        )
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .filter((F.year("o_orderdate") == 1997) & demo & geo)
        .agg(
            (
                F.sum(F.col("l_quantity").cast("bigint")).cast("double")
                / F.count("l_quantity")
            ).alias("avg_qty"),
            (
                F.sum(
                    F.round(F.col("l_extendedprice") * 100).cast("bigint")
                ).cast("double")
                / F.count(F.lit(1))
                / 100.0
            ).alias("avg_price"),
            (
                F.sum(
                    F.round(F.col("l_tax") * 10000).cast("bigint")
                ).cast("double")
                / F.count(F.lit(1))
                / 10000.0
            ).alias("avg_tax"),
            F.round(
                F.sum(F.round(F.col("l_tax") * 10000).cast("bigint"))
                / 10000.0,
                4,
            ).alias("sum_tax"),
        )
    )


@register(
    "tpcds_q15_adapted",
    oracle=f"""
SELECT lpad(CAST(c_custkey % 100 AS VARCHAR), 2, '0') AS zip,
       {oracle_dec_sum('l_extendedprice', 'sales')}
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
WHERE (lpad(CAST(c_custkey % 100 AS VARCHAR), 2, '0')
         IN ('05', '13', '31', '47', '59', '66', '74', '88', '92')
    OR n_name IN ('NATION_3', 'NATION_11', 'NATION_19')
    OR l_extendedprice > 55000)
  AND year(o_orderdate) = 1997 AND quarter(o_orderdate) = 2
GROUP BY 1
ORDER BY zip
LIMIT 100
""",
)
def tpcds_q15_adapted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS Q15 (tpcds/q15.sql): catalog sales per zip where the
    row qualifies by ANY of three unrelated predicates — a zip-list
    membership, a state-list membership, or a price threshold (the
    corpus's OR-across-dimensions signature, which defeats
    single-dimension pushdown). Fixture roles as q8 (derived zip) +
    nation states + extendedprice.
    Plan: one residual OR filter over the joined row; single
    aggregate shuffle on the derived zip."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    zip_of = F.lpad((F.col("c_custkey") % 100).cast("string"), 2, "0")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .filter(
            (
                zip_of.isin(
                    "05", "13", "31", "47", "59", "66", "74", "88", "92"
                )
                | F.col("n_name").isin(
                    "NATION_3", "NATION_11", "NATION_19"
                )
                | (F.col("l_extendedprice") > 55000)
            )
            & (F.year("o_orderdate") == 1997)
            & (F.quarter("o_orderdate") == 2)
        )
        .groupBy(zip_of.alias("zip"))
        .agg(dec_sum("l_extendedprice", "sales"))
        .orderBy("zip")
        .limit(100)
    )


@register(
    "tpcds_q18_adapted",
    oracle="""
SELECT p_brand, n_name, c_mktsegment, o_orderpriority,
       CAST(SUM(CAST(l_quantity AS BIGINT)) AS DOUBLE)
         / COUNT(l_quantity) AS agg1,
       CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS DOUBLE)
         / COUNT(*) / 100.0 AS agg2,
       CAST(SUM(CAST(round(l_discount * 10000) AS BIGINT)) AS DOUBLE)
         / COUNT(*) / 10000.0 AS agg3,
       CAST(SUM(CAST(round(l_tax * 10000) AS BIGINT)) AS DOUBLE)
         / COUNT(*) / 10000.0 AS agg4,
       CAST(SUM(CAST(round(c_acctbal * 100) AS BIGINT)) AS DOUBLE)
         / COUNT(*) / 100.0 AS agg5
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN part ON l_partkey = p_partkey
WHERE year(o_orderdate) = 1997
  AND month(o_orderdate) IN (1, 2, 6, 8, 9, 12)
  AND n_name IN ('NATION_2', 'NATION_7', 'NATION_13', 'NATION_18',
                 'NATION_22')
GROUP BY ROLLUP (p_brand, n_name, c_mktsegment, o_orderpriority)
ORDER BY p_brand NULLS FIRST, n_name NULLS FIRST,
         c_mktsegment NULLS FIRST, o_orderpriority NULLS FIRST
LIMIT 100
""",
)
def tpcds_q18_adapted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS Q18 (tpcds/q18.sql): four-level ROLLUP (item,
    country, state, county) of FIVE decimal averages with a
    birth-month IN filter and a state list. Fixture roles: the
    geography chain -> (brand, nation, mktsegment, priority);
    c_birth_month IN -> order month IN; the seven DECIMAL(12,2)
    averages -> five exact-integer averages (quantity, price,
    discount, tax, acctbal).
    Plan: dims broadcast; the 4-level rollup is one Expand +
    shuffle; averages exact at every grouping level."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    part = load_table(spark, sf_dir, "part")

    def exact_avg(col, scale, out):
        return (
            F.sum(F.round(F.col(col) * scale).cast("bigint"))
            .cast("double")
            / F.count(F.lit(1))
            / float(scale)
        ).alias(out)

    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(part, li.l_partkey == part.p_partkey)
        .filter(
            (F.year("o_orderdate") == 1997)
            & F.month("o_orderdate").isin(1, 2, 6, 8, 9, 12)
            & F.col("n_name").isin(
                "NATION_2", "NATION_7", "NATION_13", "NATION_18",
                "NATION_22",
            )
        )
        .rollup("p_brand", "n_name", "c_mktsegment", "o_orderpriority")
        .agg(
            (
                F.sum(F.col("l_quantity").cast("bigint")).cast("double")
                / F.count("l_quantity")
            ).alias("agg1"),
            exact_avg("l_extendedprice", 100, "agg2"),
            exact_avg("l_discount", 10000, "agg3"),
            exact_avg("l_tax", 10000, "agg4"),
            exact_avg("c_acctbal", 100, "agg5"),
        )
        .orderBy(
            F.col("p_brand").asc_nulls_first(),
            F.col("n_name").asc_nulls_first(),
            F.col("c_mktsegment").asc_nulls_first(),
            F.col("o_orderpriority").asc_nulls_first(),
        )
        .limit(100)
    )


@register(
    "tpcds_q25_adapted",
    oracle=f"""
WITH ss AS (
  SELECT l_suppkey AS sk, o_custkey AS ck, l_partkey AS ik,
         l_extendedprice AS amt
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE l_returnflag <> 'R' AND month(o_orderdate) = 4
    AND year(o_orderdate) = 1997
),
sr AS (
  SELECT l_suppkey AS sk, o_custkey AS ck, l_partkey AS ik,
         l_extendedprice AS amt
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE l_returnflag = 'R' AND month(o_orderdate) BETWEEN 4 AND 10
    AND year(o_orderdate) = 1997
),
cs AS (
  SELECT l_suppkey AS sk, o_custkey AS ck, l_partkey AS ik,
         l_extendedprice AS amt
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE l_returnflag <> 'R' AND month(o_orderdate) BETWEEN 5 AND 10
    AND year(o_orderdate) = 1997
)
SELECT s_name, p_brand,
       {oracle_dec_sum('ss.amt', 'store_sales_profit')},
       {oracle_dec_sum('sr.amt', 'store_returns_loss')},
       {oracle_dec_sum('cs.amt', 'catalog_sales_profit')}
FROM ss
JOIN sr ON ss.sk = sr.sk AND ss.ck = sr.ck
JOIN cs ON ss.sk = cs.sk AND ss.ck = cs.ck
JOIN supplier ON s_suppkey = ss.sk
JOIN part ON p_partkey = ss.ik
GROUP BY s_name, p_brand
ORDER BY s_name, p_brand
LIMIT 100
""",
)
def tpcds_q25_adapted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS Q25 (tpcds/q25.sql): the q17-family triple-fact chain
    (sale -> return -> repurchase, month-staggered windows) with SUM
    measures and both dims decorating the output (q17 takes
    count/avg/stddev; q25 takes profit sums per (store, item)).
    Fixture roles as q17: the three streams are returnflag/month
    slices of lineitem x orders keyed (suppkey, custkey) — the
    item key stays in the output decoration (the 3-part key is
    vacuous at fixture scale).
    Plan: the three slices co-partition on the composite key — three
    slice shuffles, zero-exchange joins between them, dims
    broadcast."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    supp = load_table(spark, sf_dir, "supplier")
    part = load_table(spark, sf_dir, "part")
    lo = li.join(orders, li.l_orderkey == orders.o_orderkey)

    def slice_(pred, alias):
        return (
            lo.filter(pred & (F.year("o_orderdate") == 1997))
            .select(
                F.col("l_suppkey").alias("sk"),
                F.col("o_custkey").alias("ck"),
                F.col("l_partkey").alias("ik"),
                F.col("l_extendedprice").alias("amt"),
            )
            .alias(alias)
        )

    ss = slice_(
        (F.col("l_returnflag") != "R") & (F.month("o_orderdate") == 4),
        "ss",
    )
    sr = slice_(
        (F.col("l_returnflag") == "R")
        & F.month("o_orderdate").between(4, 10),
        "sr",
    )
    cs = slice_(
        (F.col("l_returnflag") != "R")
        & F.month("o_orderdate").between(5, 10),
        "cs",
    )
    return (
        ss.join(
            sr,
            (F.col("ss.sk") == F.col("sr.sk"))
            & (F.col("ss.ck") == F.col("sr.ck")),
        )
        .join(
            cs,
            (F.col("ss.sk") == F.col("cs.sk"))
            & (F.col("ss.ck") == F.col("cs.ck")),
        )
        .join(supp, F.col("ss.sk") == supp.s_suppkey)
        .join(part, F.col("ss.ik") == part.p_partkey)
        .groupBy("s_name", "p_brand")
        .agg(
            dec_sum("ss.amt", "store_sales_profit"),
            dec_sum("sr.amt", "store_returns_loss"),
            dec_sum("cs.amt", "catalog_sales_profit"),
        )
        .orderBy("s_name", "p_brand")
        .limit(100)
    )


@register(
    "tpcds_q28_adapted",
    oracle="""
WITH b AS (
  SELECT CAST(floor((l_quantity - 1) / 10) AS INT) AS bucket,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS price_s
  FROM lineitem WHERE l_quantity BETWEEN 1 AND 50
),
panels AS (
  SELECT bucket,
         CAST(SUM(price_s) AS DOUBLE) / COUNT(*) / 100.0 AS avg_price,
         CAST(COUNT(*) AS BIGINT) AS cnt,
         CAST(COUNT(DISTINCT price_s) AS BIGINT) AS cnt_distinct
  FROM b GROUP BY bucket
)
SELECT
  MAX(CASE WHEN bucket = 0 THEN avg_price END) AS b1_avg,
  MAX(CASE WHEN bucket = 0 THEN cnt END) AS b1_cnt,
  MAX(CASE WHEN bucket = 0 THEN cnt_distinct END) AS b1_cntd,
  MAX(CASE WHEN bucket = 1 THEN avg_price END) AS b2_avg,
  MAX(CASE WHEN bucket = 1 THEN cnt END) AS b2_cnt,
  MAX(CASE WHEN bucket = 1 THEN cnt_distinct END) AS b2_cntd,
  MAX(CASE WHEN bucket = 2 THEN avg_price END) AS b3_avg,
  MAX(CASE WHEN bucket = 2 THEN cnt END) AS b3_cnt,
  MAX(CASE WHEN bucket = 2 THEN cnt_distinct END) AS b3_cntd,
  MAX(CASE WHEN bucket = 3 THEN avg_price END) AS b4_avg,
  MAX(CASE WHEN bucket = 3 THEN cnt END) AS b4_cnt,
  MAX(CASE WHEN bucket = 3 THEN cnt_distinct END) AS b4_cntd,
  MAX(CASE WHEN bucket = 4 THEN avg_price END) AS b5_avg,
  MAX(CASE WHEN bucket = 4 THEN cnt END) AS b5_cnt,
  MAX(CASE WHEN bucket = 4 THEN cnt_distinct END) AS b5_cntd
FROM panels
""",
)
def tpcds_q28_adapted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS Q28 (tpcds/q28.sql): six quantity-band panels — each
    (avg list price, count, count DISTINCT price) — cross-joined
    into ONE wide row (the reference writes six subqueries and five
    cross joins). Like q9, the Spark-first lowering computes every
    panel in one grouped pass (bucket key) including the per-band
    COUNT(DISTINCT), then folds to a single row — one scan + one
    distinct-expand instead of six scans.
    Plan: groupBy(bucket).agg(count_distinct) plans Spark's Expand;
    the fold is a 1-row aggregate. Averages exact."""
    li = load_table(spark, sf_dir, "lineitem")
    price_s = F.round(F.col("l_extendedprice") * 100).cast("bigint")
    panels = (
        li.filter(F.col("l_quantity").between(1, 50))
        .select(
            F.floor((F.col("l_quantity") - 1) / 10)
            .cast("int")
            .alias("bucket"),
            price_s.alias("price_s"),
        )
        .groupBy("bucket")
        .agg(
            (
                F.sum("price_s").cast("double")
                / F.count(F.lit(1))
                / 100.0
            ).alias("avg_price"),
            F.count(F.lit(1)).cast("bigint").alias("cnt"),
            F.count_distinct(F.col("price_s"))
            .cast("bigint")
            .alias("cnt_distinct"),
        )
    )
    cols = []
    for i in range(5):
        for meas, tag in (("avg_price", "avg"), ("cnt", "cnt"),
                          ("cnt_distinct", "cntd")):
            cols.append(
                F.max(
                    F.when(F.col("bucket") == i, F.col(meas))
                ).alias(f"b{i + 1}_{tag}")
            )
    return panels.agg(*cols)


@register(
    "tpcds_q55_adapted",
    oracle=f"""
SELECT p_brand,
       {oracle_dec_sum('l_extendedprice', 'ext_price')}
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN part ON l_partkey = p_partkey
WHERE p_size BETWEEN 20 AND 40
  AND year(o_orderdate) = 1997 AND month(o_orderdate) = 11
GROUP BY p_brand
ORDER BY ext_price DESC, p_brand
LIMIT 100
""",
)
def tpcds_q55_adapted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS Q55 (tpcds/q55.sql): the minimal star — one month's
    brand revenue under a manager filter, ordered by revenue. The
    corpus's smallest template (it exists to measure bare
    star-join + topn throughput). Fixture roles: i_manager_id=28 ->
    p_size band; d_moy/d_year -> order month/year.
    Plan: part broadcast, one aggregate shuffle,
    TakeOrderedAndProject."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    part = load_table(spark, sf_dir, "part")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(part, li.l_partkey == part.p_partkey)
        .filter(
            F.col("p_size").between(20, 40)
            & (F.year("o_orderdate") == 1997)
            & (F.month("o_orderdate") == 11)
        )
        .groupBy("p_brand")
        .agg(dec_sum("l_extendedprice", "ext_price"))
        .orderBy(F.col("ext_price").desc(), "p_brand")
        .limit(100)
    )


@register(
    "tpcds_q71_adapted",
    oracle=f"""
WITH channels AS (
  SELECT l_extendedprice AS price, l_partkey AS item,
         o_orderdate AS sold
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
    AND year(o_orderdate) = 1997 AND month(o_orderdate) = 12
  UNION ALL
  SELECT l_extendedprice, l_partkey, o_orderdate
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE o_orderpriority = '3-MEDIUM'
    AND year(o_orderdate) = 1997 AND month(o_orderdate) = 12
  UNION ALL
  SELECT l_extendedprice, l_partkey, o_orderdate
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE o_orderpriority IN ('4-NOT SPECIFIED', '5-LOW')
    AND year(o_orderdate) = 1997 AND month(o_orderdate) = 12
)
SELECT p_brand,
       CAST(CASE WHEN day(sold) <= 15 THEN 'am' ELSE 'pm' END
            AS VARCHAR) AS meal_time,
       {oracle_dec_sum('price', 'ext_price')}
FROM channels JOIN part ON item = p_partkey
WHERE p_size BETWEEN 10 AND 30
GROUP BY p_brand, CASE WHEN day(sold) <= 15 THEN 'am' ELSE 'pm' END
ORDER BY ext_price DESC, p_brand, meal_time
LIMIT 100
""",
)
def tpcds_q71_adapted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS Q71 (tpcds/q71.sql): brand revenue by time-band across
    the UNION of all three channels — the three-fact union feeding
    one star aggregate with a derived time bucket (breakfast/dinner
    hours -> first/second half of the month). Fixture roles as q33
    (channels -> priority bands) + the time dim -> day-of-month
    band.
    Plan: the union is channel slices of one fact (the reference
    unions three facts); one aggregate shuffle; part broadcast."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    part = load_table(spark, sf_dir, "part")
    lo = li.join(orders, li.l_orderkey == orders.o_orderkey).filter(
        (F.year("o_orderdate") == 1997)
        & (F.month("o_orderdate") == 12)
    )

    def chan(prios):
        return lo.filter(F.col("o_orderpriority").isin(*prios)).select(
            F.col("l_extendedprice").alias("price"),
            F.col("l_partkey").alias("item"),
            F.col("o_orderdate").alias("sold"),
        )

    channels = (
        chan(["1-URGENT", "2-HIGH"])
        .unionAll(chan(["3-MEDIUM"]))
        .unionAll(chan(["4-NOT SPECIFIED", "5-LOW"]))
    )
    meal = F.when(F.dayofmonth("sold") <= 15, F.lit("am")).otherwise(
        F.lit("pm")
    )
    return (
        channels.join(part, channels.item == part.p_partkey)
        .filter(F.col("p_size").between(10, 30))
        .groupBy("p_brand", meal.alias("meal_time"))
        .agg(dec_sum("price", "ext_price"))
        .orderBy(F.col("ext_price").desc(), "p_brand", "meal_time")
        .limit(100)
    )


@register(
    "tpcds_q91_adapted",
    oracle=f"""
SELECT s_name AS call_center,
       CAST(month(o_orderdate) AS INT) AS moy,
       {oracle_dec_sum('l_extendedprice * l_discount', 'returns_loss')}
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
WHERE l_returnflag = 'R'
  AND year(o_orderdate) = 1997
  AND c_mktsegment IN ('BUILDING', 'MACHINERY')
  AND c_acctbal < 5000
GROUP BY s_name, month(o_orderdate)
ORDER BY returns_loss DESC, call_center, moy
LIMIT 100
""",
)
def tpcds_q91_adapted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS Q91 (tpcds/q91.sql): call-center returns loss — the
    returns fact through customer-demographic filters, grouped per
    (call center, month), ordered by loss. Fixture roles: call
    center -> supplier, cd_marital/education pairs -> mktsegment
    list, hd_buy_potential -> acctbal band, catalog_returns ->
    'R'-flagged lineitems.
    Plan: pure star over the returns slice; dims broadcast; one
    aggregate shuffle; ordered LIMIT with tiebreaks."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .filter(
            (F.col("l_returnflag") == "R")
            & (F.year("o_orderdate") == 1997)
            & F.col("c_mktsegment").isin("BUILDING", "MACHINERY")
            & (F.col("c_acctbal") < 5000)
        )
        .groupBy(
            F.col("s_name").alias("call_center"),
            F.month("o_orderdate").cast("int").alias("moy"),
        )
        .agg(
            dec_sum("l_extendedprice * l_discount", "returns_loss")
        )
        .orderBy(F.col("returns_loss").desc(), "call_center", "moy")
        .limit(100)
    )


@register(
    "tpcds_q83_adapted",
    oracle="""
WITH dates AS (
  SELECT DISTINCT o_orderdate AS d FROM orders
  WHERE o_orderdate IN (SELECT o_orderdate FROM orders
                        WHERE year(o_orderdate) = 1997
                          AND month(o_orderdate) IN (3, 6, 9))
),
ch1 AS (
  SELECT l_partkey AS item,
         CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE l_returnflag = 'R'
    AND o_orderdate IN (SELECT d FROM dates)
    AND o_orderpriority IN ('1-URGENT', '2-HIGH')
  GROUP BY l_partkey
),
ch2 AS (
  SELECT l_partkey AS item,
         CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE l_returnflag = 'R'
    AND o_orderdate IN (SELECT d FROM dates)
    AND o_orderpriority = '3-MEDIUM'
  GROUP BY l_partkey
),
ch3 AS (
  SELECT l_partkey AS item,
         CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE l_returnflag = 'R'
    AND o_orderdate IN (SELECT d FROM dates)
    AND o_orderpriority IN ('4-NOT SPECIFIED', '5-LOW')
  GROUP BY l_partkey
)
SELECT ch1.item,
       ch1.qty AS sr_qty,
       round(CAST(ch1.qty AS DOUBLE)
             / (ch1.qty + ch2.qty + ch3.qty) * 100, 9) AS sr_share,
       ch2.qty AS cr_qty, ch3.qty AS wr_qty,
       CAST(ch1.qty + ch2.qty + ch3.qty AS BIGINT) AS total_qty
FROM ch1
JOIN ch2 ON ch1.item = ch2.item
JOIN ch3 ON ch1.item = ch3.item
ORDER BY ch1.item
LIMIT 100
""",
)
def tpcds_q83_adapted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS Q83 (tpcds/q83.sql): three-way return-share — per-item
    returned quantities in each channel over a date set defined by a
    nested date IN-subquery chain, joined on item with each
    channel's share of the three-channel total. Fixture roles:
    channels -> priority bands of 'R' rows; the week-of IN-subquery
    chain -> the distinct-dates IN-subquery (kept as a real
    subquery, not folded literals). Shares are single divisions of
    exact bigint sums.
    Plan: the date set is tiny (broadcast semi); three channel
    aggregates co-partition on item; the three-way join runs on
    aggregates."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    dates = (
        orders.filter(
            (F.year("o_orderdate") == 1997)
            & F.month("o_orderdate").isin(3, 6, 9)
        )
        .select(F.col("o_orderdate").alias("d"))
        .distinct()
    )
    r = li.filter(F.col("l_returnflag") == "R").join(
        orders, li.l_orderkey == orders.o_orderkey
    )

    def chan(alias, prios):
        return (
            r.filter(F.col("o_orderpriority").isin(*prios))
            .join(
                F.broadcast(dates),
                F.col("o_orderdate") == dates.d,
                "left_semi",
            )
            .groupBy(F.col("l_partkey").alias("item"))
            .agg(
                F.sum(F.col("l_quantity").cast("bigint"))
                .cast("bigint")
                .alias("qty")
            )
            .alias(alias)
        )

    ch1 = chan("ch1", ["1-URGENT", "2-HIGH"])
    ch2 = chan("ch2", ["3-MEDIUM"])
    ch3 = chan("ch3", ["4-NOT SPECIFIED", "5-LOW"])
    total = (
        F.col("ch1.qty") + F.col("ch2.qty") + F.col("ch3.qty")
    )
    return (
        ch1.join(ch2, F.col("ch1.item") == F.col("ch2.item"))
        .join(ch3, F.col("ch1.item") == F.col("ch3.item"))
        .select(
            F.col("ch1.item").alias("item"),
            F.col("ch1.qty").alias("sr_qty"),
            F.round(
                F.col("ch1.qty").cast("double") / total * 100, 9
            ).alias("sr_share"),
            F.col("ch2.qty").alias("cr_qty"),
            F.col("ch3.qty").alias("wr_qty"),
            total.cast("bigint").alias("total_qty"),
        )
        .orderBy("item")
        .limit(100)
    )


# --------------------------------------------------------------------------
# Batch 16 (round 8 continued): the remaining family siblings —
# closing the full q01-q99 shape set. Each entry keeps its template's
# DISTINGUISHING feature and notes the family it extends
# (tpcds/q02.sql, q10.sql, q12.sql, q20.sql, q26.sql, q29.sql,
# q53.sql).
# --------------------------------------------------------------------------


@register(
    "tpcds_q2_adapted",
    oracle="""
WITH wscs AS (
  SELECT o_orderdate AS sold,
         CAST(round(l_extendedprice * 10000) AS BIGINT) AS price_s
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE o_orderpriority IN ('3-MEDIUM', '4-NOT SPECIFIED', '5-LOW')
),
wk AS (
  SELECT CAST(floor(date_diff('day', DATE '1995-01-01',
              CAST(sold AS DATE)) / 7) AS BIGINT) AS wk_seq,
         CAST(date_diff('day', DATE '1995-01-01',
              CAST(sold AS DATE)) % 7 AS INT) AS dow, price_s
  FROM wscs
),
wswscs AS (
  SELECT wk_seq,
         SUM(CASE WHEN dow = 0 THEN price_s END) AS sun_s,
         SUM(CASE WHEN dow = 3 THEN price_s END) AS wed_s,
         SUM(CASE WHEN dow = 6 THEN price_s END) AS sat_s
  FROM wk GROUP BY wk_seq
)
SELECT y.wk_seq AS wk_seq1,
       round(CAST(y.sun_s AS DOUBLE) / z.sun_s, 2) AS sun_r,
       round(CAST(y.wed_s AS DOUBLE) / z.wed_s, 2) AS wed_r,
       round(CAST(y.sat_s AS DOUBLE) / z.sat_s, 2) AS sat_r
FROM wswscs y JOIN wswscs z ON y.wk_seq = z.wk_seq - 53
ORDER BY y.wk_seq
""",
)
def tpcds_q2_adapted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS Q2 (tpcds/q02.sql): the cross-channel weekly
    day-of-week matrix self-joined at wk + 53 — q59's sibling whose
    distinguishing features are (a) the UNION of TWO channels
    feeding one weekly pivot and (b) NULL-propagating day sums
    (CASE without ELSE: a week with no Sunday sales yields NULL,
    not 0). Engine-neutral week arithmetic as q59; ratios are
    single divisions of exact scaled sums.
    Plan: one union + one weekly aggregate (persisted for the two
    self-join instances); the year-over-year join runs on the
    aggregate."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    days = F.datediff(F.to_date("o_orderdate"), F.lit("1995-01-01"))
    wscs = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .filter(
            F.col("o_orderpriority").isin(
                "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"
            )
        )
        .select(
            F.floor(days / 7).cast("bigint").alias("wk_seq"),
            (days % 7).cast("int").alias("dow"),
            F.round(F.col("l_extendedprice") * 10000)
            .cast("bigint").alias("price_s"),
        )
    )

    def day_sum(d, name):
        return F.sum(
            F.when(F.col("dow") == d, F.col("price_s"))
        ).alias(name)

    weekly = wscs.groupBy("wk_seq").agg(
        day_sum(0, "sun_s"), day_sum(3, "wed_s"), day_sum(6, "sat_s")
    ).persist()
    y, z = weekly.alias("y"), weekly.alias("z")
    return (
        y.join(z, F.col("y.wk_seq") == F.col("z.wk_seq") - 53)
        .select(
            F.col("y.wk_seq").alias("wk_seq1"),
            F.round(
                F.col("y.sun_s").cast("double") / F.col("z.sun_s"), 2
            ).alias("sun_r"),
            F.round(
                F.col("y.wed_s").cast("double") / F.col("z.wed_s"), 2
            ).alias("wed_r"),
            F.round(
                F.col("y.sat_s").cast("double") / F.col("z.sat_s"), 2
            ).alias("sat_r"),
        )
        .orderBy("wk_seq1")
    )


@register(
    "tpcds_q10_adapted",
    oracle="""
SELECT c_mktsegment, n_name,
       CAST(COUNT(*) AS BIGINT) AS cnt
FROM customer c
JOIN nation ON c_nationkey = n_nationkey
WHERE n_name IN ('NATION_4', 'NATION_9', 'NATION_14', 'NATION_20')
  AND EXISTS (
    SELECT 1 FROM orders o
    WHERE o.o_custkey = c.c_custkey
      AND year(o.o_orderdate) = 1996
      AND quarter(o.o_orderdate) <= 2)
  AND (EXISTS (
    SELECT 1 FROM orders o
    WHERE o.o_custkey = c.c_custkey
      AND o.o_orderpriority = '5-LOW'
      AND year(o.o_orderdate) = 1996
      AND quarter(o.o_orderdate) <= 2)
   OR EXISTS (
    SELECT 1 FROM orders o
    WHERE o.o_custkey = c.c_custkey
      AND o.o_orderpriority = '3-MEDIUM'
      AND year(o.o_orderdate) = 1996
      AND quarter(o.o_orderdate) <= 2))
GROUP BY c_mktsegment, n_name
ORDER BY c_mktsegment, n_name
""",
)
def tpcds_q10_adapted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS Q10 (tpcds/q10.sql): q35's sibling — the county-
    restricted demographic census gated on EXISTS store AND (EXISTS
    web OR EXISTS catalog) within a quarter window, counts only.
    Distinguishing feature vs q35: the county IN-list pre-filter on
    the outer dimension and the quarter-bounded windows. Same
    semi-join lowering.
    Plan: the nation list prunes customers BEFORE the semi joins;
    three small year+quarter-filtered build sides."""
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    orders = load_table(spark, sf_dir, "orders")
    o96 = orders.filter(
        (F.year("o_orderdate") == 1996)
        & (F.quarter("o_orderdate") <= 2)
    )

    def keys(pred):
        return o96.filter(pred).select(F.col("o_custkey").alias("k"))

    store_k = keys(F.lit(True))
    either = keys(F.col("o_orderpriority") == "5-LOW").union(
        keys(F.col("o_orderpriority") == "3-MEDIUM")
    )
    return (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .filter(
            F.col("n_name").isin(
                "NATION_4", "NATION_9", "NATION_14", "NATION_20"
            )
        )
        .join(store_k, cust.c_custkey == store_k.k, "left_semi")
        .join(either, cust.c_custkey == either.k, "left_semi")
        .groupBy("c_mktsegment", "n_name")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
        .orderBy("c_mktsegment", "n_name")
    )


_Q12_ORACLE_TMPL = """
WITH agg AS (
  SELECT p_brand, p_type,
         CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT))
              AS BIGINT) AS rev_s
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN part ON l_partkey = p_partkey
  WHERE p_type IN ({types})
    AND o_orderdate BETWEEN DATE '{d0}'
                        AND DATE '{d0}' + INTERVAL 30 DAY
    AND o_orderpriority IN ({prios})
  GROUP BY p_brand, p_type
)
SELECT p_brand, p_type,
       round(rev_s / 100.0, 2) AS itemrevenue,
       round(CAST(rev_s AS DOUBLE) * 100
             / SUM(rev_s) OVER (PARTITION BY p_type), 9)
         AS revenueratio
FROM agg
ORDER BY p_type, p_brand
LIMIT 100
"""


def _q12_like(spark, sf_dir, types, d0, d1, prios):
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    part = load_table(spark, sf_dir, "part")
    agg = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(part, li.l_partkey == part.p_partkey)
        .filter(
            F.col("p_type").isin(*types)
            & F.col("o_orderdate").between(d0, d1)
            & F.col("o_orderpriority").isin(*prios)
        )
        .groupBy("p_brand", "p_type")
        .agg(
            F.sum(
                F.round(F.col("l_extendedprice") * 100).cast("bigint")
            ).cast("bigint").alias("rev_s")
        )
    )
    w = Window.partitionBy("p_type")
    return (
        agg.select(
            "p_brand", "p_type",
            F.round(F.col("rev_s") / 100.0, 2).alias("itemrevenue"),
            F.round(
                F.col("rev_s").cast("double") * 100
                / F.sum("rev_s").over(w),
                9,
            ).alias("revenueratio"),
        )
        .orderBy("p_type", "p_brand")
        .limit(100)
    )


@register(
    "tpcds_q12_adapted",
    oracle=_Q12_ORACLE_TMPL.format(
        types="'PROMO', 'STANDARD'", d0="1997-02-22",
        prios="'4-NOT SPECIFIED', '5-LOW'",
    ),
)
def tpcds_q12_adapted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS Q12 (tpcds/q12.sql): WEB-channel item revenue with the
    share-of-class window ratio over a 30-day window — q98's sibling
    whose distinguishing feature is the channel (web -> low-priority
    bands) and category list. revenueratio = rev * 100 / window sum
    over class, exact scaled sums, one window pass over the
    aggregate."""
    return _q12_like(
        spark, sf_dir, ["PROMO", "STANDARD"], "1997-02-22",
        "1997-03-24", ["4-NOT SPECIFIED", "5-LOW"],
    )


@register(
    "tpcds_q20_adapted",
    oracle=_Q12_ORACLE_TMPL.format(
        types="'ECONOMY', 'LARGE', 'BRUSHED'", d0="1997-06-10",
        prios="'3-MEDIUM'",
    ),
)
def tpcds_q20_adapted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS Q20 (tpcds/q20.sql): the CATALOG-channel twin of q12
    (catalog -> the medium band, a different category list and
    window) — same share-of-class window-over-aggregate plan."""
    return _q12_like(
        spark, sf_dir, ["ECONOMY", "LARGE", "BRUSHED"], "1997-06-10",
        "1997-07-10", ["3-MEDIUM"],
    )


@register(
    "tpcds_q26_adapted",
    oracle="""
SELECT p_brand,
       CAST(SUM(CAST(l_quantity AS BIGINT)) AS DOUBLE)
         / COUNT(l_quantity) AS agg1,
       CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS DOUBLE)
         / COUNT(*) / 100.0 AS agg2,
       CAST(SUM(CAST(round(l_discount * 10000) AS BIGINT)) AS DOUBLE)
         / COUNT(*) / 10000.0 AS agg3,
       CAST(SUM(CAST(round(l_tax * 10000) AS BIGINT)) AS DOUBLE)
         / COUNT(*) / 10000.0 AS agg4
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN part ON l_partkey = p_partkey
WHERE c_mktsegment = 'AUTOMOBILE' AND year(o_orderdate) = 1996
  AND o_orderpriority IN ('1-URGENT', '2-HIGH')
GROUP BY p_brand
ORDER BY p_brand
LIMIT 100
""",
)
def tpcds_q26_adapted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS Q26 (tpcds/q26.sql): q27 WITHOUT the rollup — the
    plain demographic star of four exact averages per item (catalog
    channel, promo filter in the reference -> priority bands). Kept
    as the family's flat-grouping representative."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    part = load_table(spark, sf_dir, "part")

    def exact_avg(col, scale, out):
        return (
            F.sum(F.round(F.col(col) * scale).cast("bigint"))
            .cast("double")
            / F.count(F.lit(1))
            / float(scale)
        ).alias(out)

    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(part, li.l_partkey == part.p_partkey)
        .filter(
            (F.col("c_mktsegment") == "AUTOMOBILE")
            & (F.year("o_orderdate") == 1996)
            & F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
        )
        .groupBy("p_brand")
        .agg(
            (
                F.sum(F.col("l_quantity").cast("bigint")).cast("double")
                / F.count("l_quantity")
            ).alias("agg1"),
            exact_avg("l_extendedprice", 100, "agg2"),
            exact_avg("l_discount", 10000, "agg3"),
            exact_avg("l_tax", 10000, "agg4"),
        )
        .orderBy("p_brand")
        .limit(100)
    )


@register(
    "tpcds_q29_adapted",
    oracle=f"""
WITH ss AS (
  SELECT l_suppkey AS sk, o_custkey AS ck, l_quantity AS qty
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE l_returnflag <> 'R' AND month(o_orderdate) = 2
    AND year(o_orderdate) = 1996
),
sr AS (
  SELECT l_suppkey AS sk, o_custkey AS ck, l_quantity AS qty
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE l_returnflag = 'R' AND month(o_orderdate) BETWEEN 2 AND 5
    AND year(o_orderdate) = 1996
),
cs AS (
  SELECT l_suppkey AS sk, o_custkey AS ck, l_quantity AS qty
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE l_returnflag <> 'R'
    AND year(o_orderdate) IN (1996, 1997, 1998)
    AND month(o_orderdate) > 5
)
SELECT s_name,
       CAST(SUM(CAST(ss.qty AS BIGINT)) AS BIGINT) AS store_qty,
       CAST(SUM(CAST(sr.qty AS BIGINT)) AS BIGINT) AS return_qty,
       CAST(SUM(CAST(cs.qty AS BIGINT)) AS BIGINT) AS catalog_qty
FROM ss
JOIN sr ON ss.sk = sr.sk AND ss.ck = sr.ck
JOIN cs ON ss.sk = cs.sk AND ss.ck = cs.ck
JOIN supplier ON s_suppkey = ss.sk
GROUP BY s_name
ORDER BY s_name
LIMIT 100
""",
)
def tpcds_q29_adapted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS Q29 (tpcds/q29.sql): the third member of the
    q17/q25 triple-fact family — QUANTITY flows (sold / returned /
    repurchased-any-of-3-years), the repurchase window spanning
    three years (the family's widest date-role spread). Same
    co-partitioned chain plan as q17/q25."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    supp = load_table(spark, sf_dir, "supplier")
    lo = li.join(orders, li.l_orderkey == orders.o_orderkey)

    def slice_(pred, alias):
        return (
            lo.filter(pred)
            .select(
                F.col("l_suppkey").alias("sk"),
                F.col("o_custkey").alias("ck"),
                F.col("l_quantity").alias("qty"),
            )
            .alias(alias)
        )

    ss = slice_(
        (F.col("l_returnflag") != "R")
        & (F.year("o_orderdate") == 1996)
        & (F.month("o_orderdate") == 2),
        "ss",
    )
    sr = slice_(
        (F.col("l_returnflag") == "R")
        & (F.year("o_orderdate") == 1996)
        & F.month("o_orderdate").between(2, 5),
        "sr",
    )
    cs = slice_(
        (F.col("l_returnflag") != "R")
        & F.year("o_orderdate").isin(1996, 1997, 1998)
        & (F.month("o_orderdate") > 5),
        "cs",
    )
    return (
        ss.join(
            sr,
            (F.col("ss.sk") == F.col("sr.sk"))
            & (F.col("ss.ck") == F.col("sr.ck")),
        )
        .join(
            cs,
            (F.col("ss.sk") == F.col("cs.sk"))
            & (F.col("ss.ck") == F.col("cs.ck")),
        )
        .join(supp, F.col("ss.sk") == supp.s_suppkey)
        .groupBy("s_name")
        .agg(
            F.sum(F.col("ss.qty").cast("bigint"))
            .cast("bigint").alias("store_qty"),
            F.sum(F.col("sr.qty").cast("bigint"))
            .cast("bigint").alias("return_qty"),
            F.sum(F.col("cs.qty").cast("bigint"))
            .cast("bigint").alias("catalog_qty"),
        )
        .orderBy("s_name")
        .limit(100)
    )


@register(
    "tpcds_q53_adapted",
    oracle="""
WITH quarterly AS (
  SELECT p_brand, CAST(quarter(o_orderdate) AS INT) AS qoy,
         CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT))
              AS BIGINT) AS sum_s
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN part ON l_partkey = p_partkey
  WHERE year(o_orderdate) = 1997
    AND ((p_type IN ('PROMO', 'STANDARD')
          AND p_size BETWEEN 1 AND 20)
      OR (p_type IN ('ECONOMY', 'LARGE')
          AND p_size BETWEEN 21 AND 50))
  GROUP BY p_brand, quarter(o_orderdate)
),
win AS (
  SELECT *, avg(CAST(sum_s AS DOUBLE)) OVER (PARTITION BY p_brand)
            AS avg_q
  FROM quarterly
)
SELECT p_brand, qoy, round(sum_s / 100.0, 2) AS sum_sales,
       round(avg_q / 100.0, 4) AS avg_quarterly_sales
FROM win
WHERE CASE WHEN avg_q > 0 THEN abs(sum_s - avg_q) / avg_q
           ELSE NULL END > 0.1
ORDER BY avg_q, sum_s, p_brand, qoy
LIMIT 100
""",
)
def tpcds_q53_adapted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS Q53 (tpcds/q53.sql): q89's QUARTERLY sibling — the
    manufacturer's quarterly sales vs their average quarter, with
    the two-sided OR category/brand-band filter that q89 lacks and
    the deviation filter over exact cents. One window pass over the
    quarterly aggregate."""
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    part = load_table(spark, sf_dir, "part")
    bands = (
        (
            F.col("p_type").isin("PROMO", "STANDARD")
            & F.col("p_size").between(1, 20)
        )
        | (
            F.col("p_type").isin("ECONOMY", "LARGE")
            & F.col("p_size").between(21, 50)
        )
    )
    quarterly = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(part, li.l_partkey == part.p_partkey)
        .filter((F.year("o_orderdate") == 1997) & bands)
        .groupBy(
            "p_brand",
            F.quarter("o_orderdate").cast("int").alias("qoy"),
        )
        .agg(
            F.sum(
                F.round(F.col("l_extendedprice") * 100).cast("bigint")
            ).cast("bigint").alias("sum_s")
        )
    )
    w = Window.partitionBy("p_brand")
    win = quarterly.withColumn(
        "avg_q", F.avg(F.col("sum_s").cast("double")).over(w)
    )
    dev = F.when(
        F.col("avg_q") > 0,
        F.abs(F.col("sum_s") - F.col("avg_q")) / F.col("avg_q"),
    ).otherwise(F.lit(None))
    return (
        win.filter(dev > 0.1)
        .select(
            "p_brand", "qoy",
            F.round(F.col("sum_s") / 100.0, 2).alias("sum_sales"),
            F.round(F.col("avg_q") / 100.0, 4).alias(
                "avg_quarterly_sales"
            ),
            F.col("avg_q").alias("__a"),
        )
        .orderBy("__a", "sum_sales", "p_brand", "qoy")
        .limit(100)
        .drop("__a")
    )


_Q56_ORACLE_TMPL = """
WITH items AS (
  SELECT p_partkey, p_brand FROM part WHERE {item_pred}
),
ch AS (
  SELECT p_brand,
         CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT))
              AS BIGINT) AS rev_s
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN items ON l_partkey = p_partkey
  WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
    AND year(o_orderdate) = 1997 AND month(o_orderdate) = {moy}
  GROUP BY p_brand
  UNION ALL
  SELECT p_brand,
         CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT))
              AS BIGINT)
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN items ON l_partkey = p_partkey
  WHERE o_orderpriority = '3-MEDIUM'
    AND year(o_orderdate) = 1997 AND month(o_orderdate) = {moy}
  GROUP BY p_brand
  UNION ALL
  SELECT p_brand,
         CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT))
              AS BIGINT)
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN items ON l_partkey = p_partkey
  WHERE o_orderpriority IN ('4-NOT SPECIFIED', '5-LOW')
    AND year(o_orderdate) = 1997 AND month(o_orderdate) = {moy}
  GROUP BY p_brand
)
SELECT p_brand, round(SUM(rev_s) / 100.0, 2) AS total_sales
FROM ch GROUP BY p_brand
ORDER BY total_sales DESC, p_brand
LIMIT 100
"""


def _q56_like(spark, sf_dir, item_pred_col, moy):
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    part = load_table(spark, sf_dir, "part")
    items = part.filter(item_pred_col).select("p_partkey", "p_brand")
    lo = li.join(orders, li.l_orderkey == orders.o_orderkey).filter(
        (F.year("o_orderdate") == 1997)
        & (F.month("o_orderdate") == moy)
    )

    def chan(prios):
        return (
            lo.filter(F.col("o_orderpriority").isin(*prios))
            .join(F.broadcast(items), li.l_partkey == items.p_partkey)
            .groupBy("p_brand")
            .agg(
                F.sum(
                    F.round(F.col("l_extendedprice") * 100)
                    .cast("bigint")
                ).cast("bigint").alias("rev_s")
            )
        )

    ch = (
        chan(["1-URGENT", "2-HIGH"])
        .unionAll(chan(["3-MEDIUM"]))
        .unionAll(chan(["4-NOT SPECIFIED", "5-LOW"]))
    )
    return (
        ch.groupBy("p_brand")
        .agg(F.round(F.sum("rev_s") / 100.0, 2).alias("total_sales"))
        .orderBy(F.col("total_sales").desc(), "p_brand")
        .limit(100)
    )


@register(
    "tpcds_q56_adapted",
    oracle=_Q56_ORACLE_TMPL.format(
        item_pred="p_type IN ('PROMO', 'ECONOMY')", moy=3,
    ),
)
def tpcds_q56_adapted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS Q56 (tpcds/q56.sql): q33's sibling — per-item
    three-channel aggregate CTEs UNION ALL'd and re-aggregated, the
    item set defined by a COLOR list (-> p_type list) instead of
    q33's category. Channel aggregates co-partition on brand; the
    item set broadcasts."""
    return _q56_like(
        spark, sf_dir, F.col("p_type").isin("PROMO", "ECONOMY"), 3
    )


@register(
    "tpcds_q60_adapted",
    oracle=_Q56_ORACLE_TMPL.format(
        item_pred="p_size BETWEEN 30 AND 45", moy=9,
    ),
)
def tpcds_q60_adapted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS Q60 (tpcds/q60.sql): the q56/q33 family's third member
    — item set by category (-> p_size band) in a different month;
    same three-channel union + re-aggregate plan."""
    return _q56_like(
        spark, sf_dir, F.col("p_size").between(30, 45), 9
    )


@register(
    "tpcds_q57_adapted",
    oracle="""
WITH v1 AS (
  SELECT s_name, p_brand, CAST(month(o_orderdate) AS INT) AS moy,
         CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT))
              AS BIGINT) AS sum_s
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN part ON l_partkey = p_partkey
  JOIN supplier ON l_suppkey = s_suppkey
  WHERE year(o_orderdate) = 1997
    AND p_type IN ('PROMO', 'STANDARD')
  GROUP BY s_name, p_brand, month(o_orderdate)
),
win AS (
  SELECT *,
         avg(CAST(sum_s AS DOUBLE)) OVER (PARTITION BY s_name, p_brand)
           AS avg_monthly,
         lag(sum_s) OVER (PARTITION BY s_name, p_brand ORDER BY moy)
           AS psum,
         lead(sum_s) OVER (PARTITION BY s_name, p_brand ORDER BY moy)
           AS nsum
  FROM v1
)
SELECT s_name, p_brand, moy,
       round(sum_s / 100.0, 2) AS sum_sales,
       round(avg_monthly / 100.0, 4) AS avg_monthly_sales,
       round(COALESCE(psum, 0) / 100.0, 2) AS psum_sales,
       round(COALESCE(nsum, 0) / 100.0, 2) AS nsum_sales
FROM win
WHERE avg_monthly > 0
  AND abs(sum_s - avg_monthly) / avg_monthly > 0.1
ORDER BY sum_s - avg_monthly, s_name, p_brand, moy
LIMIT 100
""",
)
def tpcds_q57_adapted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS Q57 (tpcds/q57.sql): q47's CATALOG-channel sibling —
    the monthly aggregate with avg-over-line PLUS lag/lead month
    neighbors in one window pass, deviation-filtered. Distinguishing
    feature vs q89/q53: the lag/lead columns ride the same window
    partition. Exact cents throughout."""
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    part = load_table(spark, sf_dir, "part")
    supp = load_table(spark, sf_dir, "supplier")
    v1 = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(part, li.l_partkey == part.p_partkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .filter(
            (F.year("o_orderdate") == 1997)
            & F.col("p_type").isin("PROMO", "STANDARD")
        )
        .groupBy(
            "s_name", "p_brand",
            F.month("o_orderdate").cast("int").alias("moy"),
        )
        .agg(
            F.sum(
                F.round(F.col("l_extendedprice") * 100).cast("bigint")
            ).cast("bigint").alias("sum_s")
        )
    )
    part_w = Window.partitionBy("s_name", "p_brand")
    seq_w = part_w.orderBy("moy")
    win = (
        v1.withColumn(
            "avg_monthly",
            F.avg(F.col("sum_s").cast("double")).over(part_w),
        )
        .withColumn("psum", F.lag("sum_s").over(seq_w))
        .withColumn("nsum", F.lead("sum_s").over(seq_w))
    )
    return (
        win.filter(
            (F.col("avg_monthly") > 0)
            & (
                F.abs(F.col("sum_s") - F.col("avg_monthly"))
                / F.col("avg_monthly")
                > 0.1
            )
        )
        .select(
            "s_name", "p_brand", "moy",
            F.round(F.col("sum_s") / 100.0, 2).alias("sum_sales"),
            F.round(F.col("avg_monthly") / 100.0, 4).alias(
                "avg_monthly_sales"
            ),
            F.round(
                F.coalesce(F.col("psum"), F.lit(0)) / 100.0, 2
            ).alias("psum_sales"),
            F.round(
                F.coalesce(F.col("nsum"), F.lit(0)) / 100.0, 2
            ).alias("nsum_sales"),
            (F.col("sum_s") - F.col("avg_monthly")).alias("__d"),
        )
        .orderBy("__d", "s_name", "p_brand", "moy")
        .limit(100)
        .drop("__d")
    )


@register(
    "tpcds_q63_adapted",
    oracle="""
WITH monthly AS (
  SELECT p_size AS mgr, CAST(month(o_orderdate) AS INT) AS moy,
         CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT))
              AS BIGINT) AS sum_s
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN part ON l_partkey = p_partkey
  WHERE year(o_orderdate) = 1997
    AND ((p_type IN ('PROMO', 'STANDARD')
          AND p_brand IN ('Brand#1', 'Brand#3', 'Brand#5'))
      OR (p_type IN ('ECONOMY', 'LARGE')
          AND p_brand IN ('Brand#2', 'Brand#4')))
  GROUP BY p_size, month(o_orderdate)
),
win AS (
  SELECT *, avg(CAST(sum_s AS DOUBLE)) OVER (PARTITION BY mgr)
            AS avg_m
  FROM monthly
)
SELECT mgr, moy, round(sum_s / 100.0, 2) AS sum_sales,
       round(avg_m / 100.0, 4) AS avg_monthly_sales
FROM win
WHERE CASE WHEN avg_m > 0 THEN abs(sum_s - avg_m) / avg_m
           ELSE NULL END > 0.1
ORDER BY mgr, avg_m, sum_s, moy
LIMIT 100
""",
)
def tpcds_q63_adapted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS Q63 (tpcds/q63.sql): the MANAGER-keyed member of the
    q53/q89 deviation family (i_manager_id -> p_size as the manager
    surrogate) with the two-sided category/brand OR bands. One
    window pass over the monthly aggregate, exact cents."""
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    part = load_table(spark, sf_dir, "part")
    bands = (
        (
            F.col("p_type").isin("PROMO", "STANDARD")
            & F.col("p_brand").isin("Brand#1", "Brand#3", "Brand#5")
        )
        | (
            F.col("p_type").isin("ECONOMY", "LARGE")
            & F.col("p_brand").isin("Brand#2", "Brand#4")
        )
    )
    monthly = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(part, li.l_partkey == part.p_partkey)
        .filter((F.year("o_orderdate") == 1997) & bands)
        .groupBy(
            F.col("p_size").alias("mgr"),
            F.month("o_orderdate").cast("int").alias("moy"),
        )
        .agg(
            F.sum(
                F.round(F.col("l_extendedprice") * 100).cast("bigint")
            ).cast("bigint").alias("sum_s")
        )
    )
    w = Window.partitionBy("mgr")
    win = monthly.withColumn(
        "avg_m", F.avg(F.col("sum_s").cast("double")).over(w)
    )
    dev = F.when(
        F.col("avg_m") > 0,
        F.abs(F.col("sum_s") - F.col("avg_m")) / F.col("avg_m"),
    ).otherwise(F.lit(None))
    return (
        win.filter(dev > 0.1)
        .select(
            "mgr", "moy",
            F.round(F.col("sum_s") / 100.0, 2).alias("sum_sales"),
            F.round(F.col("avg_m") / 100.0, 4).alias(
                "avg_monthly_sales"
            ),
            F.col("avg_m").alias("__a"),
        )
        .orderBy("mgr", "__a", "sum_sales", "moy")
        .limit(100)
        .drop("__a")
    )


@register(
    "tpcds_q68_adapted",
    oracle=f"""
WITH dn AS (
  SELECT o_orderkey AS ticket, o_custkey AS custkey,
         n_name AS bought_nation,
         {oracle_dec_sum('l_extendedprice', 'extended_price')},
         {oracle_dec_sum('l_extendedprice * l_discount', 'ext_disc_amt')},
         {oracle_dec_sum('l_extendedprice * l_tax', 'ext_tax')}
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  WHERE month(o_orderdate) IN (1, 2)
    AND o_orderpriority IN ('1-URGENT', '3-MEDIUM')
    AND n_name IN ('NATION_6', 'NATION_16')
  GROUP BY o_orderkey, o_custkey, n_name
)
SELECT c_name, cn.n_name AS cust_nation, dn.bought_nation, dn.ticket,
       dn.extended_price, dn.ext_disc_amt, dn.ext_tax
FROM dn
JOIN customer ON dn.custkey = c_custkey
JOIN nation cn ON c_nationkey = cn.n_nationkey
WHERE cn.n_name <> dn.bought_nation
ORDER BY c_name, cust_nation, bought_nation, ticket
LIMIT 100
""",
)
def tpcds_q68_adapted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS Q68 (tpcds/q68.sql): q46's sibling — the same
    per-ticket aggregate + current-vs-bought city mismatch, but with
    THREE money measures (price / discount / tax) and month-based
    dim filters instead of the weekend filter. Same
    aggregate-then-decorate plan."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    cust = load_table(spark, sf_dir, "customer")
    dn = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .filter(
            F.month("o_orderdate").isin(1, 2)
            & F.col("o_orderpriority").isin("1-URGENT", "3-MEDIUM")
            & F.col("n_name").isin("NATION_6", "NATION_16")
        )
        .groupBy(
            F.col("o_orderkey").alias("ticket"),
            F.col("o_custkey").alias("custkey"),
            F.col("n_name").alias("bought_nation"),
        )
        .agg(
            dec_sum("l_extendedprice", "extended_price"),
            dec_sum("l_extendedprice * l_discount", "ext_disc_amt"),
            dec_sum("l_extendedprice * l_tax", "ext_tax"),
        )
    )
    cn = nation.alias("cn")
    return (
        dn.join(cust, dn.custkey == cust.c_custkey)
        .join(F.broadcast(cn), cust.c_nationkey == F.col("cn.n_nationkey"))
        .filter(F.col("cn.n_name") != F.col("bought_nation"))
        .select(
            "c_name",
            F.col("cn.n_name").alias("cust_nation"),
            "bought_nation", "ticket", "extended_price",
            "ext_disc_amt", "ext_tax",
        )
        .orderBy("c_name", "cust_nation", "bought_nation", "ticket")
        .limit(100)
    )


@register(
    "tpcds_q69_adapted",
    oracle="""
SELECT c_mktsegment, n_name, CAST(COUNT(*) AS BIGINT) AS cnt
FROM customer c
JOIN nation ON c_nationkey = n_nationkey
WHERE n_name IN ('NATION_5', 'NATION_10', 'NATION_15')
  AND EXISTS (
    SELECT 1 FROM orders o
    WHERE o.o_custkey = c.c_custkey
      AND o.o_orderpriority IN ('1-URGENT', '2-HIGH')
      AND year(o.o_orderdate) = 1996
      AND month(o.o_orderdate) BETWEEN 1 AND 3)
  AND NOT EXISTS (
    SELECT 1 FROM orders o
    WHERE o.o_custkey = c.c_custkey
      AND o.o_orderpriority = '5-LOW'
      AND year(o.o_orderdate) = 1996
      AND month(o.o_orderdate) BETWEEN 1 AND 3)
  AND NOT EXISTS (
    SELECT 1 FROM orders o
    WHERE o.o_custkey = c.c_custkey
      AND o.o_orderpriority = '3-MEDIUM'
      AND year(o.o_orderdate) = 1996
      AND month(o.o_orderdate) BETWEEN 1 AND 3)
GROUP BY c_mktsegment, n_name
ORDER BY c_mktsegment, n_name
""",
)
def tpcds_q69_adapted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS Q69 (tpcds/q69.sql): q10's complement — customers with
    STORE activity but NO web and NO catalog activity in the window
    (EXISTS + two NOT EXISTS -> one semi and two ANTI joins). The
    anti-join pair is the family's distinguishing lowering."""
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    orders = load_table(spark, sf_dir, "orders")
    o = orders.filter(
        (F.year("o_orderdate") == 1996)
        & F.month("o_orderdate").between(1, 3)
    )

    def keys(pred):
        return o.filter(pred).select(F.col("o_custkey").alias("k"))

    store_k = keys(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
    web_k = keys(F.col("o_orderpriority") == "5-LOW")
    cat_k = keys(F.col("o_orderpriority") == "3-MEDIUM")
    return (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .filter(
            F.col("n_name").isin("NATION_5", "NATION_10", "NATION_15")
        )
        .join(store_k, cust.c_custkey == store_k.k, "left_semi")
        .join(web_k, cust.c_custkey == web_k.k, "left_anti")
        .join(cat_k, cust.c_custkey == cat_k.k, "left_anti")
        .groupBy("c_mktsegment", "n_name")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
        .orderBy("c_mktsegment", "n_name")
    )


@register(
    "tpcds_q73_adapted",
    oracle="""
WITH dn AS (
  SELECT o_orderkey AS ticket, o_custkey AS custkey,
         CAST(COUNT(*) AS BIGINT) AS cnt
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  WHERE o_orderpriority IN ('2-HIGH', '4-NOT SPECIFIED')
    AND year(o_orderdate) IN (1996, 1997)
  GROUP BY o_orderkey, o_custkey
  HAVING COUNT(*) BETWEEN 1 AND 5
)
SELECT c_name, c_mktsegment, dn.ticket, dn.cnt
FROM dn JOIN customer ON dn.custkey = c_custkey
ORDER BY cnt DESC, c_name, ticket
LIMIT 100
""",
)
def tpcds_q73_adapted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS Q73 (tpcds/q73.sql): q34's sibling — the 'together
    buyers' count-band per ticket, with the LOW band (1-5 items vs
    q34's 15-20) and different dim filters; aggregate -> HAVING band
    -> decorate from the customer dim."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    dn = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .filter(
            F.col("o_orderpriority").isin("2-HIGH", "4-NOT SPECIFIED")
            & F.year("o_orderdate").isin(1996, 1997)
        )
        .groupBy(
            F.col("o_orderkey").alias("ticket"),
            F.col("o_custkey").alias("custkey"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
        .filter(F.col("cnt").between(1, 5))
    )
    return (
        dn.join(cust, dn.custkey == cust.c_custkey)
        .select("c_name", "c_mktsegment", "ticket", "cnt")
        .orderBy(F.col("cnt").desc(), "c_name", "ticket")
        .limit(100)
    )


@register(
    "tpcds_q77_adapted",
    oracle="""
WITH sales_ch AS (
  SELECT CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
              THEN 'store' WHEN o_orderpriority = '3-MEDIUM'
              THEN 'catalog' ELSE 'web' END AS channel,
         l_suppkey AS id,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS sales_s,
         CAST(round(l_extendedprice * (1 - l_discount) * 100)
              AS BIGINT) AS profit_s
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE l_returnflag <> 'R'
    AND o_orderdate BETWEEN DATE '1997-08-01'
                        AND DATE '1997-08-01' + INTERVAL 30 DAY
),
sales AS (
  SELECT channel, id, CAST(SUM(sales_s) AS BIGINT) AS sales_s,
         CAST(SUM(profit_s) AS BIGINT) AS profit_s
  FROM sales_ch GROUP BY channel, id
),
rets_ch AS (
  SELECT CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
              THEN 'store' WHEN o_orderpriority = '3-MEDIUM'
              THEN 'catalog' ELSE 'web' END AS channel,
         l_suppkey AS id,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS ret_s
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE l_returnflag = 'R'
    AND o_orderdate BETWEEN DATE '1997-08-01'
                        AND DATE '1997-08-01' + INTERVAL 30 DAY
),
rets AS (
  SELECT channel, id, CAST(SUM(ret_s) AS BIGINT) AS ret_s
  FROM rets_ch GROUP BY channel, id
),
joined AS (
  SELECT s.channel, s.id, s.sales_s,
         COALESCE(r.ret_s, 0) AS ret_s,
         s.profit_s - COALESCE(r.ret_s, 0) AS net_s
  FROM sales s
  LEFT JOIN rets r ON s.channel = r.channel AND s.id = r.id
)
SELECT channel, id,
       round(SUM(sales_s) / 100.0, 2) AS sales,
       round(SUM(ret_s) / 100.0, 2) AS returns,
       round(SUM(net_s) / 100.0, 2) AS profit
FROM joined
GROUP BY ROLLUP (channel, id)
ORDER BY channel NULLS FIRST, id NULLS FIRST
LIMIT 100
""",
)
def tpcds_q77_adapted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS Q77 (tpcds/q77.sql): the q5/q80 family's third member
    — per-channel sales and returns aggregated SEPARATELY per
    location, LEFT-joined on (channel, id) (q80 joins at row level,
    q77 at aggregate level — the reference even full-outer-joins one
    channel), netted and ROLLUP'd. Exact cents; the aggregate-level
    outer join is the distinguishing plan feature.
    Plan: two channel aggregates (sales / returns) shuffle once
    each; the outer join and rollup run on aggregates."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    lo = li.join(orders, li.l_orderkey == orders.o_orderkey).filter(
        F.col("o_orderdate").between("1997-08-01", "1997-08-31")
    )
    channel = (
        F.when(
            F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"),
            F.lit("store"),
        )
        .when(F.col("o_orderpriority") == "3-MEDIUM", F.lit("catalog"))
        .otherwise(F.lit("web"))
    )
    cents = lambda c: F.round(c * 100).cast("bigint")  # noqa: E731
    sales = (
        lo.filter(F.col("l_returnflag") != "R")
        .groupBy(
            channel.alias("channel"), F.col("l_suppkey").alias("id")
        )
        .agg(
            F.sum(cents(F.col("l_extendedprice")))
            .cast("bigint").alias("sales_s"),
            F.sum(
                cents(
                    F.col("l_extendedprice") * (1 - F.col("l_discount"))
                )
            ).cast("bigint").alias("profit_s"),
        )
    )
    rets = (
        lo.filter(F.col("l_returnflag") == "R")
        .groupBy(
            channel.alias("channel"), F.col("l_suppkey").alias("id")
        )
        .agg(
            F.sum(cents(F.col("l_extendedprice")))
            .cast("bigint").alias("ret_s")
        )
        .withColumnRenamed("channel", "r_channel")
        .withColumnRenamed("id", "r_id")
    )
    joined = (
        sales.join(
            rets,
            (sales.channel == rets.r_channel) & (sales.id == rets.r_id),
            "left",
        )
        .select(
            "channel", "id", "sales_s",
            F.coalesce(F.col("ret_s"), F.lit(0)).alias("ret_s2"),
            (
                F.col("profit_s")
                - F.coalesce(F.col("ret_s"), F.lit(0))
            ).alias("net_s"),
        )
    )
    return (
        joined.rollup("channel", "id")
        .agg(
            F.round(F.sum("sales_s") / 100.0, 2).alias("sales"),
            F.round(F.sum("ret_s2") / 100.0, 2).alias("returns"),
            F.round(F.sum("net_s") / 100.0, 2).alias("profit"),
        )
        .orderBy(
            F.col("channel").asc_nulls_first(),
            F.col("id").asc_nulls_first(),
        )
        .limit(100)
    )


@register(
    "tpcds_q79_adapted",
    oracle=f"""
WITH dn AS (
  SELECT o_orderkey AS ticket, o_custkey AS custkey,
         s_nationkey AS store_nation,
         {oracle_dec_sum('l_extendedprice * l_discount', 'amt')},
         {oracle_dec_sum('l_extendedprice * (1 - l_discount)',
                         'profit')}
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN supplier ON l_suppkey = s_suppkey
  WHERE date_diff('day', DATE '1992-01-06',
                  CAST(o_orderdate AS DATE)) % 7 = 0
    AND o_orderpriority IN ('1-URGENT', '4-NOT SPECIFIED')
    AND s_nationkey < 12
  GROUP BY o_orderkey, o_custkey, s_nationkey
)
SELECT c_name, dn.store_nation, dn.ticket, dn.amt, dn.profit
FROM dn JOIN customer ON dn.custkey = c_custkey
ORDER BY c_name, dn.store_nation, dn.ticket
LIMIT 100
""",
)
def tpcds_q79_adapted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS Q79 (tpcds/q79.sql): q46's MONDAY sibling — per-ticket
    coupon/profit aggregate on one day-of-week (d_dow = 1 -> the
    engine-neutral Monday-epoch mod-7), store-count band -> nation
    band, decorated from the customer dim WITHOUT the mismatch
    filter (the family's simplest decoration)."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    supp = load_table(spark, sf_dir, "supplier")
    cust = load_table(spark, sf_dir, "customer")
    days = F.datediff(F.to_date("o_orderdate"), F.lit("1992-01-06"))
    dn = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .filter(
            ((days % 7) == 0)
            & F.col("o_orderpriority").isin(
                "1-URGENT", "4-NOT SPECIFIED"
            )
            & (F.col("s_nationkey") < 12)
        )
        .groupBy(
            F.col("o_orderkey").alias("ticket"),
            F.col("o_custkey").alias("custkey"),
            F.col("s_nationkey").alias("store_nation"),
        )
        .agg(
            dec_sum("l_extendedprice * l_discount", "amt"),
            dec_sum("l_extendedprice * (1 - l_discount)", "profit"),
        )
    )
    return (
        dn.join(cust, dn.custkey == cust.c_custkey)
        .select("c_name", "store_nation", "ticket", "amt", "profit")
        .orderBy("c_name", "store_nation", "ticket")
        .limit(100)
    )


@register(
    "tpcds_q81_adapted",
    oracle="""
WITH customer_total_return AS (
  SELECT o_custkey AS ctr_custkey, c_nationkey AS ctr_state,
         CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT))
              AS BIGINT) AS ctr_total_s
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  WHERE l_returnflag = 'R' AND year(o_orderdate) = 1997
  GROUP BY o_custkey, c_nationkey
),
state_avg AS (
  SELECT ctr_state, CAST(SUM(ctr_total_s) AS DOUBLE) / COUNT(*)
           AS avg_s
  FROM customer_total_return GROUP BY ctr_state
)
SELECT c.c_custkey, c.c_name,
       round(ctr.ctr_total_s / 100.0, 2) AS return_total
FROM customer_total_return ctr
JOIN state_avg sa ON ctr.ctr_state = sa.ctr_state
JOIN customer c ON ctr.ctr_custkey = c.c_custkey
WHERE ctr.ctr_total_s > 1.2 * sa.avg_s
  AND c.c_nationkey = 7
ORDER BY c.c_custkey
LIMIT 100
""",
)
def tpcds_q81_adapted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS Q81 (tpcds/q81.sql): q30's CATALOG-returns sibling —
    customers whose yearly return total exceeds 1.2x their state's
    per-customer average (correlated threshold decorrelated to a
    per-state aggregate joined back), final slice on one state.
    The return aggregate feeds both the threshold and the probe ->
    persisted. Exact cents; one division per state."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    ctr = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .filter(
            (F.col("l_returnflag") == "R")
            & (F.year("o_orderdate") == 1997)
        )
        .groupBy(
            F.col("o_custkey").alias("ctr_custkey"),
            F.col("c_nationkey").alias("ctr_state"),
        )
        .agg(
            F.sum(
                F.round(F.col("l_extendedprice") * 100).cast("bigint")
            ).cast("bigint").alias("ctr_total_s")
        )
        .persist()
    )
    state_avg = (
        ctr.groupBy("ctr_state")
        .agg(
            (
                F.sum("ctr_total_s").cast("double") / F.count(F.lit(1))
            ).alias("avg_s")
        )
        .withColumnRenamed("ctr_state", "sa_state")
    )
    return (
        ctr.join(
            F.broadcast(state_avg),
            ctr.ctr_state == state_avg.sa_state,
        )
        .filter(F.col("ctr_total_s") > 1.2 * F.col("avg_s"))
        .join(cust, ctr.ctr_custkey == cust.c_custkey)
        .filter(F.col("c_nationkey") == 7)
        .select(
            "c_custkey", "c_name",
            F.round(F.col("ctr_total_s") / 100.0, 2).alias(
                "return_total"
            ),
        )
        .orderBy("c_custkey")
        .limit(100)
    )


@register(
    "tpcds_q82_adapted",
    oracle="""
SELECT p_brand, p_type, round(p_retailprice, 2) AS price
FROM part
JOIN lineitem inv ON inv.l_partkey = p_partkey
WHERE p_retailprice BETWEEN 902 AND 930
  AND p_size IN (2, 8, 14, 22)
  AND inv.l_returnflag = 'R'
  AND CAST(inv.l_shipdate AS DATE)
      BETWEEN DATE '1997-05-01' AND DATE '1997-05-01' + INTERVAL 60 DAY
  AND inv.l_quantity BETWEEN 5 AND 45
  AND p_partkey IN (SELECT l_partkey FROM lineitem
                    WHERE l_returnflag <> 'R'
                      AND l_linestatus = 'F')
GROUP BY p_brand, p_type, p_retailprice
ORDER BY p_brand, p_type, price
LIMIT 100
""",
)
def tpcds_q82_adapted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS Q82 (tpcds/q82.sql): q37's STORE-channel twin — item
    report gated by in-window inventory in a quantity band plus
    store-sales membership (vs q37's catalog membership; the
    fixture distinguishes the channels by linestatus here). Same
    dim-probe/fact-filter plan."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    inv = li.filter(F.col("l_returnflag") == "R")
    sold = (
        li.filter(
            (F.col("l_returnflag") != "R")
            & (F.col("l_linestatus") == "F")
        )
        .select(F.col("l_partkey").alias("sold_key"))
    )
    return (
        part.join(inv, inv.l_partkey == part.p_partkey)
        .filter(
            F.col("p_retailprice").between(902, 930)
            & F.col("p_size").isin(2, 8, 14, 22)
            & F.to_date("l_shipdate").between("1997-05-01", "1997-06-30")
            & F.col("l_quantity").between(5, 45)
        )
        .join(sold, part.p_partkey == sold.sold_key, "left_semi")
        .groupBy("p_brand", "p_type", "p_retailprice")
        .agg(F.round(F.first("p_retailprice"), 2).alias("price"))
        .select("p_brand", "p_type", "price")
        .orderBy("p_brand", "p_type", "price")
        .limit(100)
    )


@register(
    "tpcds_q85_adapted",
    oracle="""
SELECT o_orderpriority AS reason,
       CAST(SUM(CAST(l_quantity AS BIGINT)) AS DOUBLE)
         / COUNT(*) AS avg_qty,
       CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS DOUBLE)
         / COUNT(*) / 100.0 AS avg_refund,
       CAST(SUM(CAST(round(l_discount * 10000) AS BIGINT)) AS DOUBLE)
         / COUNT(*) / 10000.0 AS avg_disc
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R' AND year(o_orderdate) = 1997
  AND ((c_mktsegment = 'BUILDING'
        AND l_extendedprice BETWEEN 20000 AND 50000)
    OR (c_mktsegment = 'FURNITURE'
        AND l_extendedprice BETWEEN 30000 AND 60000)
    OR (c_mktsegment = 'HOUSEHOLD'
        AND l_extendedprice BETWEEN 40000 AND 70000))
  AND ((n_name IN ('NATION_1', 'NATION_6') AND l_quantity
        BETWEEN 5 AND 25)
    OR (n_name IN ('NATION_11', 'NATION_16') AND l_quantity
        BETWEEN 15 AND 35)
    OR (n_name IN ('NATION_21', 'NATION_24') AND l_quantity
        BETWEEN 25 AND 45))
GROUP BY o_orderpriority
ORDER BY reason
LIMIT 100
""",
)
def tpcds_q85_adapted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS Q85 (tpcds/q85.sql): web-returns REASON report — the
    q13-style double OR-band residual applied to the RETURNS fact,
    averaged per return reason (-> order priority). The family's
    returns-side member; averages exact."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    demo = (
        (
            (F.col("c_mktsegment") == "BUILDING")
            & F.col("l_extendedprice").between(20000, 50000)
        )
        | (
            (F.col("c_mktsegment") == "FURNITURE")
            & F.col("l_extendedprice").between(30000, 60000)
        )
        | (
            (F.col("c_mktsegment") == "HOUSEHOLD")
            & F.col("l_extendedprice").between(40000, 70000)
        )
    )
    geo = (
        (
            F.col("n_name").isin("NATION_1", "NATION_6")
            & F.col("l_quantity").between(5, 25)
        )
        | (
            F.col("n_name").isin("NATION_11", "NATION_16")
            & F.col("l_quantity").between(15, 35)
        )
        | (
            F.col("n_name").isin("NATION_21", "NATION_24")
            & F.col("l_quantity").between(25, 45)
        )
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .filter(
            (F.col("l_returnflag") == "R")
            & (F.year("o_orderdate") == 1997)
            & demo
            & geo
        )
        .groupBy(F.col("o_orderpriority").alias("reason"))
        .agg(
            (
                F.sum(F.col("l_quantity").cast("bigint")).cast("double")
                / F.count(F.lit(1))
            ).alias("avg_qty"),
            (
                F.sum(
                    F.round(F.col("l_extendedprice") * 100).cast("bigint")
                ).cast("double")
                / F.count(F.lit(1))
                / 100.0
            ).alias("avg_refund"),
            (
                F.sum(
                    F.round(F.col("l_discount") * 10000).cast("bigint")
                ).cast("double")
                / F.count(F.lit(1))
                / 10000.0
            ).alias("avg_disc"),
        )
        .orderBy("reason")
        .limit(100)
    )


@register(
    "tpcds_q86_adapted",
    oracle="""
WITH agg AS (
  SELECT p_type, p_brand,
         CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT))
              AS BIGINT) AS total_s,
         CAST(grouping(p_type) + grouping(p_brand) AS BIGINT)
           AS lochierarchy
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN part ON l_partkey = p_partkey
  WHERE year(o_orderdate) = 1996 AND quarter(o_orderdate) = 3
  GROUP BY ROLLUP (p_type, p_brand)
)
SELECT p_type, p_brand, round(total_s / 100.0, 2) AS total_sum,
       lochierarchy,
       CAST(rank() OVER (
         PARTITION BY lochierarchy,
                      CASE WHEN lochierarchy = 0 THEN p_type END
         ORDER BY total_s DESC, p_brand NULLS FIRST) AS BIGINT)
         AS rank_within_parent
FROM agg
ORDER BY lochierarchy DESC, p_type NULLS FIRST, rank_within_parent
LIMIT 100
""",
)
def tpcds_q86_adapted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS Q86 (tpcds/q86.sql): q70's flat sibling — the ROLLUP
    hierarchy with grouping()-derived lochierarchy and
    rank-within-parent, WITHOUT q70's rank-filtered state subquery
    feed (the family's pure hierarchy-report member). One Expand +
    one window pass; exact cents."""
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    part = load_table(spark, sf_dir, "part")
    agg = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(part, li.l_partkey == part.p_partkey)
        .filter(
            (F.year("o_orderdate") == 1996)
            & (F.quarter("o_orderdate") == 3)
        )
        .rollup("p_type", "p_brand")
        .agg(
            F.sum(
                F.round(F.col("l_extendedprice") * 100).cast("bigint")
            ).cast("bigint").alias("total_s"),
            (
                F.grouping("p_type") + F.grouping("p_brand")
            ).cast("bigint").alias("lochierarchy"),
        )
    )
    w = Window.partitionBy(
        "lochierarchy",
        F.when(F.col("lochierarchy") == 0, F.col("p_type")),
    ).orderBy(
        F.col("total_s").desc(), F.col("p_brand").asc_nulls_first()
    )
    return (
        agg.select(
            "p_type", "p_brand",
            F.round(F.col("total_s") / 100.0, 2).alias("total_sum"),
            "lochierarchy",
            F.rank().over(w).cast("bigint").alias(
                "rank_within_parent"
            ),
        )
        .orderBy(
            F.col("lochierarchy").desc(),
            F.col("p_type").asc_nulls_first(),
            "rank_within_parent",
        )
        .limit(100)
    )


@register(
    "tpcds_q94_adapted",
    oracle=f"""
SELECT CAST(COUNT(DISTINCT l1.l_orderkey) AS BIGINT) AS order_count,
       {oracle_dec_sum('l1.l_extendedprice * l1.l_discount',
                       'total_ship_cost')},
       {oracle_dec_sum('l1.l_extendedprice', 'total_net_profit')}
FROM lineitem l1
JOIN orders ON l1.l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE o_orderdate BETWEEN DATE '1996-05-01'
                      AND DATE '1996-05-01' + INTERVAL 60 DAY
  AND c_nationkey = 11
  AND o_orderpriority IN ('4-NOT SPECIFIED', '5-LOW')
  AND EXISTS (
    SELECT 1 FROM lineitem l2
    WHERE l2.l_orderkey = l1.l_orderkey
      AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (
    SELECT 1 FROM lineitem l3
    WHERE l3.l_orderkey = l1.l_orderkey
      AND l3.l_returnflag = 'R')
""",
)
def tpcds_q94_adapted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS Q94 (tpcds/q94.sql): q16's WEB-channel twin — the
    multi-warehouse EXISTS + never-returned NOT EXISTS shipping
    report over the web bands and a different window/state. Same
    aggregate-driven semi/anti lowering."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    multi_supp = (
        li.groupBy("l_orderkey")
        .agg(F.count_distinct("l_suppkey").alias("ns"))
        .filter(F.col("ns") >= 2)
        .select(F.col("l_orderkey").alias("mk"))
    )
    returned = (
        li.filter(F.col("l_returnflag") == "R")
        .select(F.col("l_orderkey").alias("rk"))
        .distinct()
    )
    base = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .filter(
            F.col("o_orderdate").between("1996-05-01", "1996-06-30")
            & (F.col("c_nationkey") == 11)
            & F.col("o_orderpriority").isin(
                "4-NOT SPECIFIED", "5-LOW"
            )
        )
    )
    return (
        base.join(multi_supp, li.l_orderkey == multi_supp.mk, "left_semi")
        .join(returned, li.l_orderkey == returned.rk, "left_anti")
        .agg(
            F.count_distinct("l_orderkey").cast("bigint").alias(
                "order_count"
            ),
            dec_sum("l_extendedprice * l_discount", "total_ship_cost"),
            dec_sum("l_extendedprice", "total_net_profit"),
        )
    )


@register(
    "tpcds_q99_adapted",
    oracle="""
SELECT substr(s_name, 1, 12) AS warehouse,
       o_orderpriority AS sm_type, n_name AS cc_name,
       CAST(SUM(CASE WHEN date_diff('day', CAST(o_orderdate AS DATE),
                         CAST(l_shipdate AS DATE)) <= 30
                THEN 1 ELSE 0 END) AS BIGINT) AS d30,
       CAST(SUM(CASE WHEN date_diff('day', CAST(o_orderdate AS DATE),
                         CAST(l_shipdate AS DATE)) > 30
                 AND date_diff('day', CAST(o_orderdate AS DATE),
                         CAST(l_shipdate AS DATE)) <= 60
                THEN 1 ELSE 0 END) AS BIGINT) AS d31_60,
       CAST(SUM(CASE WHEN date_diff('day', CAST(o_orderdate AS DATE),
                         CAST(l_shipdate AS DATE)) > 60
                THEN 1 ELSE 0 END) AS BIGINT) AS d_over_60
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
WHERE year(o_orderdate) = 1996 AND l_returnflag <> 'R'
GROUP BY substr(s_name, 1, 12), o_orderpriority, n_name
ORDER BY warehouse, sm_type, cc_name
LIMIT 100
""",
)
def tpcds_q99_adapted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-DS Q99 (tpcds/q99.sql): q62's CATALOG-channel twin — the
    ship-latency band pivot keyed by (warehouse prefix, ship mode,
    CALL CENTER) over the non-returned slice of a different year
    (three coarser bands). Same computed-key single-aggregate
    plan."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    gap = F.datediff(F.to_date("l_shipdate"), F.to_date("o_orderdate"))

    def band(cond, name):
        return F.sum(F.when(cond, 1).otherwise(0)).cast("bigint").alias(
            name
        )

    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .filter(
            (F.year("o_orderdate") == 1996)
            & (F.col("l_returnflag") != "R")
        )
        .groupBy(
            F.substring("s_name", 1, 12).alias("warehouse"),
            F.col("o_orderpriority").alias("sm_type"),
            F.col("n_name").alias("cc_name"),
        )
        .agg(
            band(gap <= 30, "d30"),
            band((gap > 30) & (gap <= 60), "d31_60"),
            band(gap > 60, "d_over_60"),
        )
        .orderBy("warehouse", "sm_type", "cc_name")
        .limit(100)
    )
