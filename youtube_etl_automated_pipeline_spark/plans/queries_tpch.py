"""TPC-H-shaped analytical queries (Q3/Q5/Q10 adapted to the testdata
schema) — the classic multi-join OLAP suite exercising Catalyst's
join reordering, broadcast selection, and partial aggregation on the
star schema.

Scale notes: dims (region/nation, and customer at these SFs) go
broadcast; fact-fact joins (orders x lineitem) shuffle on the order
key once; every aggregate is map-side partial first. Dates/segments
are literals -> pushed to the parquet scans.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from youtube_etl_automated_pipeline_spark.functions.compat import (
    hround,
    sql_hround,
    sql_units,
    sql_xavg,
    sql_xsum,
    units,
    xavg,
    xsum,
)
from youtube_etl_automated_pipeline_spark.plans.registry import query
from youtube_etl_automated_pipeline_spark.sources import load_table


def _revenue():
    # built lazily: classic-mode Column construction needs an active
    # SparkContext, which doesn't exist at import time
    return F.col("l_extendedprice") * (1 - F.col("l_discount"))


_REV_SQL = sql_xsum("l_extendedprice * (1 - l_discount)", 4)


@query(
    oracle=f"""
SELECT l_orderkey, o_orderdate, o_orderpriority,
       {sql_hround(_REV_SQL, 2)} AS revenue
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < DATE '1998-01-01'
  AND l_shipdate > DATE '1998-01-01'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey
LIMIT 10
"""
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q3 shape: top-10 highest-revenue orders for one market segment,
    ordered before / shipped after a date boundary."""
    cust = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < "1998-01-01"
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > "1998-01-01"
    )
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey)
        .join(li, orders.o_orderkey == li.l_orderkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(hround(xsum(_revenue(), 4), 2).alias("revenue"))
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(10)
    )


@query(
    oracle=f"""
SELECT n_name AS nation_name, {sql_hround(_REV_SQL, 2)} AS revenue
FROM orders
JOIN lineitem ON o_orderkey = l_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE c_nationkey = s_nationkey
  AND r_name = 'ASIA'
  AND o_orderdate >= DATE '1996-01-01' AND o_orderdate < DATE '1998-01-01'
GROUP BY n_name
ORDER BY revenue DESC, nation_name
"""
)
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q5 shape: revenue by nation for one region where supplier and
    customer share the nation (the 6-table join)."""
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation = load_table(spark, sf_dir, "nation")
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1998-01-01")
    )
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    joined = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .filter(F.col("c_nationkey") == F.col("s_nationkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    )
    return (
        joined.groupBy(F.col("n_name").alias("nation_name"))
        .agg(hround(xsum(_revenue(), 4), 2).alias("revenue"))
        .orderBy(F.desc("revenue"), "nation_name")
    )


@query(
    oracle=f"""
SELECT c_custkey, c_name, c_acctbal, n_name AS nation_name,
       {sql_hround(_REV_SQL, 2)} AS revenue
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
JOIN nation ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= DATE '1996-01-01' AND o_orderdate < DATE '1996-04-01'
GROUP BY c_custkey, c_name, c_acctbal, n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q10 shape: top-20 customers by lost revenue on returned items
    in a quarter, with their nation."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1996-04-01")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    nation = load_table(spark, sf_dir, "nation")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey)
        .join(li, orders.o_orderkey == li.l_orderkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", F.col("n_name").alias("nation_name"))
        .agg(hround(xsum(_revenue(), 4), 2).alias("revenue"))
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


@query(
    oracle=f"""
SELECT {sql_hround(sql_xsum("l_extendedprice * l_discount", 4), 2)} AS revenue,
       count(*) AS n_lines
FROM lineitem
WHERE l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1997-01-01'
  AND l_discount BETWEEN 0.03 AND 0.05
  AND l_quantity < 24
"""
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q6 shape: potential revenue delta from discount changes — a
    pure scan-filter-aggregate where ALL predicates push to parquet
    row groups (the minimal-IO classic)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") < "1997-01-01")
        & (F.col("l_discount").between(0.03, 0.05))
        & (F.col("l_quantity") < 24)
    ).agg(
        hround(xsum(F.col("l_extendedprice") * F.col("l_discount"), 4), 2).alias(
            "revenue"
        ),
        F.count(F.lit(1)).alias("n_lines"),
    )


@query(
    oracle=f"""
SELECT
  l_returnflag,
  l_linestatus,
  {sql_xsum("l_quantity", 2)} AS sum_qty,
  {sql_xsum("l_extendedprice", 2)} AS sum_base_price,
  {sql_hround(sql_xsum("l_extendedprice * (1 - l_discount)", 4), 2)} AS sum_disc_price,
  {sql_hround(sql_xsum("l_extendedprice * (1 - l_discount) * (1 + l_tax)", 6), 2)} AS sum_charge,
  {sql_xavg("l_quantity", 2, 4)} AS avg_qty,
  {sql_xavg("l_extendedprice", 2, 4)} AS avg_price,
  {sql_xavg("l_discount", 2, 4)} AS avg_disc,
  count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2-shape grouped rollup (TPC-H Q1 pattern): hash aggregate with
    map-side partial aggregation; filter pushed to the parquet scan.

    All money/qty aggregates accumulate exact integer units (xsum/
    xavg): order-independent long sums, one final division — immune to
    the Spark-vs-DuckDB summation-order rounding-boundary drift.
    charge units are 1e-6 (2+2+2 dp product): per-group long capacity
    ~8e7 rows at worst-case row value, ample for the gate SFs; at
    warehouse scale you'd sum DECIMAL(38,6) instead.
    """
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            xsum(F.col("l_quantity"), 2).alias("sum_qty"),
            xsum(F.col("l_extendedprice"), 2).alias("sum_base_price"),
            hround(xsum(disc_price, 4), 2).alias("sum_disc_price"),
            hround(xsum(charge, 6), 2).alias("sum_charge"),
            xavg(F.col("l_quantity"), 2, 4).alias("avg_qty"),
            xavg(F.col("l_extendedprice"), 2, 4).alias("avg_price"),
            xavg(F.col("l_discount"), 2, 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


# TPC-H-shaped OLAP batch 2: the classic subquery/decorrelation
# shapes (Q4/Q7/Q8/Q13/Q14/Q15/Q17/Q18/Q19/Q21/Q22 adapted to the
# testdata schema — no partsupp/commitdate/shipmode columns, so each
# query keeps the canonical PLAN SHAPE with predicates the schema can
# express).
#
# Why these matter for the engine: they exercise exactly the Catalyst
# rewrites a declarative engine must get right at 100 TB —
# EXISTS/NOT EXISTS → left-semi/anti joins (never a subquery re-scan
# per row), correlated scalar aggregates → decorrelated agg + equi-join,
# global scalar aggregates → one-row broadcast join, HAVING pushdown
# after partial aggregation, and OR-of-ANDs predicates that still prune
# columns at the scan.
#
# Cross-engine determinism: every float aggregate goes through the
# compat integer-unit helpers (xsum/units — exact long accumulation,
# one final division) so Spark and DuckDB hash bit-identically; ratios
# divide two bit-identical doubles (IEEE division is deterministic).

_REV_UNITS_SQL = sql_units("l_extendedprice * (1 - l_discount)", 4)


@query(
    oracle="""
SELECT o_orderpriority, count(*) AS order_count
FROM orders
WHERE o_orderdate >= DATE '1996-01-01' AND o_orderdate < DATE '1997-01-01'
  AND EXISTS (
    SELECT 1 FROM lineitem
    WHERE l_orderkey = o_orderkey
      AND l_shipdate > o_orderdate + INTERVAL 30 DAY)
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""
)
def q4_late_ship_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q4 shape: order-priority count for orders with at least one
    line shipped >30 days after order date — EXISTS decorrelated to a
    LEFT SEMI join on the order key (one shuffle, no per-row probe)."""
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1997-01-01")
    )
    li = load_table(spark, sf_dir, "lineitem")
    late = orders.join(
        li,
        (orders.o_orderkey == li.l_orderkey)
        & (li.l_shipdate > orders.o_orderdate + F.expr("INTERVAL 30 DAYS")),
        "left_semi",
    )
    return (
        late.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


@query(
    oracle=f"""
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       CAST(year(l_shipdate) AS BIGINT) AS l_year,
       {_REV_SQL} AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN customer ON o_custkey = c_custkey
JOIN nation n1 ON s_nationkey = n1.n_nationkey
JOIN nation n2 ON c_nationkey = n2.n_nationkey
WHERE (n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_8')
   OR (n1.n_name = 'NATION_8' AND n2.n_name = 'NATION_3')
GROUP BY 1, 2, 3
ORDER BY 1, 2, 3
"""
)
def q7_nation_pair_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q7 shape: shipping volume between two nations by direction and
    year. Nation dim joins broadcast; the fact-fact join shuffles once
    on the order key."""
    n1 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    n2 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation")
    )
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    supp = load_table(spark, sf_dir, "supplier")
    cust = load_table(spark, sf_dir, "customer")
    joined = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nk"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("c_nk"))
        .filter(
            (
                (F.col("supp_nation") == "NATION_3")
                & (F.col("cust_nation") == "NATION_8")
            )
            | (
                (F.col("supp_nation") == "NATION_8")
                & (F.col("cust_nation") == "NATION_3")
            )
        )
    )
    return (
        joined.groupBy(
            "supp_nation", "cust_nation", F.year("l_shipdate").cast("long").alias("l_year")
        )
        .agg(xsum(_revenue(), 4).alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


@query(
    oracle=f"""
SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
       CAST(CAST(sum(CASE WHEN sn.n_name = 'NATION_7'
                     THEN {_REV_UNITS_SQL} ELSE 0 END) AS BIGINT) AS DOUBLE)
       / CAST(CAST(sum({_REV_UNITS_SQL}) AS BIGINT) AS DOUBLE) AS mkt_share
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation cn ON c_nationkey = cn.n_nationkey
JOIN region ON cn.n_regionkey = r_regionkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation sn ON s_nationkey = sn.n_nationkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= DATE '1996-01-01' AND o_orderdate < DATE '1998-01-01'
GROUP BY 1
ORDER BY 1
"""
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q8 shape: one supplier-nation's share of total revenue to ASIA
    customers per order year — the conditional-sum ratio. Both the
    numerator and denominator accumulate exact integer units, so the
    single IEEE division is bit-identical across engines."""
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    cn = nation.join(
        F.broadcast(region), nation.n_regionkey == region.r_regionkey
    ).select(F.col("n_nationkey").alias("c_nk"))
    sn = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1998-01-01")
    )
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    joined = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("c_nk"), "inner")
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("s_nk"))
    )
    rev_units = units(_revenue(), 4)
    num = F.sum(F.when(F.col("supp_nation") == "NATION_7", rev_units).otherwise(F.lit(0)))
    den = F.sum(rev_units)
    return (
        joined.groupBy(F.year("o_orderdate").cast("long").alias("o_year"))
        .agg((num.cast("double") / den.cast("double")).alias("mkt_share"))
        .orderBy("o_year")
    )


@query(
    oracle="""
SELECT c_count, count(*) AS custdist
FROM (
  SELECT c_custkey, count(o_orderkey) AS c_count
  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
  GROUP BY c_custkey
)
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
"""
)
def q13_order_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q13 shape: distribution of customers by how many orders they
    placed, INCLUDING zero-order customers — the left-outer-join +
    double-aggregation classic. First agg shuffles on c_custkey, the
    second on the (tiny) count domain."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


@query(
    oracle=f"""
SELECT 100.0 * (
  CAST(CAST(sum(CASE WHEN p_type = 'PROMO'
                THEN {_REV_UNITS_SQL} ELSE 0 END) AS BIGINT) AS DOUBLE)
  / CAST(CAST(sum({_REV_UNITS_SQL}) AS BIGINT) AS DOUBLE)) AS promo_revenue_pct
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= DATE '1996-03-01' AND l_shipdate < DATE '1996-04-01'
"""
)
def q14_promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q14 shape: percentage of revenue from PROMO parts in one month
    — conditional-sum ratio over a fact-dim join (part broadcasts at
    these SFs; at 100 TB it shuffles on l_partkey, still one pass)."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-03-01") & (F.col("l_shipdate") < "1996-04-01")
    )
    part = load_table(spark, sf_dir, "part")
    joined = li.join(part, li.l_partkey == part.p_partkey)
    rev_units = units(_revenue(), 4)
    num = F.sum(F.when(F.col("p_type") == "PROMO", rev_units).otherwise(F.lit(0)))
    den = F.sum(rev_units)
    return joined.agg(
        (F.lit(100.0) * (num.cast("double") / den.cast("double"))).alias(
            "promo_revenue_pct"
        )
    )


@query(
    oracle=f"""
WITH rev AS (
  SELECT l_suppkey, CAST(sum({_REV_UNITS_SQL}) AS BIGINT) AS rev_units
  FROM lineitem
  WHERE l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1996-04-01'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name,
       CAST(rev_units AS DOUBLE) / 10000.0 AS total_revenue
FROM rev JOIN supplier ON l_suppkey = s_suppkey
WHERE rev_units = (SELECT max(rev_units) FROM rev)
ORDER BY s_suppkey
"""
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q15 shape: supplier(s) with the maximum quarterly revenue —
    the global-scalar-subquery pattern as an explicit one-row
    broadcast crossJoin (never a single-partition window over the
    whole aggregate)."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1996-04-01")
    )
    supp = load_table(spark, sf_dir, "supplier")
    # exact integer units end-to-end: the max/equality compare happens
    # on longs, so ties are exact, not float-coincidental
    rev = li.groupBy("l_suppkey").agg(
        F.sum(units(_revenue(), 4)).alias("rev_units")
    )
    top = rev.agg(F.max("rev_units").alias("max_units"))
    return (
        rev.join(F.broadcast(top), rev.rev_units == F.col("max_units"))
        .join(supp, rev.l_suppkey == supp.s_suppkey)
        .select(
            "s_suppkey",
            "s_name",
            (F.col("rev_units").cast("double") / 1e4).alias("total_revenue"),
        )
        .orderBy("s_suppkey")
    )


@query(
    oracle=f"""
WITH avg_q AS (
  SELECT l_partkey AS a_pk,
         CAST(CAST(sum({sql_units('l_quantity', 0)}) AS BIGINT) AS DOUBLE)
         / CAST(count(*) AS DOUBLE) AS avg_qty
  FROM lineitem GROUP BY l_partkey
)
SELECT {sql_xsum("l_extendedprice", 2)} AS small_qty_revenue,
       count(*) AS n_lines
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN avg_q ON l_partkey = a_pk
WHERE p_brand = 'Brand#3' AND l_quantity < 0.2 * avg_qty
"""
)
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q17 shape: revenue from lineitems whose quantity is below 20%
    of the per-part average — the correlated scalar-aggregate
    decorrelated into a per-part agg joined back to the fact (one
    l_partkey shuffle shared by both sides)."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#3")
    avg_q = li.groupBy(F.col("l_partkey").alias("a_pk")).agg(
        (
            F.sum(units(F.col("l_quantity"), 0)).cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("avg_qty")
    )
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(avg_q, li.l_partkey == F.col("a_pk"))
        .filter(F.col("l_quantity") < 0.2 * F.col("avg_qty"))
        .agg(
            xsum(F.col("l_extendedprice"), 2).alias("small_qty_revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@query(
    oracle=f"""
WITH big AS (
  SELECT l_orderkey AS b_ok,
         CAST(sum({sql_units('l_quantity', 0)}) AS BIGINT) AS qty_units
  FROM lineitem GROUP BY l_orderkey
  HAVING qty_units > 300
)
SELECT c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice,
       CAST(qty_units AS DOUBLE) AS total_qty
FROM big
JOIN orders ON b_ok = o_orderkey
JOIN customer ON o_custkey = c_custkey
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 100
"""
)
def q18_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q18 shape: customers with any order totalling >300 units of
    quantity — HAVING over a fact aggregation, then joins back to
    orders/customer. The quantity sum is integer-exact so the
    threshold cannot float-flicker."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    big = (
        li.groupBy(F.col("l_orderkey").alias("b_ok"))
        .agg(F.sum(units(F.col("l_quantity"), 0)).alias("qty_units"))
        .filter(F.col("qty_units") > 300)
    )
    return (
        big.join(orders, F.col("b_ok") == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            "o_orderdate",
            "o_totalprice",
            F.col("qty_units").cast("double").alias("total_qty"),
        )
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(100)
    )


@query(
    oracle=f"""
SELECT {_REV_SQL} AS revenue, count(*) AS n_lines
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 10
       AND l_quantity BETWEEN 1 AND 20)
   OR (p_brand = 'Brand#2' AND p_size BETWEEN 5 AND 25
       AND l_quantity BETWEEN 10 AND 30)
   OR (p_brand = 'Brand#3' AND p_size BETWEEN 20 AND 50
       AND l_quantity BETWEEN 20 AND 40)
"""
)
def q19_or_predicate_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q19 shape: revenue under an OR-of-ANDs brand/size/quantity
    predicate — Catalyst extracts the common l_partkey equi-join and
    keeps the disjunction as a post-join filter (no cartesian)."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    cond = (
        (
            (F.col("p_brand") == "Brand#1")
            & F.col("p_size").between(1, 10)
            & F.col("l_quantity").between(1, 20)
        )
        | (
            (F.col("p_brand") == "Brand#2")
            & F.col("p_size").between(5, 25)
            & F.col("l_quantity").between(10, 30)
        )
        | (
            (F.col("p_brand") == "Brand#3")
            & F.col("p_size").between(20, 50)
            & F.col("l_quantity").between(20, 40)
        )
    )
    return li.join(part, li.l_partkey == part.p_partkey).filter(cond).agg(
        xsum(_revenue(), 4).alias("revenue"), F.count(F.lit(1)).alias("n_lines")
    )


@query(
    oracle="""
WITH rets AS (
  SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem WHERE l_returnflag = 'R'
),
pairs AS (
  SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem
)
SELECT s_suppkey, s_name, count(*) AS numwait
FROM rets r
JOIN supplier ON r.l_suppkey = s_suppkey
WHERE EXISTS (
    SELECT 1 FROM pairs p
    WHERE p.l_orderkey = r.l_orderkey AND p.l_suppkey <> r.l_suppkey)
  AND NOT EXISTS (
    SELECT 1 FROM rets r2
    WHERE r2.l_orderkey = r.l_orderkey AND r2.l_suppkey <> r.l_suppkey)
GROUP BY s_suppkey, s_name
ORDER BY numwait DESC, s_suppkey
LIMIT 20
"""
)
def q21_sole_return_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q21 shape (returns-adapted): suppliers who were the ONLY
    supplier with returned lines on a multi-supplier order — the
    EXISTS + NOT EXISTS double-correlation, decorrelated to a semi
    join then an anti join, all co-partitioned on the order key."""
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    pairs = li.select("l_orderkey", "l_suppkey").distinct()
    rets = (
        li.filter(F.col("l_returnflag") == "R")
        .select("l_orderkey", "l_suppkey")
        .distinct()
    )
    other = pairs.select(
        F.col("l_orderkey").alias("o_ok"), F.col("l_suppkey").alias("o_sk")
    )
    other_ret = rets.select(
        F.col("l_orderkey").alias("r_ok"), F.col("l_suppkey").alias("r_sk")
    )
    blamed = rets.join(
        other,
        (rets.l_orderkey == F.col("o_ok")) & (rets.l_suppkey != F.col("o_sk")),
        "left_semi",
    ).join(
        other_ret,
        (rets.l_orderkey == F.col("r_ok")) & (rets.l_suppkey != F.col("r_sk")),
        "left_anti",
    )
    return (
        blamed.join(supp, blamed.l_suppkey == supp.s_suppkey)
        .groupBy("s_suppkey", "s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), "s_suppkey")
        .limit(20)
    )


@query(
    oracle=f"""
WITH avg_bal AS (
  SELECT CAST(CAST(sum({sql_units('c_acctbal', 2)}) AS BIGINT) AS DOUBLE)
         / CAST(count(*) AS DOUBLE) / 100.0 AS avg_bal
  FROM customer WHERE c_acctbal > 0.0
)
SELECT c_nationkey, count(*) AS numcust,
       {sql_xsum('c_acctbal', 2)} AS totacctbal
FROM customer, avg_bal
WHERE c_acctbal > avg_bal
  AND NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey
                    AND o_orderdate >= DATE '2000-01-01')
GROUP BY c_nationkey
ORDER BY c_nationkey
"""
)
def q22_idle_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q22 shape: customers with above-average (positive) balances and
    no orders SINCE 2000 (dormant accounts — every synthetic customer
    has some order, so the date bound keeps the anti join non-trivial),
    rolled up per nation — a global scalar aggregate (one-row
    broadcast) plus a NOT EXISTS anti join."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= "2000-01-01"
    )
    avg_bal = cust.filter(F.col("c_acctbal") > 0.0).agg(
        (
            F.sum(units(F.col("c_acctbal"), 2)).cast("double")
            / F.count(F.lit(1)).cast("double")
            / F.lit(100.0)
        ).alias("avg_bal")
    )
    return (
        cust.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            xsum(F.col("c_acctbal"), 2).alias("totacctbal"),
        )
        .orderBy("c_nationkey")
    )


# TPC-H batch 3 — the remaining classic shapes (Q2/Q9/Q11/Q12/Q16/
# Q20 adapted: no partsupp/shipmode/comment columns, so supplier-part
# relationships derive from distinct lineitem pairs and each query
# keeps its canonical plan shape).
#
# With Q1, Q3/Q5/Q6/Q10 and Q4/Q7/Q8/Q13-Q15/Q17-Q19/Q21/Q22 above this completes
# all 22 TPC-H query shapes, each oracle-backed bit-exact vs DuckDB.
#
# Shapes here: correlated MIN over a group (Q2 → per-group agg joined
# back on the extremum), multi-dim profit rollup (Q9), HAVING against a
# global-scalar fraction kept in INTEGER arithmetic (Q11 — comparing
# `sum > total div 10000` avoids ever forming a float threshold),
# conditional counts (Q12), count-distinct with a NOT-IN exclusion →
# anti join (Q16), and a nested semi-join reduction (Q20).

def _supplied_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct (partkey, suppkey) supply relationships — the partsupp
    stand-in, derived once from lineitem (shuffle on the pair, then
    every consumer is an equi-join)."""
    return (
        load_table(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_suppkey")
        .distinct()
    )


@query(
    oracle=f"""
SELECT n_name AS nation_name, CAST(year(o_orderdate) AS BIGINT) AS o_year,
       {sql_xsum(
           "l_extendedprice * (1 - l_discount)"
           " - 0.1 * p_retailprice * l_quantity", 4)} AS profit
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN orders ON l_orderkey = o_orderkey
JOIN nation ON s_nationkey = n_nationkey
WHERE p_name LIKE '%widget%'
GROUP BY 1, 2
ORDER BY nation_name, o_year DESC
"""
)
def q9_profit_by_nation_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q9 shape: profit per supplier nation per order year for one
    part family (name contains 'widget'); cost proxied as 10% of
    retail price per unit (no partsupp supplycost in this schema)."""
    part = load_table(spark, sf_dir, "part").filter(
        F.col("p_name").contains("widget")
    )
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = load_table(spark, sf_dir, "nation")
    amount = F.col("l_extendedprice") * (1 - F.col("l_discount")) - F.lit(
        0.1
    ) * F.col("p_retailprice") * F.col("l_quantity")
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation_name"),
            F.year("o_orderdate").cast("long").alias("o_year"),
        )
        .agg(xsum(amount, 4).alias("profit"))
        .orderBy("nation_name", F.desc("o_year"))
    )


@query(
    oracle=f"""
WITH per_part AS (
  SELECT l_partkey,
         CAST(sum({sql_units('l_extendedprice', 2)}) AS BIGINT) AS val_units
  FROM lineitem GROUP BY l_partkey
),
t AS (SELECT CAST(sum(val_units) AS BIGINT) // 1900 AS threshold_units
      FROM per_part)
SELECT l_partkey, CAST(val_units AS DOUBLE) / 100.0 AS part_value
FROM per_part, t
WHERE val_units > threshold_units
ORDER BY part_value DESC, l_partkey
"""
)
def q11_important_part_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q11 shape: parts whose total line revenue exceeds 1/1900 of
    the global total — HAVING vs a global-scalar fraction. The synthetic
    per-part revenue is near-uniform around the 1/2000 mean, so the
    1/1900 bound keeps ~38% of parts (2x-mean would keep zero). The
    comparison stays in INTEGER units (`sum_units > total div 1900`)
    so no float threshold ever exists to disagree across engines."""
    li = load_table(spark, sf_dir, "lineitem")
    per_part = li.groupBy("l_partkey").agg(
        F.sum(units(F.col("l_extendedprice"), 2)).alias("val_units")
    )
    total = per_part.agg(
        F.expr("sum(val_units) div 1900").alias("threshold_units")
    )
    return (
        per_part.crossJoin(F.broadcast(total))
        .filter(F.col("val_units") > F.col("threshold_units"))
        .select(
            "l_partkey",
            (F.col("val_units").cast("double") / 1e2).alias("part_value"),
        )
        .orderBy(F.desc("part_value"), "l_partkey")
    )


@query(
    oracle="""
SELECT l_returnflag,
  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
           THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
           THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate >= DATE '1997-01-01' AND l_shipdate < DATE '1998-01-01'
GROUP BY l_returnflag
ORDER BY l_returnflag
"""
)
def q12_priority_by_returnflag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q12 shape: per return flag (the shipmode stand-in), how many
    1997-shipped lines belong to critical- vs normal-priority orders —
    the conditional-count pivot."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1997-01-01") & (F.col("l_shipdate") < "1998-01-01")
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    crit = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(crit, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(crit, 0).otherwise(1)).alias("low_line_count"),
        )
        .orderBy("l_returnflag")
    )


@query(
    oracle=f"""
WITH filtered AS (
  SELECT l_partkey, l_suppkey, l_quantity
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE p_name LIKE 'small%'
),
per_ps AS (
  SELECT l_partkey, l_suppkey,
         CAST(sum({sql_units('l_quantity', 0)}) AS BIGINT) AS ps_qty
  FROM filtered GROUP BY 1, 2
),
per_part AS (
  SELECT l_partkey AS t_pk,
         CAST(sum({sql_units('l_quantity', 0)}) AS BIGINT) AS total_qty
  FROM filtered GROUP BY 1
),
heavy AS (
  SELECT DISTINCT l_suppkey
  FROM per_ps JOIN per_part ON l_partkey = t_pk
  WHERE ps_qty > total_qty // 5
)
SELECT s_suppkey, s_name
FROM supplier
WHERE s_suppkey IN (SELECT l_suppkey FROM heavy)
ORDER BY s_suppkey
"""
)
def q20_volume_share_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q20 shape: suppliers carrying more than 20% of the shipped
    volume of any 'small'-named part — the nested semi-join chain
    (filtered parts -> per-(part,supplier) volume vs per-part total ->
    LEFT SEMI to supplier). Quantity sums stay in integer units and
    the threshold is an integer div."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(
        F.col("p_name").startswith("small")
    ).select("p_partkey")
    supp = load_table(spark, sf_dir, "supplier")
    filtered = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    per_ps = filtered.groupBy("l_partkey", "l_suppkey").agg(
        F.sum(units(F.col("l_quantity"), 0)).alias("ps_qty")
    )
    per_part = filtered.groupBy(F.col("l_partkey").alias("t_pk")).agg(
        F.sum(units(F.col("l_quantity"), 0)).alias("total_qty")
    )
    heavy = (
        per_ps.join(per_part, per_ps.l_partkey == F.col("t_pk"))
        .filter(F.col("ps_qty") > F.expr("total_qty div 5"))
        .select("l_suppkey")
        .distinct()
    )
    return (
        supp.join(heavy, supp.s_suppkey == heavy.l_suppkey, "left_semi")
        .select("s_suppkey", "s_name")
        .orderBy("s_suppkey")
    )


_PAIRS_SQL = "SELECT DISTINCT l_partkey, l_suppkey FROM lineitem"


@query(
    oracle=f"""
WITH pairs AS ({_PAIRS_SQL}),
cand AS (
  SELECT p_partkey, s_suppkey, s_name, s_acctbal, n_name
  FROM pairs
  JOIN part ON l_partkey = p_partkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  WHERE p_size = 15 AND p_type = 'ECONOMY'
),
mb AS (SELECT p_partkey AS m_pk, min(s_acctbal) AS min_bal FROM cand GROUP BY 1)
SELECT s_acctbal, s_name, n_name AS nation_name, p_partkey
FROM cand JOIN mb ON p_partkey = m_pk AND s_acctbal = min_bal
ORDER BY s_acctbal DESC, nation_name, s_name, p_partkey
LIMIT 100
"""
)
def q2_min_balance_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q2 shape: for each ECONOMY size-15 part, the supplier(s) with
    the minimum account balance among its suppliers — the correlated
    MIN subquery decorrelated to a per-part agg joined back on the
    extremum (both sides share the p_partkey shuffle)."""
    part = load_table(spark, sf_dir, "part").filter(
        (F.col("p_size") == 15) & (F.col("p_type") == "ECONOMY")
    )
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    cand = (
        _supplied_pairs(spark, sf_dir)
        .join(part, F.col("l_partkey") == part.p_partkey)
        .join(supp, F.col("l_suppkey") == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .select("p_partkey", "s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    min_bal = cand.groupBy(F.col("p_partkey").alias("m_pk")).agg(
        F.min("s_acctbal").alias("min_bal")
    )
    return (
        cand.join(
            min_bal,
            (cand.p_partkey == F.col("m_pk"))
            & (cand.s_acctbal == F.col("min_bal")),
        )
        .select("s_acctbal", "s_name", F.col("n_name").alias("nation_name"), "p_partkey")
        .orderBy(F.desc("s_acctbal"), "nation_name", "s_name", "p_partkey")
        .limit(100)
    )


@query(
    oracle=f"""
WITH pairs AS ({_PAIRS_SQL})
SELECT p_brand, p_type, p_size,
       CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
FROM pairs JOIN part ON l_partkey = p_partkey
WHERE p_brand <> 'Brand#1'
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p_brand, p_type, p_size
ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
LIMIT 100
"""
)
def q16_supplier_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q16 shape: distinct supplier count per (brand, type, size) for
    non-Brand#1 parts, excluding flagged suppliers (negative balance —
    the complaints stand-in): NOT IN → broadcast anti join, then a
    count-distinct rollup."""
    pairs = _supplied_pairs(spark, sf_dir)
    part = load_table(spark, sf_dir, "part").filter(F.col("p_brand") != "Brand#1")
    flagged = load_table(spark, sf_dir, "supplier").filter(
        F.col("s_acctbal") < 0
    ).select(F.col("s_suppkey").alias("bad_sk"))
    return (
        pairs.join(F.broadcast(flagged), pairs.l_suppkey == F.col("bad_sk"), "left_anti")
        .join(part, pairs.l_partkey == part.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size")
        .limit(100)
    )


@query(
    oracle="""
WITH j AS (
  SELECT l.l_returnflag AS returnflag,
    date_diff('day', CAST(o.o_orderdate AS DATE), CAST(l.l_shipdate AS DATE))
      AS delay
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
)
SELECT returnflag,
  CAST(least(CAST(floor(delay / 7.0) AS BIGINT), 16) AS INT) AS week_bucket,
  CAST(count(*) AS BIGINT) AS n_lines,
  CAST(min(delay) AS INT) AS min_delay_days,
  CAST(max(delay) AS INT) AS max_delay_days
FROM j GROUP BY 1, 2 ORDER BY returnflag, week_bucket
"""
)
def ship_delay_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fulfilment lead-time profile: order-to-ship delay in weekly
    buckets per return flag — the operational-SLA histogram. The
    orders join shuffles both sides on orderkey (the same key the
    bucketed-layout path co-locates shuffle-free, see
    bucketed_colocated_join_rollup); delays and buckets are exact
    integer day arithmetic."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_shipdate", "l_returnflag"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate"
    )
    joined = li.join(orders, li.l_orderkey == orders.o_orderkey)
    delay = F.datediff(F.to_date("l_shipdate"), F.to_date("o_orderdate"))
    bucket = F.least(F.floor(delay / 7).cast("int"), F.lit(16))
    return (
        joined.groupBy(
            F.col("l_returnflag").alias("returnflag"),
            bucket.alias("week_bucket"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.min(delay).alias("min_delay_days"),
            F.max(delay).alias("max_delay_days"),
        )
        .orderBy("returnflag", "week_bucket")
    )
