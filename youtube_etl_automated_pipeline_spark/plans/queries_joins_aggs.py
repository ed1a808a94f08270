"""Join / aggregation / window / set-op query suite (SURVEY.md
sections 2.4-2.8), second tranche of the operator inventory.

Same contract as plans/queries.py: (spark, sf_dir) -> DataFrame with
aliases matching plans/oracles_joins_aggs.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from youtube_etl_automated_pipeline_spark.operators.windows import bounded_window

from youtube_etl_automated_pipeline_spark.functions.compat import (
    hround,
    units,
    xavg,
    xsum,
)
from youtube_etl_automated_pipeline_spark.operators.joins import (
    lookup_enrich,
    update_merge,
)
from youtube_etl_automated_pipeline_spark.sources import load_table


def broadcast_enrich_defaults(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1+J3 (dataingestion1.py:129-133, dataingestion3.py:37-45):
    dim lookup with last-wins dup resolution and a miss default for
    unmatched facts.

    The dim is nation restricted to keys < 20 (so keys >= 20 miss ->
    'Unknown Nation', the reference's 'Unknown Channel' semantics)
    followed by a 'v2' copy for even keys (dup keys, last wins in row
    order — the reference's dict-comprehension overwrite, 65 dup codes
    in showname.json). The fact side never shuffles: the dim is folded
    into its projection as a literal map (operators/joins.py).
    """
    cust = load_table(spark, sf_dir, "customer")
    nat = load_table(spark, sf_dir, "nation")
    v1 = nat.filter(F.col("n_nationkey") < 20).select("n_nationkey", "n_name")
    v2 = nat.filter((F.col("n_nationkey") < 20) & (F.col("n_nationkey") % 2 == 0)).select(
        "n_nationkey", F.concat(F.col("n_name"), F.lit("_V2")).alias("n_name")
    )
    enriched = lookup_enrich(
        cust.withColumnRenamed("c_nationkey", "n_nationkey"),
        v1.unionByName(v2),
        "n_nationkey",
        defaults={"n_name": "Unknown Nation"},
    )
    return (
        enriched.groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            xsum(F.col("c_acctbal"), 2).alias("sum_acctbal"),
        )
        .orderBy("n_name")
    )


def update_merge_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K3/J6 (dataprocessing.py:120-161): keyed batch MERGE — per-order
    lineitem revenue merged into orders; orders with no lineitem keep
    null-free defaults via coalesce, lineitem groups without an order
    row are dropped (fact side preserved). Join shuffles both sides on
    the key once; the rollup is map-side partial before it."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    upd = li.groupBy(F.col("l_orderkey").alias("o_orderkey")).agg(
        hround(xsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4), 2).alias(
            "line_revenue"
        ),
        F.count(F.lit(1)).alias("n_lines"),
    )
    merged = update_merge(orders, upd, "o_orderkey", ["line_revenue", "n_lines"])
    return merged.select(
        "o_orderkey",
        "o_orderstatus",
        F.coalesce(F.col("line_revenue"), F.lit(0.0)).alias("line_revenue"),
        F.coalesce(F.col("n_lines"), F.lit(0).cast("long")).alias("n_lines"),
    )


def two_key_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 (dataprocessing2.py:90): grouped rollup on two dimensions
    (video x creatorContentType -> status x priority)."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            xsum(F.col("o_totalprice"), 2).alias("sum_total"),
            xavg(F.col("o_totalprice"), 2, 4).alias("avg_total"),
        )
        .orderBy("o_orderstatus", "o_orderpriority")
    )


def min_over_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 (dataprocessing.py:87): min/max over group — first and last
    order date per customer, as formatted strings."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy("o_custkey")
        .agg(
            F.date_format(F.min("o_orderdate"), "yyyy-MM-dd").alias("first_order_date"),
            F.date_format(F.max("o_orderdate"), "yyyy-MM-dd").alias("last_order_date"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


def rollup_region_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical ROLLUP with grouping flags (engine extra beyond the
    reference, SURVEY section 7 step 5): subtotals per region and grand
    total in one pass — one shuffle, partial aggregation per level."""
    cust = load_table(spark, sf_dir, "customer")
    nat = load_table(spark, sf_dir, "nation")
    reg = load_table(spark, sf_dir, "region")
    joined = (
        cust.join(F.broadcast(nat), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(reg), F.col("n_regionkey") == F.col("r_regionkey"))
        .select(
            F.col("r_name").alias("region_name"),
            F.col("n_name").alias("nation_name"),
            "c_acctbal",
        )
    )
    return (
        joined.rollup("region_name", "nation_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            xsum(F.col("c_acctbal"), 2).alias("sum_acctbal"),
            (F.grouping("region_name") * 2 + F.grouping("nation_name")).alias("grouping_level"),
        )
        .orderBy(
            F.col("region_name").asc_nulls_first(), F.col("nation_name").asc_nulls_first()
        )
    )


def window_analytics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analytic window suite (engine extras over W1-W2): rank, lag and
    running sum per customer. Deterministic frame: total order via
    (o_orderdate, o_orderkey). One shuffle on o_custkey shared by all
    three windows."""
    orders = load_table(spark, sf_dir, "orders")
    # explicit NULLS LAST on every nullable ordering key: Spark's ASC
    # default is NULLS FIRST while DuckDB's is NULLS LAST — unpinned,
    # a null order date silently reorders the running-sum prefix
    # (caught by the null-fixture parity sweep)
    by_date = Window.partitionBy("o_custkey").orderBy(
        F.asc_nulls_last("o_orderdate"), F.asc("o_orderkey")
    )
    by_price = Window.partitionBy("o_custkey").orderBy(
        F.desc_nulls_last("o_totalprice"), F.asc("o_orderkey")
    )
    return orders.select(
        "o_orderkey",
        "o_custkey",
        "o_totalprice",
        F.rank().over(by_price).alias("price_rank"),
        F.lag("o_totalprice", 1).over(by_date).alias("prev_total"),
        # exact-unit window sum: DuckDB computes windowed float sums
        # with segment trees (different association order than Spark's
        # running accumulator) — integer cents are order-free.
        (
            F.sum(units(F.col("o_totalprice"), 2)).over(
                by_date.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            )
            / 1e2
        ).alias("running_total"),
    )


def set_ops_except_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1/U2 + engine extras: customers split by behavior via
    EXCEPT/INTERSECT on keys, unioned into one labeled result.
    Spark compiles these to anti/semi joins — same physical shape as
    the reference's waterfall (dataprocessing.py:112-113)."""
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    buyers = (
        load_table(spark, sf_dir, "orders")
        .select(F.col("o_custkey").alias("c_custkey"))
        .distinct()
    )
    never_bought = cust.exceptAll(buyers).withColumn(
        "segment_label", F.lit("never_bought")
    )
    active = cust.intersect(buyers).withColumn("segment_label", F.lit("active"))
    return never_bought.unionByName(active)


def distinct_count_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 (dataingestion1.py:167-170) as a distributed audit: exact
    distinct counts per group — COUNT(DISTINCT) compiles to a two-phase
    expand+aggregate, no driver-side counting."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_orderkey").alias("n_orders"),
            F.countDistinct("l_partkey").alias("n_parts"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .orderBy("l_returnflag")
    )


QUERIES_JOINS_AGGS = {
    "broadcast_enrich_defaults": broadcast_enrich_defaults,
    "update_merge_revenue": update_merge_revenue,
    "two_key_rollup": two_key_rollup,
    "min_over_group": min_over_group,
    "rollup_region_nation": rollup_region_nation,
    "window_analytics": window_analytics,
    "set_ops_except_intersect": set_ops_except_intersect,
    "distinct_count_audit": distinct_count_audit,
}


def window_distribution_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution window functions (the rank family window_analytics
    leaves out): ntile quartiles, percent_rank and cume_dist of each
    customer's balance within their nation. ntile is row-order
    sensitive, so the ORDER BY carries a unique (acctbal, custkey)
    tiebreak; percent_rank=(rank-1)/(n-1) and cume_dist=n_le/n are
    single divisions of the same integers in both engines. One shuffle
    on nation shared by all three windows."""
    cust = load_table(spark, sf_dir, "customer")
    # NULLS LAST pin (Spark ASC default is NULLS FIRST, DuckDB's LAST)
    w = Window.partitionBy("c_nationkey").orderBy(
        F.asc_nulls_last("c_acctbal"), F.asc("c_custkey")
    )
    return cust.select(
        "c_custkey",
        F.col("c_nationkey").alias("nation"),
        "c_acctbal",
        F.ntile(4).over(w).alias("quartile"),
        F.percent_rank().over(w).alias("pr"),
        F.cume_dist().over(w).alias("cd"),
    )


QUERIES_JOINS_AGGS["window_distribution_ranks"] = window_distribution_ranks


def user_event_type_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAP-typed aggregation surface: per-user event_type -> count as
    a map column, serialized deterministically (map built from a
    SORTED entry array, so to_json key order is pinned; the harness
    needs scalar columns). Two hash aggregations — (user, type) counts
    then per-user map assembly — both partial-aggregated map-side."""
    ev = load_table(spark, sf_dir, "events")
    # a NULL event_type cannot be a map key (Spark raises
    # NULL_MAP_KEY); pin it to a sentinel in BOTH engines so dirty
    # rows stay counted instead of crashing the job
    per_type = ev.groupBy(
        "user_id",
        F.coalesce("event_type", F.lit("<null>")).alias("event_type"),
    ).agg(F.count(F.lit(1)).alias("n"))
    return (
        per_type.groupBy("user_id")
        .agg(
            F.to_json(
                F.map_from_entries(
                    F.array_sort(F.collect_list(F.struct("event_type", "n")))
                )
            ).alias("type_counts"),
            F.sum("n").alias("n_events"),
        )
        .orderBy("user_id")
    )


QUERIES_JOINS_AGGS["user_event_type_map"] = user_event_type_map


def nation_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Share-of-total analytics (the ratio_to_report pattern): each
    nation's revenue as a fraction of its region's and of the grand
    total — two window sums OVER different scopes layered on one
    aggregate. Integer-cents sums; each share is ONE double division
    of two bigints, so the ratios are bit-identical cross-engine.
    Plan: one hash aggregate (25 rows) then windows over the tiny
    aggregate — the window cost is on the ROLLUP, never the fact."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    per_nation = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(F.sum(units(F.col("o_totalprice"), 2)).alias("cents"))
    )
    w_region = Window.partitionBy("r_name")
    w_all = bounded_window("n_name")
    return per_nation.select(
        F.col("r_name").alias("region_name"),
        F.col("n_name").alias("nation_name"),
        "cents",
        (F.col("cents").cast("double") / F.sum("cents").over(w_region).cast("double")).alias(
            "share_of_region"
        ),
        (F.col("cents").cast("double") / F.sum("cents").over(w_all).cast("double")).alias(
            "share_of_total"
        ),
    ).orderBy("region_name", "nation_name")


QUERIES_JOINS_AGGS["nation_revenue_share"] = nation_revenue_share


def null_safe_join_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equi-join (<=> / IS NOT DISTINCT FROM): a nullable
    derived key (clerk bucket, NULL for low-priority orders) joined
    null-equals-null — NULL keys MATCH each other instead of silently
    dropping, the semantic the reference's dict-lookup 'missing key →
    default row' path needs when the key itself is absent. Spark plans
    <=> as a hash join key (no cartesian blowup); identical grouping
    both engines proves the match semantics."""
    orders = load_table(spark, sf_dir, "orders")
    keyed = orders.select(
        "o_orderkey",
        "o_totalprice",
        F.when(
            F.col("o_orderpriority") != "5-LOW",
            (F.col("o_custkey") % 10).cast("string"),
        ).alias("clerk_bucket"),
    )
    dim = (
        keyed.groupBy("clerk_bucket")
        .agg(F.count(F.lit(1)).alias("bucket_orders"))
    )
    joined = keyed.join(
        dim, keyed["clerk_bucket"].eqNullSafe(dim["clerk_bucket"]), "inner"
    ).drop(dim["clerk_bucket"])
    return (
        joined.groupBy("clerk_bucket")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.max("bucket_orders").alias("bucket_orders"),
            F.sum(F.expr("CAST(round(o_totalprice * 100.0) AS BIGINT)")).alias(
                "cents"
            ),
        )
        .orderBy(F.col("clerk_bucket").asc_nulls_first())
    )


QUERIES_JOINS_AGGS["null_safe_join_rollup"] = null_safe_join_rollup
