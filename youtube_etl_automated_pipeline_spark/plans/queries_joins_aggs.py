"""Join / aggregation / window / set-op query suite (SURVEY.md
sections 2.4-2.8), second tranche of the operator inventory.

Same contract as every ``@query``: (spark, sf_dir) -> DataFrame with
aliases matching its DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from youtube_etl_automated_pipeline_spark.ext.textstats import WS_CLASS
from youtube_etl_automated_pipeline_spark.functions.compat import (
    hround,
    sql_hround,
    units,
    xavg,
    xsum,
)
from youtube_etl_automated_pipeline_spark.operators.joins import (
    lookup_enrich,
    update_merge,
)
from youtube_etl_automated_pipeline_spark.operators.windows import bounded_window
from youtube_etl_automated_pipeline_spark.plans.registry import query
from youtube_etl_automated_pipeline_spark.sources import load_table, load_wide


@query(
    oracle="""
WITH dim_raw AS (
  SELECT n_nationkey, n_name, 1 AS _seq FROM nation WHERE n_nationkey < 20
  UNION ALL
  SELECT n_nationkey, n_name || '_V2' AS n_name, 2 AS _seq
  FROM nation WHERE n_nationkey < 20 AND n_nationkey % 2 = 0
),
dim AS (
  SELECT n_nationkey, n_name FROM (
    SELECT *, row_number() OVER (PARTITION BY n_nationkey ORDER BY _seq DESC) AS _rn
    FROM dim_raw
  ) WHERE _rn = 1
),
enriched AS (
  SELECT c.*, coalesce(d.n_name, 'Unknown Nation') AS n_name
  FROM customer c LEFT JOIN dim d ON c.c_nationkey = d.n_nationkey
)
SELECT n_name,
       count(*) AS n_customers,
       CAST(sum(CAST(floor((c_acctbal) * 100.0 + 0.5) AS BIGINT)) AS BIGINT) / 100.0 AS sum_acctbal
FROM enriched
GROUP BY n_name
ORDER BY n_name
"""
)
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


@query(
    oracle="""
WITH upd AS (
  SELECT l_orderkey AS o_orderkey,
         floor((CAST(sum(CAST(floor((l_extendedprice * (1 - l_discount)) * 10000.0 + 0.5) AS BIGINT)) AS BIGINT) / 10000.0) * 100.0 + 0.5) / 100.0 AS line_revenue,
         count(*) AS n_lines
  FROM lineitem GROUP BY 1
)
SELECT o.o_orderkey, o.o_orderstatus,
       coalesce(u.line_revenue, 0.0) AS line_revenue,
       coalesce(u.n_lines, 0) AS n_lines
FROM orders o LEFT JOIN upd u ON o.o_orderkey = u.o_orderkey
ORDER BY o.o_orderkey
"""
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


@query(
    oracle="""
SELECT o_orderstatus, o_orderpriority,
       count(*) AS n_orders,
       CAST(sum(CAST(floor((o_totalprice) * 100.0 + 0.5) AS BIGINT)) AS BIGINT) / 100.0 AS sum_total,
       floor((CAST(sum(CAST(floor((o_totalprice) * 100.0 + 0.5) AS BIGINT)) AS DOUBLE) / CAST(count(o_totalprice) AS DOUBLE) / 100.0) * 10000.0 + 0.5) / 10000.0 AS avg_total
FROM orders
GROUP BY o_orderstatus, o_orderpriority
ORDER BY o_orderstatus, o_orderpriority
"""
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


@query(
    oracle="""
SELECT o_custkey,
       strftime(min(o_orderdate), '%Y-%m-%d') AS first_order_date,
       strftime(max(o_orderdate), '%Y-%m-%d') AS last_order_date,
       count(*) AS n_orders
FROM orders
GROUP BY o_custkey
ORDER BY o_custkey
"""
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


@query(
    oracle="""
SELECT
  r_name AS region_name,
  n_name AS nation_name,
  count(*) AS n_customers,
  CAST(sum(CAST(floor((c_acctbal) * 100.0 + 0.5) AS BIGINT)) AS BIGINT) / 100.0 AS sum_acctbal,
  CAST(GROUPING(r_name) * 2 + GROUPING(n_name) AS INTEGER) AS grouping_level
FROM customer
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY ROLLUP (r_name, n_name)
ORDER BY region_name ASC NULLS FIRST, nation_name ASC NULLS FIRST
"""
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


@query(
    oracle="""
SELECT
  o_orderkey,
  o_custkey,
  o_totalprice,
  rank() OVER (PARTITION BY o_custkey
               ORDER BY o_totalprice DESC NULLS LAST, o_orderkey ASC)
    AS price_rank,
  lag(o_totalprice, 1) OVER (PARTITION BY o_custkey
               ORDER BY o_orderdate ASC NULLS LAST, o_orderkey)
    AS prev_total,
  CAST(sum(CAST(floor((o_totalprice) * 100.0 + 0.5) AS BIGINT)) OVER (
     PARTITION BY o_custkey ORDER BY o_orderdate ASC NULLS LAST, o_orderkey
     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) / 100.0
    AS running_total
FROM orders
ORDER BY o_orderkey
"""
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


@query(
    oracle="""
WITH buyers AS (SELECT DISTINCT o_custkey AS c_custkey FROM orders),
cust AS (SELECT c_custkey FROM customer)
SELECT c_custkey, 'never_bought' AS segment_label
FROM (SELECT c_custkey FROM cust EXCEPT SELECT c_custkey FROM buyers)
UNION ALL
SELECT c_custkey, 'active' AS segment_label
FROM (SELECT c_custkey FROM cust INTERSECT SELECT c_custkey FROM buyers)
ORDER BY c_custkey
"""
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


@query(
    oracle="""
SELECT l_returnflag,
       count(DISTINCT l_orderkey) AS n_orders,
       count(DISTINCT l_partkey) AS n_parts,
       count(*) AS n_rows
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
"""
)
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


@query(
    oracle="""
SELECT c_custkey, c_nationkey AS nation, c_acctbal,
       ntile(4) OVER w AS quartile,
       percent_rank() OVER w AS pr,
       cume_dist() OVER w AS cd
FROM customer
WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal ASC NULLS LAST, c_custkey)
ORDER BY nation, c_acctbal, c_custkey
"""
)
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


# JSON text built to match Spark's to_json byte-for-byte: sorted keys,
# no whitespace, integer values
@query(
    oracle="""
WITH per_type AS (
  SELECT user_id, COALESCE(event_type, '<null>') AS event_type,
         count(*) AS n
  FROM events GROUP BY 1, 2
)
SELECT user_id,
       '{' || string_agg('"' || event_type || '":' || n, ',' ORDER BY event_type)
           || '}' AS type_counts,
       CAST(sum(n) AS BIGINT) AS n_events
FROM per_type
GROUP BY user_id
ORDER BY user_id
"""
)
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


@query(
    oracle="""
WITH per_nation AS (
  SELECT r_name, n_name,
         CAST(sum(CAST(round(o_totalprice * 100.0) AS BIGINT)) AS BIGINT) AS cents
  FROM orders
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  GROUP BY r_name, n_name
)
SELECT r_name AS region_name, n_name AS nation_name, cents,
       CAST(cents AS DOUBLE)
         / CAST(sum(cents) OVER (PARTITION BY r_name) AS DOUBLE) AS share_of_region,
       CAST(cents AS DOUBLE)
         / CAST(sum(cents) OVER () AS DOUBLE) AS share_of_total
FROM per_nation
ORDER BY region_name, nation_name
"""
)
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


@query(
    oracle="""
WITH keyed AS (
  SELECT o_orderkey, o_totalprice,
         CASE WHEN o_orderpriority <> '5-LOW'
              THEN CAST(o_custkey % 10 AS VARCHAR) END AS clerk_bucket
  FROM orders
),
dim AS (
  SELECT clerk_bucket, count(*) AS bucket_orders
  FROM keyed GROUP BY clerk_bucket
)
SELECT k.clerk_bucket,
       count(*) AS n_orders,
       CAST(max(d.bucket_orders) AS BIGINT) AS bucket_orders,
       CAST(sum(CAST(round(o_totalprice * 100.0) AS BIGINT)) AS BIGINT) AS cents
FROM keyed k JOIN dim d ON k.clerk_bucket IS NOT DISTINCT FROM d.clerk_bucket
GROUP BY k.clerk_bucket
ORDER BY k.clerk_bucket NULLS FIRST
"""
)
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


# Engine extras beyond the reference's surface: as-of join and
# semi-structured (JSON) column processing over the events stream
# table.

@query(
    oracle="""
WITH j AS (
  SELECT e.event_id, e.user_id, CAST(e.ts AS DATE) AS event_date,
         o.o_orderkey, o.o_orderdate,
         row_number() OVER (
           PARTITION BY e.event_id
           ORDER BY o.o_orderdate DESC NULLS LAST, o.o_orderkey DESC NULLS LAST
         ) AS rn
  FROM events e
  LEFT JOIN orders o
    ON e.user_id = o.o_custkey AND o.o_orderdate <= CAST(e.ts AS DATE)
)
SELECT event_id, user_id,
       o_orderkey AS last_orderkey,
       o_orderdate AS last_orderdate,
       date_diff('day', o_orderdate, event_date) AS days_since_order
FROM j WHERE rn = 1
ORDER BY event_id
"""
)
def events_asof_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: for each event, the customer's most recent order ON
    OR BEFORE the event date (the classic point-in-time enrichment
    Spark lacks as a built-in).

    Implementation: equi-join on the key with the temporal predicate
    in the join condition (shuffle on the key; per-key fan-out is
    bounded by orders-per-customer), then a keep-first window with a
    deterministic tiebreak (date DESC, orderkey DESC). Events with no
    qualifying order keep NULLs via the left join. At extreme per-key
    fan-out the union-and-sort formulation replaces this; the plan
    here stays two bounded shuffles.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", F.to_date("ts").alias("event_date")
    )
    ords = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_orderdate"
    )
    joined = ev.join(
        ords,
        (ev.user_id == ords.o_custkey) & (ords.o_orderdate <= ev.event_date),
        "left",
    )
    w = Window.partitionBy("event_id").orderBy(
        F.desc_nulls_last("o_orderdate"), F.desc_nulls_last("o_orderkey")
    )
    return (
        joined.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(
            "event_id",
            "user_id",
            F.col("o_orderkey").alias("last_orderkey"),
            F.col("o_orderdate").alias("last_orderdate"),
            F.datediff("event_date", F.col("o_orderdate")).alias("days_since_order"),
        )
    )


@query(
    oracle="""
SELECT user_id,
       array_to_string(list_sort(list(DISTINCT event_type)), '|') AS event_types,
       count(*) AS n_events,
       min(ts) AS first_seen,
       max(ts) AS last_seen
FROM events GROUP BY user_id ORDER BY user_id
"""
)
def user_event_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested-array result: per-user sorted distinct event types +
    per-type daily first/last seen. collect_set -> array_sort keeps
    the array deterministic (never rely on collection order); the
    sorted array is serialized to a '|'-joined string at the gate
    boundary (the harness canonicalizer needs hashable scalars)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id")
        .agg(
            F.concat_ws("|", F.array_sort(F.collect_set("event_type"))).alias(
                "event_types"
            ),
            F.count(F.lit(1)).alias("n_events"),
            F.min("ts").alias("first_seen"),
            F.max("ts").alias("last_seen"),
        )
        .orderBy("user_id")
    )


_JSON_K = "CAST(json_extract(props, '$.k') AS INT)"


@query(
    oracle=f"""
SELECT event_id, event_type, {_JSON_K} AS prop_k, {_JSON_K} % 10 AS k_bucket
FROM events
ORDER BY event_id
"""
)
def events_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured props column: schema-on-read JSON parse
    (from_json) in a pure projection — scan-speed at scale."""
    ev = load_table(spark, sf_dir, "events")
    k = F.from_json("props", "k int")["k"]
    return ev.select(
        "event_id",
        "event_type",
        k.alias("prop_k"),
        (k % 10).alias("k_bucket"),
    )


# CAST(sum AS BIGINT): DuckDB integer sum returns HUGEINT; avg_k
# re-derived from the exact integer accumulators (see query doc).
@query(
    oracle=f"""
SELECT event_type, count(*) AS n_events,
       CAST(sum({_JSON_K}) AS BIGINT) AS sum_k,
       {sql_hround(
           f"CAST(sum({_JSON_K}) AS DOUBLE) / CAST(count({_JSON_K}) AS DOUBLE)", 4
       )} AS avg_k
FROM events
GROUP BY event_type
ORDER BY event_type
"""
)
def events_json_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-derived metric rollup per event type (parse + aggregate in
    one pass, partial aggregation map-side).

    Cross-engine exactness: avg_k is derived from the exact integer
    accumulators (sum_k / count of non-null k) with ONE double
    division — both engines divide the same two integers, so the
    result is bit-identical; a raw avg() over doubles is
    summation-order-sensitive and can cross a rounding boundary.
    """
    ev = load_table(spark, sf_dir, "events")
    k = F.from_json("props", "k int")["k"]
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("k").alias("sum_k"),
            hround(
                F.sum("k").cast("double") / F.count("k").cast("double"), 4
            ).alias("avg_k"),
        )
        .orderBy("event_type")
    )


@query(
    oracle="""
WITH e AS (
  SELECT user_id, count(*) AS n_events,
         CAST(sum(CAST(floor((value) * 100.0 + 0.5) AS BIGINT)) AS BIGINT) / 100.0
           AS sum_value
  FROM events GROUP BY user_id
),
o AS (
  SELECT o_custkey AS user_id, count(*) AS n_orders,
         CAST(sum(CAST(floor((o_totalprice) * 100.0 + 0.5) AS BIGINT)) AS BIGINT) / 100.0
           AS sum_spend
  FROM orders GROUP BY o_custkey
)
SELECT coalesce(e.user_id, o.user_id) AS user_id,
       coalesce(e.n_events, 0) AS n_events,
       coalesce(e.sum_value, 0.0) AS sum_value,
       coalesce(o.n_orders, 0) AS n_orders,
       coalesce(o.sum_spend, 0.0) AS sum_spend
FROM e FULL OUTER JOIN o ON e.user_id = o.user_id
ORDER BY user_id
"""
)
def cogroup_user_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cogrouped applyInPandas: events and orders cogrouped and merged
    per key group in one numpy/pandas kernel (the API for per-key
    alignment logic too awkward for joins).

    CRITICAL scale detail: cogrouping directly on user_id would mean
    one Python invocation per key — tens of thousands of tiny Arrow
    batches, all overhead (measured 10x slower). Instead cogroup on a
    COARSE BUCKET of the key and vectorize the per-user aggregation
    inside the kernel with pandas groupby: ~cores buckets, each one
    sizable batch. Output stays per-user; the oracle (a FULL OUTER
    JOIN of two rollups) proves semantics are unchanged.
    """
    import pandas as pd

    N_BUCKETS = 32
    ev = load_table(spark, sf_dir, "events").select(
        F.pmod(F.col("user_id"), F.lit(N_BUCKETS)).alias("bucket"), "user_id", "value"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        F.pmod(F.col("o_custkey"), F.lit(N_BUCKETS)).alias("bucket"),
        F.col("o_custkey").alias("user_id"),
        "o_totalprice",
    )

    def merge(key, ev_pdf: pd.DataFrame, ord_pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        # exact integer cents (compat.units contract): pandas float
        # sums would accumulate in a different order than the DuckDB
        # oracle and can straddle a rounding boundary. Nullable Int64
        # (NOT a bare astype(int64)): a NULL value is NaN here and a
        # bare cast turns it into min-long garbage, while SQL SUM
        # skips nulls and count(*) still counts the row — the masked
        # dtype reproduces exactly that (sum skips NA, size counts).
        def cents(col: pd.Series) -> pd.api.extensions.ExtensionArray:
            raw = np.floor(col.to_numpy(dtype="float64") * 100.0 + 0.5)
            return pd.array(raw, dtype="Int64")

        ev_pdf = ev_pdf.assign(_cents=cents(ev_pdf["value"]))
        ord_pdf = ord_pdf.assign(_cents=cents(ord_pdf["o_totalprice"]))
        ea = ev_pdf.groupby("user_id")["_cents"].agg(["size", "sum"])
        oa = ord_pdf.groupby("user_id")["_cents"].agg(["size", "sum"])
        m = ea.join(oa, how="outer", lsuffix="_e", rsuffix="_o").fillna(0)
        return pd.DataFrame(
            {
                "user_id": m.index.astype("int64"),
                "n_events": m["size_e"].astype("int64"),
                "sum_value": [int(x) / 100.0 for x in m["sum_e"]],
                "n_orders": m["size_o"].astype("int64"),
                "sum_spend": [int(x) / 100.0 for x in m["sum_o"]],
            }
        )

    return (
        ev.groupBy("bucket")
        .cogroup(orders.groupBy("bucket"))
        .applyInPandas(
            merge,
            "user_id bigint, n_events bigint, sum_value double,"
            " n_orders bigint, sum_spend double",
        )
        .orderBy("user_id")
    )


@query(
    oracle=f"""
WITH b AS (
  SELECT doc_id, string_split_regex(trim(text), '{WS_CLASS}+') AS toks
  FROM documents
  WHERE doc_id < 50 AND text IS NOT NULL AND trim(text) <> ''
)
SELECT doc_id, CAST(g.i - 1 AS INT) AS pos, toks[g.i] AS token
FROM b, unnest(generate_series(1, len(toks))) AS g(i)
ORDER BY doc_id, pos
"""
)
def doc_token_positions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generator (UDTF-shape) coverage: posexplode flattens each
    document's token array into (doc_id, pos, token) rows — the
    row-to-many-rows primitive every tokenization pipeline starts
    with. Bounded to doc_id < 50 to keep the gate output stable
    across scale factors."""
    from youtube_etl_automated_pipeline_spark.ext.textstats import tokens

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    return (
        docs.select("doc_id", F.posexplode(tokens(F.col("text"))).alias("pos", "token"))
        .orderBy("doc_id", "pos")
    )


# DuckDB: index the token list with a lateral generate_series
# (1-based -> subtract 1 to match 0-based posexplode)


# Per-stratum acceptance thresholds as EXACT integers over the md5
# 32-bit uniform: accept iff u < floor(frac * 2^32). floor() once in
# Python so both engines compare against the identical literal — no
# float fraction ever crosses the engine boundary.
STRAT_FRACTIONS = {
    "click": 0.5,
    "view": 0.25,
    "purchase": 1.0,
    "signup": 1.0,
    "error": 0.1,
}
_STRAT_TH = {t: int(f * 2**32) for t, f in STRAT_FRACTIONS.items()}

_STRAT_CASE = "CASE event_type " + " ".join(
    f"WHEN '{t}' THEN {v}" for t, v in sorted(_STRAT_TH.items())
) + " END"


@query(
    oracle=f"""
SELECT event_type, CAST(count(*) AS BIGINT) AS n_sampled
FROM events
WHERE CAST('0x' || substr(md5('strat|' || CAST(event_id AS VARCHAR)), 1, 8)
           AS BIGINT) < {_STRAT_CASE}
GROUP BY event_type
ORDER BY event_type
"""
)
def stratified_sample_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified sampling census: per-event-type fractions applied
    through a deterministic md5-acceptance gate (accept iff the row's
    32-bit md5 uniform < floor(frac*2^32)) — the class-rebalancing
    curation primitive, REPRODUCIBLE across engines and growth-stable
    (a row's fate never changes when the corpus grows; the same
    posture as corpus_importance_resample / train_val_test_split).
    Replaced round 3's seeded sampleBy, whose Bernoulli stream was
    engine-private and forced a rows-only gate.

    Scale shape: one map-only hash + filter, one map-side-combinable
    count agg — no shuffle beyond the k-row census. Types outside the
    fraction map (and NULL types) fall to a NULL threshold, which the
    strict < rejects in both engines — sampleBy's exclusion
    semantics, pinned."""
    from youtube_etl_automated_pipeline_spark.ext.textstats import md5_long

    ev = load_table(spark, sf_dir, "events")
    u = md5_long(
        F.concat(F.lit("strat|"), F.col("event_id").cast("string"))
    )
    th = None
    for t, v in sorted(_STRAT_TH.items()):
        cond = F.when(F.col("event_type") == t, F.lit(v))
        th = cond if th is None else th.when(
            F.col("event_type") == t, F.lit(v)
        )
    return (
        ev.where(u < th)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_sampled"))
        .orderBy("event_type")
    )


@query(
    oracle=f"""
SELECT {_JSON_K} % 10 AS k_bucket,
       count(*) AS n_events,
       count(DISTINCT user_id) AS n_users,
       CAST(sum({_JSON_K}) AS BIGINT) AS sum_k
FROM events
GROUP BY k_bucket
ORDER BY k_bucket
"""
)
def events_variant_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured rollup through the VARIANT type (Spark 4):
    parse_json once into a binary variant, typed variant_get
    extraction, then aggregate. At scale VARIANT beats re-parsing JSON
    strings per predicate — the parse cost is paid once per row and
    the binary encoding is columnar-shreddable; extraction stays a
    scan-shaped projection (no shuffle before the final rollup).

    Cross-engine exactness: counts and an integer sum only (CAST AS
    BIGINT collapses DuckDB's HUGEINT).
    """
    ev = load_table(spark, sf_dir, "events")
    k = F.variant_get(F.parse_json("props"), "$.k", "int")
    return (
        ev.select("user_id", "event_type", k.alias("k"))
        .groupBy((F.col("k") % 10).alias("k_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            F.sum("k").alias("sum_k"),
        )
        .orderBy("k_bucket")
    )


# New semantic families the registry
# did not yet cover, each with a DuckDB oracle twin.
#
# - ``bitext_margin_mining`` — margin-based parallel-corpus candidate
#   mining (Artetxe & Schwenk, "Margin-based Parallel Corpus Mining with
#   Multilingual Sentence Embeddings", ACL 2019): score = cosine of the
#   pair over the mean cosine of each side's k-nearest neighborhood.
#   The published scale recipe is exactly what the plan does: bounded
#   query batch broadcast against a full corpus scan, twice (forward
#   neighborhood, then backward neighborhood of the surviving
#   candidates) — never an all-pairs join.
# - ``interval_overlap_join`` — interval×interval overlap join via
#   bin-blocked equi-join (the standard Spark re-expression of a range
#   join; each interval explodes to its covered week-bins, candidate
#   pairs meet in ONE deterministic bin, exact overlap verified after).
# - ``asof_nearest_tolerance`` — as-of join, direction='nearest' with a
#   tolerance window (the pandas ``merge_asof(direction="nearest",
#   tolerance=...)`` surface; complements the backward-only
#   ``events_asof_order``).
# - ``pattern_match_funnel`` — CEP-style sequence pattern detection
#   (view -> click -> purchase, each step within a day of the next),
#   decomposed into two chained latest-predecessor joins — the
#   relational MATCH_RECOGNIZE re-expression; unlike
#   ``funnel_conversion`` (first-occurrence per user) it matches EVERY
#   completed chain instance.
# - ``shard_assignment_balance`` — deterministic distributed shuffle for
#   training shards: md5 hash-bucket shard + intra-shard hash order,
#   verified by a position-weighted checksum (the checksum pins the full
#   permutation, not just the bucket counts that
#   ``train_val_test_split`` already covers).
# - ``quantile_normalization_scores`` — cross-source score calibration
#   by quantile normalization onto the pooled distribution (the step
#   before a single global quality threshold over heterogeneous
#   sources).
# - ``join_skew_diagnostics`` — join-key skew census: hottest keys with
#   exact ppm share, squared-CV dispersion, and the suggested salt
#   factor — the pre-flight for salting/AQE-skew decisions.
#
# The reference has no analogue for any of these (its dataflow is the
# linear 7-script chain, SURVEY §0); they are the extension surface the
# build mandate asks for, expressed Spark-first.
#
# Cross-engine exactness: every float that feeds an ordering or a
# threshold is first collapsed to an exact integer (micro-cosine units,
# day counts, second counts); the only double divisions happen once,
# on integer operands, in the same operand order in both engines.

# --- interval overlap join ------------------------------------------
IVL_BIN_DAYS = 7  # week bins: intervals span <= 14 days -> <= 3 bins
IVL_YEAR = 1996  # one ship-year (testdata ships 1995-2001) keeps the naive oracle bounded

# --- as-of nearest --------------------------------------------------
ASOF_TOLERANCE_DAYS = 30


@query(
    oracle=f"""
WITH it AS (
  SELECT l_suppkey, l_returnflag,
         CAST(l_shipdate AS DATE) AS ivl_start,
         CAST(l_shipdate AS DATE)
           + (CAST(l_quantity AS INT) % 14) + 1 AS ivl_end
  FROM lineitem
  WHERE year(l_shipdate) = {IVL_YEAR}
),
pairs AS (
  SELECT a.l_suppkey,
         date_diff('day',
                   greatest(a.ivl_start, b.ivl_start),
                   least(a.ivl_end, b.ivl_end)) + 1 AS overlap_days
  FROM it a JOIN it b
    ON a.l_suppkey = b.l_suppkey
   AND a.ivl_start <= b.ivl_end AND b.ivl_start <= a.ivl_end
  WHERE a.l_returnflag = 'R' AND b.l_returnflag = 'A'
)
SELECT l_suppkey,
       count(*) AS n_pairs,
       CAST(sum(overlap_days) AS BIGINT) AS sum_overlap_days,
       max(overlap_days) AS max_overlap_days
FROM pairs GROUP BY l_suppkey ORDER BY l_suppkey
"""
)
def interval_overlap_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval overlap join: per supplier, pair every returned ('R')
    shipment interval with every accepted ('A') shipment interval it
    overlaps, then roll up overlap statistics. Intervals are
    [shipdate, shipdate + (quantity % 14 + 1) days] — deterministic
    widths of 1..14 days derived from the row itself.

    Spark lacks a native interval join; the naive form is a per-key
    all-pairs filter (O(n_R · n_A) per supplier — hundreds of
    thousands of pair evaluations per supplier-year at 100 TB). The
    scale re-expression: explode each interval to the week bins it
    covers (<= 3 rows per interval at 14-day max width), equi-join on
    (suppkey, bin) — so candidates are only pairs whose intervals
    come within a week of each other — and emit each candidate pair
    exactly once by requiring the join bin to be the pair's FIRST
    shared bin (greatest of the two start bins; bins of an interval
    are contiguous, so the shared set is a range and its minimum is
    that greatest). Exact overlap is then verified on the candidate,
    never on the cross product. Every quantity is integer day
    arithmetic — no floats anywhere.
    """
    it = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.year("l_shipdate") == IVL_YEAR)
        .select(
            "l_suppkey",
            "l_returnflag",
            (F.col("l_orderkey") * 8 + F.col("l_linenumber")).alias("item_id"),
            F.to_date("l_shipdate").alias("ivl_start"),
            F.date_add(
                F.to_date("l_shipdate"),
                (F.col("l_quantity").cast("int") % 14) + 1,
            ).alias("ivl_end"),
        )
        .withColumn(
            "day0", F.datediff("ivl_start", F.lit("1992-01-01").cast("date"))
        )
        .withColumn(
            "day1", F.datediff("ivl_end", F.lit("1992-01-01").cast("date"))
        )
        .withColumn("bin0", (F.col("day0") / IVL_BIN_DAYS).cast("int"))
        .withColumn("bin1", (F.col("day1") / IVL_BIN_DAYS).cast("int"))
    )

    def side(flag: str, tag: str) -> DataFrame:
        return (
            it.filter(F.col("l_returnflag") == flag)
            .select(
                "l_suppkey",
                F.col("item_id").alias(f"{tag}_id"),
                F.col("ivl_start").alias(f"{tag}_start"),
                F.col("ivl_end").alias(f"{tag}_end"),
                F.col("bin0").alias(f"{tag}_bin0"),
                F.explode(F.sequence("bin0", "bin1")).alias("bin"),
            )
        )

    a, b = side("R", "a"), side("A", "b")
    pairs = (
        a.join(b, ["l_suppkey", "bin"])
        # one emission per candidate pair: only its first shared bin
        .filter(F.col("bin") == F.greatest("a_bin0", "b_bin0"))
        # exact overlap verification (bins only guarantee proximity)
        .filter(
            (F.col("a_start") <= F.col("b_end"))
            & (F.col("b_start") <= F.col("a_end"))
        )
        .select(
            "l_suppkey",
            (
                F.datediff(
                    F.least("a_end", "b_end"), F.greatest("a_start", "b_start")
                )
                + 1
            ).alias("overlap_days"),
        )
    )
    return (
        pairs.groupBy("l_suppkey")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum("overlap_days").alias("sum_overlap_days"),
            F.max("overlap_days").alias("max_overlap_days"),
        )
        .orderBy("l_suppkey")
    )


@query(
    oracle=f"""
WITH j AS (
  SELECT e.event_id, e.user_id,
         o.o_orderkey, CAST(o.o_orderdate AS DATE) AS o_date,
         date_diff('day', CAST(e.ts AS DATE), CAST(o.o_orderdate AS DATE))
           AS day_offset,
         row_number() OVER (
           PARTITION BY e.event_id
           ORDER BY abs(date_diff('day', CAST(e.ts AS DATE),
                                  CAST(o.o_orderdate AS DATE))) ASC NULLS LAST,
                    CAST(o.o_orderdate AS DATE) ASC NULLS LAST,
                    o.o_orderkey ASC NULLS LAST
         ) AS rn
  FROM events e
  LEFT JOIN orders o
    ON e.user_id = o.o_custkey
   AND abs(date_diff('day', CAST(e.ts AS DATE), CAST(o.o_orderdate AS DATE)))
         <= {ASOF_TOLERANCE_DAYS}
)
SELECT event_id, user_id,
       o_orderkey AS nearest_orderkey,
       o_date AS nearest_orderdate,
       day_offset
FROM j WHERE rn = 1
ORDER BY event_id
"""
)
def asof_nearest_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join, direction='nearest' with a tolerance: each event is
    enriched with the customer's CLOSEST order by date — before or
    after — but only within ASOF_TOLERANCE_DAYS; ties go to the
    earlier order, then the lower orderkey (pandas
    ``merge_asof(direction="nearest", tolerance=...)``, which
    ``events_asof_order`` [backward-only] does not express).

    Plan: equi-join on the customer key with the banded |Δdays| <=
    tolerance predicate in the join condition — per-key fan-out is
    bounded by orders-per-customer within a 2·tolerance window — then
    one keep-first window per event. A left join keeps orderless
    events as NULL rows (the miss -> default contract of the
    reference's dim lookups, dataingestion3.py:63-67, applied
    temporally).
    """
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", F.to_date("ts").alias("event_date")
    )
    ords = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", F.to_date("o_orderdate").alias("o_date")
    )
    delta = F.datediff(F.col("o_date"), F.col("event_date"))
    joined = ev.join(
        ords,
        (ev.user_id == ords.o_custkey)
        & (F.abs(delta) <= ASOF_TOLERANCE_DAYS),
        "left",
    )
    w = Window.partitionBy("event_id").orderBy(
        F.asc_nulls_last(F.abs(delta)),
        F.asc_nulls_last("o_date"),
        F.asc_nulls_last("o_orderkey"),
    )
    return (
        joined.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select(
            "event_id",
            "user_id",
            F.col("o_orderkey").alias("nearest_orderkey"),
            F.col("o_date").alias("nearest_orderdate"),
            delta.alias("day_offset"),
        )
        .orderBy("event_id")
    )


# --- skew diagnostics ------------------------------------------------
SKEW_TOP = 5


@query(
    oracle=f"""
WITH counts AS (
  SELECT o_custkey, count(*) AS c FROM orders GROUP BY o_custkey
),
stats AS (
  SELECT count(*) AS n_keys,
         CAST(sum(c) AS BIGINT) AS total_rows,
         CAST(sum(CAST(c AS DECIMAL(38,0)) * c) AS DECIMAL(38,0)) AS sum_c2,
         max(c) AS max_c
  FROM counts
),
top AS (
  SELECT * FROM counts ORDER BY c DESC, o_custkey ASC LIMIT {SKEW_TOP}
)
SELECT o_custkey AS hot_key,
       CAST(c AS BIGINT) AS key_rows,
       CAST(c * 1000000 // total_rows AS BIGINT) AS share_ppm,
       n_keys,
       total_rows,
       -- HUGEINT floor division: DuckDB's // on DECIMAL operands
       -- rounds the decimal quotient before flooring (off by one vs
       -- Spark's truncating DIV); integer // is exact in both
       CAST((CAST(n_keys AS HUGEINT) * CAST(sum_c2 AS HUGEINT)
             - CAST(total_rows AS HUGEINT) * total_rows) * 1000000
            // (CAST(total_rows AS HUGEINT) * total_rows) AS BIGINT)
         AS cv2_ppm,
       CAST((max_c * n_keys + total_rows - 1) // total_rows AS BIGINT)
         AS suggested_salt
FROM top CROSS JOIN stats
ORDER BY key_rows DESC, hot_key ASC
"""
)
def join_skew_diagnostics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew census — the pre-flight diagnostic for every
    big-shuffle decision this engine makes (salting factor, AQE skew
    thresholds, broadcast candidacy): per-key counts for the orders
    fact's customer key, the TOP-N hottest keys with exact ppm share,
    plus global dispersion (squared coefficient of variation, exact
    ppm) and the suggested salt factor ceil(max_key·n_keys/total) —
    the replication a salted join needs so the hottest key's share
    drops to the average.

    Scale shape: one key-count agg (map-side partial), one 1-row
    stats agg from the counts, a TakeOrderedAndProject for the top-N
    (never a global sort), and a broadcast of the 1-row stats onto
    the N rows. The count-of-counts moments ride decimal(38,0): at
    10^13 rows sum(c^2) wraps bigint (ppm-sweep convention, round 4).
    """
    counts = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    stats = counts.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("c").alias("total_rows"),
        F.sum(F.col("c").cast("decimal(38,0)") * F.col("c")).alias("sum_c2"),
        F.max("c").alias("max_c"),
    )
    top = counts.orderBy(F.desc("c"), F.asc("o_custkey")).limit(SKEW_TOP)
    cv2_ppm = F.expr(
        "CAST((CAST(n_keys AS DECIMAL(38,0)) * sum_c2"
        " - CAST(total_rows AS DECIMAL(38,0)) * total_rows) * 1000000"
        " DIV (CAST(total_rows AS DECIMAL(38,0)) * total_rows) AS BIGINT)"
    )
    return (
        top.crossJoin(F.broadcast(stats))
        .select(
            F.col("o_custkey").alias("hot_key"),
            F.col("c").alias("key_rows"),
            F.expr("CAST(c * 1000000 DIV total_rows AS BIGINT)").alias(
                "share_ppm"
            ),
            "n_keys",
            "total_rows",
            cv2_ppm.alias("cv2_ppm"),
            F.expr(
                "CAST((max_c * n_keys + total_rows - 1) DIV total_rows"
                " AS BIGINT)"
            ).alias("suggested_salt"),
        )
        .orderBy(F.desc("key_rows"), F.asc("hot_key"))
    )


ORACLE_JOIN_SIZE = """
WITH profile AS (
  SELECT 'orders_x_lineitem' AS pair, l.k, l.cl * r.cr AS rows_k
  FROM (SELECT o_orderkey AS k, CAST(count(*) AS HUGEINT) AS cl
        FROM orders WHERE o_orderkey IS NOT NULL GROUP BY 1) l
  JOIN (SELECT l_orderkey AS k, CAST(count(*) AS HUGEINT) AS cr
        FROM lineitem WHERE l_orderkey IS NOT NULL GROUP BY 1) r
    USING (k)
  UNION ALL
  SELECT 'customer_x_orders', l.k, l.cl * r.cr
  FROM (SELECT c_custkey AS k, CAST(count(*) AS HUGEINT) AS cl
        FROM customer WHERE c_custkey IS NOT NULL GROUP BY 1) l
  JOIN (SELECT o_custkey AS k, CAST(count(*) AS HUGEINT) AS cr
        FROM orders WHERE o_custkey IS NOT NULL GROUP BY 1) r
    USING (k)
  UNION ALL
  SELECT 'events_self_user', l.k, l.cl * r.cr
  FROM (SELECT user_id AS k, CAST(count(*) AS HUGEINT) AS cl
        FROM events WHERE user_id IS NOT NULL GROUP BY 1) l
  JOIN (SELECT user_id AS k, CAST(count(*) AS HUGEINT) AS cr
        FROM events WHERE user_id IS NOT NULL GROUP BY 1) r
    USING (k)
)
SELECT pair,
       CAST(count(*) AS BIGINT) AS n_match_keys,
       CAST(max(rows_k) AS BIGINT) AS max_key_rows,
       CAST(sum(rows_k) AS BIGINT) AS join_rows,
       CAST(max(rows_k) * 1000000 // sum(rows_k) AS BIGINT)
         AS max_key_share_ppm
FROM profile GROUP BY pair ORDER BY pair
"""


@query(oracle=ORACLE_JOIN_SIZE)
def join_size_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-output cardinality + skew profile from per-key counts —
    the join is NEVER executed; only its size is computed, the way a
    cost-based optimizer would with exact frequency statistics.

    One row per profiled pair: distinct key counts on each side, the
    exact join output rows Σ cnt_l·cnt_r, the single hottest key's
    contribution, and its share in ppm (the skew signal that decides
    broadcast/salt/AQE strategy before paying for the join).

    Scale shape: per-side map-side-combinable key-count aggregates
    (each output ≤ distinct keys), an equi-join BETWEEN COUNT
    relations (orders of magnitude smaller than the facts), and a
    one-row final aggregate per pair. Products ride decimal(38,0)
    end-to-end; the emitted BIGINTs hold to ~9e18 join rows — beyond
    any join this engine would actually run (a 100 TB self-join with
    a 3e9-row hot key is the documented ceiling).
    """
    pairs = []
    specs = [
        ("orders_x_lineitem", "orders", "o_orderkey", "lineitem", "l_orderkey"),
        ("customer_x_orders", "customer", "c_custkey", "orders", "o_custkey"),
        ("events_self_user", "events", "user_id", "events", "user_id"),
    ]
    for name, lt, lk, rt, rk in specs:
        left = (
            load_table(spark, sf_dir, lt)
            .filter(F.col(lk).isNotNull())
            .groupBy(F.col(lk).alias("k"))
            .agg(F.count(F.lit(1)).alias("cl"))
        )
        right = (
            load_table(spark, sf_dir, rt)
            .filter(F.col(rk).isNotNull())
            .groupBy(F.col(rk).alias("k"))
            .agg(F.count(F.lit(1)).alias("cr"))
        )
        prod = F.expr("CAST(cl AS DECIMAL(38,0)) * cr")
        joined = left.join(right, "k").select(
            F.col("k"), prod.alias("rows_k")
        )
        pairs.append(
            joined.agg(
                F.lit(name).alias("pair"),
                F.count(F.lit(1)).alias("n_match_keys"),
                F.max("rows_k").cast("long").alias("max_key_rows"),
                F.sum("rows_k").cast("long").alias("join_rows"),
                F.expr(
                    "CAST(max(rows_k) * 1000000 DIV sum(rows_k) AS BIGINT)"
                ).alias("max_key_share_ppm"),
            )
        )
    out = pairs[0]
    for p in pairs[1:]:
        out = out.unionByName(p)
    return out


# --------------------------------------- SCD2 point-in-time join
@query(
    oracle="""
WITH dated AS (
  SELECT o_custkey, CAST(o_orderdate AS DATE) AS day,
         o_orderpriority, o_orderkey
  FROM orders WHERE o_orderdate IS NOT NULL
),
daily AS (
  SELECT o_custkey, day, o_orderpriority AS prio FROM (
    SELECT *, row_number() OVER (
      PARTITION BY o_custkey, day ORDER BY o_orderkey DESC) AS rn
    FROM dated) WHERE rn = 1
),
flagged AS (
  SELECT o_custkey, day, prio,
    CASE WHEN lag(prio) OVER (PARTITION BY o_custkey ORDER BY day)
              IS NOT DISTINCT FROM prio THEN 0 ELSE 1 END AS chg
  FROM daily
),
isl AS (
  SELECT o_custkey, day, prio,
    sum(chg) OVER (PARTITION BY o_custkey ORDER BY day) AS isl
  FROM flagged
),
iv AS (
  SELECT o_custkey, isl, min(prio) AS prio, min(day) AS valid_from
  FROM isl GROUP BY 1, 2
),
iv2 AS (
  SELECT o_custkey, prio, valid_from,
    lead(valid_from) OVER (PARTITION BY o_custkey ORDER BY valid_from) - 1
      AS valid_to
  FROM iv
),
probes AS (
  SELECT o2.o_custkey, CAST(l_shipdate AS DATE) AS day,
    CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT) AS cents
  FROM lineitem JOIN orders o2 ON o2.o_orderkey = l_orderkey
  WHERE l_shipdate IS NOT NULL
),
pit AS (
  SELECT p.cents, i.prio, i.valid_from
  FROM probes p LEFT JOIN iv2 i
    ON i.o_custkey = p.o_custkey
   AND p.day >= i.valid_from
   AND (i.valid_to IS NULL OR p.day <= i.valid_to)
)
SELECT (valid_from IS NOT NULL) AS matched,
       prio AS priority_state,
       CAST(count(*) AS BIGINT) AS n_items,
       CAST(sum(cents) AS BIGINT) AS revenue_cents
FROM pit GROUP BY 1, 2
ORDER BY matched, priority_state
"""
)
def scd2_point_in_time_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POINT-IN-TIME (temporal) join: every lineitem shipment is
    enriched with the SCD2 priority state its customer was in ON THE
    SHIP DATE, then rolled up per state — the warehouse pattern behind
    "join the fact to the dimension AS OF the fact's timestamp".

    The dimension is built from orders as non-overlapping contiguous
    intervals (per (customer, day) the LAST priority by order key —
    deterministic; gaps-and-islands with IS-DISTINCT-FROM change
    flags so a NULL priority is a real SCD2 state; valid_to = next
    valid_from - 1 day, last interval open).

    The join itself is the AS-OF UNION TRICK, not a range join:
    interval-open rows and probe rows are tagged and unioned, ONE
    window per customer (day ASC, dim-before-probe on ties) carries
    the last-opened interval struct forward — the struct carry (not a
    bare column carry) is what lets a NULL-priority state propagate
    without being skipped by ignorenulls. Probes before the first
    interval surface as matched = false instead of silently dropping.

    Scale: zero BroadcastNestedLoop / range join anywhere — the probe
    side rides ONE shuffle on o_custkey shared by the window; the
    interval build shares the same key. The oracle states identical
    semantics as the naive BETWEEN left-join (safe there because the
    intervals are non-overlapping by construction).

    Output: matched, priority_state, n_items, revenue_cents."""
    from youtube_etl_automated_pipeline_spark.functions.compat import units

    orders = load_wide(spark, sf_dir, "orders")
    dated = orders.filter(F.col("o_orderdate").isNotNull()).select(
        "o_custkey",
        F.to_date("o_orderdate").alias("day"),
        "o_orderpriority",
        "o_orderkey",
    )
    w_day = Window.partitionBy("o_custkey", "day").orderBy(
        F.desc("o_orderkey")
    )
    daily = (
        dated.withColumn("rn", F.row_number().over(w_day))
        .filter(F.col("rn") == 1)
        .select("o_custkey", "day", F.col("o_orderpriority").alias("prio"))
    )
    w_seq = Window.partitionBy("o_custkey").orderBy("day")
    islands = daily.withColumn(
        "chg",
        F.when(~F.lag("prio").over(w_seq).eqNullSafe(F.col("prio")), 1)
        .otherwise(0),
    ).withColumn("isl", F.sum("chg").over(w_seq))
    iv = (
        islands.groupBy("o_custkey", "isl")
        # prio is constant within an island (eqNullSafe islands);
        # min() is a deterministic way to read it (all-NULL -> NULL)
        .agg(F.min("prio").alias("prio"), F.min("day").alias("valid_from"))
    )
    w_iv = Window.partitionBy("o_custkey").orderBy("valid_from")
    iv2 = iv.withColumn(
        "valid_to", F.date_sub(F.lead("valid_from").over(w_iv), 1)
    )

    probes = (
        load_wide(spark, sf_dir, "lineitem")
        .filter(F.col("l_shipdate").isNotNull())
        .select(
            "l_orderkey",
            F.to_date("l_shipdate").alias("day"),
            units(F.col("l_extendedprice"), 2).alias("cents"),
        )
        .join(
            orders.select("o_orderkey", "o_custkey"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .select("o_custkey", "day", "cents")
    )

    dim_rows = iv2.select(
        "o_custkey",
        F.col("valid_from").alias("day"),
        "prio",
        "valid_to",
        F.lit(1).alias("is_dim"),
        F.lit(None).cast("bigint").alias("cents"),
    )
    probe_rows = probes.select(
        "o_custkey",
        "day",
        F.lit(None).cast("string").alias("prio"),
        F.lit(None).cast("date").alias("valid_to"),
        F.lit(0).alias("is_dim"),
        "cents",
    )
    w_u = (
        Window.partitionBy("o_custkey")
        .orderBy("day", F.desc("is_dim"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    st = F.when(
        F.col("is_dim") == 1,
        F.struct(
            F.col("prio").alias("prio"), F.col("day").alias("valid_from")
        ),
    )
    carried = (
        dim_rows.unionByName(probe_rows)
        .withColumn("st", F.last(st, ignorenulls=True).over(w_u))
        .filter(F.col("is_dim") == 0)
    )
    return (
        carried.select(
            F.col("st").isNotNull().alias("matched"),
            F.col("st.prio").alias("priority_state"),
            "cents",
        )
        .groupBy("matched", "priority_state")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_items"),
            F.sum("cents").cast("bigint").alias("revenue_cents"),
        )
        .orderBy("matched", "priority_state")
    )
