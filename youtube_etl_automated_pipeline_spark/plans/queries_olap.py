"""OLAP-surface extras: exact percentiles, pivot/unpivot reshaping,
and a binned range join (interval containment without an equi key —
the operator family Spark lacks as a built-in). Oracles inline.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from youtube_etl_automated_pipeline_spark.functions.compat import (
    hround,
    sql_hround,
    sql_xavg,
    sql_xsum,
    units,
    xavg,
    xsum,
)
from youtube_etl_automated_pipeline_spark.operators.windows import bounded_window
from youtube_etl_automated_pipeline_spark.plans.registry import query
from youtube_etl_automated_pipeline_spark.sources import load_table

EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


@query(
    oracle=f"""
SELECT event_type, count(*) AS n,
  {sql_hround("quantile_cont(value, 0.5)", 6)} AS p50,
  {sql_hround("quantile_cont(value, 0.95)", 6)} AS p95,
  {sql_hround("quantile_cont(value, 0.99)", 6)} AS p99
FROM events GROUP BY event_type ORDER BY event_type
"""
)
def percentile_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per event type (sort-based
    aggregate; for 100 TB you'd switch to percentile_approx and accept
    the sketch error — both surfaces exist, this one is the
    oracle-matchable baseline)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            hround(F.expr("percentile(value, 0.5)"), 6).alias("p50"),
            hround(F.expr("percentile(value, 0.95)"), 6).alias("p95"),
            hround(F.expr("percentile(value, 0.99)"), 6).alias("p99"),
        )
        .orderBy("event_type")
    )


@query(
    oracle=f"""
WITH wide AS (
  SELECT event_type,
    CAST(count(*) AS DOUBLE) AS n_events,
    {sql_xsum("value", 2)} AS sum_value,
    {sql_xavg("value", 2, 4)} AS avg_value
  FROM events GROUP BY event_type
)
SELECT event_type, 'n_events' AS metric, n_events AS value FROM wide
UNION ALL SELECT event_type, 'sum_value', sum_value FROM wide
UNION ALL SELECT event_type, 'avg_value', avg_value FROM wide
ORDER BY event_type, metric
"""
)
def unpivot_event_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide -> long: per-type metric columns melted to (metric, value)
    rows via DataFrame.unpivot (UNION-ALL-free melt)."""
    ev = load_table(spark, sf_dir, "events")
    wide = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("double").alias("n_events"),
        xsum(F.col("value"), 2).alias("sum_value"),
        xavg(F.col("value"), 2, 4).alias("avg_value"),
    )
    return wide.unpivot(
        "event_type",
        ["n_events", "sum_value", "avg_value"],
        "metric",
        "value",
    ).orderBy("event_type", "metric")


@query(
    oracle="""
WITH iv AS (
  SELECT event_id AS incident_id, ts AS s, ts + INTERVAL 2 HOUR AS e
  FROM events WHERE event_type = 'error' AND event_id % 7 = 0
),
pts AS (
  SELECT event_id AS point_id, ts AS p_ts FROM events
  WHERE event_type <> 'error'
)
SELECT incident_id, count(*) AS n_points,
       min(p_ts) AS first_point, max(p_ts) AS last_point
FROM iv JOIN pts ON p_ts BETWEEN s AND e
GROUP BY incident_id
ORDER BY incident_id
"""
)
def range_join_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (interval-containment) join WITHOUT an equi key, made
    scalable by time binning: 2-hour 'incident windows' around error
    events are exploded into hourly bins, points join on their own
    bin (equi-join!), then the exact containment predicate filters.
    Cost is O(points + intervals * bins_per_interval) shuffled on the
    bin key — never the O(points * intervals) cartesian a naive theta
    join degrades to. Per-incident rollup output.
    """
    ev = load_table(spark, sf_dir, "events")
    iv = (
        ev.filter((F.col("event_type") == "error") & (F.col("event_id") % 7 == 0))
        .select(
            F.col("event_id").alias("incident_id"),
            F.col("ts").alias("s"),
            (F.col("ts") + F.expr("INTERVAL 2 HOURS")).alias("e"),
        )
    )
    bins = iv.select(
        "incident_id",
        "s",
        "e",
        F.explode(
            F.sequence(
                F.date_trunc("hour", F.col("s")),
                F.date_trunc("hour", F.col("e")),
                F.expr("INTERVAL 1 HOUR"),
            )
        ).alias("bin"),
    )
    pts = ev.filter(F.col("event_type") != "error").select(
        F.col("event_id").alias("point_id"),
        F.col("ts").alias("p_ts"),
        F.date_trunc("hour", F.col("ts")).alias("bin"),
    )
    matched = bins.join(pts, "bin").filter(
        (F.col("p_ts") >= F.col("s")) & (F.col("p_ts") <= F.col("e"))
    )
    return (
        matched.groupBy("incident_id")
        .agg(
            F.count(F.lit(1)).alias("n_points"),
            F.min("p_ts").alias("first_point"),
            F.max("p_ts").alias("last_point"),
        )
        .orderBy("incident_id")
    )


_PIVOT_COLS = ", ".join(
    'sum(CASE WHEN event_type = \'{t}\' THEN 1 ELSE 0 END) AS "{t}"'.format(t=t)
    for t in EVENT_TYPES
)


@query(
    oracle=f"""
SELECT user_id, {_PIVOT_COLS}
FROM events GROUP BY user_id ORDER BY user_id
"""
)
def pivot_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Long -> wide: per-user event counts pivoted by event type
    (explicit value list keeps the schema deterministic — never let
    pivot infer values from data at scale: that is an extra job plus
    an unstable schema)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id")
        .pivot("event_type", list(EVENT_TYPES))
        .agg(F.count(F.lit(1)))
        .na.fill(0, list(EVENT_TYPES))
        .orderBy("user_id")
    )


@query(
    oracle="""
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS n_events
  FROM events GROUP BY 1, 2
),
bounds AS (
  SELECT min(CAST(ts AS DATE)) AS d0, max(CAST(ts AS DATE)) AS d1 FROM events
),
spine AS (
  SELECT t.event_type, CAST(u.day AS DATE) AS day
  FROM (SELECT DISTINCT event_type FROM daily) t
  CROSS JOIN (SELECT unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS day
              FROM bounds) u
)
SELECT s.event_type, s.day,
       coalesce(d.n_events, 0) AS n_events,
       last_value(d.n_events IGNORE NULLS) OVER (
         PARTITION BY s.event_type ORDER BY s.day
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n_filled
FROM spine s LEFT JOIN daily d ON s.event_type = d.event_type AND s.day = d.day
ORDER BY s.event_type, s.day
"""
)
def gap_fill_daily_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap filling: a generated per-type daily date spine
    left-joined to actual daily rollups, missing days carried forward
    (last_value IGNORE NULLS window). The standard dense-timeline
    operator for downstream window/trend math.

    Scale shape: the spine is date_range x types (tiny, generated with
    sequence+explode, no driver loop); the rollup shuffles once on
    (type, day); the fill is one window per type ordered by day.
    """
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.col("event_type"), F.to_date("ts").alias("day")
    ).agg(F.count(F.lit(1)).alias("n_events"))
    bounds = ev.select(
        F.min(F.to_date("ts")).alias("d0"), F.max(F.to_date("ts")).alias("d1")
    )
    spine = (
        bounds.select(
            F.explode(F.sequence("d0", "d1", F.expr("INTERVAL 1 DAY"))).alias("day")
        )
        .crossJoin(daily.select("event_type").distinct())
    )
    from pyspark.sql import Window

    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        spine.join(daily, ["event_type", "day"], "left")
        .select(
            "event_type",
            "day",
            F.coalesce(F.col("n_events"), F.lit(0)).alias("n_events"),
            F.last(F.col("n_events"), ignorenulls=True).over(w).alias("n_filled"),
        )
        .orderBy("event_type", "day")
    )


@query(
    oracle="""
WITH daily AS (
  SELECT o_orderpriority, CAST(o_orderdate AS DATE) AS day,
         CAST(sum(CAST(floor((o_totalprice) * 100.0 + 0.5) AS BIGINT)) AS BIGINT)
           AS day_cents,
         count(*) AS day_orders
  FROM orders GROUP BY 1, 2
)
SELECT o_orderpriority, day, day_cents / 100.0 AS day_revenue,
  CAST(sum(day_cents) OVER (
     PARTITION BY o_orderpriority ORDER BY day
     RANGE BETWEEN INTERVAL 6 DAY PRECEDING AND CURRENT ROW) AS BIGINT) / 100.0
    AS rev_7d,
  CAST(sum(day_orders) OVER (
     PARTITION BY o_orderpriority ORDER BY day
     RANGE BETWEEN INTERVAL 6 DAY PRECEDING AND CURRENT ROW) AS BIGINT) AS orders_7d
FROM daily
ORDER BY o_orderpriority, day
"""
)
def rolling_7day_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-frame window: per-priority daily order revenue with a
    trailing 7-day (current day + 6 preceding) rolling sum and count.
    The range frame is over epoch seconds so sparse days contribute
    nothing (a ROWS frame would silently skip gaps)."""
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    # exact integer cents through BOTH aggregation levels: the daily
    # rollup and the rolling window sum stay in longs (order-free),
    # one division at the output projection.
    daily = orders.groupBy(
        "o_orderpriority", F.to_date("o_orderdate").alias("day")
    ).agg(
        F.sum(units(F.col("o_totalprice"), 2)).alias("day_cents"),
        F.count(F.lit(1)).alias("day_orders"),
    )
    w = (
        Window.partitionBy("o_orderpriority")
        .orderBy(F.unix_date(F.col("day")))
        .rangeBetween(-6, 0)
    )
    return daily.select(
        "o_orderpriority",
        "day",
        (F.col("day_cents") / 1e2).alias("day_revenue"),
        (F.sum("day_cents").over(w) / 1e2).alias("rev_7d"),
        F.sum("day_orders").over(w).alias("orders_7d"),
    ).orderBy("o_orderpriority", "day")


@query(
    oracle=f"""
SELECT o_orderpriority,
  count(*) AS n_orders,
  count(*) FILTER (o_totalprice > 200000) AS n_high_value,
  {sql_xsum("CASE WHEN o_totalprice > 200000 THEN o_totalprice ELSE 0.0 END", 2)}
    AS high_value_total,
  count(*) FILTER (o_totalprice > 200000 AND o_orderstatus = 'O') AS n_high_open,
  {sql_xavg("CASE WHEN o_orderstatus = 'O' THEN o_totalprice END", 2, 4)}
    AS avg_open_price
FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
"""
)
def conditional_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional aggregation (FILTER-clause shape): per-priority
    counts/sums restricted by predicates inside one aggregate pass —
    no self-joins, no second scan."""
    orders = load_table(spark, sf_dir, "orders")
    high = F.col("o_totalprice") > 200000
    open_ = F.col("o_orderstatus") == "O"
    return (
        orders.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.count_if(high).alias("n_high_value"),
            xsum(F.when(high, F.col("o_totalprice")).otherwise(0.0), 2).alias(
                "high_value_total"
            ),
            F.count_if(high & open_).alias("n_high_open"),
            xavg(F.when(open_, F.col("o_totalprice")), 2, 4).alias("avg_open_price"),
        )
        .orderBy("o_orderpriority")
    )


@query(
    oracle="""
SELECT DISTINCT o_custkey,
  first_value(o_orderkey) OVER w AS first_order,
  nth_value(o_orderkey, 2) OVER w AS second_order,
  last_value(o_orderkey) OVER w AS latest_order,
  count(*) OVER w AS n_orders
FROM orders
WINDOW w AS (PARTITION BY o_custkey
             ORDER BY o_orderdate ASC NULLS LAST, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
ORDER BY o_custkey
"""
)
def nth_order_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first/second/latest order per customer via first_value /
    nth_value / last_value over a full-partition frame with a
    deterministic total order."""
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        # NULLS LAST pin: Spark ASC defaults NULLS FIRST, DuckDB LAST
        .orderBy(F.asc_nulls_last("o_orderdate"), F.asc("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return (
        orders.select(
            "o_custkey",
            F.first_value("o_orderkey").over(w).alias("first_order"),
            F.nth_value("o_orderkey", 2).over(w).alias("second_order"),
            F.last_value("o_orderkey").over(w).alias("latest_order"),
            F.count(F.lit(1)).over(w).alias("n_orders"),
        )
        .distinct()
        .orderBy("o_custkey")
    )


@query(
    oracle=f"""
SELECT l_returnflag, count(*) AS n,
  {sql_hround("stddev_samp(l_extendedprice)", 4)} AS price_stddev,
  {sql_hround("var_samp(l_quantity)", 4)} AS qty_var,
  {sql_hround("corr(l_extendedprice, l_quantity)", 6)} AS price_qty_corr,
  {sql_hround("covar_samp(l_extendedprice, l_discount)", 4)} AS price_disc_covar
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
"""
)
def statistical_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregate family: sample stddev/variance,
    correlation and covariance per group — single-pass distributed
    moments (partial aggregation composes across partitions)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            hround(F.stddev_samp("l_extendedprice"), 4).alias("price_stddev"),
            hround(F.var_samp("l_quantity"), 4).alias("qty_var"),
            hround(F.corr("l_extendedprice", "l_quantity"), 6).alias("price_qty_corr"),
            hround(F.covar_samp("l_extendedprice", "l_discount"), 4).alias(
                "price_disc_covar"
            ),
        )
        .orderBy("l_returnflag")
    )


@query(
    oracle="""
SELECT n.n_name, count(*) AS n_orders,
       CAST(sum(CAST(round(o.o_totalprice * 100.0) AS BIGINT)) AS BIGINT) AS cents
FROM orders o
JOIN nation n ON (o.o_custkey % 5) = n.n_nationkey
WHERE n.n_nationkey < 5
GROUP BY n.n_name
ORDER BY n.n_name
"""
)
def skew_salted_join_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The join-side skew lever as an oracle-visible query: orders
    keys are COLLAPSED onto 5 hot nation-sized values (pmod on
    custkey) to fabricate extreme skew, then salted-joined to the
    5-row hot dim and rolled up. The oracle runs the plain join —
    salting must be invisible in the result. (AQE skew-split handles
    the planner-visible case, tests/test_bucketing.py; this operator
    covers skew that appears mid-pipeline where stats can't see it.)
    """
    from youtube_etl_automated_pipeline_spark.operators.skew import salted_join

    orders = load_table(spark, sf_dir, "orders").select(
        F.pmod(F.col("o_custkey"), F.lit(5)).alias("hot_key"),
        "o_orderkey",
        units(F.col("o_totalprice"), 2).alias("cents"),
    )
    hot_dim = load_table(spark, sf_dir, "nation").filter(
        F.col("n_nationkey") < 5
    ).select(F.col("n_nationkey").alias("dim_key"), "n_name")
    joined = salted_join(
        orders, hot_dim, "hot_key", "dim_key", F.col("o_orderkey"), n_salts=16
    )
    return (
        joined.groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("cents").alias("cents"),
        )
        .orderBy("n_name")
    )


@query(oracle=None)
def approx_percentile_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB percentile path percentile_stats' docstring points
    at: percentile_approx (bounded-memory KLL-style quantile sketch,
    mergeable across partitions — no global sort). Sketch output is
    engine-specific -> rows-only gate; the accuracy envelope vs the
    exact percentile is asserted in tests/test_sinks.py (same pattern
    as the HLL and CMS sketches). The DETERMINISTIC oracle-gated twin
    covering the same capability is kmv_percentile_stats
    (queries_sketch.py): bottom-K md5-priority sample + exact order
    statistics, bit-exact in both engines."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.expr("percentile_approx(value, 0.5, 1000)").alias("p50_approx"),
            F.expr("percentile_approx(value, 0.95, 1000)").alias("p95_approx"),
            F.expr("percentile_approx(value, 0.99, 1000)").alias("p99_approx"),
        )
        .orderBy("event_type")
    )


@query(
    oracle="""
SELECT o_orderstatus, count(*) AS n_lines,
       CAST(sum(CAST(round(l_extendedprice * 100.0) AS BIGINT)) AS BIGINT)
         AS price_cents
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
GROUP BY o_orderstatus
ORDER BY o_orderstatus
"""
)
def bucketed_colocated_join_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The bucketing strategy as an ORACLE-VISIBLE query (the
    no-Exchange plan property itself is asserted in
    tests/test_bucketing.py): orders and lineitem are written ONCE as
    8-bucket managed tables hash-bucketed + sorted on the join key,
    then joined WITHOUT broadcast — the sort-merge join reads
    co-located buckets, so the only shuffle in the plan is the final
    rollup key. At 100 TB this is the pay-the-shuffle-once-at-write
    layout for every repeated fact-fact join. The oracle computes the
    same rollup from the raw tables, proving the bucketed layout is
    content-lossless."""
    from youtube_etl_automated_pipeline_spark.session import input_digest
    from youtube_etl_automated_pipeline_spark.sinks import write_bucketed

    # named by input path and table contents, as fixture_dir keys
    tag = input_digest(sf_dir, ("orders", "lineitem"))
    t_orders = f"bkt_orders_{tag}"
    t_li = f"bkt_lineitem_{tag}"
    if not spark.catalog.tableExists(t_orders):
        write_bucketed(load_table(spark, sf_dir, "orders"), t_orders, "o_orderkey")
    if not spark.catalog.tableExists(t_li):
        write_bucketed(load_table(spark, sf_dir, "lineitem"), t_li, "l_orderkey")
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        df = (
            spark.table(t_orders)
            .join(
                spark.table(t_li),
                F.col("o_orderkey") == F.col("l_orderkey"),
            )
            .groupBy("o_orderstatus")
            .agg(
                F.count(F.lit(1)).alias("n_lines"),
                F.sum(units(F.col("l_extendedprice"), 2)).alias("price_cents"),
            )
            .orderBy("o_orderstatus")
        )
        # Materialize the physical plan WHILE the conf is active:
        # Catalyst reads SQLConf at planning time (lazily, at the first
        # action), so restoring the conf before the caller's action
        # would silently re-enable broadcast and void the co-located
        # SMJ this query exists to demonstrate. executedPlan is a
        # cached lazy val — once forced here, the caller's action
        # reuses it.
        df._jdf.queryExecution().executedPlan()
        return df
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


@query(
    oracle="""
SELECT o_orderstatus, count(*) AS n_lines,
       CAST(sum(CAST(round(l_extendedprice * 100.0) AS BIGINT)) AS BIGINT)
         AS price_cents
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE o_orderpriority = '1-URGENT'
GROUP BY o_orderstatus
ORDER BY o_orderstatus
"""
)
def bloom_filter_join_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime bloom-filter join as an ORACLE-VISIBLE query: a
    selective dim-side predicate (1-URGENT orders) feeds a shuffle
    join, and Spark's runtime row-level filtering injects a
    bloom_filter_agg on the dim side plus a might_contain probe at the
    FACT scan — most lineitem rows die before the shuffle. At 100 TB
    the 10MB/10GB default thresholds trigger this rewrite on exactly
    this shape; the smoke tables are tiny, so the thresholds are
    lowered here and the physical plan is forced while the confs are
    active (Catalyst reads SQLConf at planning time — see
    bucketed_colocated_join_rollup). The oracle is the plain join:
    identical results prove the runtime filter is semantics-free.
    Plan-shape assertion lives in
    tests/test_plan_shapes.py::test_runtime_bloom_filter_prunes_large_join."""
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "10MB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "1KB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        orders = load_table(spark, sf_dir, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        li = load_table(spark, sf_dir, "lineitem")
        df = (
            li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
            .groupBy("o_orderstatus")
            .agg(
                F.count(F.lit(1)).alias("n_lines"),
                F.sum(units(F.col("l_extendedprice"), 2)).alias("price_cents"),
            )
            .orderBy("o_orderstatus")
        )
        df._jdf.queryExecution().executedPlan()
        return df
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


@query(
    oracle="""
-- count(o_totalprice), not count(*): pandas' count aggregation
-- counts NON-NULL values (NaN-skipping), the documented semantics of
-- the pandas bridge this query showcases
SELECT o_orderpriority AS priority, count(o_totalprice) AS n_orders,
       CAST(sum(CAST(round(o_totalprice * 100.0) AS BIGINT)) AS BIGINT) AS cents
FROM orders
GROUP BY o_orderpriority
ORDER BY priority
"""
)
def pandas_api_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pandas-on-Spark surface (pyspark.pandas): a user ports
    reference-style pandas code (groupby/agg/reset_index — the idiom
    of Python-pipeline/dataprocessing3.py) and it executes as the
    SAME distributed plan as the DataFrame API — .pandas_api() and
    .to_spark() are metadata bridges, not data movement. Cents are
    precomputed Spark-side so the sum is integer-exact."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderpriority",
        F.round(F.col("o_totalprice") * 100.0).cast("long").alias("cents"),
    )
    pdf = orders.pandas_api()
    # dropna=False: pandas' groupby default silently DROPS the null
    # group, while SQL GROUP BY keeps it — pin to SQL semantics
    rolled = (
        pdf.groupby("o_orderpriority", dropna=False)
        .agg({"cents": ["count", "sum"]})
        .reset_index()
    )
    out = rolled.to_spark()
    # MultiIndex columns flatten to "(col, agg)" names on the bridge
    return out.select(
        F.col("`(o_orderpriority, )`").alias("priority"),
        F.col("`(cents, count)`").alias("n_orders"),
        F.col("`(cents, sum)`").alias("cents"),
    ).orderBy("priority")


@query(
    oracle="""
WITH numbered AS (
  SELECT event_id, user_id, event_type,
         row_number() OVER (ORDER BY event_id) - 1 AS seq
  FROM events
)
SELECT event_id, user_id, event_type, CAST(seq AS BIGINT) AS seq
FROM numbered WHERE seq % 1000 = 0 ORDER BY seq
"""
)
def global_sequence_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Globally contiguous sequence numbers in a total order WITHOUT a
    single-reducer sort — the canonical 100 TB pattern for stable row
    ids (training-example indices, shard-stable sample numbering).

    A naive row_number() over a global ORDER BY collapses the whole
    table into ONE partition (Window with empty PARTITION BY). This
    plan keeps every stage parallel:

    1. rows map to EXPLICIT order-compatible buckets (a deterministic
       expression over the key — unlike repartitionByRange, whose
       sampled boundaries may differ between the two jobs below) and
       hash-shuffle on the bucket id; within each partition rows sort
       by (bucket, key);
    2. one tiny aggregation collects per-bucket counts (B longs — the
       only driver traffic) and turns them into exclusive prefix-sum
       offsets;
    3. an Arrow-batched mapInPandas counter emits
       seq = bucket_offset + within-bucket ordinal — no second
       shuffle, no per-partition window exchange.

    The sequence depends only on the total (bucket, key) = key order,
    so the oracle is a plain row_number(); the plan never materializes
    a SinglePartition sort (asserted in tests/test_plan_shapes.py).

    Build is fully LAZY (round-2 advice): the max-key bucket boundary
    and the per-bucket prefix-sum offsets are derived INSIDE the plan
    (broadcast one-row max; 64-row triangular self-join for the
    exclusive prefix sum — windowless, so no SinglePartition stage),
    not collected at DataFrame-build time. Enumerating queries() or
    printing the plan therefore triggers no Spark jobs, and the whole
    assignment executes as one job over one source snapshot.
    """
    events = load_table(spark, sf_dir, "events")
    n_buckets = 64
    hi_df = events.agg(F.max("event_id").alias("hi"))
    bucket = F.least(
        F.floor(F.col("event_id") * n_buckets / (F.col("hi") + 1)).cast("int"),
        F.lit(n_buckets - 1),
    )
    bucketed = (
        events.select("event_id", "user_id", "event_type")
        .crossJoin(F.broadcast(hi_df))
        .select("event_id", "user_id", "event_type", bucket.alias("bucket"))
    )
    counts = bucketed.groupBy("bucket").agg(F.count(F.lit(1)).alias("c"))
    # exclusive prefix sum over 64 rows WITHOUT a global window: a
    # triangular broadcast self-join keeps every stage hash-partitioned
    offsets = (
        counts.alias("a")
        .join(
            F.broadcast(counts.alias("b")),
            F.col("b.bucket") < F.col("a.bucket"),
            "left",
        )
        .groupBy(F.col("a.bucket").alias("bucket"))
        .agg(F.coalesce(F.sum("b.c"), F.lit(0)).alias("offset"))
    )
    keyed = (
        bucketed.repartition(32, "bucket")
        .join(F.broadcast(offsets), "bucket")
        .sortWithinPartitions("bucket", "event_id")
    )

    def enumerate_kernel(it):
        seen: dict[int, int] = {}
        for pdf in it:
            base = pdf["offset"] + pdf["bucket"].map(
                lambda b: seen.get(b, 0)
            )
            within = pdf.groupby("bucket").cumcount()
            pdf = pdf.copy()
            pdf["seq"] = (base + within).astype("int64")
            for b, c in pdf["bucket"].value_counts().items():
                seen[b] = seen.get(b, 0) + int(c)
            yield pdf[["event_id", "user_id", "event_type", "seq"]]

    out = keyed.mapInPandas(
        enumerate_kernel,
        "event_id bigint, user_id bigint, event_type string, seq bigint",
    )
    # sample the assigned sequence (every 1000th row) so the gate
    # output stays small while pinning the full assignment; no
    # presentation orderBy — the sort's range sampler would re-execute
    # the whole upstream pipeline, and the compare is order-insensitive
    return out.filter(F.col("seq") % 1000 == 0)


@query(
    oracle="""
WITH close AS (
  SELECT l_orderkey, max(CAST(l_shipdate AS DATE)) AS last_ship
  FROM lineitem GROUP BY l_orderkey
),
scoped AS (
  SELECT CAST(o_orderdate AS DATE) AS opened,
    greatest(coalesce(last_ship, CAST(o_orderdate AS DATE)),
             CAST(o_orderdate AS DATE)) + 1 AS closes
  FROM orders LEFT JOIN close ON o_orderkey = l_orderkey
  WHERE o_orderdate IS NOT NULL
),
deltas AS (
  SELECT opened AS day, 1 AS delta FROM scoped
  UNION ALL
  SELECT closes AS day, -1 AS delta FROM scoped
),
per_day AS (
  SELECT day, CAST(sum(delta) AS BIGINT) AS net,
    CAST(sum(CASE WHEN delta > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_opened
  FROM deltas GROUP BY day
)
SELECT day, n_opened,
  CAST(sum(net) OVER (ORDER BY day
       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
    AS open_backlog
FROM per_day ORDER BY day
"""
)
def order_backlog_sweepline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Open-order backlog timeline: how many orders are open (placed
    but not fully shipped) at the end of each calendar day, by
    sweep-line — +1 at the order date, -1 the day AFTER the order's
    last shipment, running sum over per-day deltas. Orders with no
    line items count as shipped on their order date, so they appear
    in exactly that day's end-of-day backlog snapshot.

    Scale shape: the close date is one hash agg over lineitem
    (max shipdate per order, map-side partial); deltas union two
    narrow projections and collapse to ONE ROW PER CALENDAR DAY
    before the only window — the running sum therefore runs over a
    calendar-bounded relation (~2.4k rows here, never fact-table
    rows), the same sweep-line/prefix-sum shape as
    ``gap_fill_daily_counts``. Allowlisted with that proof.
    """
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate").isNotNull()
    )
    li = load_table(spark, sf_dir, "lineitem")
    close = li.groupBy("l_orderkey").agg(
        F.max(F.to_date("l_shipdate")).alias("last_ship")
    )
    opened = F.to_date("o_orderdate")
    scoped = orders.join(
        close, orders.o_orderkey == close.l_orderkey, "left"
    ).select(
        opened.alias("opened"),
        # coalesce BEFORE greatest: engines disagree on greatest(NULL, x)
        F.date_add(
            F.greatest(F.coalesce("last_ship", opened), opened), 1
        ).alias("closes"),
    )
    deltas = scoped.select(
        F.col("opened").alias("day"), F.lit(1).alias("delta")
    ).unionAll(
        scoped.select(F.col("closes").alias("day"), F.lit(-1).alias("delta"))
    )
    per_day = deltas.groupBy("day").agg(
        F.sum("delta").cast("long").alias("net"),
        F.sum(F.when(F.col("delta") > 0, 1).otherwise(0)).alias("n_opened"),
    )
    wd = bounded_window("day").orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return per_day.select(
        "day",
        "n_opened",
        F.sum("net").over(wd).cast("long").alias("open_backlog"),
    ).orderBy("day")


IVU_WIDTH_MOD = 14  # interval width = l_orderkey % 14 days (engine5's derivation)


@query(
    oracle=f"""
WITH iv AS (
  SELECT l_suppkey AS supp,
    CAST(l_shipdate AS DATE) AS ivl_start,
    CAST(l_shipdate AS DATE)
      + CAST(l_orderkey % {IVU_WIDTH_MOD} AS INT) AS ivl_end,
    l_orderkey, l_linenumber
  FROM lineitem WHERE l_shipdate IS NOT NULL
),
flagged AS (
  SELECT *,
    CASE WHEN ivl_start > coalesce(
      max(ivl_end) OVER (PARTITION BY supp
        ORDER BY ivl_start, ivl_end, l_orderkey, l_linenumber
        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
      DATE '0001-01-01') THEN 1 ELSE 0 END AS new_island
  FROM iv
),
islanded AS (
  SELECT *,
    sum(new_island) OVER (PARTITION BY supp
      ORDER BY ivl_start, ivl_end, l_orderkey, l_linenumber
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
  FROM flagged
),
islands AS (
  SELECT supp, island,
    date_diff('day', min(ivl_start), max(ivl_end)) + 1 AS island_days,
    count(*) AS n_intervals,
    min(ivl_start) AS i_start, max(ivl_end) AS i_end
  FROM islanded GROUP BY 1, 2
)
SELECT supp,
  CAST(sum(n_intervals) AS BIGINT) AS n_intervals,
  count(*) AS n_islands,
  CAST(sum(island_days) AS BIGINT) AS covered_days,
  CAST(date_diff('day', min(i_start), max(i_end)) + 1 AS BIGINT)
    AS span_days,
  CAST(CAST(sum(island_days) AS HUGEINT) * 1000000
       // (date_diff('day', min(i_start), max(i_end)) + 1) AS BIGINT)
    AS coverage_ppm
FROM islands GROUP BY supp ORDER BY supp
"""
)
def interval_union_length(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-supplier interval-algebra rollup: merge OVERLAPPING service
    intervals (gaps-and-islands) and report the union length — the
    'how much wall-clock was actually covered' number a naive
    sum-of-durations double-counts. Intervals derive exactly as in
    interval_overlap_join: [shipdate, shipdate + orderkey % 14 days].

    Scale shape: two windows, both PARTITIONED BY supplier (running
    max of interval ends → island flag → island id via prefix sum),
    then two hash rollups (per island, per supplier). Linear per
    partition, no self-join — the standard sweep-line merge.

    Exactness: all day arithmetic is integer; the coverage ratio is a
    ppm DIV. Window order (start, end, orderkey, linenumber) is a
    total order, so the prefix sums agree cross-engine.
    """
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate").isNotNull()
    )
    iv = li.select(
        F.col("l_suppkey").alias("supp"),
        F.to_date("l_shipdate").alias("ivl_start"),
        F.date_add(
            F.to_date("l_shipdate"),
            (F.col("l_orderkey") % IVU_WIDTH_MOD).cast("int"),
        ).alias("ivl_end"),
        "l_orderkey",
        "l_linenumber",
    )
    order_cols = [
        F.col("ivl_start"),
        F.col("ivl_end"),
        F.col("l_orderkey"),
        F.col("l_linenumber"),
    ]
    w_prev = (
        Window.partitionBy("supp")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_run = (
        Window.partitionBy("supp")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    flagged = iv.withColumn(
        "new_island",
        F.when(
            F.col("ivl_start") > F.coalesce(
                F.max("ivl_end").over(w_prev), F.lit("0001-01-01").cast("date")
            ),
            1,
        ).otherwise(0),
    ).withColumn("island", F.sum("new_island").over(w_run))
    islands = flagged.groupBy("supp", "island").agg(
        (
            F.datediff(F.max("ivl_end"), F.min("ivl_start")) + 1
        ).alias("island_days"),
        F.count(F.lit(1)).alias("n_intervals"),
        F.min("ivl_start").alias("i_start"),
        F.max("ivl_end").alias("i_end"),
    )
    return (
        islands.groupBy("supp")
        .agg(
            F.sum("n_intervals").alias("n_intervals"),
            F.count(F.lit(1)).alias("n_islands"),
            F.sum("island_days").cast("long").alias("covered_days"),
            (
                F.datediff(F.max("i_end"), F.min("i_start")) + 1
            ).cast("long").alias("span_days"),
        )
        .select(
            "supp",
            "n_intervals",
            "n_islands",
            "covered_days",
            "span_days",
            F.expr(
                "CAST(CAST(covered_days AS DECIMAL(38,0)) * 1000000"
                " DIV span_days AS BIGINT)"
            ).alias("coverage_ppm"),
        )
        .orderBy("supp")
    )
