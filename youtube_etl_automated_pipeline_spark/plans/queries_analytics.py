"""Product-analytics + warehouse-pattern operators: funnel analysis,
cohort retention, exact-cents histograms, SCD2 interval builds,
one-pass data profiling, blocked edit-distance near-dup, and a
deterministic vocabulary top-k. Oracles inline.

Reference provenance: the reference pipeline's analytics sheet fetch
(Python-pipeline/Youtube_Videos_Data.py) stops at grouped rollups;
this module is the engine-surface extension a real analytics user
reaches for next. Every query keeps aggregates integer-exact or
string-typed so the cross-engine hash is deterministic (see
functions/compat.py header).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from youtube_etl_automated_pipeline_spark.functions.compat import (
    hround,
    sql_hround,
    sql_xsum,
    xsum,
)
from youtube_etl_automated_pipeline_spark.operators.windows import bounded_window
from youtube_etl_automated_pipeline_spark.plans.registry import query
from youtube_etl_automated_pipeline_spark.sources import (
    load_table,
    load_wide,
    widen_scan,
)


@query(
    oracle="""
WITH per_user AS (
  SELECT user_id,
    min(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
    min(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
    min(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
  FROM events GROUP BY user_id
)
SELECT count(*) AS n_users,
  count(*) FILTER (t_view IS NOT NULL) AS n_viewed,
  count(*) FILTER (t_view IS NOT NULL AND t_click IS NOT NULL
                   AND t_click >= t_view) AS n_clicked,
  count(*) FILTER (t_view IS NOT NULL AND t_click IS NOT NULL
                   AND t_click >= t_view AND t_purchase IS NOT NULL
                   AND t_purchase >= t_click) AS n_purchased
FROM per_user
"""
)
def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered first-touch funnel view -> click -> purchase.

    Single groupBy pass: per user, the FIRST timestamp of each stage
    (min of a conditional), a stage counted as converted only when its
    first touch is at-or-after the previous stage's first touch. One
    shuffle on user_id with full map-side partial aggregation — the
    only shape that holds at 100 TB of events (no self-joins, no
    per-stage rescans).
    """
    ev = load_table(spark, sf_dir, "events")
    t = lambda typ: F.min(F.when(F.col("event_type") == typ, F.col("ts")))  # noqa: E731
    per_user = ev.groupBy("user_id").agg(
        t("view").alias("t_view"),
        t("click").alias("t_click"),
        t("purchase").alias("t_purchase"),
    )
    viewed = F.col("t_view").isNotNull()
    clicked = viewed & F.col("t_click").isNotNull() & (F.col("t_click") >= F.col("t_view"))
    purchased = clicked & F.col("t_purchase").isNotNull() & (
        F.col("t_purchase") >= F.col("t_click")
    )
    return per_user.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.count_if(viewed).alias("n_viewed"),
        F.count_if(clicked).alias("n_clicked"),
        F.count_if(purchased).alias("n_purchased"),
    )


@query(
    oracle="""
WITH days AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
),
first AS (
  SELECT user_id, min(day) AS cohort_day FROM days GROUP BY user_id
)
SELECT cohort_day,
       CAST(datediff('day', cohort_day, day) // 7 AS BIGINT) AS week,
       count(DISTINCT d.user_id) AS n_users
FROM days d JOIN first f ON d.user_id = f.user_id
GROUP BY 1, 2 ORDER BY 1, 2
"""
)
def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort-retention matrix: users grouped by first-activity date,
    counted per whole-week offset of later activity.

    Week offsets are pure integer day arithmetic ((day - cohort_day)
    DIV 7) — no engine-specific week truncation semantics. The
    first-touch rollup and the re-join both shuffle on user_id, so the
    join is co-partitioned (one exchange is reused); the final agg
    shuffles on the (cohort_day, week) pair whose cardinality is
    days x weeks — tiny at any scale.
    """
    ev = load_table(spark, sf_dir, "events")
    days = ev.select("user_id", F.to_date("ts").alias("day")).distinct()
    first = days.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    return (
        days.join(first, "user_id")
        .select(
            "cohort_day",
            F.expr("(unix_date(day) - unix_date(cohort_day)) DIV 7").alias("week"),
            "user_id",
        )
        .groupBy("cohort_day", "week")
        .agg(F.count_distinct("user_id").alias("n_users"))
        .orderBy("cohort_day", "week")
    )


@query(
    oracle=f"""
SELECT CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) // 2500000 AS bucket,
       (CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) // 2500000) * 25000
         AS bucket_lo_dollars,
       count(*) AS n_orders,
       {sql_xsum("o_totalprice", 2)} AS bucket_revenue
FROM orders GROUP BY 1 ORDER BY 1
"""
)
def revenue_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram of order value in exact integer cents:
    bucket = cents DIV 2_500_000 ($25k buckets). Integer floor-div on
    longs is bit-identical across engines — no float boundary to
    straddle. One groupBy on a low-cardinality derived key."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.select(
            F.expr(
                "CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) DIV 2500000"
            ).alias("bucket"),
            "o_totalprice",
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            xsum(F.col("o_totalprice"), 2).alias("bucket_revenue"),
        )
        .select(
            "bucket",
            (F.col("bucket") * 25000).alias("bucket_lo_dollars"),
            "n_orders",
            "bucket_revenue",
        )
        .orderBy("bucket")
    )


@query(
    oracle="""
WITH flagged AS (
  SELECT o_custkey, o_orderpriority, CAST(o_orderdate AS DATE) AS day,
         o_orderkey,
         CASE WHEN lag(o_orderpriority) OVER w
                   IS DISTINCT FROM o_orderpriority
              THEN 1 ELSE 0 END AS chg
  FROM orders
  WINDOW w AS (PARTITION BY o_custkey
               ORDER BY o_orderdate ASC NULLS LAST, o_orderkey)
),
seg AS (
  SELECT *, CAST(sum(chg) OVER (
    PARTITION BY o_custkey ORDER BY day ASC NULLS LAST, o_orderkey
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS segment
  FROM flagged
)
SELECT o_custkey, segment, o_orderpriority,
       min(day) AS valid_from, max(day) AS valid_to,
       count(*) AS n_orders
FROM seg GROUP BY 1, 2, 3 ORDER BY o_custkey, segment
"""
)
def scd2_priority_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 (slowly-changing-dimension type 2) interval build: collapse
    each customer's order-priority history into [valid_from, valid_to]
    runs. The classic gaps-and-islands shape — lag to flag changes,
    running sum of flags as the island id, one group per island.

    Scale: both windows and the final agg share the o_custkey
    partitioning (one shuffle, two local sorts); no joins at all.
    """
    orders = load_table(spark, sf_dir, "orders")
    # NULLS LAST ordering pin + null-safe change detection: a NULL
    # priority is a real dimension state (its own SCD2 run), so the
    # change flag uses IS DISTINCT FROM semantics (eqNullSafe) in
    # both engines instead of `!=`, whose NULL result would silently
    # glue a null-priority row onto the previous run.
    wo = Window.partitionBy("o_custkey").orderBy(
        F.asc_nulls_last("o_orderdate"), F.asc("o_orderkey")
    )
    flagged = orders.select(
        "o_custkey",
        "o_orderpriority",
        F.to_date("o_orderdate").alias("day"),
        "o_orderkey",
        F.when(
            ~F.lag("o_orderpriority")
            .over(wo)
            .eqNullSafe(F.col("o_orderpriority")),
            1,
        )
        .otherwise(0)
        .alias("chg"),
    )
    seg = flagged.withColumn(
        "segment",
        F.sum("chg").over(
            Window.partitionBy("o_custkey")
            .orderBy(F.asc_nulls_last("day"), F.asc("o_orderkey"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return (
        seg.groupBy("o_custkey", "segment", "o_orderpriority")
        .agg(
            F.min("day").alias("valid_from"),
            F.max("day").alias("valid_to"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .orderBy("o_custkey", "segment")
    )


@query(
    oracle="""
WITH wide AS (
  SELECT count(*) AS n_rows,
    count(o_custkey) AS c1_nn, count(DISTINCT o_custkey) AS c1_nd,
    min(CAST(o_custkey AS VARCHAR)) AS c1_min, max(CAST(o_custkey AS VARCHAR)) AS c1_max,
    count(o_orderstatus) AS c2_nn, count(DISTINCT o_orderstatus) AS c2_nd,
    min(o_orderstatus) AS c2_min, max(o_orderstatus) AS c2_max,
    count(o_orderpriority) AS c3_nn, count(DISTINCT o_orderpriority) AS c3_nd,
    min(o_orderpriority) AS c3_min, max(o_orderpriority) AS c3_max
  FROM orders
)
SELECT 'o_custkey' AS "column", n_rows, n_rows - c1_nn AS n_null,
       c1_nd AS n_distinct, c1_min AS min_value, c1_max AS max_value FROM wide
UNION ALL
SELECT 'o_orderstatus', n_rows, n_rows - c2_nn, c2_nd, c2_min, c2_max FROM wide
UNION ALL
SELECT 'o_orderpriority', n_rows, n_rows - c3_nn, c3_nd, c3_min, c3_max FROM wide
ORDER BY "column"
"""
)
def data_profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass column profiling (the DESCRIBE/summary surface):
    per-column row count, null count, distinct count, min/max as
    strings. A single wide aggregate scan — the multi-count_distinct
    Expand is the textbook tradeoff (rows x profiled-columns) and is
    still one job; at 100 TB you swap count_distinct for
    approx_count_distinct, same plan shape."""
    orders = load_table(spark, sf_dir, "orders")
    cols = ["o_custkey", "o_orderstatus", "o_orderpriority"]
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in cols:
        aggs += [
            F.count(c).alias(f"{c}_nn"),
            F.count_distinct(c).alias(f"{c}_nd"),
            F.min(F.col(c).cast("string")).alias(f"{c}_min"),
            F.max(F.col(c).cast("string")).alias(f"{c}_max"),
        ]
    wide = orders.agg(*aggs)
    parts = [
        wide.select(
            F.lit(c).alias("column"),
            F.col("n_rows"),
            (F.col("n_rows") - F.col(f"{c}_nn")).alias("n_null"),
            F.col(f"{c}_nd").alias("n_distinct"),
            F.col(f"{c}_min").alias("min_value"),
            F.col(f"{c}_max").alias("max_value"),
        )
        for c in cols
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.orderBy("column")


@query(
    oracle="""
WITH d AS (
  SELECT doc_id, lang, n_chars // 32 AS len_bucket,
         substr(lower(text), 1, 64) AS prefix
  FROM documents
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(levenshtein(a.prefix, b.prefix) AS BIGINT) AS edit_dist
FROM d a JOIN d b
  ON a.lang = b.lang AND a.len_bucket = b.len_bucket AND a.doc_id < b.doc_id
WHERE levenshtein(a.prefix, b.prefix) <= 20
ORDER BY doc_a, doc_b
"""
)
def dedup_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance near-dup pairs over documents, made scalable by
    blocking: candidates must share (lang, n_chars DIV 32) — an
    equi-join key — and only candidates pay the O(len^2) Levenshtein
    kernel, on a fixed 64-char prefix so per-pair cost is bounded.
    Standard blocking recall tradeoff (pairs straddling a length
    boundary are missed) — the same posture as dedup_minhash_lsh's
    banding. Never all-pairs: cost is sum over blocks of |block|^2
    with |block| capped by the key's selectivity, not n^2.
    """
    # widen_scan: the probe side must have >= cores partitions or the
    # whole O(|block|^2) Levenshtein pass lands in ONE task (the
    # single-file local scan otherwise serialized this query, 27s ->
    # ~1s at sf0.1). No trailing orderBy: range-partition sampling
    # would re-execute the join, and the gate compare is
    # order-insensitive.
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        F.expr("n_chars DIV 32").alias("len_bucket"),
        F.substring(F.lower(F.col("text")), 1, 64).alias("prefix"),
    )
    a = widen_scan(
        docs, cache_key=os.path.join(sf_dir, "documents.parquet")
    ).alias("a")
    b = docs.alias("b")
    return (
        a.join(
            b,
            (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.len_bucket") == F.col("b.len_bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.levenshtein(F.col("a.prefix"), F.col("b.prefix"))
            .cast("long")
            .alias("edit_dist"),
        )
        .filter(F.col("edit_dist") <= 20)
    )


@query(
    oracle="""
SELECT token, count(*) AS n
FROM (SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS token
      FROM documents)
GROUP BY token ORDER BY n DESC, token LIMIT 100
"""
)
def vocabulary_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary build: explode ASCII word tokens, count, rank,
    keep the top 100 by (count desc, token asc) — the deterministic
    tie-break makes the result hashable cross-engine. Token regex is
    pinned to [a-z]+ after lower() so Java and C regex/Unicode
    semantics cannot diverge. Shuffle on token with map-side partial
    counts; the final top-k is TakeOrderedAndProject, not a sort.
    """
    docs = load_table(spark, sf_dir, "documents")
    tokens = docs.select(
        F.explode(
            F.expr(r"regexp_extract_all(lower(text), '[a-z]+', 0)")
        ).alias("token")
    )
    counts = tokens.groupBy("token").agg(F.count(F.lit(1)).alias("n"))
    return counts.orderBy(F.col("n").desc(), F.col("token")).limit(100)


EWMA_SCHEMA = "user_id bigint, n_events bigint, ewma_cents bigint, ewma double"


def _ewma_partition_kernel(batches):
    """Integer-exact EWMA with alpha=1/4: e_0 = v_0;
    e_i = (3*e_{i-1} + v_i) // 4 on cents. Floor division on a
    positive domain == truncation, so DuckDB's `//` agrees exactly.

    Partition-level kernel over (user_id, ts, event_id)-sorted rows:
    ONE Python loop per partition with a reset at user boundaries,
    carrying state across Arrow batch edges — ~32 kernel invocations
    instead of one per key (per-group applyInPandas paid ~2ms of
    pandas overhead x 1500 keys = 3.3s of the 5.4s total at sf0.1;
    this form runs in ~2s). Same trick as the bucketed cogroup
    kernel."""
    import numpy as np
    import pandas as pd

    out_u: list[int] = []
    out_n: list[int] = []
    out_e: list[int] = []
    cur = None
    n = 0
    e = 0
    for pdf in batches:
        users = pdf["user_id"].to_numpy()
        cents = np.floor(pdf["value"].to_numpy() * 100.0 + 0.5).astype("int64")
        for i in range(len(users)):
            u = int(users[i])
            if u != cur:
                if cur is not None:
                    out_u.append(cur)
                    out_n.append(n)
                    out_e.append(e)
                cur, n, e = u, 1, int(cents[i])
            else:
                n += 1
                e = (3 * e + int(cents[i])) // 4
    if cur is not None:
        out_u.append(cur)
        out_n.append(n)
        out_e.append(e)
    yield pd.DataFrame(
        {
            "user_id": out_u,
            "n_events": out_n,
            "ewma_cents": out_e,
            "ewma": [c / 100.0 for c in out_e],
        }
    )


_EWMA_SQL = """
WITH RECURSIVE ev AS (
  SELECT user_id,
         CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS c,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events
  WHERE value IS NOT NULL
),
r AS (
  SELECT user_id, rn, c AS e FROM ev WHERE rn = 1
  UNION ALL
  SELECT ev.user_id, ev.rn, (3 * r.e + ev.c) // 4
  FROM r JOIN ev ON ev.user_id = r.user_id AND ev.rn = r.rn + 1
)
SELECT user_id,
       CAST(max(rn) AS BIGINT) AS n_events,
       arg_max(e, rn) AS ewma_cents,
       CAST(arg_max(e, rn) AS DOUBLE) / 100.0 AS ewma
FROM r
GROUP BY user_id
ORDER BY user_id
"""


@query(oracle=_EWMA_SQL)
def ewma_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user exponentially weighted moving average of event value —
    the sequential-recursion shape no window function expresses
    (each state depends on the previous state, not a frame aggregate).

    Scale shape: one hash repartition on user_id co-locates each
    key's history, sortWithinPartitions gives the recursion its
    order, and a mapInPandas kernel sweeps each partition once. The
    integer formulation (cents, rational alpha 3/4+1/4, floor div)
    makes the result bit-identical to the DuckDB recursive-CTE
    oracle — a float EWMA would drift across engines.
    """
    ev = (
        load_table(spark, sf_dir, "events")
        .select("user_id", "ts", "event_id", "value")
        # a NULL observation carries no signal: it must not update
        # the recursion (the kernel's float->int cast would otherwise
        # turn NaN into min-long garbage). Pinned identically in the
        # oracle's ev CTE.
        .filter(F.col("value").isNotNull())
    )
    parted = ev.repartition(
        ev.sparkSession.sparkContext.defaultParallelism, "user_id"
    ).sortWithinPartitions("user_id", "ts", "event_id")
    # no trailing orderBy (r08): range-sampling re-executed the
    # Arrow kernel pass; driver compare is order-insensitive
    return parted.mapInPandas(_ewma_partition_kernel, EWMA_SCHEMA)


@query(
    oracle="""
WITH checks AS (
  SELECT 'nonpositive_price' AS constraint,
         CAST(sum(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_violations
  FROM orders
  UNION ALL
  SELECT 'null_orderdate',
         CAST(sum(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS BIGINT)
  FROM orders
  UNION ALL
  SELECT 'bad_status_domain',
         CAST(sum(CASE WHEN o_orderstatus NOT IN ('O','F','P') THEN 1 ELSE 0 END)
              AS BIGINT)
  FROM orders
  UNION ALL
  SELECT 'orphan_order_custkey',
         CAST(count(*) AS BIGINT)
  FROM orders WHERE o_custkey NOT IN (SELECT c_custkey FROM customer)
  UNION ALL
  SELECT 'duplicate_custkey', CAST(count(*) AS BIGINT) FROM (
    SELECT c_custkey FROM customer GROUP BY c_custkey HAVING count(*) > 1
  )
)
SELECT "constraint", n_violations FROM checks ORDER BY "constraint"
"""
)
def constraint_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality expectations as a first-class query (the dbt-test
    / Delta-constraint pattern): one row per declared constraint with
    its violation count over the live tables. Same-table checks fold
    into ONE conditional-aggregation scan; referential integrity is a
    broadcast anti join (customer keys ≪ fact rows at any scale — and
    when the dim outgrows broadcast, the anti join shuffles on the
    key like any equi-join). A zero row is evidence of a checked
    invariant, not absence of checking."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")

    same_scan = orders.agg(
        F.sum(F.when(F.col("o_totalprice") <= 0, 1).otherwise(0)).alias(
            "nonpositive_price"
        ),
        F.sum(F.when(F.col("o_orderdate").isNull(), 1).otherwise(0)).alias(
            "null_orderdate"
        ),
        F.sum(
            F.when(
                ~F.col("o_orderstatus").isin("O", "F", "P"), 1
            ).otherwise(0)
        ).alias("bad_status_domain"),
    )
    melted = same_scan.select(
        F.explode(
            F.map_from_arrays(
                F.array(
                    F.lit("nonpositive_price"),
                    F.lit("null_orderdate"),
                    F.lit("bad_status_domain"),
                ),
                F.array(
                    F.col("nonpositive_price").cast("long"),
                    F.col("null_orderdate").cast("long"),
                    F.col("bad_status_domain").cast("long"),
                ),
            )
        ).alias("constraint", "n_violations")
    )
    orphans = (
        orders.join(
            F.broadcast(cust),
            orders.o_custkey == cust.c_custkey,
            "left_anti",
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_violations"))
        .select(F.lit("orphan_order_custkey").alias("constraint"), "n_violations")
    )
    dup_keys = (
        cust.groupBy("c_custkey")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 1)
        .agg(F.count(F.lit(1)).cast("long").alias("n_violations"))
        .select(F.lit("duplicate_custkey").alias("constraint"), "n_violations")
    )
    return melted.unionByName(orphans).unionByName(dup_keys).orderBy("constraint")


@query(
    oracle="""
WITH c AS (
  SELECT event_type,
         CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS cents
  FROM events
  WHERE value IS NOT NULL
),
r AS (
  SELECT event_type, cents,
         row_number() OVER (PARTITION BY event_type ORDER BY cents) AS rn,
         count(*) OVER (PARTITION BY event_type) AS n,
         sum(cents) OVER (PARTITION BY event_type) AS tot
  FROM c
)
SELECT event_type,
       CAST(max(n) AS BIGINT) AS n,
       CASE WHEN max(n) = 0 OR max(tot) = 0 THEN 0.0
            ELSE CAST(CAST(sum((2*rn - n - 1) * cents) AS BIGINT) AS DOUBLE)
                 / CAST(max(n) * max(tot) AS DOUBLE) END AS gini
FROM r
GROUP BY event_type
ORDER BY event_type
"""
)
def gini_value_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type Gini coefficient of event values through a GROUPED-AGG
    pandas UDF — the vectorized-UDAF flavor of the Pandas API surface
    (each group's values arrive as ONE numpy-backed Series; the kernel
    is a sort + an integer dot product, never per-row Python).

    Bit-exactness: values quantize to exact integer cents, the Gini
    numerator sum((2i-n-1)*x_(i)) is an integer (invariant under tie
    permutation: tied x share one coefficient sum), and the single
    final division of two exact integers < 2^53 is IEEE-identical in
    DuckDB's window-function formulation.

    Scale: Spark's grouped-agg UDF streams each group through Arrow;
    groups here are event types (5 groups, ~n/5 rows each). For
    heavy-tailed group sizes the same metric decomposes into the
    sort-free window form the oracle uses — both shapes shown."""
    import numpy as np
    from pyspark.sql.functions import PandasUDFType, pandas_udf

    # explicit functionType: this module uses postponed annotations
    # (PEP 563), which turn type hints into strings pyspark's
    # hint-based UDF-type inference cannot resolve
    @pandas_udf("double", PandasUDFType.GROUPED_AGG)
    def gini_cents(v):
        x = np.sort(np.floor(v.to_numpy(dtype="float64") * 100.0 + 0.5).astype("int64"))
        n = len(x)
        tot = int(x.sum())
        if n == 0 or tot == 0:
            return 0.0
        num = int(((2 * np.arange(1, n + 1, dtype="int64") - n - 1) * x).sum())
        return float(num) / float(n * tot)

    # Spark disallows mixing group-agg pandas UDFs with JVM aggregates
    # in one Aggregate, so the row count is a pandas UDAF too (both
    # ride the same Arrow transfer of the group)
    @pandas_udf("long", PandasUDFType.GROUPED_AGG)
    def n_rows(v):
        return len(v)

    ev = load_table(spark, sf_dir, "events").filter(
        # a NULL value has no magnitude to concentrate: drop it in
        # BOTH engines (the kernel's float->int cast would otherwise
        # corrupt the sorted integer dot product with NaN garbage)
        F.col("value").isNotNull()
    )
    return (
        ev.groupBy("event_type")
        .agg(
            n_rows(F.col("value")).alias("n"),
            gini_cents(F.col("value")).alias("gini"),
        )
        .orderBy("event_type")
    )


_TRANSITION_SQL = """
WITH ordered AS (
  SELECT user_id, event_type,
         lead(event_type) OVER (
           PARTITION BY user_id
           ORDER BY date_trunc('microseconds', ts), event_id) AS next_type
  FROM events
),
t AS (
  SELECT event_type AS from_type, next_type AS to_type,
         CAST(count(*) AS BIGINT) AS n_transitions
  FROM ordered WHERE next_type IS NOT NULL GROUP BY 1, 2
)
SELECT from_type, to_type, n_transitions,
  CAST(CAST(n_transitions AS BIGINT) * 1000000
       // sum(n_transitions) OVER (PARTITION BY from_type) AS BIGINT)
    AS share_ppm
FROM t ORDER BY from_type, to_type
"""


@query(oracle=_TRANSITION_SQL)
def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov transition matrix over per-user event sequences: for
    each (from_type, to_type) pair, how often to_type immediately
    follows from_type in a user's (ts, event_id)-ordered stream, plus
    the row-normalized transition share in exact integer ppm — the
    behavioral-analytics primitive behind next-action prediction and
    anomalous-flow detection.

    Plan: ONE lead() window per user (shuffle on user_id — the same
    key every sessionization query uses), then a grouped count over
    ~|types|² cells and a tiny window for the row shares. No
    self-join (the naive formulation joins events to events on
    adjacent ranks — twice the shuffles and a join for what lead()
    gives in place). Tie-break by event_id makes the sequence — and
    therefore every count — deterministic cross-engine.
    """
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "event_type"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    nxt = ev.withColumn("next_type", F.lead("event_type").over(w))
    cells = (
        nxt.filter(F.col("next_type").isNotNull())
        .groupBy(
            F.col("event_type").alias("from_type"),
            F.col("next_type").alias("to_type"),
        )
        .agg(F.count(F.lit(1)).alias("n_transitions"))
    )
    row = Window.partitionBy("from_type")
    return (
        cells.withColumn("row_sum", F.sum("n_transitions").over(row))
        .select(
            "from_type",
            "to_type",
            "n_transitions",
            F.expr(
                # decimal(38,0): a transition cell is O(corpus rows); cells *
                # 1e6 would wrap bigint near 9.2e12 rows
                "CAST(CAST(n_transitions AS DECIMAL(38,0)) * 1000000"
                " DIV row_sum AS BIGINT)"
            ).alias("share_ppm"),
        )
        .orderBy("from_type", "to_type")
    )


@query(
    oracle="""
WITH ordered AS (
  SELECT user_id, event_id, event_type,
    epoch_us(date_trunc('microseconds', ts)) AS us,
    last_value(CASE WHEN event_type = 'click'
                    THEN epoch_us(date_trunc('microseconds', ts)) END
               IGNORE NULLS) OVER (
      PARTITION BY user_id
      ORDER BY date_trunc('microseconds', ts), event_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS click_us,
    last_value(CASE WHEN event_type = 'click' THEN event_id END
               IGNORE NULLS) OVER (
      PARTITION BY user_id
      ORDER BY date_trunc('microseconds', ts), event_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS click_event_id
  FROM events
)
SELECT event_id AS purchase_event_id, user_id,
  CAST(coalesce(click_event_id, -1) AS BIGINT) AS click_event_id,
  CAST(coalesce(us - click_us, -1) AS BIGINT) AS gap_us
FROM ordered WHERE event_type = 'purchase'
ORDER BY purchase_event_id
"""
)
def attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LAST-TOUCH attribution: every purchase event attributed to the
    most recent PRECEDING click by the same user — the marketing-
    analytics as-of pattern, computed with ONE ignore-nulls window
    carry instead of an as-of self-join (which would shuffle events
    twice and range-join; the window rides the same user_id shuffle
    every sequence query uses).

    The two carried columns (click time, click event id) come from
    the same ordered frame, so they always describe the same click
    row. Gap is exact integer microseconds; purchases with no prior
    click emit (-1, -1) — the unattributable bucket a real report
    shows, not drops.
    """
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "event_type"
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    is_click = F.col("event_type") == "click"
    # events ts is TIMESTAMP_NTZ; session TZ is pinned UTC, so the
    # cast reinterprets without shifting — matching DuckDB's epoch_us
    # on the naive timestamp
    _us = F.unix_micros(F.col("ts").cast("timestamp"))
    carried = ev.withColumn(
        "click_us",
        F.last(F.when(is_click, _us), ignorenulls=True).over(w),
    ).withColumn(
        "click_event_id",
        F.last(F.when(is_click, F.col("event_id")), ignorenulls=True).over(w),
    )
    return (
        carried.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_event_id"),
            "user_id",
            F.coalesce("click_event_id", F.lit(-1)).alias("click_event_id"),
            F.coalesce(_us - F.col("click_us"), F.lit(-1)).alias("gap_us"),
        )
        .orderBy("purchase_event_id")
    )


@query(
    oracle="""
WITH g AS (
  SELECT event_type,
    epoch_us(date_trunc('microseconds', ts))
      - lag(epoch_us(date_trunc('microseconds', ts))) OVER (
          PARTITION BY user_id
          ORDER BY date_trunc('microseconds', ts), event_id) AS gap_us
  FROM events
)
SELECT event_type,
  CAST(CASE WHEN gap_us <= 0 THEN 0 ELSE length(bin(gap_us)) END AS INT)
    AS bucket,
  CAST(count(*) AS BIGINT) AS n_gaps,
  CAST(min(gap_us) AS BIGINT) AS min_gap_us,
  CAST(max(gap_us) AS BIGINT) AS max_gap_us
FROM g WHERE gap_us IS NOT NULL
GROUP BY 1, 2 ORDER BY event_type, bucket
"""
)
def interevent_gap_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log2-bucketed histogram of inter-event gaps per event type —
    the latency/burstiness profile behind session-gap tuning and bot
    detection. The bucket is floor(log2(gap_us)) + 1 computed as
    length(bin(gap_us)) — INTEGER bit-length, not libm log2 (whose
    last-ulp rounding differs across engines); zero/negative gaps
    (same-microsecond events) land in bucket 0 explicitly.

    One lag() window on the user_id shuffle + one small grouped agg;
    both engines agree on bin() for positive int64.
    """
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "event_type"
    )
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = (
        ev.withColumn("gap_us", us - F.lag(us).over(w))
        .filter(F.col("gap_us").isNotNull())
        .withColumn(
            "bucket",
            F.expr(
                "CASE WHEN gap_us <= 0 THEN 0"
                " ELSE length(bin(gap_us)) END"
            ).cast("int"),
        )
    )
    return (
        gaps.groupBy("event_type", "bucket")
        .agg(
            F.count(F.lit(1)).alias("n_gaps"),
            F.min("gap_us").alias("min_gap_us"),
            F.max("gap_us").alias("max_gap_us"),
        )
        .orderBy("event_type", "bucket")
    )


DRIFT_SPLIT_DATE = "1998-01-01"
DRIFT_BUCKET_CENTS = 2_000_000  # $20k price buckets
DRIFT_BUCKET_CAP = 20


@query(
    oracle=f"""
WITH cells AS (
  SELECT least(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) // {DRIFT_BUCKET_CENTS},
               {DRIFT_BUCKET_CAP}) AS bucket,
    CAST(sum(CASE WHEN o_orderdate < '{DRIFT_SPLIT_DATE}' THEN 1 ELSE 0 END) AS BIGINT)
      AS n_early,
    CAST(sum(CASE WHEN o_orderdate < '{DRIFT_SPLIT_DATE}' THEN 0 ELSE 1 END) AS BIGINT)
      AS n_late
  FROM orders GROUP BY 1
),
tot AS (
  SELECT CAST(sum(n_early) AS BIGINT) AS tot_early,
         CAST(sum(n_late) AS BIGINT) AS tot_late FROM cells
)
SELECT bucket, n_early, n_late,
  CAST((n_early * 1000000) // tot_early AS BIGINT) AS share_early_ppm,
  CAST((n_late * 1000000) // tot_late AS BIGINT) AS share_late_ppm,
  CAST(abs((n_early * 1000000) // tot_early
           - (n_late * 1000000) // tot_late) AS BIGINT) AS abs_diff_ppm
FROM cells CROSS JOIN tot
ORDER BY bucket
"""
)
def distribution_drift_l1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift monitor between two eras of the orders
    stream (the data-quality check behind 'did the upstream change
    under us'): bucket o_totalprice into capped $20k bins, compare
    the early (< DRIFT_SPLIT_DATE) and late era bucket SHARES in
    exact integer ppm, and report the per-bucket absolute share
    delta — the L1 building block of a PSI report, without PSI's
    libm log so the result is bit-portable.

    One scan, one conditional-count aggregation per bucket (map-side
    combined), shares from one tiny window over ~20 bucket rows —
    nothing reorders floats anywhere.
    """
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    bucket = F.least(
        F.expr(f"CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) DIV {DRIFT_BUCKET_CENTS}"),
        F.lit(DRIFT_BUCKET_CAP),
    )
    # explicit when/otherwise (NOT count_if(pred)/count_if(~pred)):
    # a NULL o_orderdate must land in the LATE era exactly like the
    # oracle's CASE ... ELSE — count_if skips null-predicate rows on
    # BOTH sides, silently dropping them from the distribution.
    early = F.col("o_orderdate") < DRIFT_SPLIT_DATE
    cells = orders.groupBy(bucket.alias("bucket")).agg(
        F.sum(F.when(early, 1).otherwise(0)).alias("n_early"),
        F.sum(F.when(early, 0).otherwise(1)).alias("n_late"),
    )
    tot = bounded_window("bucket")
    return (
        cells.withColumn("tot_early", F.sum("n_early").over(tot))
        .withColumn("tot_late", F.sum("n_late").over(tot))
        .select(
            "bucket",
            "n_early",
            "n_late",
            # decimal(38,0) on all era-share numerators: era counts are
            # O(corpus rows); * 1e6 wraps bigint near 9.2e12 rows
            F.expr(
                "CAST(CAST(n_early AS DECIMAL(38,0)) * 1000000"
                " DIV tot_early AS BIGINT)"
            ).alias(
                "share_early_ppm"
            ),
            F.expr(
                "CAST(CAST(n_late AS DECIMAL(38,0)) * 1000000"
                " DIV tot_late AS BIGINT)"
            ).alias(
                "share_late_ppm"
            ),
            F.expr(
                "CAST(abs(CAST(n_early AS DECIMAL(38,0)) * 1000000 DIV tot_early"
                " - CAST(n_late AS DECIMAL(38,0)) * 1000000 DIV tot_late)"
                " AS BIGINT)"
            ).alias("abs_diff_ppm"),
        )
        .orderBy("bucket")
    )


@query(
    oracle="""
WITH per_min AS (
  SELECT user_id, date_trunc('minute', ts) AS minute,
         CAST(count(*) AS BIGINT) AS n_min
  FROM events GROUP BY 1, 2
),
per_user AS (
  SELECT user_id,
         CAST(sum(n_min) AS BIGINT) AS n_events,
         CAST(max(n_min) AS BIGINT) AS peak_per_min,
         CAST(count(*) AS BIGINT) AS n_active_minutes
  FROM per_min GROUP BY user_id
)
SELECT user_id, n_events, peak_per_min, n_active_minutes,
  CAST((peak_per_min * 1000000) // n_events AS BIGINT) AS burst_ppm
FROM per_user
ORDER BY peak_per_min DESC, n_events DESC, user_id ASC LIMIT 20
"""
)
def user_burst_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burst detection: each user's PEAK events-per-minute vs their
    lifetime event count — the rate-limit / bot-flagging primitive.
    Two grouped aggregations (user×minute, then user), both map-side
    combined on the same user-keyed shuffle; top-20 bursty users via
    TakeOrderedAndProject with a full deterministic tie-break. The
    burst ratio is exact integer ppm of the user's events landing in
    their single busiest minute."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts")
    per_min = ev.groupBy(
        "user_id", F.date_trunc("minute", F.col("ts")).alias("minute")
    ).agg(F.count(F.lit(1)).alias("n_min"))
    per_user = per_min.groupBy("user_id").agg(
        F.sum("n_min").alias("n_events"),
        F.max("n_min").alias("peak_per_min"),
        F.count(F.lit(1)).alias("n_active_minutes"),
    )
    return (
        per_user.select(
            "user_id",
            "n_events",
            "peak_per_min",
            "n_active_minutes",
            F.expr(
                # decimal(38,0): peak_per_min is a count (adversarially
                # unbounded for a hot key); keep the ppm wrap-proof
                "CAST(CAST(peak_per_min AS DECIMAL(38,0)) * 1000000"
                " DIV n_events AS BIGINT)"
            ).alias("burst_ppm"),
        )
        .orderBy(
            F.desc("peak_per_min"), F.desc("n_events"), F.asc("user_id")
        )
        .limit(20)
    )


@query(
    oracle="""
WITH rev AS (
  SELECT n.n_name AS nation, s.s_suppkey,
    CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
      AS rev_cents
  FROM lineitem l
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  JOIN nation n ON s.s_nationkey = n.n_nationkey
  GROUP BY 1, 2
),
shares AS (
  SELECT nation,
    CAST((rev_cents * 1000000)
         // sum(rev_cents) OVER (PARTITION BY nation) AS BIGINT) AS share_ppm
  FROM rev
)
SELECT nation,
  CAST(count(*) AS BIGINT) AS n_suppliers,
  CAST(max(share_ppm) AS BIGINT) AS top_share_ppm,
  CAST(sum(share_ppm * share_ppm) // 1000000 AS BIGINT) AS hhi
FROM shares GROUP BY nation ORDER BY nation
"""
)
def hhi_supplier_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl-Hirschman concentration index of supplier revenue
    within each nation — the market-concentration complement of
    gini_value_concentration: per nation, each supplier's revenue
    share in integer ppm, HHI = sum(share_ppm²) DIV 1e6 (0..1e6
    scale; >2500-equivalent flags concentration). Revenue sums in
    exact cents (order-free integer addition), shares and HHI via
    integer division only — no float drift anywhere.

    Plan: one lineitem-supplier broadcast-dim join, one grouped sum
    per (nation, supplier), one window for nation totals, one final
    group — all on key shuffles with map-side combine.
    """
    from pyspark.sql import Window

    li = load_table(spark, sf_dir, "lineitem").select("l_suppkey", "l_extendedprice")
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    cents = F.expr("CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)")
    rev = (
        li.join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(F.col("n_name").alias("nation"), "s_suppkey")
        .agg(F.sum(cents).alias("rev_cents"))
    )
    w = Window.partitionBy("nation")
    shares = rev.withColumn("nation_cents", F.sum("rev_cents").over(w)).withColumn(
        "share_ppm",
        # decimal(38,0) multiply: nation-era cents exceed ~9.2e12 well
        # before 100 TB, where a bigint *1e6 numerator would wrap
        F.expr(
            "CAST(CAST(rev_cents AS DECIMAL(38,0)) * 1000000"
            " DIV nation_cents AS BIGINT)"
        ),
    )
    return (
        shares.groupBy("nation")
        .agg(
            F.count(F.lit(1)).alias("n_suppliers"),
            F.max("share_ppm").alias("top_share_ppm"),
            F.expr(
                "CAST(sum(share_ppm * share_ppm) DIV 1000000 AS BIGINT)"
            ).alias("hhi"),
        )
        .orderBy("nation")
    )


@query(
    oracle="""
WITH per_dow AS (
  SELECT CAST(date_part('dow', o_orderdate) + 1 AS INT) AS dow,
    CAST(count(*) AS BIGINT) AS n_orders,
    CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
      AS rev_cents
  FROM orders GROUP BY 1
),
tot AS (
  SELECT CAST(sum(n_orders) AS BIGINT) AS tot_orders,
         CAST(sum(rev_cents) AS BIGINT) AS tot_cents FROM per_dow
)
SELECT dow, n_orders, rev_cents,
  CAST((n_orders * 1000000) // tot_orders AS BIGINT) AS order_share_ppm,
  CAST((rev_cents * 1000000) // tot_cents - 1000000 // 7 AS BIGINT)
    AS rev_dev_ppm
FROM per_dow CROSS JOIN tot
ORDER BY dow
"""
)
def seasonality_dow_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar seasonality profile: order volume and revenue share
    by day-of-week, with each day's deviation from the uniform 1/7
    expectation in signed integer ppm — the demand-shape primitive
    behind staffing/capacity curves. dayofweek() is pinned via
    date_part('dow') semantics alignment: Spark's dayofweek() is
    1=Sunday..7=Saturday; DuckDB's dow is 0=Sunday..6 — the oracle
    adds 1 so both key identically. Revenue in exact cents, one scan
    + a 7-row window."""
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    cents = F.expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)")
    per_dow = orders.groupBy(
        F.dayofweek("o_orderdate").alias("dow")
    ).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(cents).alias("rev_cents"),
    )
    w = bounded_window("dow")
    return (
        per_dow.withColumn("tot_orders", F.sum("n_orders").over(w))
        .withColumn("tot_cents", F.sum("rev_cents").over(w))
        .select(
            "dow",
            "n_orders",
            "rev_cents",
            F.expr(
                "CAST(CAST(n_orders AS DECIMAL(38,0)) * 1000000"
                " DIV tot_orders AS BIGINT)"
            ).alias(
                "order_share_ppm"
            ),
            # decimal(38,0) multiply: global cents * 1e6 wraps bigint
            # far below the advertised 100 TB scale
            F.expr(
                "CAST(CAST(rev_cents AS DECIMAL(38,0)) * 1000000"
                " DIV tot_cents - 1000000 DIV 7 AS BIGINT)"
            ).alias("rev_dev_ppm"),
        )
        .orderBy("dow")
    )


@query(
    oracle="""
WITH marked AS (
  SELECT user_id, CAST(ts AS DATE) AS day,
         min(CAST(ts AS DATE)) OVER (PARTITION BY user_id) AS first_day
  FROM events
)
SELECT day,
  CAST(count(DISTINCT user_id) AS BIGINT) AS n_active,
  CAST(count(DISTINCT CASE WHEN day = first_day THEN user_id END) AS BIGINT)
    AS n_new,
  CAST(count(DISTINCT user_id)
       - count(DISTINCT CASE WHEN day = first_day THEN user_id END) AS BIGINT)
    AS n_returning
FROM marked GROUP BY day ORDER BY day
"""
)
def daily_new_vs_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Growth-analytics split of daily active users into NEW (first
    ever activity that day) vs RETURNING: per-user first-seen day via
    one min() window carried on the user shuffle, then a per-day
    distinct-user conditional count. The naive formulation joins
    events against a per-user firsts table — same answer, one extra
    shuffle and a join; the window form reuses the user partitioning.
    Counts are exact distincts per day (count_distinct with a
    conditional), deterministic by construction."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").select("user_id", "ts")
    day = F.to_date("ts")
    w = Window.partitionBy("user_id")
    marked = ev.select("user_id", day.alias("day")).withColumn(
        "first_day", F.min("day").over(w)
    )
    return (
        marked.groupBy("day")
        .agg(
            F.countDistinct("user_id").alias("n_active"),
            F.countDistinct(
                F.when(F.col("day") == F.col("first_day"), F.col("user_id"))
            ).alias("n_new"),
        )
        .select(
            "day",
            "n_active",
            "n_new",
            (F.col("n_active") - F.col("n_new")).alias("n_returning"),
        )
        .orderBy("day")
    )


RFM_REF_DATE = "2001-08-02"  # day after the fixture's max order date


@query(
    oracle=f"""
WITH per_cust AS (
  SELECT o_custkey,
    max(CAST(o_orderdate AS DATE)) AS last_day,
    CAST(count(*) AS BIGINT) AS n_orders,
    CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents
  FROM orders GROUP BY 1
),
scored AS (
  SELECT
    CASE WHEN date_diff('day', last_day, DATE '{RFM_REF_DATE}') <= 180 THEN 3
         WHEN date_diff('day', last_day, DATE '{RFM_REF_DATE}') <= 720 THEN 2
         ELSE 1 END AS r_score,
    CASE WHEN n_orders >= 20 THEN 3 WHEN n_orders >= 8 THEN 2 ELSE 1 END AS f_score,
    CASE WHEN cents >= 300000000 THEN 3 WHEN cents >= 100000000 THEN 2
         ELSE 1 END AS m_score,
    cents
  FROM per_cust
)
SELECT r_score, f_score, m_score,
  CAST(count(*) AS BIGINT) AS n_customers,
  CAST(sum(cents) AS BIGINT) AS segment_cents
FROM scored GROUP BY 1, 2, 3 ORDER BY 1, 2, 3
"""
)
def rfm_customer_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation — the classic customer-value grid: per
    customer, Recency (days since last order, from a FIXED reference
    date so the result is reproducible), Frequency (order count) and
    Monetary (lifetime cents), each banded by fixed thresholds into
    scores 1..3; output is the segment census with exact-cents value
    totals. Fixed bands, not quantile bands — a global ntile would
    serialize through one window partition, while fixed thresholds
    keep the whole query two map-side-combined aggregations (customer
    rollup -> segment census) on key shuffles.
    """
    orders = load_table(spark, sf_dir, "orders")
    cents = F.expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)")
    per_cust = orders.groupBy("o_custkey").agg(
        F.max(F.to_date("o_orderdate")).alias("last_day"),
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(cents).alias("cents"),
    )
    rec_days = F.datediff(F.lit(RFM_REF_DATE).cast("date"), F.col("last_day"))
    r = (
        F.when(rec_days <= 180, 3).when(rec_days <= 720, 2).otherwise(1)
    )
    f = (
        F.when(F.col("n_orders") >= 20, 3)
        .when(F.col("n_orders") >= 8, 2)
        .otherwise(1)
    )
    m = (
        F.when(F.col("cents") >= 300_000_000, 3)
        .when(F.col("cents") >= 100_000_000, 2)
        .otherwise(1)
    )
    return (
        per_cust.select(
            r.alias("r_score"), f.alias("f_score"), m.alias("m_score"), "cents"
        )
        .groupBy("r_score", "f_score", "m_score")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum("cents").alias("segment_cents"),
        )
        .orderBy("r_score", "f_score", "m_score")
    )


@query(
    oracle="""
WITH seq AS (
  SELECT event_type AS t1,
    lead(event_type, 1) OVER (PARTITION BY user_id
      ORDER BY date_trunc('microseconds', ts), event_id) AS t2,
    lead(event_type, 2) OVER (PARTITION BY user_id
      ORDER BY date_trunc('microseconds', ts), event_id) AS t3
  FROM events
)
SELECT t1, t2, t3, CAST(count(*) AS BIGINT) AS n_paths
FROM seq WHERE t2 IS NOT NULL AND t3 IS NOT NULL
GROUP BY 1, 2, 3
ORDER BY n_paths DESC, t1, t2, t3 LIMIT 20
"""
)
def top_event_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top 3-step behavioral paths: the most common (t1 -> t2 -> t3)
    event-type sequences across users — the second-order companion of
    event_transition_matrix (first-order adjacency can't distinguish
    view->click->purchase from view->click->view). Two lead() carries
    on the SAME user-keyed window (one shuffle, one window pass reused
    for both offsets), a grouped count over <= |types|³ cells, top-20
    via TakeOrderedAndProject with a full lexical tie-break."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "event_type"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("t1"),
        F.lead("event_type", 1).over(w).alias("t2"),
        F.lead("event_type", 2).over(w).alias("t3"),
    )
    return (
        seq.filter(F.col("t2").isNotNull() & F.col("t3").isNotNull())
        .groupBy("t1", "t2", "t3")
        .agg(F.count(F.lit(1)).alias("n_paths"))
        .orderBy(F.desc("n_paths"), "t1", "t2", "t3")
        .limit(20)
    )


@query(
    oracle="""
WITH per_cust AS (
  SELECT o_custkey,
    CAST(count(*) AS BIGINT) AS n_orders,
    min(CAST(o_orderdate AS DATE)) AS first_day,
    max(CAST(o_orderdate AS DATE)) AS last_day
  FROM orders GROUP BY 1
),
repeat AS (
  SELECT n_orders,
    CAST(date_diff('day', first_day, last_day) // (n_orders - 1) AS BIGINT)
      AS mean_gap_days
  FROM per_cust WHERE n_orders >= 2
)
SELECT CAST(least(mean_gap_days // 30, 12) AS INT) AS month_bucket,
  CAST(count(*) AS BIGINT) AS n_customers,
  CAST(min(mean_gap_days) AS BIGINT) AS min_gap,
  CAST(max(mean_gap_days) AS BIGINT) AS max_gap,
  CAST(sum(n_orders) AS BIGINT) AS n_orders_covered
FROM repeat GROUP BY 1 ORDER BY month_bucket
"""
)
def customer_order_cadence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Purchase-cadence census: per repeat customer, the mean days
    between consecutive orders (exact integer: date-span DIV gap
    count — identical to averaging the lag gaps, without computing
    them), bucketed into monthly bands. The span identity turns a
    per-customer lag window into a plain min/max/count aggregation —
    one map-side-combined shuffle, no window at all; the census agg
    is the second tiny shuffle."""
    orders = load_table(spark, sf_dir, "orders")
    per_cust = orders.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.min(F.to_date("o_orderdate")).alias("first_day"),
        F.max(F.to_date("o_orderdate")).alias("last_day"),
    )
    repeat = per_cust.filter(F.col("n_orders") >= 2).withColumn(
        "mean_gap_days",
        F.expr(
            "CAST(datediff(last_day, first_day) DIV (n_orders - 1) AS BIGINT)"
        ),
    )
    bucket = F.least(F.expr("CAST(mean_gap_days DIV 30 AS INT)"), F.lit(12))
    return (
        repeat.groupBy(bucket.alias("month_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.min("mean_gap_days").alias("min_gap"),
            F.max("mean_gap_days").alias("max_gap"),
            F.sum("n_orders").alias("n_orders_covered"),
        )
        .orderBy("month_bucket")
    )


@query(
    oracle="""
WITH cells AS (
  SELECT CAST(date_part('dow', ts) + 1 AS INT) AS dow,
         CAST(date_part('hour', ts) AS INT) AS hour,
         CAST(count(*) AS BIGINT) AS n_events,
         CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
  FROM events GROUP BY 1, 2
),
tot AS (SELECT CAST(sum(n_events) AS BIGINT) AS total FROM cells)
SELECT dow, hour, n_events, n_users,
  CAST((n_events * 1000000) // total AS BIGINT) AS share_ppm
FROM cells CROSS JOIN tot
ORDER BY dow, hour
"""
)
def activity_heatmap_dow_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekday × hour activity heatmap of the event stream (the
    capacity-planning grid): per (dow, hour) cell, event count,
    distinct users, and cell share of all events in exact integer
    ppm. One scan, one grouped agg over <= 168 cells, one tiny
    window for the total — dow keying pinned to Spark's 1=Sunday
    convention (DuckDB dow + 1, as in seasonality_dow_profile)."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    cells = ev.groupBy(
        F.dayofweek("ts").alias("dow"), F.hour("ts").alias("hour")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
    )
    w = bounded_window("dow")
    return (
        cells.withColumn("total", F.sum("n_events").over(w))
        .select(
            "dow",
            "hour",
            "n_events",
            "n_users",
            # decimal(38,0): dow-hour cells are O(corpus rows)
            F.expr(
                "CAST(CAST(n_events AS DECIMAL(38,0)) * 1000000"
                " DIV total AS BIGINT)"
            ).alias(
                "share_ppm"
            ),
        )
        .orderBy("dow", "hour")
    )


# --- pattern match --------------------------------------------------
STEP_GAP_SECONDS = 86400  # each step within a day of the next (testdata event cadence ~2/user/day)


@query(
    oracle=f"""
WITH ev AS (
  SELECT event_id, user_id, event_type,
         -- integer floor-division of microseconds: Spark's
         -- unix_timestamp() FLOORS to seconds, while CAST(epoch(..)
         -- AS BIGINT) would ROUND half-up — off by one on late-
         -- half-second events
         epoch_us(ts) // 1000000 AS sec
  FROM events
),
clicks AS (
  SELECT user_id, v_id, v_sec, c_id, c_sec FROM (
    SELECT c.user_id, v.event_id AS v_id, v.sec AS v_sec,
           c.event_id AS c_id, c.sec AS c_sec,
           row_number() OVER (
             PARTITION BY c.event_id ORDER BY v.sec DESC, v.event_id DESC
           ) AS rn
    FROM ev c JOIN ev v
      ON v.user_id = c.user_id
     AND v.sec <= c.sec AND c.sec - v.sec <= {STEP_GAP_SECONDS}
    WHERE c.event_type = 'click' AND v.event_type = 'view'
  ) WHERE rn = 1
),
chains AS (
  SELECT user_id, p_sec - v_sec AS span_sec FROM (
    SELECT c.user_id, c.v_sec, p.sec AS p_sec,
           row_number() OVER (
             PARTITION BY p.event_id ORDER BY c.c_sec DESC, c.c_id DESC
           ) AS rn
    FROM clicks c JOIN ev p
      ON p.user_id = c.user_id
     AND c.c_sec <= p.sec AND p.sec - c.c_sec <= {STEP_GAP_SECONDS}
    WHERE p.event_type = 'purchase'
  ) WHERE rn = 1
)
SELECT user_id,
       count(*) AS n_chains,
       CAST(sum(span_sec) AS BIGINT) AS sum_span_sec,
       max(span_sec) AS max_span_sec,
       {sql_hround(
           "CAST(sum(span_sec) AS DOUBLE) / CAST(count(*) AS DOUBLE)", 4
       )} AS avg_span_sec
FROM chains GROUP BY user_id ORDER BY user_id
"""
)
def pattern_match_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CEP sequence pattern over the event stream: every completed
    view -> click -> purchase chain where each step happens within
    STEP_GAP_SECONDS of the next, per user. Matching policy: each
    purchase anchors to its LATEST qualifying click, each click to
    its LATEST qualifying view (ties by event_id) — the relational
    decomposition of MATCH_RECOGNIZE's "last event per pattern
    variable" with AFTER MATCH overlap allowed. ``funnel_conversion``
    counts users passing first-occurrence stages; this counts every
    chain INSTANCE and measures spans.

    Plan: two chained banded joins (user equi-key + time band in the
    join condition), each followed by a keep-first window — per-key
    fan-out is bounded by events-per-user-per-gap-window, so both shuffles
    stay key-sized at 100 TB; no per-user collect, no cross product.
    Seconds are exact integer epoch differences; the mean span is the
    one double division at the end.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "event_type",
        F.unix_timestamp("ts").alias("sec"),
    )

    def typed(t: str, tag: str) -> DataFrame:
        # self-join lineage: every side gets its OWN user column name
        # (a shared `user_id` from one parent scan is ambiguous after
        # the join even with DataFrame-qualified references)
        return ev.filter(F.col("event_type") == t).select(
            F.col("event_id").alias(f"{tag}_id"),
            F.col("user_id").alias(f"{tag}_user"),
            F.col("sec").alias(f"{tag}_sec"),
        )

    v, c, p = typed("view", "v"), typed("click", "c"), typed("purchase", "p")
    vc = v.join(
        c,
        (F.col("v_user") == F.col("c_user"))
        & (F.col("v_sec") <= F.col("c_sec"))
        & (F.col("c_sec") - F.col("v_sec") <= STEP_GAP_SECONDS),
    )
    w_click = Window.partitionBy("c_id").orderBy(
        F.desc("v_sec"), F.desc("v_id")
    )
    clicks = (
        vc.withColumn("_rn", F.row_number().over(w_click))
        .filter(F.col("_rn") == 1)
        .select(
            F.col("c_user").alias("user_id"), "v_id", "v_sec", "c_id", "c_sec"
        )
    )
    cp = clicks.join(
        p,
        (F.col("user_id") == F.col("p_user"))
        & (F.col("c_sec") <= F.col("p_sec"))
        & (F.col("p_sec") - F.col("c_sec") <= STEP_GAP_SECONDS),
    )
    w_buy = Window.partitionBy("p_id").orderBy(F.desc("c_sec"), F.desc("c_id"))
    chains = (
        cp.withColumn("_rn", F.row_number().over(w_buy))
        .filter(F.col("_rn") == 1)
        .select(
            "user_id", (F.col("p_sec") - F.col("v_sec")).alias("span_sec")
        )
    )
    return (
        chains.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_chains"),
            F.sum("span_sec").alias("sum_span_sec"),
            F.max("span_sec").alias("max_span_sec"),
            hround(
                F.sum("span_sec").cast("double")
                / F.count(F.lit(1)).cast("double"),
                4,
            ).alias("avg_span_sec"),
        )
        .orderBy("user_id")
    )


# --- round-5 batch 6 -------------------------------------------------
MAU_WINDOW_DAYS = 7  # trailing activity window (inclusive of the day)


@query(
    oracle=f"""
WITH active AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
  FROM events WHERE ts IS NOT NULL
),
days AS (SELECT DISTINCT day FROM active),
targets AS (
  SELECT DISTINCT user_id, t.day
  FROM active,
    unnest(generate_series(day, day + {MAU_WINDOW_DAYS - 1},
                           INTERVAL 1 DAY)) AS g(d),
    LATERAL (SELECT CAST(g.d AS DATE) AS day) t
  WHERE t.day IN (SELECT day FROM days)
),
dau AS (SELECT day, count(*) AS dau FROM active GROUP BY day),
mau AS (SELECT day, count(*) AS active_7d FROM targets GROUP BY day)
SELECT day, dau, active_7d
FROM dau JOIN mau USING (day)
ORDER BY day
"""
)
def rolling_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT trailing-7-day active users per day (the WAU/MAU rollup)
    — the sliding COUNT DISTINCT that resists window functions,
    re-expressed as a linear explode: each (user, active day)
    contributes to the MAU_WINDOW_DAYS target days it keeps the user
    'active' for, then one distinct + one count per target day.
    Reported for every day that itself has activity.

    Scale shape: distinct (user, day) first (dedupe within day), a
    7x map-side fan-out, distinct (user, target), and a two-level
    count agg — every stage linear and hash-keyed; no window, no
    self-join, no approximate sketch. The day restriction is a
    semi-join against the observed-day set (equi, broadcast-able).
    """
    ev = load_wide(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    active = ev.select(
        "user_id", F.to_date("ts").alias("day")
    ).distinct()
    days = active.select("day").distinct()
    targets = (
        active.select(
            "user_id",
            F.explode(
                F.expr(
                    f"sequence(day, date_add(day, {MAU_WINDOW_DAYS - 1}),"
                    " interval 1 day)"
                )
            ).alias("day"),
        )
        .join(days, "day", "left_semi")
        .distinct()
    )
    dau = active.groupBy("day").agg(
        F.count(F.lit(1)).alias("dau")
    )
    mau = targets.groupBy("day").agg(
        F.count(F.lit(1)).alias("active_7d")
    )
    return (
        dau.join(mau, "day")
        .select("day", "dau", "active_7d")
        .orderBy("day")
    )


# --- round-5 batch 7 -------------------------------------------------
ABSENCE_WINDOW_SECONDS = 86_400  # purchase must follow the view within 1 day


@query(
    oracle=f"""
WITH ev AS (
  SELECT user_id, event_id, event_type,
    CAST(epoch_us(date_trunc('microseconds', ts)) AS BIGINT) AS us
  FROM events WHERE ts IS NOT NULL
),
views AS (
  SELECT user_id AS v_user, event_id AS view_id, us AS v_us
  FROM ev WHERE event_type = 'view'
),
purchases AS (
  SELECT user_id AS p_user, us AS p_us FROM ev
  WHERE event_type = 'purchase'
),
per_view AS (
  SELECT v_user, view_id,
    max(CASE WHEN p_us IS NOT NULL THEN 1 ELSE 0 END) AS converted
  FROM views LEFT JOIN purchases
    ON v_user = p_user AND p_us > v_us
   AND p_us <= v_us + CAST({ABSENCE_WINDOW_SECONDS} AS BIGINT) * 1000000
  GROUP BY 1, 2
)
SELECT v_user AS user_id,
  count(*) AS n_views,
  CAST(sum(CASE WHEN converted = 0 THEN 1 ELSE 0 END) AS BIGINT)
    AS n_abandoned,
  CAST(CAST(sum(CASE WHEN converted = 0 THEN 1 ELSE 0 END) AS HUGEINT)
       * 1000000 // count(*) AS BIGINT) AS abandon_ppm
FROM per_view GROUP BY v_user ORDER BY user_id
"""
)
def cep_absence_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Negative CEP pattern: views with NO purchase by the same user
    within the next day — the absence/timeout branch of the
    view->click->purchase chain pattern_match_funnel matches
    positively. Per user: views, abandoned views, abandonment ppm.

    Scale shape: Catalyst extracts the user equality as the join key
    of a LEFT join (the time band stays a post-filter), the
    unmatched-view census is one hash rollup — the relational
    MATCH_RECOGNIZE absence pattern with per-key fan-out bounded by
    events-per-user-per-day, never a nested loop.
    """
    ev = load_wide(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    views = ev.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("v_user"),
        F.col("event_id").alias("view_id"),
        us.alias("v_us"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        us.alias("p_us"),
    )
    matched = views.join(
        purchases,
        (F.col("v_user") == F.col("p_user"))
        & (F.col("p_us") > F.col("v_us"))
        & (F.col("p_us") <= F.col("v_us") + ABSENCE_WINDOW_SECONDS * 1_000_000),
        "left",
    )
    per_view = matched.groupBy("v_user", "view_id").agg(
        F.max(F.when(F.col("p_us").isNotNull(), 1).otherwise(0)).alias(
            "converted"
        )
    )
    return (
        per_view.groupBy(F.col("v_user").alias("user_id"))
        .agg(
            F.count(F.lit(1)).alias("n_views"),
            F.sum(
                F.when(F.col("converted") == 0, 1).otherwise(0)
            ).alias("n_abandoned"),
        )
        .select(
            "user_id",
            "n_views",
            "n_abandoned",
            F.expr(
                "CAST(CAST(n_abandoned AS DECIMAL(38,0)) * 1000000"
                " DIV n_views AS BIGINT)"
            ).alias("abandon_ppm"),
        )
        .orderBy("user_id")
    )


# -------------------------------------------- sequence regex funnel
_FUNNEL_RE = "V[CE]*P"

_FUNNEL_SQL = f"""
WITH seqs AS (
  SELECT user_id,
         string_agg(upper(substring(event_type, 1, 1)), ''
                    ORDER BY ts, event_id) AS seq
  FROM events
  WHERE user_id IS NOT NULL AND ts IS NOT NULL AND event_type IS NOT NULL
  GROUP BY user_id
)
SELECT user_id,
       CAST(length(seq) AS INT) AS seq_len,
       CAST(length(regexp_extract_all(seq, '{_FUNNEL_RE}'))
            AS INT) AS n_conversions,
       CAST(coalesce((SELECT max(length(m))
                      FROM unnest(regexp_extract_all(seq, '{_FUNNEL_RE}'))
                        AS u(m)), 0) AS INT) AS longest_run
FROM seqs
ORDER BY user_id
"""


@query(oracle=_FUNNEL_SQL)
def sequence_funnel_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATCH_RECOGNIZE-lite: regex pattern matching over per-user
    event-type sequences.

    Each user's history compresses to one char per event (C/E/P/S/V —
    the five event types have distinct initials), ordered by
    (ts, event_id); `V[CE]*P` then counts non-overlapping
    view->(click|error)*->purchase conversion runs, and the longest
    run length is the max over extracted matches. The pattern's match
    extent is UNIQUE at any start (the [CE]* run can only terminate at
    the literal P), so Java regex (Spark) and RE2 (DuckDB) agree
    bit-for-bit; a planted-sequence test pins the semantics.

    Scale: one hash shuffle on user_id builds the per-user string via
    grouped aggregation (sequence length = that user's activity, the
    same per-key bound every sessionization query in the engine
    carries); the regex runs JVM-side per row — no Python, no second
    shuffle. Output is one row per user with >=1 event.
    """
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(
            F.col("user_id").isNotNull()
            & F.col("ts").isNotNull()
            & F.col("event_type").isNotNull()
        )
        .select(
            "user_id",
            "ts",
            "event_id",
            F.expr("upper(substring(event_type, 1, 1))").alias("sym"),
        )
    )
    seqs = ev.groupBy("user_id").agg(
        F.expr(
            "array_join(transform(array_sort("
            "collect_list(struct(ts, event_id, sym))), x -> x.sym), '')"
        ).alias("seq")
    )
    return (
        seqs.select(
            "user_id",
            F.length("seq").alias("seq_len"),
            F.expr(f"regexp_count(seq, '{_FUNNEL_RE}')").alias(
                "n_conversions"
            ),
            F.expr(
                "coalesce(array_max(transform("
                f"regexp_extract_all(seq, '{_FUNNEL_RE}', 0),"
                " x -> length(x))), 0)"
            ).alias("longest_run"),
        )
        .orderBy("user_id")
    )
