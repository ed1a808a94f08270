"""Pattern-mining and trend analytics: market-basket co-occurrence,
graph degree distributions, and per-group linear regression — the
exploratory-analytics layer over the same star schema (reference has
no analog; its closest shape is the grouped metric rollup,
Python-pipeline/dataprocessing.py:85-94).

Scale notes:
- Co-occurrence pairs come from a PER-ORDER self-join: fan-out is
  C(order_size, 2), bounded by the largest basket (TPC-H: 7 lines),
  NOT by table size — the join stays linear in rows at 100 TB. A
  global item-pair join would be quadratic; keying by the basket id
  is what makes pairwise mining tractable.
- Degree distribution is two hash aggregations (distinct pairs, then
  histogram) — both shuffle on keys with high cardinality, no skew.
- Regression slopes use integer-exact accumulators (epoch-day x,
  cent y, x re-based to min-day so Sxy stays far from int64 range)
  and ONE double division at the end: bit-identical cross-engine,
  unlike float covariance accumulation which is order-sensitive.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from youtube_etl_automated_pipeline_spark.plans.registry import query
from youtube_etl_automated_pipeline_spark.sources import load_table


@query(
    oracle="""
WITH basket AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem)
SELECT a.l_suppkey AS s1, b.l_suppkey AS s2, count(*) AS n_orders
FROM basket a JOIN basket b
  ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
GROUP BY s1, s2
ORDER BY n_orders DESC, s1, s2
LIMIT 50
"""
)
def copurchase_supplier_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 supplier pairs by number of orders both appear in
    (pairwise frequent-itemset mining, basket = order).

    Plan: ONE shuffle builds the per-order distinct supplier set
    (collect_set), the unordered pairs are expanded JVM-side with
    nested array transforms (sort_array canonicalizes s1 < s2), and
    one more shuffle counts pairs — 2 exchanges total. The self-join
    formulation costs 3 (distinct + re-shuffle both join sides) and
    materializes the same pairs anyway. Fan-out per order is
    C(basket, 2), bounded by the largest basket (TPC-H: 7 lines), so
    the expansion is linear in table size at 100 TB."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    baskets = li.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_set("l_suppkey")).alias("supps")
    )
    # chained Generate instead of nested higher-order transforms (r08,
    # guide section 4.1 — HOFs are CodegenFallback): identical
    # (s1, s2) pairs, s1 precedes s2 in the sorted supplier array
    pairs = baskets.select(
        F.posexplode("supps").alias("i", "s1"), "supps"
    ).select(
        "s1",
        F.explode(F.expr("slice(supps, i + 2, size(supps))")).alias("s2"),
    )
    return (
        pairs.groupBy("s1", "s2")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .orderBy(F.desc("n_orders"), "s1", "s2")
        .limit(50)
    )


@query(
    oracle="""
WITH deg AS (
  SELECT o_custkey, count(*) AS degree FROM (
    SELECT DISTINCT o_custkey, l_suppkey
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
  ) GROUP BY o_custkey
)
SELECT least(degree - (degree % 10), 100) AS degree_bucket,
       count(*) AS n_customers,
       CAST(sum(degree) AS BIGINT) AS sum_degree
FROM deg
GROUP BY degree_bucket
ORDER BY degree_bucket
"""
)
def customer_degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree histogram of the customer->supplier trade graph: how
    many customers trade with exactly d distinct suppliers (d capped
    into coarse buckets so the output is stable across scale
    factors)."""
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    deg = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .select("o_custkey", "l_suppkey")
        .distinct()
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    bucket = F.least(F.col("degree") - (F.col("degree") % 10), F.lit(100))
    return (
        deg.groupBy(bucket.alias("degree_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum("degree").alias("sum_degree"),
        )
        .orderBy("degree_bucket")
    )


@query(
    oracle="""
WITH daily AS (
  SELECT o_orderpriority,
         date_diff('day', DATE '1990-01-01', o_orderdate) AS day,
         CAST(sum(CAST(round(o_totalprice * 100.0) AS BIGINT)) AS BIGINT) AS y
  FROM orders GROUP BY o_orderpriority, day
),
pts AS (
  SELECT o_orderpriority,
         CAST(day - (SELECT min(day) FROM daily) AS BIGINT) AS x, y
  FROM daily
),
acc AS (
  SELECT o_orderpriority, count(*) AS n,
         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x * y) AS BIGINT) AS sxy, CAST(sum(x * x) AS BIGINT) AS sxx
  FROM pts GROUP BY o_orderpriority
)
SELECT o_orderpriority AS priority, n AS n_days,
       CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE)
         AS slope_cents_per_day
FROM acc
ORDER BY priority
"""
)
def trend_daily_revenue_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Least-squares slope of daily revenue per order priority
    (cents/day): aggregate to (priority, day) points, then the
    closed-form slope from five integer sums. x is re-based to the
    global min epoch-day (keeps n*Sxy within int64 at large SF); y is
    exact integer cents. The only double op is the final division of
    two bigints — identical in any IEEE-754 engine."""
    orders = load_table(spark, sf_dir, "orders")
    daily = (
        orders.select(
            "o_orderpriority",
            F.datediff("o_orderdate", F.lit("1990-01-01")).alias("day"),
            F.round(F.col("o_totalprice") * 100.0).cast("long").alias("cents"),
        )
        .groupBy("o_orderpriority", "day")
        .agg(F.sum("cents").alias("y"))
    )
    min_day = daily.agg(F.min("day").alias("d0"))
    pts = daily.crossJoin(F.broadcast(min_day)).select(
        "o_orderpriority", (F.col("day") - F.col("d0")).cast("long").alias("x"), "y"
    )
    acc = pts.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    return acc.select(
        F.col("o_orderpriority").alias("priority"),
        F.col("n").alias("n_days"),
        (num.cast("double") / den.cast("double")).alias("slope_cents_per_day"),
    ).orderBy("priority")


LIFT_VOCAB_K = 32
LIFT_TOP = 50


@query(
    oracle=f"""
WITH tok AS (
  SELECT DISTINCT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS token
  FROM documents
),
dfc AS (SELECT token, CAST(count(*) AS BIGINT) AS df FROM tok GROUP BY token),
vocab AS (SELECT token, df FROM dfc ORDER BY df DESC, token ASC LIMIT {LIFT_VOCAB_K}),
vtok AS (SELECT t.doc_id, t.token FROM tok t JOIN vocab v USING (token)),
n_ab AS (
  SELECT x.token AS a, y.token AS b, CAST(count(*) AS BIGINT) AS n_ab
  FROM vtok x JOIN vtok y ON x.doc_id = y.doc_id AND x.token < y.token
  GROUP BY 1, 2
),
total AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents)
SELECT a AS token_a, b AS token_b, n_ab,
  va.df AS n_a, vb.df AS n_b,
  CAST((n_ab * n_docs * 1000000) // (va.df * vb.df) AS BIGINT) AS lift_ppm
FROM n_ab
JOIN vocab va ON va.token = a
JOIN vocab vb ON vb.token = b
CROSS JOIN total
ORDER BY lift_ppm DESC, token_a, token_b LIMIT {LIFT_TOP}
"""
)
def token_lift_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token co-occurrence association mining: lift of the top-vocab
    token pairs across documents — PMI's ratio without its log, so
    the score stays in exact integer ppm:
    lift_ppm = (n_ab · N · 1e6) DIV (n_a · n_b), where n_x counts
    documents containing x and N is the corpus size. lift > 1e6 ⇒
    the pair co-occurs more than independence predicts.

    Scale shape: the vocabulary is capped to the LIFT_VOCAB_K most
    frequent tokens (df desc, token asc — deterministic), so per-doc
    pair fan-out is bounded by C(K, 2) regardless of document size,
    and the vocabulary + its counts broadcast. Pair expansion is the
    same JVM-side array transform as copurchase_supplier_pairs (no
    self-join); corpus size rides a one-row broadcast cross join —
    nothing driver-side. Top-50 lands as TakeOrderedAndProject.
    """
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id",
        F.explode(
            F.expr(r"array_distinct(regexp_extract_all(lower(text), '[a-z]+', 0))")
        ).alias("token"),
    )
    dfc = tok.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    from youtube_etl_automated_pipeline_spark.operators.cache_registry import (
        memo_persist,
    )

    # vocab is K rows but THREE consumers broadcast it (the token
    # filter and both count sides) — unpersisted, each broadcast
    # build re-tokenized the whole corpus for the df census (r08)
    vocab = memo_persist(
        spark,
        ("lift_vocab", sf_dir),
        lambda: dfc.orderBy(F.desc("df"), F.asc("token")).limit(
            LIFT_VOCAB_K
        ),
    )
    vtok = tok.join(F.broadcast(vocab.select("token")), "token")
    baskets = vtok.groupBy("doc_id").agg(
        F.sort_array(F.collect_set("token")).alias("toks")
    )
    # pair fan-out via chained Generate (posexplode + explode of the
    # tail slice) instead of nested higher-order transforms: HOFs are
    # CodegenFallback (interpreted per element) and this expansion
    # evaluates ~C(K,2) per doc — the Generate form stays in
    # whole-stage codegen and emits the identical (a, b) pairs
    # (a precedes b in the sorted token array) (r08, guide section 4.1)
    pairs = baskets.select(
        F.posexplode("toks").alias("i", "a"), "toks"
    ).select(
        "a",
        F.explode(F.expr("slice(toks, i + 2, size(toks))")).alias("b"),
    )
    n_ab = pairs.groupBy("a", "b").agg(F.count(F.lit(1)).alias("n_ab"))
    ca = vocab.select(F.col("token").alias("a"), F.col("df").alias("n_a"))
    cb = vocab.select(F.col("token").alias("b"), F.col("df").alias("n_b"))
    total = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    return (
        n_ab.join(F.broadcast(ca), "a")
        .join(F.broadcast(cb), "b")
        .crossJoin(F.broadcast(total))
        .select(
            F.col("a").alias("token_a"),
            F.col("b").alias("token_b"),
            "n_ab",
            "n_a",
            "n_b",
            F.expr(
                # decimal(38,0) BOTH sides: n_ab*n_docs ~1e9*1e11 = 1e20
                # wraps int64 before the ppm scale even applies, and
                # the n_a*n_b denominator wraps the same way
                "CAST(CAST(n_ab AS DECIMAL(38,0)) * n_docs * 1000000"
                " DIV (CAST(n_a AS DECIMAL(38,0)) * n_b) AS BIGINT)"
            ).alias("lift_ppm"),
        )
        .orderBy(F.desc("lift_ppm"), "token_a", "token_b")
        .limit(LIFT_TOP)
    )


# --- round-5 batch 5 -------------------------------------------------
AR_MIN_SUPPORT = 5  # min co-basket count for a rule
AR_TOP = 50  # rules kept (by lift, deterministic tiebreak)


@query(
    oracle=f"""
WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
nb AS (SELECT count(DISTINCT l_orderkey) AS n_baskets FROM lineitem),
item_n AS (SELECT l_partkey, count(*) AS item_n FROM items GROUP BY 1),
pairs AS (
  SELECT a.l_partkey AS a, b.l_partkey AS b, count(*) AS pair_n
  FROM items a JOIN items b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING count(*) >= {AR_MIN_SUPPORT}
),
directed AS (
  SELECT a, b, pair_n FROM pairs
  UNION ALL
  SELECT b AS a, a AS b, pair_n FROM pairs
)
SELECT d.a AS antecedent, d.b AS consequent, d.pair_n AS support,
  CAST(CAST(d.pair_n AS HUGEINT) * 1000000 // na.item_n AS BIGINT)
    AS confidence_ppm,
  CAST(CAST(d.pair_n AS HUGEINT) * n_baskets * 1000000
       // (CAST(na.item_n AS HUGEINT) * nb2.item_n) AS BIGINT)
    AS lift_ppm
FROM directed d
JOIN item_n na ON na.l_partkey = d.a
JOIN item_n nb2 ON nb2.l_partkey = d.b
CROSS JOIN nb
ORDER BY lift_ppm DESC, antecedent, consequent
LIMIT {AR_TOP}
"""
)
def association_rules_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association-rule mining over order baskets (basket = order,
    item = part): for every directed rule A -> B with co-basket
    support >= AR_MIN_SUPPORT, confidence = P(B|A) and lift =
    P(A,B)/(P(A)P(B)) in exact ppm; top-AR_TOP rules by lift. The
    market-basket step AFTER pair counting (copurchase_supplier_pairs)
    — rules rank by conditional strength, not raw co-occurrence.

    Scale shape: one shuffle builds per-order distinct item sets,
    pairs expand JVM-side (C(basket,2), basket bounded by order line
    count), one shuffle counts pairs; item supports are one agg
    broadcast back (catalog-bounded). Directed rules double the pair
    rows AFTER aggregation — 2 x pair-census, never 2 x corpus. Lift
    multiplies through decimal(38,0) (pair_n·N·1e6 wraps bigint at
    fleet scale); TakeOrderedAndProject finishes.
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    baskets = li.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_set("l_partkey")).alias("parts")
    )
    n_baskets = baskets.select(
        F.count(F.lit(1)).alias("n_baskets")
    )
    from youtube_etl_automated_pipeline_spark.operators.cache_registry import (
        memo_persist,
    )

    # catalog-bounded, consumed by TWO broadcast builds (antecedent
    # and consequent sides) — each re-ran the distinct+count scan (r08)
    item_n = memo_persist(
        spark,
        ("ar_item_n", sf_dir),
        lambda: li.distinct()
        .groupBy("l_partkey")
        .agg(F.count(F.lit(1)).alias("item_n")),
    )
    # chained Generate instead of nested higher-order transforms: the
    # HOF fan-out is CodegenFallback (interpreted per element); the
    # posexplode + tail-slice explode emits the identical (a, b)
    # pairs inside whole-stage codegen (r08, guide section 4.1)
    pairs = (
        baskets.select(
            F.posexplode("parts").alias("i", "a"), "parts"
        )
        .select(
            "a",
            F.explode(
                F.expr("slice(parts, i + 2, size(parts))")
            ).alias("b"),
        )
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("pair_n"))
        .filter(F.col("pair_n") >= AR_MIN_SUPPORT)
    )
    # support-filtered pair census, consumed by BOTH direction arms —
    # unpersisted, the basket pair-expansion ran twice (r08)
    pairs_df = pairs
    pairs = memo_persist(
        spark, ("ar_pairs", sf_dir), lambda: pairs_df
    )
    directed = pairs.select("a", "b", "pair_n").unionAll(
        pairs.select(
            F.col("b").alias("a"), F.col("a").alias("b"), "pair_n"
        )
    )
    return (
        directed.join(
            F.broadcast(item_n.withColumnRenamed("l_partkey", "a")
                        .withColumnRenamed("item_n", "n_a")),
            "a",
        )
        .join(
            F.broadcast(item_n.withColumnRenamed("l_partkey", "b")
                        .withColumnRenamed("item_n", "n_b")),
            "b",
        )
        .crossJoin(F.broadcast(n_baskets))
        .select(
            F.col("a").alias("antecedent"),
            F.col("b").alias("consequent"),
            F.col("pair_n").alias("support"),
            F.expr(
                "CAST(CAST(pair_n AS DECIMAL(38,0)) * 1000000"
                " DIV n_a AS BIGINT)"
            ).alias("confidence_ppm"),
            F.expr(
                "CAST(CAST(pair_n AS DECIMAL(38,0)) * n_baskets * 1000000"
                " DIV (CAST(n_a AS DECIMAL(38,0)) * n_b) AS BIGINT)"
            ).alias("lift_ppm"),
        )
        .orderBy(
            F.desc("lift_ppm"), "antecedent", "consequent"
        )
        .limit(AR_TOP)
    )
