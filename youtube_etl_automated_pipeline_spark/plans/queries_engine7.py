"""Round-8 engine extensions.

- ``exact_quantiles_multi`` — EXACT p25/p50/p75/p95 per group in the
  same range-independent histogram-refinement machinery as
  ``exact_median_two_pass`` (queries_engine6), with ALL ranks sharing
  ONE pass-1 histogram: the rank relation (group, q, r) joins the
  cumulative bucket table once, the refinement round re-buckets only
  the union of picked buckets, and the final ranking pass serves every
  quantile from the same row_number. Marginal cost of each extra
  quantile is one more row in a 100-row rank relation — not a scan.

- ``heavy_hitters_exact_twopass`` — EXACT heavy hitters (count*K >
  total) via the Misra-Gries two-pass: pass 1 is a bounded-memory
  per-partition MG summary (mapInPandas, O(K) counters per partition
  regardless of distinct keys) whose union is a guaranteed SUPERSET of
  every global heavy hitter; pass 2 exactly counts ONLY the candidate
  keys (semi-join) and applies the threshold. The deterministic exact
  counterpart of the CMS sketch family — same answer as a full
  groupBy, but the wide aggregation only ever runs over candidates.

- ``kneser_ney_bigrams`` — interpolated Kneser-Ney bigram smoothing
  over the document corpus in EXACT integer ppm: discount d = 3/4 is
  rational, so p_KN(b|a) = max(c(ab)-d,0)/c(a) + d*N1+(a.)/c(a) *
  N1+(.b)/T rewrites to [max(4*c(ab)-3,0)*T + 3*N1+(a.)*N1+(.b)] *
  1e6 DIV (4*c(a)*T) — bigint-exact in both engines. The LM-smoothing
  statistic an n-gram data pipeline publishes; all counts are
  aggregation passes over the tokenized corpus.

- ``scd2_point_in_time_join`` — the point-in-time (temporal) join:
  each order is enriched with the SCD2 priority-interval row that was
  valid at its order date. Implemented as-of style: intervals and
  probes are tagged and UNIONED, one window per customer carries the
  last-opened interval forward, and a validity filter applies the
  interval's close — zero range join, zero BNL; the oracle states the
  same semantics as the naive BETWEEN join.

- ``streaming_transition_matrix`` — the event-transition census
  (batch twin: event_transition_matrix) maintained through REAL
  streaming state: a TWS ValueState remembers each user's last
  (ts, event_id, event_type); per batch the user's rows are sorted by
  (ts, event_id), the boundary transition from state is stitched on,
  and per-batch (from, to) deltas are emitted — the final rollup sums
  deltas. Restart-safe by construction (state carries the boundary);
  shares the batch twin's oracle.

Scale postures per query below; nothing collects an unbounded
relation (the MG candidate union is partitions x K rows by
construction; the quantile pick tables are groups x |qs|).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from youtube_etl_automated_pipeline_spark.sources import load_table, load_wide

QUERIES_ENGINE7: dict = {}
ORACLES_ENGINE7: dict = {}

# ------------------------------------------------ multi-rank quantiles
QUANTILES_PCT = (25, 50, 75, 95)


def group_quantiles_exact(
    rows: DataFrame,
    value_col: str,
    qs=QUANTILES_PCT,
    memo_key: tuple | None = None,
) -> DataFrame:
    """(c_nationkey, q, n, val) — the exact lower q-th percentile
    (rank r = max(ceil(n*q/100), 1)) per group, every rank served by
    ONE shared pass-1 histogram + one shared refinement round. See
    module docstring; reuses engine6's range-independent bucketing."""
    from youtube_etl_automated_pipeline_spark.plans.queries_engine6 import (
        MED_BUCKETS,
        _median_base,
        _median_hist,
    )

    B = MED_BUCKETS
    base, stats = _median_base(rows, value_col, B, memo_key=memo_key)
    ranks = stats.select(
        "c_nationkey",
        "n",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(q).cast("int").alias("q"),
                        F.expr(
                            f"greatest(CAST((n * {q} + 99) DIV 100 AS"
                            " BIGINT), 1)"
                        ).alias("r"),
                    )
                    for q in qs
                ]
            )
        ).alias("qr"),
    ).select("c_nationkey", "n", F.col("qr.q").alias("q"), F.col("qr.r").alias("r"))

    w1 = Window.partitionBy("c_nationkey").orderBy("b1")
    cum1 = _median_hist(base, "b1").select(
        "c_nationkey",
        "b1",
        (F.sum("cnt").over(w1) - F.col("cnt")).alias("below"),
        F.sum("cnt").over(w1).alias("cum"),
    )
    pick1 = (
        cum1.join(ranks, "c_nationkey")
        .filter((F.col("below") < F.col("r")) & (F.col("r") <= F.col("cum")))
        .select(
            "c_nationkey", "q", "b1", (F.col("r") - F.col("below")).alias("off1")
        )
    )
    if memo_key is not None:
        from youtube_etl_automated_pipeline_spark.operators.cache_registry import (
            memo_persist,
        )

        pick1_df = pick1
        pick1 = memo_persist(
            rows.sparkSession, (*memo_key, "q_pick1"), lambda: pick1_df
        )
    # refinement over the UNION of picked buckets (<= groups x |qs|)
    need1 = pick1.select("c_nationkey", "b1").distinct()
    ref = base.join(F.broadcast(need1), ["c_nationkey", "b1"]).withColumn(
        "b2", F.expr(f"((v - lo) * {B} - b1 * span) * {B} div span")
    )
    if memo_key is not None:
        ref_df = ref
        ref = memo_persist(
            rows.sparkSession, (*memo_key, "q_ref"), lambda: ref_df
        )
    w2 = Window.partitionBy("c_nationkey", "b1").orderBy("b2")
    cum2 = (
        ref.groupBy("c_nationkey", "b1", "b2")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            "c_nationkey",
            "b1",
            "b2",
            (F.sum("cnt").over(w2) - F.col("cnt")).alias("below2"),
            F.sum("cnt").over(w2).alias("cum2"),
        )
    )
    pick2 = (
        cum2.join(pick1, ["c_nationkey", "b1"])
        .filter(
            (F.col("below2") < F.col("off1")) & (F.col("off1") <= F.col("cum2"))
        )
        .select(
            "c_nationkey",
            "q",
            "b1",
            "b2",
            (F.col("off1") - F.col("below2")).alias("off2"),
        )
    )
    wv = Window.partitionBy("c_nationkey", "b1", "b2").orderBy("v")
    ranked = ref.withColumn("rn", F.row_number().over(wv))
    return (
        ranked.join(F.broadcast(pick2), ["c_nationkey", "b1", "b2"])
        .filter(F.col("rn") == F.col("off2"))
        .select("c_nationkey", "q", "n", F.col("v").alias("val"))
    )


def exact_quantiles_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT per-nation p25/p50/p75/p95 of the order value WITHOUT a
    global sort — the multi-rank generalization of
    exact_median_two_pass. One shared histogram locates ALL four
    ranks; one shared refinement re-buckets only the (<= groups x 4)
    picked buckets; one shared ranking pass serves all of them. The
    bucket relations stay groups x MED_BUCKETS (range-invariant) and
    every pass is map-side combinable: this is how a 100 TB engine
    answers "give me the whole quantile banner per group, exactly"
    for the same cost as one median.

    Output: nation_name, n_orders, p25/p50/p75/p95 cents columns."""
    from youtube_etl_automated_pipeline_spark.functions.compat import units

    cust = load_wide(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_nationkey"
    )
    nat = load_wide(spark, sf_dir, "nation").select(
        "n_nationkey", F.col("n_name").alias("nation_name")
    )
    orders = (
        load_wide(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice").isNotNull())
        .select("o_custkey", units(F.col("o_totalprice"), 2).alias("cents"))
        .join(F.broadcast(cust), "o_custkey")
        .select("c_nationkey", "cents")
    )
    hits = group_quantiles_exact(
        orders, "cents", memo_key=("exact_quantiles", sf_dir)
    )
    banner = hits.groupBy("c_nationkey").agg(
        F.max("n").cast("bigint").alias("n_orders"),
        *[
            F.max(F.when(F.col("q") == q, F.col("val")))
            .cast("bigint")
            .alias(f"p{q}_cents")
            for q in QUANTILES_PCT
        ],
    )
    return (
        banner.join(F.broadcast(nat), banner.c_nationkey == nat.n_nationkey)
        .select(
            "nation_name",
            "n_orders",
            *[f"p{q}_cents" for q in QUANTILES_PCT],
        )
        .orderBy("nation_name")
    )


QUERIES_ENGINE7["exact_quantiles_multi"] = exact_quantiles_multi

ORACLES_ENGINE7["exact_quantiles_multi"] = """
WITH o AS (
  SELECT c.c_nationkey,
    CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents
  FROM orders JOIN customer c ON c.c_custkey = o_custkey
  WHERE o_totalprice IS NOT NULL
),
ranked AS (
  SELECT c_nationkey, cents,
    row_number() OVER (PARTITION BY c_nationkey ORDER BY cents) AS rn,
    count(*) OVER (PARTITION BY c_nationkey) AS n
  FROM o
),
qs(q) AS (VALUES (25), (50), (75), (95)),
hit AS (
  SELECT c_nationkey, n, qs.q, cents
  FROM ranked, qs
  WHERE rn = greatest((n * qs.q + 99) // 100, 1)
)
SELECT nn.n_name AS nation_name,
  CAST(max(n) AS BIGINT) AS n_orders,
  CAST(max(CASE WHEN q = 25 THEN cents END) AS BIGINT) AS p25_cents,
  CAST(max(CASE WHEN q = 50 THEN cents END) AS BIGINT) AS p50_cents,
  CAST(max(CASE WHEN q = 75 THEN cents END) AS BIGINT) AS p75_cents,
  CAST(max(CASE WHEN q = 95 THEN cents END) AS BIGINT) AS p95_cents
FROM hit JOIN nation nn ON nn.n_nationkey = hit.c_nationkey
GROUP BY nation_name
ORDER BY nation_name
"""

# -------------------------------------------- exact heavy hitters
MG_CAPACITY = 2000  # Misra-Gries counters per partition (bounded memory)
HH_FACTOR = 1000  # heavy = count * HH_FACTOR > corpus total


def heavy_hitters_exact_twopass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT heavy suppliers of the lineitem fact (count * 1000 >
    total rows) via the Misra-Gries two-pass.

    Pass 1 (bounded memory, no shuffle): each partition folds its rows
    through an MG summary of MG_CAPACITY counters — a batch merge adds
    the batch's counts then subtracts the (capacity+1)-th largest
    count from everything and drops non-positives (the mergeable-
    summaries formulation), so per-partition error < n_p/(capacity+1)
    and the UNION of partition summaries provably retains every key
    with global count > n/(capacity+1). With the threshold at
    n/HH_FACTOR and capacity = 2*HH_FACTOR, no true heavy hitter can
    be pruned (n/1000 > n/2001) — pinned by a planted-skew test with
    25x more distinct keys than counters.

    Pass 2: exact counts for CANDIDATE keys only (left-semi join), the
    1-row corpus total broadcast (bounded BNL, allowlisted), threshold
    filter. At 100 TB the wide aggregation never runs over the full
    key space — only over (partitions x capacity) candidates — and
    pass 1 is a pure map pass. The deterministic exact counterpart of
    cms_heavy_hitters (sketch) / streaming_cms_heavy_hitters (state).

    NULL keys are dropped explicitly in BOTH engines (a null is not a
    key; the semi-join would drop it silently on one side otherwise).

    Output: l_suppkey, n_rows, share_ppm."""
    import pandas as pd

    from youtube_etl_automated_pipeline_spark.sources import widen_scan

    li = widen_scan(
        load_table(spark, sf_dir, "lineitem").filter(
            F.col("l_suppkey").isNotNull()
        )
    ).select("l_suppkey")
    cap = MG_CAPACITY

    def mg_kernel(batches):
        counters: dict[int, int] = {}
        for pdf in batches:
            if not len(pdf):
                continue
            for k, c in pdf["l_suppkey"].value_counts().items():
                counters[int(k)] = counters.get(int(k), 0) + int(c)
            if len(counters) > cap:
                # batched MG decrement: subtract the (cap+1)-th largest
                # count, keep strictly-positive survivors (<= cap keys)
                cut = sorted(counters.values(), reverse=True)[cap]
                counters = {
                    k: v - cut for k, v in counters.items() if v > cut
                }
        yield pd.DataFrame({"l_suppkey": sorted(counters)})

    cand = li.mapInPandas(mg_kernel, "l_suppkey bigint").distinct()
    total = li.agg(F.count(F.lit(1)).alias("n_total"))
    exact = (
        li.join(cand, "l_suppkey", "left_semi")
        .groupBy("l_suppkey")
        .agg(F.count(F.lit(1)).alias("n_rows"))
    )
    return (
        exact.crossJoin(F.broadcast(total))
        .filter(F.col("n_rows") * HH_FACTOR > F.col("n_total"))
        .select(
            "l_suppkey",
            F.col("n_rows").cast("bigint").alias("n_rows"),
            F.expr("CAST(n_rows * 1000000 DIV n_total AS BIGINT)").alias(
                "share_ppm"
            ),
        )
        .orderBy(F.desc("n_rows"), "l_suppkey")
    )


QUERIES_ENGINE7["heavy_hitters_exact_twopass"] = heavy_hitters_exact_twopass

ORACLES_ENGINE7["heavy_hitters_exact_twopass"] = f"""
WITH t AS (SELECT count(*) AS n FROM lineitem WHERE l_suppkey IS NOT NULL)
SELECT l_suppkey,
  CAST(count(*) AS BIGINT) AS n_rows,
  CAST(count(*) * 1000000 // (SELECT n FROM t) AS BIGINT) AS share_ppm
FROM lineitem
WHERE l_suppkey IS NOT NULL
GROUP BY l_suppkey
HAVING count(*) * {HH_FACTOR} > (SELECT n FROM t)
ORDER BY n_rows DESC, l_suppkey
"""

# --------------------------------------------- Kneser-Ney smoothing
KN_TOP = 200  # published rows: top bigrams by count (total order)


def kneser_ney_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram probabilities over the document
    corpus, EXACT in integer ppm — the LM-smoothing statistic an
    n-gram pipeline publishes next to its raw counts.

    With the discount pinned to the rational d = 3/4, the textbook
    p_KN(b|a) = max(c(ab)-d, 0)/c(a.) + (d*N1+(a.)/c(a.)) * N1+(.b)/T
    rewrites over a common denominator to
      [max(4*c(ab)-3, 0)*T + 3*N1+(a.)*N1+(.b)] * 1e6 DIV (4*c(a.)*T)
    — every factor integer, so both engines walk identical arithmetic
    (decimal(38,0) / HUGEINT headroom for the ppm multiply).

    Plan: ONE bigram census c(ab) (explode + keyed count) is the only
    corpus-sized aggregation; c(a.) and N1+(a.) ride a partitioned
    window over the census keyed by a, N1+(.b) a second window keyed
    by b, and the 1-row type total T broadcasts (bounded BNL,
    allowlisted). Top-KN_TOP by count with a total tie-break order —
    TakeOrdered, never a full sort. At 100 TB the census IS the
    bottleneck by construction; everything after it is
    census-relation-sized.

    Output: from_tok, to_tok, n_ab, p_kn_ppm."""
    from youtube_etl_automated_pipeline_spark.ext.textstats import (
        normalized_text,
        tokens,
    )

    docs = load_wide(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull() & (F.trim("text") != "")
    )
    toks = tokens(normalized_text(F.col("text")))
    pairs = F.expr(
        "CASE WHEN size(_toks) >= 2 THEN transform("
        "sequence(1, size(_toks) - 1),"
        " i -> struct(_toks[i - 1] AS a, _toks[i] AS b))"
        " ELSE array() END"
    )
    big = (
        docs.select(toks.alias("_toks"))
        .select(F.explode(pairs).alias("p"))
        .select("p.a", "p.b")
    )
    cab = big.groupBy("a", "b").agg(F.count(F.lit(1)).alias("n_ab"))
    w_a = Window.partitionBy("a")
    w_b = Window.partitionBy("b")
    enr = (
        cab.withColumn("c_a", F.sum("n_ab").over(w_a))
        .withColumn("n1_a", F.count(F.lit(1)).over(w_a))
        .withColumn("n1_b", F.count(F.lit(1)).over(w_b))
    )
    tot = cab.agg(F.count(F.lit(1)).alias("t_types"))
    return (
        enr.crossJoin(F.broadcast(tot))
        .select(
            F.col("a").alias("from_tok"),
            F.col("b").alias("to_tok"),
            F.col("n_ab").cast("bigint").alias("n_ab"),
            F.expr(
                "CAST((CAST(greatest(4 * n_ab - 3, 0) AS DECIMAL(38,0))"
                " * t_types + CAST(3 AS DECIMAL(38,0)) * n1_a * n1_b)"
                " * 1000000 DIV (CAST(4 AS DECIMAL(38,0)) * c_a * t_types)"
                " AS BIGINT)"
            ).alias("p_kn_ppm"),
        )
        .orderBy(F.desc("n_ab"), "from_tok", "to_tok")
        .limit(KN_TOP)
    )


QUERIES_ENGINE7["kneser_ney_bigrams"] = kneser_ney_bigrams


def _kn_oracle() -> str:
    from youtube_etl_automated_pipeline_spark.plans.oracles_ext import (
        WS_CLASS,
    )

    return f"""
WITH d AS (
  SELECT string_split_regex(
           lower(regexp_replace(trim(text), '{WS_CLASS}+', ' ', 'g')),
           '{WS_CLASS}+') AS toks
  FROM documents
  WHERE text IS NOT NULL AND trim(text) <> ''
),
big AS (
  SELECT toks[g.i] AS a, toks[g.i + 1] AS b
  FROM d, unnest(generate_series(1, len(toks) - 1)) AS g(i)
  WHERE len(toks) >= 2
),
cab AS (
  SELECT a, b, CAST(count(*) AS BIGINT) AS n_ab FROM big GROUP BY a, b
),
enr AS (
  SELECT a, b, n_ab,
    sum(n_ab) OVER (PARTITION BY a) AS c_a,
    count(*) OVER (PARTITION BY a) AS n1_a,
    count(*) OVER (PARTITION BY b) AS n1_b
  FROM cab
),
t AS (SELECT CAST(count(*) AS HUGEINT) AS t_types FROM cab)
SELECT a AS from_tok, b AS to_tok, n_ab,
  CAST((CAST(greatest(4 * n_ab - 3, 0) AS HUGEINT) * t_types
        + CAST(3 AS HUGEINT) * n1_a * n1_b) * 1000000
       // (CAST(4 AS HUGEINT) * c_a * t_types) AS BIGINT) AS p_kn_ppm
FROM enr, t
ORDER BY n_ab DESC, from_tok, to_tok
LIMIT {KN_TOP}
"""


ORACLES_ENGINE7["kneser_ney_bigrams"] = _kn_oracle()

# --------------------------------------- SCD2 point-in-time join
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


QUERIES_ENGINE7["scd2_point_in_time_join"] = scd2_point_in_time_join

ORACLES_ENGINE7["scd2_point_in_time_join"] = """
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

# ------------------------------------------ streaming transitions
def streaming_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The event-transition census (batch twin:
    event_transition_matrix) maintained through REAL streaming state:
    a TWS ValueState remembers each user's last (ts, event_id,
    event_type); each micro-batch sorts the user's arrivals by
    (ts, event_id), stitches the boundary transition from state onto
    the front, and emits (from_type, to_type, delta) rows. The final
    rollup sums deltas and derives the row-share ppm exactly like the
    batch twin — whose oracle this query shares verbatim.

    Restart-safe by construction: the boundary lives in state, so ANY
    batch split of the source sums to the one-shot census
    (tests/test_streaming.py pins a 2-batch split == one-shot run).
    State is ONE row per user (O(users), watermark-free); deltas are
    |types|^2-bounded per user per batch. The null-key quarantine and
    the in-state null-type encoding are the round-8 TWS contracts."""
    from youtube_etl_automated_pipeline_spark.streaming.incremental import (
        read_events_stream,
        run_stream_to_memory,
    )
    from youtube_etl_automated_pipeline_spark.streaming.stateful import (
        tws_transition_deltas,
    )

    deltas = run_stream_to_memory(
        tws_transition_deltas(read_events_stream(spark, sf_dir)),
        "tws_transitions",
        output_mode="update",
        skip_nodata=True,
    )
    cells = deltas.groupBy("from_type", "to_type").agg(
        F.sum("n").cast("bigint").alias("n_transitions")
    )
    row = Window.partitionBy("from_type")
    return (
        cells.withColumn("row_sum", F.sum("n_transitions").over(row))
        .select(
            "from_type",
            "to_type",
            "n_transitions",
            F.expr(
                "CAST(CAST(n_transitions AS DECIMAL(38,0)) * 1000000"
                " DIV row_sum AS BIGINT)"
            ).alias("share_ppm"),
        )
        .orderBy("from_type", "to_type")
    )


QUERIES_ENGINE7["streaming_transition_matrix"] = streaming_transition_matrix


def _transition_oracle() -> str:
    from youtube_etl_automated_pipeline_spark.plans.queries_analytics import (
        ORACLES_ANALYTICS,
    )

    # the streamed census shares the batch twin's oracle verbatim:
    # deltas are additive, so a fully-consumed availableNow run equals
    # the batch lead() census bit-for-bit
    return ORACLES_ANALYTICS["event_transition_matrix"]


ORACLES_ENGINE7["streaming_transition_matrix"] = _transition_oracle()
