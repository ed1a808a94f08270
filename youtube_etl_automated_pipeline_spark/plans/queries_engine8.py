"""Round-8 engine extensions, batch 2.

Extension surface beyond the reference's own operator inventory (the
reference pipeline, ``/root/reference``, stops at grouped rollups and
merges); these add the robust-statistics / sequence-pattern / data-
pruning classes a production analytics engine ships, each with a
DuckDB oracle and the house integer-exactness discipline.

- ``theil_sen_trend`` — robust trend per nation over the WEEKLY
  revenue series: Theil-Sen median slope (lower median of all
  pairwise slopes, quantized to integer micro-cents-per-week) and the
  Mann-Kendall S statistic / tau (pure sign arithmetic, exact). The
  pair expansion runs on the CALENDAR-BOUNDED weekly rollup (weeks^2
  per nation, independent of row count), never on the corpus.

- ``sequence_funnel_regex`` — MATCH_RECOGNIZE-lite: each user's
  event-type history becomes a compact symbol string (one char per
  event, (ts, event_id)-ordered) and a regex counts non-overlapping
  view->(click|error)*->purchase conversion runs. The pattern has a
  unique match extent at any start position (the [CE]* run can only
  end at the literal P), so Java-regex and RE2 agree exactly.

- ``changepoint_variance_split`` — offline change-point detection:
  the single split of each nation's weekly revenue series maximizing
  the between-segment variance reduction S_l^2/n_l + S_r^2/n_r.
  Exact integer argmax: the series is calendar-bounded, so a grouped
  applyInPandas kernel scans each nation's series once with
  unbounded-int Python arithmetic; the oracle replays it in HUGEINT.

- ``coreset_kcenter_sample`` — k-center greedy coreset selection
  (the classic data-pruning / active-learning picker): K=8 farthest-
  point rounds over micro-unit-quantized embeddings; each round ONE
  scan folds min-distance-so-far against the newly chosen center and
  argmax picks the next (ties -> min vec_id). Oracle = 8 unrolled
  MATERIALIZED CTEs.

- ``hmm_viterbi_decode`` — Viterbi decoding of a fixed 3-state HMM
  over each user's event-type sequence in integer micro-nat costs:
  the dynamic-programming class (state depends on previous state) no
  window function expresses. Grouped applyInPandas forward pass +
  backtrack per user; the oracle is a forward recursive CTE storing
  backpointers and a second backward recursive CTE replaying them.

- ``streaming_ewma_user_value`` — the ewma_user_value recursion
  through REAL transformWithStateInPandas state: state = (ewma
  cents, n_events); each micro-batch folds its arrivals in order
  starting from state. Any order-respecting batch split replays the
  identical integer recursion, so stream == batch == oracle (NULL
  user_id excluded on both sides — no identity, no recursion).

Batch 3 (same file):

- ``weighted_median_two_pass`` — exact WEIGHT-rank median (quantity-
  weighted median unit price) via the range-independent histogram
  refinement generalized from row ranks to weight ranks; degrades to
  the unweighted lower median when every weight is 1.

- ``holt_linear_backtest`` — Holt's linear (double exponential)
  smoothing per nation in truncating integer arithmetic (signed
  trend state, trunc-vs-floor pinned), with a one-step-ahead
  backtest MAE and next-week forecast; recursive-CTE oracle.

- ``label_propagation_communities`` — deterministic synchronous LPA
  over the memo-persisted trade graph (smallest-label ties, K=4
  rounds); oracle = unrolled MATERIALIZED CTEs with QUALIFY argmax.

- ``streaming_funnel_regex`` — the funnel regex census through TWS
  ValueState (the user's accumulated symbol string), re-scanned per
  batch with the same unique-extent pattern; restart == one-shot ==
  batch twin.

Batch 4 (same file):

- ``decision_stump_quality`` — in-engine depth-1 CART: one corpus
  scan builds a range-independent 64-bucket pos/neg histogram per
  feature; every candidate threshold evaluates on that bounded
  relation via cumulative windows; quantized Gini in
  DECIMAL(38)/HUGEINT.

- ``weekly_revenue_acf`` — exact-ppm lag-1..8 autocorrelation via
  the mean-free integer trick (d_t = x_t*n - S, no division until
  the final truncating ppm), DECIMAL(38)/HUGEINT products.

Scale postures are documented per query; every pair/DP expansion is
bounded by calendar weeks, per-user activity, degree, buckets, or K
— never by corpus row count.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from youtube_etl_automated_pipeline_spark.sources import load_table

QUERIES_ENGINE8: dict = {}
ORACLES_ENGINE8: dict = {}


# --------------------------------------------------- weekly revenue
def _weekly_nation_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(nation_name, wk, rev_cents): weekly revenue per nation.

    wk = epoch-day DIV 7 — an engine-neutral integer week index (both
    engines share the 1970-01-01 epoch), immune to locale week-start
    conventions. Revenue in exact cents. The corpus-sized work ends
    here: orders shuffles once on the grouping key; customer/nation
    broadcast. Everything downstream operates on the calendar-bounded
    (nations x weeks) relation.
    """
    from youtube_etl_automated_pipeline_spark.operators.cache_registry import (
        memo_persist,
    )

    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate").isNotNull()
        & F.col("o_totalprice").isNotNull()
        & F.col("o_custkey").isNotNull()
    )
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    # memo-persisted: the calendar-bounded (nations x weeks) rollup is
    # the shared staging table of the whole weekly-series family
    # (Theil-Sen, changepoint, Holt backtest, ACF) — without the memo
    # each consumer (often several PER QUERY: both self-join sides, a
    # stats agg) re-runs the corpus rollup (r08, guide section 1.2)
    return memo_persist(
        spark,
        ("weekly_nation_revenue", sf_dir),
        lambda: (
        orders.join(
            F.broadcast(cust.select("c_custkey", "c_nationkey")),
            orders.o_custkey == F.col("c_custkey"),
        )
        .join(
            F.broadcast(nation.select("n_nationkey", "n_name")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select(
            F.col("n_name").alias("nation_name"),
            F.expr(
                "datediff(CAST(o_orderdate AS DATE), DATE '1970-01-01') DIV 7"
            ).alias("wk"),
            F.expr(
                "CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)"
            ).alias("cents"),
        )
        .groupBy("nation_name", "wk")
        .agg(F.sum("cents").alias("rev_cents"))
        ),
    )


_WEEKLY_SQL = """
  SELECT n_name AS nation_name,
         (CAST(o_orderdate AS DATE) - DATE '1970-01-01') // 7 AS wk,
         SUM(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)) AS rev_cents
  FROM orders
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  WHERE o_orderdate IS NOT NULL AND o_totalprice IS NOT NULL
    AND o_custkey IS NOT NULL
  GROUP BY 1, 2
"""


# ----------------------------------------------- Theil-Sen + Mann-Kendall
def theil_sen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-nation revenue trend: Theil-Sen median slope +
    Mann-Kendall S / tau over the weekly revenue series.

    Exactness: each pairwise slope is quantized to integer
    micro-cents-per-week ((c2-c1)*1e6 DIV (wk2-wk1), truncating
    division — identical in both engines incl. negative diffs), and
    the statistic is the LOWER MEDIAN (rank (n+1) DIV 2) of that
    quantized multiset — deterministic, no float ordering anywhere.
    Mann-Kendall S is a pure sign sum; tau_ppm = S*1e6 DIV n_pairs.

    Scale: the pair self-join runs on the weekly rollup — weeks^2
    pairs per nation, bounded by the CALENDAR (a 100 TB corpus has
    more rows per week, not more weeks), and the rollup itself is the
    only corpus-sized shuffle. The per-nation median window ranks the
    bounded pair relation.
    """
    weekly = _weekly_nation_revenue(spark, sf_dir)
    a = weekly.alias("a")
    b = weekly.alias("b")
    pairs = (
        a.join(b, "nation_name")
        .where(F.col("a.wk") < F.col("b.wk"))
        .select(
            "nation_name",
            F.expr(
                "(b.rev_cents - a.rev_cents) * 1000000L DIV (b.wk - a.wk)"
            ).alias("slope_micro"),
            F.expr(
                "CASE WHEN b.rev_cents > a.rev_cents THEN 1 "
                "WHEN b.rev_cents < a.rev_cents THEN -1 ELSE 0 END"
            ).alias("sgn"),
        )
    )
    from youtube_etl_automated_pipeline_spark.operators.cache_registry import (
        memo_persist,
    )

    # pairs is calendar-bounded (nations x weeks^2) and consumed by
    # BOTH the median window and the Mann-Kendall agg — persist it or
    # the weekly self-join runs twice (r08)
    pairs_df = pairs
    pairs = memo_persist(
        spark, ("theil_sen_pairs", sf_dir), lambda: pairs_df
    )
    ranked = pairs.withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("nation_name").orderBy("slope_micro")
        ),
    )
    stats = pairs.groupBy("nation_name").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum("sgn").cast("bigint").alias("mk_s"),
    )
    med = (
        ranked.join(stats, "nation_name")
        .where(F.col("rn") == F.expr("(n_pairs + 1) DIV 2"))
        .select("nation_name", F.col("slope_micro").alias("sen_slope_micro"))
    )
    n_weeks = weekly.groupBy("nation_name").agg(
        F.count(F.lit(1)).alias("n_weeks")
    )
    return (
        stats.join(med, "nation_name")
        .join(n_weeks, "nation_name")
        .select(
            "nation_name",
            "n_weeks",
            "n_pairs",
            "mk_s",
            F.expr("mk_s * 1000000L DIV n_pairs").alias("tau_ppm"),
            "sen_slope_micro",
        )
        .orderBy("nation_name")
    )


QUERIES_ENGINE8["theil_sen_trend"] = theil_sen_trend

ORACLES_ENGINE8["theil_sen_trend"] = f"""
WITH weekly AS ({_WEEKLY_SQL}),
pairs AS (
  SELECT a.nation_name,
         (b.rev_cents - a.rev_cents) * 1000000 // (b.wk - a.wk)
           AS slope_micro,
         CASE WHEN b.rev_cents > a.rev_cents THEN 1
              WHEN b.rev_cents < a.rev_cents THEN -1 ELSE 0 END AS sgn
  FROM weekly a
  JOIN weekly b
    ON a.nation_name = b.nation_name AND a.wk < b.wk
),
ranked AS (
  SELECT nation_name, slope_micro,
         row_number() OVER (
           PARTITION BY nation_name ORDER BY slope_micro) AS rn
  FROM pairs
),
stats AS (
  SELECT nation_name, count(*) AS n_pairs,
         CAST(SUM(sgn) AS BIGINT) AS mk_s
  FROM pairs GROUP BY 1
),
med AS (
  SELECT r.nation_name, r.slope_micro AS sen_slope_micro
  FROM ranked r JOIN stats s ON r.nation_name = s.nation_name
  WHERE r.rn = (s.n_pairs + 1) // 2
),
wkn AS (
  SELECT nation_name, count(*) AS n_weeks FROM weekly GROUP BY 1
)
SELECT s.nation_name,
       w.n_weeks,
       s.n_pairs,
       s.mk_s,
       s.mk_s * 1000000 // s.n_pairs AS tau_ppm,
       m.sen_slope_micro
FROM stats s
JOIN med m ON s.nation_name = m.nation_name
JOIN wkn w ON s.nation_name = w.nation_name
ORDER BY s.nation_name
"""


# -------------------------------------------- sequence regex funnel
_FUNNEL_RE = "V[CE]*P"


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


QUERIES_ENGINE8["sequence_funnel_regex"] = sequence_funnel_regex

ORACLES_ENGINE8["sequence_funnel_regex"] = f"""
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


# ------------------------------------------ change-point detection
_CP_SCHEMA = (
    "nation_name string, n_weeks int, split_wk bigint, left_n int, "
    "right_n int, left_mean_cents bigint, right_mean_cents bigint, "
    "mean_shift_cents bigint"
)


def _cp_kernel(pdf: pd.DataFrame) -> pd.DataFrame:
    """Exact best-split scan for one nation's weekly series.

    All arithmetic is unbounded-int Python; the ranking statistic is
    the QUANTIZED gain (S_l^2*1e6)//n_l + (S_r^2*1e6)//n_r (all terms
    non-negative, so floor == trunc == DuckDB's HUGEINT //), argmax
    with earliest-week tie-break — the oracle replays the identical
    integers, so the picked split is deterministic cross-engine.
    """
    pdf = pdf.sort_values("wk")
    wks = [int(w) for w in pdf["wk"]]
    cs = [int(c) for c in pdf["rev_cents"]]
    n = len(cs)
    if n < 2:
        return pd.DataFrame(
            columns=[
                "nation_name", "n_weeks", "split_wk", "left_n", "right_n",
                "left_mean_cents", "right_mean_cents", "mean_shift_cents",
            ]
        )
    total = sum(cs)
    best_gain = -1
    best_k = -1
    s_l = 0
    for k in range(1, n):  # left = first k points
        s_l += cs[k - 1]
        s_r = total - s_l
        gain = (s_l * s_l * 1_000_000) // k + (
            s_r * s_r * 1_000_000
        ) // (n - k)
        if gain > best_gain:
            best_gain, best_k = gain, k
    s_l = sum(cs[:best_k])
    s_r = total - s_l
    lm = s_l // best_k
    rm = s_r // (n - best_k)
    return pd.DataFrame(
        [
            {
                "nation_name": pdf["nation_name"].iloc[0],
                "n_weeks": n,
                "split_wk": wks[best_k - 1],
                "left_n": best_k,
                "right_n": n - best_k,
                "left_mean_cents": lm,
                "right_mean_cents": rm,
                "mean_shift_cents": rm - lm,
            }
        ]
    )


def changepoint_variance_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Offline change-point detection: the single split of each
    nation's weekly revenue series that maximizes the between-segment
    variance reduction S_l^2/n_l + S_r^2/n_r (equivalently minimizes
    total within-segment SSE) — the binary-segmentation step.

    Exactness: the gain is quantized to (S^2*1e6)//n integer terms
    (non-negative, trunc == floor) so BOTH engines rank the identical
    integers; ties break to the earliest split week. The oracle
    replays the scan in HUGEINT via cumulative-sum windows + QUALIFY.

    Scale: the corpus-sized work is the weekly rollup's single
    shuffle; the split scan runs per nation over a CALENDAR-BOUNDED
    series (~weeks rows) inside one grouped Arrow batch — adding data
    adds rows per week, not weeks. The integer envelope holds while a
    nation's total revenue stays under 1e16 cents (gain ~ S^2*1e6 <
    1e38, inside HUGEINT); a 100 TB ledger would bucket to coarser
    units first.
    """
    weekly = _weekly_nation_revenue(spark, sf_dir)
    return (
        weekly.groupBy("nation_name")
        .applyInPandas(_cp_kernel, _CP_SCHEMA)
        .orderBy("nation_name")
    )


QUERIES_ENGINE8["changepoint_variance_split"] = changepoint_variance_split

ORACLES_ENGINE8["changepoint_variance_split"] = f"""
WITH weekly AS ({_WEEKLY_SQL}),
ordered AS (
  SELECT nation_name, wk, rev_cents,
         row_number() OVER w AS k,
         CAST(SUM(rev_cents) OVER w AS HUGEINT) AS s_l,
         CAST(SUM(rev_cents) OVER (PARTITION BY nation_name) AS HUGEINT)
           AS total,
         CAST(count(*) OVER (PARTITION BY nation_name) AS HUGEINT) AS n
  FROM weekly
  WINDOW w AS (PARTITION BY nation_name ORDER BY wk
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
best AS (
  SELECT nation_name, n, k, wk, s_l, total - s_l AS s_r
  FROM ordered
  WHERE k < n AND n >= 2
  QUALIFY row_number() OVER (
    PARTITION BY nation_name
    ORDER BY (s_l * s_l * 1000000) // k
             + ((total - s_l) * (total - s_l) * 1000000) // (n - k) DESC,
             wk ASC) = 1
)
SELECT nation_name,
       CAST(n AS INT) AS n_weeks,
       CAST(wk AS BIGINT) AS split_wk,
       CAST(k AS INT) AS left_n,
       CAST(n - k AS INT) AS right_n,
       CAST(s_l // k AS BIGINT) AS left_mean_cents,
       CAST(s_r // (n - k) AS BIGINT) AS right_mean_cents,
       CAST(s_r // (n - k) - s_l // k AS BIGINT) AS mean_shift_cents
FROM best
ORDER BY nation_name
"""


# ------------------------------------------- k-center coreset pick
_KC_ROUNDS = 8


def coreset_kcenter_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-center greedy coreset selection over the embedding corpus —
    the classic data-pruning / active-learning picker: seed with the
    min vec_id, then K-1 farthest-point rounds; each round's farthest
    distance IS the coverage radius of the current center set, so the
    output (round, center_vec_id, radius_q) doubles as the coverage
    curve a curation pipeline reads to choose its budget.

    Exactness: embeddings quantize to micro-units (the engine-wide
    convention), distances are exact integer squared-L2 folds, and the
    farthest pick breaks ties to the min vec_id — both engines walk
    the identical argmax path. Oracle = K unrolled MATERIALIZED CTEs.

    Scale: each round is ONE narrow Arrow map pass + TakeOrdered over
    an INCREMENTAL min-distance relation — (vec_id, xi, d) persists
    across rounds, each round folds least(d, dist-to-the-one-NEW
    -center) (the oracle's mind{r} chain), so total distance work is
    K passes of n x dim, not K^2/2. The squared-L2 fold runs as a
    vectorized numpy kernel (the new center is a 64-long closure
    constant — kilobytes shipped per round, the corpus is NEVER
    shuffled); exact int64 arithmetic, no overflow (quantized
    |coord| <= ~1e7 -> per-distance sum <= ~3e16 << 2^63). The
    TakeOrdered(1) action that picks the next center evaluates every
    partition, so it doubles as the materialization of that round's
    persisted relation; the previous round's is unpersisted
    immediately. The only collect is one (vec_id, xi, radius) row
    per round. r08 optimization (guide sections 2.4, 4.1): was
    all-centers nested array lambdas (CodegenFallback, interpreted
    per element — an unrolled 64-term SQL expression was ALSO
    measured interpreted at ~1.9 s/round, too many nodes for
    codegen) recomputed from scratch per round — 8.5 -> 4.7 s at
    sf0.1 (isolated min-of-3; the residual is K+1 sequential
    job-latency floors, the price of exact greedy selection).
    """
    import numpy as np

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform(
            "embedding",
            lambda v: F.floor(v.cast("double") * 1e6 + F.lit(0.5)).cast(
                "bigint"
            ),
        ).alias("xi"),
    )

    def fold_kernel(center_xi: list, first: bool):
        """One pass of the incremental min-distance carry: compute
        each row's exact int64 squared-L2 to the ONE new center and
        fold it into the carried d with np.minimum (exact on int64 —
        the oracle's least(m.d, dist) term by term). Round 1 has no
        carry; every later round reads the previous round's persisted
        d column."""

        def kernel(
            batches: Iterator[pd.DataFrame],
        ) -> Iterator[pd.DataFrame]:
            c = np.asarray(center_xi, dtype=np.int64)  # (dim,)
            for pdf in batches:
                if not len(pdf):
                    continue
                x = np.stack(
                    [np.asarray(v, dtype=np.int64) for v in pdf["xi"]]
                )
                diff = x - c
                dj = (diff * diff).sum(axis=1)
                if not first:
                    dj = np.minimum(dj, pdf["d"].to_numpy())
                yield pd.DataFrame(
                    {"vec_id": pdf["vec_id"], "xi": pdf["xi"], "d": dj}
                )

        return kernel

    schema = "vec_id bigint, xi array<bigint>, d bigint"
    emb = emb.persist()
    cur = None
    try:
        seed = emb.orderBy("vec_id").limit(1).collect()[0]
        centers = [(int(seed["vec_id"]), list(seed["xi"]))]
        out_rows = []
        for r in range(1, _KC_ROUNDS + 1):
            src = emb if cur is None else cur
            nxt = src.mapInPandas(
                fold_kernel(centers[-1][1], first=cur is None), schema
            ).persist()
            # TakeOrdered(1) by (d DESC, vec_id ASC) — per-partition
            # top-1 then a driver merge of partition winners — is the
            # action that ALSO materializes this round's persisted
            # relation; the previous round's carry is dropped
            # immediately after.
            far = (
                nxt.orderBy(F.col("d").desc(), F.col("vec_id").asc())
                .limit(1)
                .collect()[0]
            )
            if cur is not None:
                cur.unpersist()
            cur = nxt
            out_rows.append((r, centers[-1][0], int(far["d"])))
            if r < _KC_ROUNDS:
                centers.append((int(far["vec_id"]), list(far["xi"])))
    finally:
        emb.unpersist()
        if cur is not None:
            cur.unpersist()
    return spark.createDataFrame(
        out_rows, "round int, center_vec_id bigint, radius_q bigint"
    ).orderBy("round")


QUERIES_ENGINE8["coreset_kcenter_sample"] = coreset_kcenter_sample


def _kcenter_oracle() -> str:
    parts = [
        """
WITH q AS MATERIALIZED (
  SELECT vec_id,
         list_transform(embedding,
           v -> CAST(floor(CAST(v AS DOUBLE) * 1e6 + 0.5) AS BIGINT)) AS xi
  FROM embeddings
),
c1 AS MATERIALIZED (
  SELECT vec_id, xi FROM q ORDER BY vec_id LIMIT 1
),
mind1 AS MATERIALIZED (
  SELECT q.vec_id,
         (SELECT SUM((q.xi[u.i] - c.xi[u.i]) * (q.xi[u.i] - c.xi[u.i]))
          FROM unnest(generate_series(1, len(q.xi))) AS u(i)) AS d
  FROM q, c1 c
)"""
    ]
    for r in range(1, _KC_ROUNDS):
        parts.append(
            f""",
c{r + 1} AS MATERIALIZED (
  SELECT q.vec_id, q.xi
  FROM q JOIN (SELECT vec_id FROM mind{r}
               ORDER BY d DESC, vec_id ASC LIMIT 1) p
    ON q.vec_id = p.vec_id
),
mind{r + 1} AS MATERIALIZED (
  SELECT m.vec_id,
         least(m.d,
           (SELECT SUM((q.xi[u.i] - c.xi[u.i]) * (q.xi[u.i] - c.xi[u.i]))
            FROM unnest(generate_series(1, len(q.xi))) AS u(i))) AS d
  FROM mind{r} m JOIN q ON m.vec_id = q.vec_id, c{r + 1} c
)"""
        )
    selects = []
    for r in range(1, _KC_ROUNDS + 1):
        selects.append(
            f"SELECT {r} AS round, (SELECT vec_id FROM c{r}) AS"
            f" center_vec_id, (SELECT MAX(d) FROM mind{r}) AS radius_q"
        )
    return "\n".join(parts) + "\n" + "\nUNION ALL\n".join(selects) + (
        "\nORDER BY round"
    )


ORACLES_ENGINE8["coreset_kcenter_sample"] = _kcenter_oracle()


# ------------------------------------------------ HMM Viterbi decode
# Fixed 3-state HMM over the 5 event symbols, costs in integer
# micro-nat-scaled units (negative log-probabilities quantized once,
# offline). The SAME literal tables drive the Python kernel and the
# generated oracle SQL, so both engines walk the identical DP lattice.
_HMM_STATES = 3
_HMM_INIT = [0, 200, 500]
_HMM_TRANS = [
    [100, 300, 600],
    [350, 80, 320],
    [500, 250, 120],
]
_HMM_EMIT = {  # symbol -> cost per state
    "C": [150, 120, 300],
    "E": [400, 500, 60],
    "P": [700, 150, 800],
    "S": [300, 250, 400],
    "V": [80, 200, 350],
}

_VIT_SCHEMA = (
    "user_id bigint, n_steps int, path_cost bigint, final_state int, "
    "n_state_changes int, occ_s0 int, occ_s1 int, occ_s2 int"
)


def _viterbi_decode(syms: list) -> tuple:
    """Viterbi forward pass + backtrack for ONE (ts, event_id)-ordered
    symbol sequence; returns the path-summary tuple.

    Pure-integer DP; argmin ties break to the SMALLEST state index at
    every step (including the final state), mirrored in the oracle's
    CASE chains.
    """
    n = len(syms)
    emit = _HMM_EMIT
    dp = [
        _HMM_INIT[s] + emit[syms[0]][s] for s in range(_HMM_STATES)
    ]
    bps: list[list[int]] = []
    for t in range(1, n):
        nxt = []
        bp = []
        for s in range(_HMM_STATES):
            best_c, best_p = None, -1
            for p in range(_HMM_STATES):
                c = dp[p] + _HMM_TRANS[p][s]
                if best_c is None or c < best_c:
                    best_c, best_p = c, p
            nxt.append(best_c + emit[syms[t]][s])
            bp.append(best_p)
        dp = nxt
        bps.append(bp)
    final_state = min(range(_HMM_STATES), key=lambda s: (dp[s], s))
    path = [final_state]
    for t in range(n - 2, -1, -1):
        path.append(bps[t][path[-1]])
    path.reverse()
    occ = [path.count(s) for s in range(_HMM_STATES)]
    changes = sum(1 for i in range(1, n) if path[i] != path[i - 1])
    return (
        n,
        dp[final_state],
        final_state,
        changes,
        occ[0],
        occ[1],
        occ[2],
    )


def _viterbi_partition(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    """Decode EVERY user in a hash(user_id) partition in one streamed
    kernel. Input rows arrive sorted by (user_id, ts, event_id)
    (sortWithinPartitions upstream), so each user's rows are
    contiguous; a user whose run straddles an Arrow batch boundary is
    buffered until the next batch proves the group complete. This
    replaces the per-group applyInPandas form, whose per-user pandas
    construction dominated the runtime (~1,500 single-user DataFrames
    per run — guide section 4: batch the Python boundary, amortize
    per-call overhead over whole partitions)."""
    cols = [
        "user_id",
        "n_steps",
        "path_cost",
        "final_state",
        "n_state_changes",
        "occ_s0",
        "occ_s1",
        "occ_s2",
    ]

    def decode_block(uid_arr, sym_list, out_rows) -> None:
        # uid boundaries -> per-user contiguous slices
        import numpy as np

        cuts = np.flatnonzero(uid_arr[1:] != uid_arr[:-1]) + 1
        starts = [0, *cuts.tolist()]
        ends = [*cuts.tolist(), len(uid_arr)]
        for lo, hi in zip(starts, ends):
            out_rows.append(
                (int(uid_arr[lo]),) + _viterbi_decode(sym_list[lo:hi])
            )

    buf: pd.DataFrame | None = None
    for pdf in batches:
        if buf is not None and len(buf):
            pdf = pd.concat([buf, pdf], ignore_index=True)
            buf = None
        if not len(pdf):
            continue
        last_uid = pdf["user_id"].iloc[-1]
        complete = pdf[pdf["user_id"] != last_uid]
        buf = pdf[pdf["user_id"] == last_uid]
        if len(complete):
            rows: list[tuple] = []
            decode_block(
                complete["user_id"].to_numpy(),
                list(complete["sym"]),
                rows,
            )
            yield pd.DataFrame(rows, columns=cols)
    if buf is not None and len(buf):
        rows = []
        decode_block(buf["user_id"].to_numpy(), list(buf["sym"]), rows)
        yield pd.DataFrame(rows, columns=cols)


def hmm_viterbi_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Viterbi decoding of a fixed 3-state HMM over each user's
    event-symbol sequence — the sequential dynamic-programming class
    (cost depends on the PREVIOUS step's full state vector) that no
    window function expresses, in exact integer cost units.

    Per user: forward DP over the (ts, event_id)-ordered symbols with
    pinned smallest-state tie-breaks, then a backtrack; the output is
    the decoded-path summary (cost, final state, occupancy census,
    change count). The oracle replays the SAME lattice in SQL: a
    forward recursive CTE carries the 3 DP costs + 3 backpointers per
    step, a second backward recursive CTE walks the backpointers down
    from the argmin final state, and the path census aggregates the
    walked states.

    Scale: one hash shuffle on user_id (explicit width so a tiny
    micro-shuffle is not AQE-coalesced into one serial Python task;
    the width tracks defaultParallelism, so a real cluster widens
    with its cores); each partition's users decode inside ONE
    streamed Arrow kernel. State space is a 3x3 literal — the kernel
    is O(steps x 9) integer adds.

    r08 optimization (guide sections 2.4, 4.1): was
    ``groupBy(user_id).applyInPandas(per-user kernel).orderBy(...)``
    — ~1,500 single-user pandas DataFrames per run, plus a trailing
    global orderBy whose range-partitioner sampling pass re-executed
    the whole decode subtree a second time. Now: repartition +
    sortWithinPartitions + one mapInPandas over each partition, no
    trailing sort (the driver compare is order-insensitive; rows are
    unchanged). Measured 10.0 -> 0.95 s at sf0.1 (isolated min-of-3).
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
    width = spark.sparkContext.defaultParallelism
    return (
        ev.repartition(width, "user_id")
        .sortWithinPartitions("user_id", "ts", "event_id")
        .mapInPandas(_viterbi_partition, _VIT_SCHEMA)
    )


QUERIES_ENGINE8["hmm_viterbi_decode"] = hmm_viterbi_decode


def _viterbi_oracle() -> str:
    emit_case = {
        s: "CASE sym "
        + " ".join(
            f"WHEN '{sym}' THEN {costs[s]}"
            for sym, costs in sorted(_HMM_EMIT.items())
        )
        + " END"
        for s in range(_HMM_STATES)
    }

    def step_cost(s: int) -> str:
        # min over predecessor states of dp[p] + trans[p][s]
        terms = [f"(f.d{p} + {_HMM_TRANS[p][s]})" for p in range(3)]
        return f"least({', '.join(terms)})"

    def step_bp(s: int) -> str:
        t0, t1, t2 = (f"(f.d{p} + {_HMM_TRANS[p][s]})" for p in range(3))
        return (
            f"CASE WHEN {t0} <= {t1} AND {t0} <= {t2} THEN 0 "
            f"WHEN {t1} <= {t2} THEN 1 ELSE 2 END"
        )

    final_state = (
        "CASE WHEN d0 <= d1 AND d0 <= d2 THEN 0 "
        "WHEN d1 <= d2 THEN 1 ELSE 2 END"
    )
    return f"""
WITH RECURSIVE ev AS MATERIALIZED (
  SELECT user_id,
         upper(substring(event_type, 1, 1)) AS sym,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS rn
  FROM events
  WHERE user_id IS NOT NULL AND ts IS NOT NULL
    AND event_type IS NOT NULL
),
f AS (
  SELECT user_id, rn,
         {_HMM_INIT[0]} + {emit_case[0]} AS d0,
         {_HMM_INIT[1]} + {emit_case[1]} AS d1,
         {_HMM_INIT[2]} + {emit_case[2]} AS d2,
         -1 AS b0, -1 AS b1, -1 AS b2
  FROM ev WHERE rn = 1
  UNION ALL
  SELECT e.user_id, e.rn,
         {step_cost(0)} + {emit_case[0].replace("sym", "e.sym")} AS d0,
         {step_cost(1)} + {emit_case[1].replace("sym", "e.sym")} AS d1,
         {step_cost(2)} + {emit_case[2].replace("sym", "e.sym")} AS d2,
         {step_bp(0)} AS b0, {step_bp(1)} AS b1, {step_bp(2)} AS b2
  FROM f JOIN ev e ON f.user_id = e.user_id AND e.rn = f.rn + 1
),
fin AS MATERIALIZED (
  SELECT user_id, rn AS n_steps,
         least(d0, d1, d2) AS path_cost,
         {final_state} AS final_state
  FROM f
  QUALIFY row_number() OVER (PARTITION BY user_id
                             ORDER BY rn DESC) = 1
),
walk AS (
  SELECT user_id, n_steps AS rn, final_state AS state FROM fin
  UNION ALL
  SELECT w.user_id, w.rn - 1,
         CASE w.state WHEN 0 THEN f.b0 WHEN 1 THEN f.b1 ELSE f.b2 END
  FROM walk w JOIN f ON w.user_id = f.user_id AND w.rn = f.rn
  WHERE w.rn > 1
),
path AS MATERIALIZED (
  SELECT user_id, rn, state,
         lag(state) OVER (PARTITION BY user_id ORDER BY rn) AS prev
  FROM walk
),
census AS MATERIALIZED (
  SELECT user_id,
         CAST(SUM(CASE WHEN prev IS NOT NULL AND state <> prev
                       THEN 1 ELSE 0 END) AS INT) AS n_state_changes,
         CAST(SUM(CASE WHEN state = 0 THEN 1 ELSE 0 END) AS INT) AS occ_s0,
         CAST(SUM(CASE WHEN state = 1 THEN 1 ELSE 0 END) AS INT) AS occ_s1,
         CAST(SUM(CASE WHEN state = 2 THEN 1 ELSE 0 END) AS INT) AS occ_s2
  FROM path GROUP BY user_id
)
SELECT fin.user_id,
       CAST(fin.n_steps AS INT) AS n_steps,
       CAST(fin.path_cost AS BIGINT) AS path_cost,
       CAST(fin.final_state AS INT) AS final_state,
       c.n_state_changes, c.occ_s0, c.occ_s1, c.occ_s2
FROM fin JOIN census c ON fin.user_id = c.user_id
ORDER BY fin.user_id
"""


ORACLES_ENGINE8["hmm_viterbi_decode"] = _viterbi_oracle()


# ---------------------------------------------- streaming EWMA twin
def streaming_ewma_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ewma_user_value sequential recursion maintained through
    REAL transformWithStateInPandas state: a ValueState carries each
    user's (ewma_cents, n_events); every micro-batch folds its
    (ts, event_id)-sorted arrivals from state with the IDENTICAL
    integer step the batch kernel uses, so any order-respecting batch
    split lands on the same fixed point — stream == batch == oracle
    (ewma_user_value's oracle plus a pinned NULL-user exclusion both
    sides carry, since a NULL group cannot thread the recursive
    CTE's equi-join and a recursion has no identity without a key;
    the 2-batch
    restart == one-shot == batch-twin identity is pinned in
    tests/test_engine8.py).

    Scale: state is ONE 2-int row per user (watermark-free); each
    batch's work is one state-partition shuffle plus an O(rows)
    integer fold. The rollup keeps each user's LAST emission via a
    keep-max on the strictly-increasing n_events — a deterministic
    collapse of the update-mode output."""
    from youtube_etl_automated_pipeline_spark.streaming.incremental import (
        read_events_stream,
        run_stream_to_memory,
    )
    from youtube_etl_automated_pipeline_spark.streaming.stateful import (
        tws_ewma_user_value,
    )

    out = run_stream_to_memory(
        tws_ewma_user_value(read_events_stream(spark, sf_dir)),
        "tws_ewma",
        output_mode="update",
        skip_nodata=True,
    )
    last = out.groupBy("user_id").agg(
        F.max(F.struct("n_events", "ewma_cents")).alias("s")
    )
    return last.select(
        "user_id",
        F.col("s.n_events").cast("bigint").alias("n_events"),
        F.col("s.ewma_cents").alias("ewma_cents"),
        (F.col("s.ewma_cents").cast("double") / 100.0).alias("ewma"),
    ).orderBy("user_id")


QUERIES_ENGINE8["streaming_ewma_user_value"] = streaming_ewma_user_value


def _ewma_oracle() -> str:
    from youtube_etl_automated_pipeline_spark.plans.queries_analytics import (
        ORACLES_ANALYTICS,
    )

    # the streamed recursion shares the batch twin's oracle, with ONE
    # pinned delta: NULL user_id rows are excluded (a sequential
    # recursion has no sequence identity without a key, and a NULL
    # group cannot thread the recursive CTE's equi-join) — mirrored
    # by the engine wrapper's user_id IS NOT NULL filter
    return ORACLES_ANALYTICS["ewma_user_value"].replace(
        "WHERE value IS NOT NULL",
        "WHERE value IS NOT NULL AND user_id IS NOT NULL",
    )


ORACLES_ENGINE8["streaming_ewma_user_value"] = _ewma_oracle()


# ------------------------------------------- exact weighted median
WM_BUCKETS = 1024  # fixed per round — range-independent, the
# exact_median_two_pass convention (queries_engine6)


def group_weighted_median_exact(
    rows: DataFrame,
    value_col: str,
    weight_col: str,
    keys: list,
    memo_key: tuple | None = None,
) -> DataFrame:
    """Range-independent EXACT weighted median per group: the
    histogram-refinement machinery of group_median_exact
    (queries_engine6) generalized from row ranks to WEIGHT ranks —
    every histogram aggregates sum(w) instead of count(*), the target
    is t = (W+1) DIV 2 (reduces to the unweighted lower median when
    every w = 1), and the final pass picks the value whose cumulative
    weight crosses the in-bucket offset. Returns (keys..., n, wsum,
    wmedian_val). Weights must be positive integers (pinned by the
    caller), so the crossing row is unique; ties in value are safe
    because only the VALUE is emitted and a tie run crossing the
    offset yields the same value under any internal order."""
    B = WM_BUCKETS
    vals = rows.select(
        *keys, F.col(value_col).alias("v"), F.col(weight_col).alias("w")
    )
    stats = (
        vals.groupBy(*keys)
        .agg(
            F.min("v").alias("lo"),
            F.max("v").alias("hi"),
            F.count(F.lit(1)).alias("n"),
            F.sum("w").alias("wsum"),
        )
        .select(
            *keys,
            "lo",
            "n",
            "wsum",
            (F.col("hi") - F.col("lo") + 1).alias("span"),
            F.expr("CAST((wsum + 1) DIV 2 AS BIGINT)").alias("t"),
        )
    )
    if memo_key is not None:
        # persist the bounded multi-consumer intermediates (one row
        # per group / ~1/B of the input): without this every consumer
        # re-executes the stats aggregate — a full scan each (r08,
        # same seam as group_median_exact)
        from youtube_etl_automated_pipeline_spark.operators.cache_registry import (
            memo_persist,
        )

        stats_df = stats
        stats = memo_persist(
            rows.sparkSession, (*memo_key, "wm_stats"), lambda: stats_df
        )
    base = vals.join(F.broadcast(stats), keys).withColumn(
        "b1", F.expr(f"(v - lo) * {B} div span")
    )

    def whist(df: DataFrame, bcol: str) -> DataFrame:
        return df.groupBy(*keys, bcol).agg(F.sum("w").alias("wt"))

    def wlocate(hist: DataFrame, bcol: str, rank_col: str) -> DataFrame:
        win = Window.partitionBy(*keys).orderBy(bcol)
        cum = hist.select(
            *keys,
            bcol,
            rank_col,
            (F.sum("wt").over(win) - F.col("wt")).alias("below"),
            F.sum("wt").over(win).alias("cum"),
        )
        return cum.filter(
            (F.col("below") < F.col(rank_col))
            & (F.col(rank_col) <= F.col("cum"))
        ).select(
            *keys, bcol, (F.col(rank_col) - F.col("below")).alias("off")
        )

    pick1 = wlocate(
        whist(base, "b1").join(stats.select(*keys, "t"), keys), "b1", "t"
    )
    if memo_key is not None:
        pick1_df = pick1
        pick1 = memo_persist(
            rows.sparkSession, (*memo_key, "wm_pick1"), lambda: pick1_df
        )
    ref = base.join(
        F.broadcast(pick1.select(*keys, "b1")), [*keys, "b1"]
    ).withColumn("b2", F.expr(f"((v - lo) * {B} - b1 * span) * {B} div span"))
    if memo_key is not None:
        ref_df = ref
        ref = memo_persist(
            rows.sparkSession, (*memo_key, "wm_ref"), lambda: ref_df
        )
    pick2 = wlocate(
        whist(ref, "b2").join(
            pick1.select(*keys, F.col("off").alias("r1")), keys
        ),
        "b2",
        "r1",
    )
    w2 = Window.partitionBy(*keys, "b2").orderBy("v")
    return (
        ref.join(F.broadcast(pick2), [*keys, "b2"])
        .withColumn("cumw", F.sum("w").over(w2.rowsBetween(Window.unboundedPreceding, 0)))
        .filter(
            (F.col("cumw") >= F.col("off"))
            & (F.col("cumw") - F.col("w") < F.col("off"))
        )
        .select(*keys, "n", "wsum", F.col("v").alias("wmedian_val"))
    )


def weighted_median_two_pass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT quantity-weighted median unit price per (returnflag,
    linestatus) — "the price at which half the shipped QUANTITY was
    cheaper" — without a global sort: the range-independent
    histogram-refinement median generalized to weight ranks (see
    group_weighted_median_exact). With all weights 1 it degrades to
    the lower median, which the brute-force test also pins.

    Scale: identical posture to exact_median_two_pass — two corpus
    scans (pass 1 histogram, pass 2 refinement restricted to ~1/B of
    each group by the broadcast bucket pick), every aggregation
    map-side combinable, histogram relations groups x 1024 rows flat
    regardless of the price range. NULL price/quantity rows carry no
    weight rank and are excluded on both sides.

    Output: l_returnflag, l_linestatus, n_items, qty_total,
    wmedian_cents, wmedian_price."""
    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(
            F.col("l_extendedprice").isNotNull()
            & F.col("l_quantity").isNotNull()
        )
        .select(
            "l_returnflag",
            "l_linestatus",
            F.expr(
                "CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT)"
            ).alias("cents"),
            F.expr("CAST(floor(l_quantity + 0.5) AS BIGINT)").alias("qty"),
        )
    )
    med = group_weighted_median_exact(
        li,
        "cents",
        "qty",
        ["l_returnflag", "l_linestatus"],
        memo_key=("weighted_median", sf_dir),
    )
    return med.select(
        "l_returnflag",
        "l_linestatus",
        F.col("n").cast("bigint").alias("n_items"),
        F.col("wsum").cast("bigint").alias("qty_total"),
        F.col("wmedian_val").cast("bigint").alias("wmedian_cents"),
        (F.col("wmedian_val") / 100.0).alias("wmedian_price"),
    ).orderBy("l_returnflag", "l_linestatus")


QUERIES_ENGINE8["weighted_median_two_pass"] = weighted_median_two_pass

ORACLES_ENGINE8["weighted_median_two_pass"] = """
WITH li AS (
  SELECT l_returnflag, l_linestatus,
         CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT) AS cents,
         CAST(floor(l_quantity + 0.5) AS BIGINT) AS qty
  FROM lineitem
  WHERE l_extendedprice IS NOT NULL AND l_quantity IS NOT NULL
),
g AS (
  SELECT l_returnflag, l_linestatus,
         count(*) AS n, SUM(qty) AS wsum
  FROM li GROUP BY 1, 2
),
perv AS (
  SELECT l_returnflag, l_linestatus, cents, SUM(qty) AS wv
  FROM li GROUP BY 1, 2, 3
),
cum AS (
  SELECT l_returnflag, l_linestatus, cents,
         SUM(wv) OVER (PARTITION BY l_returnflag, l_linestatus
                       ORDER BY cents) AS cumw
  FROM perv
),
pick AS (
  SELECT c.l_returnflag, c.l_linestatus, MIN(c.cents) AS wmedian_cents
  FROM cum c JOIN g ON c.l_returnflag = g.l_returnflag
               AND c.l_linestatus = g.l_linestatus
  WHERE c.cumw >= (g.wsum + 1) // 2
  GROUP BY 1, 2
)
SELECT g.l_returnflag, g.l_linestatus,
       CAST(g.n AS BIGINT) AS n_items,
       CAST(g.wsum AS BIGINT) AS qty_total,
       p.wmedian_cents,
       p.wmedian_cents / 100.0 AS wmedian_price
FROM g JOIN pick p
  ON g.l_returnflag = p.l_returnflag AND g.l_linestatus = p.l_linestatus
ORDER BY g.l_returnflag, g.l_linestatus
"""


# --------------------------------------------- Holt linear backtest
_HOLT_SCHEMA = (
    "nation_name string, n_weeks int, mae_cents bigint, "
    "final_level bigint, final_trend bigint, forecast_next bigint"
)


def _tdiv(a: int, b: int) -> int:
    """Truncating integer division (toward zero) — Spark's DIV and
    DuckDB's integer `//` convention; Python's `//` floors, which
    diverges on the negative trend terms this recursion produces."""
    return -((-a) // b) if a < 0 else a // b


def _holt_kernel(pdf: pd.DataFrame) -> pd.DataFrame:
    """Holt's linear (double exponential) smoothing in integer cents
    with rational alpha = beta = 1/4:
      l_t = (y_t + 3*(l_{t-1} + b_{t-1})) tdiv 4
      b_t = ((l_t - l_{t-1}) + 3*b_{t-1}) tdiv 4
    seeded l_1 = y_1, b_1 = y_2 - y_1; one-step-ahead backtest over
    t >= 3 with yhat_t = l_{t-1} + b_{t-1}. All divisions truncate
    toward zero (_tdiv) to match the oracle's `//` exactly."""
    pdf = pdf.sort_values("wk")
    ys = [int(c) for c in pdf["rev_cents"]]
    n = len(ys)
    if n < 3:
        return pd.DataFrame(
            columns=[
                "nation_name", "n_weeks", "mae_cents",
                "final_level", "final_trend", "forecast_next",
            ]
        )
    lvl, tr = ys[0], ys[1] - ys[0]
    # process t=2 (index 1) from the seed state
    err_sum = 0
    for t in range(1, n):
        yhat = lvl + tr
        if t >= 2:
            err_sum += abs(ys[t] - yhat)
        new_l = _tdiv(ys[t] + 3 * (lvl + tr), 4)
        tr = _tdiv((new_l - lvl) + 3 * tr, 4)
        lvl = new_l
    return pd.DataFrame(
        [
            {
                "nation_name": pdf["nation_name"].iloc[0],
                "n_weeks": n,
                "mae_cents": _tdiv(err_sum, n - 2),
                "final_level": lvl,
                "final_trend": tr,
                "forecast_next": lvl + tr,
            }
        ]
    )


def holt_linear_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt's linear-trend exponential smoothing per nation over the
    weekly revenue series, with a one-step-ahead forecast backtest
    (MAE in exact cents) and the next-week forecast — the
    trend-aware upgrade of the engine's EWMA / seasonal-naive family,
    in the same bit-exact integer-recursion discipline: rational
    alpha = beta = 1/4 make every step two truncating integer
    divisions, so the oracle's recursive CTE replays the identical
    fixed point (including negative trend values, where trunc-vs-
    floor matters — pinned by _tdiv).

    Scale: the ewma posture — the corpus-sized work is the weekly
    rollup's one shuffle; the recursion runs per nation over the
    CALENDAR-BOUNDED series inside one grouped Arrow batch. Nations
    need n >= 3 weeks (seed + at least one backtest point), pinned on
    both sides."""
    weekly = _weekly_nation_revenue(spark, sf_dir)
    return (
        weekly.groupBy("nation_name")
        .applyInPandas(_holt_kernel, _HOLT_SCHEMA)
        .orderBy("nation_name")
    )


QUERIES_ENGINE8["holt_linear_backtest"] = holt_linear_backtest

ORACLES_ENGINE8["holt_linear_backtest"] = f"""
WITH RECURSIVE weekly AS MATERIALIZED ({_WEEKLY_SQL}),
ev AS MATERIALIZED (
  SELECT nation_name, rev_cents AS y,
         row_number() OVER (PARTITION BY nation_name ORDER BY wk) AS rn,
         count(*) OVER (PARTITION BY nation_name) AS n
  FROM weekly
),
r AS (
  SELECT e1.nation_name, CAST(2 AS BIGINT) AS rn, e1.n,
         -- state AFTER consuming t=2 from the seed (l1=y1, b1=y2-y1)
         (e2.y + 3 * (e1.y + (e2.y - e1.y))) // 4 AS l,
         (((e2.y + 3 * (e1.y + (e2.y - e1.y))) // 4 - e1.y)
            + 3 * (e2.y - e1.y)) // 4 AS b,
         (e1.y + (e2.y - e1.y)) AS l_prev_plus_b_prev,
         CAST(0 AS BIGINT) AS err_sum
  FROM ev e1 JOIN ev e2
    ON e1.nation_name = e2.nation_name AND e1.rn = 1 AND e2.rn = 2
  WHERE e1.n >= 3
  UNION ALL
  SELECT r.nation_name, r.rn + 1, r.n,
         (e.y + 3 * (r.l + r.b)) // 4,
         (((e.y + 3 * (r.l + r.b)) // 4 - r.l) + 3 * r.b) // 4,
         r.l + r.b,
         r.err_sum + abs(e.y - (r.l + r.b))
  FROM r JOIN ev e ON e.nation_name = r.nation_name AND e.rn = r.rn + 1
)
SELECT nation_name,
       CAST(n AS INT) AS n_weeks,
       CAST(err_sum // (n - 2) AS BIGINT) AS mae_cents,
       CAST(l AS BIGINT) AS final_level,
       CAST(b AS BIGINT) AS final_trend,
       CAST(l + b AS BIGINT) AS forecast_next
FROM r
QUALIFY row_number() OVER (PARTITION BY nation_name ORDER BY rn DESC) = 1
ORDER BY nation_name
"""


# ------------------------------------- label propagation communities
LPA_ROUNDS = 4
LPA_TOP = 25


def _lpa_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection on the symmetrized customer-supplier trade
    graph via synchronous label propagation (LPA): every node starts
    as its own label; each round a node adopts the label most frequent
    among its NEIGHBORS, ties broken to the smallest label — a fully
    deterministic synchronous schedule (the classic async coin-flips
    are exactly what an oracle-paired engine cannot ship).

    Scale: per round ONE join (labels onto edges by src; the planner
    broadcasts the label relation while it fits, and falls back to a
    shuffle join at real node cardinality) and a map-combinable
    (dst, lbl) count folded to a per-node argmax AGGREGATE (min of
    struct(-c, lbl)) — no window, no sort, both aggs combine
    map-side. The edge relation is the memo-persisted trade-graph
    staging table shared with PageRank/BFS; label lineage is
    truncated every second round so plan depth stays bounded while
    paying half the checkpoint materializations (r08: per-round
    truncation measured as pure overhead at LPA_ROUNDS=4 — warm
    4.2 s either way vs 6.2 s with per-round checkpoints).
    Oracle = LPA_ROUNDS unrolled MATERIALIZED CTEs with QUALIFY
    argmax."""
    from youtube_etl_automated_pipeline_spark.operators.lineage import (
        truncate_lineage,
    )
    from youtube_etl_automated_pipeline_spark.plans.queries_graph import (
        _edges,
    )

    edges = _edges(spark, sf_dir, by_dst=True)
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("lbl", F.col("node"))
    )
    for r in range(LPA_ROUNDS):
        # broadcast(labels) is an explicit HINT (r09): labels is one
        # row per node, edges one per arc — orders of magnitude
        # smaller — yet the planner's estimate flipped the build side
        # and broadcast the (cached, accurately sized) EDGE relation
        # every round, streaming the label subtree and discarding the
        # edge cache's dst-partitioning. Pinning the label side as
        # build keeps edges streamed, so both per-round aggregates
        # below consume HashPartitioning(dst) straight from the cache
        # — zero Exchanges per round (plans/r09).
        cnt = (
            edges.join(F.broadcast(labels), edges.src == labels.node)
            .groupBy("dst", "lbl")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        # argmax by (c DESC, lbl ASC) as ONE map-side-combinable
        # aggregate: min of struct(-c, lbl) — struct comparison is
        # lexicographic, so the minimum is exactly the row the old
        # row_number() window picked. r08 optimization (guide section
        # 2.4): the window form cost an extra Exchange on dst plus TWO
        # full sorts per round; the agg form re-uses the hash-agg
        # shape, never sorts, and combines map-side. Bit-identical
        # winner per node by construction.
        labels = (
            cnt.groupBy("dst")
            .agg(
                F.min(
                    F.struct(
                        (-F.col("c")).alias("neg_c"), F.col("lbl").alias("lbl")
                    )
                ).alias("m")
            )
            .select(F.col("dst").alias("node"), F.col("m.lbl").alias("lbl"))
        )
        if (r + 1) % 2 == 0 and (r + 1) < LPA_ROUNDS:
            labels = truncate_lineage(labels, eager=False)
    return labels


def label_propagation_communities(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """See _lpa_labels for the per-round shape. Output: top-25
    community census after LPA_ROUNDS rounds."""
    labels = _lpa_labels(spark, sf_dir)
    return (
        labels.groupBy("lbl")
        .agg(F.count(F.lit(1)).alias("n_members"))
        .select(F.col("lbl").alias("community_label"), "n_members")
        .orderBy(F.desc("n_members"), F.asc("community_label"))
        .limit(LPA_TOP)
    )


QUERIES_ENGINE8["label_propagation_communities"] = (
    label_propagation_communities
)


def _lpa_oracle() -> str:
    from youtube_etl_automated_pipeline_spark.plans.queries_graph import (
        SUPP_NODE_BASE,
    )

    parts = [
        f"""
WITH eo AS (
  SELECT DISTINCT o_custkey AS c, l_suppkey + {SUPP_NODE_BASE} AS s
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
),
edges AS MATERIALIZED (
  SELECT c AS src, s AS dst FROM eo
  UNION ALL
  SELECT s AS src, c AS dst FROM eo
),
l0 AS MATERIALIZED (
  SELECT DISTINCT src AS node, src AS lbl FROM edges
)"""
    ]
    for r in range(LPA_ROUNDS):
        parts.append(
            f""",
c{r + 1} AS MATERIALIZED (
  SELECT e.dst, l.lbl, count(*) AS c
  FROM edges e JOIN l{r} l ON e.src = l.node
  GROUP BY 1, 2
),
l{r + 1} AS MATERIALIZED (
  SELECT dst AS node, lbl
  FROM c{r + 1}
  QUALIFY row_number() OVER (
    PARTITION BY dst ORDER BY c DESC, lbl ASC) = 1
)"""
        )
    return "".join(parts) + f"""
SELECT lbl AS community_label,
       CAST(count(*) AS BIGINT) AS n_members
FROM l{LPA_ROUNDS}
GROUP BY lbl
ORDER BY n_members DESC, community_label ASC
LIMIT {LPA_TOP}
"""


ORACLES_ENGINE8["label_propagation_communities"] = _lpa_oracle()


# -------------------------------------------- streaming funnel twin
def streaming_funnel_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sequence_funnel_regex census maintained through REAL
    streaming state: a TWS ValueState accumulates each user's symbol
    string across micro-batches and every batch re-scans it with the
    same unique-extent pattern, so any order-respecting batch split
    equals the one-shot scan (2-batch restart == one-shot == batch
    twin pinned in tests/test_engine8.py). Shares the batch twin's
    oracle verbatim.

    Scale: state is one string per user (per-user-activity bounded —
    the identical bound the batch twin's grouped aggregation
    carries); each batch's work is one state-partition shuffle plus
    an O(len) scan per touched user. The rollup keeps each user's
    LAST emission via keep-max on the strictly-increasing seq_len."""
    from youtube_etl_automated_pipeline_spark.streaming.incremental import (
        read_events_stream,
        run_stream_to_memory,
    )
    from youtube_etl_automated_pipeline_spark.streaming.stateful import (
        tws_funnel_seq,
    )

    out = run_stream_to_memory(
        tws_funnel_seq(read_events_stream(spark, sf_dir)),
        "tws_funnel",
        output_mode="update",
        skip_nodata=True,
    )
    last = out.groupBy("user_id").agg(
        F.max(
            F.struct("seq_len", "n_conversions", "longest_run")
        ).alias("s")
    )
    return last.select(
        "user_id",
        F.col("s.seq_len").alias("seq_len"),
        F.col("s.n_conversions").alias("n_conversions"),
        F.col("s.longest_run").alias("longest_run"),
    ).orderBy("user_id")


QUERIES_ENGINE8["streaming_funnel_regex"] = streaming_funnel_regex


def _streaming_funnel_oracle() -> str:
    # shares the batch twin's oracle verbatim: a fully-consumed
    # availableNow run accumulates every user's full symbol string
    # and the last re-scan equals the batch regex count
    return ORACLES_ENGINE8["sequence_funnel_regex"]


ORACLES_ENGINE8["streaming_funnel_regex"] = _streaming_funnel_oracle()


# -------------------------------------------- decision-tree stump
STUMP_BUCKETS = 64


def decision_stump_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supervised split learning IN-ENGINE: the depth-1 CART stump
    that best separates English from non-English documents over three
    cheap integer features (n_chars, digit count, space count) —
    the first step of every tree/GBM trainer, expressed as pure
    aggregation. Candidate thresholds are the 63 boundaries of a
    range-independent 64-bucket histogram per feature; the winning
    split maximizes the quantized Gini score
    (lp^2+ln^2)*1e6 div n_l + (rp^2+rn^2)*1e6 div n_r (equivalently
    minimizes weighted child Gini; DECIMAL(38)/HUGEINT headroom, so
    the integer envelope holds to ~1e15 docs), ties to (feature,
    bucket) ascending. Output: ONE row — feature, threshold, split
    sizes, class counts, score and training accuracy in exact ppm.

    Scale: one corpus scan builds the (feature, bucket) pos/neg
    histogram (map-side combinable, 3 x 64 rows); every candidate
    evaluation happens on that bounded relation via cumulative
    windows. Adding a feature adds 64 histogram rows, not a scan."""
    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull() & F.col("lang").isNotNull())
        .select(
            F.when(F.col("lang") == "en", 1).otherwise(0).alias("y"),
            F.col("n_chars").alias("f_chars"),
            (
                F.length("text")
                - F.length(F.regexp_replace("text", "[0-9]", ""))
            ).cast("bigint").alias("f_digits"),
            (
                F.length("text")
                - F.length(F.regexp_replace("text", " ", ""))
            ).cast("bigint").alias("f_spaces"),
        )
    )
    feats = docs.select(
        "y",
        F.explode(
            F.array(
                F.struct(
                    F.lit("n_chars").alias("f"),
                    F.col("f_chars").cast("bigint").alias("x"),
                ),
                F.struct(
                    F.lit("n_digits").alias("f"), F.col("f_digits").alias("x")
                ),
                F.struct(
                    F.lit("n_spaces").alias("f"), F.col("f_spaces").alias("x")
                ),
            )
        ).alias("fx"),
    ).select("y", F.col("fx.f").alias("f"), F.col("fx.x").alias("x"))
    # a document with an unknown (NULL) feature value contributes no
    # candidate for THAT feature but still counts for the others —
    # pinned identically in the oracle; keeps the bucket window
    # NULL-free (the cross-engine NULL-ordering gotcha)
    feats = feats.filter(F.col("x").isNotNull())
    B = STUMP_BUCKETS
    stats = feats.groupBy("f").agg(
        F.min("x").alias("lo"),
        (F.max("x") - F.min("x") + 1).alias("span"),
    )
    hist = (
        feats.join(F.broadcast(stats), "f")
        .withColumn("b", F.expr(f"(x - lo) * {B} div span"))
        .groupBy("f", "b", "lo", "span")
        .agg(
            F.sum("y").alias("pos"),
            F.sum(F.lit(1) - F.col("y")).alias("neg"),
        )
    )
    w = Window.partitionBy("f").orderBy("b")
    tot = Window.partitionBy("f")
    cand = hist.select(
        "f",
        "b",
        "lo",
        "span",
        F.sum("pos").over(w).alias("lp"),
        F.sum("neg").over(w).alias("ln"),
        (F.sum("pos").over(tot)).alias("tp"),
        (F.sum("neg").over(tot)).alias("tn"),
    ).select(
        "f",
        "b",
        "lo",
        "span",
        "lp",
        "ln",
        (F.col("tp") - F.col("lp")).alias("rp"),
        (F.col("tn") - F.col("ln")).alias("rn"),
    ).filter(
        (F.col("lp") + F.col("ln") > 0) & (F.col("rp") + F.col("rn") > 0)
    )
    scored = cand.select(
        "f",
        "b",
        "lo",
        "span",
        "lp",
        "ln",
        "rp",
        "rn",
        F.expr(
            "CAST((CAST(lp AS DECIMAL(38,0)) * lp"
            "      + CAST(ln AS DECIMAL(38,0)) * ln) * 1000000"
            "     div (lp + ln)"
            "   + (CAST(rp AS DECIMAL(38,0)) * rp"
            "      + CAST(rn AS DECIMAL(38,0)) * rn) * 1000000"
            "     div (rp + rn) AS BIGINT)"
        ).alias("score_q"),
    )
    best = scored.orderBy(
        F.desc("score_q"), F.asc("f"), F.asc("b")
    ).limit(1)
    return best.select(
        F.col("f").alias("feature"),
        F.col("b").cast("int").alias("split_bucket"),
        F.expr(f"lo + ((b + 1) * span + {B - 1}) DIV {B} - 1").alias(
            "threshold"
        ),
        (F.col("lp") + F.col("ln")).cast("bigint").alias("n_left"),
        (F.col("rp") + F.col("rn")).cast("bigint").alias("n_right"),
        F.col("lp").cast("bigint").alias("left_pos"),
        F.col("rp").cast("bigint").alias("right_pos"),
        "score_q",
        F.expr(
            "CAST((greatest(lp, ln) + greatest(rp, rn)) * 1000000"
            " div (lp + ln + rp + rn) AS BIGINT)"
        ).alias("train_acc_ppm"),
    )


QUERIES_ENGINE8["decision_stump_quality"] = decision_stump_quality

ORACLES_ENGINE8["decision_stump_quality"] = f"""
WITH docs AS (
  SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
         CAST(n_chars AS BIGINT) AS f_chars,
         CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))
              AS BIGINT) AS f_digits,
         CAST(length(text) - length(regexp_replace(text, ' ', '', 'g'))
              AS BIGINT) AS f_spaces
  FROM documents
  WHERE text IS NOT NULL AND lang IS NOT NULL
),
feats AS (
  SELECT * FROM (
    SELECT y, 'n_chars' AS f, f_chars AS x FROM docs
    UNION ALL SELECT y, 'n_digits', f_digits FROM docs
    UNION ALL SELECT y, 'n_spaces', f_spaces FROM docs
  ) WHERE x IS NOT NULL
),
stats AS (
  SELECT f, MIN(x) AS lo, MAX(x) - MIN(x) + 1 AS span
  FROM feats GROUP BY f
),
hist AS (
  SELECT fe.f, (fe.x - st.lo) * {STUMP_BUCKETS} // st.span AS b,
         st.lo, st.span,
         SUM(fe.y) AS pos, SUM(1 - fe.y) AS neg
  FROM feats fe JOIN stats st ON fe.f = st.f
  GROUP BY 1, 2, 3, 4
),
cand AS (
  SELECT f, b, lo, span,
         SUM(pos) OVER (PARTITION BY f ORDER BY b) AS lp,
         SUM(neg) OVER (PARTITION BY f ORDER BY b) AS ln,
         SUM(pos) OVER (PARTITION BY f)
           - SUM(pos) OVER (PARTITION BY f ORDER BY b) AS rp,
         SUM(neg) OVER (PARTITION BY f)
           - SUM(neg) OVER (PARTITION BY f ORDER BY b) AS rn
  FROM hist
),
scored AS (
  SELECT f, b, lo, span, lp, ln, rp, rn,
         CAST((CAST(lp AS HUGEINT) * lp + CAST(ln AS HUGEINT) * ln)
                * 1000000 // (lp + ln)
              + (CAST(rp AS HUGEINT) * rp + CAST(rn AS HUGEINT) * rn)
                * 1000000 // (rp + rn) AS BIGINT) AS score_q
  FROM cand
  WHERE lp + ln > 0 AND rp + rn > 0
)
SELECT f AS feature,
       CAST(b AS INT) AS split_bucket,
       CAST(lo + ((b + 1) * span + {STUMP_BUCKETS - 1})
              // {STUMP_BUCKETS} - 1 AS BIGINT) AS threshold,
       CAST(lp + ln AS BIGINT) AS n_left,
       CAST(rp + rn AS BIGINT) AS n_right,
       CAST(lp AS BIGINT) AS left_pos,
       CAST(rp AS BIGINT) AS right_pos,
       score_q,
       CAST((greatest(lp, ln) + greatest(rp, rn)) * 1000000
            // (lp + ln + rp + rn) AS BIGINT) AS train_acc_ppm
FROM scored
ORDER BY score_q DESC, feature ASC, split_bucket ASC
LIMIT 1
"""


# ------------------------------------------------ lag-k ACF census
ACF_MAX_LAG = 8


def weekly_revenue_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1..8 autocorrelation of each nation's weekly revenue — the
    time-series diagnostic (is there weekly momentum? monthly
    cycle?) that complements the engine's forecasting family
    (seasonal-naive, Holt, trend slope), exact in integer ppm.

    Exactness: deviations are kept integral with the mean-free trick
    d_t = x_t*n - S (no division by n ever happens), products ride in
    DECIMAL(38) (Spark) / HUGEINT (DuckDB) — d^2 reaches ~1e23, far
    outside bigint — and acf_ppm = (num*1e6) div den truncates
    identically in both engines, negative lags included. Lags are
    INDEX-based over the (wk)-ordered series (the regular-sampling
    convention; gap weeks are documented as absent observations).

    Scale: the corpus-sized work is the weekly rollup's one shuffle;
    the lag windows and the per-(nation, lag) sums run over the
    calendar-bounded series. Output is nations x ACF_MAX_LAG rows."""
    weekly = _weekly_nation_revenue(spark, sf_dir)
    n_w = Window.partitionBy("nation_name")
    o_w = Window.partitionBy("nation_name").orderBy("wk")
    dev = weekly.select(
        "nation_name",
        "wk",
        (
            F.col("rev_cents") * F.count(F.lit(1)).over(n_w)
            - F.sum("rev_cents").over(n_w)
        ).alias("d"),
    )
    lagged = dev.select(
        "nation_name",
        "d",
        *[
            F.lag("d", k).over(o_w).alias(f"d{k}")
            for k in range(1, ACF_MAX_LAG + 1)
        ],
    )
    num_cols = [
        F.sum(
            F.expr(f"CAST(d AS DECIMAL(20,0)) * CAST(d{k} AS DECIMAL(20,0))")
        ).alias(f"num{k}")
        for k in range(1, ACF_MAX_LAG + 1)
    ]
    agg = lagged.groupBy("nation_name").agg(
        F.sum(F.expr("CAST(d AS DECIMAL(20,0)) * CAST(d AS DECIMAL(20,0))")).alias(
            "den"
        ),
        *num_cols,
    )
    pairs = agg.select(
        "nation_name",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(k).cast("int").alias("lag"),
                        F.expr(
                            f"CAST((num{k} * 1000000) div den AS BIGINT)"
                        ).alias("acf_ppm"),
                    )
                    for k in range(1, ACF_MAX_LAG + 1)
                ]
            )
        ).alias("p"),
    )
    return pairs.select(
        "nation_name", F.col("p.lag").alias("lag"), F.col("p.acf_ppm").alias("acf_ppm")
    ).orderBy("nation_name", "lag")


QUERIES_ENGINE8["weekly_revenue_acf"] = weekly_revenue_acf

ORACLES_ENGINE8["weekly_revenue_acf"] = f"""
WITH weekly AS ({_WEEKLY_SQL}),
dev AS (
  SELECT nation_name, wk,
         CAST(rev_cents * count(*) OVER (PARTITION BY nation_name)
              - SUM(rev_cents) OVER (PARTITION BY nation_name)
              AS HUGEINT) AS d
  FROM weekly
),
lagged AS (
  SELECT nation_name, d,
         {", ".join(
             f"lag(d, {k}) OVER (PARTITION BY nation_name ORDER BY wk)"
             f" AS d{k}" for k in range(1, ACF_MAX_LAG + 1)
         )}
  FROM dev
),
agg AS (
  SELECT nation_name,
         SUM(d * d) AS den,
         {", ".join(
             f"SUM(d * d{k}) AS num{k}"
             for k in range(1, ACF_MAX_LAG + 1)
         )}
  FROM lagged GROUP BY nation_name
)
{" UNION ALL ".join(
    f"SELECT nation_name, CAST({k} AS INT) AS lag,"
    f" CAST((num{k} * 1000000) // den AS BIGINT) AS acf_ppm FROM agg"
    for k in range(1, ACF_MAX_LAG + 1)
)}
ORDER BY nation_name, lag
"""
