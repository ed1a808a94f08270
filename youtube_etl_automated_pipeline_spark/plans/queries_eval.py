"""Evaluation / corpus-planning operators (round 3, batch 5).

- ``cohens_kappa_langid`` — chance-corrected agreement (Cohen's
  kappa) between the engine's marker-based language-ID heuristic
  (``text_lang_id``) and the corpus lang labels: the
  inter-annotator-agreement statistic every labeling pipeline
  reports before trusting a cheap classifier as a filter.
- ``vocab_coverage_curve`` — cumulative token-mass coverage of the
  top-k vocabulary (k = 10/100/1000): the tokenizer-budget planning
  curve ("how big must the vocab be to cover 99% of tokens") that
  pairs with ``vocabulary_topk`` / ``bpe_merge_steps``.
- ``retrieval_rank_eval`` — DCG@10 / ideal-DCG / NDCG@10 and
  reciprocal rank for the BM25 ranking (``bm25_search_docs``)
  against a graded relevance signal (number of distinct query terms
  a document contains): the offline ranking-quality metrics a
  retrieval stack regression-tests on.
- ``psi_revenue_drift`` — population stability index decomposition
  (per-bin smoothed PSI terms) between the early and late order
  eras: the model-risk drift monitor that complements
  ``distribution_drift_l1``.

House bit-exactness pattern throughout: distributed passes reduce to
exact integers (confusion counts, token counts, micro-quantized
per-rank gains); the statistic tails are shared SQL texts or
single-division chains over those integers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from youtube_etl_automated_pipeline_spark.operators.windows import bounded_window
from youtube_etl_automated_pipeline_spark.plans.registry import query
from youtube_etl_automated_pipeline_spark.sources import load_wide


# ------------------------------------------------------------------
# Cohen's kappa. kappa = (po - pe) / (1 - pe) with po = a/N and
# pe = sum_l row_l * col_l / N^2 collapses to the all-integer form
# (a*N - P) / (N^2 - P), P = sum(row*col) — decimal(38,0) products so
# nothing wraps at corpus scale, one final double division shared by
# both engines.

_KAPPA_TAIL = """m AS (
  SELECT actual, sum(n) AS n_row FROM {conf} GROUP BY actual
), p AS (
  SELECT pred, sum(n) AS n_col FROM {conf} GROUP BY pred
), tot AS (
  SELECT CAST(sum(n) AS DECIMAL(38,0)) AS n,
         CAST(sum(CASE WHEN actual = pred THEN n ELSE 0 END)
              AS DECIMAL(38,0)) AS a
  FROM {conf}
), pe AS (
  SELECT CAST(sum(CAST(n_row AS DECIMAL(38,0)) * n_col)
              AS DECIMAL(38,0)) AS pnum
  FROM m JOIN p ON m.actual = p.pred
)
SELECT CAST(n AS BIGINT) AS n_docs,
       CAST(a AS BIGINT) AS n_agree,
       CAST(floor(CAST(a * n - pnum AS DOUBLE)
         / CAST(n * n - pnum AS DOUBLE) * 1e6 + 5e-1) AS BIGINT)
         AS kappa_micro
FROM tot CROSS JOIN pe"""


def _kappa_oracle() -> str:
    from youtube_etl_automated_pipeline_spark.ext.textstats import (
        LANG_PRIORITY,
    )
    from youtube_etl_automated_pipeline_spark.plans.queries_curation import (
        _marker_cnt,
        _predicted_lang_case,
    )

    cnt_cols = ", ".join(
        f"{_marker_cnt(lang)} AS cnt_{lang}" for lang in LANG_PRIORITY
    )
    return f"""
WITH counted AS (
  SELECT lang AS actual, {cnt_cols}
  FROM documents WHERE text IS NOT NULL AND lang IS NOT NULL
), conf AS (
  SELECT actual, {_predicted_lang_case()} AS pred,
         CAST(count(*) AS BIGINT) AS n
  FROM counted GROUP BY 1, 2
), {_KAPPA_TAIL.format(conf="conf")}
"""


@query(oracle=_kappa_oracle())
def cohens_kappa_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row kappa readout: label count, agreement count, and
    Cohen's kappa (micro) between lang labels and the marker
    heuristic.

    Scale shape: ONE map-side-combinable confusion-count agg over the
    corpus (the heuristic is a pure projection — JVM regex codegen,
    no UDF); the kappa tail runs over the tiny (langs x langs)
    relation via engine-shared SQL.
    """
    from youtube_etl_automated_pipeline_spark.ext import textstats as TS

    docs = load_wide(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull() & F.col("lang").isNotNull()
    )
    counts = TS.lang_marker_counts(F.col("text"))
    conf = (
        docs.select(
            F.col("lang").alias("actual"),
            TS.predicted_lang(counts).alias("pred"),
        )
        .groupBy("actual", "pred")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    conf.createOrReplaceTempView("_kappa_conf")
    return spark.sql("WITH " + _KAPPA_TAIL.format(conf="_kappa_conf"))


# ------------------------------------------------------------------
# Vocabulary coverage curve: what share of total token mass the top-k
# vocabulary covers, for the tokenizer-budget ks. The rank/cumsum
# window runs over the VOCAB relation (bounded by distinct tokens,
# min-count-prunable at scale), never the corpus.

VOCAB_KS = (10, 100, 1000)


def _vocab_oracle() -> str:
    from youtube_etl_automated_pipeline_spark.ext.textstats import WS_CLASS

    norm = f"lower(regexp_replace(trim(text), '{WS_CLASS}+', ' ', 'g'))"
    ks = ", ".join(str(k) for k in VOCAB_KS)
    return f"""
WITH toks AS (
  SELECT unnest(list_filter(
           string_split_regex({norm}, '{WS_CLASS}+'), x -> x <> ''))
    AS token
  FROM documents WHERE text IS NOT NULL
), counts AS (
  SELECT token, CAST(count(*) AS BIGINT) AS n FROM toks GROUP BY token
), ranked AS (
  SELECT n,
         CAST(row_number() OVER (ORDER BY n DESC, token ASC) AS INTEGER)
           AS rank
  FROM counts
), cums AS (
  SELECT rank,
         CAST(sum(n) OVER (ORDER BY rank
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS cum
  FROM ranked
), totals AS (
  SELECT CAST(max(rank) AS INTEGER) AS v, CAST(sum(n) AS BIGINT) AS total
  FROM ranked
), ks AS (
  SELECT unnest([{ks}]) AS k, v, total FROM totals
)
SELECT k, least(k, v) AS vocab_used,
       CAST(CAST(cum AS HUGEINT) * 1000000 // total AS BIGINT)
         AS coverage_ppm
FROM ks JOIN cums ON cums.rank = least(ks.k, ks.v)
"""


@query(oracle=_vocab_oracle())
def vocab_coverage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(k, vocab_used, coverage_ppm) for each budget k: the share of
    all token occurrences covered by the k most-frequent tokens
    (frequency-desc, token-asc total order).

    Scale shape: explode + one map-side-combinable (token, n) count;
    the curve only needs coverage at k <= max(VOCAB_KS), so the
    ranking takes the top-1000 tokens via TakeOrderedAndProject (a
    distributed per-partition top-k + tiny driver merge — the
    rrf_fused_search pattern) and the rank/cumsum windows run over
    that <= 1000-row relation. Total mass and vocab size come from
    one scalar aggregate. Round 3 ran both windows UNPARTITIONED over
    the FULL vocab — 10^8-10^9 distinct tokens moved to one partition
    at 100 TB; this shape never materializes more than max-k rows in
    one place. Shares ride decimal(38,0) so token mass at 100 TB
    (~1e13 x 1e6) cannot wrap.
    """
    from youtube_etl_automated_pipeline_spark.ext.textstats import (
        normalized_text,
        tokens,
    )

    docs = load_wide(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    counts = (
        docs.select(
            F.explode(tokens(normalized_text(F.col("text")))).alias("token")
        )
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    top = counts.orderBy(F.desc("n"), F.asc("token")).limit(max(VOCAB_KS))
    w_rank = bounded_window("token").orderBy(F.desc("n"), F.asc("token"))
    ranked = top.select(
        "n", F.row_number().over(w_rank).alias("rank")
    ).withColumn(
        "cum",
        F.sum("n").over(
            bounded_window("rank").orderBy("rank").rowsBetween(
                Window.unboundedPreceding, Window.currentRow
            )
        ),
    )
    totals = counts.agg(
        F.count(F.lit(1)).cast("int").alias("v"),
        F.sum("n").alias("total"),
    )
    ks = totals.select(
        F.explode(F.array(*[F.lit(k) for k in VOCAB_KS])).alias("k"),
        "v",
        "total",
    ).select("k", F.least("k", "v").alias("vocab_used"), "total")
    return ks.join(
        F.broadcast(ranked.select("rank", "cum")),
        ks.vocab_used == F.col("rank"),
    ).select(
        "k",
        "vocab_used",
        F.expr(
            "CAST(CAST(cum AS DECIMAL(38,0)) * 1000000 DIV total AS BIGINT)"
        ).alias("coverage_ppm"),
    )


# ------------------------------------------------------------------
# Retrieval ranking eval: DCG@10 / IDCG / NDCG@10 + reciprocal rank
# for the BM25 ranking, graded relevance = number of distinct query
# terms present. Per-rank gains are micro-quantized BEFORE summing
# (order-free integer DCG); NDCG and RR are single-division chains.

EVAL_AT = 10

_RANK_EVAL_TAIL = """grades AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS g FROM {tf} GROUP BY doc_id
), ranked AS (
  SELECT doc_id, g, rn FROM (
    SELECT s.doc_id, g.g,
           CAST(row_number() OVER
             (ORDER BY s.score_micro DESC, s.doc_id) AS BIGINT) AS rn
    FROM scored s JOIN grades g ON s.doc_id = g.doc_id
  ) WHERE rn <= {at}
), ideal AS (
  SELECT g, irn FROM (
    SELECT g, CAST(row_number() OVER
      (ORDER BY g DESC, doc_id) AS BIGINT) AS irn
    FROM grades
  ) WHERE irn <= {at}
), dcg AS (
  SELECT CAST(sum(CAST(floor(1e6 * CAST(g AS DOUBLE)
           / log2(CAST(rn + 1 AS DOUBLE)) + 5e-1) AS BIGINT))
         AS BIGINT) AS dcg_micro
  FROM ranked
), idcg AS (
  SELECT CAST(sum(CAST(floor(1e6 * CAST(g AS DOUBLE)
           / log2(CAST(irn + 1 AS DOUBLE)) + 5e-1) AS BIGINT))
         AS BIGINT) AS idcg_micro
  FROM ideal
), rr AS (
  SELECT min(rn) AS first_full FROM ranked WHERE g = {n_terms}
)
SELECT dcg_micro, idcg_micro,
       CAST(floor(CAST(dcg_micro AS DOUBLE)
         / CAST(idcg_micro AS DOUBLE) * 1e6 + 5e-1) AS BIGINT)
         AS ndcg_micro,
       COALESCE(CAST(floor(1e6 / CAST(first_full AS DOUBLE) + 5e-1)
         AS BIGINT), 0) AS rr_micro
FROM dcg CROSS JOIN idcg CROSS JOIN rr"""


def _rank_eval_oracle() -> str:
    from youtube_etl_automated_pipeline_spark.plans.queries_retrieval import (
        _BM25_SCORED,
        _bm25_base_cte,
        BM25_TERMS,
    )

    return (
        "WITH "
        + _bm25_base_cte()
        + ", "
        + _BM25_SCORED.format(tf="tf", stats="stats")
        + ", "
        + _RANK_EVAL_TAIL.format(
            tf="tf", at=EVAL_AT, n_terms=len(BM25_TERMS)
        )
    )


@query(oracle=_rank_eval_oracle())
def retrieval_rank_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row ranking-quality readout for the BM25 ranking:
    DCG@10, ideal DCG, NDCG@10, and the reciprocal rank of the first
    fully-relevant document (all query terms present).

    Scale shape: reuses the BM25 tf/stats relations (query-term-
    filtered — never a full posting list); grades are one grouped
    count over that filtered relation; the rank windows run over the
    matched-candidate relation. Gains are micro-quantized per rank
    then integer-summed — partitioning cannot move a bit.
    """
    from youtube_etl_automated_pipeline_spark.plans.queries_retrieval import (
        _BM25_SCORED,
        _bm25_register,
        BM25_TERMS,
    )

    _bm25_register(spark, sf_dir)
    return spark.sql(
        "WITH "
        + _BM25_SCORED.format(tf="_bm25_tf", stats="_bm25_stats")
        + ", "
        + _RANK_EVAL_TAIL.format(
            tf="_bm25_tf", at=EVAL_AT, n_terms=len(BM25_TERMS)
        )
    )


# ------------------------------------------------------------------
# Population stability index — the industry-standard drift monitor
# (complements distribution_drift_l1's L1 with the log-ratio-weighted
# statistic a model-risk review asks for). Fixed-width value bins
# (NOT percentile edges: k/10 interpolation positions are inexact
# binary fractions, so decile boundaries could differ in the last
# bit across engines and flip boundary rows between bins; fixed
# integer-cents widths are bit-exact by construction). Laplace
# smoothing makes every bin share strictly positive, so the log term
# is total — no epsilon hacks, deterministic everywhere.

PSI_SPLIT_DATE = "1998-01-01"  # same era split as distribution_drift_l1
PSI_BIN_CENTS = 2_500_000  # $25k-wide value bins
PSI_MAX_BIN = 19

_PSI_TAIL = """tot AS (
  SELECT sum(n_early) AS tot_e, sum(n_late) AS tot_l,
         count(*) AS nbins
  FROM {cells}
)
SELECT bin, n_early, n_late,
  CAST(floor(1e6
    * ((CAST(n_late + 1 AS DOUBLE) / CAST(tot_l + nbins AS DOUBLE))
       - (CAST(n_early + 1 AS DOUBLE) / CAST(tot_e + nbins AS DOUBLE)))
    * ln((CAST(n_late + 1 AS DOUBLE) / CAST(tot_l + nbins AS DOUBLE))
       / (CAST(n_early + 1 AS DOUBLE) / CAST(tot_e + nbins AS DOUBLE)))
    + 5e-1) AS BIGINT) AS psi_term_micro
FROM {cells} CROSS JOIN tot"""


@query(
    oracle=f"""
WITH cells AS (
  SELECT least(CAST(floor(o_totalprice * 1e2 + 5e-1) AS BIGINT)
               // {PSI_BIN_CENTS}, {PSI_MAX_BIN}) AS bin,
         CAST(sum(CASE WHEN o_orderdate < '{PSI_SPLIT_DATE}'
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_early,
         CAST(sum(CASE WHEN o_orderdate < '{PSI_SPLIT_DATE}'
                       THEN 0 ELSE 1 END) AS BIGINT) AS n_late
  FROM orders
  WHERE o_totalprice IS NOT NULL
  GROUP BY 1
), {_PSI_TAIL.format(cells="cells")}
"""
)
def psi_revenue_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-bin PSI decomposition of order-value drift between the
    early (< PSI_SPLIT_DATE) and late eras: (bin, era counts, the
    bin's smoothed PSI term in micro units). Total PSI = sum of
    term column — left to the consumer so the per-bin diagnosis
    (WHICH value band drifted) stays in the result.

    Scale shape: one map-side-combinable (bin, era-counts) agg over
    the orders scan; the PSI tail is engine-shared SQL over the
    20-row bin relation. NULL order dates land in the late era
    exactly like the L1 drift operator. NULL prices are filtered
    in BOTH twins: without the filter `least(NULL div w, 19)`
    silently routes unknown-price orders into the top ($475k+) bin
    because both engines' least() ignores NULLs — a drift histogram
    must not count unknowns as extreme values, and relying on
    least()'s null-skip staying aligned across engine versions is
    fragile.
    """
    orders = load_wide(spark, sf_dir, "orders")
    early = F.col("o_orderdate") < PSI_SPLIT_DATE
    # integer `div` twin of the oracle's `//` — never a double ratio,
    # which could round a boundary value into the next bin
    cells = (
        orders.where(F.col("o_totalprice").isNotNull())
        .select(
            F.expr(
                "least(CAST(floor(o_totalprice * 1e2 + 5e-1) AS BIGINT)"
                f" div {PSI_BIN_CENTS}, {PSI_MAX_BIN})"
            ).alias("bin"),
            F.when(early, F.lit(1)).otherwise(F.lit(0)).alias("is_early"),
        )
        .groupBy("bin")
        .agg(
            F.sum("is_early").alias("n_early"),
            F.sum(F.lit(1) - F.col("is_early")).alias("n_late"),
        )
    )
    cells.createOrReplaceTempView("_psi_cells")
    return spark.sql("WITH " + _PSI_TAIL.format(cells="_psi_cells"))
