"""Ranked retrieval and model-based corpus-quality operators
(round 3, batch 3).

- ``bm25_search_docs`` — Okapi BM25 ranked retrieval for a fixed
  query-term set over the documents table: the serving-side twin of
  the existing ``boolean_search_docs`` / ``phrase_search_docs`` /
  ``tfidf_top_terms`` family (reference parity note: the reference
  pipeline has no retrieval surface at all — reference:
  Python-pipeline/dataprocessing1.py stops at grouped rollups — so
  this is extension surface for the LLM-data use case, where BM25
  ranking drives retrieval-based decontamination and RAG eval sets).
- ``lm_perplexity_buckets`` — CCNet-style model-based quality
  filter: train an add-one-smoothed bigram language model on a
  deterministic md5 split of the corpus, score held-out documents by
  average negative log-likelihood (micro-nats), and report the
  perplexity-band census a curation pipeline thresholds on.
- ``auc_mann_whitney`` — exact ROC-AUC of a cheap quality signal
  ("the"-marker count) against a binary label (lang = 'en') via the
  tie-aware Mann-Whitney rank statistic: the evaluation primitive for
  every learned quality filter (pairs with
  ``quality_logreg_scores`` / ``logreg_calibration_bins``).

Bit-exactness strategy (house pattern): every distributed pass
reduces to exact integers (term counts, document lengths, 2U rank
numerators, micro-nat-quantized log-likelihoods) so partial
aggregation order cannot matter; float chains run once per tiny
relation row over identical SQL text / expression chains in both
engines, then are fixed-point floored.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from youtube_etl_automated_pipeline_spark.ext.similarity import (
    dot_unrolled_sql,
    embedding_dim,
    unit,
)
from youtube_etl_automated_pipeline_spark.operators.windows import bounded_window
from youtube_etl_automated_pipeline_spark.plans.registry import query
from youtube_etl_automated_pipeline_spark.sources import load_wide


# ------------------------------------------------------------------
# BM25 ranked retrieval.
#
# The heavy pass produces two exact-integer relations:
#   tf(doc_id, term, tf, dl)      — one row per (matching doc, term)
#   stats(term, df, n_docs, sum_dl) — one row per query term
# and the scoring tail is ONE shared SQL text run verbatim by both
# engines over those relations, so the idf/tf-normalization double
# chain is bit-identical. Per-(doc,term) contributions are floored to
# integer micro-units BEFORE the per-doc sum, which keeps the final
# score an order-independent integer sum (same micro-nat trick as
# naive_bayes_lang_confusion). Ordering/limit runs on the quantized
# integer score with a doc_id tiebreak — a total order, so top-k is
# deterministic and engine-independent.

BM25_TERMS = ("spark", "merge", "vector")
BM25_TOPK = 10

# K1 = 1.2 and B = 0.75 are written as exact double literals (12e-1,
# 75e-2) inside the shared text so both engines parse the identical
# constant.
_BM25_SCORED = """contrib AS (
  SELECT t.doc_id,
    CAST(floor(1e6
      * ln((CAST(s.n_docs AS DOUBLE) - CAST(s.df AS DOUBLE) + 5e-1)
           / (CAST(s.df AS DOUBLE) + 5e-1) + 1e0)
      * (CAST(t.tf AS DOUBLE) * (12e-1 + 1e0))
      / (CAST(t.tf AS DOUBLE) + 12e-1
         * (1e0 - 75e-2 + 75e-2 * CAST(t.dl AS DOUBLE)
            * CAST(s.n_docs AS DOUBLE) / CAST(s.sum_dl AS DOUBLE)))
      + 5e-1) AS BIGINT) AS c_micro
  FROM {tf} t JOIN {stats} s ON t.term = s.term
), scored AS (
  SELECT doc_id, CAST(sum(c_micro) AS BIGINT) AS score_micro,
         count(*) AS n_terms
  FROM contrib GROUP BY doc_id
)"""

_BM25_TAIL = (
    _BM25_SCORED
    + """
SELECT doc_id, n_terms, score_micro
FROM scored
ORDER BY score_micro DESC, doc_id
LIMIT {topk}"""
)


def _bm25_register(spark: SparkSession, sf_dir: str) -> None:
    """Build and register the exact-integer tf/stats relations.

    Both are memo-persisted per sf_dir: tf is the query-term posting
    subset (exactly what a retrieval system materializes as its
    index), and three gate queries (bm25_search_docs,
    rrf_fused_search, retrieval_rank_eval) share it — without the
    memo each one re-tokenizes the full corpus.
    """
    from youtube_etl_automated_pipeline_spark.ext.textstats import (
        normalized_text,
        tokens,
    )
    from youtube_etl_automated_pipeline_spark.operators.cache_registry import (
        memo_persist,
    )

    def build_tf() -> DataFrame:
        docs = load_wide(spark, sf_dir, "documents").filter(
            F.col("text").isNotNull()
        )
        toked = docs.select(
            "doc_id", tokens(normalized_text(F.col("text"))).alias("toks")
        ).select("doc_id", "toks", F.size("toks").alias("dl"))
        corpus = toked.agg(
            F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("sum_dl")
        )
        tf = (
            toked.select("doc_id", "dl", F.explode("toks").alias("term"))
            .filter(F.col("term").isin(*BM25_TERMS))
            .groupBy("doc_id", "dl", "term")
            .agg(F.count(F.lit(1)).alias("tf"))
        )
        # fold the 1-row corpus stats in so ONE persisted relation
        # carries everything downstream queries need
        return tf.crossJoin(F.broadcast(corpus))

    wide = memo_persist(spark, ("bm25_tf", sf_dir), build_tf)
    tf = wide.select("doc_id", "dl", "term", "tf")
    stats = (
        wide.groupBy("term", "n_docs", "sum_dl")
        .agg(F.count(F.lit(1)).alias("df"))
        .select("term", "df", "n_docs", "sum_dl")
    )
    tf.createOrReplaceTempView("_bm25_tf")
    stats.createOrReplaceTempView("_bm25_stats")


def _bm25_base_cte() -> str:
    """DuckDB CTE chain producing the same tf/stats relations."""
    from youtube_etl_automated_pipeline_spark.ext.textstats import WS_CLASS

    terms_list = ", ".join(f"'{t}'" for t in BM25_TERMS)
    norm = f"lower(regexp_replace(trim(text), '{WS_CLASS}+', ' ', 'g'))"
    return f"""toked AS (
  SELECT doc_id,
         list_filter(string_split_regex({norm}, '{WS_CLASS}+'),
                     x -> x <> '') AS toks
  FROM documents WHERE text IS NOT NULL
), dls AS (
  SELECT doc_id, len(toks) AS dl, toks FROM toked
), corpus AS (
  SELECT count(*) AS n_docs, sum(dl) AS sum_dl FROM dls
), tf AS (
  SELECT doc_id, dl, term, CAST(count(*) AS BIGINT) AS tf
  FROM (SELECT doc_id, dl, unnest(toks) AS term FROM dls)
  WHERE term IN ({terms_list})
  GROUP BY doc_id, dl, term
), stats AS (
  SELECT term, CAST(count(*) AS BIGINT) AS df, n_docs, sum_dl
  FROM tf CROSS JOIN corpus
  GROUP BY term, n_docs, sum_dl
)"""


@query(
    oracle="WITH "
    + _bm25_base_cte()
    + ", "
    + _BM25_TAIL.format(tf="tf", stats="stats", topk=BM25_TOPK)
)
def bm25_search_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k documents by Okapi BM25 for the fixed query-term set.

    Scale shape: the corpus-sized work is one explode + a grouped
    count RESTRICTED to query terms (the filter lands before the
    shuffle, so the tf relation carries |q| rows per matching doc,
    not the whole posting list), plus one map-side-combinable (N,
    sum dl) corpus agg. The per-term stats relation is |q| rows and
    broadcast-joins into the contribution projection; top-k is
    TakeOrdered on an integer score — no global sort at any scale.
    """
    _bm25_register(spark, sf_dir)
    return spark.sql(
        "WITH "
        + _BM25_TAIL.format(tf="_bm25_tf", stats="_bm25_stats", topk=BM25_TOPK)
    )


# ------------------------------------------------------------------
# CCNet-style bigram-LM perplexity filter.
#
# Train an add-one-smoothed bigram LM on the md5-bucket train split
# (the same growth-stable split pattern as train_val_test_split /
# naive_bayes_lang_confusion), score each held-out document by its
# average negative log-likelihood in micro-nats (exact integers all
# the way: per-bigram-type NLLs are floored once at grid-build time,
# per-doc totals are integer sums, the average is integer division),
# and report the census of 0.5-nat perplexity bands — the artifact a
# curation pipeline thresholds on ("drop everything above band B").

LM_TRAIN_PCT = 80
LM_BAND_MICRO = 500_000  # 0.5 nat per band


def _lm_oracle() -> str:
    from youtube_etl_automated_pipeline_spark.ext.textstats import WS_CLASS

    norm = f"lower(regexp_replace(trim(text), '{WS_CLASS}+', ' ', 'g'))"
    return f"""
WITH toked AS (
  SELECT doc_id,
         CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)
           % 100 AS bucket,
         list_filter(string_split_regex({norm}, '{WS_CLASS}+'),
                     x -> x <> '') AS toks
  FROM documents WHERE text IS NOT NULL
), bigr AS (
  -- DuckDB zips multiple unnests in one select list positionally,
  -- so slicing [1..n-1] and [2..n] yields the bigram pairs.
  SELECT doc_id, bucket,
         unnest(list_slice(toks, 1, len(toks) - 1)) AS w1,
         unnest(list_slice(toks, 2, len(toks))) AS w2
  FROM toked
), train AS (
  SELECT * FROM bigr WHERE bucket < {LM_TRAIN_PCT}
), test AS (
  SELECT * FROM bigr WHERE bucket >= {LM_TRAIN_PCT}
), c_big AS (
  SELECT w1, w2, CAST(count(*) AS BIGINT) AS c_bw
  FROM train GROUP BY w1, w2
), c_ctx AS (
  SELECT w1, CAST(sum(c_bw) AS BIGINT) AS c_w FROM c_big GROUP BY w1
), vrow AS (
  SELECT count(DISTINCT w2) + 1 AS v FROM c_big
), grid AS (
  SELECT w1, w2,
    CAST(floor(1e6 * ln(CAST(c_w + v AS DOUBLE)
      / CAST(c_bw + 1 AS DOUBLE)) + 5e-1) AS BIGINT) AS nll_bw
  FROM c_big JOIN c_ctx USING (w1) CROSS JOIN vrow
), ctx_default AS (
  SELECT w1,
    CAST(floor(1e6 * ln(CAST(c_w + v AS DOUBLE)) + 5e-1) AS BIGINT)
      AS nll_ctx
  FROM c_ctx CROSS JOIN vrow
), glob_default AS (
  SELECT CAST(floor(1e6 * ln(CAST(v AS DOUBLE)) + 5e-1) AS BIGINT)
    AS nll_glob
  FROM vrow
), tok AS (
  SELECT doc_id, w1, w2, CAST(count(*) AS BIGINT) AS cnt
  FROM test GROUP BY doc_id, w1, w2
), per_doc AS (
  SELECT doc_id,
    CAST(sum(cnt * COALESCE(nll_bw, nll_ctx, nll_glob)) AS BIGINT)
      AS total_nll,
    CAST(sum(cnt) AS BIGINT) AS n_bigrams
  FROM tok
  LEFT JOIN grid USING (w1, w2)
  LEFT JOIN ctx_default USING (w1)
  CROSS JOIN glob_default
  GROUP BY doc_id
)
SELECT (total_nll // n_bigrams) // {LM_BAND_MICRO} AS ppl_band,
       count(*) AS n_docs
FROM per_doc GROUP BY 1
"""


@query(oracle=_lm_oracle())
def lm_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-band held-out document census under a train-split bigram LM.

    Scale shape: bigram generation is an ARRAY-LOCAL transform (no
    window, no self-join — `transform` over the token array emits
    (w1, w2) pairs inside the row before explode), so the corpus
    pass is explode + two map-side-combinable grouped counts. The
    likelihood grid is bigram-vocab-bounded and joins on (w1, w2);
    zipf-hot bigrams partial-aggregate before the shuffle. Scoring
    is one integer sum per doc. Docs with < 2 tokens have no bigrams
    and are out of scope (no model-scorable content).
    """
    from youtube_etl_automated_pipeline_spark.ext.textstats import (
        md5_long,
        normalized_text,
        tokens,
    )

    docs = load_wide(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    toked = docs.select(
        "doc_id",
        (md5_long(F.col("doc_id").cast("string")) % 100).alias("bucket"),
        tokens(normalized_text(F.col("text"))).alias("toks"),
    )

    def bigrams(split: DataFrame) -> DataFrame:
        return split.select(
            "doc_id",
            F.explode(
                F.expr(
                    "filter(transform(toks, (x, i) ->"
                    " IF(i < size(toks) - 1,"
                    " named_struct('w1', x, 'w2', toks[i + 1]), NULL)),"
                    " s -> s IS NOT NULL)"
                )
            ).alias("bg"),
        ).select("doc_id", F.col("bg.w1"), F.col("bg.w2"))

    # split BEFORE tokenize/explode: the train pass explodes only the
    # 80% split and the scoring pass only the 20% split — one corpus
    # pass total, not two (the filter on a per-doc hash commutes with
    # bigram generation).
    train = bigrams(toked.filter(F.col("bucket") < LM_TRAIN_PCT))
    test = bigrams(toked.filter(F.col("bucket") >= LM_TRAIN_PCT))

    c_big = train.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c_bw"))
    c_ctx = c_big.groupBy("w1").agg(F.sum("c_bw").alias("c_w"))
    vrow = c_big.agg(
        (F.count_distinct(F.col("w2")) + F.lit(1)).alias("v")
    )

    # NLLs are ln of a (>1) exact-integer ratio, floored to micro-nats
    # once here — identical expression text to the oracle's.
    grid = (
        c_big.join(c_ctx, "w1")
        .crossJoin(F.broadcast(vrow))
        .select(
            "w1",
            "w2",
            F.floor(
                F.lit(1e6)
                * F.log(
                    (F.col("c_w") + F.col("v")).cast("double")
                    / (F.col("c_bw") + F.lit(1)).cast("double")
                )
                + F.lit(0.5)
            ).alias("nll_bw"),
        )
    )
    ctx_default = c_ctx.crossJoin(F.broadcast(vrow)).select(
        "w1",
        F.floor(
            F.lit(1e6) * F.log((F.col("c_w") + F.col("v")).cast("double"))
            + F.lit(0.5)
        ).alias("nll_ctx"),
    )
    glob_default = vrow.select(
        F.floor(
            F.lit(1e6) * F.log(F.col("v").cast("double")) + F.lit(0.5)
        ).alias("nll_glob")
    )

    tok = test.groupBy("doc_id", "w1", "w2").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    per_doc = (
        tok.join(grid, ["w1", "w2"], "left")
        .join(ctx_default, "w1", "left")
        .crossJoin(F.broadcast(glob_default))
        .groupBy("doc_id")
        .agg(
            F.sum(
                F.col("cnt")
                * F.coalesce(
                    F.col("nll_bw"), F.col("nll_ctx"), F.col("nll_glob")
                )
            ).alias("total_nll"),
            F.sum("cnt").alias("n_bigrams"),
        )
    )
    return (
        per_doc.select(
            F.expr(
                f"(total_nll div n_bigrams) div {LM_BAND_MICRO}"
            ).alias("ppl_band")
        )
        .groupBy("ppl_band")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


def _auc_oracle() -> str:
    from youtube_etl_automated_pipeline_spark.ext.textstats import WS_CLASS

    norm = f"lower(regexp_replace(trim(text), '{WS_CLASS}+', ' ', 'g'))"
    return f"""
WITH scored AS (
  SELECT len(regexp_extract_all({norm}, '\\bthe\\b')) AS s,
         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
  FROM documents WHERE text IS NOT NULL AND lang IS NOT NULL
), per_value AS (
  SELECT s, CAST(sum(pos) AS BIGINT) AS n_pos_v,
         CAST(sum(1 - pos) AS BIGINT) AS n_neg_v
  FROM scored GROUP BY s
), cum AS (
  SELECT s, n_pos_v, n_neg_v,
         CAST(sum(n_neg_v) OVER (ORDER BY s
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           - n_neg_v AS BIGINT) AS neg_below
  FROM per_value
)
SELECT CAST(sum(n_pos_v) AS BIGINT) AS n_pos,
       CAST(sum(n_neg_v) AS BIGINT) AS n_neg,
       CAST(sum(n_pos_v * (2 * neg_below + n_neg_v)) AS BIGINT) AS u2,
       CAST(floor(CAST(sum(n_pos_v * (2 * neg_below + n_neg_v)) AS DOUBLE)
         / (2e0 * CAST(sum(n_pos_v) AS DOUBLE)
            * CAST(sum(n_neg_v) AS DOUBLE)) * 1e6 + 5e-1) AS BIGINT)
         AS auc_micro
FROM cum
"""


# ------------------------------------------------------------------
# Exact tie-aware ROC-AUC via the Mann-Whitney rank statistic.
#
# AUC = (sum over positives of [#negatives below + #tied/2]) /
# (n_pos * n_neg). Multiplying by 2 clears the halves:
#   2U = sum over score values v of  pos_v * (2 * cum_neg_below(v)
#                                             + neg_v)
# — an exact integer computed from one grouped count per score value
# plus one cumulative window over the tiny per-value relation. The
# only float op is the final 2U / (2 * n_pos * n_neg), a single
# division from exact integers (identical in both engines).


@query(oracle=_auc_oracle())
def auc_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROC-AUC of the "the"-marker-count quality signal for the
    label lang = 'en' (one output row: n_pos, n_neg, u2, auc).

    Scale shape: the corpus pass is one projection (regex count —
    JVM codegen, no UDF) plus one map-side-combinable grouped count
    to per-score-value rows. The cumulative window runs over
    O(distinct score values) rows — bounded by max marker count, not
    corpus size — so the unpartitioned window is a deliberate
    tiny-relation stage, not a scale hazard.
    """
    from youtube_etl_automated_pipeline_spark.ext.textstats import (
        marker_count,
        normalized_text,
    )

    docs = load_wide(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull() & F.col("lang").isNotNull()
    )
    per_value = (
        docs.select(
            marker_count(normalized_text(F.col("text")), "the").alias("s"),
            (F.col("lang") == "en").cast("long").alias("pos"),
        )
        .groupBy("s")
        .agg(
            F.sum("pos").alias("n_pos_v"),
            F.sum(F.lit(1) - F.col("pos")).alias("n_neg_v"),
        )
    )
    w = bounded_window("s").orderBy("s").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = per_value.select(
        "s",
        "n_pos_v",
        "n_neg_v",
        (F.sum("n_neg_v").over(w) - F.col("n_neg_v")).alias("neg_below"),
    )
    return cum.agg(
        F.sum("n_pos_v").alias("n_pos"),
        F.sum("n_neg_v").alias("n_neg"),
        F.sum(
            F.col("n_pos_v")
            * (F.lit(2) * F.col("neg_below") + F.col("n_neg_v"))
        ).alias("u2"),
    ).select(
        "n_pos",
        "n_neg",
        "u2",
        F.floor(
            F.col("u2").cast("double")
            / (
                F.lit(2e0)
                * F.col("n_pos").cast("double")
                * F.col("n_neg").cast("double")
            )
            * F.lit(1e6)
            + F.lit(0.5)
        ).alias("auc_micro"),
    )


# ------------------------------------------------------------------
# Reciprocal-rank fusion: combine the BM25 relevance ranking with an
# independent quality ranking ("the"-marker count — stand-in for any
# model-based quality prior) via RRF(d) = sum_r 1/(60 + rank_r(d)),
# the standard zero-tuning ranker combiner (Cormack et al.). The
# per-ranking reciprocal is an EXACT integer: round(1e6/(60+rank)) =
# (2e6 + (60+rank)) div (2*(60+rank)) — no floats anywhere in the
# operator, so fusion is bit-exact by construction.

RRF_K = 60
RRF_C = 50  # candidates taken from each ranking
RRF_TOPK = 10


def _rrf_micro(rank_col: str) -> str:
    """Shared SQL: round(1e6 / (RRF_K + rank)) in pure integers."""
    d = f"({RRF_K} + {rank_col})"
    return f"((2000000 + {d}) div (2 * {d}))"


def _rrf_oracle() -> str:
    from youtube_etl_automated_pipeline_spark.ext.textstats import WS_CLASS

    norm = f"lower(regexp_replace(trim(text), '{WS_CLASS}+', ' ', 'g'))"
    # DuckDB's integer division operator is //
    rel_micro = _rrf_micro("rank_rel").replace(" div ", " // ")
    qual_micro = _rrf_micro("rank_qual").replace(" div ", " // ")
    return (
        "WITH "
        + _bm25_base_cte()
        + ", "
        + _BM25_SCORED.format(tf="tf", stats="stats")
        + f""", rel AS (
  SELECT doc_id, CAST(rn AS BIGINT) AS rank_rel FROM (
    SELECT doc_id, row_number() OVER
      (ORDER BY score_micro DESC, doc_id) AS rn
    FROM scored
  ) WHERE rn <= {RRF_C}
), qual AS (
  SELECT doc_id, CAST(rn AS BIGINT) AS rank_qual FROM (
    SELECT doc_id, row_number() OVER (ORDER BY q DESC, doc_id) AS rn
    FROM (
      SELECT doc_id,
             len(regexp_extract_all({norm}, '\\bthe\\b')) AS q
      FROM documents WHERE text IS NOT NULL
    )
  ) WHERE rn <= {RRF_C}
), fused AS (
  SELECT COALESCE(rel.doc_id, qual.doc_id) AS doc_id,
         rank_rel, rank_qual,
         COALESCE({rel_micro}, 0) + COALESCE({qual_micro}, 0)
           AS rrf_micro
  FROM rel FULL OUTER JOIN qual ON rel.doc_id = qual.doc_id
)
SELECT doc_id, rank_rel, rank_qual, rrf_micro
FROM fused ORDER BY rrf_micro DESC, doc_id LIMIT {RRF_TOPK}"""
    )


@query(oracle=_rrf_oracle())
def rrf_fused_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k docs by reciprocal-rank fusion of BM25 relevance and a
    quality ranking (truncated to the top ``RRF_C`` of each).

    Scale shape: each ranking is reduced to its top-C candidates via
    TakeOrdered on exact-integer keys BEFORE any window — the
    row_number that assigns ranks runs over C rows, never the corpus
    — so the fusion join touches at most 2C rows at any data size.
    """
    from youtube_etl_automated_pipeline_spark.ext.textstats import (
        marker_count,
        normalized_text,
    )

    _bm25_register(spark, sf_dir)
    rel_c = (
        spark.sql(
            "WITH "
            + _BM25_SCORED.format(tf="_bm25_tf", stats="_bm25_stats")
            + " SELECT doc_id, score_micro FROM scored"
        )
        .orderBy(F.desc("score_micro"), F.asc("doc_id"))
        .limit(RRF_C)
    )
    w_rel = bounded_window("doc_id").orderBy(F.desc("score_micro"), F.asc("doc_id"))
    rel = rel_c.select(
        "doc_id", F.row_number().over(w_rel).cast("long").alias("rank_rel")
    )

    qual_c = (
        load_wide(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .select(
            "doc_id",
            marker_count(normalized_text(F.col("text")), "the").alias("q"),
        )
        .orderBy(F.desc("q"), F.asc("doc_id"))
        .limit(RRF_C)
    )
    w_q = bounded_window("doc_id").orderBy(F.desc("q"), F.asc("doc_id"))
    qual = qual_c.select(
        "doc_id", F.row_number().over(w_q).cast("long").alias("rank_qual")
    )

    fused = rel.join(qual, "doc_id", "full").select(
        "doc_id",
        "rank_rel",
        "rank_qual",
        (
            F.coalesce(F.expr(_rrf_micro("rank_rel")), F.lit(0))
            + F.coalesce(F.expr(_rrf_micro("rank_qual")), F.lit(0))
        ).alias("rrf_micro"),
    )
    return fused.orderBy(F.desc("rrf_micro"), F.asc("doc_id")).limit(
        RRF_TOPK
    )


# --- MMR re-ranking --------------------------------------------------
MMR_QUERY_ID = 7
MMR_POOL = 10  # candidate pool from the exact top-C pass
MMR_K = 4  # greedy selections (unrolled in both engines)
MMR_LAMBDA_NUM, MMR_LAMBDA_DEN = 7, 10  # λ = 0.7 as an exact rational


def _sql_norm_elem(arr: str) -> str:
    return (
        f"sqrt(list_sum(list_transform(generate_series(1, len({arr})),"
        f" k -> CAST({arr}[k] AS DOUBLE) * CAST({arr}[k] AS DOUBLE))))"
    )


def _sql_micro_unit_dot(a: str, b: str) -> str:
    """Twin of unit()+dot_unrolled()+micro floor (same as engine5's
    _micro_cos — duplicated locally to keep each module freestanding)."""
    na, nb = _sql_norm_elem(a), _sql_norm_elem(b)
    dot = (
        f"list_sum(list_transform(generate_series(1, len({a})),"
        f" k -> (CAST({a}[k] AS DOUBLE) / {na}) * (CAST({b}[k] AS DOUBLE) / {nb})))"
    )
    raw = f"CASE WHEN {na} > 0 AND {nb} > 0 THEN {dot} ELSE 0 END"
    return f"CAST(floor(({raw}) * 1000000.0 + 0.5) AS BIGINT)"


def _mmr_oracle() -> str:
    lam, lam1 = MMR_LAMBDA_NUM, MMR_LAMBDA_DEN - MMR_LAMBDA_NUM
    steps = []
    steps.append(f"""
sel1 AS MATERIALIZED (
  SELECT cand_id, 1 AS sel_rank, rel_micro * {lam} AS mmr_num
  FROM pool ORDER BY rel_micro DESC, cand_id ASC LIMIT 1
)""")
    prev_union = "SELECT cand_id, sel_rank, mmr_num FROM sel1"
    for step in range(2, MMR_K + 1):
        steps.append(f"""
seln{step} AS MATERIALIZED ({prev_union}),
sel{step} AS MATERIALIZED (
  SELECT p.cand_id, {step} AS sel_rank,
         p.rel_micro * {lam}
           - coalesce((SELECT max(s.sim_micro) FROM sims s
                       WHERE s.ca = p.cand_id
                         AND s.cb IN (SELECT cand_id FROM seln{step})), 0)
             * {lam1} AS mmr_num
  FROM pool p
  WHERE p.cand_id NOT IN (SELECT cand_id FROM seln{step})
  ORDER BY mmr_num DESC, p.cand_id ASC LIMIT 1
)""")
        prev_union += f" UNION ALL SELECT cand_id, sel_rank, mmr_num FROM sel{step}"
    return f"""
WITH q AS (
  SELECT embedding AS q_emb FROM embeddings WHERE vec_id = {MMR_QUERY_ID}
),
corpus AS (
  SELECT vec_id AS cand_id, embedding AS c_emb FROM embeddings
  WHERE vec_id != {MMR_QUERY_ID}
),
pool AS MATERIALIZED (
  SELECT cand_id, c_emb,
         {_sql_micro_unit_dot("q_emb", "c_emb")} AS rel_micro
  FROM corpus CROSS JOIN q
  ORDER BY rel_micro DESC, cand_id ASC LIMIT {MMR_POOL}
),
sims AS MATERIALIZED (
  SELECT a.cand_id AS ca, b.cand_id AS cb,
         {_sql_micro_unit_dot("a.c_emb", "b.c_emb")} AS sim_micro
  FROM pool a JOIN pool b ON a.cand_id != b.cand_id
),
{",".join(steps)}
SELECT sel_rank, s.cand_id, p.rel_micro, s.mmr_num AS mmr_score_x10
FROM ({prev_union}) s JOIN pool p ON s.cand_id = p.cand_id
ORDER BY sel_rank
"""


@query(oracle=_mmr_oracle())
def retrieval_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR diversity re-ranking over a bounded candidate pool: after
    exact top-``MMR_POOL`` retrieval for one query vector, greedily
    pick ``MMR_K`` results maximizing

        mmr(c) = λ·rel(c) − (1−λ)·max_{s∈S} sim(c, s)

    (Carbonell & Goldstein 1998) — near-duplicate candidates are
    penalized by their similarity to already-selected results, the
    post-ANN diversity pass of a retrieval stack.

    Scale shape: the DISTRIBUTED work is candidate generation (the
    broadcast-query corpus scan of `similarity_bruteforce_topk`) and
    the pool's pairwise similarities; the greedy argmax loop is
    inherently sequential over a CONSTANT-size pool, so pool + sims
    collapse to ONE row of sorted arrays (~100 small integers) and
    the K-step greedy runs inside a single Arrow kernel task — build
    stays lazy, nothing collects to the driver. Composing the K
    steps as nested limit-1 DataFrame branches instead was measured
    3.6s of pure stage overhead for 10 rows — the wrong side of the
    constant-vs-distributed line. Scores are exact integers:
    mmr·DEN = NUM·rel_micro − (DEN−NUM)·max_sim_micro.

    Exactness: rel/sim micro-cosines use the proven unit-dot kernel;
    argmax ties break on lowest vec_id in both engines.
    """
    from youtube_etl_automated_pipeline_spark.operators.cache_registry import (
        memo_persist,
    )

    emb = load_wide(spark, sf_dir, "embeddings")
    dim = embedding_dim(emb)
    q = emb.filter(F.col("vec_id") == MMR_QUERY_ID).select(
        unit(F.col("embedding")).alias("q_u")
    )
    corpus = emb.filter(F.col("vec_id") != MMR_QUERY_ID).select(
        F.col("vec_id").alias("cand_id"), unit(F.col("embedding")).alias("c_u")
    )
    rel = F.floor(
        F.expr(dot_unrolled_sql("q_u", "c_u", dim)) * 1e6 + F.lit(0.5)
    ).cast("long")
    # persist the POOL-row candidate relation: the greedy loop's plan
    # references it O(K^2) times (every step's remaining/scored/pick
    # branch) — without the persist each branch would re-run the
    # corpus scoring scan
    pool = memo_persist(
        spark,
        ("mmr_pool", sf_dir),
        lambda: corpus.crossJoin(F.broadcast(q))
        .select("cand_id", "c_u", rel.alias("rel_micro"))
        .orderBy(F.desc("rel_micro"), F.asc("cand_id"))
        .limit(MMR_POOL),
    )
    # pairwise candidate similarities within the bounded pool
    pa = pool.select(F.col("cand_id").alias("ca"), F.col("c_u").alias("ua"))
    pb = pool.select(F.col("cand_id").alias("cb"), F.col("c_u").alias("ub"))
    sim = F.floor(
        F.expr(dot_unrolled_sql("ua", "ub", dim)) * 1e6 + F.lit(0.5)
    ).cast("long")
    sims = memo_persist(
        spark,
        ("mmr_sims", sf_dir),
        lambda: pa.join(F.broadcast(pb), F.col("ca") != F.col("cb"))
        .select("ca", "cb", sim.alias("sim_micro")),
    )
    import pandas as pd

    lam, lam1 = MMR_LAMBDA_NUM, MMR_LAMBDA_DEN - MMR_LAMBDA_NUM
    # collapse pool + sims to ONE row of sorted arrays (sort_array
    # pins determinism — collect_list order is partition-dependent),
    # then run the sequential greedy inside a single Arrow kernel
    # task. Build stays fully lazy (no jobs until an action), and the
    # constant-size rerank never ships through a deep limit-1 plan.
    pool_row = pool.agg(
        F.sort_array(
            F.collect_list(F.struct("cand_id", "rel_micro"))
        ).alias("pool")
    )
    sims_row = sims.agg(
        F.sort_array(
            F.collect_list(F.struct("ca", "cb", "sim_micro"))
        ).alias("simlist")
    )
    one = pool_row.crossJoin(F.broadcast(sims_row))

    def greedy(batches):
        for pdf in batches:
            for _, row in pdf.iterrows():
                rel_of = {p["cand_id"]: p["rel_micro"] for p in row["pool"]}
                sim_of = {
                    (s["ca"], s["cb"]): s["sim_micro"]
                    for s in row["simlist"]
                }
                chosen: list[int] = []
                out = []
                for step in range(1, MMR_K + 1):
                    best = None
                    for cid in sorted(rel_of):
                        if cid in chosen:
                            continue
                        max_sim = max(
                            (sim_of[(cid, s)] for s in chosen), default=None
                        )
                        num = rel_of[cid] * lam - (
                            max_sim * lam1 if max_sim is not None else 0
                        )
                        # argmax, lowest-cand_id tiebreak (asc scan)
                        if best is None or num > best[1]:
                            best = (cid, num)
                    out.append((step, best[0], rel_of[best[0]], best[1]))
                    chosen.append(best[0])
                yield pd.DataFrame(
                    out,
                    columns=[
                        "sel_rank", "cand_id", "rel_micro", "mmr_score_x10"
                    ],
                )

    return one.mapInPandas(
        greedy,
        schema=(
            "sel_rank int, cand_id long, rel_micro long, mmr_score_x10 long"
        ),
    ).orderBy("sel_rank")


# --- round-5 batch 4 -------------------------------------------------
MAXSIM_N_Q = 4  # multi-vector query: vec_ids [0, 4) form one "query doc"


def _sql_norm_elem5c(arr: str) -> str:
    return (
        f"sqrt(list_sum(list_transform(generate_series(1, len({arr})),"
        f" k -> CAST({arr}[k] AS DOUBLE) * CAST({arr}[k] AS DOUBLE))))"
    )


def _sql_micro_unit_dot5c(a: str, b: str) -> str:
    na, nb = _sql_norm_elem5c(a), _sql_norm_elem5c(b)
    dot = (
        f"list_sum(list_transform(generate_series(1, len({a})),"
        f" k -> (CAST({a}[k] AS DOUBLE) / {na}) * (CAST({b}[k] AS DOUBLE) / {nb})))"
    )
    raw = f"CASE WHEN {na} > 0 AND {nb} > 0 THEN {dot} ELSE 0 END"
    return f"CAST(floor(({raw}) * 1000000.0 + 0.5) AS BIGINT)"


@query(
    oracle=f"""
WITH q AS (
  SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings
  WHERE vec_id < {MAXSIM_N_Q}
),
corpus AS (
  SELECT label, embedding AS c_emb FROM embeddings
  WHERE vec_id >= {MAXSIM_N_Q} AND label IS NOT NULL
),
best AS (
  SELECT label, q_id,
    max({_sql_micro_unit_dot5c("q_emb", "c_emb")}) AS best_micro
  FROM corpus CROSS JOIN q
  GROUP BY label, q_id
),
sizes AS (SELECT label, count(*) AS n_vecs FROM corpus GROUP BY label)
SELECT label, n_vecs,
  CAST(sum(best_micro) AS BIGINT) AS maxsim_score_micro
FROM best JOIN sizes USING (label)
GROUP BY label, n_vecs
ORDER BY maxsim_score_micro DESC, label
"""
)
def retrieval_maxsim_multivector(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-interaction multi-vector retrieval (the ColBERT MaxSim
    scoring rule, Khattab & Zaharia SIGIR 2020): the query is a SET
    of vectors (vec_id < MAXSIM_N_Q), each corpus document is the SET
    of vectors sharing a label, and

        score(doc) = sum_q max_{v in doc} cos(q, v)

    — each query vector matches its best doc vector independently,
    which is what makes multi-vector beat single-vector retrieval on
    multi-topic documents.

    Scale shape: ONE corpus scan against the broadcast 4-vector query
    batch (bounded BNL, same contract as bitext/hard-negative), then
    two hash aggregations: per-(label, q) max, per-label sum. The
    corpus never self-joins and never shuffles wider than
    (label, q, micro) rows.

    Exactness: cosines collapse to integer micro-units before the max
    and the sum, so scores are bit-identical cross-engine.
    """
    from youtube_etl_automated_pipeline_spark.ext.similarity import (
        dot_unrolled_sql,
        embedding_dim,
        unit,
    )

    emb = load_wide(spark, sf_dir, "embeddings")
    dim = embedding_dim(emb)
    q = emb.filter(F.col("vec_id") < MAXSIM_N_Q).select(
        F.col("vec_id").alias("q_id"), unit(F.col("embedding")).alias("q_u")
    )
    corpus = emb.filter(
        (F.col("vec_id") >= MAXSIM_N_Q) & F.col("label").isNotNull()
    ).select("label", unit(F.col("embedding")).alias("c_u"))
    micro = F.floor(
        F.expr(dot_unrolled_sql("q_u", "c_u", dim)) * 1e6 + F.lit(0.5)
    ).cast("long")
    per_q_best = (
        corpus.crossJoin(F.broadcast(q))
        .select("label", "q_id", micro.alias("micro"))
        .groupBy("label", "q_id")
        .agg(F.max("micro").alias("best_micro"))
    )
    sizes = corpus.groupBy("label").agg(F.count(F.lit(1)).alias("n_vecs"))
    return (
        per_q_best.groupBy("label")
        .agg(F.sum("best_micro").alias("maxsim_score_micro"))
        .join(F.broadcast(sizes), "label")
        .select("label", "n_vecs", "maxsim_score_micro")
        .orderBy(F.desc("maxsim_score_micro"), "label")
    )


def _postings_oracle() -> str:
    from youtube_etl_automated_pipeline_spark.ext.textstats import WS_CLASS

    norm = f"lower(regexp_replace(trim(text), '{WS_CLASS}+', ' ', 'g'))"
    return f"""
WITH postings AS (
  SELECT DISTINCT tk.t AS token, doc_id
  FROM (SELECT doc_id, {norm} AS nt FROM documents
        WHERE text IS NOT NULL AND doc_id IS NOT NULL),
       unnest(string_split(nt, ' ')) AS tk(t)
  WHERE tk.t != ''
), gaps AS (
  SELECT doc_id - coalesce(
           lag(doc_id) OVER (PARTITION BY token ORDER BY doc_id), 0
         ) AS gap
  FROM postings
)
SELECT CAST(length(bin(gap)) AS INTEGER) AS bit_width,
       count(*) AS n_gaps,
       CAST(sum(2 * length(bin(gap)) - 1) AS BIGINT) AS elias_gamma_bits,
       CAST(count(*) * 64 AS BIGINT) AS fixed64_bits
FROM gaps GROUP BY 1 ORDER BY 1
"""


@query(oracle=_postings_oracle())
def postings_delta_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index posting-list delta-gap bit-width census.

    Postings are the distinct (token, doc_id) pairs of the corpus;
    within a token's posting list (doc_id ascending) each entry is
    stored as the gap from its predecessor (the first entry stores
    the doc_id itself). The output histograms the gaps by binary bit
    width and prices the index under Elias-gamma (2w-1 bits/gap)
    against fixed 64-bit postings — the census that decides whether
    an index fits in memory at 100 TB.

    Scale shape: explode -> distinct(token, doc_id) (one shuffle,
    combiner-friendly), a PARTITIONED lag window (per-token — never
    a global window), then a ~64-group map-side-combinable rollup.
    Bit width = length(bin(gap)): integer-to-binary-string is
    bit-identical in Spark and DuckDB (verified for 0, 1, 5, 2^10).
    """
    from youtube_etl_automated_pipeline_spark.ext.textstats import (
        normalized_text,
        tokens,
    )

    docs = load_wide(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull() & F.col("doc_id").isNotNull()
    )
    postings = (
        docs.select(
            F.explode(tokens(normalized_text(F.col("text")))).alias("token"),
            "doc_id",
        )
        .filter(F.col("token") != "")
        .distinct()
    )
    w = Window.partitionBy("token").orderBy("doc_id")
    gaps = postings.select(
        "token",
        (
            F.col("doc_id")
            - F.coalesce(F.lag("doc_id").over(w), F.lit(0))
        ).alias("gap"),
    )
    return (
        gaps.select(F.length(F.expr("bin(gap)")).cast("int").alias("bit_width"))
        .groupBy("bit_width")
        .agg(
            F.count(F.lit(1)).alias("n_gaps"),
            F.expr(
                "CAST(sum(CAST(2 * bit_width - 1 AS DECIMAL(38,0)))"
                " AS BIGINT)"
            ).alias("elias_gamma_bits"),
            F.expr("CAST(count(*) * 64 AS BIGINT)").alias("fixed64_bits"),
        )
    )


# --------------------------------------------- Kneser-Ney smoothing
KN_TOP = 200  # published rows: top bigrams by count (total order)


def _kn_oracle() -> str:
    from youtube_etl_automated_pipeline_spark.ext.textstats import WS_CLASS

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


@query(oracle=_kn_oracle())
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
