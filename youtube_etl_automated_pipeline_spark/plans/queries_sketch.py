"""Sketch + term-weighting queries: Count-Min-Sketch heavy hitters
and TF-IDF-style top terms, both as pure DataFrame compositions with
bit-exact DuckDB oracles.

CMS shows the "novel sketch as DataFrame ops" pattern: because a CMS
cell is just the sum of counts of the keys hashing into it, the
sketch is two grouped aggregations — no UDF, no driver state, and
the portable md5 hash family (ext.textstats.md5_long) lets the
oracle rebuild the identical sketch. TF-IDF ranking uses tf/df
(monotone in the usual tf*idf for a fixed corpus size) so scores
stay integer-exact across engines — no transcendental log whose
last-ulp differs between libm implementations.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from youtube_etl_automated_pipeline_spark.ext.textstats import (
    WS_CLASS,
    md5_long,
    normalized_text,
    tokens,
)
from youtube_etl_automated_pipeline_spark.plans.registry import query
from youtube_etl_automated_pipeline_spark.sources import load_table, load_wide

CMS_DEPTH = 4
CMS_WIDTH = 256
HH_TOPK = 20
TOP_TERMS = 3

_NORM = f"lower(regexp_replace(trim(text), '{WS_CLASS}+', ' ', 'g'))"


@query(
    oracle=f"""
WITH terms AS (
  SELECT doc_id, term FROM (
    SELECT doc_id, unnest(string_split_regex({_NORM}, '{WS_CLASS}+')) AS term
    FROM documents
  ) WHERE term <> ''
), tf AS (
  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM terms GROUP BY doc_id, term
), dfreq AS (
  SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term
), scored AS (
  SELECT doc_id, tf.term, tf, df,
         CAST(floor(1000000 * tf / df) AS BIGINT) AS score_micro
  FROM tf JOIN dfreq USING (term)
), ranked AS (
  SELECT *, CAST(row_number() OVER (
    PARTITION BY doc_id ORDER BY score_micro DESC, term ASC) AS INTEGER) AS rank
  FROM scored
)
SELECT doc_id, term, tf, df, score_micro, rank
FROM ranked WHERE rank <= {TOP_TERMS}
ORDER BY doc_id, rank
"""
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-3 distinctive terms, ranked by tf/df.

    For a fixed corpus, tf * idf(df) is monotone decreasing in df for
    any standard idf, so ranking by tf/df produces the same order as
    tf*idf while staying exactly computable: score_micro =
    floor(1e6*tf/df) is integer arithmetic both engines agree on
    (quotients differ from integers by >= 1/df >> one double ulp).

    Scale shape: explode -> two grouped counts (tf, then df over the
    already-aggregated tf table — never a distinct over raw tokens)
    -> broadcast-sized df join -> per-doc top-k window. The generator
    projection carries only (doc_id, token array) so the array
    expression is computed once (CollapseProject would otherwise
    re-inline it per downstream column).

    Deliberately NOT df-via-window: `count() over (partition by
    term)` would co-locate every occurrence of each zipf-hot token
    ("the" ~ 7% of a corpus) on one reducer. The groupBy(doc, term)
    composite key partial-aggregates map-side and caps any term's
    post-shuffle rows at n_docs, at the price of scanning documents
    once per branch — the right trade at 100 TB.
    """
    docs = load_wide(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", tokens(normalized_text(F.col("text"))).alias("toks")
    )
    terms = toks.select("doc_id", F.explode("toks").alias("term")).filter(
        F.col("term") != ""
    )
    tf = terms.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    scored = tf.join(dfreq, "term").withColumn(
        "score_micro",
        F.floor(F.lit(1_000_000) * F.col("tf") / F.col("df")).cast("bigint"),
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("score_micro"), F.asc("term")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_TERMS)
        .select("doc_id", "term", "tf", "df", "score_micro", "rank")
        .orderBy("doc_id", "rank")
    )


_CMS_SQL = f"""
WITH per_key AS (
  SELECT user_id, count(*) AS cnt FROM events GROUP BY user_id
), cells AS (
  SELECT user_id, cnt, r,
    CAST('0x' || substr(md5(CAST(r AS VARCHAR) || ':' || CAST(user_id AS VARCHAR)), 1, 8) AS BIGINT)
      % {CMS_WIDTH} AS cell
  FROM per_key, (SELECT unnest([{",".join(str(r) for r in range(CMS_DEPTH))}]) AS r) rs
), sketch AS (
  SELECT r, cell, CAST(sum(cnt) AS BIGINT) AS cell_cnt
  FROM cells GROUP BY r, cell
), est AS (
  SELECT user_id,
         CAST(max(cnt) AS BIGINT) AS true_cnt,
         CAST(min(cell_cnt) AS BIGINT) AS cms_est
  FROM cells JOIN sketch USING (r, cell)
  GROUP BY user_id
)
SELECT user_id, true_cnt, cms_est,
       CAST(cms_est - true_cnt AS BIGINT) AS overcount
FROM est
ORDER BY cms_est DESC, user_id ASC
LIMIT {HH_TOPK}
"""


@query(oracle=_CMS_SQL)
def cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min-Sketch top-k heavy hitters over the event stream's
    user ids: build a depth-4 x width-256 sketch, estimate each key as
    the min over its 4 cells, report the top-20 keys by ESTIMATE
    (ties broken by key — the classic CMS + heavy-hitter combination).

    Scale shape: the raw stream is reduced per-key FIRST (map-side
    combinable groupBy — the only pass over the 100 TB table), the
    sketch is built from the per-key counts (4 rows per DISTINCT key,
    not per event), and the final top-k is TakeOrderedAndProject over
    the small estimate table. The true count rides along so the gate
    also verifies the CMS guarantee est >= true (`overcount` is never
    negative); at sf0.1 (1500 keys in 256 cells) the overcounts are
    real, which is the point — width controls the error bound.
    """
    ev = load_wide(spark, sf_dir, "events")
    per_key = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("cnt"))
    rows = F.array(*[F.lit(r) for r in range(CMS_DEPTH)])
    cells = per_key.select(
        "user_id", "cnt", F.explode(rows).alias("r")
    ).withColumn(
        "cell",
        md5_long(
            F.concat_ws(":", F.col("r").cast("string"), F.col("user_id").cast("string"))
        )
        % CMS_WIDTH,
    )
    sketch = cells.groupBy("r", "cell").agg(F.sum("cnt").alias("cell_cnt"))
    est = (
        cells.join(sketch, ["r", "cell"])
        .groupBy("user_id")
        .agg(F.max("cnt").alias("true_cnt"), F.min("cell_cnt").alias("cms_est"))
    )
    return (
        est.select(
            "user_id",
            "true_cnt",
            "cms_est",
            (F.col("cms_est") - F.col("true_cnt")).alias("overcount"),
        )
        .orderBy(F.desc("cms_est"), F.asc("user_id"))
        .limit(HH_TOPK)
    )


VOCAB_MIN_COUNT = 5


@query(
    oracle=f"""
WITH terms AS (
  SELECT doc_id, term FROM (
    SELECT doc_id, unnest(string_split_regex({_NORM}, '{WS_CLASS}+')) AS term
    FROM documents
  ) WHERE term <> ''
), counts AS (
  SELECT term, CAST(count(*) AS BIGINT) AS c_t FROM terms GROUP BY term
), vocab AS (
  SELECT * FROM counts WHERE c_t >= {VOCAB_MIN_COUNT}
), tot AS (
  SELECT CAST(sum(c_t) AS BIGINT) AS t_total FROM counts
), per_doc AS (
  SELECT doc_id,
         CAST(count(*) AS BIGINT) AS n_tokens,
         CAST(sum(CASE WHEN v.c_t IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
         CAST(sum(coalesce(v.c_t, 0)) AS BIGINT) AS sum_c
  FROM terms LEFT JOIN vocab v USING (term)
  GROUP BY doc_id
)
SELECT doc_id, n_tokens, n_oov,
       CAST(floor(1000000 * sum_c / (n_tokens * t_total)) AS BIGINT) AS score_ppm
FROM per_doc, tot
ORDER BY doc_id
"""
)
def quality_corpus_familiarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-statistics quality filter: score each document by how
    "familiar" its tokens are under the corpus's own unigram counts —
    the cheap statistical stand-in for LM-perplexity filtering in a
    pretraining pipeline (gibberish and boilerplate-mangled docs score
    low; OOV-heavy docs are flagged by the oov count).

    vocab = terms seen >= 5 times corpus-wide (min-count pruning);
    per doc: oov = tokens outside the vocab, score_ppm =
    floor(1e6 * sum(vocab counts of tokens) / (n_tokens * T)) with T
    the corpus token total — all-integer arithmetic end to end.

    Scale shape: one token explode feeds both the vocab build (grouped
    count) and the per-doc join; the vocab joins on term (equi-join,
    broadcastable while the pruned vocab fits — min-count keeps it
    zipf-truncated); per-doc reduce is map-side combinable. T is a
    1-row broadcast.
    """
    docs = load_wide(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", tokens(normalized_text(F.col("text"))).alias("toks")
    )
    terms = toks.select("doc_id", F.explode("toks").alias("term")).filter(
        F.col("term") != ""
    )
    counts = terms.groupBy("term").agg(F.count(F.lit(1)).alias("c_t"))
    vocab = counts.filter(F.col("c_t") >= VOCAB_MIN_COUNT)
    total = counts.agg(F.sum("c_t").alias("t_total"))
    per_doc = (
        terms.join(F.broadcast(vocab), "term", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.when(F.col("c_t").isNull(), 1).otherwise(0)).alias("n_oov"),
            F.sum(F.coalesce(F.col("c_t"), F.lit(0))).alias("sum_c"),
        )
    )
    return (
        per_doc.crossJoin(F.broadcast(total))
        .select(
            "doc_id",
            "n_tokens",
            "n_oov",
            F.floor(
                F.lit(1_000_000) * F.col("sum_c") / (F.col("n_tokens") * F.col("t_total"))
            )
            .cast("bigint")
            .alias("score_ppm"),
        )
        .orderBy("doc_id")
    )


@query(
    oracle="""
SELECT event_type,
       count(*) AS n_rows,
       CAST(sum(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) AS BIGINT) / 100.0
         AS sum_value
FROM events
GROUP BY event_type
ORDER BY event_type
"""
)
def skew_salted_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The skew-mitigation aggregation (operators/skew.py) as an
    oracle-visible gate: events rolled up by the LOW-CARDINALITY
    event_type key via salt -> partial agg -> final agg, so no single
    reducer ever owns a whole hot key's rows.

    Exactness under re-association: the double `value` is converted to
    integer cents BEFORE the two-stage sum (integer addition is
    associative; a salted double sum would expose IEEE ordering), and
    divided back once at the end — the oracle's single-stage sum is
    bit-identical.
    """
    from youtube_etl_automated_pipeline_spark.functions.compat import units
    from youtube_etl_automated_pipeline_spark.operators.skew import salted_count_sum

    ev = load_wide(spark, sf_dir, "events")
    cents = ev.select(
        "event_type", "event_id", units(F.col("value"), 2).alias("value_cents")
    )
    out = salted_count_sum(
        cents, ["event_type"], "value_cents", F.col("event_id")
    )
    return out.select(
        "event_type",
        "n_rows",
        (F.col("sum_value") / 1e2).alias("sum_value"),
    ).orderBy("event_type")


@query(
    oracle="""
WITH old AS (
  SELECT o_orderkey AS k,
         CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS old_cents
  FROM orders
), new AS (
  SELECT k,
         CAST(CASE WHEN k % 5 = 0 THEN floor(old_cents * 110 / 100.0)
              ELSE old_cents END AS BIGINT) AS new_cents
  FROM old WHERE k % 7 <> 0
  UNION ALL
  SELECT k + 10000000 AS k, old_cents AS new_cents
  FROM old WHERE k % 11 = 0
), diff AS (
  SELECT coalesce(o.k, n.k) AS k,
         CASE WHEN o.k IS NULL THEN 'added'
              WHEN n.k IS NULL THEN 'removed'
              WHEN o.old_cents <> n.new_cents THEN 'changed'
              ELSE 'unchanged' END AS status,
         coalesce(n.new_cents, 0) AS new_cents,
         coalesce(o.old_cents, 0) AS old_cents
  FROM old o FULL OUTER JOIN new n ON o.k = n.k
)
SELECT status,
       count(*) AS n_rows,
       CAST(sum(k) AS BIGINT) AS key_sum,
       CAST(sum(new_cents - old_cents) AS BIGINT) AS delta_cents
FROM diff
GROUP BY status
ORDER BY status
"""
)
def snapshot_diff_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot reconciliation via FULL OUTER join — the ETL diff
    operator (what changed between yesterday's and today's load?).

    The "new" snapshot is derived deterministically from orders:
    every 7th key dropped (deletes), every 5th key's total bumped 10%
    (updates), the rest unchanged. A full outer join on the key then
    classifies each row added / removed / changed / unchanged, and
    the gate reports per-class counts + integer checksums.

    Scale shape: both snapshots shuffle once on the join key (AQE can
    convert to skew-safe splits); classification is a codegen'd CASE
    over the join's null pattern — at 100 TB this is the canonical
    one-shuffle table diff, no driver involvement.
    """
    orders = load_wide(spark, sf_dir, "orders")
    from youtube_etl_automated_pipeline_spark.functions.compat import units

    old = orders.select(
        "o_orderkey", units(F.col("o_totalprice"), 2).alias("cents")
    )
    new = (
        old.filter(F.col("o_orderkey") % 7 != 0)
        .withColumn(
            "cents",
            F.when(
                F.col("o_orderkey") % 5 == 0,
                (F.col("cents") * 110) / F.lit(100),
            )
            .otherwise(F.col("cents"))
            .cast("bigint"),
        )
        # inserts: every 11th key cloned past the key range
        .unionByName(
            old.filter(F.col("o_orderkey") % 11 == 0).select(
                (F.col("o_orderkey") + F.lit(10_000_000)).alias("o_orderkey"),
                "cents",
            )
        )
    )
    # classify by KEY-miss indicators, never by value nullness: a
    # legitimately-null price on a matched key is NOT an insert/delete
    # (null-fixture parity sweep finding — the oracle always used the
    # join keys; the value-null shortcut only worked because the
    # standard fixture has no nulls)
    o = old.select(
        F.col("o_orderkey").alias("ko"), F.col("cents").alias("old_cents")
    )
    n = new.select(
        F.col("o_orderkey").alias("kn"), F.col("cents").alias("new_cents")
    )
    diff = o.join(n, F.col("ko") == F.col("kn"), "full_outer").select(
        F.coalesce(F.col("ko"), F.col("kn")).alias("k"),
        F.when(F.col("ko").isNull(), F.lit("added"))
        .when(F.col("kn").isNull(), F.lit("removed"))
        .when(F.col("old_cents") != F.col("new_cents"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
        .alias("status"),
        F.coalesce(F.col("new_cents"), F.lit(0)).alias("new_cents"),
        F.coalesce(F.col("old_cents"), F.lit(0)).alias("old_cents"),
    )
    return (
        diff.groupBy("status")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("k").alias("key_sum"),
            F.sum(F.col("new_cents") - F.col("old_cents")).alias("delta_cents"),
        )
        .orderBy("status")
    )


KMV_K = 64
KMV_DOMAIN = float(1 << 60)  # md5_long(_, 15) range: [0, 2^60)


@query(
    oracle=f"""
WITH h AS (
  SELECT DISTINCT o_orderpriority AS priority,
    CAST('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 1, 15) AS BIGINT) AS hv
  FROM orders
),
ranked AS (
  SELECT priority, hv,
         row_number() OVER (PARTITION BY priority ORDER BY hv) AS rn
  FROM h
),
kept AS (
  SELECT priority, CAST(count(*) AS BIGINT) AS n_kept,
         CAST(max(hv) AS BIGINT) AS kth_hash
  FROM ranked WHERE rn <= {KMV_K} GROUP BY priority
),
ex AS (
  SELECT o_orderpriority AS priority,
         CAST(count(DISTINCT o_custkey) AS BIGINT) AS exact_distinct
  FROM orders GROUP BY 1
)
SELECT k.priority, n_kept, kth_hash,
  CASE WHEN n_kept < {KMV_K} THEN n_kept
       ELSE CAST(floor({float(KMV_K - 1)!r} *
                       ({KMV_DOMAIN!r} / CAST(kth_hash AS DOUBLE)) + 0.5)
                 AS BIGINT) END AS est_distinct,
  exact_distinct
FROM kept k JOIN ex USING (priority)
ORDER BY priority
"""
)
def kmv_distinct_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-Minimum-Values distinct-count sketch per order priority — the
    DETERMINISTIC mergeable sketch alternative to HLL
    (`approx_distinct_customers` is rows-only because Spark's HLL is
    engine-specific; KMV over the portable md5 hash is bit-exact in
    both engines, so this one gets a full oracle gate).

    Estimator (Bar-Yossef et al.): keep the K smallest 60-bit hashes
    of the distinct keys; if fewer than K exist the count is exact,
    else est = (K-1) · 2^60 / kth_min. The per-group kept set is K
    longs — mergeable by union + re-truncate, the same shape a 100 TB
    rollup ships between levels.

    Scale shape: distinct-hash reduce first (map-side combine), then
    the min-K is a row_number window that Spark 3.5+ executes with
    WindowGroupLimit — each map task pre-truncates its partition to K
    rows per group BEFORE the shuffle, so the exchange carries
    O(groups · K), not the distinct stream. The estimate arithmetic
    is one double multiply+divide per group, identically ordered in
    the oracle.
    """
    orders = load_wide(spark, sf_dir, "orders")
    h = (
        orders.select(
            F.col("o_orderpriority").alias("priority"),
            md5_long(F.col("o_custkey").cast("string"), 15).alias("hv"),
        )
        .distinct()
    )
    w = Window.partitionBy("priority").orderBy("hv")
    kept = (
        h.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= KMV_K)
        .groupBy("priority")
        .agg(F.count(F.lit(1)).alias("n_kept"), F.max("hv").alias("kth_hash"))
    )
    ex = orders.groupBy(F.col("o_orderpriority").alias("priority")).agg(
        F.countDistinct("o_custkey").alias("exact_distinct")
    )
    est = (
        F.when(F.col("n_kept") < KMV_K, F.col("n_kept").cast("bigint"))
        .otherwise(
            F.floor(
                F.lit(float(KMV_K - 1))
                * (F.lit(KMV_DOMAIN) / F.col("kth_hash").cast("double"))
                + F.lit(0.5)
            ).cast("bigint")
        )
    )
    return (
        kept.join(ex, "priority")
        .select(
            "priority",
            "n_kept",
            "kth_hash",
            est.alias("est_distinct"),
            "exact_distinct",
        )
        .orderBy("priority")
    )


KMV_Q_K = 256  # quantile-sketch sample size per group


@query(
    oracle=f"""
WITH s AS (
  SELECT event_type, event_id,
         CAST('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 15) AS BIGINT) AS hv,
         CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS cents
  FROM events
  WHERE value IS NOT NULL
),
keepr AS (
  SELECT event_type, event_id, hv, cents,
         row_number() OVER (PARTITION BY event_type ORDER BY hv, event_id) AS rn
  FROM s
),
kept AS (
  SELECT event_type, event_id, hv, cents FROM keepr WHERE rn <= {KMV_Q_K}
),
ranked AS (
  SELECT event_type, cents,
         row_number() OVER (
           PARTITION BY event_type ORDER BY cents, hv, event_id) AS vr,
         count(*) OVER (PARTITION BY event_type) AS n_kept
  FROM kept
),
stats AS (
  SELECT event_type,
         CAST(max(n_kept) AS BIGINT) AS n_kept,
         max(CASE WHEN vr = (50 * n_kept + 99) // 100 THEN cents END) AS p50_cents,
         max(CASE WHEN vr = (95 * n_kept + 99) // 100 THEN cents END) AS p95_cents,
         max(CASE WHEN vr = (99 * n_kept + 99) // 100 THEN cents END) AS p99_cents
  FROM ranked GROUP BY event_type
),
totals AS (
  SELECT event_type, count(*) AS n_events FROM events GROUP BY event_type
)
SELECT s.event_type, n_events, n_kept, p50_cents, p95_cents, p99_cents
FROM stats s JOIN totals USING (event_type)
ORDER BY s.event_type
"""
)
def kmv_percentile_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percentiles per event_type from a DETERMINISTIC bottom-K
    priority sample — the oracle-gated twin of
    ``approx_percentile_stats`` (whose KLL sketch is engine-specific
    and therefore rows-only). Each row's priority is the portable
    60-bit md5 of its unique event_id; keeping the K smallest
    priorities per group is a uniform without-replacement sample that
    BOTH engines reproduce bit-for-bit, and the reported p50/p95/p99
    are exact type-1 order statistics of that sample (position
    ceil(p*n) computed in INTEGER arithmetic — (p_num*n + 99) DIV 100
    — because float/decimal ceil diverges between engines when p*n
    lands on an integer).

    Mergeable like KMV distinct: union two groups' kept sets and
    re-truncate to the K smallest priorities — the associative merge
    a 100 TB rollup ships between levels.

    Scale shape: the bottom-K window is row_number ordered by
    priority, which Spark executes with WindowGroupLimit — every map
    task pre-truncates its partition to K rows per group BEFORE the
    shuffle, so the exchange carries O(groups*K) rows, never the
    fact stream; the full-data path is only the per-type count, a
    map-side-combined agg. The order-statistic window then runs over
    the <= K-row kept sample (bounded by construction). Accuracy
    envelope vs the exact percentiles is asserted in
    tests/test_stats.py (rank error ~ sqrt(p(1-p)/K)).
    """
    from youtube_etl_automated_pipeline_spark.functions.compat import units

    ev = load_table(spark, sf_dir, "events")
    # SQL percentile convention: NULL values are excluded from the
    # sample (also keeps every ranking column non-null, so no engine's
    # NULLS FIRST/LAST default can enter the plan); n_events still
    # counts all rows.
    sampled = ev.filter(F.col("value").isNotNull()).select(
        "event_type",
        "event_id",
        md5_long(F.col("event_id").cast("string"), 15).alias("hv"),
        units(F.col("value"), 2).alias("cents"),
    )
    w_keep = Window.partitionBy("event_type").orderBy("hv", "event_id")
    kept = (
        sampled.withColumn("rn", F.row_number().over(w_keep))
        .filter(F.col("rn") <= KMV_Q_K)
        .drop("rn")
    )
    w_val = Window.partitionBy("event_type").orderBy("cents", "hv", "event_id")
    w_grp = Window.partitionBy("event_type")
    ranked = kept.select(
        "event_type",
        "cents",
        F.row_number().over(w_val).alias("vr"),
        F.count(F.lit(1)).over(w_grp).alias("n_kept"),
    )

    def pos(p_num: int):
        # ceil(p_num * n / 100) in pure integer arithmetic
        return F.expr(f"({p_num} * n_kept + 99) div 100")

    stats = ranked.groupBy("event_type").agg(
        F.max("n_kept").alias("n_kept"),
        F.max(F.when(F.col("vr") == pos(50), F.col("cents"))).alias("p50_cents"),
        F.max(F.when(F.col("vr") == pos(95), F.col("cents"))).alias("p95_cents"),
        F.max(F.when(F.col("vr") == pos(99), F.col("cents"))).alias("p99_cents"),
    )
    totals = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_events"))
    return (
        stats.join(totals, "event_type")
        .select(
            "event_type",
            "n_events",
            "n_kept",
            "p50_cents",
            "p95_cents",
            "p99_cents",
        )
        .orderBy("event_type")
    )


# -------------------------------------------- exact heavy hitters
MG_CAPACITY = 2000  # Misra-Gries counters per partition (bounded memory)
HH_FACTOR = 1000  # heavy = count * HH_FACTOR > corpus total


@query(
    oracle=f"""
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
)
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
