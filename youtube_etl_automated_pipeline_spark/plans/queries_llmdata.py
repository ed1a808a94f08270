"""LLM-training-data pipeline operators over the documents table:
context chunking, PII scrubbing, repetition-quality signals
(Gopher/C4-style), benchmark-contamination n-gram overlap, and
deterministic per-language quota sampling (domain mixing).

Each query is paired with a bit-exact DuckDB oracle built from the
same constants so the two sides cannot drift. All hot paths are
column expressions or explode+agg shapes (scan-speed / one shuffle);
nothing is quadratic in the corpus and nothing touches the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from youtube_etl_automated_pipeline_spark.ext import textstats as TS
from youtube_etl_automated_pipeline_spark.functions.compat import hround
from youtube_etl_automated_pipeline_spark.plans.registry import query
from youtube_etl_automated_pipeline_spark.sources import load_table, load_wide

CHUNK_CHARS = 200
CHUNK_OVERLAP = 40
CHUNK_STRIDE = CHUNK_CHARS - CHUNK_OVERLAP

PII_MOD = 7  # every PII_MOD-th doc gets a planted contact line
PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z][A-Za-z]+"
PII_NUM_RE = r"[0-9][0-9][0-9][0-9][0-9][0-9]+"  # >=6 digit runs
PII_CODE_BASE = 4_000_000_000_000_000

TOP_FRAC_FLAG = 0.20  # Gopher-style repetition thresholds
DUP_BIGRAM_FLAG = 0.30

CONTAM_N = 4  # benchmark-contamination shingle width
CONTAM_EVAL_MOD = 97  # doc_id % MOD == 0 -> held-out "benchmark" doc

QUOTA_PER_LANG = 40


def _pii_augmented() -> F.Column:
    """Deterministically plant a contact line on every PII_MOD-th doc
    (the corpus itself is synthetic word soup with zero PII, so the
    scrubber would otherwise be a vacuous no-op). Pure function of
    (text, doc_id) that the oracle reproduces bit-for-bit."""
    planted = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com code "),
        (F.lit(PII_CODE_BASE) + F.col("doc_id")).cast("string"),
    )
    return F.when(F.col("doc_id") % PII_MOD == 0, planted).otherwise(F.col("text"))


# ---------------------------------------------------------------- oracles

_TOKS = f"string_split_regex(trim(text), '{TS.WS_CLASS}+')"


def _h(expr: str, n: int = 8) -> str:
    return f"CAST('0x' || substr(md5({expr}), 1, {n}) AS BIGINT)"


@query(
    oracle=f"""
SELECT doc_id,
  CAST((s - 1) // {CHUNK_STRIDE} AS BIGINT) AS chunk_idx,
  CAST(s AS BIGINT) AS chunk_start,
  CAST(length(substr(text, s, {CHUNK_CHARS})) AS BIGINT) AS chunk_len,
  {_h(f"substr(text, s, {CHUNK_CHARS})", 15)} AS chunk_hash
FROM documents,
  unnest(generate_series(1, greatest(length(text), 1), {CHUNK_STRIDE})) AS t(s)
WHERE text IS NOT NULL
ORDER BY doc_id, chunk_idx
"""
)
def doc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size character chunking with overlap (the LLM context-
    window prep step):each doc explodes into ceil(len/stride) chunks of
    CHUNK_CHARS chars starting every CHUNK_STRIDE.

    Scale shape: sequence+posexplode is a map-side generator — no
    shuffle, no state; output rows ≈ corpus_chars / stride, each
    carrying a 60-bit portable hash instead of the chunk text so the
    result (and any downstream exact-dedup of chunks) stays narrow.
    """
    docs = load_wide(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    starts = F.sequence(
        F.lit(1), F.greatest(F.length("text"), F.lit(1)), F.lit(CHUNK_STRIDE)
    )
    exploded = docs.select(
        "doc_id", "text", F.posexplode(starts).alias("pos", "chunk_start")
    )
    chunk = F.col("text").substr(F.col("chunk_start"), F.lit(CHUNK_CHARS))
    return (
        exploded.select(
            "doc_id",
            F.col("pos").cast("long").alias("chunk_idx"),
            F.col("chunk_start").cast("long").alias("chunk_start"),
            F.length(chunk).cast("long").alias("chunk_len"),
            TS.md5_long(chunk, 15).alias("chunk_hash"),
        )
        .orderBy("doc_id", "chunk_idx")
    )


@query(
    oracle=f"""
WITH ranked AS (
  SELECT doc_id, lang,
    {_h("CAST(doc_id AS VARCHAR)")} AS sample_hash,
    CAST(row_number() OVER (
      PARTITION BY lang
      ORDER BY {_h("CAST(doc_id AS VARCHAR)")}, doc_id
    ) AS BIGINT) AS sample_rank
  FROM documents
)
SELECT doc_id, lang, sample_hash, sample_rank
FROM ranked
WHERE sample_rank <= {QUOTA_PER_LANG}
ORDER BY lang, sample_rank
"""
)
def corpus_quota_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixing quota sample: keep QUOTA_PER_LANG docs per
    language, chosen by a deterministic portable hash of doc_id (a
    seedless reservoir both engines reproduce exactly).

    Scale shape: one window shuffle on lang; at 100 TB with few
    partitions per key this is the skew case — there, pre-filter with
    an approximate per-lang hash threshold (keep hash < quantile
    estimate) before the exact window so the shuffle carries ~quota
    rows per lang, not the full corpus."""
    docs = load_wide(spark, sf_dir, "documents")
    h = TS.md5_long(F.col("doc_id").cast("string"))
    w = Window.partitionBy("lang").orderBy(h.asc(), F.col("doc_id").asc())
    return (
        docs.select("doc_id", "lang", h.alias("sample_hash"))
        .withColumn("sample_rank", F.row_number().over(w).cast("long"))
        .filter(F.col("sample_rank") <= QUOTA_PER_LANG)
        .orderBy("lang", "sample_rank")
    )


def _r(expr: str, dp: int) -> str:
    p = float(10**dp)
    return f"floor(({expr}) * {p!r} + 0.5) / {p!r}"


def _grams(n: int) -> str:
    """Token n-gram strings (DuckDB twin of TS.shingles)."""
    return (
        f"list_transform(generate_series(1, len({_TOKS}) - {n - 1}),"
        f" i -> array_to_string(({_TOKS})[i:i+{n - 1}], ' '))"
    )


_PII_AUG = (
    f"CASE WHEN doc_id % {PII_MOD} = 0 THEN"
    f" text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com code '"
    f" || CAST({PII_CODE_BASE} + doc_id AS VARCHAR)"
    f" ELSE text END"
)


@query(
    oracle=f"""
WITH aug AS (
  SELECT doc_id, {_PII_AUG} AS a FROM documents WHERE text IS NOT NULL
),
s1 AS (
  SELECT doc_id, a,
    regexp_replace(a, '{PII_EMAIL_RE}', '<EMAIL>', 'g') AS after_email
  FROM aug
)
SELECT doc_id,
  CAST(len(regexp_extract_all(a, '{PII_EMAIL_RE}')) AS BIGINT) AS n_emails,
  CAST(len(regexp_extract_all(after_email, '{PII_NUM_RE}')) AS BIGINT) AS n_numbers,
  CAST(length(regexp_replace(after_email, '{PII_NUM_RE}', '<NUM>', 'g')) AS BIGINT)
    AS scrubbed_len,
  {_h(f"regexp_replace(after_email, '{PII_NUM_RE}', '<NUM>', 'g')", 15)}
    AS scrubbed_hash
FROM s1
ORDER BY doc_id
"""
)
def text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction: emails -> <EMAIL>, then long digit runs ->
    <NUM> (order matters — emails may embed digits, so the number pass
    runs on the email-scrubbed text and counts never double-report).

    Pure projection (regex engines: Java and RE2 agree on these
    patterns — explicit classes, no \\s, no backrefs); scan-speed at
    100 TB, zero shuffle."""
    docs = load_wide(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    aug = _pii_augmented()
    after_email = F.regexp_replace(aug, PII_EMAIL_RE, "<EMAIL>")
    scrubbed = F.regexp_replace(after_email, PII_NUM_RE, "<NUM>")
    return docs.select(
        "doc_id",
        F.size(F.regexp_extract_all(aug, F.lit(PII_EMAIL_RE), F.lit(0)))
        .cast("long")
        .alias("n_emails"),
        F.size(F.regexp_extract_all(after_email, F.lit(PII_NUM_RE), F.lit(0)))
        .cast("long")
        .alias("n_numbers"),
        F.length(scrubbed).cast("long").alias("scrubbed_len"),
        TS.md5_long(scrubbed, 15).alias("scrubbed_hash"),
    ).orderBy("doc_id")


_TOP_FRAC = "CAST(top_token_cnt AS DOUBLE) / n_tokens"
_DUP_FRAC = (
    "CASE WHEN n_bigrams > 0"
    " THEN 1.0 - CAST(n_distinct_bigrams AS DOUBLE) / n_bigrams"
    " ELSE 0.0 END"
)


@query(
    oracle=f"""
WITH base AS (
  SELECT doc_id, {_TOKS} AS toks FROM documents
  WHERE text IS NOT NULL AND len({_TOKS}) >= 1
),
stats AS (
  SELECT doc_id,
    CAST(len(toks) AS BIGINT) AS n_tokens,
    CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct_tokens,
    CAST(list_max(list_transform(list_distinct(toks),
      t -> len(list_filter(toks, x -> x = t)))) AS BIGINT) AS top_token_cnt,
    CAST(CASE WHEN len(toks) >= 2 THEN len(toks) - 1 ELSE 0 END AS BIGINT)
      AS n_bigrams,
    CAST(CASE WHEN len(toks) >= 2 THEN len(list_distinct(
      list_transform(generate_series(1, len(toks) - 1),
        i -> array_to_string(toks[i:i+1], ' ')))) ELSE 0 END AS BIGINT)
      AS n_distinct_bigrams
  FROM base
)
SELECT doc_id, n_tokens, n_distinct_tokens, top_token_cnt,
  n_bigrams, n_distinct_bigrams,
  {_r(_TOP_FRAC, 6)} AS top_token_frac,
  {_r(_DUP_FRAC, 6)} AS dup_bigram_frac,
  (({_r(_TOP_FRAC, 6)}) > {TOP_FRAC_FLAG}
   OR ({_r(_DUP_FRAC, 6)}) > {DUP_BIGRAM_FLAG}) AS repetition_flag
FROM stats
ORDER BY doc_id
"""
)
def quality_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/C4-style repetition signals per document: top-token
    dominance (max single-token frequency / n_tokens) and duplicate-
    bigram fraction, plus a keep/flag decision.

    Scale shape: token frequencies come from explode + two-level agg
    (map-side partial counts, one shuffle on (doc_id, token) — never
    an interpreted per-row O(u·n) sweep); bigram distinctness is a
    per-row array expression (O(n) per doc). The doc_id join between
    the two branches co-partitions on the agg's existing shuffle key.
    """
    docs = load_wide(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    toks = TS.tokens(F.col("text"))
    base = docs.select("doc_id", toks.alias("toks")).filter(F.size("toks") >= 1)

    tok_counts = (
        base.select("doc_id", F.explode("toks").alias("token"))
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").alias("n_tokens"),
            F.count(F.lit(1)).alias("n_distinct_tokens"),
            F.max("cnt").alias("top_token_cnt"),
        )
    )

    grams = TS.shingles(F.col("toks"), 2)
    bigrams = base.select(
        "doc_id",
        F.when(F.size("toks") >= 2, F.size(grams))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("n_bigrams"),
        F.when(F.size("toks") >= 2, F.size(F.array_distinct(grams)))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("n_distinct_bigrams"),
    )

    top_frac = hround(F.col("top_token_cnt") / F.col("n_tokens"), 6)
    dup_frac = hround(
        F.when(
            F.col("n_bigrams") > 0,
            F.lit(1.0) - F.col("n_distinct_bigrams") / F.col("n_bigrams"),
        ).otherwise(F.lit(0.0)),
        6,
    )
    return (
        tok_counts.join(bigrams, "doc_id")
        .select(
            "doc_id",
            "n_tokens",
            "n_distinct_tokens",
            "top_token_cnt",
            "n_bigrams",
            "n_distinct_bigrams",
            top_frac.alias("top_token_frac"),
            dup_frac.alias("dup_bigram_frac"),
            (
                (top_frac > TOP_FRAC_FLAG) | (dup_frac > DUP_BIGRAM_FLAG)
            ).alias("repetition_flag"),
        )
        .orderBy("doc_id")
    )


_CONTAM_HASHES = f"list_distinct(list_transform({_grams(CONTAM_N)}, s -> {_h('s')}))"


@query(
    oracle=f"""
WITH base AS (
  SELECT doc_id, {_CONTAM_HASHES} AS hs
  FROM documents
  WHERE text IS NOT NULL AND len({_TOKS}) >= {CONTAM_N}
),
eval_set AS (
  SELECT DISTINCT unnest(hs) AS sh FROM base WHERE doc_id % {CONTAM_EVAL_MOD} = 0
),
train AS (
  SELECT doc_id, CAST(len(hs) AS BIGINT) AS n_shingles, unnest(hs) AS sh
  FROM base WHERE doc_id % {CONTAM_EVAL_MOD} <> 0
)
SELECT doc_id, n_shingles,
  CAST(count(*) AS BIGINT) AS n_matched,
  {_r("CAST(count(*) AS DOUBLE) / n_shingles", 6)} AS contamination
FROM train JOIN eval_set USING (sh)
GROUP BY doc_id, n_shingles
ORDER BY doc_id
"""
)
def contamination_ngram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination check: which training docs share token
    4-gram shingles with the held-out set (doc_id % 97 == 0 stands in
    for an eval benchmark)?

    Scale shape: per-doc DISTINCT shingle hashes are built row-local
    (array_distinct before explode, so the join input is already
    deduped); the eval side is tiny and broadcast — the train corpus
    is scanned once and shuffles only the matched rows into the final
    per-doc count. At 100 TB this is the standard decontamination
    sweep: broadcast the benchmark shingle set, map-side semi-join.

    The exploded projection carries ONLY (doc_id, sh): any sibling
    column derived from the shingle array (e.g. size(hashes)) gets
    re-inlined by CollapseProject and re-evaluated alongside the
    generator — measured 9.6s vs 2s at sf0.1. Per-doc totals come
    from a count over the exploded rows instead (map-side-combinable,
    5k-row result joined broadcast). Explode of an empty array emits
    nothing, so short docs drop without a filter.
    """
    docs = load_wide(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    toks = TS.tokens(F.col("text"))
    grams = TS.shingles(toks, CONTAM_N)
    hashes = F.array_distinct(F.transform(grams, lambda s: TS.md5_long(s)))
    exploded = docs.select("doc_id", F.explode(hashes).alias("sh"))

    eval_set = (
        exploded.filter(F.col("doc_id") % CONTAM_EVAL_MOD == 0).select("sh").distinct()
    )
    train = exploded.filter(F.col("doc_id") % CONTAM_EVAL_MOD != 0)
    totals = train.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_shingles")
    )
    matched = (
        train.join(F.broadcast(eval_set), "sh")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_matched"))
    )
    return (
        matched.join(F.broadcast(totals), "doc_id")
        .select(
            "doc_id",
            "n_shingles",
            "n_matched",
            hround(F.col("n_matched") / F.col("n_shingles"), 6).alias(
                "contamination"
            ),
        )
    )


# ------------------------------------------------- split & packing

SPLIT_TRAIN_PCT = 80  # hash-bucket boundaries: [0,80) train,
SPLIT_VAL_PCT = 90  # [80,90) val, [90,100) test
SEQ_LEN = 512  # context window (tokens) for sequence packing

# CASE-guarded token count: Spark's tokens('') is [], DuckDB's
# string_split_regex('') is [''] — the guard pins both to 0.
_NTOKS = (
    "CASE WHEN trim(text) = '' THEN 0"
    f" ELSE len({_TOKS}) END"
)


@query(
    oracle=f"""
WITH b AS (
  SELECT doc_id, n_chars, {_NTOKS} AS n_tokens,
    CASE WHEN {_h("CAST(doc_id AS VARCHAR)")} % 100 < {SPLIT_TRAIN_PCT} THEN 'train'
         WHEN {_h("CAST(doc_id AS VARCHAR)")} % 100 < {SPLIT_VAL_PCT} THEN 'val'
         ELSE 'test' END AS split
  FROM documents WHERE text IS NOT NULL
)
SELECT split, count(*) AS n_docs,
  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
  CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
  min(doc_id) AS min_doc, max(doc_id) AS max_doc
FROM b GROUP BY split ORDER BY split
"""
)
def train_val_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment by content-independent
    key hash — the reproducible-split primitive every training corpus
    needs. Hash buckets (md5 of doc_id, portable across engines) mean
    a doc's split NEVER changes as the corpus grows — unlike
    randomSplit, whose assignment depends on partitioning — and new
    docs distribute 80/10/10 automatically. Pure map + one tiny agg:
    scan-speed at 100 TB, no shuffle before the 3-group rollup."""
    from youtube_etl_automated_pipeline_spark.ext.textstats import (
        md5_long,
        token_count,
    )

    docs = load_table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    bucket = md5_long(F.col("doc_id").cast("string")) % 100
    split = (
        F.when(bucket < SPLIT_TRAIN_PCT, "train")
        .when(bucket < SPLIT_VAL_PCT, "val")
        .otherwise("test")
    )
    return (
        docs.select(
            split.alias("split"),
            F.col("n_chars"),
            token_count(F.col("text")).cast("long").alias("n_tokens"),
            "doc_id",
        )
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
            F.sum("n_tokens").alias("sum_tokens"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        )
        .orderBy("split")
    )


@query(
    oracle=f"""
WITH toks AS (
  SELECT lang, doc_id, CAST({_NTOKS} AS BIGINT) AS n_tokens
  FROM documents WHERE text IS NOT NULL
),
packed AS (
  SELECT lang, doc_id, n_tokens,
    CAST((sum(n_tokens) OVER (
       PARTITION BY lang ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
       - n_tokens) // {SEQ_LEN} AS BIGINT) AS bin_id
  FROM toks
)
SELECT lang, bin_id, count(*) AS n_docs,
  CAST(sum(n_tokens) AS BIGINT) AS bin_tokens,
  min(doc_id) AS first_doc, max(doc_id) AS last_doc
FROM packed GROUP BY lang, bin_id ORDER BY lang, bin_id
"""
)
def sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pack documents into fixed SEQ_LEN-token context windows by
    contiguous greedy assignment: within each lang, docs in doc_id
    order are laid end-to-end and a doc belongs to the bin where its
    first token lands (bin = floor(start_offset / SEQ_LEN)). This is
    the streaming-friendly packing used for LLM pretraining shards —
    deterministic, order-stable, and one window + one agg in Spark
    (prefix sum per lang partition; at 100 TB shard the partition key
    to (lang, doc_id range) to bound each prefix chain).
    Output: per (lang, bin) doc count, token sum, and doc-id range."""
    from youtube_etl_automated_pipeline_spark.ext.textstats import token_count

    docs = load_table(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    toks = docs.select(
        "lang", "doc_id", token_count(F.col("text")).cast("long").alias("n_tokens")
    )
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # integer `div`, not float `/`: offsets in a 100 TB corpus exceed
    # 2^53 tokens, where double division would mis-bin
    packed = toks.withColumn(
        "start_offset", F.sum("n_tokens").over(w) - F.col("n_tokens")
    ).withColumn("bin_id", F.expr(f"start_offset div {SEQ_LEN}")).drop("start_offset")
    return (
        packed.groupBy("lang", "bin_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("bin_tokens"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
        .orderBy("lang", "bin_id")
    )
