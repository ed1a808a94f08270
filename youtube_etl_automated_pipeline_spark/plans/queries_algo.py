"""Algorithmic extensions: sorted-neighborhood dedup, BFS hop
census over the trade graph, Pareto-frontier (skyline) extraction, and
hashing-trick featurization.

Each fills a distinct capability gap in the engine's inventory:

- ``dedup_sorted_neighborhood`` — the THIRD blocking family next to
  key-equality blocks (dedup_levenshtein, dedup_ngram_jaccard) and
  signature banding (minhash/simhash): rank-adjacency candidates from
  a sort order, which catches near-dup pairs that straddle an
  equality-block boundary.
- ``graph_bfs_hops`` — single-source breadth-first hop distances, the
  Pregel frontier-expansion loop (the iterative-join pattern the
  recursive-CTE oracle gate can verify exactly).
- ``pareto_frontier_orders`` — skyline / dominance query, computed by
  the pareto-of-paretos two-phase plan (partition-local skylines, then
  one tiny global pass over the survivors).
- ``feature_hashing_census`` — the hashing-trick feature map (token →
  fixed-dim bucket) every large-scale linear model / sketch-based
  featurizer builds on, with its collision census.

All outputs are exact integers / timestamps / 4-dp-hrounded ratios, so
every query carries a bit-exact DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from youtube_etl_automated_pipeline_spark.ext.dedup import shingle_hashes
from youtube_etl_automated_pipeline_spark.ext import textstats as TS
from youtube_etl_automated_pipeline_spark.ext.textstats import (
    NORMALIZED_SQL,
    TOKENS_SQL,
    sql_md5_long,
)
from youtube_etl_automated_pipeline_spark.functions.compat import hround, sql_hround
from youtube_etl_automated_pipeline_spark.operators.cache_registry import memo_persist
from youtube_etl_automated_pipeline_spark.operators.lineage import truncate_lineage
from youtube_etl_automated_pipeline_spark.operators.windows import bounded_window
from youtube_etl_automated_pipeline_spark.plans.registry import query
from youtube_etl_automated_pipeline_spark.sources import load_table, load_wide


# ------------------------------------------------------------------
# Sorted-neighborhood dedup (Hernandez & Stolfo SNM): sort the corpus
# by a discriminating key, compare each record only to its W-1
# predecessors in that order. Complements equality blocking: a pair
# whose lengths straddle a len-bucket boundary (invisible to
# dedup_levenshtein's blocks) still sorts adjacently here.

SNM_WINDOW = 6  # compare to up to 5 sort-order predecessors
SNM_THRESHOLD = 0.2  # Jaccard cutoff, same bar as dedup_ngram_jaccard


def _snm_oracle() -> str:
    from youtube_etl_automated_pipeline_spark.plans.queries_dedup_adv import _SH_HASHES

    ow = "(PARTITION BY lang, c1 ORDER BY p40, doc_id)"
    lags = "\n  UNION ALL ".join(
        f"SELECT doc_id, hash_set, lag(doc_id, {i}) OVER {ow} AS pid,"
        f" lag(hash_set, {i}) OVER {ow} AS pset FROM base"
        for i in range(1, SNM_WINDOW)
    )
    jac = "CASE WHEN n_union > 0 THEN n_inter / n_union ELSE 0 END"
    return f"""
WITH base AS (
  SELECT doc_id, coalesce(lang, '??') AS lang,
    substr({NORMALIZED_SQL}, 1, 1) AS c1, substr({NORMALIZED_SQL}, 1, 40) AS p40,
    {_SH_HASHES} AS hash_set
  FROM documents
  WHERE len({_SH_HASHES}) >= 3
),
lagged AS (
  {lags}
),
pairs AS (
  SELECT least(doc_id, pid) AS doc_a, greatest(doc_id, pid) AS doc_b,
    len(list_intersect(hash_set, pset)) AS n_inter,
    len(list_distinct(list_concat(hash_set, pset))) AS n_union
  FROM lagged WHERE pid IS NOT NULL
)
SELECT DISTINCT doc_a, doc_b, {sql_hround(jac, 4)} AS jaccard
FROM pairs
WHERE ({sql_hround(jac, 4)}) >= {SNM_THRESHOLD}
ORDER BY doc_a, doc_b
"""


@query(oracle=_snm_oracle())
def dedup_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs via the sorted-neighborhood method: records sort
    by (40-char normalized prefix, doc_id) inside coarse partitions of
    (lang, first char); each record pairs with its SNM_WINDOW-1
    predecessors; pairs verify by exact shingle-hash Jaccard >= 0.2.

    Scale shape: the sort is a per-partition window (PARTITION BY the
    coarse key — never a global single-reducer order), candidate count
    is exactly (W-1) * n rows (linear, not quadratic), and only
    candidates pay the set-intersection verify. The standard SNM
    recall trade (pairs straddling a partition boundary are missed)
    mirrors dedup_levenshtein's len-bucket trade and is closed in
    production by a second pass under a rotated key.
    """
    docs = load_wide(spark, sf_dir, "documents")
    nrm = TS.normalized_text(F.col("text"))
    base = memo_persist(
        spark,
        ("snm_base", sf_dir),
        lambda: docs.select(
            "doc_id",
            F.coalesce("lang", F.lit("??")).alias("lang"),
            F.substring(nrm, 1, 1).alias("c1"),
            F.substring(nrm, 1, 40).alias("p40"),
            shingle_hashes(F.col("text"), 3).alias("hash_set"),
        ).filter(F.size("hash_set") >= 3),
    )
    w = Window.partitionBy("lang", "c1").orderBy("p40", "doc_id")
    lagged = base.select(
        "doc_id",
        "hash_set",
        F.array(
            *[
                F.struct(
                    F.lag("doc_id", i).over(w).alias("pid"),
                    F.lag("hash_set", i).over(w).alias("pset"),
                )
                for i in range(1, SNM_WINDOW)
            ]
        ).alias("prevs"),
    )
    pairs = (
        lagged.select(
            "doc_id", "hash_set", F.explode("prevs").alias("p")
        )
        .filter(F.col("p.pid").isNotNull())
        .select(
            F.least("doc_id", "p.pid").alias("doc_a"),
            F.greatest("doc_id", "p.pid").alias("doc_b"),
            F.size(F.array_intersect("hash_set", "p.pset")).alias("n_inter"),
            F.size(F.array_union("hash_set", "p.pset")).alias("n_union"),
        )
    )
    jac = F.when(
        F.col("n_union") > 0, F.col("n_inter") / F.col("n_union")
    ).otherwise(F.lit(0.0))
    return (
        pairs.select("doc_a", "doc_b", hround(jac, 4).alias("jaccard"))
        .filter(F.col("jaccard") >= SNM_THRESHOLD)
        .distinct()
    )


# ------------------------------------------------------------------
# Single-source BFS over the customer<->supplier trade graph: hop
# distances from the minimum node id, H frontier expansions.

BFS_HOPS = 3


def _bfs_oracle() -> str:
    from youtube_etl_automated_pipeline_spark.plans.queries_graph import SUPP_NODE_BASE

    return f"""
WITH RECURSIVE eo AS (
  SELECT DISTINCT o_custkey AS c, l_suppkey + {SUPP_NODE_BASE} AS s
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
),
edges AS (
  SELECT c AS src, s AS dst FROM eo
  UNION ALL
  SELECT s AS src, c AS dst FROM eo
),
bfs(node, hops) AS (
  SELECT min(src), 0 FROM edges
  UNION
  SELECT e.dst, b.hops + 1
  FROM bfs b JOIN edges e ON e.src = b.node
  WHERE b.hops < {BFS_HOPS}
),
dist AS (SELECT node, min(hops) AS hops FROM bfs GROUP BY node)
SELECT CAST(hops AS INT) AS hops,
  CAST(count(*) AS BIGINT) AS n_nodes,
  CAST(min(node) AS BIGINT) AS min_node,
  CAST(max(node) AS BIGINT) AS max_node,
  CAST(sum(node) AS BIGINT) AS sum_node
FROM dist
GROUP BY hops
ORDER BY hops
"""


@query(oracle=_bfs_oracle())
def graph_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-hop census of BFS from the minimum node of the symmetrized
    trade graph (queries_graph._edges): (hops, n_nodes, min_node,
    max_node, sum_node) for hops 0..BFS_HOPS.

    The Pregel shape: each hop is ONE equi-join of the current
    frontier with the src-keyed edge list plus one anti-join against
    the reached set — no quadratic term, and at 100 TB the edge list
    is pre-partitioned by src once (localCheckpoint here; a bucketed
    table on a cluster) so every hop reuses that layout. First
    discovery IS the minimum hop count (BFS invariant), so no
    min-aggregation pass is needed. The source node derives lazily
    from a broadcast one-row aggregate — building the plan launches no
    jobs.
    """
    from youtube_etl_automated_pipeline_spark.plans.queries_graph import _edges

    edges = _edges(spark, sf_dir, by_dst=True)  # dst-partitioned overlay (shared)
    src0 = edges.agg(F.min("src").alias("node"))
    reached = src0.select("node", F.lit(0).alias("hops"))
    frontier = reached
    for h in range(1, BFS_HOPS + 1):
        # broadcast(frontier): pin the tiny frontier as build side so
        # the streamed edge cache's dst-partitioning reaches the
        # distinct() aggregate exchange-free (r09; same hint rationale
        # as LPA/PageRank).
        nxt = (
            F.broadcast(frontier)
            .join(edges, frontier.node == edges.src)
            .select(F.col("dst").alias("node"))
            .distinct()
        )
        fresh = nxt.join(reached.select("node"), "node", "left_anti").select(
            "node", F.lit(h).alias("hops")
        )
        # localCheckpoint: the reached set feeds every later anti-join
        # AND the final census; lazy so materialization stays inside
        # the first action (same rationale as _edges).
        reached = truncate_lineage(reached.unionByName(fresh), eager=False)
        frontier = fresh
    return (
        reached.groupBy("hops")
        .agg(
            F.count(F.lit(1)).alias("n_nodes"),
            F.min("node").alias("min_node"),
            F.max("node").alias("max_node"),
            F.sum("node").alias("sum_node"),
        )
        .orderBy("hops")
    )


# ------------------------------------------------------------------
# Pareto frontier (skyline): orders maximizing (totalprice, orderdate)
# with neither coordinate dominated. Two-phase pareto-of-paretos: any
# point dominated inside one partition is dominated globally, so a
# partition-local skyline kernel prunes the corpus to a tiny survivor
# set before the single small global pass.


def skyline_prune(pdf, x_col: str, y_col: str):
    """Partition-local max-max skyline over DISTINCT points: sort
    (x desc, y desc), keep rows whose y strictly exceeds the running
    max over all prior rows (prior rows have higher x, or equal x
    with strictly later y). Pure integer/timestamp comparisons —
    bit-exact, and sound for pruning: any point dominated within a
    subset is dominated in the full set (tests/test_properties
    asserts skyline(parts) == skyline(whole) under random splits)."""
    pdf = pdf.sort_values([x_col, y_col], ascending=[False, False])
    run = pdf[y_col].cummax().shift(1)
    return pdf[run.isna() | (pdf[y_col] > run)]


@query(
    oracle="""
WITH pts AS (
  SELECT CAST(round(o_totalprice * 100.0) AS BIGINT) AS price_cents,
         o_orderdate,
         CAST(count(*) AS BIGINT) AS n_orders,
         CAST(min(o_orderkey) AS BIGINT) AS min_orderkey
  FROM orders
  GROUP BY 1, 2
),
ranked AS (
  SELECT *,
    max(o_orderdate) OVER (
      ORDER BY price_cents DESC, o_orderdate DESC
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
    ) AS maxd
  FROM pts
)
SELECT price_cents, o_orderdate, n_orders, min_orderkey
FROM ranked
WHERE maxd IS NULL OR maxd < o_orderdate
ORDER BY price_cents DESC
"""
)
def pareto_frontier_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline of distinct (price_cents, o_orderdate) points —
    maximize both — with per-point order count and min orderkey.

    Plan: distinct-point agg (one shuffle), mapInPandas local skyline
    per partition (pure integer/timestamp comparisons — bit-exact),
    then the global skyline via a window over the survivors. The
    survivor set after local pruning is O(frontier * n_partitions) —
    for random data the expected frontier of an n-point partition is
    O(log n), so the final window input is tiny by construction; the
    full corpus never sees a global sort."""
    import pandas as pd

    orders = load_table(spark, sf_dir, "orders")
    pts = orders.select(
        F.expr("CAST(round(o_totalprice * 100.0) AS BIGINT)").alias(
            "price_cents"
        ),
        "o_orderdate",
        "o_orderkey",
    ).groupBy("price_cents", "o_orderdate").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.min("o_orderkey").alias("min_orderkey"),
    )

    def local_skyline(it):
        for pdf in it:
            if len(pdf) == 0:
                continue
            yield skyline_prune(pdf, "price_cents", "o_orderdate")

    survivors = pts.mapInPandas(
        local_skyline,
        "price_cents bigint, o_orderdate timestamp, n_orders bigint,"
        " min_orderkey bigint",
    )
    w = bounded_window("price_cents").orderBy(
        F.desc("price_cents"), F.desc("o_orderdate")
    ).rowsBetween(Window.unboundedPreceding, -1)
    maxd = F.max("o_orderdate").over(w)
    return (
        survivors.withColumn("_maxd", maxd)
        .filter(F.col("_maxd").isNull() | (F.col("_maxd") < F.col("o_orderdate")))
        .select("price_cents", "o_orderdate", "n_orders", "min_orderkey")
        .orderBy(F.desc("price_cents"))
    )


# ------------------------------------------------------------------
# Hashing-trick featurization: token -> md5 bucket in a fixed
# FH_DIM-dimensional feature space, plus the collision census that
# tells you whether the dimension is sized right.

FH_DIM = 128


def _fh_oracle() -> str:
    return f"""
WITH toks AS (
  SELECT unnest({TOKENS_SQL}) AS tok FROM documents
  WHERE text IS NOT NULL AND trim(text) <> ''
)
SELECT ({sql_md5_long("tok")}) % {FH_DIM} AS bucket,
  CAST(count(*) AS BIGINT) AS n_occurrences,
  CAST(count(DISTINCT tok) AS BIGINT) AS n_types
FROM toks
WHERE tok <> ''
GROUP BY 1
ORDER BY bucket
"""


@query(oracle=_fh_oracle())
def feature_hashing_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-bucket census of the hashed feature map over all document
    tokens: (bucket, n_occurrences, n_types) for every non-empty
    bucket — n_types > 1 rows ARE the hash collisions.

    One scan + one explode + one hash-keyed agg: the exact plan a
    100 TB featurizer runs, because the feature space is fixed at
    FH_DIM regardless of vocabulary size (the entire point of the
    hashing trick — no vocabulary broadcast, no OOV path)."""
    docs = load_wide(spark, sf_dir, "documents")
    toks = (
        docs.select(F.explode(TS.tokens(F.col("text"))).alias("tok"))
        .filter(F.col("tok") != "")
    )
    return (
        toks.select(
            (TS.md5_long(F.col("tok")) % FH_DIM).alias("bucket"), "tok"
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.countDistinct("tok").alias("n_types"),
        )
        .orderBy("bucket")
    )


# ------------------------------------------------------------------
# Retrieval primitives over a positional inverted index: conjunctive
# (AND) term search and exact phrase search. The posting lists are
# (term, doc_id[, pos]) relations — the explode/groupBy shape every
# distributed search indexer (Lucene sharding, warc-indexing jobs)
# runs at corpus scale.

SEARCH_TERMS = ("data", "table", "join")  # conjunctive query
PHRASE = ("data", "table")  # exact-adjacency phrase query


def _bool_search_oracle() -> str:
    in_list = ", ".join(f"'{t}'" for t in SEARCH_TERMS)
    occs = ",\n  ".join(
        f"CAST(sum(CASE WHEN term = '{t}' THEN 1 ELSE 0 END) AS BIGINT)"
        f" AS occ_{t}"
        for t in SEARCH_TERMS
    )
    having = " AND ".join(
        f"sum(CASE WHEN term = '{t}' THEN 1 ELSE 0 END) > 0"
        for t in SEARCH_TERMS
    )
    return f"""
WITH toks AS (
  SELECT doc_id, unnest({TOKENS_SQL}) AS term FROM documents
  WHERE text IS NOT NULL AND trim(text) <> ''
)
SELECT doc_id,
  {occs}
FROM toks
WHERE term IN ({in_list})
GROUP BY doc_id
HAVING {having}
ORDER BY doc_id
"""


@query(oracle=_bool_search_oracle())
def boolean_search_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents containing ALL of SEARCH_TERMS, with per-term
    occurrence counts — the conjunctive boolean-retrieval primitive.

    Plan: one scan, explode filtered to the query terms ONLY (the
    predicate lands before the shuffle, so posting-list size is the
    query's selectivity, not the corpus), one (doc_id)-keyed agg with
    conditional counts, then the all-terms filter. No joins at all —
    at 100 TB this is a scan + one small shuffle."""
    docs = load_wide(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(TS.tokens(F.col("text"))).alias("term")
    ).filter(F.col("term").isin(*SEARCH_TERMS))
    aggs = [
        F.count_if(F.col("term") == t).alias(f"occ_{t}") for t in SEARCH_TERMS
    ]
    out = toks.groupBy("doc_id").agg(*aggs)
    cond = None
    for t in SEARCH_TERMS:
        c = F.col(f"occ_{t}") > 0
        cond = c if cond is None else (cond & c)
    # no trailing orderBy (r08): range-sampling re-executed the
    # tokenize+agg subtree; driver compare is order-insensitive
    return out.filter(cond)


def _phrase_search_oracle() -> str:
    return f"""
WITH tok AS (
  SELECT doc_id, {TOKENS_SQL} AS toks FROM documents
  WHERE text IS NOT NULL AND trim(text) <> ''
),
pos AS (
  SELECT doc_id, toks[i] AS term, i - 1 AS pos
  FROM tok, UNNEST(generate_series(1, len(toks))) AS t(i)
  WHERE toks[i] IN ('{PHRASE[0]}', '{PHRASE[1]}')
)
SELECT a.doc_id, CAST(count(*) AS BIGINT) AS n_phrase_hits
FROM pos a JOIN pos b
  ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
WHERE a.term = '{PHRASE[0]}' AND b.term = '{PHRASE[1]}'
GROUP BY a.doc_id
ORDER BY a.doc_id
"""


@query(oracle=_phrase_search_oracle())
def phrase_search_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents containing the exact phrase PHRASE (adjacent tokens),
    with hit counts — positional-index retrieval: posting lists carry
    (doc_id, pos), and a phrase hit is an equi-join of term A's
    positions with term B's at pos+1.

    Plan: posexplode filtered to the two phrase terms before any
    shuffle, then ONE equi-join on (doc_id, adjacent position) — the
    join keys are exact, so no post-filter quadratic term. Cost is
    bounded by the phrase terms' posting sizes, not the corpus."""
    docs = load_wide(spark, sf_dir, "documents")
    pos = docs.select(
        "doc_id", F.posexplode(TS.tokens(F.col("text"))).alias("pos", "term")
    ).filter(F.col("term").isin(*PHRASE))
    a = pos.filter(F.col("term") == PHRASE[0]).select(
        "doc_id", F.col("pos").alias("pos_a")
    )
    b = pos.filter(F.col("term") == PHRASE[1]).select(
        "doc_id", (F.col("pos") - 1).alias("pos_a")
    )
    return (
        a.join(b, ["doc_id", "pos_a"])
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_phrase_hits"))
        .orderBy("doc_id")
    )


# ------------------------------------------------------------------
# Equi-depth histogram: per-nation order-value quartiles. Exact
# cross-engine because the inputs are integer cents: type-7 linear
# interpolation at q in {.25, .5, .75} lands on k/4 steps — exactly
# representable binary fractions in both engines (same argument as
# quality_outlier_mad).


@query(
    oracle="""
WITH base AS (
  SELECT n.n_name, CAST(round(o_totalprice * 100.0) AS BIGINT) AS cents
  FROM orders o
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
)
SELECT n_name,
  CAST(count(*) AS BIGINT) AS n_orders,
  quantile_cont(cents, 0.25) AS q1_cents,
  quantile_cont(cents, 0.5) AS med_cents,
  quantile_cont(cents, 0.75) AS q3_cents,
  quantile_cont(cents, 0.75) - quantile_cont(cents, 0.25) AS iqr_cents
FROM base
GROUP BY n_name
ORDER BY n_name
"""
)
def equi_depth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation quartile boundaries of order value (cents): the
    equi-DEPTH complement to revenue_histogram's equi-width buckets —
    the boundary table a query optimizer or drift monitor derives.

    Plan: broadcast the customer->nation dim chain onto the orders
    scan, one per-nation percentile agg (Spark's percentile is a
    single-pass partial aggregate — no sort, no per-row window)."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    nation = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name"
    )
    base = (
        orders.select(
            "o_custkey",
            F.expr("CAST(round(o_totalprice * 100.0) AS BIGINT)").alias(
                "cents"
            ),
        )
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
    )
    return (
        base.groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.expr("percentile(cents, 0.25)").alias("q1_cents"),
            F.expr("percentile(cents, 0.5)").alias("med_cents"),
            F.expr("percentile(cents, 0.75)").alias("q3_cents"),
        )
        .select(
            "n_name",
            "n_orders",
            "q1_cents",
            "med_cents",
            "q3_cents",
            (F.col("q3_cents") - F.col("q1_cents")).alias("iqr_cents"),
        )
        .orderBy("n_name")
    )


# ------------------------------------------------------------------
# Fixed-size weighted sample: exactly-K documents drawn with
# weight-biased priorities — the "give me a 10k-doc quality-weighted
# eval slice" curation request. Deterministic (md5 priorities), unlike
# corpus_importance_resample's Bernoulli gate the output size is
# EXACTLY K.

SAMPLE_K = 200


def _wsample_oracle() -> str:
    ntok = f"CASE WHEN trim(text) = '' OR text IS NULL THEN 0 ELSE len({TOKENS_SQL}) END"
    bucket = (
        "CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)"
        " % 1000000"
    )
    return f"""
WITH base AS (
  SELECT doc_id, coalesce(lang, '??') AS lang,
         CAST({ntok} + 1 AS BIGINT) AS w,
         {bucket} AS bucket
  FROM documents
)
SELECT doc_id, lang, w,
       CAST((bucket * 1000000) // w AS BIGINT) AS priority_ppb
FROM base
ORDER BY priority_ppb, doc_id
LIMIT {SAMPLE_K}
"""


@query(oracle=_wsample_oracle())
def weighted_topk_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-K weight-biased sample of documents: priority_ppb =
    (md5_bucket * 1_000_000) DIV weight with weight = n_tokens + 1
    (longer docs -> smaller expected priority -> higher selection
    odds); keep the K smallest priorities. Fully deterministic and
    growth-stable per doc (the md5 draw never changes when the corpus
    grows — only the cutoff moves), the Efraimidis-Spirakis posture in
    exact integer arithmetic.

    Plan: one scan + TakeOrderedAndProject(K) — per-partition top-K
    then a K-row merge, never a global sort."""
    docs = load_wide(spark, sf_dir, "documents")
    n_tokens = TS.token_count(F.col("text"))
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long")
        % 1_000_000
    )
    # sf bound: bucket < 1e6 by construction (md5 % 1e6), so
    # bucket * 1e6 < 1e12 — inside int64 at any corpus size
    pri = F.expr("CAST((bucket * 1000000) DIV w AS BIGINT)")
    return (
        docs.select(
            "doc_id",
            F.coalesce("lang", F.lit("??")).alias("lang"),
            (n_tokens + 1).cast("long").alias("w"),
            bucket.alias("bucket"),
        )
        .withColumn("priority_ppb", pri)
        .select("doc_id", "lang", "w", "priority_ppb")
        .orderBy("priority_ppb", "doc_id")
        .limit(SAMPLE_K)
    )


# ------------------------------------------------------------------
# GDPR / right-to-be-forgotten cascade: given a deterministic set of
# customers to forget, propagate the delete through the FK chain
# (customer -> orders -> lineitem) and report the per-table audit
# census a compliance pipeline must produce.

FORGET_MOD = 97  # customers with c_custkey % 97 == 0 request deletion


@query(
    oracle=f"""
WITH forget AS (
  SELECT c_custkey FROM customer WHERE c_custkey % {FORGET_MOD} = 0
),
del_orders AS (
  SELECT o_orderkey FROM orders
  WHERE o_custkey IN (SELECT c_custkey FROM forget)
),
census AS (
  SELECT 'customer' AS table_name,
    CAST(count(*) AS BIGINT) AS n_total,
    CAST(sum(CASE WHEN c_custkey % {FORGET_MOD} = 0 THEN 1 ELSE 0 END)
         AS BIGINT) AS n_deleted
  FROM customer
  UNION ALL
  SELECT 'orders',
    CAST(count(*) AS BIGINT),
    CAST(sum(CASE WHEN o_custkey IN (SELECT c_custkey FROM forget)
             THEN 1 ELSE 0 END) AS BIGINT)
  FROM orders
  UNION ALL
  SELECT 'lineitem',
    CAST(count(*) AS BIGINT),
    CAST(sum(CASE WHEN l_orderkey IN (SELECT o_orderkey FROM del_orders)
             THEN 1 ELSE 0 END) AS BIGINT)
  FROM lineitem
)
SELECT table_name, n_total, n_deleted,
       CAST(n_total - n_deleted AS BIGINT) AS n_surviving
FROM census
ORDER BY table_name
"""
)
def gdpr_delete_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-table delete-cascade audit: (table_name, n_total,
    n_deleted, n_surviving) for customer/orders/lineitem when every
    c_custkey % FORGET_MOD == 0 requests erasure.

    Plan: the forget-set is a filter on the customer scan (broadcast-
    sized); orders deletes resolve by one broadcast semi-join on
    o_custkey; lineitem deletes resolve by a semi-join on l_orderkey
    against the deleted-orders key set. Each fact table is scanned
    ONCE with conditional counts — no row is rewritten here; the
    census is the dry-run audit that precedes the actual anti-join
    rewrite (`sinks.dedup_table_swap` shows the swap mechanics).
    At 100 TB the deleted-orders key set is the only intermediate and
    it is proportional to the forget-set, not the corpus."""
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey")
    forget = cust.filter(F.col("c_custkey") % FORGET_MOD == 0)
    del_orders = orders.join(
        F.broadcast(forget), orders.o_custkey == forget.c_custkey, "left_semi"
    ).select("o_orderkey")
    cust_census = cust.agg(
        F.lit("customer").alias("table_name"),
        F.count(F.lit(1)).alias("n_total"),
        F.count_if(F.col("c_custkey") % FORGET_MOD == 0).alias("n_deleted"),
    )
    ord_census = orders.join(
        F.broadcast(forget.select(F.col("c_custkey").alias("fk"))),
        orders.o_custkey == F.col("fk"),
        "left",
    ).agg(
        F.lit("orders").alias("table_name"),
        F.count(F.lit(1)).alias("n_total"),
        F.count_if(F.col("fk").isNotNull()).alias("n_deleted"),
    )
    li_census = li.join(
        F.broadcast(del_orders.select(F.col("o_orderkey").alias("dk"))),
        li.l_orderkey == F.col("dk"),
        "left",
    ).agg(
        F.lit("lineitem").alias("table_name"),
        F.count(F.lit(1)).alias("n_total"),
        F.count_if(F.col("dk").isNotNull()).alias("n_deleted"),
    )
    return (
        cust_census.unionByName(ord_census)
        .unionByName(li_census)
        .select(
            "table_name",
            "n_total",
            "n_deleted",
            (F.col("n_total") - F.col("n_deleted")).alias("n_surviving"),
        )
        .orderBy("table_name")
    )


# ------------------------------------------------------------------
# CUSUM change detection: the sequential-recursion monitor (S_t =
# max(0, S_{t-1} + x_t - target - k)) no window function expresses —
# same mapInPandas-recursion + recursive-CTE-oracle pattern as
# ewma_user_value, applied to drift monitoring.

CUSUM_EPOCH = "1990-01-01"


@query(
    oracle=f"""
WITH RECURSIVE weekly AS (
  SELECT o_orderpriority AS priority,
         CAST(datediff('day', DATE '{CUSUM_EPOCH}', o_orderdate) // 7
              AS BIGINT) AS week,
         CAST(sum(CAST(round(o_totalprice * 100.0) AS BIGINT)) AS BIGINT) AS x
  FROM orders
  WHERE o_orderdate IS NOT NULL AND o_totalprice IS NOT NULL
  GROUP BY 1, 2
),
tgt AS (
  SELECT priority, CAST(sum(x) // count(*) AS BIGINT) AS target
  FROM weekly GROUP BY priority
),
seq AS (
  SELECT w.priority, w.week, w.x, t.target,
         row_number() OVER (PARTITION BY w.priority ORDER BY w.week) AS rn
  FROM weekly w JOIN tgt t USING (priority)
),
r AS (
  SELECT priority, rn, week, target,
         greatest(CAST(0 AS BIGINT),
                  x - target - target // 20) AS s
  FROM seq WHERE rn = 1
  UNION ALL
  SELECT seq.priority, seq.rn, seq.week, seq.target,
         greatest(CAST(0 AS BIGINT),
                  r.s + seq.x - seq.target - seq.target // 20)
  FROM r JOIN seq ON seq.priority = r.priority AND seq.rn = r.rn + 1
)
SELECT priority,
  CAST(count(*) AS BIGINT) AS n_weeks,
  any_value(target) AS target_cents,
  CAST(sum(CASE WHEN s > target THEN 1 ELSE 0 END) AS BIGINT) AS n_alarms,
  CAST(max(s) AS BIGINT) AS max_s_cents,
  CAST(coalesce(min(CASE WHEN s > target THEN week END), -1) AS BIGINT)
    AS first_alarm_week
FROM r
GROUP BY priority
ORDER BY priority
"""
)
def cusum_weekly_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-priority upward-shift CUSUM over weekly revenue: target =
    mean weekly cents (integer div), allowance k = target DIV 20,
    alarm threshold h = target. Output: (priority, n_weeks,
    target_cents, n_alarms, max_s_cents, first_alarm_week).

    Scale shape: the corpus collapses to a (priority, week) series in
    one agg (the only corpus-sized shuffle); the recursion sweeps
    each priority's series in arrival order inside one mapInPandas
    pass over a priority-partitioned sort — series length grows with
    the CALENDAR, not the corpus. All-integer recursion (cents,
    floor-div target) makes the sweep bit-identical to the oracle's
    recursive CTE."""
    import pandas as pd

    orders = load_table(spark, sf_dir, "orders").filter(
        # a dateless/priceless order can't join a weekly series; the
        # same pin lives in the oracle's weekly CTE
        F.col("o_orderdate").isNotNull() & F.col("o_totalprice").isNotNull()
    )
    weekly = (
        orders.select(
            F.col("o_orderpriority").alias("priority"),
            (
                F.datediff("o_orderdate", F.lit(CUSUM_EPOCH))
                .cast("long")
                / F.lit(7)
            ).cast("long").alias("week"),
            F.expr("CAST(round(o_totalprice * 100.0) AS BIGINT)").alias(
                "cents"
            ),
        )
        .groupBy("priority", "week")
        .agg(F.sum("cents").alias("x"))
    )
    target = weekly.groupBy("priority").agg(
        F.expr("CAST(sum(x) DIV count(1) AS BIGINT)").alias("target")
    )
    series = weekly.join(F.broadcast(target), "priority")
    parted = series.repartition(
        spark.sparkContext.defaultParallelism, "priority"
    ).sortWithinPartitions("priority", "week")

    def kernel(batches):
        rows = []
        cur = None
        s = nw = alarms = max_s = 0
        first_alarm = -1
        tgt = 0

        def flush():
            if cur is not None:
                rows.append((cur, nw, tgt, alarms, max_s, first_alarm))

        for pdf in batches:
            for p, w, x, t in zip(
                pdf["priority"], pdf["week"], pdf["x"], pdf["target"]
            ):
                if p != cur:
                    flush()
                    cur, tgt = p, int(t)
                    s = nw = alarms = max_s = 0
                    first_alarm = -1
                nw += 1
                s = max(0, s + int(x) - tgt - tgt // 20)
                if s > max_s:
                    max_s = s
                if s > tgt:
                    alarms += 1
                    if first_alarm < 0:
                        first_alarm = int(w)
        flush()
        yield pd.DataFrame(
            rows,
            columns=[
                "priority",
                "n_weeks",
                "target_cents",
                "n_alarms",
                "max_s_cents",
                "first_alarm_week",
            ],
        )

    return parted.mapInPandas(
        kernel,
        "priority string, n_weeks bigint, target_cents bigint,"
        " n_alarms bigint, max_s_cents bigint, first_alarm_week bigint",
    ).orderBy("priority")


# ------------------------------------------------------------------
# Winsorized statistics: clip at the p05/p95 boundaries, then exact
# integer means over the clipped values — the robust-mean transform a
# metrics pipeline applies before trend detection. Boundaries are
# .25-step exact doubles (type-7 on integers); clipped values scale
# by 4 into exact integers so the mean is one bigint division.


@query(
    oracle="""
WITH base AS (
  SELECT n.n_name, CAST(round(o_totalprice * 100.0) AS BIGINT) AS cents
  FROM orders o
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
),
bounds AS (
  SELECT n_name,
         quantile_cont(cents, 0.05) AS p05,
         quantile_cont(cents, 0.95) AS p95
  FROM base GROUP BY n_name
),
clipped AS (
  SELECT b.n_name, bo.p05, bo.p95,
         CAST(least(greatest(b.cents * 4.0, bo.p05 * 4), bo.p95 * 4)
              AS BIGINT) AS c4,
         b.cents < bo.p05 AS lo,
         b.cents > bo.p95 AS hi
  FROM base b JOIN bounds bo USING (n_name)
)
SELECT n_name,
  CAST(count(*) AS BIGINT) AS n_orders,
  any_value(p05) AS p05_cents,
  any_value(p95) AS p95_cents,
  CAST(sum(CASE WHEN lo THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped_low,
  CAST(sum(CASE WHEN hi THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped_high,
  CAST(sum(c4) // (4 * count(*)) AS BIGINT) AS winsorized_mean_cents
FROM clipped
GROUP BY n_name
ORDER BY n_name
"""
)
def winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation winsorized order-value stats: p05/p95 boundaries,
    counts clipped low/high, and the winsorized mean in exact cents.

    Plan: the same broadcast dim chain as equi_depth_histogram, ONE
    percentile agg for the boundaries (tiny, broadcast back), one
    conditional-agg scan for the clipped sums. Everything integer /
    quarter-integer exact; no float accumulation order anywhere."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    nation = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name"
    )
    base = (
        orders.select(
            "o_custkey",
            F.expr("CAST(round(o_totalprice * 100.0) AS BIGINT)").alias(
                "cents"
            ),
        )
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .select("n_name", "cents")
    )
    bounds = base.groupBy("n_name").agg(
        F.expr("percentile(cents, 0.05)").alias("p05"),
        F.expr("percentile(cents, 0.95)").alias("p95"),
    )
    clipped = base.join(F.broadcast(bounds), "n_name").select(
        "n_name",
        "p05",
        "p95",
        # x4: the .25-step boundaries become exact integers, so the
        # clipped sum accumulates as bigint (order-free)
        F.expr(
            "CAST(least(greatest(cents * 4.0, p05 * 4), p95 * 4) AS BIGINT)"
        ).alias("c4"),
        (F.col("cents") < F.col("p05")).alias("lo"),
        (F.col("cents") > F.col("p95")).alias("hi"),
    )
    return (
        clipped.groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.first("p05").alias("p05_cents"),
            F.first("p95").alias("p95_cents"),
            F.count_if(F.col("lo")).alias("n_clipped_low"),
            F.count_if(F.col("hi")).alias("n_clipped_high"),
            F.expr("CAST(sum(c4) DIV (4 * count(1)) AS BIGINT)").alias(
                "winsorized_mean_cents"
            ),
        )
        .orderBy("n_name")
    )


# ------------------------------------------------------------------
# KMV sketch SET OPERATIONS: union/intersection distinct estimates
# from two K-Minimum-Values sketches (Bar-Yossef et al. / theta-sketch
# posture) — the mergeable-sketch algebra a 100 TB rollup uses to
# combine per-shard sketches without touching raw keys. Deterministic
# (portable md5 hashes), so unlike HLL it takes a full oracle gate.

KMVOP_K = 256
KMVOP_DOMAIN = float(1 << 60)
KMV_ERA_SPLIT = "1998-01-01"  # era A: orders before; era B: after


def _kmvop_oracle() -> str:
    k = KMVOP_K
    dom = KMVOP_DOMAIN
    est = (
        "CASE WHEN {n} < %d THEN CAST({n} AS BIGINT) ELSE "
        "CAST(floor(%r * (%r / CAST({kth} AS DOUBLE)) + 0.5) AS BIGINT) END"
        % (k, float(k - 1), dom)
    )
    return f"""
WITH tagged AS (
  SELECT CASE WHEN o_orderdate < TIMESTAMP '{KMV_ERA_SPLIT}' THEN 'A'
              ELSE 'B' END AS era,
         CAST('0x' || substr(md5(CAST(o_custkey AS VARCHAR)), 1, 15)
              AS BIGINT) AS hv,
         o_custkey
  FROM orders
),
h AS (SELECT DISTINCT era, hv FROM tagged),
kept AS (
  SELECT era, hv FROM (
    SELECT era, hv, row_number() OVER (PARTITION BY era ORDER BY hv) AS rn
    FROM h
  ) WHERE rn <= {k}
),
per_era AS (
  SELECT era, count(*) AS n_kept, max(hv) AS kth FROM kept GROUP BY era
),
ukept AS (
  SELECT hv FROM (
    SELECT hv, row_number() OVER (ORDER BY hv) AS rn
    FROM (SELECT DISTINCT hv FROM kept)
  ) WHERE rn <= {k}
),
usk AS (SELECT count(*) AS u_kept, max(hv) AS u_kth FROM ukept),
rho AS (
  SELECT count(*) AS rho FROM ukept u
  WHERE u.hv IN (SELECT hv FROM kept WHERE era = 'A')
    AND u.hv IN (SELECT hv FROM kept WHERE era = 'B')
),
exact AS (
  SELECT
    count(DISTINCT CASE WHEN era = 'A' THEN o_custkey END) AS exact_a,
    count(DISTINCT CASE WHEN era = 'B' THEN o_custkey END) AS exact_b,
    count(DISTINCT o_custkey) AS exact_union
  FROM tagged
),
inter_exact AS (
  SELECT count(DISTINCT o_custkey) AS exact_inter
  FROM tagged WHERE era = 'A' AND o_custkey IN
    (SELECT o_custkey FROM tagged WHERE era = 'B')
),
ea AS (SELECT n_kept AS a_kept, kth AS a_kth FROM per_era WHERE era = 'A'),
eb AS (SELECT n_kept AS b_kept, kth AS b_kth FROM per_era WHERE era = 'B')
SELECT CAST(exact_a AS BIGINT) AS exact_a,
  CAST(exact_b AS BIGINT) AS exact_b,
  CAST(exact_union AS BIGINT) AS exact_union,
  CAST(exact_inter AS BIGINT) AS exact_inter,
  {est.format(n="a_kept", kth="a_kth")} AS est_a,
  {est.format(n="b_kept", kth="b_kth")} AS est_b,
  {est.format(n="u_kept", kth="u_kth")} AS est_union,
  CAST(floor(CAST(rho AS DOUBLE)
             * CAST({est.format(n="u_kept", kth="u_kth")} AS DOUBLE)
             / {float(k)!r} + 0.5) AS BIGINT) AS est_inter
FROM exact, inter_exact, ea, eb, usk, rho
"""


@query(oracle=_kmvop_oracle())
def kmv_set_operations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row census: exact and KMV-estimated distinct customers for
    era A (orders < KMV_ERA_SPLIT), era B (>=), their union and their
    intersection. Union: merge the two kept-sets, re-truncate to K.
    Intersection: rho = |union-sketch ∩ A-kept ∩ B-kept| gives
    est_inter = round(rho * est_union / K).

    Scale shape: one distinct-hash reduce per era (map-side combine),
    min-K via WindowGroupLimit (the shuffle carries O(K) per era);
    every set operation thereafter runs on K-row relations — the
    whole point of the sketch algebra: corpus-sized data is touched
    once, merged state is kilobytes."""
    from youtube_etl_automated_pipeline_spark.ext.textstats import md5_long

    orders = load_table(spark, sf_dir, "orders")
    tagged = orders.select(
        F.when(F.col("o_orderdate") < F.lit(KMV_ERA_SPLIT), "A")
        .otherwise("B")
        .alias("era"),
        md5_long(F.col("o_custkey").cast("string"), 15).alias("hv"),
        "o_custkey",
    )
    h = tagged.select("era", "hv").distinct()
    w = Window.partitionBy("era").orderBy("hv")
    kept = memo_persist(
        spark,
        ("kmvop_kept", sf_dir),
        lambda: h.withColumn("rn", F.row_number().over(w)).filter(
            F.col("rn") <= KMVOP_K
        ),
    )

    def est_expr(n_kept, kth):
        return (
            F.when(n_kept < KMVOP_K, n_kept.cast("bigint")).otherwise(
                F.floor(
                    F.lit(float(KMVOP_K - 1))
                    * (F.lit(KMVOP_DOMAIN) / kth.cast("double"))
                    + F.lit(0.5)
                ).cast("bigint")
            )
        )

    per_era = kept.groupBy("era").agg(
        F.count(F.lit(1)).alias("n_kept"), F.max("hv").alias("kth")
    )
    # union sketch: merge kept sets, re-truncate to K smallest
    uw = bounded_window("hv").orderBy("hv")
    ukept = (
        kept.select("hv")
        .distinct()
        .withColumn("rn", F.row_number().over(uw))
        .filter(F.col("rn") <= KMVOP_K)
    )
    usk = ukept.agg(
        F.count(F.lit(1)).alias("u_kept"), F.max("hv").alias("u_kth")
    )
    # rho: union-sketch hashes present in BOTH era kept-sets
    a_set = kept.filter(F.col("era") == "A").select("hv")
    b_set = kept.filter(F.col("era") == "B").select("hv")
    rho = (
        ukept.join(a_set, "hv", "left_semi")
        .join(b_set, "hv", "left_semi")
        .agg(F.count(F.lit(1)).alias("rho"))
    )
    exact = tagged.groupBy().agg(
        F.countDistinct(
            F.when(F.col("era") == "A", F.col("o_custkey"))
        ).alias("exact_a"),
        F.countDistinct(
            F.when(F.col("era") == "B", F.col("o_custkey"))
        ).alias("exact_b"),
        F.countDistinct("o_custkey").alias("exact_union"),
    )
    inter_exact = (
        tagged.filter(F.col("era") == "A")
        .select("o_custkey")
        .join(
            tagged.filter(F.col("era") == "B").select("o_custkey").distinct(),
            "o_custkey",
            "left_semi",
        )
        .agg(F.countDistinct("o_custkey").alias("exact_inter"))
    )
    ea = per_era.filter(F.col("era") == "A").select(
        F.col("n_kept").alias("a_kept"), F.col("kth").alias("a_kth")
    )
    eb = per_era.filter(F.col("era") == "B").select(
        F.col("n_kept").alias("b_kept"), F.col("kth").alias("b_kth")
    )
    est_union = est_expr(F.col("u_kept"), F.col("u_kth"))
    return (
        exact.crossJoin(F.broadcast(inter_exact))
        .crossJoin(F.broadcast(ea))
        .crossJoin(F.broadcast(eb))
        .crossJoin(F.broadcast(usk))
        .crossJoin(F.broadcast(rho))
        .select(
            "exact_a",
            "exact_b",
            "exact_union",
            "exact_inter",
            est_expr(F.col("a_kept"), F.col("a_kth")).alias("est_a"),
            est_expr(F.col("b_kept"), F.col("b_kth")).alias("est_b"),
            est_union.alias("est_union"),
            F.floor(
                F.col("rho").cast("double")
                * est_union.cast("double")
                / F.lit(float(KMVOP_K))
                + F.lit(0.5)
            )
            .cast("bigint")
            .alias("est_inter"),
        )
    )


# ------------------------------------------------------------------
# Bounded k-core peeling: iteratively remove nodes of degree < K from
# the trade graph and report the (nodes, arcs) trajectory — the
# degeneracy-ordering primitive behind community mining and graph
# sparsification. ROUNDS is fixed (oracle = unrolled CTE rounds, the
# k-means pattern); a fixpoint test asserts the fixture converges.

KCORE_K = 48
KCORE_ROUNDS = 4


def _kcore_oracle() -> str:
    from youtube_etl_automated_pipeline_spark.plans.queries_graph import SUPP_NODE_BASE

    parts = [
        f"""eo AS (
  SELECT DISTINCT o_custkey AS c, l_suppkey + {SUPP_NODE_BASE} AS s
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
),
arcs0 AS MATERIALIZED (
  SELECT c AS src, s AS dst FROM eo
  UNION ALL
  SELECT s AS src, c AS dst FROM eo
)"""
    ]
    for i in range(1, KCORE_ROUNDS + 1):
        prev = f"arcs{i - 1}"
        parts.append(
            f"""keep{i} AS MATERIALIZED (
  SELECT src AS node FROM {prev} GROUP BY src HAVING count(*) >= {KCORE_K}
)"""
        )
        parts.append(
            f"""arcs{i} AS MATERIALIZED (
  SELECT a.src, a.dst FROM {prev} a
  WHERE a.src IN (SELECT node FROM keep{i})
    AND a.dst IN (SELECT node FROM keep{i})
)"""
        )
    union = "\n  UNION ALL ".join(
        f"SELECT {i} AS round,"
        f" (SELECT count(DISTINCT src) FROM arcs{i}) AS n_nodes,"
        f" (SELECT count(*) FROM arcs{i}) AS n_arcs"
        for i in range(1, KCORE_ROUNDS + 1)
    )
    return f"""
WITH {", ".join(parts)}
SELECT CAST(round AS INT) AS round,
       CAST(n_nodes AS BIGINT) AS n_nodes,
       CAST(n_arcs AS BIGINT) AS n_arcs
FROM ({union})
ORDER BY round
"""


@query(oracle=_kcore_oracle())
def kcore_trade_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(round, n_nodes, n_arcs) after each of KCORE_ROUNDS peeling
    rounds with threshold KCORE_K over the symmetrized trade graph
    (arcs = directed edge count = 2x undirected).

    Scale shape per round: one degree agg (hash shuffle on src) + two
    semi-joins to restrict arcs to surviving endpoints — the Pregel
    peel. Rounds are a fixed small count; on a real deployment each
    round's survivor set is checkpointed (localCheckpoint here) so
    lineage stays shallow."""
    from youtube_etl_automated_pipeline_spark.plans.queries_graph import _edges

    arcs = _edges(spark, sf_dir)  # memoized, shared with PageRank/BFS
    rows = []
    for rnd in range(1, KCORE_ROUNDS + 1):
        deg = arcs.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
        keep = deg.filter(F.col("deg") >= KCORE_K).select(
            F.col("src").alias("node")
        )
        arcs = (
            arcs.join(keep, arcs.src == keep.node, "left_semi")
            .join(
                keep.select(F.col("node").alias("dnode")),
                arcs.dst == F.col("dnode"),
                "left_semi",
            )
        )
        arcs = truncate_lineage(arcs, eager=False)
        nodes_now = (
            arcs.select(F.col("src").alias("node"))
            .distinct()
            .agg(F.count(F.lit(1)).alias("n_nodes"))
        )
        arcs_now = arcs.agg(F.count(F.lit(1)).alias("n_arcs"))
        rows.append(
            nodes_now.crossJoin(F.broadcast(arcs_now)).select(
                F.lit(rnd).alias("round"), "n_nodes", "n_arcs"
            )
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out.orderBy("round")
