"""MinHash-LSH and SimHash dedup queries over documents."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from youtube_etl_automated_pipeline_spark.ext.dedup import (
    MINHASH_A,
    MINHASH_B,
    MINHASH_P,
    N_PERM,
    SIMHASH_BANDS,
    SIMHASH_BITS,
    band_explode,
    connected_components,
    connected_components_two_phase,
    hamming64,
    simhash,
    simhash_band,
    with_minhash,
)
from youtube_etl_automated_pipeline_spark.ext.textstats import (
    NORMALIZED_SQL,
    RABIN_B,
    RABIN_B2,
    RABIN_K,
    RABIN_M,
    TOKENS_SQL,
    WIN_K,
    WIN_W,
    WS_CLASS,
    sql_md5_long,
)
from youtube_etl_automated_pipeline_spark.ext import textstats as TS
from youtube_etl_automated_pipeline_spark.functions.compat import hround, sql_hround
from youtube_etl_automated_pipeline_spark.operators.cache_registry import memo_persist
from youtube_etl_automated_pipeline_spark.plans.registry import query
from youtube_etl_automated_pipeline_spark.sources import load_wide, table_fingerprint

JACCARD_THRESHOLD = 0.2


def minhash_base(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE MinHash signature index over documents — the one persisted
    relation every MinHash consumer (batch LSH, containment, precision
    QA, incremental probe, the streamed index's batch side) shares.
    Columns: doc_id, hash_set (shingle hashes), sig_0..sig_{N_PERM-1}.
    In production this is the parquet-materialized signature index;
    here it is memoized per (session, sf_dir, table fingerprint) so a
    documents table rewritten at the same path mid-process rebuilds
    instead of serving stale signatures (stale entry unpersisted)."""
    docs = load_wide(spark, sf_dir, "documents")
    return memo_persist(
        spark,
        ("minhash_base", sf_dir),
        lambda: with_minhash(docs.select("doc_id", "text"))
        .filter(F.size("_sh_hashes") >= 3)
        .select(
            "doc_id",
            F.col("_sh_hashes").alias("hash_set"),
            *[f"sig_{j}" for j in range(N_PERM)],
        ),
        fingerprint=table_fingerprint(sf_dir, "documents"),
    )
# With SIMHASH_BANDS=4, banding has PERFECT recall for any pair within
# Hamming distance 3: three differing bits can spoil at most three of
# the four 15-bit bands, so one clean band always collides (pigeonhole).
# Threshold <= bands-1 is the principled choice for banded SimHash.


HAMMING_THRESHOLD = 3


# Containment floor in ppm: C(A,B) = |A∩B| / min(|A|,|B|). Containment
# >= Jaccard always, and it is the right notion for SUBSET duplication
# (a doc pasted inside a longer one scores near 1.0 containment while
# its Jaccard can sit far below any dedup threshold).
CONTAINMENT_PPM_MIN = 500_000


# jaccard >= 0.2 in exact integer arithmetic: ppm = (inter * 1e6) DIV union
JACCARD_PPM_THRESHOLD = int(JACCARD_THRESHOLD * 1_000_000)
INCREMENTAL_BATCH_MOD = 10  # doc_id % 10 == 0 -> the "new batch"


def _index_root() -> str:
    """Root dir for the persisted signature index. Env-overridable
    (``SPARK_GRAFT_INDEX_DIR`` — a real deployment points this at the
    index's durable home); the local default is a per-uid 0700 dir so
    no other local user can pre-plant data at a predictable path. If
    the default path exists but is not ours / not private, fall back
    to a fresh private mkdtemp for this process rather than trust it."""
    import tempfile

    import os

    env = os.environ.get("SPARK_GRAFT_INDEX_DIR")
    if env:
        os.makedirs(env, exist_ok=True)
        return env
    d = os.path.join(
        tempfile.gettempdir(), f"spark_graft_minhash_index-{os.getuid()}"
    )
    try:
        os.makedirs(d, mode=0o700, exist_ok=True)
        st = os.stat(d)
        if st.st_uid != os.getuid() or (st.st_mode & 0o077):
            raise OSError("untrusted index root")
    except OSError:
        global _FALLBACK_INDEX_ROOT
        if _FALLBACK_INDEX_ROOT is None:
            _FALLBACK_INDEX_ROOT = tempfile.mkdtemp(prefix="spark_graft_idx-")
        return _FALLBACK_INDEX_ROOT
    _sweep_stale_builds(d)
    return d


def incremental_index_dir(sf_dir: str, base_columns) -> str:
    """The persisted signature index's directory for ``sf_dir``.
    Cache key = (table fingerprint) x (code/parameter version salt):
    a change to the permutation count, shard modulus, shingle width,
    or the index schema itself must MISS, never serve a stale index
    built under the old parameters across process runs. ONE shared
    derivation — the round-trip test asserts against this same
    function, so the path contract cannot drift between product and
    test (it did during the round-8 interruption)."""
    import hashlib
    import os

    version_salt = repr(
        (N_PERM, INCREMENTAL_BATCH_MOD, JACCARD_THRESHOLD, "shingle=3",
         tuple(sorted(base_columns)))
    )
    fp_tag = hashlib.md5(
        (repr(table_fingerprint(sf_dir, "documents")) + version_salt).encode()
    ).hexdigest()[:16]
    sf_tag = os.path.basename(os.path.normpath(sf_dir))
    return os.path.join(_index_root(), sf_tag, fp_tag)


def _sweep_stale_builds(root: str) -> None:
    """Bound index-root growth: drop crashed builders' ``.build-*``
    leftovers (>1h old) and published fingerprints unused for 7 days —
    a rewritten table or changed params re-keys, so old keys are dead."""
    import shutil
    import time

    import os

    now = time.time()
    for sf_tag in os.listdir(root):
        sub = os.path.join(root, sf_tag)
        if not os.path.isdir(sub):
            continue
        for name in os.listdir(sub):
            p = os.path.join(sub, name)
            try:
                age = now - os.path.getmtime(p)
                if ".build-" in name and age > 3600:
                    shutil.rmtree(p, ignore_errors=True)
                elif age > 7 * 86400:
                    shutil.rmtree(p, ignore_errors=True)
            except OSError:
                pass


_FALLBACK_INDEX_ROOT = None


def shard_probe(corpus: DataFrame, shard: DataFrame) -> DataFrame:
    """Probe a shard's signatures against a corpus signature table
    (persisted or in-memory — the round-trip test runs BOTH through
    this one plan builder and asserts equality): re-band the corpus,
    min-aggregate to the (band, sig) -> canon index, banded equi-join
    from the shard, verify candidates by exact shingle Jaccard."""
    idx = (
        band_explode(corpus)
        .groupBy("band_id", "sig")
        .agg(F.min("doc_id").alias("canon_doc"))
    )
    cand = (
        band_explode(shard)
        .join(idx, ["band_id", "sig"])
        .select(
            F.col("canon_doc").alias("doc_a"), F.col("doc_id").alias("doc_b")
        )
        .distinct()
    )
    sets_a = corpus.select(
        F.col("doc_id").alias("doc_a"), F.col("hash_set").alias("set_a")
    )
    sets_b = shard.select(
        F.col("doc_id").alias("doc_b"), F.col("hash_set").alias("set_b")
    )
    verified = (
        cand.join(sets_a, "doc_a")
        .join(sets_b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            hround(
                F.size(F.array_intersect(F.col("set_a"), F.col("set_b")))
                / F.size(F.array_union(F.col("set_a"), F.col("set_b"))),
                4,
            ).alias("jaccard"),
        )
    )
    # no trailing orderBy (r08): range-sampling re-executed the
    # probe-join subtree; driver compare is order-insensitive
    return verified.filter(F.col("jaccard") >= JACCARD_THRESHOLD)


# DuckDB oracles for MinHash-LSH / SimHash dedup. Every hash,
# permutation constant, band width, and threshold is imported from
# ext.dedup so Spark and oracle cannot drift.

_SHINGLES = (
    f"list_transform(generate_series(1, len({TOKENS_SQL}) - 2),"
    f" i -> array_to_string(({TOKENS_SQL})[i:i+2], ' '))"
)
# distinct shingle hashes (8 hex chars = 32 bits, matches md5_long default)
_SH_HASHES = (
    f"list_distinct(list_transform({_SHINGLES},"
    f" s -> CAST('0x' || substr(md5(s), 1, 8) AS BIGINT)))"
)


def _sig(j: int, hashes_expr: str = "hs") -> str:
    a, b = MINHASH_A[j], MINHASH_B[j]
    return (
        f"list_min(list_transform({hashes_expr},"
        f" h -> ({a} * (h % {MINHASH_P}) + {b}) % {MINHASH_P}))"
    )


# 60-bit SimHash: per-bit majority vote over distinct-token 60-bit md5
# hashes, folded into one BIGINT. Empty/null text -> empty hash list ->
# all votes 0 -> sketch 0 (mirrors Spark's aggregate-with-init-0).
_TOK_HASHES = (
    "CASE WHEN text IS NULL OR trim(text) = '' THEN CAST([] AS BIGINT[]) "
    f"ELSE list_transform(list_distinct({TOKENS_SQL}),"
    " t -> CAST('0x' || substr(md5(t), 1, 15) AS BIGINT)) END"
)
# CAST AS BIGINT is mandatory: DuckDB list_sum over integers returns
# HUGEINT (int128), which the bit-exact compare sees as a different
# type/value domain than Spark's long sketch.
_SKETCH = (
    "CAST(coalesce(list_sum(list_transform("
    f"generate_series(0, {SIMHASH_BITS - 1}), bb -> "
    "CASE WHEN coalesce(list_sum(list_transform(hs, h -> "
    "CASE WHEN ((h >> bb) & 1) = 1 THEN 1 ELSE -1 END)), 0) > 0 "
    "THEN (CAST(1 AS BIGINT) << bb) ELSE CAST(0 AS BIGINT) END)), 0) AS BIGINT)"
)

_BAND_W = SIMHASH_BITS // SIMHASH_BANDS
_BAND_MASK = (1 << _BAND_W) - 1


def _band(b: int, sketch_expr: str = "sketch") -> str:
    return f"(({sketch_expr} >> {b * _BAND_W}) & {_BAND_MASK})"


@query(
    oracle=f"""
WITH hashed AS (
  SELECT doc_id, {_TOK_HASHES} AS hs FROM documents
),
sk AS (
  SELECT doc_id, {_SKETCH} AS sketch FROM hashed
)
SELECT doc_id, sketch,
  {", ".join(f"{_band(b)} AS band_{b}" for b in range(SIMHASH_BANDS))}
FROM sk
ORDER BY doc_id
"""
)
def dedup_simhash_sketches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document SimHash sketch + band keys (the materialized-index
    form a production pipeline would persist)."""
    docs = load_wide(spark, sf_dir, "documents")
    out = docs.select("doc_id", simhash(F.col("text")).alias("sketch"))
    for b in range(SIMHASH_BANDS):
        out = out.withColumn(f"band_{b}", simhash_band(F.col("sketch"), b))
    return out


_JACC = sql_hround(
    "CASE WHEN n_union > 0 THEN n_inter / n_union ELSE 0 END", 4
)
_PAIRS_SQL = f"""
WITH base AS (
  SELECT doc_id,
    {_SH_HASHES} AS hs
  FROM documents
  WHERE len({_SH_HASHES}) >= 3
),
sigs AS (
  SELECT doc_id, hs,
    {", ".join(f"{_sig(j)} AS sig_{j}" for j in range(N_PERM))}
  FROM base
),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
    len(list_intersect(a.hs, b.hs)) AS n_inter,
    len(list_distinct(list_concat(a.hs, b.hs))) AS n_union
  FROM sigs a JOIN sigs b
    ON a.doc_id < b.doc_id
   AND ({" OR ".join(f"a.sig_{j} = b.sig_{j}" for j in range(N_PERM))})
)
SELECT doc_a, doc_b, {_JACC} AS jaccard
FROM pairs
WHERE ({_JACC}) >= {JACCARD_THRESHOLD}
ORDER BY doc_a, doc_b
"""


@query(oracle=_PAIRS_SQL)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash (k=8) + LSH (8 bands x 1 row) candidate generation,
    exact-Jaccard verification >= 0.2.

    Plan shape: signature projection (no shuffle) -> band explode ->
    self-equi-join per band key (shuffle on band value) -> distinct
    candidate pairs -> verify join pulls the two shingle sets -> exact
    Jaccard filter. All-pairs never materializes.
    """
    # the shared signature index: it feeds the band explode AND both
    # sides of the verify join (3 consumers). In production this is
    # the materialized signature index you'd write to parquet.
    base = minhash_base(spark, sf_dir)
    bands = band_explode(base)
    cand = (
        bands.alias("a")
        .join(
            bands.alias("b"),
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.sig") == F.col("b.sig"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    sets_a = base.select(F.col("doc_id").alias("doc_a"), F.col("hash_set").alias("set_a"))
    sets_b = base.select(F.col("doc_id").alias("doc_b"), F.col("hash_set").alias("set_b"))
    verified = (
        cand.join(sets_a, "doc_a")
        .join(sets_b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            hround(
                F.size(F.array_intersect(F.col("set_a"), F.col("set_b")))
                / F.size(F.array_union(F.col("set_a"), F.col("set_b"))),
                4,
            ).alias("jaccard"),
        )
    )
    return verified.filter(F.col("jaccard") >= JACCARD_THRESHOLD)


# canonical-representative selection: components (recursive CTE as
# above) -> full corpus left-labeled -> longest-doc-wins window
@query(
    oracle=f"""
WITH RECURSIVE edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM ({_PAIRS_SQL}) p
  UNION
  SELECT doc_b AS src, doc_a AS dst FROM ({_PAIRS_SQL}) p
),
reach(src, dst) AS (
  SELECT src, dst FROM edges
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
),
comp AS (
  SELECT src AS node, least(src, min(dst)) AS component
  FROM reach GROUP BY src
),
labeled AS (
  SELECT d.doc_id, d.n_chars,
         coalesce(c.component, d.doc_id) AS cluster_id
  FROM documents d LEFT JOIN comp c ON d.doc_id = c.node
),
ranked AS (
  SELECT cluster_id, doc_id, n_chars,
         row_number() OVER (
           PARTITION BY cluster_id ORDER BY n_chars DESC, doc_id ASC
         ) AS rn,
         count(*) OVER (PARTITION BY cluster_id) AS n_members
  FROM labeled
)
SELECT cluster_id, doc_id, n_chars, n_members
FROM ranked WHERE rn = 1
ORDER BY cluster_id
"""
)
def dedup_keep_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curation decision that near-dup clustering exists to serve:
    ONE canonical representative per duplicate cluster (longest text
    wins, doc_id ascending tiebreak), singleton docs are their own
    cluster. Output: kept doc per cluster with member count.

    Plan: LSH-verified pairs -> connected components (as
    dedup_minhash_clusters) -> LEFT join from the full corpus (so the
    component table — tiny, only docs appearing in some pair — never
    forces a scan-sized shuffle; coalesce labels singletons) -> one
    window shuffle on cluster_id picks the representative and counts
    members. At 100 TB the component table stays broadcast-sized
    (duplicates are a small fraction), so the only full shuffle is
    the final window on cluster_id."""
    pairs = memo_persist(
        spark,
        ("lsh_pairs", sf_dir),
        lambda: dedup_minhash_lsh(spark, sf_dir).select(
            F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
        ),
    )
    comp = connected_components(pairs)
    docs = load_wide(spark, sf_dir, "documents").select(
        "doc_id", "n_chars"
    )
    labeled = (
        docs.join(F.broadcast(comp), docs.doc_id == comp.node, "left")
        .select(
            "doc_id",
            "n_chars",
            F.coalesce(F.col("component"), F.col("doc_id")).alias("cluster_id"),
        )
    )
    w = Window.partitionBy("cluster_id")
    ranked = labeled.select(
        "cluster_id",
        "doc_id",
        "n_chars",
        F.row_number()
        .over(w.orderBy(F.desc("n_chars"), F.asc("doc_id")))
        .alias("_rn"),
        F.count(F.lit(1)).over(w).alias("n_members"),
    )
    return (
        ranked.filter(F.col("_rn") == 1)
        .select("cluster_id", "doc_id", "n_chars", "n_members")
        .orderBy("cluster_id")
    )


_CONTAINMENT_SQL = f"""
WITH base AS (
  SELECT doc_id,
    {_SH_HASHES} AS hs
  FROM documents
  WHERE len({_SH_HASHES}) >= 3
),
sigs AS (
  SELECT doc_id, hs,
    {", ".join(f"{_sig(j)} AS sig_{j}" for j in range(N_PERM))}
  FROM base
),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
    CAST(len(list_intersect(a.hs, b.hs)) AS BIGINT) AS n_inter,
    CAST(len(a.hs) AS BIGINT) AS n_a,
    CAST(len(b.hs) AS BIGINT) AS n_b
  FROM sigs a JOIN sigs b
    ON a.doc_id < b.doc_id
   AND ({" OR ".join(f"a.sig_{j} = b.sig_{j}" for j in range(N_PERM))})
)
SELECT doc_a, doc_b, n_inter,
  CAST((n_inter * 1000000) // least(n_a, n_b) AS BIGINT) AS containment_ppm,
  CASE WHEN n_a <= n_b THEN doc_a ELSE doc_b END AS contained_doc
FROM pairs
WHERE (n_inter * 1000000) // least(n_a, n_b) >= {CONTAINMENT_PPM_MIN}
ORDER BY doc_a, doc_b
"""


@query(oracle=_CONTAINMENT_SQL)
def dedup_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric-containment near-dup pairs — the subset-duplication
    detector Jaccard misses (RealNews/C4-style dedup flags a short
    article embedded in a scraped aggregation page): candidates from
    the SAME MinHash banding as dedup_minhash_lsh (shared memoized
    signature index), verified by exact shingle containment
    |A∩B| / min(|A|,|B|) in integer ppm, with the contained (smaller)
    side named so the keep/drop decision is explicit.

    Scale shape: identical to the LSH query — signature projection,
    band equi-join, verify join on candidates only; the only new work
    is the least()/ppm arithmetic per candidate. All-pairs never
    materializes. Caveat (documented, inherent): MinHash banding
    recalls pairs by JACCARD similarity, so a tiny-doc-inside-huge-doc
    pair with high containment but near-zero Jaccard may not surface
    as a candidate; production containment dedup over adversarial
    size ratios uses suffix-array / exact-substring passes
    (dedup_repeated_substring) alongside this.
    """
    base = minhash_base(spark, sf_dir)
    bands = band_explode(base)
    cand = (
        bands.alias("a")
        .join(
            bands.alias("b"),
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.sig") == F.col("b.sig"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    sets_a = base.select(
        F.col("doc_id").alias("doc_a"), F.col("hash_set").alias("set_a")
    )
    sets_b = base.select(
        F.col("doc_id").alias("doc_b"), F.col("hash_set").alias("set_b")
    )
    scored = (
        cand.join(sets_a, "doc_a")
        .join(sets_b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("set_a", "set_b"))
            .cast("bigint")
            .alias("n_inter"),
            F.size("set_a").cast("bigint").alias("n_a"),
            F.size("set_b").cast("bigint").alias("n_b"),
        )
        .withColumn(
            "containment_ppm",
            F.expr(
                "CAST((n_inter * 1000000) DIV least(n_a, n_b) AS BIGINT)"
            ),
        )
        .withColumn(
            "contained_doc",
            F.when(F.col("n_a") <= F.col("n_b"), F.col("doc_a")).otherwise(
                F.col("doc_b")
            ),
        )
    )
    return (
        scored.filter(F.col("containment_ppm") >= CONTAINMENT_PPM_MIN)
        .select(
            "doc_a", "doc_b", "n_inter", "containment_ppm", "contained_doc"
        )
        .orderBy("doc_a", "doc_b")
    )


_SIMHASH_SQL = f"""
WITH hashed AS (
  SELECT doc_id, {_TOK_HASHES} AS hs FROM documents
),
sk AS (
  SELECT doc_id, {_SKETCH} AS sketch FROM hashed
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
  CAST(bit_count(xor(a.sketch, b.sketch)) AS INT) AS hamming
FROM sk a JOIN sk b
  ON a.doc_id < b.doc_id
 AND ({" OR ".join(f"{_band(b, 'a.sketch')} = {_band(b, 'b.sketch')}"
                   for b in range(SIMHASH_BANDS))})
WHERE bit_count(xor(a.sketch, b.sketch)) <= {HAMMING_THRESHOLD}
ORDER BY doc_a, doc_b
"""


@query(oracle=_SIMHASH_SQL)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash sketches + banded blocking; near-dup pairs within
    Hamming distance <= 3 (of 60 bits). Verification is a popcount on
    XOR — constant-time per candidate pair — and recall is exact, not
    approximate: <= 3 flipped bits cannot touch all 4 bands."""
    docs = load_wide(spark, sf_dir, "documents")
    sketched = docs.select("doc_id", simhash(F.col("text")).alias("sketch"))
    bands = sketched.select(
        "doc_id",
        "sketch",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_id"),
                        simhash_band(F.col("sketch"), b).alias("band_val"),
                    )
                    for b in range(SIMHASH_BANDS)
                ]
            )
        ).alias("band"),
    ).select("doc_id", "sketch", "band.band_id", "band.band_val")
    cand = (
        bands.alias("a")
        .join(
            bands.alias("b"),
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.sketch").alias("sketch_a"),
            F.col("b.sketch").alias("sketch_b"),
        )
        .distinct()
    )
    return (
        cand.select(
            "doc_a",
            "doc_b",
            hamming64(F.col("sketch_a"), F.col("sketch_b")).alias("hamming"),
        )
        .filter(F.col("hamming") <= HAMMING_THRESHOLD)
    )


# connected components over the verified pair set via recursive CTE —
# same pair SQL inlined twice (DuckDB has no CTE-of-CTE reuse here)
_CLUSTERS_SQL = f"""
WITH RECURSIVE edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM ({_PAIRS_SQL}) p
  UNION
  SELECT doc_b AS src, doc_a AS dst FROM ({_PAIRS_SQL}) p
),
reach(src, dst) AS (
  SELECT src, dst FROM edges
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
)
SELECT src AS doc_id, least(src, min(dst)) AS cluster_id
FROM reach GROUP BY src
ORDER BY doc_id
"""


@query(oracle=_CLUSTERS_SQL)
def dedup_minhash_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERS: MinHash-LSH verified pairs -> connected
    components (iterative min-label propagation) -> one cluster id
    (min doc_id) per duplicate group. The step that turns pairwise
    similarity into the keep-one-per-group dedup decision."""
    # persist: the undirected-edge union reads the pair set twice, and
    # every propagation round joins against it
    pairs = memo_persist(
        spark,
        ("lsh_pairs", sf_dir),
        lambda: dedup_minhash_lsh(spark, sf_dir).select(
            F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
        ),
    )
    comp = connected_components(pairs)
    return comp.select(
        F.col("node").alias("doc_id"), F.col("component").alias("cluster_id")
    ).orderBy("doc_id")


# two-phase (large-star/small-star) CC computes the SAME clustering as
# min-label propagation — one oracle pins both kernels
@query(oracle=_CLUSTERS_SQL)
def dedup_clusters_two_phase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same cluster assignment as dedup_minhash_clusters, computed by
    the large-star/small-star kernel instead of min-label propagation
    — the O(log^2 n)-round algorithm a 100 TB high-diameter graph
    needs (propagation pays O(diameter) rounds). Two independent
    kernels agreeing on the same oracle pins both."""
    pairs = memo_persist(
        spark,
        ("lsh_pairs", sf_dir),
        lambda: dedup_minhash_lsh(spark, sf_dir).select(
            F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
        ),
    )
    comp = connected_components_two_phase(pairs)
    return comp.select(
        F.col("node").alias("doc_id"), F.col("component").alias("cluster_id")
    ).orderBy("doc_id")


# incremental-ingest dedup census: batch = doc_id % MOD = 0 vs corpus
_JPPM = (
    "(len(list_intersect(a.hs, b.hs)) * 1000000)"
    " // len(list_distinct(list_concat(a.hs, b.hs)))"
)


@query(
    oracle=f"""
WITH d AS (
  SELECT doc_id, coalesce(lang, '??') AS lang, text,
         md5(coalesce(text, '')) AS th
  FROM documents
),
batch AS (SELECT * FROM d WHERE doc_id % {INCREMENTAL_BATCH_MOD} = 0),
corpus AS (SELECT * FROM d WHERE doc_id % {INCREMENTAL_BATCH_MOD} <> 0),
exact AS (
  SELECT DISTINCT b.doc_id FROM batch b
  JOIN (SELECT DISTINCT th FROM corpus) c USING (th)
),
base AS (
  SELECT doc_id, {_SH_HASHES} AS hs
  FROM documents
  WHERE len({_SH_HASHES}) >= 3
),
sigs AS (
  SELECT doc_id, hs,
    {", ".join(f"{_sig(j)} AS sig_{j}" for j in range(N_PERM))}
  FROM base
),
bsig AS (SELECT * FROM sigs WHERE doc_id % {INCREMENTAL_BATCH_MOD} = 0),
csig AS (SELECT * FROM sigs WHERE doc_id % {INCREMENTAL_BATCH_MOD} <> 0),
near AS (
  SELECT DISTINCT a.doc_id
  FROM bsig a JOIN csig b
    ON ({" OR ".join(f"a.sig_{j} = b.sig_{j}" for j in range(N_PERM))})
  WHERE ({_JPPM}) >= {JACCARD_PPM_THRESHOLD}
    AND a.doc_id NOT IN (SELECT doc_id FROM exact)
)
SELECT b.lang,
  CAST(count(*) AS BIGINT) AS n_batch,
  CAST(sum(CASE WHEN e.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
    AS n_exact_dup,
  CAST(sum(CASE WHEN nr.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
    AS n_near_dup,
  CAST(count(*)
       - sum(CASE WHEN e.doc_id IS NOT NULL THEN 1 ELSE 0 END)
       - sum(CASE WHEN nr.doc_id IS NOT NULL THEN 1 ELSE 0 END)
       AS BIGINT) AS n_accepted
FROM batch b
LEFT JOIN exact e ON b.doc_id = e.doc_id
LEFT JOIN near nr ON b.doc_id = nr.doc_id
GROUP BY b.lang
ORDER BY b.lang
"""
)
def dedup_incremental_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-ingest dedup census: treat doc_id % 10 == 0 as the
    newly arriving batch and the rest as the existing corpus; a batch
    doc is EXACT-dropped when its text hash already exists in the
    corpus, NEAR-dropped (if not exact) when MinHash banding finds a
    corpus partner with exact Jaccard >= threshold. Output per-lang:
    n_batch, n_exact_dup, n_near_dup, n_accepted.

    Scale shape — the recurring-ETL posture the reference's cron runs
    imply: the corpus signature index is the already-materialized
    table (memoized here, parquet in production); the batch side is
    small, so the exact check is a hash semi-join and the near check
    is a DIRECTIONAL batch-band x corpus-band equi-join — never a
    corpus self-join, never all-pairs. Batch-internal duplicates are
    deliberately out of scope (they arrive again next run)."""
    docs = load_wide(spark, sf_dir, "documents")
    is_batch = F.col("doc_id") % INCREMENTAL_BATCH_MOD == 0
    th = F.md5(F.coalesce(F.col("text"), F.lit("")))
    tagged = docs.select(
        "doc_id",
        F.coalesce("lang", F.lit("??")).alias("lang"),
        th.alias("th"),
        is_batch.alias("is_batch"),
    )
    batch = tagged.filter("is_batch")
    corpus_hashes = tagged.filter(~F.col("is_batch")).select("th").distinct()
    exact_ids = (
        batch.join(corpus_hashes, "th", "left_semi").select("doc_id").distinct()
    )

    sigs = minhash_base(spark, sf_dir)

    batch_sigs = sigs.filter(F.col("doc_id") % INCREMENTAL_BATCH_MOD == 0)
    corpus_sigs = sigs.filter(F.col("doc_id") % INCREMENTAL_BATCH_MOD != 0)
    cand = (
        band_explode(batch_sigs)
        .alias("a")
        .join(
            band_explode(corpus_sigs).alias("b"),
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.sig") == F.col("b.sig")),
        )
        .select(
            F.col("a.doc_id").alias("batch_id"), F.col("b.doc_id").alias("corpus_id")
        )
        .distinct()
    )
    verified = (
        cand.join(
            batch_sigs.select(
                F.col("doc_id").alias("batch_id"), F.col("hash_set").alias("set_a")
            ),
            "batch_id",
        )
        .join(
            corpus_sigs.select(
                F.col("doc_id").alias("corpus_id"), F.col("hash_set").alias("set_b")
            ),
            "corpus_id",
        )
        .filter(
            F.expr(
                "(CAST(size(array_intersect(set_a, set_b)) AS BIGINT) * 1000000)"
                " DIV size(array_union(set_a, set_b))"
            )
            >= JACCARD_PPM_THRESHOLD
        )
        .select("batch_id")
        .distinct()
    )
    near_ids = verified.join(
        exact_ids.select(F.col("doc_id").alias("batch_id")), "batch_id", "left_anti"
    )
    flagged = (
        batch.select("doc_id", "lang")
        .join(exact_ids.withColumn("_exact", F.lit(1)), "doc_id", "left")
        .join(
            near_ids.select(F.col("batch_id").alias("doc_id")).withColumn(
                "_near", F.lit(1)
            ),
            "doc_id",
            "left",
        )
    )
    return (
        flagged.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_batch"),
            F.sum(F.coalesce("_exact", F.lit(0))).alias("n_exact_dup"),
            F.sum(F.coalesce("_near", F.lit(0))).alias("n_near_dup"),
        )
        .select(
            "lang",
            "n_batch",
            "n_exact_dup",
            "n_near_dup",
            (
                F.col("n_batch") - F.col("n_exact_dup") - F.col("n_near_dup")
            ).alias("n_accepted"),
        )
        .orderBy("lang")
    )


# Persisted-index shard probe: the oracle recomputes everything from
# the table (SQL has no "persisted index"); the parquet round-trip is
# the Spark-side implementation detail under test, and
# tests/test_streaming.py separately proves round-trip == one-shot.
_BANDS_UNION = " UNION ALL ".join(
    f"SELECT doc_id, {j} AS band_id, sig_{j} AS sig FROM sigs"
    for j in range(N_PERM)
)


@query(
    oracle=f"""
WITH base AS (
  SELECT doc_id, {_SH_HASHES} AS hs
  FROM documents
  WHERE len({_SH_HASHES}) >= 3
),
sigs AS MATERIALIZED (
  SELECT doc_id, hs,
    {", ".join(f"{_sig(j)} AS sig_{j}" for j in range(N_PERM))}
  FROM base
),
bands AS MATERIALIZED ({_BANDS_UNION}),
idx AS (
  SELECT band_id, sig, min(doc_id) AS canon_doc
  FROM bands WHERE doc_id % {INCREMENTAL_BATCH_MOD} <> 0
  GROUP BY 1, 2
),
cand AS (
  SELECT DISTINCT i.canon_doc AS doc_a, b.doc_id AS doc_b
  FROM bands b JOIN idx i USING (band_id, sig)
  WHERE b.doc_id % {INCREMENTAL_BATCH_MOD} = 0
),
pairs AS (
  SELECT c.doc_a, c.doc_b,
    len(list_intersect(a.hs, b.hs)) AS n_inter,
    len(list_distinct(list_concat(a.hs, b.hs))) AS n_union
  FROM cand c
  JOIN sigs a ON a.doc_id = c.doc_a
  JOIN sigs b ON b.doc_id = c.doc_b
)
SELECT doc_a, doc_b, {_JACC} AS jaccard
FROM pairs
WHERE ({_JACC}) >= {JACCARD_THRESHOLD}
ORDER BY doc_a, doc_b
"""
)
def dedup_incremental_shard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup a NEW shard against a PERSISTED signature index — the
    parquet round-trip the production story promises ("the index
    persists as a parquet index, re-banded not re-hashed"). The corpus
    (doc_id % INCREMENTAL_BATCH_MOD != 0) signature table (doc_id, hash_set,
    sig_0..sig_{k-1}) is written to parquet ONCE per documents-table
    fingerprint and then RE-READ from disk in a fresh scan plan; the
    probe re-derives the banding from the persisted sigs
    (band_explode — cheap column fan-out) and never re-hashes corpus
    text. Only the incoming shard (doc_id % INCREMENTAL_BATCH_MOD == 0) is hashed
    fresh. Output: (doc_a = corpus canon per colliding bucket,
    doc_b = shard doc, exact shingle Jaccard >= threshold).

    Scale shape: the daily-crawl maintenance cost is hashing the
    SHARD plus an equi-join against the index — corpus text is never
    re-scanned. Candidates come from the banded equi-join (all-pairs
    never materializes); verification reads the persisted corpus
    hash_set column, so the verify side is also served from the
    index. tests/test_streaming.py proves the round-trip equals the
    no-persistence one-shot plan bit-for-bit.

    Cites the reference's re-ingest guard (keep-last on re-run,
    `Python-pipeline/dataprocessing2.py` upsert posture) scaled to
    near-dup semantics; batch twin of the streamed index
    (streaming_minhash_dedup keeps the same (band, sig) -> canon map
    as live state)."""
    import os

    base = minhash_base(spark, sf_dir)
    idx_dir = incremental_index_dir(sf_dir, base.columns)
    # one write per (sf_dir, fingerprint, params): _SUCCESS is Spark's
    # own commit marker, so a killed half-write is never trusted; the
    # PUBLISH is write-to-private-tmp + atomic rename, so concurrent
    # builders (parallel test workers) race benignly — first rename
    # wins, losers discard their build and read the winner's.
    if not os.path.exists(os.path.join(idx_dir, "_SUCCESS")):
        import shutil
        import uuid as _uuid

        tmp_dir = f"{idx_dir}.build-{_uuid.uuid4().hex}"
        base.filter(F.col("doc_id") % INCREMENTAL_BATCH_MOD != 0).write.mode(
            "overwrite"
        ).parquet(tmp_dir)
        try:
            os.rename(tmp_dir, idx_dir)
        except OSError:  # lost the publish race: keep the winner's
            shutil.rmtree(tmp_dir, ignore_errors=True)
    corpus = spark.read.parquet(idx_dir)  # fresh from-disk scan plan
    shard = base.filter(F.col("doc_id") % INCREMENTAL_BATCH_MOD == 0)
    return shard_probe(corpus, shard)


# sketch-quality QA: signature-agreement estimate vs exact Jaccard
_N_MATCH = " + ".join(
    f"(CASE WHEN a.sig_{j} = b.sig_{j} THEN 1 ELSE 0 END)" for j in range(N_PERM)
)


@query(
    oracle=f"""
WITH base AS (
  SELECT doc_id, {_SH_HASHES} AS hs
  FROM documents
  WHERE len({_SH_HASHES}) >= 3
),
sigs AS (
  SELECT doc_id, hs,
    {", ".join(f"{_sig(j)} AS sig_{j}" for j in range(N_PERM))}
  FROM base
),
pairs AS (
  SELECT ({_N_MATCH}) AS n_sig_match,
         ({_JPPM}) AS jacc_ppm
  FROM sigs a JOIN sigs b
    ON a.doc_id < b.doc_id
   AND ({" OR ".join(f"a.sig_{j} = b.sig_{j}" for j in range(N_PERM))})
)
SELECT CAST(n_sig_match AS INT) AS n_sig_match,
  CAST(count(*) AS BIGINT) AS n_pairs,
  CAST(sum(CASE WHEN jacc_ppm >= {JACCARD_PPM_THRESHOLD} THEN 1 ELSE 0 END)
       AS BIGINT) AS n_verified,
  CAST(sum(jacc_ppm) // count(*) AS BIGINT) AS mean_jaccard_ppm
FROM pairs
GROUP BY n_sig_match
ORDER BY n_sig_match
"""
)
def dedup_minhash_precision(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-quality QA census: for every LSH candidate pair, compare
    the signature-agreement estimate (matching sigs / 8 — the only
    signal a pure sketch index has) against exact Jaccard, grouped by
    agreement count. Columns: n_sig_match, n_pairs, n_verified (exact
    Jaccard >= threshold), mean_jaccard_ppm. The operator a curation
    team runs before trusting banding parameters at 100 TB: it reads
    only the candidate set (never all-pairs) and reports how estimate
    bands map to true similarity. All-integer arithmetic (exact ppm
    ratios) keeps it bit-exact across engines."""
    base = minhash_base(spark, sf_dir)
    bands = band_explode(base)
    cand = (
        bands.alias("a")
        .join(
            bands.alias("b"),
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.sig") == F.col("b.sig"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    a_side = base.select(
        F.col("doc_id").alias("doc_a"),
        F.col("hash_set").alias("set_a"),
        *[F.col(f"sig_{j}").alias(f"sa_{j}") for j in range(N_PERM)],
    )
    b_side = base.select(
        F.col("doc_id").alias("doc_b"),
        F.col("hash_set").alias("set_b"),
        *[F.col(f"sig_{j}").alias(f"sb_{j}") for j in range(N_PERM)],
    )
    n_match = sum(
        F.when(F.col(f"sa_{j}") == F.col(f"sb_{j}"), 1).otherwise(0)
        for j in range(N_PERM)
    )
    scored = (
        cand.join(a_side, "doc_a")
        .join(b_side, "doc_b")
        .select(
            n_match.alias("n_sig_match"),
            F.expr(
                "(CAST(size(array_intersect(set_a, set_b)) AS BIGINT) * 1000000)"
                " DIV size(array_union(set_a, set_b))"
            ).alias("jacc_ppm"),
        )
    )
    return (
        scored.groupBy("n_sig_match")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum(
                F.when(F.col("jacc_ppm") >= JACCARD_PPM_THRESHOLD, 1).otherwise(0)
            ).alias("n_verified"),
            F.expr("CAST(sum(jacc_ppm) DIV count(1) AS BIGINT)").alias(
                "mean_jaccard_ppm"
            ),
        )
        .orderBy("n_sig_match")
    )


# DuckDB oracles for the extension operators. Marker lists / hash
# recipes are generated from ext.textstats constants so the two sides
# cannot drift.

_CONTENT_FP = sql_md5_long(NORMALIZED_SQL, 15)


_MIN_SHINGLE_FP = (
    f"CASE WHEN len({TOKENS_SQL}) >= 3 THEN"
    f" list_min(list_transform({_SHINGLES}, s -> {sql_md5_long('s')}))"
    f" ELSE {_CONTENT_FP} END"
)

_CL = f"list_transform(generate_series(1, greatest(length(nrm), 1)), i -> ord(substr(nrm, i, 1)))"
_FOLD = f"(a, b) -> (CAST(a AS BIGINT) * {RABIN_B} + b) % {RABIN_M}"
_FULL = f"CASE WHEN length(nrm) = 0 THEN 0 ELSE list_reduce({_CL}, {_FOLD}) END"
_MINW = (
    f"CASE WHEN length(nrm) >= {RABIN_K} THEN "
    f"list_min(list_transform(generate_series(1, length(nrm) - {RABIN_K - 1}),"
    f" i -> list_reduce(({_CL})[i:i+{RABIN_K - 1}], {_FOLD})))"
    f" ELSE {_FULL} END"
)

# Winnowing fingerprints, mirrored step by step from
# ext/textstats.winnowed_fingerprints: the kernel's prefix-hash
# window identity (pre[i+K] - pre[i]*B^K) mod M equals the stepwise
# fold list_reduce performs here (both are the K-char polynomial hash
# reduced into [0, M)); selection takes the LEFTMOST minimum of each
# W-window of h1 (list_position returns the first match).
_FOLD2 = f"(a, b) -> (CAST(a AS BIGINT) * {RABIN_B2} + b) % {RABIN_M}"
_WCL = "list_transform(generate_series(i, i + " f"{WIN_K - 1}" "), j -> ord(substr(nrm, j, 1)))"


def winnow_fp_ctes(src_cte: str, prefix: str = "") -> str:
    """CTE chain reproducing ext.textstats.winnowed_fingerprints over
    a (doc_id, text) CTE named ``src_cte``; terminal CTE {prefix}fp =
    (doc_id, h1, h2). ``prefix`` namespaces the chain so several
    fingerprint sources (corpus index + streaming probes) can live in
    one WITH clause."""
    return f"""{prefix}nd AS (
  SELECT doc_id, {NORMALIZED_SQL} AS nrm FROM {src_cte}
),
{prefix}eligible AS (
  SELECT doc_id, nrm, length(nrm) AS n FROM {prefix}nd
  WHERE length(nrm) >= {WIN_K + WIN_W - 1}
),
{prefix}hs AS MATERIALIZED (
  SELECT doc_id,
    list_transform(generate_series(1, n - {WIN_K - 1}),
                   i -> list_reduce({_WCL}, {_FOLD})) AS h1s,
    list_transform(generate_series(1, n - {WIN_K - 1}),
                   i -> list_reduce({_WCL}, {_FOLD2})) AS h2s,
    n - {WIN_K - 1} AS n_win
  FROM {prefix}eligible
),
{prefix}sel AS (
  SELECT doc_id, h1s, h2s,
    list_distinct(list_transform(generate_series(1, n_win - {WIN_W - 1}),
      p -> p - 1 + list_position(h1s[p:p+{WIN_W - 1}],
                                 list_min(h1s[p:p+{WIN_W - 1}])))) AS pos_list
  FROM {prefix}hs
),
{prefix}fp AS (
  SELECT DISTINCT doc_id, h1s[pos] AS h1, h2s[pos] AS h2
  FROM (SELECT doc_id, h1s, h2s, unnest(pos_list) AS pos FROM {prefix}sel)
)"""


# Extension-operator queries: text analysis, dedup, fingerprinting
# over the documents table (training-data-pipeline operators; BASELINE
# north star). All column-expression based — projection-speed at scan,
# exact dedup is one hash shuffle.

@query(
    oracle=f"""
SELECT doc_id,
  {_CONTENT_FP} AS content_fp,
  {_MIN_SHINGLE_FP} AS min_shingle_fp
FROM documents
ORDER BY doc_id
"""
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: full-content md5-derived 60-bit hash +
    winnowing-style min 3-gram-shingle hash."""
    docs = load_wide(spark, sf_dir, "documents")
    text = F.col("text")
    return docs.select(
        "doc_id",
        TS.content_hash(text).alias("content_fp"),
        TS.min_shingle_hash(text, 3).alias("min_shingle_fp"),
    )


@query(
    oracle=f"""
SELECT {_CONTENT_FP.replace("text", "text")} AS content_fp,
       min(doc_id) AS keep_doc_id,
       count(*) AS n_copies
FROM documents
GROUP BY 1
ORDER BY keep_doc_id
"""
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by normalized-content hash: one hash-shuffle
    groupBy; keeps the min doc_id per group (deterministic survivor
    policy) and reports group size. At 100 TB this is the standard
    first dedup pass — the shuffle key is the 60-bit content hash, so
    skew is impossible unless the corpus is pathological."""
    docs = load_wide(spark, sf_dir, "documents")
    keyed = docs.select(
        "doc_id", TS.content_hash(F.col("text")).alias("content_fp")
    )
    return (
        keyed.groupBy("content_fp")
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )

    )


@query(
    oracle=f"""
WITH base AS (
  SELECT doc_id,
    {_SH_HASHES} AS hash_set,
    list_min({_SH_HASHES}) AS block_key
  FROM documents
  WHERE len({_SH_HASHES}) >= 3
),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
    len(list_intersect(a.hash_set, b.hash_set)) AS n_inter,
    len(list_distinct(list_concat(a.hash_set, b.hash_set))) AS n_union
  FROM base a JOIN base b ON a.block_key = b.block_key AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b,
  {sql_hround("CASE WHEN n_union > 0 THEN n_inter / n_union ELSE 0 END", 4)} AS jaccard
FROM pairs
WHERE ({sql_hround("CASE WHEN n_union > 0 THEN n_inter / n_union ELSE 0 END", 4)}) >= 0.2
ORDER BY doc_a, doc_b
"""
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup candidate pairs by 3-gram Jaccard within a blocking
    key (min-shingle-hash block = cheap LSH with one band). Pairs with
    the same block key get exact Jaccard over distinct shingle sets;
    emit pairs >= 0.2.

    Scale: the self-join is per-block (block key is a 32-bit hash ->
    tiny groups), so the quadratic blowup is bounded by block size,
    the classic blocked-dedup trade. No full cross join ever happens.
    Verification intersects DISTINCT SHINGLE-HASH sets (array<long>)
    rather than shingle strings: the hashes are already computed for
    the block key, and the pair join then carries ~8-byte elements
    instead of n-gram strings.
    """
    from youtube_etl_automated_pipeline_spark.ext.dedup import shingle_hashes

    docs = load_wide(spark, sf_dir, "documents")
    # persist: the hashed-shingle table feeds BOTH self-join sides;
    # without it the md5 shingle projection runs once per side (and
    # again inside the filter). Production would materialize this as
    # the dedup index table.
    base = memo_persist(
        spark,
        ("ngram_jaccard_base", sf_dir),
        lambda: docs.select(
            "doc_id", shingle_hashes(F.col("text"), 3).alias("hash_set")
        )
        .filter(F.size("hash_set") >= 3)
        .withColumn("block_key", F.array_min("hash_set")),
    )
    a = base.select(
        F.col("doc_id").alias("doc_a"),
        F.col("hash_set").alias("set_a"),
        "block_key",
    )
    b = base.select(
        F.col("doc_id").alias("doc_b"),
        F.col("hash_set").alias("set_b"),
        "block_key",
    )
    pairs = a.join(b, "block_key").filter(F.col("doc_a") < F.col("doc_b"))
    inter = F.size(F.array_intersect(F.col("set_a"), F.col("set_b")))
    union = F.size(F.array_union(F.col("set_a"), F.col("set_b")))
    jac = F.when(union > 0, inter / union).otherwise(F.lit(0.0))
    return (
        pairs.select(
            "doc_a", "doc_b", hround(jac, 4).alias("jaccard")
        )
        .filter(F.col("jaccard") >= 0.2)
    )


@query(
    oracle=f"""
WITH b AS (
  -- null text = empty document (the mapInPandas kernel treats None
  -- as '' -> zero hashes / zero length); COALESCE pins the twin
  SELECT doc_id, COALESCE({NORMALIZED_SQL}, '') AS nrm FROM documents
)
SELECT doc_id,
  CAST(COALESCE({_FULL}, 0) AS BIGINT) AS rabin_full,
  CAST(COALESCE({_MINW}, 0) AS BIGINT) AS min_window_hash,
  length(nrm) AS norm_len
FROM b
ORDER BY doc_id
"""
)
def doc_rolling_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-hash fingerprinting (Rabin-Karp): full-document
    polynomial hash + winnowing-style min over all 16-char window
    hashes of normalized text, via the O(n)-per-doc prefix-hash
    mapInPandas kernel (see ext.textstats.rolling_hash_stats for why
    the expression form loses here)."""
    docs = load_wide(spark, sf_dir, "documents")
    return TS.rolling_hash_stats(docs)


PLANT_EVERY_SUB = 25
PLANT_OFFSET_SUB = 10_000_000


@query(
    oracle=f"""
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + {PLANT_OFFSET_SUB} AS doc_id, substr(text, 21, 160) AS text
  FROM documents WHERE doc_id % {PLANT_EVERY_SUB} = 0
),
{winnow_fp_ctes("corpus")},
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(count(*) AS BIGINT) AS n_shared
  FROM fp a JOIN fp b ON a.h1 = b.h1 AND a.h2 = b.h2 AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, n_shared FROM pairs ORDER BY doc_a, doc_b
"""
)
def dedup_repeated_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT-SUBSTRING dedup via winnowing fingerprints (the MOSS
    selection rule; the operator class of "Deduplicating Training
    Data Makes Language Models Better"'s suffix-array pass,
    re-expressed as a Spark-joinable fingerprint index): report every
    document pair sharing at least one identical normalized substring
    of >= WIN_K + WIN_W - 1 = 39 chars, with the count of shared
    selected fingerprints as the overlap strength.

    The synthetic corpus has few natural long repeats, so one
    substring-copy of every PLANT_EVERY_SUB-th document is planted
    (substring(text, 21, 160) — a pure function the oracle
    reproduces); tests/test_properties.py asserts every planted
    (orig, copy) pair is recovered — the winnowing guarantee.

    Scale shape: fingerprints are map-only and ~2/(W+1) dense
    (ext/textstats.winnowed_fingerprints); candidates come from an
    equi-join on the (h1, h2) double hash — never an all-pairs or
    substring scan. At 100 TB the fingerprint relation persists as a
    parquet index; boilerplate-heavy corpora additionally drop
    fingerprints appearing in more than T docs (a frequency cap) to
    bound join skew — the same stop-fingerprint cut web-dedup
    pipelines use.
    """
    docs = load_wide(spark, sf_dir, "documents").select(
        "doc_id", "text"
    )
    copies = docs.filter(F.col("doc_id") % PLANT_EVERY_SUB == 0).select(
        (F.col("doc_id") + PLANT_OFFSET_SUB).alias("doc_id"),
        F.expr("substring(text, 21, 160)").alias("text"),
    )
    corpus = docs.unionByName(copies)
    from youtube_etl_automated_pipeline_spark.operators.cache_registry import (
        memo_persist,
    )

    # the winnowing kernel is the expensive pass and BOTH self-join
    # sides consume it — persist the fingerprint relation (the same
    # "index persists as parquet" posture the docstring describes)
    # instead of fingerprinting the corpus twice (r08). Trailing
    # orderBy dropped: the range-partitioner's sampling pass
    # re-executed the candidate join, and the driver compare is
    # order-insensitive.
    fp = memo_persist(
        spark,
        ("winnow_fp", sf_dir),
        lambda: TS.winnowed_fingerprints(corpus),
    )
    a = fp.select(F.col("doc_id").alias("doc_a"), "h1", "h2")
    b = fp.select(F.col("doc_id").alias("doc_b"), "h1", "h2")
    return (
        a.join(b, ["h1", "h2"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )


JAC_NUM, JAC_DEN = 2, 5  # Jaccard threshold 0.4 as an exact rational


@query(
    oracle=f"""
WITH base AS (
  SELECT doc_id, {_SH_HASHES} AS hs FROM documents
  WHERE len({_SH_HASHES}) >= 3
),
toks AS (SELECT doc_id, unnest(hs) AS sh FROM base),
dfc AS (SELECT sh, count(*) AS df FROM toks GROUP BY sh),
ranked AS (
  SELECT t.doc_id, t.sh,
    row_number() OVER (PARTITION BY t.doc_id ORDER BY d.df, t.sh) AS rn,
    count(*) OVER (PARTITION BY t.doc_id) AS n
  FROM toks t JOIN dfc d USING (sh)
),
prefix AS (
  SELECT doc_id, sh, n FROM ranked
  WHERE rn <= n - (({JAC_NUM} * n + {JAC_DEN - 1}) // {JAC_DEN}) + 1
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM prefix a JOIN prefix b ON a.sh = b.sh AND a.doc_id < b.doc_id
   AND greatest(a.n, b.n) * {JAC_NUM} <= least(a.n, b.n) * {JAC_DEN}
),
arrays AS (SELECT doc_id, hs, len(hs) AS n FROM base),
scored AS (
  SELECT doc_a, doc_b,
    CAST(len(list_intersect(x.hs, y.hs)) AS BIGINT) AS n_inter,
    CAST(x.n + y.n - len(list_intersect(x.hs, y.hs)) AS BIGINT) AS n_union
  FROM cand
  JOIN arrays x ON x.doc_id = doc_a
  JOIN arrays y ON y.doc_id = doc_b
)
SELECT doc_a, doc_b, n_inter, n_union,
  CAST(n_inter * 1000000 // n_union AS BIGINT) AS jaccard_ppm
FROM scored WHERE n_inter * {JAC_DEN} >= {JAC_NUM} * n_union
ORDER BY doc_a, doc_b
"""
)
def dedup_prefix_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GLOBAL set-similarity self-join with PREFIX FILTERING (the
    AllPairs/PPJoin candidate family — Bayardo et al. / Xiao et al.)
    — the third candidate-generation strategy next to blocking
    (`dedup_ngram_jaccard`) and LSH banding (`dedup_minhash_lsh`),
    and unlike both it is EXACT: every pair with Jaccard >= t is
    guaranteed a candidate, with no bands/recall tuning.

    The filter: order each doc's shingle set by ascending document
    frequency (rarest first, ties by hash — a deterministic global
    total order); two sets with Jaccard >= t MUST share a token in
    their first n - ceil(t·n) + 1 tokens. Only prefix tokens enter
    the candidate join — and because prefixes are rare-first, the
    per-token join groups stay small (the hot frequent shingles never
    appear in a prefix unless a doc is almost all-frequent).

    Scale shape: df-count = one agg; rank = one window per doc;
    candidates = equi-join on prefix token; verify = exact
    integer-rational test n_inter·DEN >= NUM·n_union on the hashed
    sets (array_intersect JVM-side). Everything shuffles on keys;
    nothing is quadratic except verified candidates.
    """
    from pyspark.sql import Window

    from youtube_etl_automated_pipeline_spark.ext.dedup import shingle_hashes
    from youtube_etl_automated_pipeline_spark.operators.cache_registry import (
        memo_persist,
    )

    base = memo_persist(
        spark,
        ("dedup_prefix_base", sf_dir),
        lambda: load_wide(spark, sf_dir, "documents")
        .select("doc_id", shingle_hashes(F.col("text"), 3).alias("hs"))
        .filter(F.size("hs") >= 3),
    )
    toks = base.select("doc_id", F.explode("hs").alias("sh"))
    dfc = toks.groupBy("sh").agg(F.count(F.lit(1)).alias("df"))
    w = Window.partitionBy("doc_id").orderBy("df", "sh")
    wn = Window.partitionBy("doc_id")
    ranked = (
        toks.join(dfc, "sh")
        .withColumn("rn", F.row_number().over(w))
        .withColumn("n", F.count(F.lit(1)).over(wn))
    )
    # the prefix-token index persists via the bounded registry: it is
    # the materialized AllPairs index a production system writes once
    # per corpus snapshot (rebuilding two full-corpus windows per
    # probe run would be the real anti-pattern at 100 TB)
    prefix = memo_persist(
        spark,
        ("prefix_filter_index", sf_dir),
        lambda: ranked.filter(
            F.col("rn")
            <= F.col("n")
            - F.expr(f"({JAC_NUM} * n + {JAC_DEN - 1}) DIV {JAC_DEN}")
            + 1
        ).select("doc_id", "sh", "n", "rn"),
    )
    # Two pre-verify prunes, both exact integer arithmetic:
    # - length filter (size compatibility): J >= t forces
    #   max(|a|,|b|)*NUM <= min(|a|,|b|)*DEN;
    # - PPJoin POSITIONAL filter: both token lists carry the same
    #   global (df, sh) total order, so for a token matched at ranks
    #   (i, j) the overlap is bounded by 1 + min(n_a - i, n_b - j)
    #   — tokens shared beyond the match must sit after it in BOTH
    #   lists (any shared token ordered before the pair's first match
    #   would itself be a prefix match, contradiction). J >= t needs
    #   overlap*(NUM+DEN) >= NUM*(n_a+n_b), so candidates whose every
    #   matched occurrence fails that bound on its overlap ceiling
    #   can never verify; the first match of a truly-similar pair
    #   always passes, so recall stays exact.
    cand = (
        prefix.select(
            F.col("doc_id").alias("doc_a"),
            "sh",
            F.col("n").alias("n_a"),
            F.col("rn").alias("rn_a"),
        )
        .join(
            prefix.select(
                F.col("doc_id").alias("doc_b"),
                "sh",
                F.col("n").alias("n_b"),
                F.col("rn").alias("rn_b"),
            ),
            "sh",
        )
        .filter(
            (F.col("doc_a") < F.col("doc_b"))
            & (
                F.greatest("n_a", "n_b") * JAC_NUM
                <= F.least("n_a", "n_b") * JAC_DEN
            )
            & (
                (
                    F.lit(1)
                    + F.least(
                        F.col("n_a") - F.col("rn_a"),
                        F.col("n_b") - F.col("rn_b"),
                    )
                )
                * (JAC_NUM + JAC_DEN)
                >= JAC_NUM * (F.col("n_a") + F.col("n_b"))
            )
        )
        .select("doc_a", "doc_b")
        .distinct()
    )
    arrays = base.select("doc_id", "hs", F.size("hs").alias("n"))
    scored = (
        cand.join(
            arrays.select(
                F.col("doc_id").alias("doc_a"),
                F.col("hs").alias("hs_a"),
                F.col("n").alias("n_a"),
            ),
            "doc_a",
        )
        .join(
            arrays.select(
                F.col("doc_id").alias("doc_b"),
                F.col("hs").alias("hs_b"),
                F.col("n").alias("n_b"),
            ),
            "doc_b",
        )
        .withColumn(
            "n_inter", F.size(F.array_intersect("hs_a", "hs_b")).cast("bigint")
        )
        .withColumn(
            "n_union", (F.col("n_a") + F.col("n_b") - F.col("n_inter")).cast("bigint")
        )
    )
    return (
        scored.filter(
            F.col("n_inter") * JAC_DEN >= JAC_NUM * F.col("n_union")
        )
        .select(
            "doc_a",
            "doc_b",
            "n_inter",
            "n_union",
            F.expr("CAST(n_inter * 1000000 DIV n_union AS BIGINT)").alias(
                "jaccard_ppm"
            ),
        )
        .orderBy("doc_a", "doc_b")
    )


# --- line/chunk dedup -----------------------------------------------
LDC_CHUNK = 80  # aligned chunk width, matches doc_chunking's unit


_LDC_CHUNKS = f"""
  SELECT doc_id, source,
         CAST((s - 1) // {LDC_CHUNK} AS BIGINT) AS idx,
         substr(md5(substr(text, s, {LDC_CHUNK})), 1, 16) AS h,
         CAST(length(substr(text, s, {LDC_CHUNK})) AS BIGINT) AS clen
  FROM documents,
    unnest(generate_series(1, greatest(length(text), 1), {LDC_CHUNK})) AS t(s)
  WHERE text IS NOT NULL
"""


# --- TWAP -----------------------------------------------------------
# (no constants: full event horizon, all users with >= 2 events)

# --- backlog sweep-line ---------------------------------------------
# (no constants: the close date is the order's max shipdate)


@query(
    oracle=f"""
WITH chunks AS ({_LDC_CHUNKS}),
census AS (SELECT h, count(*) AS n_global FROM chunks GROUP BY h),
marked AS (SELECT c.*, n_global FROM chunks c JOIN census USING (h))
SELECT doc_id,
  count(*) AS n_chunks,
  CAST(sum(CASE WHEN n_global > 1 THEN 1 ELSE 0 END) AS BIGINT)
    AS n_dup_chunks,
  CAST(sum(CASE WHEN n_global = 1 THEN clen ELSE 0 END) AS BIGINT)
    AS kept_len,
  {sql_md5_long("string_agg(CASE WHEN n_global = 1 THEN h ELSE '_' END, '|' ORDER BY idx)", 15)}
    AS kept_sig
FROM marked GROUP BY doc_id ORDER BY doc_id
"""
)
def line_dedup_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide duplicated-chunk census + per-doc dedup signature
    (CCNet's paragraph dedup re-expressed over aligned 80-char
    chunks).

    Scale shape: chunks are a map-side generator (sequence +
    posexplode, no shuffle); the census is ONE window count
    partitioned by the 64-bit chunk hash — a single hash shuffle of
    ~32-byte rows, evaluating the chunk explode exactly once (the
    agg + join-back formulation scans the generator twice); the
    per-doc rebuild aggregates bounded state (a doc's own chunk
    hashes, capped by doc length / 80). Nothing is quadratic and no
    relation carries full text past the first projection.

    Exactness: the kept-document signature hashes the ordered
    concatenation of the SURVIVING chunks' md5 hexes, so both engines
    agree without re-materializing the filtered text.
    """
    docs = load_wide(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    starts = F.sequence(
        F.lit(1), F.greatest(F.length("text"), F.lit(1)), F.lit(LDC_CHUNK)
    )
    chunk = F.col("text").substr(F.col("chunk_start"), F.lit(LDC_CHUNK))
    chunks = docs.select(
        "doc_id", "text", F.posexplode(starts).alias("idx", "chunk_start")
    ).select(
        "doc_id",
        F.col("idx").cast("long").alias("idx"),
        F.substring(F.md5(chunk), 1, 16).alias("h"),
        F.length(chunk).cast("long").alias("clen"),
    )
    marked = chunks.withColumn(
        "n_global", F.count(F.lit(1)).over(Window.partitionBy("h"))
    )
    kept = F.when(F.col("n_global") == 1, F.col("h"))
    return (
        marked.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum(F.when(F.col("n_global") > 1, 1).otherwise(0)).alias(
                "n_dup_chunks"
            ),
            F.sum(
                F.when(F.col("n_global") == 1, F.col("clen")).otherwise(0)
            ).alias("kept_len"),
            TS.md5_long(
                F.concat_ws(
                    "|",
                    F.transform(
                        F.array_sort(
                            F.collect_list(
                                F.struct(F.col("idx"), kept.alias("kh"))
                            )
                        ),
                        lambda s: F.coalesce(s.getField("kh"), F.lit("_")),
                    ),
                ),
                15,
            ).alias("kept_sig"),
        )
        .orderBy("doc_id")
    )


@query(
    oracle=f"""
WITH chunks AS ({_LDC_CHUNKS}),
sh AS (SELECT DISTINCT source, h FROM chunks),
per_src AS (SELECT source, count(*) AS n_chunks FROM sh GROUP BY source),
pairs AS (
  SELECT a.source AS src_a, b.source AS src_b, count(*) AS n_shared
  FROM sh a JOIN sh b ON a.h = b.h AND a.source < b.source
  GROUP BY 1, 2
)
SELECT src_a, src_b, n_shared, pa.n_chunks AS n_a, pb.n_chunks AS n_b,
  CAST(CAST(n_shared AS HUGEINT) * 1000000
       // least(pa.n_chunks, pb.n_chunks) AS BIGINT)
    AS overlap_ppm_min_side
FROM pairs
JOIN per_src pa ON pa.source = src_a
JOIN per_src pb ON pb.source = src_b
ORDER BY n_shared DESC, src_a, src_b
"""
)
def cross_source_duplicate_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-pair verbatim-content overlap matrix over aligned-chunk
    hashes: for every source pair that shares at least one distinct
    80-char chunk, the shared-chunk count, each side's distinct-chunk
    census, and the overlap in ppm of the smaller side.

    Scale shape: ONE hash-keyed aggregation collects each chunk's
    sorted distinct source set; unordered source pairs expand
    JVM-side from that array (the copurchase array-expansion shape —
    per-chunk fan-out is C(sources carrying it, 2), bounded by the
    source census, never by corpus size) and one more shuffle counts
    pairs — no self-join, the chunk generator evaluates once. The
    per-source census explodes the same grouped relation; output is
    at most |sources|^2 rows, per-source rollups broadcast back.

    Exactness: counts and a ppm ratio via decimal(38,0) DIV — no
    floats anywhere.
    """
    docs = load_wide(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    starts = F.sequence(
        F.lit(1), F.greatest(F.length("text"), F.lit(1)), F.lit(LDC_CHUNK)
    )
    chunk = F.col("text").substr(F.col("s"), F.lit(LDC_CHUNK))
    grouped = (
        docs.select("source", "text", F.explode(starts).alias("s"))
        .select("source", F.substring(F.md5(chunk), 1, 16).alias("h"))
        .groupBy("h")
        .agg(F.sort_array(F.collect_set("source")).alias("srcs"))
    )
    per_src = (
        grouped.select(F.explode("srcs").alias("source"))
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_chunks"))
    )
    pairs = (
        grouped.select(
            F.explode(
                F.flatten(
                    F.transform(
                        "srcs",
                        lambda x, i: F.transform(
                            F.slice(
                                F.col("srcs"),
                                i + 2,
                                F.size(F.col("srcs")) - i - 1,
                            ),
                            lambda y: F.struct(
                                x.alias("src_a"), y.alias("src_b")
                            ),
                        ),
                    )
                )
            ).alias("p")
        )
        .select("p.src_a", "p.src_b")
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    return (
        pairs.join(
            F.broadcast(per_src.withColumnRenamed("n_chunks", "n_a")),
            F.col("src_a") == F.col("source"),
        )
        .drop("source")
        .join(
            F.broadcast(per_src.withColumnRenamed("n_chunks", "n_b")),
            F.col("src_b") == F.col("source"),
        )
        .drop("source")
        .select(
            "src_a",
            "src_b",
            "n_shared",
            "n_a",
            "n_b",
            F.expr(
                "CAST(CAST(n_shared AS DECIMAL(38,0)) * 1000000"
                " DIV least(n_a, n_b) AS BIGINT)"
            ).alias("overlap_ppm_min_side"),
        )
        .orderBy(F.desc("n_shared"), "src_a", "src_b")
    )


# Dedup-infrastructure
# evaluation and streaming-configuration profiling, each with a DuckDB
# oracle twin.
#
# - ``dedup_blocking_venn`` — which near-dup BLOCKING FAMILY finds
#   which verified pair: the Venn census over the engine's three
#   bounded-candidate detectors (MinHash-LSH verified Jaccard,
#   banded SimHash Hamming, MinHash-banded containment). Running one
#   detector and trusting it is how silent recall gaps ship; the Venn
#   region counts (minhash-only, simhash-only, all-three, ...) are the
#   evaluation a dedup pipeline owner reads before choosing what to
#   run at 100 TB. All three pair relations are already
#   banding-bounded — the census adds two count-relation joins, never
#   an all-pairs stage.
# - ``watermark_lateness_histogram`` — event-time lateness profile:
#   how far each event's timestamp trails the per-user running maximum
#   in arrival order (arrival = the ingest-sequence event_id). The
#   log2-bucketed histogram with per-bucket worst cases is the
#   empirical basis for choosing ``withWatermark`` delays — a
#   watermark below the p99 lateness bucket silently drops data (the
#   engine's streaming queries use a 4-day delay; this op measures
#   what the data actually needs). One keyed window + one tiny rollup.
#
# The reference has no analogue for either (SURVEY §0).
#
# Cross-engine exactness: pair identities and Venn flags are integer
# doc-id pairs; lateness rides exact epoch microseconds and
# ``length(bin(x))`` bit buckets — no floats anywhere.

def _venn_oracle() -> str:
    mh = _PAIRS_SQL
    sh = _SIMHASH_SQL
    ct = _CONTAINMENT_SQL
    return f"""
WITH mh AS (SELECT doc_a, doc_b FROM ({mh}) x),
sh AS (SELECT doc_a, doc_b FROM ({sh}) x),
ct AS (SELECT doc_a, doc_b FROM ({ct}) x),
keys AS (
  SELECT doc_a, doc_b FROM mh
  UNION
  SELECT doc_a, doc_b FROM sh
  UNION
  SELECT doc_a, doc_b FROM ct
),
flags AS (
  SELECT k.doc_a, k.doc_b,
    CASE WHEN m.doc_a IS NULL THEN 0 ELSE 1 END AS in_minhash,
    CASE WHEN s.doc_a IS NULL THEN 0 ELSE 1 END AS in_simhash,
    CASE WHEN c.doc_a IS NULL THEN 0 ELSE 1 END AS in_containment
  FROM keys k
  LEFT JOIN mh m ON k.doc_a = m.doc_a AND k.doc_b = m.doc_b
  LEFT JOIN sh s ON k.doc_a = s.doc_a AND k.doc_b = s.doc_b
  LEFT JOIN ct c ON k.doc_a = c.doc_a AND k.doc_b = c.doc_b
)
SELECT in_minhash, in_simhash, in_containment, count(*) AS n_pairs
FROM flags GROUP BY 1, 2, 3
ORDER BY in_minhash, in_simhash, in_containment
"""


@query(oracle=_venn_oracle())
def dedup_blocking_venn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Venn census of verified near-dup pairs by detector family.

    Output: one row per occupied Venn region — (in_minhash,
    in_simhash, in_containment) flags with the region's pair count.

    Plan shape: the three pair relations reuse their existing
    banding-bounded plans (and the memoized MinHash signature index
    feeds two of them); the census is a full-outer merge on the
    (doc_a, doc_b) key of three PAIR relations — each orders of
    magnitude smaller than the corpus — then an at-most-8-group
    rollup. Nothing here scales with corpus size, only with
    duplicate count.
    """
    from youtube_etl_automated_pipeline_spark.operators.cache_registry import (
        memo_persist,
    )

    # each detector's pair relation persists as a materialized pair
    # index (the cluster family's posture for lsh_pairs): bounded by
    # duplicate count, consumed by every census over it
    mh = memo_persist(
        spark,
        ("venn_mh_pairs", sf_dir),
        lambda: dedup_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b"),
    ).withColumn("in_minhash", F.lit(1))
    sh = memo_persist(
        spark,
        ("venn_sh_pairs", sf_dir),
        lambda: dedup_simhash(spark, sf_dir).select("doc_a", "doc_b"),
    ).withColumn("in_simhash", F.lit(1))
    ct = memo_persist(
        spark,
        ("venn_ct_pairs", sf_dir),
        lambda: dedup_containment_pairs(spark, sf_dir).select(
            "doc_a", "doc_b"
        ),
    ).withColumn("in_containment", F.lit(1))
    merged = (
        mh.join(sh, ["doc_a", "doc_b"], "full")
        .join(ct, ["doc_a", "doc_b"], "full")
        .select(
            "doc_a",
            "doc_b",
            F.coalesce("in_minhash", F.lit(0)).alias("in_minhash"),
            F.coalesce("in_simhash", F.lit(0)).alias("in_simhash"),
            F.coalesce("in_containment", F.lit(0)).alias("in_containment"),
        )
    )
    return merged.groupBy(
        "in_minhash", "in_simhash", "in_containment"
    ).agg(F.count(F.lit(1)).alias("n_pairs"))


# ------------------------------------------------------------ ROUGE
def lsh_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE persisted MinHash-LSH candidate-pair relation (doc_a <
    doc_b, distinct) — shared by every pair-scoring operator in this
    module (ROUGE, Fellegi-Sunter). Memoized per (session, sf_dir,
    documents fingerprint): a candidate set consumed N times inside
    one plan would otherwise re-run the band self-join N times."""
    from youtube_etl_automated_pipeline_spark.ext.dedup import band_explode
    from youtube_etl_automated_pipeline_spark.operators.cache_registry import (
        memo_persist,
    )
    from youtube_etl_automated_pipeline_spark.sources import table_fingerprint

    def build_cand() -> DataFrame:
        bands = band_explode(minhash_base(spark, sf_dir))
        return (
            bands.alias("a")
            .join(
                bands.alias("b"),
                (F.col("a.band_id") == F.col("b.band_id"))
                & (F.col("a.sig") == F.col("b.sig"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            .select(
                F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"),
            )
            .distinct()
        )

    return memo_persist(
        spark,
        ("lsh_cand", sf_dir),
        build_cand,
        fingerprint=table_fingerprint(sf_dir, "documents"),
    )


def _rouge_oracle() -> str:
    from youtube_etl_automated_pipeline_spark.ext.dedup import N_PERM
    from youtube_etl_automated_pipeline_spark.ext.textstats import WS_CLASS

    norm = f"lower(regexp_replace(trim(text), '{WS_CLASS}+', ' ', 'g'))"
    return f"""
WITH base AS (
  SELECT doc_id, {_SH_HASHES} AS hs
  FROM documents
  WHERE len({_SH_HASHES}) >= 3
),
sigs AS MATERIALIZED (
  SELECT doc_id, hs,
    {", ".join(f"{_sig(j)} AS sig_{j}" for j in range(N_PERM))}
  FROM base
),
cand AS MATERIALIZED (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM sigs a JOIN sigs b
    ON a.doc_id < b.doc_id
   AND ({" OR ".join(f"a.sig_{j} = b.sig_{j}" for j in range(N_PERM))})
),
toks AS MATERIALIZED (
  SELECT d.doc_id, {norm.replace("text", "d.text")} AS nt
  FROM documents d
  WHERE d.doc_id IN (SELECT doc_a FROM cand UNION SELECT doc_b FROM cand)
),
uni AS MATERIALIZED (
  SELECT doc_id, u.gram, count(*) AS c
  FROM toks, unnest(string_split_regex(nt, '{WS_CLASS}+')) AS u(gram)
  GROUP BY 1, 2
),
big AS MATERIALIZED (
  SELECT doc_id, g.gram, count(*) AS c FROM (
    SELECT s.doc_id, s.ts[u.i] || ' ' || s.ts[u.i + 1] AS gram
    FROM (
      SELECT doc_id, string_split_regex(nt, '{WS_CLASS}+') AS ts FROM toks
    ) s,
    unnest(generate_series(1, len(s.ts) - 1)) AS u(i)
  ) g
  GROUP BY 1, 2
),
u_tot AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n FROM uni GROUP BY 1),
b_tot AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n FROM big GROUP BY 1),
u_inter AS (
  SELECT c.doc_a, c.doc_b,
         CAST(sum(least(a.c, b.c)) AS BIGINT) AS i
  FROM cand c
  JOIN uni a ON a.doc_id = c.doc_a
  JOIN uni b ON b.doc_id = c.doc_b AND b.gram = a.gram
  GROUP BY 1, 2
),
b_inter AS (
  SELECT c.doc_a, c.doc_b,
         CAST(sum(least(a.c, b.c)) AS BIGINT) AS i
  FROM cand c
  JOIN big a ON a.doc_id = c.doc_a
  JOIN big b ON b.doc_id = c.doc_b AND b.gram = a.gram
  GROUP BY 1, 2
)
SELECT c.doc_a, c.doc_b,
  CAST(coalesce(u.i, 0) AS BIGINT) AS r1_inter,
  CAST(coalesce(u.i, 0) * 1000000 // ua.n AS BIGINT) AS r1_p_ppm,
  CAST(coalesce(u.i, 0) * 1000000 // ub.n AS BIGINT) AS r1_r_ppm,
  CAST(2 * coalesce(u.i, 0) * 1000000 // (ua.n + ub.n) AS BIGINT) AS r1_f_ppm,
  CAST(coalesce(b.i, 0) AS BIGINT) AS r2_inter,
  CAST(coalesce(b.i, 0) * 1000000 // ba.n AS BIGINT) AS r2_p_ppm,
  CAST(coalesce(b.i, 0) * 1000000 // bb.n AS BIGINT) AS r2_r_ppm,
  CAST(2 * coalesce(b.i, 0) * 1000000 // (ba.n + bb.n) AS BIGINT) AS r2_f_ppm
FROM cand c
LEFT JOIN u_inter u ON u.doc_a = c.doc_a AND u.doc_b = c.doc_b
LEFT JOIN b_inter b ON b.doc_a = c.doc_a AND b.doc_b = c.doc_b
JOIN u_tot ua ON ua.doc_id = c.doc_a
JOIN u_tot ub ON ub.doc_id = c.doc_b
JOIN b_tot ba ON ba.doc_id = c.doc_a
JOIN b_tot bb ON bb.doc_id = c.doc_b
ORDER BY c.doc_a, c.doc_b
"""


@query(oracle=_rouge_oracle())
def pair_rouge_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROUGE-1/2 clipped-overlap scores for LSH candidate pairs.

    Plan shape: the shared banded candidate set (equi-join, the dedup
    family's machinery — all-pairs never materializes) is PERSISTED —
    it feeds five consumers and an unpersisted subtree would re-run
    the band self-join per consumer. Unigram and bigram counts are
    built in ONE tagged pass (g = 1|2) over the candidate docs, also
    persisted (two probe sides), so the clipped intersections
    sum(least(c_a, c_b)) are a single pair of (g, gram)-keyed
    equi-joins; P/R/F1 finalize as a conditional-aggregation pivot in
    integer ppm (F1 = 2I/(A+B) exactly, no float). At 100 TB the
    candidate set is the bounded relation and the n-gram joins are
    hash-keyed and skew-free."""
    from youtube_etl_automated_pipeline_spark.ext.textstats import (
        normalized_text,
        tokens,
    )
    from youtube_etl_automated_pipeline_spark.operators.cache_registry import (
        memo_persist,
    )
    from youtube_etl_automated_pipeline_spark.sources import table_fingerprint

    fp = table_fingerprint(sf_dir, "documents")
    cand = lsh_candidates(spark, sf_dir)

    def build_cnt() -> DataFrame:
        cand_docs = (
            cand.select(F.col("doc_a").alias("doc_id"))
            .unionByName(cand.select(F.col("doc_b").alias("doc_id")))
            .distinct()
        )
        docs = (
            load_wide(spark, sf_dir, "documents")
            .join(cand_docs, "doc_id", "left_semi")
            .select(
                "doc_id", tokens(normalized_text(F.col("text"))).alias("toks")
            )
        )
        bigrams = F.when(
            F.size("toks") >= 2,
            F.transform(
                F.slice("toks", 1, F.size("toks") - 1),
                lambda t, i: F.concat_ws(" ", t, F.element_at("toks", i + 2)),
            ),
        ).otherwise(F.array().cast("array<string>"))
        grams = docs.select(
            "doc_id", F.lit(1).alias("g"), F.explode("toks").alias("gram")
        ).unionByName(
            docs.select(
                "doc_id", F.lit(2).alias("g"), F.explode(bigrams).alias("gram")
            )
        )
        return grams.groupBy("doc_id", "g", "gram").agg(
            F.count(F.lit(1)).alias("c")
        )

    cnt = memo_persist(spark, ("rouge_cnt", sf_dir), build_cnt, fingerprint=fp)
    tot = cnt.groupBy("doc_id", "g").agg(F.sum("c").alias("n"))

    inter = (
        cand.join(
            cnt.select(
                F.col("doc_id").alias("doc_a"), "g", "gram",
                F.col("c").alias("c_a"),
            ),
            "doc_a",
        )
        .join(
            cnt.select(
                F.col("doc_id").alias("doc_b"), "g", "gram",
                F.col("c").alias("c_b"),
            ),
            ["doc_b", "g", "gram"],
        )
        .groupBy("doc_a", "doc_b", "g")
        .agg(F.sum(F.least("c_a", "c_b")).alias("inter"))
    )
    # full (pair, g) grid so a zero-overlap order still reports i=0
    # with real totals; docs with >= 3 shingles always have >= 1
    # bigram, so n_a/n_b are never 0
    pg = cand.select(
        "doc_a", "doc_b", F.explode(F.array(F.lit(1), F.lit(2))).alias("g")
    )
    scored = (
        pg.join(inter, ["doc_a", "doc_b", "g"], "left")
        .join(
            tot.select(
                F.col("doc_id").alias("doc_a"), "g", F.col("n").alias("n_a")
            ),
            ["doc_a", "g"],
        )
        .join(
            tot.select(
                F.col("doc_id").alias("doc_b"), "g", F.col("n").alias("n_b")
            ),
            ["doc_b", "g"],
        )
        .select(
            "doc_a",
            "doc_b",
            "g",
            F.coalesce("inter", F.lit(0)).cast("bigint").alias("i"),
            F.col("n_a").cast("bigint").alias("n_a"),
            F.col("n_b").cast("bigint").alias("n_b"),
        )
    )

    def pick(g: int, expr: str):
        return F.max(F.when(F.col("g") == g, F.expr(expr))).cast("bigint")

    return (
        scored.groupBy("doc_a", "doc_b")
        .agg(
            pick(1, "i").alias("r1_inter"),
            pick(1, "i * 1000000 DIV n_a").alias("r1_p_ppm"),
            pick(1, "i * 1000000 DIV n_b").alias("r1_r_ppm"),
            pick(1, "2 * i * 1000000 DIV (n_a + n_b)").alias("r1_f_ppm"),
            pick(2, "i").alias("r2_inter"),
            pick(2, "i * 1000000 DIV n_a").alias("r2_p_ppm"),
            pick(2, "i * 1000000 DIV n_b").alias("r2_r_ppm"),
            pick(2, "2 * i * 1000000 DIV (n_a + n_b)").alias("r2_f_ppm"),
        )
        .orderBy("doc_a", "doc_b")
    )


# ------------------------------------------- Fellegi-Sunter linkage
FS_LEN_BUCKET = 256
FS_TOK_BUCKET = 32
# The shared ln fragment (DSIR / Kaplan-Meier exposure argument): ONE
# textually-identical expression evaluated by BOTH engines on
# identical integer counts — a rounding flip needs the true value
# within ~2 ulp of a .5 micro boundary. Add-one smoothing keeps every
# ratio finite even when a proxy set is empty or saturated.
_FS_W_AGREE = (
    "CAST(floor(ln((CAST(a_m + 1 AS DOUBLE) * (n_u + 2))"
    " / (CAST(a_u + 1 AS DOUBLE) * (n_m + 2))) * 1e6 + 0.5) AS BIGINT)"
)
_FS_W_DISAGREE = (
    "CAST(floor(ln((CAST(n_m + 1 - a_m AS DOUBLE) * (n_u + 2))"
    " / (CAST(n_u + 1 - a_u AS DOUBLE) * (n_m + 2))) * 1e6 + 0.5) AS BIGINT)"
)
_FS_FEATURES = ("lang", "source", "len_b", "tok_b")


def _fs_oracle() -> str:
    from youtube_etl_automated_pipeline_spark.ext.dedup import N_PERM
    from youtube_etl_automated_pipeline_spark.ext.textstats import WS_CLASS

    toks = f"string_split_regex(trim(text), '{WS_CLASS}+')"
    tok_cnt = (
        f"CASE WHEN text IS NULL OR trim(text) = '' THEN 0"
        f" ELSE len({toks}) END"
    )
    ag = {
        "lang": "fa.lang IS NOT DISTINCT FROM fb.lang",
        "source": "fa.source IS NOT DISTINCT FROM fb.source",
        "len_b": "fa.len_b IS NOT DISTINCT FROM fb.len_b",
        "tok_b": "fa.tok_b IS NOT DISTINCT FROM fb.tok_b",
    }
    bit_cols = ", ".join(
        f"CASE WHEN {cond} THEN 1 ELSE 0 END AS ag_{f}"
        for f, cond in ag.items()
    )
    pattern = " + ".join(
        f"ag_{f} * {1 << (len(_FS_FEATURES) - 1 - k)}"
        for k, f in enumerate(_FS_FEATURES)
    )
    score_terms = []
    for f in _FS_FEATURES:
        wa = _FS_W_AGREE.replace("a_m", f"am_{f}").replace("a_u", f"au_{f}")
        wd = _FS_W_DISAGREE.replace("a_m", f"am_{f}").replace(
            "a_u", f"au_{f}"
        )
        score_terms.append(f"CASE WHEN ag_{f} = 1 THEN {wa} ELSE {wd} END")
    agg_m = ", ".join(
        f"CAST(sum(ag_{f}) AS BIGINT) AS am_{f}" for f in _FS_FEATURES
    )
    agg_u = ", ".join(
        f"CAST(sum(ag_{f}) AS BIGINT) AS au_{f}" for f in _FS_FEATURES
    )
    return f"""
WITH base AS (
  SELECT doc_id, {_SH_HASHES} AS hs
  FROM documents
  WHERE len({_SH_HASHES}) >= 3
),
sigs AS MATERIALIZED (
  SELECT doc_id, hs,
    {", ".join(f"{_sig(j)} AS sig_{j}" for j in range(N_PERM))}
  FROM base
),
cand AS MATERIALIZED (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM sigs a JOIN sigs b
    ON a.doc_id < b.doc_id
   AND ({" OR ".join(f"a.sig_{j} = b.sig_{j}" for j in range(N_PERM))})
),
feats AS MATERIALIZED (
  SELECT doc_id, lang, source,
    CAST(n_chars // {FS_LEN_BUCKET} AS BIGINT) AS len_b,
    CAST(({tok_cnt}) // {FS_TOK_BUCKET} AS BIGINT) AS tok_b
  FROM documents
),
cand_bits AS MATERIALIZED (
  SELECT c.doc_a, c.doc_b, {bit_cols}
  FROM cand c JOIN feats fa ON fa.doc_id = c.doc_a
  JOIN feats fb ON fb.doc_id = c.doc_b
),
m_pairs AS (
  SELECT c.doc_a, c.doc_b
  FROM cand c
  JOIN base a ON a.doc_id = c.doc_a
  JOIN base b ON b.doc_id = c.doc_b
  WHERE ({_JACC.replace("n_inter", "len(list_intersect(a.hs, b.hs))")
            .replace("n_union",
                     "len(list_distinct(list_concat(a.hs, b.hs)))")})
        >= {JACCARD_THRESHOLD}
),
m_bits AS (
  SELECT {bit_cols}
  FROM m_pairs c JOIN feats fa ON fa.doc_id = c.doc_a
  JOIN feats fb ON fb.doc_id = c.doc_b
),
u_pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM documents a JOIN documents b
    ON b.doc_id = a.doc_id + (SELECT count(*) // 2 FROM documents)
),
u_bits AS (
  SELECT {bit_cols}
  FROM u_pairs c JOIN feats fa ON fa.doc_id = c.doc_a
  JOIN feats fb ON fb.doc_id = c.doc_b
),
counts AS (
  SELECT * FROM
    (SELECT CAST(count(*) AS BIGINT) AS n_m, {agg_m} FROM m_bits),
    (SELECT CAST(count(*) AS BIGINT) AS n_u, {agg_u} FROM u_bits)
),
census AS (
  SELECT CAST({pattern} AS INT) AS pattern,
    {", ".join(f"ag_{f}" for f in _FS_FEATURES)},
    CAST(count(*) AS BIGINT) AS n_pairs
  FROM cand_bits
  GROUP BY ALL
)
SELECT pattern, n_pairs,
  CAST({" + ".join(score_terms)} AS BIGINT) AS score_micro
FROM census, counts
ORDER BY pattern
"""


@query(oracle=_fs_oracle())
def record_linkage_fs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fellegi-Sunter probabilistic record-linkage scoring — the
    entity-resolution operator that turns per-field agreement into a
    calibrated match weight (the backbone of production dedup linkers
    like Splink). Fields: lang, source, length bucket, token-count
    bucket (null-safe equality: missing == missing counts as
    agreement, identically in both engines).

    m-probabilities are estimated from a MATCH PROXY — the LSH
    candidate pairs whose exact shingle Jaccard clears the dedup
    family's threshold; u-probabilities from a NON-MATCH PROXY — the
    deterministic rank-shift pairing (doc at sorted position r vs
    r + n/2: a fixed, reproducible "random pairs" stand-in). Both are
    one aggregation each (4 conditional sums + a count). Per-feature
    agree/disagree log-weights evaluate the SAME ln text on the same
    integers in both engines (DSIR exposure argument), floored to
    integer micro-units.

    Because the score is a function of the 4-bit agreement PATTERN
    alone, the gate output is the complete pattern census over all
    candidate pairs: (pattern, n_pairs, score_micro) — at most 16
    rows. Scale shape: candidates come from the shared persisted
    banding (never all-pairs); proxies and censuses are map-side
    combinable aggs; the weight table is one broadcast row."""
    from youtube_etl_automated_pipeline_spark.ext.textstats import (
        normalized_text,
        tokens,
    )
    from youtube_etl_automated_pipeline_spark.functions.compat import hround

    cand = lsh_candidates(spark, sf_dir)
    docs = load_wide(spark, sf_dir, "documents")
    toks = tokens(normalized_text(F.col("text")))
    feats = docs.select(
        "doc_id",
        "lang",
        "source",
        F.expr(f"CAST(n_chars DIV {FS_LEN_BUCKET} AS BIGINT)").alias("len_b"),
        F.floor(F.size(toks) / F.lit(FS_TOK_BUCKET))
        .cast("bigint")
        .alias("tok_b"),
    )

    def agree_bits(pairs: DataFrame) -> DataFrame:
        fa = feats.select(
            F.col("doc_id").alias("doc_a"),
            *[F.col(f).alias(f"{f}_a") for f in _FS_FEATURES],
        )
        fb = feats.select(
            F.col("doc_id").alias("doc_b"),
            *[F.col(f).alias(f"{f}_b") for f in _FS_FEATURES],
        )
        out = pairs.join(fa, "doc_a").join(fb, "doc_b")
        for f in _FS_FEATURES:
            out = out.withColumn(
                f"ag_{f}",
                F.col(f"{f}_a").eqNullSafe(F.col(f"{f}_b")).cast("int"),
            )
        return out.select(
            "doc_a", "doc_b", *[f"ag_{f}" for f in _FS_FEATURES]
        )

    # match proxy: Jaccard-verified near-dup candidate pairs
    base = minhash_base(spark, sf_dir)
    sets_a = base.select(
        F.col("doc_id").alias("doc_a"), F.col("hash_set").alias("set_a")
    )
    sets_b = base.select(
        F.col("doc_id").alias("doc_b"), F.col("hash_set").alias("set_b")
    )
    m_pairs = (
        cand.join(sets_a, "doc_a")
        .join(sets_b, "doc_b")
        .filter(
            hround(
                F.size(F.array_intersect("set_a", "set_b"))
                / F.size(F.array_union("set_a", "set_b")),
                4,
            )
            >= JACCARD_THRESHOLD
        )
        .select("doc_a", "doc_b")
    )
    # non-match proxy: deterministic id-shift pairing (doc i vs doc
    # i + n/2, inner equi-join on the shifted key — no global window,
    # no sequence; on a sparse id space the inner join simply yields
    # the ids whose shifted partner exists, which stays deterministic)
    half = docs.count() // 2  # one scalar — bounded by construction
    ids = docs.select("doc_id")
    u_pairs = (
        ids.alias("a")
        .join(
            ids.alias("b"),
            F.col("b.doc_id") == F.col("a.doc_id") + F.lit(half),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
    )

    def proxy_counts(pairs: DataFrame, n_name: str, a_prefix: str) -> DataFrame:
        bits = agree_bits(pairs)
        return bits.agg(
            F.count(F.lit(1)).alias(n_name),
            *[
                F.sum(f"ag_{f}").alias(f"{a_prefix}_{f}")
                for f in _FS_FEATURES
            ],
        )

    counts = proxy_counts(m_pairs, "n_m", "am").crossJoin(
        proxy_counts(u_pairs, "n_u", "au")
    )  # 1 row x 1 row — the scalar-broadcast pattern

    census = (
        agree_bits(cand)
        .select(
            F.expr(
                "CAST("
                + " + ".join(
                    f"ag_{f} * {1 << (len(_FS_FEATURES) - 1 - k)}"
                    for k, f in enumerate(_FS_FEATURES)
                )
                + " AS INT)"
            ).alias("pattern"),
            *[F.col(f"ag_{f}") for f in _FS_FEATURES],
        )
        .groupBy("pattern", *[f"ag_{f}" for f in _FS_FEATURES])
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )
    scored = census.crossJoin(F.broadcast(counts))
    score = None
    for f in _FS_FEATURES:
        wa = _FS_W_AGREE.replace("a_m", f"am_{f}").replace("a_u", f"au_{f}")
        wd = _FS_W_DISAGREE.replace("a_m", f"am_{f}").replace(
            "a_u", f"au_{f}"
        )
        term = F.expr(f"CASE WHEN ag_{f} = 1 THEN {wa} ELSE {wd} END")
        score = term if score is None else score + term
    return (
        scored.select(
            "pattern",
            F.col("n_pairs").cast("bigint").alias("n_pairs"),
            score.cast("bigint").alias("score_micro"),
        )
        .orderBy("pattern")
    )
