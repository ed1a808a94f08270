"""Multimodal-column queries: binary payload census, audio waveform
stats, video frame sampling, image decode+thumbnail — all through
Arrow-batched mapInPandas kernels (ext.multimodal).

Gate-output contract: the correctness harness canonicalizes result
rows with hashable scalars, so array-valued library outputs (byte
histogram, thumbnail) are serialized to deterministic '|'-joined
strings HERE, at the gate boundary — the library functions keep their
natural array types. Doubles are serialized as exact integer
micro-units (round(x*1e6)) so no float-to-string formatting can
diverge between engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from youtube_etl_automated_pipeline_spark.ext.multimodal import (
    FRAME_BYTES,
    FRAME_EVERY,
    HIST_BINS,
    SCENE_CUT_DELTA,
    audio_waveform_stats,
    byte_stats,
    frame_sample,
    png_encode_images,
    png_roundtrip_features,
    to_media_table,
)
from youtube_etl_automated_pipeline_spark.functions.compat import sql_hround
from youtube_etl_automated_pipeline_spark.plans.registry import query
from youtube_etl_automated_pipeline_spark.sources import load_wide


def _media(spark: SparkSession, sf_dir: str) -> DataFrame:
    return to_media_table(load_wide(spark, sf_dir, "documents"))


@query(
    oracle=f"""
WITH v AS (
  SELECT doc_id, text, length(text) AS n FROM documents
  WHERE doc_id % 3 = 2 AND length(text) > 0
),
fr AS (
  SELECT doc_id, text,
    unnest(list_filter(
      generate_series(0, CAST((n + {FRAME_BYTES - 1}) // {FRAME_BYTES} AS INT) - 1),
      i -> i % {FRAME_EVERY} = 0)) AS frame_idx
  FROM v
),
ch AS (
  SELECT doc_id, frame_idx,
    substr(text, frame_idx * {FRAME_BYTES} + 1, {FRAME_BYTES}) AS chunk
  FROM fr
)
SELECT doc_id AS media_id, CAST(frame_idx AS INT) AS frame_idx,
  length(chunk) AS frame_len,
  CAST(coalesce(list_sum(list_transform(
    generate_series(1, length(chunk)), j -> ord(substr(chunk, j, 1)))), 0) AS BIGINT)
    AS frame_sum
FROM ch
ORDER BY media_id, frame_idx
"""
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    return frame_sample(_media(spark, sf_dir))


# Mirrors ext.multimodal.scene_cuts: integer frame means (sum DIV
# len), lag-window deltas, cut when |delta| >= threshold. Payloads
# are UTF-8 of ASCII text, so byte i == ord(char i).
@query(
    oracle=f"""
WITH v AS (
  SELECT doc_id, text, length(text) AS n FROM documents
  WHERE doc_id % 3 = 2 AND length(text) > 0
),
fr AS (
  SELECT doc_id,
    unnest(generate_series(0,
      CAST((n + {FRAME_BYTES - 1}) // {FRAME_BYTES} AS INT) - 1)) AS fi,
    text
  FROM v
),
m AS (
  SELECT doc_id, fi,
    CAST(list_sum(list_transform(
           generate_series(1, length(substr(text, fi * {FRAME_BYTES} + 1, {FRAME_BYTES}))),
           j -> ord(substr(substr(text, fi * {FRAME_BYTES} + 1, {FRAME_BYTES}), j, 1))))
         AS BIGINT)
      // length(substr(text, fi * {FRAME_BYTES} + 1, {FRAME_BYTES})) AS mean
  FROM fr
),
d AS (
  SELECT doc_id, fi, mean,
    mean - lag(mean) OVER (PARTITION BY doc_id ORDER BY fi) AS delta
  FROM m
)
SELECT doc_id AS media_id,
  CAST(count(*) AS INT) AS n_frames,
  CAST(sum(CASE WHEN abs(delta) >= {SCENE_CUT_DELTA} THEN 1 ELSE 0 END) AS INT)
    AS n_cuts,
  CAST(coalesce(min(CASE WHEN abs(delta) >= {SCENE_CUT_DELTA} THEN fi END), -1)
       AS INT) AS first_cut,
  CAST(min(mean) AS BIGINT) AS min_mean,
  CAST(max(mean) AS BIGINT) AS max_mean
FROM d
GROUP BY doc_id
ORDER BY media_id
"""
)
def multimodal_scene_cuts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shot-boundary detection over the video modality (see
    ext.multimodal.scene_cuts): integer frame-mean deltas, one row per
    video with cut census."""
    from youtube_etl_automated_pipeline_spark.ext.multimodal import scene_cuts

    return scene_cuts(_media(spark, sf_dir))


PHASH_HAM_MAX = 16  # near-dup verify threshold over the 64-bit dHash


# dHash twin: the PNG roundtrip is lossless over the w*w byte matrix,
# so the oracle recomputes the same 8x9 block sums straight from text
# codepoints. Integer sqrt via floor(sqrt()) + exact-adjacent fixup
# (float sqrt can land one off near perfect squares; math.isqrt can't).
@query(
    oracle=f"""
WITH img AS (
  SELECT doc_id, text, length(text) AS n,
    CAST(floor(sqrt(CAST(length(text) AS DOUBLE))) AS BIGINT) AS w0
  FROM documents WHERE doc_id % 3 = 0 AND text IS NOT NULL
),
sized AS (
  SELECT doc_id, text,
    CASE WHEN (w0 + 1) * (w0 + 1) <= n THEN w0 + 1
         WHEN w0 * w0 > n THEN w0 - 1 ELSE w0 END AS w
  FROM img
),
dims AS (
  SELECT doc_id, text, w, w // 8 AS hr, w // 9 AS wc
  FROM sized WHERE w >= 9
),
cells AS (
  SELECT doc_id, i, j,
    list_sum(list_transform(generate_series(0, hr * wc - 1),
      t -> ord(substr(text,
        CAST((i * hr + t // wc) * w + (j * wc + t % wc) + 1 AS BIGINT),
        1)))) AS cell
  FROM dims,
    unnest(generate_series(0, 7)) AS ti(i),
    unnest(generate_series(0, 8)) AS tj(j)
),
bits AS (
  SELECT a.doc_id, (63 - (a.i * 8 + a.j)) AS p,
    CASE WHEN a.cell > b.cell THEN 1 ELSE 0 END AS bit
  FROM cells a JOIN cells b
    ON a.doc_id = b.doc_id AND a.i = b.i AND b.j = a.j + 1
  WHERE a.j < 8
),
bands AS (
  SELECT doc_id, CAST(p // 16 AS INT) AS band_i,
    CAST(sum(bit * (CAST(1 AS BIGINT) << CAST(p % 16 AS INT))) AS INT)
      AS band_v
  FROM bits GROUP BY 1, 2
),
bt AS (
  SELECT doc_id,
    max(CASE WHEN band_i = 0 THEN band_v END) AS b0,
    max(CASE WHEN band_i = 1 THEN band_v END) AS b1,
    max(CASE WHEN band_i = 2 THEN band_v END) AS b2,
    max(CASE WHEN band_i = 3 THEN band_v END) AS b3
  FROM bands GROUP BY doc_id
),
cand AS (
  SELECT DISTINCT a.doc_id AS media_a, b.doc_id AS media_b
  FROM bands a JOIN bands b
    ON a.band_i = b.band_i AND a.band_v = b.band_v
   AND a.doc_id < b.doc_id
)
SELECT media_a, media_b,
  CAST(bit_count(xor(x.b0, y.b0)) + bit_count(xor(x.b1, y.b1))
     + bit_count(xor(x.b2, y.b2)) + bit_count(xor(x.b3, y.b3)) AS BIGINT)
    AS hamming_bits
FROM cand
JOIN bt x ON x.doc_id = media_a
JOIN bt y ON y.doc_id = media_b
WHERE bit_count(xor(x.b0, y.b0)) + bit_count(xor(x.b1, y.b1))
    + bit_count(xor(x.b2, y.b2)) + bit_count(xor(x.b3, y.b3))
    <= {PHASH_HAM_MAX}
ORDER BY media_a, media_b
"""
)
def multimodal_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash near-duplicate detection over the image
    modality (round 5): the simhash-LSH dedup family applied to
    PIXELS — each image runs the REAL PNG roundtrip, block-mean
    resamples onto an 8x9 grid, and hashes the horizontal gradient
    into a 64-bit dHash (ext.multimodal.dhash_bands). Candidates are
    pairs agreeing on ANY 16-bit band (equi-join, never all-pairs);
    the verify step keeps pairs within PHASH_HAM_MAX Hamming bits.

    Scale shape: map-only encode+hash kernels, then the banded LSH
    join over 4 rows/image — identical posture to dedup_simhash
    (per-band fan-out bounded by band-bucket sizes, candidates ≪
    n²). Hamming verify is four 16-bit XOR popcounts — integers,
    engine-portable.
    """
    from youtube_etl_automated_pipeline_spark.ext.multimodal import dhash_bands
    from youtube_etl_automated_pipeline_spark.operators.cache_registry import (
        memo_persist,
    )

    # persist the dHash features: BOTH self-join sides consume them,
    # and unpersisted each side re-ran the full PNG encode+decode+hash
    # kernel over every image (r08, guide section 1.2); 5 ints/image
    feats = memo_persist(
        spark,
        ("phash_feats", sf_dir),
        lambda: dhash_bands(png_encode_images(_media(spark, sf_dir))),
    )
    bands = feats.select(
        "media_id",
        "b0",
        "b1",
        "b2",
        "b3",
        F.posexplode(F.array("b0", "b1", "b2", "b3")).alias(
            "band_i", "band_v"
        ),
    )
    a = bands.select(
        F.col("media_id").alias("media_a"),
        F.col("b0").alias("b0_a"),
        F.col("b1").alias("b1_a"),
        F.col("b2").alias("b2_a"),
        F.col("b3").alias("b3_a"),
        "band_i",
        "band_v",
    )
    b = bands.select(
        F.col("media_id").alias("media_b"),
        F.col("b0").alias("b0_b"),
        F.col("b1").alias("b1_b"),
        F.col("b2").alias("b2_b"),
        F.col("b3").alias("b3_b"),
        "band_i",
        "band_v",
    )
    ham = F.expr(
        "CAST(bit_count(b0_a ^ b0_b) + bit_count(b1_a ^ b1_b)"
        " + bit_count(b2_a ^ b2_b) + bit_count(b3_a ^ b3_b) AS BIGINT)"
    )
    return (
        a.join(b, ["band_i", "band_v"])
        .filter(F.col("media_a") < F.col("media_b"))
        .select("media_a", "media_b", ham.alias("hamming_bits"))
        .filter(F.col("hamming_bits") <= PHASH_HAM_MAX)
        .distinct()
    )


# DuckDB oracles for the multimodal kernels. The media payload is
# UTF-8 bytes of ASCII document text, so byte arithmetic is expressible
# as character-codepoint arithmetic; every statistic is an exact integer
# accumulation with one final division, so numpy and DuckDB agree
# bit-for-bit (see ext.multimodal module docstring).

_BIN_W = 256 // HIST_BINS
# COALESCE: null text is the EMPTY payload (to_media_table encodes
# coalesce(text, '')), so the byte list must be [] here, not NULL
_BL = ("list_transform(generate_series(1, length(COALESCE(text, ''))),"
       " i -> ord(substr(COALESCE(text, ''), i, 1)))")


@query(
    oracle=f"""
WITH b AS (
  SELECT doc_id, {_BL} AS bl FROM documents WHERE doc_id % 3 = 1
)
SELECT doc_id AS media_id, len(bl) AS n_samples,
  CASE WHEN len(bl) = 0 THEN 0.0 ELSE
    {sql_hround(
        "sqrt(CAST(list_sum(list_transform(bl, x -> (x-128)*(x-128))) AS DOUBLE)"
        " / (len(bl) * 16384))", 6)}
  END AS rms,
  CASE WHEN len(bl) = 0 THEN 0.0 ELSE
    {sql_hround(
        "CAST(list_max(list_transform(bl, x -> abs(x-128))) AS DOUBLE) / 128.0", 6)}
  END AS peak
FROM b
ORDER BY media_id
"""
)
def multimodal_audio_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return audio_waveform_stats(_media(spark, sf_dir))


_MEDIA_TYPE = (
    "CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image'"
    " WHEN 1 THEN 'audio' ELSE 'video' END"
)


@query(
    oracle=f"""
WITH b AS (
  SELECT doc_id, {_MEDIA_TYPE} AS media_type, {_BL} AS bl FROM documents
)
SELECT doc_id AS media_id, media_type,
  len(bl) AS n_bytes,
  CAST(coalesce(list_sum(bl), 0) AS BIGINT) AS byte_sum,
  coalesce(list_min(bl), 0) AS byte_min,
  coalesce(list_max(bl), 0) AS byte_max,
  array_to_string(list_transform(generate_series(0, {HIST_BINS - 1}),
    h -> CAST(len(list_filter(bl, x -> x // {_BIN_W} = h)) AS BIGINT)), '|') AS hist
FROM b
ORDER BY media_id
"""
)
def multimodal_byte_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return byte_stats(_media(spark, sf_dir)).withColumn(
        "hist", F.concat_ws("|", F.col("hist").cast("array<string>"))
    )


def _quad(dr: int, dc: int) -> str:
    inner = (
        f"list_sum(list_transform(generate_series(0, half - 1), c ->"
        f" ord(substr(text, ({dr} * half + r) * w + ({dc} * half + c) + 1, 1))))"
    )
    s = f"list_sum(list_transform(generate_series(0, half - 1), r -> {inner}))"
    return sql_hround(f"CAST({s} AS DOUBLE) / (half * half)", 6)


@query(
    oracle=f"""
WITH im AS (
  SELECT doc_id, text,
    CAST(floor(sqrt(length(text))) AS INT) AS w
  FROM documents WHERE doc_id % 3 = 0
),
f AS (
  SELECT doc_id, text, w, w // 2 AS half FROM im WHERE w >= 2
)
SELECT doc_id AS media_id, w AS width,
  {sql_hround(
      "CAST(list_sum(list_transform(generate_series(1, w * w),"
      " i -> ord(substr(text, i, 1)))) AS DOUBLE) / (w * w)", 6)} AS mean_pixel,
  array_to_string(list_transform(
    [{_quad(0, 0)}, {_quad(0, 1)}, {_quad(1, 0)}, {_quad(1, 1)}],
    q -> CAST(round(q * 1e6) AS BIGINT)), '|') AS thumb
FROM f
ORDER BY media_id
"""
)
def multimodal_image_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    # REAL codec roundtrip: image payloads are re-encoded as genuine
    # 8-bit grayscale PNGs (all five RFC 2083 scanline filters), then
    # decoded by the pure-numpy PNG parser — no injected fake. The
    # oracle is unchanged because the PNG roundtrip is lossless over
    # the same w*w byte matrix.
    # thumb: array<double> of 6-dp block means -> '|'-joined integer
    # micro-pixels. round(x*1e6) recovers the exact integer the kernel
    # rounded to (x is the nearest double to k/1e6, so x*1e6 is within
    # an ulp of k), identically in Spark and DuckDB.
    # png_roundtrip_features = the same encode+decode kernels fused
    # into one Python stage (one Arrow round-trip of the PNG batch).
    return png_roundtrip_features(_media(spark, sf_dir)).withColumn(
        "thumb",
        F.concat_ws(
            "|",
            F.transform(
                "thumb", lambda x: F.round(x * F.lit(1e6)).cast("bigint").cast("string")
            ),
        ),
    )
