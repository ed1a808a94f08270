"""Deterministic randomized-algorithm operators: differential-privacy
noise injection and Poisson-bootstrap confidence intervals
(round 3, batch 4).

- ``dp_noise_histogram`` — the geometric mechanism (discrete
  Laplace, eps = 1) over the (nation, market segment) count
  histogram: the publish-side twin of ``k_anonymity_census`` (that
  one measures re-identification risk, this one releases a protected
  aggregate). Noise is derived from md5-hash uniforms — the engine's
  standard portable-determinism trick (train_val_test_split,
  ab_test_ztest arms), so both engines draw the identical noise and
  the release is reproducible (a property real DP pipelines need for
  audit replay).
- ``bootstrap_ci_nation_revenue`` — Poisson(1) bootstrap of mean
  order value per nation with R deterministic replicates: the
  standard resampling scheme at cluster scale (each row draws its
  replicate weights independently — no global sampling pass, no
  coordination; Chamandy et al.'s "Poisson bootstrap"). Replicate
  means are quantized to 1e-4 cents before ranking so the
  order-statistic CI endpoints are engine-independent.

Portability note: the md5 -> 32-bit-uniform step is per-engine
(Spark ``conv(substr(md5(x),1,8),16,10)``, DuckDB
``CAST('0x'||substr(md5(x),1,8) AS BIGINT)`` — neither engine parses
the other's idiom), producing the identical integer; everything after
that integer (the uniform, the CASE CDF chain, the log draws) is ONE
shared SQL text run by both engines.

Reference parity note: the reference pipeline publishes raw grouped
counts to a dashboard (reference: Python-pipeline/dataprocessing1.py
grouped rollups); these operators are what the same publish step
needs once the corpus carries user data (noise before release,
uncertainty alongside point estimates).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from youtube_etl_automated_pipeline_spark.functions.compat import units
from youtube_etl_automated_pipeline_spark.plans.registry import query
from youtube_etl_automated_pipeline_spark.sources import load_table


def _uniform_from(h32: str) -> str:
    """Shared SQL: exact uniform in (0,1) from a 32-bit hash value."""
    return f"(CAST({h32} AS DOUBLE) + 5e-1) / 4294967296e0"


# ------------------------------------------------------------------
# Geometric mechanism: noise = G1 - G2 where G = floor(ln(u)/ln(a))
# is geometric on {0,1,...} and a = exp(-eps). With eps = 1,
# ln(a) = -1 exactly, so G = floor(-ln(u)) — one libm call per group
# from an exact md5 uniform. Both engines run the identical two-op
# double chain from the identical integer hash.

DP_SALT = "dp1"


def _dp_h(tag: str) -> str:
    return (
        "CAST('0x' || substr(md5('"
        + DP_SALT
        + "|"
        + tag
        + "|' || CAST(c_nationkey AS VARCHAR) || '|'"
        " || COALESCE(c_mktsegment, '<null>')), 1, 8) AS BIGINT)"
    )


@query(
    oracle=f"""
WITH counts AS (
  SELECT c_nationkey, c_mktsegment, CAST(count(*) AS BIGINT) AS n
  FROM customer GROUP BY 1, 2
), seeded AS (
  SELECT c_nationkey, c_mktsegment, n,
         {_dp_h("a")} AS h1,
         {_dp_h("b")} AS h2
  FROM counts
)
SELECT c_nationkey, c_mktsegment,
       n + CAST(floor(-ln({_uniform_from('h1')}))
            - floor(-ln({_uniform_from('h2')})) AS BIGINT)
         AS noisy_count
FROM seeded
"""
)
def dp_noise_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(nation, segment) counts released under the eps=1 geometric
    mechanism: ``noisy_count = count + G1 - G2``.

    Scale shape: one map-side-combinable grouped count; the noise is
    a per-GROUP projection (O(groups) hash+log calls, nothing per
    row), so the mechanism adds zero distributed cost at any scale.
    Sensitivity note: each underlying customer contributes to exactly
    one (nation, segment) cell, so count sensitivity is 1 and the
    whole histogram release is eps-DP, not eps-per-cell.
    """
    from youtube_etl_automated_pipeline_spark.ext.textstats import md5_long

    cust = load_table(spark, sf_dir, "customer")
    counts = cust.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count(F.lit(1)).alias("n")
    )

    def h(tag: str):
        # coalesce the segment BEFORE hashing: concat_ws silently
        # SKIPS null elements while DuckDB's || nulls the whole
        # string — without the pin the two engines draw different
        # noise for a null-segment cell (found by the null-fixture
        # parity sweep)
        return md5_long(
            F.concat_ws(
                "|",
                F.lit(DP_SALT),
                F.lit(tag),
                F.col("c_nationkey").cast("string"),
                F.coalesce(F.col("c_mktsegment"), F.lit("<null>")),
            )
        )

    seeded = counts.withColumn("h1", h("a")).withColumn("h2", h("b"))
    noise = F.expr(
        f"floor(-ln({_uniform_from('h1')}))"
        f" - floor(-ln({_uniform_from('h2')}))"
    )
    return seeded.select(
        "c_nationkey",
        "c_mktsegment",
        (F.col("n") + noise).alias("noisy_count"),
    )


# ------------------------------------------------------------------
# Poisson bootstrap. Each (order, replicate) pair draws w ~ Poisson(1)
# by inverse-CDF over an md5 uniform; the CDF thresholds are exact
# double literals shared by both engines (weights above 6 occur with
# p < 1e-4 and collapse into the top bucket — a documented truncation
# far below the CI's own resampling noise).

BOOT_R = 40
BOOT_SALT = "bs1"
# cumulative Poisson(1) CDF at k = 0..5, as exact repr'd doubles
_POIS_CDF: list[str] = []
_acc = 0.0
for _k in range(6):
    _acc += math.exp(-1.0) / math.factorial(_k)
    _POIS_CDF.append(repr(_acc))


def _boot_weight_sql(h32: str) -> str:
    """Shared CASE chain mapping a 32-bit hash to a Poisson(1) weight."""
    u = _uniform_from(h32)
    branches = " ".join(
        f"WHEN {u} < {c} THEN {k}" for k, c in enumerate(_POIS_CDF)
    )
    return f"(CASE {branches} ELSE 6 END)"


BOOT_LO_RN = int(BOOT_R * 0.025) + 1  # 2   (1-based order statistic)
BOOT_HI_RN = BOOT_R - int(BOOT_R * 0.025)  # 39


def _boot_oracle() -> str:
    hx = (
        "md5('"
        + BOOT_SALT
        + "|' || CAST(o_orderkey AS VARCHAR) || '|'"
        " || CAST(g.blk AS VARCHAR))"
    )
    return f"""
WITH blocks AS (
  SELECT o_orderkey, c_nationkey,
         CAST(floor(o_totalprice * 1e2 + 5e-1) AS BIGINT) AS cents,
         g.blk AS blk,
         {hx} AS hx
  FROM orders
  JOIN customer ON o_custkey = c_custkey,
  generate_series(0, {BOOT_R // 4 - 1}) g(blk)
), expanded AS (
  SELECT o_orderkey, c_nationkey, cents,
         blk * 4 + s.slot AS r,
         CAST('0x' || substr(hx, 1 + 8 * s.slot, 8) AS BIGINT) AS h32
  FROM blocks, generate_series(0, 3) s(slot)
), weighted AS (
  SELECT c_nationkey, r, {_boot_weight_sql("h32")} AS w, cents
  FROM expanded
), reps AS (
  SELECT c_nationkey, r,
         CAST(floor(CAST(sum(w * cents) AS DOUBLE)
               / CAST(sum(w) AS DOUBLE) * 1e4 + 5e-1) AS BIGINT)
           AS mean_sub
  FROM weighted GROUP BY 1, 2
  HAVING sum(w) > 0
), ranked AS (
  SELECT c_nationkey, mean_sub,
         row_number() OVER (PARTITION BY c_nationkey
                            ORDER BY mean_sub, r) AS rn
  FROM reps
)
SELECT c_nationkey,
       CAST(count(*) AS BIGINT) AS n_reps,
       min(CASE WHEN rn = {BOOT_LO_RN} THEN mean_sub END) AS ci_lo_sub,
       min(CASE WHEN rn = {BOOT_HI_RN} THEN mean_sub END) AS ci_hi_sub
FROM ranked GROUP BY c_nationkey
"""


@query(oracle=_boot_oracle())
def bootstrap_ci_nation_revenue(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-nation Poisson-bootstrap CI of mean order value: replicate
    count plus the order-statistic 2.5%/97.5% endpoints over
    ``BOOT_R`` replicate means (quantized to 1e-4 cents).

    Scale shape: the replicate expansion is an array explode (R rows
    per order, map-side), immediately collapsed by a combinable
    (nation, r) agg — the shuffle carries nations x R rows total. No
    sampling coordination, no second pass over the data: each row's
    weights are a pure function of (key, r), which is what makes the
    Poisson bootstrap THE bootstrap that works on a cluster (and
    growth-stable: a re-run over appended data reuses the same
    weights for old rows). The CI window ranks R rows per nation.
    """
    from youtube_etl_automated_pipeline_spark.ext.textstats import md5_long

    orders = load_table(spark, sf_dir, "orders").join(
        load_table(spark, sf_dir, "customer").select(
            "c_custkey", "c_nationkey"
        ),
        F.col("o_custkey") == F.col("c_custkey"),
    )
    # md5 amortization: one 128-bit digest yields FOUR independent
    # 32-bit uniforms (hex slices), so each row hashes R/4 times, not
    # R times — the digest is ~the whole per-row cost of the expansion
    # and this quarters it in both engines identically.
    blocks = orders.select(
        "o_orderkey",
        "c_nationkey",
        units(F.col("o_totalprice"), 2).alias("cents"),
        F.explode(
            F.sequence(F.lit(0), F.lit(BOOT_R // 4 - 1))
        ).alias("blk"),
    ).withColumn(
        "hx",
        F.md5(
            F.concat_ws(
                "|",
                F.lit(BOOT_SALT),
                F.col("o_orderkey").cast("string"),
                F.col("blk").cast("string"),
            )
        ),
    )
    # static 4-struct array (NOT a transform lambda: higher-order
    # functions are CodegenFallback — interpreted per element — while
    # a literal array of expressions stays in whole-stage codegen)
    slots = F.array(
        *[
            F.struct(
                (F.col("blk") * 4 + F.lit(s)).alias("r"),
                F.conv(F.substring("hx", 1 + 8 * s, 8), 16, 10)
                .cast("long")
                .alias("h32"),
            )
            for s in range(4)
        ]
    )
    expanded = (
        blocks.select(
            "o_orderkey",
            "c_nationkey",
            "cents",
            F.explode(slots).alias("u"),
        )
        .select(
            "o_orderkey",
            "c_nationkey",
            "cents",
            F.col("u.r").alias("r"),
            F.col("u.h32").alias("h32"),
        )
        .withColumn("w", F.expr(_boot_weight_sql("h32")))
    )
    reps = (
        expanded.groupBy("c_nationkey", "r")
        .agg(
            F.sum(F.col("w") * F.col("cents")).alias("s"),
            F.sum("w").alias("m"),
        )
        .filter(F.col("m") > 0)
        .select(
            "c_nationkey",
            "r",
            F.floor(
                F.col("s").cast("double")
                / F.col("m").cast("double")
                * F.lit(1e4)
                + F.lit(0.5)
            ).alias("mean_sub"),
        )
    )
    w = Window.partitionBy("c_nationkey").orderBy("mean_sub", "r")
    ranked = reps.withColumn("rn", F.row_number().over(w))
    return ranked.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("n_reps"),
        F.min(F.when(F.col("rn") == BOOT_LO_RN, F.col("mean_sub"))).alias(
            "ci_lo_sub"
        ),
        F.min(F.when(F.col("rn") == BOOT_HI_RN, F.col("mean_sub"))).alias(
            "ci_hi_sub"
        ),
    )
