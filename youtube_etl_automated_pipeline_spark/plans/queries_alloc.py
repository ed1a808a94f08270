"""Exact integer-allocation operators (round 3, batch 6): value
splitting and budget apportionment, the two places analytics
pipelines quietly leak cents/documents to float arithmetic.

- ``attribution_linear`` — multi-touch linear attribution: each
  purchase's value (exact cents) is split across ALL of the user's
  clicks in the preceding 7 days with the largest-remainder method
  (cents div k each, the mod-k leftover cents to the most recent
  clicks) — so credit CONSERVES exactly: summed credit equals summed
  attributed purchase value to the cent (the property float splits
  never have; tested). Complements ``attribution_last_touch``.
- ``corpus_budget_apportion`` — Hamilton (largest-remainder)
  apportionment of a fixed document budget across (lang, source)
  cells proportional to their character mass: the corpus-mixing
  step that turns ``corpus_sampling_weights``-style shares into an
  integer per-cell quota that sums EXACTLY to the budget (tested).

Reference parity note: the reference computes float revenue shares in
pandas (reference: Python-pipeline/dataprocessing1.py); these
operators are the exact-arithmetic versions of that allocation idiom.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from youtube_etl_automated_pipeline_spark.operators.windows import bounded_window
from youtube_etl_automated_pipeline_spark.plans.registry import query
from youtube_etl_automated_pipeline_spark.sources import load_table, load_wide

ATTR_WINDOW_DAYS = 7


@query(
    oracle=f"""
WITH ev AS (
  SELECT user_id, event_id, date_trunc('microseconds', ts) AS ts,
         event_type, value
  FROM events
), purchases AS (
  SELECT user_id, event_id AS purchase_id, ts AS p_ts,
         CAST(floor(value * 1e2 + 5e-1) AS BIGINT) AS cents
  FROM ev WHERE event_type = 'purchase'
), clicks AS (
  SELECT user_id, event_id AS click_id, ts AS c_ts
  FROM ev WHERE event_type = 'click'
), pairs AS (
  SELECT p.purchase_id, p.cents, c.click_id, c.c_ts
  FROM purchases p JOIN clicks c USING (user_id)
  WHERE c.c_ts < p.p_ts
    AND c.c_ts >= p.p_ts - INTERVAL {ATTR_WINDOW_DAYS} DAYS
), credited AS (
  SELECT CAST(c_ts AS DATE) AS click_day,
         cents // count(*) OVER (PARTITION BY purchase_id)
         + CASE WHEN row_number() OVER (PARTITION BY purchase_id
                    ORDER BY c_ts DESC, click_id ASC)
                <= cents % count(*) OVER (PARTITION BY purchase_id)
                THEN 1 ELSE 0 END AS credit_cents
  FROM pairs
)
SELECT click_day,
       CAST(count(*) AS BIGINT) AS n_credited_clicks,
       CAST(sum(credit_cents) AS BIGINT) AS credit_cents
FROM credited GROUP BY click_day
"""
)
def attribution_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily credited-revenue report under linear multi-touch
    attribution: for each purchase, every click by the same user in
    the prior 7 days shares the purchase value equally (exact cents,
    largest-remainder: the mod-k leftover goes to the most recent
    clicks). Output: (click_day, n_credited_clicks, credit_cents).

    Scale shape: one user_id-shuffled join pairs purchases with
    their in-window clicks (per-user activity x 7-day window bounds
    the pair count — never a cross of the full event table); the
    rank/count windows run per purchase over those bounded pair
    groups; the final rollup is map-side combinable. Integer credit
    means any partitioning sums to the identical report.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_id",
        F.col("ts").cast("timestamp").alias("ts"),
        "event_type",
        "value",
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("p_ts"),
        F.expr("CAST(floor(value * 1e2 + 5e-1) AS BIGINT)").alias("cents"),
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("c_ts"),
    )
    pairs = purchases.join(clicks, "user_id").filter(
        (F.col("c_ts") < F.col("p_ts"))
        & (
            F.col("c_ts")
            >= F.col("p_ts") - F.expr(f"INTERVAL {ATTR_WINDOW_DAYS} DAYS")
        )
    )
    per_p = Window.partitionBy("purchase_id")
    w_rank = per_p.orderBy(F.desc("c_ts"), F.asc("click_id"))
    credited = (
        pairs.withColumn("k", F.count(F.lit(1)).over(per_p))
        .withColumn("rk", F.row_number().over(w_rank))
        .select(
            F.to_date("c_ts").alias("click_day"),
            (
                F.expr("cents div k")
                + F.when(
                    F.col("rk") <= F.expr("cents % k"), F.lit(1)
                ).otherwise(F.lit(0))
            ).alias("credit_cents"),
        )
    )
    return credited.groupBy("click_day").agg(
        F.count(F.lit(1)).alias("n_credited_clicks"),
        F.sum("credit_cents").alias("credit_cents"),
    )


# ------------------------------------------------------------------
# Hamilton apportionment of a document budget across corpus cells.

CORPUS_BUDGET = 10_000


@query(
    oracle=f"""
WITH cells AS (
  SELECT COALESCE(lang, '??') AS lang, COALESCE(source, '??') AS source,
         CAST(sum(length(text)) AS BIGINT) AS mass
  FROM documents WHERE text IS NOT NULL
  GROUP BY 1, 2
), sized AS (
  SELECT lang, source, mass,
         sum(mass) OVER () AS total_mass,
         CAST(CAST(mass AS HUGEINT) * {CORPUS_BUDGET}
              // sum(mass) OVER () AS BIGINT) AS base,
         CAST(CAST(mass AS HUGEINT) * {CORPUS_BUDGET}
              % sum(mass) OVER () AS BIGINT) AS rem
  FROM cells
), ranked AS (
  SELECT *,
         {CORPUS_BUDGET} - sum(base) OVER () AS leftover,
         row_number() OVER (ORDER BY rem DESC, lang ASC, source ASC)
           AS rem_rank
  FROM sized
)
SELECT lang, source, mass,
       base + CASE WHEN rem_rank <= leftover THEN 1 ELSE 0 END
         AS quota_docs
FROM ranked
"""
)
def corpus_budget_apportion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer per-(lang, source) document quotas apportioning
    CORPUS_BUDGET proportional to character mass, largest-remainder
    method: base = (budget * mass) div total, the leftover seats go
    to the largest (budget * mass) mod total remainders
    (deterministic lang/source tiebreak). Quotas sum to the budget
    EXACTLY (tested) — the step that makes a sampling plan
    executable as per-cell limits.

    Scale shape: one map-side-combinable mass agg to the cell
    relation; apportionment windows run over O(cells) rows.
    decimal(38,0) products — a 100 TB char mass times a 1e9 budget
    cannot wrap.
    """
    docs = load_wide(spark, sf_dir, "documents").filter(
        F.col("text").isNotNull()
    )
    cells = docs.groupBy(
        F.coalesce("lang", F.lit("??")).alias("lang"),
        F.coalesce("source", F.lit("??")).alias("source"),
    ).agg(F.sum(F.length("text")).alias("mass"))
    tot = bounded_window("lang")
    sized = (
        cells.withColumn("total_mass", F.sum("mass").over(tot))
        .withColumn(
            "base",
            F.expr(
                f"CAST(CAST(mass AS DECIMAL(38,0)) * {CORPUS_BUDGET}"
                " DIV total_mass AS BIGINT)"
            ),
        )
        .withColumn(
            "rem",
            F.expr(
                f"CAST(CAST(mass AS DECIMAL(38,0)) * {CORPUS_BUDGET}"
                " % total_mass AS BIGINT)"
            ),
        )
    )
    w_rem = bounded_window("lang").orderBy(F.desc("rem"), F.asc("lang"), F.asc("source"))
    return (
        sized.withColumn("leftover", F.lit(CORPUS_BUDGET) - F.sum("base").over(tot))
        .withColumn("rem_rank", F.row_number().over(w_rem))
        .select(
            "lang",
            "source",
            "mass",
            (
                F.col("base")
                + F.when(
                    F.col("rem_rank") <= F.col("leftover"), F.lit(1)
                ).otherwise(F.lit(0))
            ).alias("quota_docs"),
        )
    )
