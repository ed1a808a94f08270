"""E1 end-to-end pipeline as a driver-checkable query.

Synthesizes the reference's data model (FIXTURES.md section B) from
testdata deterministically — videos from orders (with a re-ingest
batch), analytics from a lineitem rollup, dims from nation + literal
tables — then runs pipeline.build_wide_fact: the whole sheet A-AD
chain in one plan. The DuckDB oracle reproduces every stage in SQL
(plans/oracles_pipeline.py).

Edge cases exercised at scale: keep-last re-ingest overlay, dup-key
dims last-wins, channel misses -> 'Unknown Channel', code cleaning
(digits / lowercase / length), show-code misses -> '' vs matched
nulls, videos without analytics (null metrics -> zero-guarded
derivations), views = 0 division guards, null subscribers_gained,
H:MM:SS > 1 h, International News CPM branch.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from youtube_etl_automated_pipeline_spark.functions.compat import hround, units, xsum
from youtube_etl_automated_pipeline_spark.pipeline import build_wide_fact
from youtube_etl_automated_pipeline_spark.sources import load_table

# literal dims (mirrored as VALUES CTEs in the oracle)
SHOWNAMES_ROWS = [
    ("AB", "Alpha OLD", "BC OLD", "Sports"),
    ("AB", "Alpha Show", "BC One", "Local News"),  # dup code, last wins
    ("BC", "Beta Show", "BC One", "Sports"),
    ("CD", "Gamma Show", "BC Two", "International News"),
    ("DE", None, "BC Three", "Local News"),  # matched null show_name
    ("EF", "Epsilon Show", "BC Four", "Sports"),
    ("ABC", "Alpha Long", "BC One", "Local News"),
    ("BCD", "Beta Long", "BC Two", "International News"),
    ("CDE", "Gamma Long", "BC Three", "Sports"),
    ("DEF", None, "BC Four", "Local News"),
    ("EFG", "Epsilon Long", "BC Five", "Sports"),
    ("KLM", "Restated Show", "BC Six", "Local News"),
    ("LMN", "Restated Intl", "BC Six", "International News"),
]
RESOURCE_ROWS = [
    ("C", "Team Charlie"),
    ("D", "Team Delta"),
    ("E", ""),  # empty team exists (resource_name.json:10-11)
    ("F", "Team Fox"),
    ("M", "Team Mike"),
    ("N", "Team November"),
]
CPM_ROWS = [
    ("Alpha Show", "Premium"),
    ("Beta Show", "Standard"),
    ("Alpha Long", "Premium"),
    ("Epsilon Show", "Budget"),
    ("Restated Show", "Standard"),
]

_TOKEN = (
    "CASE WHEN o_orderkey % 11 = 0 THEN CAST(o_orderkey % 1000 AS STRING) "
    "WHEN o_orderkey % 13 = 0 THEN 'abcd' "
    "ELSE substring('ABCDEFGHIJ', CAST(1 + o_orderkey % 5 AS INT), CAST(2 + o_orderkey % 4 AS INT)) END"
)
_TOKEN2 = "substring('KLMNOPQRST', CAST(1 + o_orderkey % 5 AS INT), 3)"


def _videos(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    base = orders.select(
        F.col("o_orderkey").cast("string").alias("video_id"),
        F.expr(f"concat('Video ', o_orderpriority, ' | ', {_TOKEN})").alias("title"),
        F.concat(F.lit("CH"), (F.col("o_custkey") % 30).cast("string")).alias("channel_id"),
        F.date_format(
            F.expr("o_orderdate + make_interval(0,0,0,0,0,0, o_orderkey % 86400)"),
            "yyyy-MM-dd'T'HH:mm:ss'Z'",
        ).alias("published_at"),
        F.lit(1).alias("ingest_seq"),
    )
    restated = (
        orders.filter(F.col("o_orderkey") % 7 == 0)
        .select(
            F.col("o_orderkey").cast("string").alias("video_id"),
            F.expr(f"concat('Video RESTATED | ', {_TOKEN2})").alias("title"),
            F.concat(F.lit("CH"), (F.col("o_custkey") % 30).cast("string")).alias("channel_id"),
            F.date_format(
                F.expr("o_orderdate + make_interval(0,0,0,0,0,0, o_orderkey % 86400)"),
                "yyyy-MM-dd'T'HH:mm:ss'Z'",
            ).alias("published_at"),
            F.lit(2).alias("ingest_seq"),
        )
    )
    return base.unionByName(restated)


def _channels(spark: SparkSession, sf_dir: str) -> DataFrame:
    nat = load_table(spark, sf_dir, "nation")
    v1 = nat.select(
        F.concat(F.lit("CH"), F.col("n_nationkey").cast("string")).alias("channel_id"),
        F.col("n_name").alias("channel_name"),
    )
    v2 = nat.filter(F.col("n_nationkey") % 2 == 0).select(
        F.concat(F.lit("CH"), F.col("n_nationkey").cast("string")).alias("channel_id"),
        F.concat(F.col("n_name"), F.lit("_V2")).alias("channel_name"),
    )
    return v1.unionByName(v2)  # nationkeys 0-24 -> CH25..CH29 miss


def _analytics(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 5 != 1)
    agg = li.groupBy("l_orderkey").agg(
        F.floor(F.sum("l_quantity")).alias("_qty"),
        F.count(F.lit(1)).alias("_n"),
        # exact unit sums (compat.xsum): these feed downstream ratio
        # derivations, so cross-engine bit-identity matters here most
        (xsum(F.col("l_extendedprice"), 2) / 100.0).alias("minutes_watched"),
        hround(xsum(F.col("l_extendedprice") * F.col("l_discount"), 4) / 10.0, 4).alias(
            "estimated_revenue"
        ),
        hround(
            F.sum(units(F.col("l_tax"), 2)).cast("double")
            / F.count(F.col("l_tax")).cast("double")
            / 1e2
            * 100.0,
            6,
        ).alias("cpm"),
    )
    return agg.select(
        F.col("l_orderkey").cast("string").alias("video_id"),
        F.expr(
            "CASE WHEN l_orderkey % 3 = 0 THEN 'VIDEO' "
            "WHEN l_orderkey % 3 = 1 THEN 'SHORTS' ELSE 'LIVE' END"
        ).alias("content_type"),
        F.when(F.col("l_orderkey") % 17 == 0, F.lit(0).cast("long"))
        .otherwise(F.col("_qty"))
        .alias("views"),
        "minutes_watched",
        ((F.col("l_orderkey") * 37) % 7200).alias("avg_view_duration"),
        F.col("_n").alias("comments"),
        (F.col("_qty") % 100).alias("likes"),
        (F.col("_n") % 7).alias("shares"),
        "estimated_revenue",
        "cpm",
        F.when(F.col("l_orderkey") % 19 == 0, F.lit(None).cast("long"))
        .otherwise(F.col("_n"))
        .alias("subscribers_gained"),
        (F.col("_n") % 5).alias("subscribers_lost"),
    )


def _local_dim(spark: SparkSession, rows: list[tuple], schema: str) -> DataFrame:
    """A literal dim as a local relation: collecting it runs no job."""
    names = [f.split()[0] for f in schema.split(",")]
    return spark.createDataFrame(pd.DataFrame(rows, columns=names), schema)


def pipeline_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's whole DAG (E1) over synthesized inputs."""
    shownames = _local_dim(
        spark, SHOWNAMES_ROWS, "code string, show_name string, broadcaster string, category string"
    )
    resource_names = _local_dim(spark, RESOURCE_ROWS, "employee_code string, team string")
    cpm_categories = _local_dim(spark, CPM_ROWS, "show_name string, cpm_category string")
    wide = build_wide_fact(
        _videos(spark, sf_dir),
        _channels(spark, sf_dir),
        resource_names,
        shownames,
        cpm_categories,
        _analytics(spark, sf_dir),
    )
    return wide.select(
        "video_id",
        "title",
        "channel_name",
        "published_at",
        "main_code",
        "code_len",
        "code",
        "resource_code",
        "resource_name",
        "show_name",
        "broadcaster",
        "category",
        "published_date_local",
        "published_time_local",
        "content_type",
        "views",
        "watch_hours",
        "avg_view_duration_hms",
        "comments",
        "likes",
        "shares",
        "estimated_revenue",
        "cpm",
        "subscribers_gained",
        "subscribers_lost",
        "net_subscribers",
        "engagement_pct",
        "cpv",
        "rpm",
        "cpm_category",
    )


QUERIES_PIPELINE = {"pipeline_e2e": pipeline_e2e}
