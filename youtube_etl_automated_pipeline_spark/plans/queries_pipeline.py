"""E1 end-to-end pipeline as a driver-checkable query.

Synthesizes the reference's data model (FIXTURES.md section B) from
testdata deterministically — videos from orders (with a re-ingest
batch), analytics from a lineitem rollup, dims from nation + literal
tables — then runs pipeline.build_wide_fact: the whole sheet A-AD
chain in one plan. The DuckDB oracle reproduces every stage in SQL.

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

from youtube_etl_automated_pipeline_spark.ext.textstats import WS_CLASS as _WS_CLASS
from youtube_etl_automated_pipeline_spark.functions.compat import (
    hround,
    sql_hround,
    sql_xsum,
    units,
    xsum,
)
from youtube_etl_automated_pipeline_spark.functions import dates as D
from youtube_etl_automated_pipeline_spark.functions import metrics as M
from youtube_etl_automated_pipeline_spark.functions import text as X
from youtube_etl_automated_pipeline_spark.operators.dedup import keep_last
from youtube_etl_automated_pipeline_spark.operators.joins import (
    anti_join_waterfall,
    merge_upsert,
)
from youtube_etl_automated_pipeline_spark.pipeline import build_wide_fact
from youtube_etl_automated_pipeline_spark.plans.registry import query
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


# DuckDB oracle for pipeline_e2e — the whole A-AD chain in SQL.
#
# Mirrors plans/queries_pipeline.py stage by stage; literal dims are
# generated from the same Python lists so the two sides cannot drift.

def _sql_lit(v) -> str:
    if v is None:
        return "CAST(NULL AS VARCHAR)"
    return "'" + str(v).replace("'", "''") + "'"


def _values(rows, with_ord: bool) -> str:
    out = []
    for i, r in enumerate(rows):
        cells = ", ".join(_sql_lit(c) for c in r)
        out.append(f"({cells}, {i + 1})" if with_ord else f"({cells})")
    return ",\n  ".join(out)


_TOKEN_SQL = (
    "CASE WHEN o_orderkey % 11 = 0 THEN CAST(o_orderkey % 1000 AS VARCHAR) "
    "WHEN o_orderkey % 13 = 0 THEN 'abcd' "
    "ELSE substr('ABCDEFGHIJ', CAST(1 + o_orderkey % 5 AS INT), CAST(2 + o_orderkey % 4 AS INT)) END"
)
_TOKEN2_SQL = "substr('KLMNOPQRST', CAST(1 + o_orderkey % 5 AS INT), 3)"
_PUB_AT_SQL = (
    "strftime(o_orderdate + (o_orderkey % 86400) * INTERVAL 1 SECOND, "
    "'%Y-%m-%dT%H:%M:%SZ')"
)


def _r(expr: str, dp: int) -> str:
    p = float(10**dp)
    return f"floor(({expr}) * {p!r} + 0.5) / {p!r}"


@query(
    oracle=f"""
WITH
shownames_raw(code, show_name, broadcaster, category, _ord) AS (VALUES
  {_values(SHOWNAMES_ROWS, True)}),
shownames AS (
  SELECT code, show_name, broadcaster, category FROM (
    SELECT *, row_number() OVER (PARTITION BY code ORDER BY _ord DESC) AS _rn
    FROM shownames_raw) WHERE _rn = 1),
resource_names(employee_code, team) AS (VALUES
  {_values(RESOURCE_ROWS, False)}),
cpm_categories(show_name, cpm_category) AS (VALUES
  {_values(CPM_ROWS, False)}),
channels_raw AS (
  SELECT 'CH' || CAST(n_nationkey AS VARCHAR) AS channel_id,
         n_name AS channel_name, 1 AS _seq
  FROM nation
  UNION ALL
  SELECT 'CH' || CAST(n_nationkey AS VARCHAR), n_name || '_V2', 2
  FROM nation WHERE n_nationkey % 2 = 0),
channels AS (
  SELECT channel_id, channel_name FROM (
    SELECT *, row_number() OVER (PARTITION BY channel_id ORDER BY _seq DESC) AS _rn
    FROM channels_raw) WHERE _rn = 1),
videos_raw AS (
  SELECT CAST(o_orderkey AS VARCHAR) AS video_id,
         'Video ' || o_orderpriority || ' | ' || {_TOKEN_SQL} AS title,
         'CH' || CAST(o_custkey % 30 AS VARCHAR) AS channel_id,
         {_PUB_AT_SQL} AS published_at,
         1 AS ingest_seq
  FROM orders
  UNION ALL
  SELECT CAST(o_orderkey AS VARCHAR),
         'Video RESTATED | ' || {_TOKEN2_SQL},
         'CH' || CAST(o_custkey % 30 AS VARCHAR),
         {_PUB_AT_SQL},
         2
  FROM orders WHERE o_orderkey % 7 = 0),
videos AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY video_id ORDER BY ingest_seq DESC) AS _rn
    FROM videos_raw) WHERE _rn = 1),
with_channel AS (
  SELECT v.video_id, v.title, v.published_at,
         coalesce(c.channel_name, 'Unknown Channel') AS channel_name
  FROM videos v LEFT JOIN channels c USING (channel_id)),
raw_codes AS (
  SELECT *, list_extract(
      string_split_regex(trim(regexp_replace(title, '\\|', ' ', 'g')), '{_WS_CLASS}+'), -1)
    AS raw_code
  FROM with_channel),
codes AS (
  SELECT * EXCLUDE (raw_code),
    CASE WHEN length(raw_code) IN (3, 4, 5)
          AND NOT regexp_matches(raw_code, '^[0-9]+$')
          AND length(regexp_replace(raw_code, '[^\\p{{Ll}}]', '', 'g')) <= 1
         THEN raw_code ELSE '' END AS main_code
  FROM raw_codes),
codes2 AS (
  SELECT *,
    length(main_code) AS code_len,
    CASE WHEN length(main_code) = 4 THEN substr(main_code, 1, 2)
         ELSE substr(main_code, 1, 3) END AS code,
    CASE WHEN main_code = '' THEN '' ELSE right(main_code, 1) END AS resource_code
  FROM codes),
with_resource AS (
  SELECT c2.*, coalesce(r.team, '') AS resource_name
  FROM codes2 c2 LEFT JOIN resource_names r ON r.employee_code = c2.resource_code),
with_show AS (
  SELECT w.*,
    CASE WHEN s.code IS NULL THEN '' ELSE s.show_name END AS show_name,
    CASE WHEN s.code IS NULL THEN '' ELSE s.broadcaster END AS broadcaster,
    CASE WHEN s.code IS NULL THEN '' ELSE s.category END AS category
  FROM with_resource w LEFT JOIN shownames s ON s.code = w.code),
analytics AS (
  SELECT CAST(l_orderkey AS VARCHAR) AS video_id,
    CASE WHEN l_orderkey % 3 = 0 THEN 'VIDEO'
         WHEN l_orderkey % 3 = 1 THEN 'SHORTS' ELSE 'LIVE' END AS content_type,
    CASE WHEN l_orderkey % 17 = 0 THEN 0
         ELSE CAST(floor(sum(l_quantity)) AS BIGINT) END AS views,
    (CAST(sum(CAST(floor((l_extendedprice) * 100.0 + 0.5) AS BIGINT)) AS BIGINT) / 100.0) / 100.0 AS minutes_watched,
    (l_orderkey * 37) % 7200 AS avg_view_duration,
    count(*) AS comments,
    CAST(floor(sum(l_quantity)) AS BIGINT) % 100 AS likes,
    count(*) % 7 AS shares,
    {_r("(CAST(sum(CAST(floor((l_extendedprice * l_discount) * 10000.0 + 0.5) AS BIGINT)) AS BIGINT) / 10000.0) / 10.0", 4)} AS estimated_revenue,
    {_r("(CAST(sum(CAST(floor((l_tax) * 100.0 + 0.5) AS BIGINT)) AS DOUBLE) / CAST(count(l_tax) AS DOUBLE) / 100.0 * 100.0)", 6)} AS cpm,
    CASE WHEN l_orderkey % 19 = 0 THEN NULL ELSE count(*) END AS subscribers_gained,
    count(*) % 5 AS subscribers_lost
  FROM lineitem WHERE l_orderkey % 5 <> 1
  GROUP BY l_orderkey),
merged AS (
  SELECT w.*, a.content_type, a.views, a.minutes_watched, a.avg_view_duration,
         a.comments, a.likes, a.shares, a.estimated_revenue, a.cpm,
         a.subscribers_gained, a.subscribers_lost
  FROM with_show w LEFT JOIN analytics a USING (video_id))
SELECT
  video_id,
  title,
  channel_name,
  published_at,
  main_code,
  code_len,
  code,
  resource_code,
  resource_name,
  show_name,
  broadcaster,
  category,
  -- COALESCE to '': the engine's utc_to_local_date_time contract is
  -- ('','') on empty/malformed input (reference parity), and Spark
  -- emits '' where strftime here would emit NULL
  COALESCE(strftime(try_strptime(published_at, '%Y-%m-%dT%H:%M:%SZ')
    + INTERVAL 5 HOUR, '%Y-%m-%d'), '') AS published_date_local,
  COALESCE(strftime(try_strptime(published_at, '%Y-%m-%dT%H:%M:%SZ')
    + INTERVAL 5 HOUR, '%H:%M:%S'), '') AS published_time_local,
  content_type,
  views,
  {_r("coalesce(minutes_watched, 0) / 60.0", 2)} AS watch_hours,
  coalesce(avg_view_duration, 0) // 3600 || ':' ||
    lpad(CAST((coalesce(avg_view_duration, 0) % 3600) // 60 AS VARCHAR), 2, '0') || ':' ||
    lpad(CAST(coalesce(avg_view_duration, 0) % 60 AS VARCHAR), 2, '0')
    AS avg_view_duration_hms,
  comments,
  likes,
  shares,
  estimated_revenue,
  cpm,
  subscribers_gained,
  subscribers_lost,
  CAST(coalesce(subscribers_gained, 0) - coalesce(subscribers_lost, 0) AS BIGINT)
    AS net_subscribers,
  {_r("CASE WHEN coalesce(views, 0) > 0 THEN (coalesce(comments,0) + coalesce(likes,0) + coalesce(shares,0)) / coalesce(views, 0) * 100.0 ELSE 0 END", 2)}
    AS engagement_pct,
  {_r("CASE WHEN coalesce(views, 0) > 0 THEN coalesce(estimated_revenue, 0) / coalesce(views, 0) ELSE 0 END", 6)}
    AS cpv,
  {_r("CASE WHEN coalesce(views, 0) > 0 THEN coalesce(estimated_revenue, 0) / coalesce(views, 0) ELSE 0 END * 1000.0", 2)}
    AS rpm,
  CASE WHEN trim(coalesce(category, '')) = 'International News'
       THEN coalesce(show_name, '')
       ELSE coalesce(cc.cpm_category, '') END AS cpm_category
FROM merged LEFT JOIN cpm_categories cc USING (show_name)
ORDER BY video_id
"""
)
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


# DuckDB oracles of the reference-job operators below.
#
# Each statement is ANSI-ish SQL DuckDB runs over the same parquet
# tables (pre-registered views). Column aliases match the Spark side
# exactly. Engine-specific equivalences used:
#
# - ``Asia/Karachi`` is UTC+05:00 with no DST for all modern dates, so
#   the oracle uses ``ts + INTERVAL 5 HOUR`` where Spark uses
#   ``from_utc_timestamp(ts, 'Asia/Karachi')``.
# - DuckDB double->int CAST rounds; Spark truncates toward zero -> the
#   oracle uses ``trunc()`` before casting.
# - DuckDB ``sum(INTEGER)`` returns HUGEINT -> cast to BIGINT to match
#   Spark's long.
# - DuckDB ``regexp_replace`` needs the ``'g'`` flag to replace all
#   occurrences (Spark replaces all by default).
#
# Rounding of derived doubles uses ``floor(x * 10^dp + 0.5) / 10^dp``
# (see functions/compat.py): exactly-specified IEEE ops, bit-identical
# between Spark and DuckDB — native ``round()`` differs on shortest-repr
# ...5 values.

# exact-unit sum twins (see compat.xsum): integer-unit accumulation,
# CAST AS BIGINT (DuckDB sums to HUGEINT), single final division —
# textually mirrors the Spark expression chain op for op.
_REV_U = sql_xsum("l_extendedprice * (1 - l_discount)", 4)
_QTY_U = sql_xsum("l_quantity", 2)


# The reference-job operators over the driver testdata, one entry per
# operator row in SURVEY.md section 2.
#
# Each callable takes (spark, sf_dir) and returns a DataFrame whose
# column names/aliases match its DuckDB oracle
# exactly (the driver's compare sorts columns by name and hashes
# values).
#
# Role mapping (FIXTURES.md section A): orders/lineitem = fact
# ("videos" + "metrics"), nation/region/part = broadcast dims,
# events = re-ingest / streaming fixtures, documents/embeddings =
# extension ops.

@query(
    oracle=f"""
WITH latest_line AS (
  SELECT * FROM (
    SELECT l.*, row_number() OVER (
      PARTITION BY l_orderkey
      ORDER BY l_linenumber DESC, l_partkey DESC, l_suppkey DESC, l_extendedprice DESC) AS _rn
    FROM lineitem l
  ) WHERE _rn = 1
)
SELECT
  r_name AS region_name,
  n_name AS nation_name,
  count(*) AS n_orders,
  {sql_hround(_REV_U, 2)} AS revenue,
  {_QTY_U} AS sum_qty,
  {sql_hround(
      f"CASE WHEN sum(CAST(floor((l_quantity) * 100.0 + 0.5) AS BIGINT)) > 0"
      f" THEN ({_REV_U}) / ({_QTY_U}) ELSE 0.0 END", 4)} AS rev_per_qty
FROM latest_line
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE o_orderdate >= TIMESTAMP '1996-01-01'
GROUP BY 1, 2
ORDER BY 1, 2
"""
)
def flagship_enrich_dedup_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship (SURVEY section 7 step 1): enrich + dedup + aggregate.

    Mirrors the reference's E2+E3 shape (dataingestion1.py:104-181,
    ingestdatainbigquery.py:84-96): keep-last dedup on the fact key
    (A5/J7: last lineitem per order = 'current state' after re-ingest),
    enrichment joins up the star (J1-J3), grouped rollup (A2), guarded
    ratio metrics (F20-F22).

    Scale notes: lineitem->orders and orders->customer are shuffle
    joins on their keys (AQE handles skew); nation/region are broadcast
    (no fact shuffle); the dedup window shares the l_orderkey shuffle
    with the orders join downstream. Date predicate pushes to parquet.
    """
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("1996-01-01")
    )
    cust = load_table(spark, sf_dir, "customer")
    nat = load_table(spark, sf_dir, "nation")
    reg = load_table(spark, sf_dir, "region")

    # (l_orderkey, l_linenumber) is not unique in the synthetic data;
    # keep-last needs a TOTAL order to be deterministic (SURVEY section 7
    # risk register) — extend the tiebreak until unique.
    latest_line = keep_last(
        li, ["l_orderkey"], ["l_linenumber", "l_partkey", "l_suppkey", "l_extendedprice"]
    )

    fact = (
        latest_line.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nat), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(reg), F.col("n_regionkey") == F.col("r_regionkey"))
    )

    # Exact fixed-point accumulation (compat.units): integer unit sums
    # are order-independent, so Spark's partial-agg order and DuckDB's
    # scan order cannot produce a sum straddling a rounding boundary.
    # ext*(1-disc) is an exact 4-dp decimal (2dp * (1 - 2dp)).
    rev_u = F.sum(units(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4))
    qty_u = F.sum(units(F.col("l_quantity"), 2))
    revenue = rev_u / 1e4
    qty = qty_u / 1e2
    return (
        fact.groupBy(F.col("r_name").alias("region_name"), F.col("n_name").alias("nation_name"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            hround(revenue, 2).alias("revenue"),
            qty.alias("sum_qty"),
            hround(
                F.when(qty_u > 0, revenue / qty).otherwise(F.lit(0.0)), 4
            ).alias("rev_per_qty"),
        )
        .orderBy("region_name", "nation_name")
    )


@query(
    oracle=f"""
WITH raw AS (
  SELECT
    p_partkey,
    p_name AS title,
    CASE WHEN p_name IS NULL OR trim(regexp_replace(p_name, '\\|', ' ', 'g')) = ''
         THEN ''
         ELSE list_extract(
                string_split_regex(trim(regexp_replace(p_name, '\\|', ' ', 'g')),
                                   '{_WS_CLASS}+'),
                -1)
    END AS raw_code
  FROM part
),
cleaned AS (
  SELECT *,
    length(raw_code) AS raw_len,
    CASE WHEN length(raw_code) IN (3, 4, 5)
          AND NOT regexp_matches(raw_code, '^[0-9]+$')
          AND length(regexp_replace(raw_code, '[^\\p{{Ll}}]', '', 'g')) <= 1
         THEN raw_code ELSE '' END AS main_code
  FROM raw
)
SELECT
  p_partkey,
  title,
  raw_code,
  raw_len,
  main_code,
  length(main_code) AS code_len,
  CASE WHEN length(main_code) = 4 THEN substr(main_code, 1, 2)
       ELSE substr(main_code, 1, 3) END AS code,
  CASE WHEN main_code = '' THEN '' ELSE right(main_code, 1) END AS resource_code
FROM cleaned
ORDER BY p_partkey
"""
)
def code_derivation_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F2-F7 + P5-P7 string chain (dataingestion2.py:33-64) applied to
    part.p_name as the 'title'. Pure codegen'd projection — no UDFs,
    no shuffle; scales linearly with scan width."""
    part = load_table(spark, sf_dir, "part")
    raw = X.extract_last_word(F.col("p_name"))
    df = part.select(
        "p_partkey",
        F.col("p_name").alias("title"),
        raw.alias("raw_code"),
        F.length(raw).alias("raw_len"),
    )
    cleaned = X.clean_main_code(F.col("raw_code"))
    df = df.withColumn("main_code", cleaned)
    df = df.withColumn("code_len", F.length("main_code"))
    df = df.withColumn("code", X.code_prefix(F.col("main_code"), F.col("code_len")))
    df = df.withColumn("resource_code", X.last_char(F.col("main_code")))
    return df


@query(
    oracle="""
SELECT
  event_id,
  strftime(ts, '%Y-%m-%dT%H:%M:%SZ') AS published_at,
  strftime(ts + INTERVAL 5 HOUR, '%Y-%m-%d') AS published_date_local,
  strftime(ts + INTERVAL 5 HOUR, '%H:%M:%S') AS published_time_local,
  -- null seconds -> '' (Spark's concat_ws skips null parts and
  -- yields the empty string; pin the same here)
  CASE WHEN value IS NULL THEN '' ELSE
    CAST(trunc(value) AS BIGINT) // 3600 || ':' ||
    lpad(CAST((CAST(trunc(value) AS BIGINT) % 3600) // 60 AS VARCHAR), 2, '0') || ':' ||
    lpad(CAST(CAST(trunc(value) AS BIGINT) % 60 AS VARCHAR), 2, '0')
  END AS avg_view_duration_hms
FROM events
ORDER BY event_id
"""
)
def date_time_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F11-F15 (dataingestion1.py:66-67, dataprocessing3.py:28-43,
    dataprocessing.py:150): ISO formatting, UTC->Asia/Karachi split,
    seconds->H:MM:SS. Projection only; no shuffle."""
    ev = load_table(spark, sf_dir, "events")
    iso = D.iso_utc(F.col("ts"))
    local_date, local_time = D.utc_to_local_date_time(iso)
    return ev.select(
        "event_id",
        iso.alias("published_at"),
        local_date.alias("published_date_local"),
        local_time.alias("published_time_local"),
        D.seconds_to_hms(F.col("value").cast("long")).alias("avg_view_duration_hms"),
    )


@query(
    oracle="""
SELECT user_id, event_id, event_type, value
FROM (
  -- date_trunc to microseconds: the parquet stores nanos, Spark works
  -- at microsecond precision
  SELECT *, row_number() OVER (
    PARTITION BY user_id
    ORDER BY date_trunc('microseconds', ts) DESC, event_id DESC) AS _rn
  FROM events
) WHERE _rn = 1
ORDER BY user_id
"""
)
def keep_last_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5/W2 (dataingestion1.py:168): latest event per user — keep-last
    with a deterministic total order (ts, event_id). One shuffle."""
    ev = load_table(spark, sf_dir, "events")
    return keep_last(ev, ["user_id"], ["ts", "event_id"]).select(
        "user_id", "event_id", "event_type", "value"
    )


@query(
    oracle="""
WITH unioned AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice,
         1 AS ingest_seq
  FROM orders
  UNION ALL
  SELECT o_orderkey, 'R' AS o_orderstatus, floor((o_totalprice * 1.1) * 100.0 + 0.5) / 100.0 AS o_totalprice,
         2 AS ingest_seq
  FROM orders WHERE o_orderkey % 10 = 0
)
SELECT o_orderkey, o_orderstatus, o_totalprice, ingest_seq
FROM (
  SELECT *, row_number() OVER (PARTITION BY o_orderkey ORDER BY ingest_seq DESC) AS _rn
  FROM unioned
) WHERE _rn = 1
"""
)
def merge_upsert_keep_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J7/U1 (dataingestion1.py:166-168): re-ingest upsert. 'New batch'
    = every 10th order with a restated total; union + keep-last by
    ingest_seq overlays new over old. One shuffle on the key."""
    orders = load_table(spark, sf_dir, "orders")
    old = orders.select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    ).withColumn("ingest_seq", F.lit(1))
    new = (
        orders.filter(F.col("o_orderkey") % 10 == 0)
        .select(
            "o_orderkey",
            F.lit("R").alias("o_orderstatus"),
            hround(F.col("o_totalprice") * 1.1, 2).alias("o_totalprice"),
        )
        .withColumn("ingest_seq", F.lit(2))
    )
    merged = merge_upsert(old, new, ["o_orderkey"], ["ingest_seq"])
    return merged.select("o_orderkey", "o_orderstatus", "o_totalprice", "ingest_seq")


@query(
    oracle="""
WITH s1 AS (
  SELECT c_custkey FROM customer c
  WHERE NOT EXISTS (SELECT 1 FROM orders o
                    WHERE o.o_custkey = c.c_custkey
                      AND o.o_orderpriority IN ('1-URGENT', '2-HIGH'))
),
s2 AS (
  SELECT c_custkey FROM s1
  WHERE NOT EXISTS (SELECT 1 FROM orders o
                    WHERE o.o_custkey = s1.c_custkey
                      AND o.o_orderpriority = '3-MEDIUM')
)
SELECT c_custkey FROM s2
WHERE NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = s2.c_custkey
                    AND o.o_orderpriority = '4-NOT SPECIFIED')
ORDER BY c_custkey
"""
)
def waterfall_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5/U2 (dataprocessing.py:106-114): customers never 'fetched' by
    any owner — owners are order-priority buckets; LEFT ANTI per step
    with isEmpty() early-exit. Returns unmatched customer keys.

    Owners deliberately do NOT cover '5-LOW' so the remainder is
    non-empty (a 0-row result would match its oracle trivially).
    """
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    orders = load_table(spark, sf_dir, "orders")
    owners = [
        orders.filter(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")).select(
            F.col("o_custkey").alias("c_custkey")
        ),
        orders.filter(F.col("o_orderpriority") == "3-MEDIUM").select(
            F.col("o_custkey").alias("c_custkey")
        ),
        orders.filter(F.col("o_orderpriority") == "4-NOT SPECIFIED").select(
            F.col("o_custkey").alias("c_custkey")
        ),
    ]
    return anti_join_waterfall(cust, owners, "c_custkey").orderBy("c_custkey")


@query(
    oracle="""
SELECT o_orderkey, o_custkey, o_totalprice
FROM (
  SELECT * FROM orders ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 100
)
"""
)
def top_k_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O2/O4 (dataprocessing.py:93): global top-k — Spark's
    TakeOrderedAndProject computes per-partition top-k then merges;
    no full sort, no full shuffle. Deterministic tiebreak on the key."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(100)
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )


@query(
    oracle=f"""
WITH per_order AS (
  SELECT
    l_orderkey,
    {sql_xsum("l_quantity", 2)} AS views,
    {sql_xsum("l_extendedprice", 2)} AS revenue,
    CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS returns,
    count(*) AS n_lines,
    {sql_xsum("l_tax", 2)} AS tax_sum
  FROM lineitem
  GROUP BY l_orderkey
)
SELECT
  l_orderkey,
  floor((revenue / 60.0) * 100.0 + 0.5) / 100.0 AS watch_hours,
  n_lines - returns AS net_lines,
  floor((CASE WHEN views > 0 THEN (returns + n_lines + tax_sum) / views * 100 ELSE 0 END) * 100.0 + 0.5) / 100.0
    AS engagement_pct,
  floor((CASE WHEN views > 0 THEN revenue / views ELSE 0 END) * 1000000.0 + 0.5) / 1000000.0 AS cpv,
  floor((CASE WHEN views > 0 THEN revenue / views ELSE 0 END * 1000) * 100.0 + 0.5) / 100.0 AS rpm
FROM per_order
ORDER BY l_orderkey
"""
)
def derived_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F17-F23 (dataprocessing3.py:46-97) over a per-order metric
    rollup: engagement%/CPV/RPM-shaped guarded divisions, net value,
    minutes->hours. Aggregate once, derive in a projection."""
    li = load_table(spark, sf_dir, "lineitem")
    # xsum: the downstream guarded ratios divide these sums, so the
    # dividends must be bit-identical cross-engine (exact unit sums).
    per_order = li.groupBy("l_orderkey").agg(
        xsum(F.col("l_quantity"), 2).alias("views"),
        xsum(F.col("l_extendedprice"), 2).alias("revenue"),
        F.sum(F.when(F.col("l_returnflag") == "R", 1).otherwise(0)).alias("returns"),
        F.count(F.lit(1)).alias("n_lines"),
        xsum(F.col("l_tax"), 2).alias("tax_sum"),
        xsum(F.col("l_discount"), 2).alias("disc_sum"),
    )
    return per_order.select(
        "l_orderkey",
        M.minutes_to_hours(F.col("revenue")).alias("watch_hours"),
        M.net_subscribers(F.col("n_lines"), F.col("returns")).alias("net_lines"),
        M.engagement_pct(
            F.col("returns"), F.col("n_lines"), F.col("tax_sum"), F.col("views")
        ).alias("engagement_pct"),
        M.cpv(F.col("revenue"), F.col("views")).alias("cpv"),
        M.rpm(F.col("revenue"), F.col("views")).alias("rpm"),
    )
