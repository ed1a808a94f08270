"""Source-format breadth gate queries: the same rollup computed over
documents re-materialized as JSON-lines and as ORC. The DuckDB oracle
runs the rollup over the ORIGINAL parquet — equality proves the
format round-trip (write → schema-on-read scan → aggregate) is
lossless for every column.

Scale notes: both scans are single-pass and column-pruned; JSONL
requires the explicit schema (no 100 TB inference pass — see
sources.read_jsonl), ORC gets the same pushdown/pruning treatment as
parquet. The rollup touches every column (ids, strings incl. the
full text body, lengths) so silent truncation or type drift cannot
hide.

Reference parity: the reference ingests JSON API payloads row-wise
into pandas (Python-pipeline/dataingestion1.py); here the JSON path
is a declarative schema'd scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from youtube_etl_automated_pipeline_spark.plans.registry import query
from youtube_etl_automated_pipeline_spark.session import (
    fixture_dir,
    input_digest,
    scratch_dir,
)
from youtube_etl_automated_pipeline_spark.sources import (
    materialize_format,
    read_jsonl,
    read_orc,
)

DOCUMENTS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ]
)


def _doc_rollup(docs: DataFrame) -> DataFrame:
    """Every-column rollup: any loss in the round-trip breaks it."""
    return (
        docs.groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
            F.sum("n_chars").alias("sum_chars"),
            F.sum(F.length("text")).alias("sum_text_len"),
        )
        .orderBy("lang", "source")
    )


_ROLLUP_SQL = """
SELECT lang, source,
       count(*) AS n_docs,
       min(doc_id) AS min_doc,
       max(doc_id) AS max_doc,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
       CAST(sum(length(text)) AS BIGINT) AS sum_text_len
FROM documents
GROUP BY lang, source
ORDER BY lang, source
"""


@query(oracle=_ROLLUP_SQL)
def jsonl_documents_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = materialize_format(spark, sf_dir, "documents", "jsonl")
    return _doc_rollup(read_jsonl(spark, path, DOCUMENTS_SCHEMA))


@query(oracle=_ROLLUP_SQL)
def orc_documents_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = materialize_format(spark, sf_dir, "documents", "orc")
    return _doc_rollup(read_orc(spark, path))


@query(
    oracle="""
SELECT CAST(ts AS DATE) AS event_date, event_type,
       count(*) AS n_events,
       CAST(sum(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) AS BIGINT) / 100.0
         AS sum_value
FROM events
WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-10' AND DATE '2024-01-12'
GROUP BY 1, 2
ORDER BY event_date, event_type
"""
)
def partitioned_events_pruned_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date-range rollup over the DATE-PARTITIONED events layout: the
    filter on the partition column becomes directory pruning (the scan
    reads 3 of ~30 day-partitions; `PartitionFilters` in the plan,
    asserted by tests/test_sources.py). The oracle computes the same
    rollup from the raw table, so the partitioned write + pruned read
    round-trip must be lossless."""
    from youtube_etl_automated_pipeline_spark.functions.compat import units
    from youtube_etl_automated_pipeline_spark.sources import (
        materialize_partitioned_events,
    )

    path = materialize_partitioned_events(spark, sf_dir)
    ev = spark.read.parquet(path).filter(
        F.col("event_date").between("2024-01-10", "2024-01-12")
    )
    return (
        ev.groupBy("event_date", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (F.sum(units(F.col("value"), 2)) / 1e2).alias("sum_value"),
        )
        .orderBy("event_date", "event_type")
    )


@query(
    oracle="""
WITH items AS (
  SELECT CAST(floor(i / 500) AS INT) AS page,
         i AS item_id,
         printf('VID%09d', (i * 2654435761) % 100000007) AS video_code,
         ((i * 7919) % 1000) / 10.0 AS score
  FROM generate_series(0, 9999) t(i)
)
SELECT page,
       count(*) AS n_items,
       CAST(sum(item_id) AS BIGINT) AS sum_id,
       min(video_code) AS min_code,
       max(video_code) AS max_code,
       CAST(sum(CAST(floor(score * 10.0 + 0.5) AS BIGINT)) AS BIGINT) / 10.0 AS sum_score
FROM items
GROUP BY page
ORDER BY page
"""
)
def api_source_page_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate for the custom paginated-API connector (Python Data Source
    API, `sources/paged_api.py`): 20 pages x 500 items — the
    reference's ids-per-request batch size
    (Python-pipeline/dataprocessing.py:77) — fetched as one Spark
    partition per page, then rolled up per page.

    Exactness: the double `score` is decoded back to its integer
    tenths with `units()` before summing, so the per-page checksum is
    integer arithmetic in both engines (no float-sum order exposure).
    The oracle reproduces the connector's response arithmetic with
    generate_series — equality proves the whole connector path
    (partition planning, Arrow batch decode, schema mapping) is
    lossless.
    """
    from youtube_etl_automated_pipeline_spark.functions.compat import units
    from youtube_etl_automated_pipeline_spark.sources.paged_api import register

    register(spark)
    src = (
        spark.read.format("paged_api_sim")
        .option("pages", 20)
        .option("page_size", 500)
        .load()
    )
    return (
        src.groupBy("page")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum("item_id").alias("sum_id"),
            F.min("video_code").alias("min_code"),
            F.max("video_code").alias("max_code"),
            (F.sum(units(F.col("score"), 1)) / 1e1).alias("sum_score"),
        )
        .orderBy("page")
    )


@query(
    oracle="""
SELECT o_orderpriority,
       count(*) AS n_orders,
       CAST(sum(o_custkey) AS BIGINT) AS custkey_sum,
       CAST(sum(CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)) AS BIGINT) / 100.0
         AS sum_total
FROM orders
WHERE o_custkey BETWEEN 100 AND 400
  AND o_orderdate BETWEEN DATE '1996-01-01' AND DATE '1997-12-31'
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""
)
def zordered_orders_pruned_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-dimensional predicate over the Z-ORDERED orders layout
    (operators/layout.py): a custkey range AND a date range — the
    query shape clustering exists for. Row-group min/max skipping is
    proven by tests/test_layout.py; this gate proves the re-layout is
    content-lossless (oracle computes the same rollup from the raw
    table)."""
    from youtube_etl_automated_pipeline_spark.functions.compat import units
    from youtube_etl_automated_pipeline_spark.sources import (
        materialize_zordered_orders,
    )

    path = materialize_zordered_orders(spark, sf_dir)
    od = spark.read.parquet(path).filter(
        # range chosen INSIDE the data's 1995-2001 span: the round-3
        # 1993-94 window predated the corpus and matched zero rows,
        # making the oracle equality vacuous (caught by the round-4
        # non-vacuous-gate audit)
        (F.col("o_custkey").between(100, 400))
        & (F.col("o_orderdate").between("1996-01-01", "1997-12-31"))
    )
    return (
        od.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("o_custkey").alias("custkey_sum"),
            (F.sum(units(F.col("o_totalprice"), 2)) / 1e2).alias("sum_total"),
        )
        .orderBy("o_orderpriority")
    )


@query(
    oracle="""
WITH tagged AS (
  SELECT 'parquet' AS fmt, lang, n_chars FROM documents
  UNION ALL SELECT 'jsonl' AS fmt, lang, n_chars FROM documents
  UNION ALL SELECT 'orc' AS fmt, lang, n_chars FROM documents
)
SELECT fmt, lang, count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars
FROM tagged
GROUP BY fmt, lang
ORDER BY fmt, lang
"""
)
def federated_format_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-format federation: ONE query unions the same logical
    table from parquet, JSONL, and ORC (each tagged with its format)
    and aggregates across them — the lake reality where history lives
    in one format and fresh data in another. Each leg keeps its own
    pushdown/pruning; unionByName reconciles by column name. The
    oracle triples the parquet original, proving all three scans are
    byte-equivalent."""
    from youtube_etl_automated_pipeline_spark.sources import load_table

    pq = load_table(spark, sf_dir, "documents")
    jl = read_jsonl(
        spark, materialize_format(spark, sf_dir, "documents", "jsonl"), DOCUMENTS_SCHEMA
    )
    oc = read_orc(spark, materialize_format(spark, sf_dir, "documents", "orc"))
    tagged = (
        pq.withColumn("fmt", F.lit("parquet"))
        .unionByName(jl.withColumn("fmt", F.lit("jsonl")))
        .unionByName(oc.withColumn("fmt", F.lit("orc")))
    )
    return (
        tagged.groupBy("fmt", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
        )
        .orderBy("fmt", "lang")
    )


@query(
    oracle="""
SELECT doc_id % 4 AS doc_bucket,
       count(*) AS n_files,
       CAST(sum(strlen(coalesce(text, ''))) AS BIGINT) AS sum_bytes,
       CAST(sum(CAST('0x' || substr(md5(coalesce(text, '')), 1, 8) AS BIGINT))
            AS BIGINT) AS sum_hash
FROM documents
-- binaryFile SKIPS zero-byte files (no splittable content), so docs
-- whose payload is empty (null/'' text) never appear in the scan —
-- the oracle mirrors that source behavior explicitly
WHERE doc_id < 40 AND strlen(coalesce(text, '')) > 0
GROUP BY doc_bucket
ORDER BY doc_bucket
"""
)
def binaryfile_media_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The raw-asset ingest connector multimodal pipelines start from:
    spark.read.format('binaryFile') lists a directory of opaque files
    and yields (path, length, content) rows — no decode, no parse,
    content straight into a binary column (the media-table layout of
    ext/multimodal.to_media_table). Fixture: first 40 documents
    written once as individual .bin files named by doc_id; the rollup
    checksums bytes per doc_id parity, and the oracle computes the
    same from the documents table — proving the file round-trip and
    the scan are byte-faithful. At 100 TB each file is one task input
    (combinable via maxPartitionBytes); metadata-only queries
    (count, sum(length)) never even read contents. Caveat pinned by
    the null-fixture sweep: binaryFile silently SKIPS zero-byte
    files, so empty payloads never reach the scan (oracle mirrors
    with a strlen > 0 filter)."""
    import os

    from youtube_etl_automated_pipeline_spark.sources import load_table

    def build(out: str) -> None:
        os.makedirs(out)
        rows = (
            load_table(spark, sf_dir, "documents")
            .filter(F.col("doc_id") < 40)
            .select("doc_id", "text")
            .collect()  # 40 tiny fixture files; never a query path
        )
        for r in rows:
            with open(os.path.join(out, f"{r.doc_id:05d}.bin"), "wb") as f:
                f.write((r.text or "").encode("utf-8"))

    out = fixture_dir(sf_dir, "media_bin", build, ("documents",))
    files = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.bin")
        .load(out)
    )
    doc_id = F.regexp_extract(
        F.element_at(F.split(F.col("path"), "/"), -1), r"^(\d+)\.bin$", 1
    ).cast("long")
    # portable content checksum: md5-prefix-as-long (the repo-wide
    # cross-engine hash; DuckDB md5 hashes the same UTF-8 bytes)
    content_hash = F.conv(
        F.substring(F.md5(F.col("content")), 1, 8), 16, 10
    ).cast("long")
    return (
        files.select(
            (doc_id % 4).alias("doc_bucket"),
            F.col("length"),
            content_hash.alias("chash"),
        )
        .groupBy("doc_bucket")
        .agg(
            F.count(F.lit(1)).alias("n_files"),
            F.sum("length").alias("sum_bytes"),
            F.sum("chash").alias("sum_hash"),
        )
        .orderBy("doc_bucket")
    )


@query(
    oracle="""
WITH merged AS (
  SELECT event_id, event_type, NULL AS prop_k
  FROM events WHERE event_id % 2 = 0
  UNION ALL
  SELECT event_id, event_type, CAST(json_extract(props, '$.k') AS INT) AS prop_k
  FROM events WHERE event_id % 2 = 1
)
SELECT event_type, count(*) AS n_rows,
       count(prop_k) AS n_with_k,
       CAST(sum(prop_k) AS BIGINT) AS sum_k
FROM merged
GROUP BY event_type
ORDER BY event_type
"""
)
def schema_drift_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-drift union: an old extract (no event props) unioned
    with a new extract (adds prop_k) via unionByName(
    allowMissingColumns=True) — the missing column null-fills, by
    NAME not position (positional union is how silent column swaps
    happen at migration time). Rollup counts nulls per leg to prove
    the fill; oracle reproduces both legs from the events table."""
    from youtube_etl_automated_pipeline_spark.sources import load_table

    ev = load_table(spark, sf_dir, "events")
    old_extract = ev.filter(F.col("event_id") % 2 == 0).select(
        "event_id", "event_type"
    )
    new_extract = ev.filter(F.col("event_id") % 2 == 1).select(
        "event_id",
        "event_type",
        F.from_json("props", "k int")["k"].alias("prop_k"),
    )
    merged = old_extract.unionByName(new_extract, allowMissingColumns=True)
    return (
        merged.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count("prop_k").alias("n_with_k"),
            F.sum("prop_k").alias("sum_k"),
        )
        .orderBy("event_type")
    )


@query(oracle=_ROLLUP_SQL)
def xml_documents_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 NATIVE XML source: documents re-materialized as XML
    (<doc> row tag), scanned back with an explicit schema and rolled
    up over every column. The oracle runs on the original parquet, so
    equality proves the XML round-trip (element escaping, whitespace
    preservation via ignoreSurroundingSpaces=false, empty-vs-null) is
    content-lossless. Completes the format-federation matrix:
    parquet + JSONL + ORC + binaryFile + XML."""
    from youtube_etl_automated_pipeline_spark.sources import (
        materialize_format,
        read_xml,
    )

    path = materialize_format(spark, sf_dir, "documents", "xml")
    docs = read_xml(
        spark, path, DOCUMENTS_SCHEMA
    )
    return _doc_rollup(docs)


@query(
    oracle="""
SELECT event_type,
       count(*) AS n_events,
       min(event_id) AS min_event,
       max(event_id) AS max_event,
       CAST(sum(user_id) AS BIGINT) AS sum_users,
       CAST(sum(CAST(round(value * 100.0) AS BIGINT)) AS BIGINT) AS value_cents
FROM events
GROUP BY event_type
ORDER BY event_type
"""
)
def api_sink_roundtrip_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Python Data Source WRITE path as an ORACLE-VISIBLE query:
    events published through the api_batch_sink connector (two-phase
    commit, 500-rows-per-request batching — the reference's sheet
    write-back contract), then the published JSONL is scanned back and
    rolled up. The oracle computes the same rollup from the raw
    parquet, so equality proves the sink publishes every row exactly
    once (commit-protocol atomicity visible to the correctness gate).
    Protocol semantics (manifest accounting, overwrite, abort) are
    asserted in tests/test_api_sink.py."""
    import os

    from youtube_etl_automated_pipeline_spark.sources import load_table as _lt
    from youtube_etl_automated_pipeline_spark.sources.api_sink import (
        register as _register_sink,
    )

    _register_sink(spark)
    target = scratch_dir("events.apisink", input_digest(sf_dir))
    os.makedirs(target, exist_ok=True)
    ev = _lt(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    ev.write.format("api_batch_sink").mode("overwrite").save(target)
    back = spark.read.schema(
        "event_id bigint, user_id bigint, event_type string, value double"
    ).json(os.path.join(target, "*.jsonl"))
    return (
        back.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("event_id").alias("min_event"),
            F.max("event_id").alias("max_event"),
            F.sum(F.col("user_id")).alias("sum_users"),
            F.sum(F.expr("CAST(round(value * 100.0) AS BIGINT)")).alias(
                "value_cents"
            ),
        )
        .orderBy("event_type")
    )


@query(oracle=_ROLLUP_SQL)
def csv_documents_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV round-trip gate: documents written as quoted CSV (text
    bodies contain commas/quotes/newlines-as-escapes) and scanned back
    with an explicit schema + multiLine. Oracle on the parquet
    original — the every-column rollup catches any quoting or
    type-coercion loss. At 100 TB: multiLine CSV is NOT splittable
    (one task per file) — this gate documents the cost; columnar
    formats remain the recommended interchange."""
    from youtube_etl_automated_pipeline_spark.sources import load_table

    def build(out: str) -> None:
        load_table(spark, sf_dir, "documents").write.option(
            "header", True
        ).option("quoteAll", True).option("escape", '"').csv(out)

    out = fixture_dir(sf_dir, "documents.csvdir", build, ("documents",))
    docs = (
        spark.read.schema(DOCUMENTS_SCHEMA)
        .option("header", True)
        .option("multiLine", True)
        .option("escape", '"')
        .csv(out)
    )
    return _doc_rollup(docs)


# Oracle on the ORIGINAL table: pre-evolution rows (even keys) AND
# new rows whose priority is genuinely NULL both land under the
# sentinel — exactly what coalesce sees after mergeSchema's null-fill.
@query(
    oracle="""
SELECT CASE WHEN o_orderkey % 2 = 0 THEN '<pre-evolution>'
            ELSE coalesce(o_orderpriority, '<pre-evolution>') END AS priority,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(CAST(floor(o_totalprice * 1e2 + 0.5) AS BIGINT)) AS BIGINT)
         AS revenue_cents
FROM orders
GROUP BY 1
ORDER BY 1
"""
)
def parquet_schema_evolution_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet SCHEMA EVOLUTION via mergeSchema: an old extract
    written WITHOUT o_orderpriority sits in the same logical table as
    a new extract WITH it; reading both with mergeSchema=true
    null-fills the missing column per FILE footer (the lakehouse
    add-a-column migration, complementing schema_drift_union's
    in-memory unionByName case). The rollup buckets pre-evolution
    rows (and genuinely-null new rows — indistinguishable after the
    merge, and the oracle mirrors that) under one sentinel.

    Scale shape: mergeSchema's footer reconciliation is a
    driver-side metadata pass over file schemas (at 100 TB: bounded
    by file count, mitigated by a catalog/table format); the scan
    and rollup are ordinary pushdown + partial agg. The oracle runs
    on the ORIGINAL orders view with the same batch split, so
    equality proves the two-footer round-trip is lossless.
    """
    import os as _os

    from youtube_etl_automated_pipeline_spark.sources import load_table

    def build(root: str) -> None:
        orders = load_table(spark, sf_dir, "orders")
        orders.filter(F.col("o_orderkey") % 2 == 0).select(
            "o_orderkey", "o_totalprice"
        ).write.parquet(_os.path.join(root, "v0"))
        orders.filter(F.col("o_orderkey") % 2 == 1).select(
            "o_orderkey", "o_totalprice", "o_orderpriority"
        ).write.parquet(_os.path.join(root, "v1"))

    root = fixture_dir(sf_dir, "orders_evolution", build, ("orders",))
    old_dir = _os.path.join(root, "v0")
    new_dir = _os.path.join(root, "v1")
    merged = (
        spark.read.option("mergeSchema", "true").parquet(old_dir, new_dir)
    )
    return (
        merged.groupBy(
            F.coalesce(F.col("o_orderpriority"), F.lit("<pre-evolution>"))
            .alias("priority")
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(
                F.expr("CAST(floor(o_totalprice * 1e2 + 0.5) AS BIGINT)")
            ).alias("revenue_cents"),
        )
        .orderBy("priority")
    )


# Two lifecycle families —
# a leakage-safe corpus split and a storage-maintenance planner — each
# with a DuckDB oracle twin.
#
# - ``leakage_safe_split`` — train/val/test assignment keyed by the
#   NEAR-DUP CLUSTER, not the document: if two near-duplicate docs land
#   on opposite sides of a train/test split, the eval set is
#   contaminated no matter how good the dedup report looks (the
#   benchmark-leakage failure mode decontamination papers warn about —
#   split-then-dedup is not dedup-then-split). Every doc inherits its
#   LSH-connected-component id (singletons are their own cluster) and
#   the md5 bucket of the CLUSTER id decides the split, so a whole
#   duplicate group always moves together. Cross-split cluster
#   integrity is contract-tested.
# - ``compaction_bin_packing`` — the small-files maintenance planner:
#   per-file row counts (via the ``_metadata`` hidden column — file
#   identity without a filesystem listing) packed into target-sized
#   compaction bins by size-descending prefix sum. At 100 TB the
#   small-files problem is a scan-latency tax (every file opens a
#   reader, footers dominate under ~32 MB); the planner emits which
#   files merge into which output bin — the plan a compaction job
#   executes. The bin rule (cumulative rows DIV target) is one window
#   over the FILE relation, bounded by file count, never rows.
#
# The reference has no analogue for either (SURVEY §0); they extend
# the corpus-lifecycle surface of the engine's LLM-data mandate.
#
# Cross-engine exactness: md5-bucket splits and integer row counts
# only; the file relation joins Spark's ``_metadata.file_path`` to
# DuckDB's ``filename=true`` via basename extraction.

# compaction: target rows per merged output file and the tables the
# planner sweeps (the big fact tables where small files accumulate)
COMPACT_TARGET_ROWS = 1_000_000
COMPACT_TABLES = ("orders", "lineitem", "events")


def file_census(spark: SparkSession, paths: dict[str, str]) -> DataFrame:
    """Per-file row counts for each (table, parquet path): the
    ``_metadata.file_path`` hidden column makes file identity a plain
    grouping key — map-side combinable, no driver file listing. Only
    the metadata column is projected, so no data column is decoded."""
    per_table = []
    for t, path in paths.items():
        raw = spark.read.parquet(path)
        per_table.append(
            raw.select(
                F.lit(t).alias("table_name"),
                F.element_at(
                    F.split(F.col("_metadata.file_path"), "/"), -1
                ).alias("file_name"),
            )
            .groupBy("table_name", "file_name")
            .agg(F.count(F.lit(1)).alias("n_rows"))
        )
    files = per_table[0]
    for p in per_table[1:]:
        files = files.unionByName(p)
    return files


def compaction_plan(files: DataFrame, target_rows: int) -> DataFrame:
    """Pack a (table_name, file_name, n_rows) file census into
    ``target_rows``-sized merge bins, size-descending, PER TABLE
    (files never merge across tables). Bin id = (running row total −
    own rows) DIV target — the deterministic next-fit-by-prefix-sum
    rule. The DIV rule caps each bin's START offset, not its total:
    a bin can exceed ``target_rows`` by up to its last file's rows
    (e.g. files [900, 800] at target 1000 share bin 0 with 1700
    rows), and a file larger than the target still gets a bin of its
    own because its start offset alone fills a full DIV stride. The
    overshoot bound is acceptable for merge planning (output files
    land in [target, 2*target)); consumers needing a hard cap should
    post-split oversized bins. One window over the file relation, which is bounded
    by file count (10^4-10^5 entries for a 100 TB table — listing
    scale, never data scale)."""
    return files.select(
        "table_name",
        "file_name",
        "n_rows",
        F.expr(
            "CAST((sum(n_rows) OVER (PARTITION BY table_name"
            " ORDER BY n_rows DESC, file_name ASC"
            " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_rows)"
            f" DIV {target_rows} AS BIGINT)"
        ).alias("bin_id"),
    )


ORACLE_COMPACTION = f"""
WITH files AS (
  {" UNION ALL ".join(
    f"SELECT '{t}' AS table_name, '{t}.parquet' AS file_name,"
    f" count(*) AS n_rows FROM {t}"
    for t in COMPACT_TABLES
  )}
)
SELECT table_name, file_name, CAST(n_rows AS BIGINT) AS n_rows,
       CAST((sum(n_rows) OVER (PARTITION BY table_name
             ORDER BY n_rows DESC, file_name ASC
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_rows)
            // {COMPACT_TARGET_ROWS} AS BIGINT) AS bin_id
FROM files ORDER BY table_name, file_name
"""


@query(oracle=ORACLE_COMPACTION)
def compaction_bin_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compaction MAINTENANCE plan over the swept fact tables: which
    parquet files merge into which target-sized output bin.

    Gate-layout note: the driver testdata ships each table as ONE
    parquet file (TESTDATA.md), so the oracle pins the file relation
    as (table, '<table>.parquet', count(*)) over the registered
    views; the Spark side computes the same census from the real
    ``_metadata`` column and generalizes to many files per table —
    the multi-file packing path is exercised by
    ``tests/test_sources.py`` on a multi-file fixture.
    """
    base = sf_dir.rstrip("/")
    files = file_census(
        spark, {t: f"{base}/{t}.parquet" for t in COMPACT_TABLES}
    )
    return compaction_plan(files, COMPACT_TARGET_ROWS)
