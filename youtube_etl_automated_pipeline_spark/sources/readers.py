"""Batch sources (SURVEY.md section 2.1).

The reference scans Google Sheets / YouTube APIs / small JSON dims
(reference: Python-pipeline/dataingestion1.py:48-101, dataingestion2.py:29-30,
dataingestion3.py:29-37). Here every source is a file source: parquet
for facts, multiLine JSON for dimension tables. Column pruning and
predicate pushdown come from Catalyst — callers just ``select``/
``filter`` and the parquet scan reads only what is needed.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from youtube_etl_automated_pipeline_spark.session import fixture_dir

TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def ensure_session_confs(spark: SparkSession) -> None:
    """Pin the runtime-settable session confs every query assumes,
    so queries behave identically on a CALLER-provided session (the
    driver builds its own) as on session.get_spark():

    - nanosAsLong: events.parquet has been generated as
      TIMESTAMP(NANOS) in some testdata builds — unreadable without
      the conf (PARQUET_TYPE_ILLEGAL); harmless when the build uses
      timestamp[us];
    - ANSI off: the reference's null-on-failure parse semantics
      (SURVEY 1.1), and Spark 4 defaults ANSI on;
    - UTC session timezone: timestamp collect/format parity with the
      DuckDB oracle.
    """
    for k, v in (
        ("spark.sql.legacy.parquet.nanosAsLong", "true"),
        ("spark.sql.ansi.enabled", "false"),
        ("spark.sql.session.timeZone", "UTC"),
    ):
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # conf not recognized in some build: keep going


# Shared-relation cache (bench mode only): the ~190-query bench
# otherwise re-reads the same parquet per query x run. With
# SPARK_GRAFT_SHARED_SCAN=1 each (session, path) relation is
# .cache()'d once and every query reads the in-memory columnar copy —
# the warm-cluster posture (hot tables resident). Correctness runs
# leave the flag unset and stay cold-scan.
_SCAN_CACHE: dict[tuple, DataFrame] = {}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one testdata parquet table (S2/S3 analog).

    ``events.ts`` arrives as TIMESTAMP directly when the testdata
    build stores timestamp[us]; when a build stores TIMESTAMP(NANOS),
    Spark reads it as a long (nanosAsLong conf in session.get_spark)
    and the dtype-guarded branch below converts to a microsecond
    timestamp with integer ``div`` (a double division would lose
    precision above 2^53 ns). Note: filters on the
    converted ``ts`` don't reach parquet row-group stats — push
    predicates on the raw long column when scanning huge event data.
    """
    ensure_session_confs(spark)
    shared = os.environ.get("SPARK_GRAFT_SHARED_SCAN") == "1"
    key = (
        spark.sparkContext.applicationId,
        os.path.join(sf_dir, f"{name}.parquet"),
        table_fingerprint(sf_dir, name),
    )
    if key in _SCAN_CACHE:
        return _SCAN_CACHE[key]
    for stale in [k for k in _SCAN_CACHE if k[:2] == key[:2]]:
        del _SCAN_CACHE[stale]
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if shared:
        df = df.cache()
    # ALWAYS memoize the analyzed DataFrame object (not just in shared
    # mode): every fresh spark.read.parquet pays a one-task schema-
    # inference job, ~190x per suite sweep. The key carries the owning
    # session's applicationId and the table's fingerprint: the plan
    # holds the file listing, so a table rewritten in place is re-read
    # and its superseded entry dropped. Only the .cache()
    # materialization stays gated on shared mode.
    _SCAN_CACHE[key] = df
    return df


def rearm_shared_cache(spark: SparkSession) -> None:
    """Re-register the shared-scan ``.cache()`` bit after an external
    ``spark.catalog.clearCache()`` (bench cold-posture de-warming,
    r08 verdict): clearCache drops CacheManager entries, so without
    this the memoized DataFrames would silently recompute UNCACHED for
    the rest of the session — breaking the documented warm posture for
    every later run. Lazy: the next action re-materializes the cache,
    which is exactly the cold-first-run cost the bench reports."""
    if os.environ.get("SPARK_GRAFT_SHARED_SCAN") != "1":
        return
    app_id = spark.sparkContext.applicationId
    for key, df in _SCAN_CACHE.items():
        if key[0] == app_id:
            try:
                df.cache()
            except Exception:
                pass


def table_fingerprint(sf_dir: str, name: str) -> tuple:
    """A cheap content-version token for one testdata table. Trained-
    model memos (_BPE_MEMO, the k-means centroid memo, memo_persist's
    fingerprint arg) fold this into their keys so a table REWRITTEN at
    the same path mid-process can never be served a stale model — the
    memo misses and retrains. Stat-only; table data is never read.

    For a parquet DIRECTORY the token is a digest over the sorted
    per-file (relative name, size, mtime_ns) triples plus the file
    count — NOT an aggregate (max mtime, total bytes), which a
    same-size file swap with preserved timestamps would collide with.
    A single file keeps the direct (mtime_ns, size) pair."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    try:
        if os.path.isdir(path):
            import hashlib

            entries = []
            for root, _dirs, files in os.walk(path):
                for f in files:
                    st = os.stat(os.path.join(root, f))
                    rel = os.path.relpath(os.path.join(root, f), path)
                    entries.append((rel, st.st_size, st.st_mtime_ns))
            entries.sort()
            digest = hashlib.md5(repr(entries).encode()).hexdigest()
            return (len(entries), digest)
        st = os.stat(path)
        return (st.st_mtime_ns, st.st_size)
    except OSError:
        return (0, 0)  # missing path: constant key, read fails loudly later


def register_views(spark: SparkSession, sf_dir: str, tables=TESTDATA_TABLES) -> None:
    """Register testdata tables as temp views for the SQL API."""
    for name in tables:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


# widen_scan decision memo: cache_key -> bool (scan needs widening).
# The probe (`df.rdd.getNumPartitions()`) forces an analysis pass and an
# RDD conversion in the JVM — cheap once, pure overhead when paid per
# query across a ~190-query suite (round-2 verdict). The answer is a
# function of the source layout only, so one probe per key suffices.
_WIDEN_MEMO: dict[str, bool] = {}


def widen_scan(df: DataFrame, cache_key: str | None = None) -> DataFrame:
    """Raise a scan's partition count to the session's parallelism when
    the source produced fewer (a single small local file -> 1 task,
    serializing CPU-heavy per-row work like hashing/sketching). At real
    scale a 100 TB scan already yields >= cores partitions, so this is
    a no-op; locally it is a ~150 KB round-robin shuffle that unlocks
    every core.

    ``cache_key`` (e.g. the source path) memoizes the partition-count
    probe so repeated scans of the same layout skip the RDD-conversion
    analysis pass entirely."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if cache_key is not None and cache_key in _WIDEN_MEMO:
        needs = _WIDEN_MEMO[cache_key]
    else:
        needs = df.rdd.getNumPartitions() < target
        if cache_key is not None:
            _WIDEN_MEMO[cache_key] = needs
    return df.repartition(target) if needs else df


def load_wide(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """``load_table`` + ``widen_scan`` with the probe memoized per
    table path — the standard entry for CPU-heavy per-row queries."""
    return widen_scan(
        load_table(spark, sf_dir, name),
        cache_key=os.path.join(sf_dir, f"{name}.parquet"),
    )


def read_jsonl(spark: SparkSession, path: str, schema) -> DataFrame:
    """Line-delimited JSON scan with a REQUIRED explicit schema.

    Schema-on-read is mandatory for JSONL at scale: without it Spark
    runs a full inference pass (a second read of 100 TB) and infers
    lossy types (ints → bigint-or-double by sample). With a schema the
    scan is single-pass, column-pruned, and malformed rows land in
    PERMISSIVE nulls instead of failing the job (the reference's
    null-on-parse-failure semantics, SURVEY 1.1).
    """
    return spark.read.schema(schema).json(path)


def read_jsonl_quarantined(
    spark: SparkSession, path: str, schema
) -> tuple[DataFrame, DataFrame]:
    """JSONL scan that ROUTES malformed rows instead of nulling them:
    returns (good, quarantine). PERMISSIVE mode captures each
    unparseable line verbatim in a corrupt-record column; the good leg
    drops it, the quarantine leg keeps only the raw line — the
    standard lake pattern for auditing upstream producers without
    failing (or silently thinning) a 100 TB ingest. Both legs are
    lazy projections of ONE scan definition; a cached read shares the
    pass when both are consumed.

    Note: Spark requires the corrupt column declared in the schema;
    it must not collide with a data column.
    """
    from pyspark.sql import types as T

    corrupt_col = "_corrupt_record"
    full_schema = T.StructType(
        list(schema.fields) + [T.StructField(corrupt_col, T.StringType())]
    )
    raw = (
        spark.read.schema(full_schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", corrupt_col)
        .json(path)
    )
    good = raw.filter(F.col(corrupt_col).isNull()).drop(corrupt_col)
    # keep the data columns (any salvaged fields) next to the raw
    # line: triage context, and it sidesteps SPARK-21610 (queries
    # referencing ONLY the corrupt column are rejected outright)
    quarantine = raw.filter(F.col(corrupt_col).isNotNull()).select(
        F.col(corrupt_col).alias("raw_line"), *[f.name for f in schema.fields]
    )
    return good, quarantine


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC scan — same columnar pushdown/pruning properties as
    parquet (Catalyst emits PushedFilters for ORC too)."""
    ensure_session_confs(spark)
    return spark.read.orc(path)


def materialize_format(
    spark: SparkSession, sf_dir: str, name: str, fmt: str
) -> str:
    """Re-materialize a testdata parquet table as ``fmt`` (jsonl/orc/xml)
    — the fixture step for format-breadth gate queries. Content is
    byte-derived from the parquet source, so a query over the
    round-tripped copy must equal the same query over the original
    (which is exactly what the DuckDB oracle checks)."""
    if fmt not in ("jsonl", "orc", "xml"):
        raise ValueError(f"unknown format {fmt!r}")

    def build(out: str) -> None:
        writer = load_table(spark, sf_dir, name).write
        if fmt == "jsonl":
            writer.json(out)
        elif fmt == "orc":
            writer.orc(out)
        else:
            # Spark 4 native XML (the spark-xml package folded into
            # core). rowTag names the per-record element.
            writer.format("xml").option("rowTag", "doc").save(out)

    return fixture_dir(sf_dir, f"{name}.{fmt}", build, (name,))


def read_xml(spark: SparkSession, path: str, schema) -> DataFrame:
    """Spark 4 native XML scan with an EXPLICIT schema — like JSONL,
    never let a 100 TB scan pay a schema-inference pre-pass. Empty
    string elements round-trip as nulls in XML (an empty <text/>
    element carries no text node), so callers that must distinguish
    '' from NULL need a sentinel; the gate rollup coalesces."""
    return (
        spark.read.format("xml")
        .option("rowTag", "doc")
        # default true TRIMS leading/trailing whitespace of element
        # text — silent content loss for whitespace-padded documents
        .option("ignoreSurroundingSpaces", "false")
        .schema(schema)
        .load(path)
    )


def load_json_dim(spark: SparkSession, path: str) -> DataFrame:
    """S5: small JSON array -> DataFrame destined for broadcast.

    Reference loads these into Python dicts (dataingestion1.py:48-59,
    dataingestion3.py:33-37) — i.e. broadcast hash maps. The caller
    applies last-wins dedup (operators.dedup.keep_last) before joining
    to reproduce dict-comprehension overwrite semantics.
    """
    return spark.read.option("multiLine", "true").json(path)


def materialize_partitioned_events(spark: SparkSession, sf_dir: str) -> str:
    """Re-materialize events as a DATE-PARTITIONED parquet layout
    (``event_date=YYYY-MM-DD/`` directories) — the fixture for the
    partition-pruning gate. At 100 TB this layout is what turns a
    date-range query from a full scan into reading a few directories;
    locally it is ~30 small partitions."""

    def build(out: str) -> None:
        df = load_table(spark, sf_dir, "events").withColumn(
            "event_date", F.to_date("ts")
        )
        df.write.partitionBy("event_date").parquet(out)

    return fixture_dir(sf_dir, "events_by_day.parquet", build, ("events",))


def materialize_zordered_orders(spark: SparkSession, sf_dir: str) -> str:
    """Re-materialize orders in z-order over (o_custkey, o_orderdate)
    — the fixture for the clustering/scan-skipping gate. At 100 TB this
    layout makes two-dimensional point/range predicates touch a handful
    of row groups (see operators/layout.py)."""
    from youtube_etl_automated_pipeline_spark.operators.layout import zorder_by

    def build(out: str) -> None:
        zorder_by(
            load_table(spark, sf_dir, "orders"),
            F.col("o_custkey"),
            F.datediff(F.col("o_orderdate"), F.lit("1992-01-01")),
            n_files=16,
        ).write.parquet(out)

    return fixture_dir(sf_dir, "orders_zorder.parquet", build, ("orders",))
