"""Sinks (SURVEY.md section 2.2 K1-K5) and the E3 flush lifecycle.

The reference's durable-sink flow (ingestdatainbigquery.py:49-136):
append the staging frame into BigQuery (WRITE_APPEND / WRITE_EMPTY by
table existence, :53-76), window-dedup the table with ROW_NUMBER SQL
and swap it in place (:84-96), then truncate staging keeping the
header (:103-112). Re-expressed over parquet table directories:

- K4  append_table      - mode('append') / create on first write
- A6  dedup_table_swap  - the same ROW_NUMBER keep-last over
                          ``table ∪ staged``, written to a temp dir and
                          atomically swapped
- K5  truncate_staging  - overwrite with the empty (limit 0) frame,
                          schema preserved from a parquet footer
- E3  flush             - one merge rewrite, then the truncate

Scale notes: the reference appends and then rewrites the whole table,
so every staged row is written twice. Here ``flush`` hands the staged
frame to the dedup rewrite instead of appending it first: one pass
writes the merged table (append + dedup fused), the dedup shuffles once
on the key (window, not dropDuplicates — SURVEY section 4 note on
keep-last), and the swap keeps readers consistent (a table format with
MERGE — Delta/Iceberg — replaces the swap at production scale). The
flush reads the staging schema and row count from parquet footers on
the driver and reads the table with that schema, so no Spark job infers
a schema or probes for emptiness.
"""

from __future__ import annotations

import json
import os
import shutil
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from youtube_etl_automated_pipeline_spark.operators.dedup import keep_last

# footer key under which Spark's parquet writer stores the table schema
_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


def append_table(df: DataFrame, path: str) -> None:
    """K4: existence-dependent append (the reference probes the table
    to pick WRITE_APPEND vs WRITE_EMPTY, ingestdatainbigquery.py:53-57;
    parquet's append mode subsumes both)."""
    df.write.mode("append").parquet(path)


def overwrite_table(df: DataFrame, path: str) -> None:
    """K1: full overwrite (clear + rewrite, dataingestion1.py:173-174).
    Routed through a temp dir so a failure mid-write never leaves a
    half-table (the reference's clear()-then-write has that hole)."""
    tmp = path + ".inprogress"
    df.write.mode("overwrite").parquet(tmp)
    if os.path.exists(path):
        shutil.rmtree(path)
    os.replace(tmp, path)


def _data_files(path: str) -> list[str]:
    """The parquet data files of a flat table directory, as the sinks
    write it."""
    return [os.path.join(path, n) for n in sorted(os.listdir(path)) if n.endswith(".parquet")]


def _table_schema(path: str) -> StructType | None:
    """The Spark schema the first parquet footer of ``path`` records
    (Spark's writer stores it under _SPARK_SCHEMA_KEY; other writers get
    the arrow mapping), read on the driver; None if no data file exists.
    Every file of a sink table comes from one write, so one footer
    speaks for all."""
    import pyarrow.parquet as pq

    files = _data_files(path)
    if not files:
        return None
    footer = pq.read_metadata(files[0])
    meta = footer.metadata or {}
    if _SPARK_SCHEMA_KEY in meta:
        return StructType.fromJson(json.loads(meta[_SPARK_SCHEMA_KEY]))
    from pyspark.sql.pandas.types import from_arrow_schema

    return from_arrow_schema(footer.schema.to_arrow_schema())


def _check_table_schema(path: str, schema: StructType) -> None:
    """Raise unless the table at ``path`` has ``schema``'s columns and
    types: reading it with a foreign schema would silently drop its
    extra columns and null the missing ones."""
    table = _table_schema(path)
    if table is None:
        return

    def shape(s: StructType) -> dict[str, str]:
        return {f.name: f.dataType.simpleString() for f in s.fields}

    if shape(table) != shape(schema):
        raise ValueError(
            f"staged schema {schema.simpleString()} does not match table {path} "
            f"schema {table.simpleString()}"
        )


def dedup_table_swap(
    spark: SparkSession,
    path: str,
    staged: DataFrame,
    keys: Sequence[str],
    order: Sequence[str],
) -> DataFrame:
    """A6/W1: the reference's BigQuery dedup
    (``ROW_NUMBER() OVER (PARTITION BY video_id ORDER BY ...) ...
    WHERE row_num = 1`` + table swap, ingestdatainbigquery.py:84-96),
    over ``table ∪ staged``: the append and the dedup in one write,
    keeping the last row per ``keys`` by ``order``. The one keep-last
    merge of the package: the flush, the streaming upsert and the CDC
    merge all rewrite through it. Returns the frame it wrote.

    The table may not exist yet. When it does, it is read with the
    staged frame's schema after a footer check that the two agree, so
    no second schema inference runs and a mismatch raises before
    anything is written.

    The reference orders by CURRENT_TIMESTAMP() — a constant, i.e.
    arbitrary-row-per-key. We demand a real ``order`` for determinism.
    """
    if os.path.exists(path):
        _check_table_schema(path, staged.schema)
        table = spark.read.schema(staged.schema).parquet(path).unionByName(staged)
    else:
        table = staged
    deduped = keep_last(table, list(keys), list(order))
    overwrite_table(deduped, path)
    return deduped


def truncate_staging(spark: SparkSession, path: str) -> None:
    """K5: clear the staging table but keep its schema (the reference
    re-appends the header row after clear(), :103-112). The schema
    comes from a parquet footer, so no inference pass runs."""
    schema = _table_schema(path)
    if schema is None:
        raise ValueError(f"staging {path} holds no parquet file to take a schema from")
    overwrite_table(spark.read.schema(schema).parquet(path).limit(0), path)


def flush(
    spark: SparkSession,
    staging_path: str,
    table_path: str,
    key: str,
    order_col: str,
) -> None:
    """E3: staging -> one keep-last rewrite of ``table ∪ staging`` ->
    staging truncate (ingestdatainbigquery.py:115-136). Empty staging
    short-circuits (P9, :119-121) and leaves the table untouched.

    The reference appends staging into the table and then dedups the
    whole table; here the staged frame goes straight into the dedup
    rewrite (``dedup_table_swap``), so the staged rows are written once
    and a staging/table schema mismatch raises before anything is
    written. The staging schema and row count come from its parquet
    footers, so neither schema inference nor an emptiness probe runs a
    Spark job: the flush runs the rewrite and the truncate only.
    """
    import pyarrow.parquet as pq

    if not sum(pq.read_metadata(f).num_rows for f in _data_files(staging_path)):
        return
    staging = spark.read.schema(_table_schema(staging_path)).parquet(staging_path)
    dedup_table_swap(spark, table_path, staging, [key], [order_col])
    truncate_staging(spark, staging_path)


def write_snapshot(df: DataFrame, table_dir: str) -> int:
    """Versioned snapshot write (time travel): every write lands in a
    fresh ``v<N>`` directory and a ``_CURRENT`` pointer file is swapped
    atomically (write-temp + os.replace) — readers never see a partial
    table, historical versions stay readable until vacuumed, and a
    crashed write leaves at most an orphaned version dir, never a
    corrupt pointer. The poor-man's Delta/Iceberg commit protocol; on
    a real cluster the pointer swap becomes the table format's
    metadata commit, semantics identical. Returns the new version."""
    os.makedirs(table_dir, exist_ok=True)
    version = max(snapshot_versions(table_dir), default=0) + 1
    vdir = os.path.join(table_dir, f"v{version}")
    df.write.mode("overwrite").parquet(vdir)
    tmp = os.path.join(table_dir, "_CURRENT.tmp")
    with open(tmp, "w") as f:
        f.write(str(version))
    os.replace(tmp, os.path.join(table_dir, "_CURRENT"))
    return version


def snapshot_versions(table_dir: str) -> list[int]:
    if not os.path.isdir(table_dir):
        return []
    return sorted(
        int(d[1:])
        for d in os.listdir(table_dir)
        if d.startswith("v") and d[1:].isdigit()
    )


def current_snapshot_version(table_dir: str) -> int:
    with open(os.path.join(table_dir, "_CURRENT")) as f:
        return int(f.read().strip())


def read_snapshot(
    spark: SparkSession, table_dir: str, version: int | None = None
) -> DataFrame:
    """Read the current snapshot, or time-travel to ``version``."""
    v = current_snapshot_version(table_dir) if version is None else version
    return spark.read.parquet(os.path.join(table_dir, f"v{v}"))


def vacuum_snapshots(table_dir: str, keep: int = 2) -> list[int]:
    """Drop all but the newest ``keep`` versions (the current version
    is always retained). Returns the versions removed."""
    current = current_snapshot_version(table_dir)
    versions = snapshot_versions(table_dir)
    doomed = [v for v in versions[:-keep] if v != current] if keep > 0 else []
    for v in doomed:
        shutil.rmtree(os.path.join(table_dir, f"v{v}"))
    return doomed


def compact_table(
    spark: SparkSession, path: str, target_file_bytes: int = 128 * 1024 * 1024
) -> tuple[int, int]:
    """Small-file compaction: rewrite the table into files sized near
    ``target_file_bytes``, atomically swapped in.

    The 100 TB operational story: streaming/incremental appends leave
    thousands of KB-scale files per partition; every later scan pays
    per-file open/footer costs and the driver pays listing. Periodic
    compaction restores scan efficiency. The rewrite uses coalesce()
    (narrow, no shuffle — it only glues existing partitions), so the
    cost is one read+write pass of the data. On a cluster with a
    clustered table, swap coalesce for repartitionByRange(sort_key) to
    restore clustering at the same time (one shuffle, still one pass).

    Returns (files_before, files_after).
    """
    files_before = [
        os.path.join(path, f)
        for f in os.listdir(path)
        if f.endswith(".parquet") or f.endswith(".snappy.parquet")
    ]
    total_bytes = sum(os.path.getsize(f) for f in files_before)
    n_out = max(1, -(-total_bytes // target_file_bytes))  # ceil div
    overwrite_table(spark.read.parquet(path).coalesce(int(n_out)), path)
    files_after = [f for f in os.listdir(path) if f.endswith(".parquet")]
    return len(files_before), len(files_after)


def overwrite_partitions(df: DataFrame, path: str, partition_col: str) -> None:
    """Dynamic partition overwrite: replace ONLY the partitions present
    in ``df``, leaving all other partitions of the table untouched —
    the idempotent-backfill primitive (re-running a day's job rewrites
    that day, never truncating the table, unlike static overwrite
    which would drop every other partition).

    Scale note: each task writes only its partition's files; the
    commit replaces matching partition dirs. Combined with partition
    pruning on reads this is the standard date-partitioned-fact
    maintenance loop.
    """
    spark = df.sparkSession
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        df.write.mode("overwrite").partitionBy(partition_col).parquet(path)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)


def write_bucketed(
    df: DataFrame, table: str, key: str, n_buckets: int = 8
) -> None:
    """Bucketed managed table (hash-bucketed + sorted by the join
    key). Two tables bucketed the same way join with NO shuffle on
    either side — the 100 TB co-located-join strategy (the shuffle is
    paid once at write time, amortized over every later join).
    Verified by tests/test_bucketing.py."""
    spark = df.sparkSession
    if not spark.catalog.tableExists(table):
        # the in-memory catalog forgets tables across sessions but the
        # warehouse directory persists; clear an orphaned location
        loc = os.path.join(
            spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:"), table
        )
        if os.path.exists(loc):
            shutil.rmtree(loc)
    (
        df.write.bucketBy(n_buckets, key)
        .sortBy(key)
        .mode("overwrite")
        .saveAsTable(table)
    )
