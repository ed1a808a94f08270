"""E3 flush lifecycle: one keep-last merge rewrite -> truncate staging,
with its job budget."""

from __future__ import annotations

import contextlib
import os

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE
from youtube_etl_automated_pipeline_spark import sinks
from youtube_etl_automated_pipeline_spark.sources import load_table


def test_flush_lifecycle(spark, tmp_path):
    staging = str(tmp_path / "staging")
    table = str(tmp_path / "table")

    cust = load_table(spark, SF_SMOKE, "customer").limit(100)
    batch1 = cust.withColumn("_seq", F.lit(1))
    batch1.write.parquet(staging)

    sinks.flush(spark, staging, table, key="c_custkey", order_col="_seq")
    assert spark.read.parquet(table).count() == 100
    # staging truncated, schema preserved
    st = spark.read.parquet(staging)
    assert st.count() == 0
    assert set(st.columns) == set(batch1.columns)

    # second flush with overlapping keys: keep-last wins
    batch2 = cust.limit(40).withColumn("_seq", F.lit(2)).withColumn(
        "c_name", F.lit("UPDATED")
    )
    sinks.overwrite_table(batch2, staging)
    sinks.flush(spark, staging, table, key="c_custkey", order_col="_seq")

    out = spark.read.parquet(table)
    assert out.count() == 100
    assert out.select("c_custkey").distinct().count() == 100
    assert out.filter(F.col("c_name") == "UPDATED").count() == 40

    # empty staging short-circuits (P9): table untouched
    sinks.flush(spark, staging, table, key="c_custkey", order_col="_seq")
    assert spark.read.parquet(table).count() == 100


@contextlib.contextmanager
def _jobs(spark, group):
    """Collect the ids of the Spark jobs run inside the block."""
    sc = spark.sparkContext
    ids: list[int] = []
    sc.setJobGroup(group, group)
    try:
        yield ids
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        ids.extend(sc.statusTracker().getJobIdsForGroup(group))


def _listing(path):
    return {n: os.stat(os.path.join(path, n)).st_mtime_ns for n in os.listdir(path)}


def test_flush_job_budget(spark, tmp_path):
    """A non-empty flush writes the staged rows once: the merge rewrite
    (shuffle + write) and the truncate; staging schema and emptiness
    come from parquet footers. An empty one leaves the table alone."""
    staging = str(tmp_path / "staging")
    table = str(tmp_path / "table")
    cust = load_table(spark, SF_SMOKE, "customer").limit(100)
    for seq in (1, 2):  # first flush creates the table, second merges
        sinks.overwrite_table(cust.limit(60 * seq).withColumn("_seq", F.lit(seq)), staging)
        with _jobs(spark, f"flush_budget_{seq}") as ids:
            sinks.flush(spark, staging, table, key="c_custkey", order_col="_seq")
        assert len(ids) <= 3, ids
    assert spark.read.parquet(table).count() == 100

    before = _listing(table)
    with _jobs(spark, "flush_budget_empty") as ids:
        sinks.flush(spark, staging, table, key="c_custkey", order_col="_seq")
    assert not ids, ids
    assert _listing(table) == before


def test_pipeline_staging_write_and_build_job_budget(spark, tmp_path):
    """The config dims cost no exchange or broadcast: a warm
    pipeline_e2e build runs only the channels-dim collect, and one
    staging write of the wide fact runs at most 4 jobs."""
    from youtube_etl_automated_pipeline_spark.plans.queries_pipeline import (
        pipeline_e2e,
    )

    pipeline_e2e(spark, SF_SMOKE)  # prime scans and schemas
    with _jobs(spark, "pipeline_build_budget") as ids:
        wide = pipeline_e2e(spark, SF_SMOKE)
    assert len(ids) <= 2, ids
    with _jobs(spark, "pipeline_staging_budget") as ids:
        sinks.overwrite_table(wide.withColumn("flush_seq", F.lit(1)), str(tmp_path / "staging"))
    assert len(ids) <= 4, ids


@pytest.mark.parametrize("change", ["extra", "missing", "retyped", "upsert_batch"])
def test_flush_schema_mismatch_raises(spark, tmp_path, change):
    """Reading the table with a foreign staged schema would silently
    drop or null columns: the flush, and a streaming upsert batch
    against its state table, must refuse, before writing."""
    staging = str(tmp_path / "staging")
    table = str(tmp_path / "table")
    cust = load_table(spark, SF_SMOKE, "customer").limit(20).withColumn("_seq", F.lit(1))
    retyped = cust.withColumn("c_acctbal", F.col("c_acctbal").cast("string"))
    if change == "upsert_batch":
        from youtube_etl_automated_pipeline_spark.streaming.incremental import (
            foreach_batch_upsert,
        )

        upsert = foreach_batch_upsert(table, ["c_custkey"], ["_seq"])
        upsert(cust, 0)
        before = _listing(table)
        with pytest.raises(ValueError, match="does not match table"):
            upsert(retyped, 1)
        assert _listing(table) == before
        return
    cust.write.parquet(staging)
    sinks.flush(spark, staging, table, key="c_custkey", order_col="_seq")

    staged = {
        "extra": cust.withColumn("bonus", F.lit(1)),
        "missing": cust.drop("c_name"),
        "retyped": retyped,
    }[change]
    sinks.overwrite_table(staged, staging)
    before = _listing(table)
    with pytest.raises(ValueError, match="does not match table"):
        sinks.flush(spark, staging, table, key="c_custkey", order_col="_seq")
    assert _listing(table) == before
    assert spark.read.parquet(staging).count() == 20  # staging kept for a retry


def test_approx_distinct_error_envelope(spark):
    from youtube_etl_automated_pipeline_spark.plans.queries_sql import (
        approx_distinct_customers,
    )

    for r in approx_distinct_customers(spark, SF_SMOKE).collect():
        assert abs(r["approx_custs"] - r["exact_custs"]) <= max(
            0.05 * r["exact_custs"], 2
        )


def test_full_dag_pipeline_to_warehouse(spark, tmp_path):
    """The reference's complete DAG including task 7: wide-fact chain
    (E1) -> all-string sanitized sink projection (F8/F9) -> staging ->
    warehouse flush with window dedup (E3). One row per video_id
    survives; re-flushing restated data overwrites keep-last."""
    from youtube_etl_automated_pipeline_spark.pipeline import to_sink_projection
    from youtube_etl_automated_pipeline_spark.plans.queries_pipeline import (
        pipeline_e2e,
    )

    staging = str(tmp_path / "staging")
    warehouse = str(tmp_path / "warehouse")

    wide = pipeline_e2e(spark, SF_SMOKE)
    sinkable = to_sink_projection(wide).withColumn("_seq", F.lit(1))
    # every column stringly-typed with warehouse-safe names (F8/F9)
    for f in sinkable.schema.fields:
        if f.name != "_seq":
            assert f.dataType.simpleString() == "string"
            assert all(c.isalnum() or c == "_" for c in f.name), f.name

    sinkable.write.parquet(staging)
    sinks.flush(spark, staging, warehouse, key="video_id", order_col="_seq")

    wh = spark.read.parquet(warehouse)
    n = wide.count()
    assert wh.count() == n
    assert wh.select("video_id").distinct().count() == n

    # restated re-flush: 10 videos restated -> keep-last wins, count stable
    restated = (
        spark.read.parquet(warehouse)
        .limit(10)
        .withColumn("title", F.lit("RESTATED"))
        .withColumn("_seq", F.lit(2))
    )
    sinks.overwrite_table(restated, staging)
    sinks.flush(spark, staging, warehouse, key="video_id", order_col="_seq")
    wh2 = spark.read.parquet(warehouse)
    assert wh2.count() == n
    assert wh2.filter(F.col("title") == "RESTATED").count() == 10


def test_snapshot_time_travel(spark, tmp_path):
    """Versioned snapshot writes: atomic pointer swap, as-of reads,
    vacuum retains the current version."""
    table = str(tmp_path / "versioned")
    cust = load_table(spark, SF_SMOKE, "customer").limit(50)

    v1 = sinks.write_snapshot(cust, table)
    v2 = sinks.write_snapshot(cust.withColumn("c_name", F.lit("V2")), table)
    v3 = sinks.write_snapshot(cust.limit(10), table)
    assert (v1, v2, v3) == (1, 2, 3)

    assert sinks.current_snapshot_version(table) == 3
    assert sinks.read_snapshot(spark, table).count() == 10
    # time travel
    assert sinks.read_snapshot(spark, table, version=1).count() == 50
    v2_df = sinks.read_snapshot(spark, table, version=2)
    assert v2_df.filter(F.col("c_name") == "V2").count() == 50

    removed = sinks.vacuum_snapshots(table, keep=2)
    assert removed == [1]
    assert sinks.snapshot_versions(table) == [2, 3]
    assert sinks.read_snapshot(spark, table).count() == 10


def test_aggstate_partials_idempotent_and_compact(spark, tmp_path):
    """Log-structured incremental aggregates: a re-applied batch (the
    foreachBatch retry case) cannot double-count; compaction preserves
    the view."""
    from pyspark.sql import functions as SF

    from youtube_etl_automated_pipeline_spark.streaming import aggstate

    state = str(tmp_path / "aggstate")
    ev = load_table(spark, SF_SMOKE, "events").select("event_id", "event_type", "value")
    measures = {"n_events": SF.count(SF.lit(1)), "sum_ids": SF.sum("event_id")}

    b0 = ev.filter(SF.col("event_id") % 2 == 0)
    b1 = ev.filter(SF.col("event_id") % 2 == 1)
    aggstate.write_batch_partials(b0, state, 0, ["event_type"], measures)
    aggstate.write_batch_partials(b1, state, 1, ["event_type"], measures)
    # retry of batch 1: same directory overwritten, no double count
    aggstate.write_batch_partials(b1, state, 1, ["event_type"], measures)

    expected = {
        (r["event_type"], r["n_events"], r["sum_ids"])
        for r in ev.groupBy("event_type")
        .agg(measures["n_events"].alias("n_events"), measures["sum_ids"].alias("sum_ids"))
        .collect()
    }
    view = {
        (r["event_type"], r["n_events"], r["sum_ids"])
        for r in aggstate.read_view(spark, state, ["event_type"]).collect()
    }
    assert view == expected

    aggstate.compact(spark, state, ["event_type"])
    import os

    assert os.path.isdir(os.path.join(state, "base"))
    assert not any(d.startswith("batch=") for d in os.listdir(state))
    after = {
        (r["event_type"], r["n_events"], r["sum_ids"])
        for r in aggstate.read_view(spark, state, ["event_type"]).collect()
    }
    assert after == expected


def test_compact_table_reduces_files_preserves_content(spark, tmp_path):
    """Compaction glues small files into target-sized ones without
    changing a single row (content checked via an order-insensitive
    aggregate fingerprint)."""
    import os

    path = str(tmp_path / "frag")
    ev = load_table(spark, SF_SMOKE, "events")
    ev.repartition(64).write.parquet(path)
    n_small = len([f for f in os.listdir(path) if f.endswith(".parquet")])
    assert n_small >= 32

    def fingerprint(df):
        return df.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.hash("event_id", "user_id", "event_type")).alias("h"),
        ).first()

    before = fingerprint(spark.read.parquet(path))
    n_before, n_after = sinks.compact_table(spark, path, target_file_bytes=1 << 30)
    assert n_before == n_small
    assert n_after == 1
    after = fingerprint(spark.read.parquet(path))
    assert (before.n, before.h) == (after.n, after.h)


def test_dynamic_partition_overwrite_touches_only_written_partitions(spark, tmp_path):
    """Re-writing one event_type partition leaves the others intact;
    static overwrite would have truncated them."""
    path = str(tmp_path / "parts")
    ev = load_table(spark, SF_SMOKE, "events").select(
        "event_id", "user_id", "value", "event_type"
    )
    ev.write.partitionBy("event_type").parquet(path)
    total = spark.read.parquet(path).count()
    n_click = spark.read.parquet(path).filter(F.col("event_type") == "click").count()
    assert 0 < n_click < total

    patched = (
        ev.filter(F.col("event_type") == "click")
        .limit(10)
        .withColumn("value", F.lit(-1.0))
    )
    sinks.overwrite_partitions(patched, path, "event_type")

    out = spark.read.parquet(path)
    assert out.filter(F.col("event_type") == "click").count() == 10
    assert out.filter(F.col("event_type") != "click").count() == total - n_click
    # conf restored
    assert (
        spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
        != "dynamic"
    )


def test_approx_percentile_error_envelope(spark):
    """percentile_approx(accuracy=1000) guarantees RANK error — the
    returned value must be an actual value whose rank lies within eps
    of the target. Assert each approx quantile falls inside the exact
    value window [percentile(q - m), percentile(q + m)] (margin m =
    0.005 rank, 5x the sketch's nominal eps — sparse tails can move
    values a lot per rank, so value tolerance would be meaningless)."""
    from youtube_etl_automated_pipeline_spark.plans.queries_olap import (
        approx_percentile_stats,
    )
    from youtube_etl_automated_pipeline_spark.sources import load_table

    approx = {
        r.event_type: r for r in approx_percentile_stats(spark, SF_SMOKE).collect()
    }
    m = 0.005
    windows = {
        r.event_type: r
        for r in load_table(spark, SF_SMOKE, "events")
        .groupBy("event_type")
        .agg(
            *[
                F.expr(f"percentile(value, {q - m})").alias(f"lo_{tag}")
                for tag, q in (("p50", 0.5), ("p95", 0.95), ("p99", 0.99))
            ],
            *[
                F.expr(f"percentile(value, {min(q + m, 1.0)})").alias(f"hi_{tag}")
                for tag, q in (("p50", 0.5), ("p95", 0.95), ("p99", 0.99))
            ],
        )
        .collect()
    }
    assert set(approx) == set(windows)
    for et, a in approx.items():
        w = windows[et]
        for tag, val in (
            ("p50", a.p50_approx),
            ("p95", a.p95_approx),
            ("p99", a.p99_approx),
        ):
            assert w[f"lo_{tag}"] <= val <= w[f"hi_{tag}"], (et, tag, val)
