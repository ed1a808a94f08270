"""Structured Streaming paths: foreachBatch keep-last upsert state
sink and session-window invariants."""

from __future__ import annotations

import os

import pytest

from pyspark.sql import functions as F
import pyarrow.parquet as pq

from tests.conftest import SF_SMOKE
from youtube_etl_automated_pipeline_spark.sources import load_table
from youtube_etl_automated_pipeline_spark.streaming.incremental import (
    EVENTS_RAW_SCHEMA,
    run_upsert_stream,
    session_window_agg,
)
from youtube_etl_automated_pipeline_spark.plans.queries_streaming import (
    DEBOUNCE_SECONDS,
    event_debounce_dedup,
)


def test_foreach_batch_upsert_keep_last(spark, tmp_path):
    src = str(tmp_path / "src")
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")

    base = load_table(spark, SF_SMOKE, "events").limit(200)
    later = base.withColumn("ts", F.col("ts") + F.expr("INTERVAL 1 HOUR")).withColumn(
        "value", F.col("value") * 2
    )
    # duplicated keys in one source: keep-last by ts must pick `later`
    base.unionByName(later).select(
        "event_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
        "user_id",
        "event_type",
        "value",
        "props",
    ).withColumn("ts", F.expr("us * 1000")).drop("us").coalesce(1).write.parquet(src)

    stream = (
        spark.readStream.schema(EVENTS_RAW_SCHEMA)
        .parquet(src)
        .withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    )
    run_upsert_stream(stream, state, ckpt)

    out = spark.read.parquet(state)
    assert out.count() == 200
    assert out.select("event_id").distinct().count() == 200
    # every surviving row is the doubled (later) copy
    expect = {r["event_id"]: r["value"] for r in later.collect()}
    for r in out.collect():
        assert abs(r["value"] - expect[r["event_id"]]) < 1e-9

    # idempotent catch-up rerun: nothing new -> state unchanged
    run_upsert_stream(stream, state, ckpt)
    assert spark.read.parquet(state).count() == 200
    assert not os.path.exists(state + ".inprogress")

    # restart with NEW data: the checkpoint remembers processed files,
    # so the resumed query ingests only the unseen batch — 100 new
    # keys append, 100 re-ingested keys overwrite keep-last (the
    # reference's cron catch-up cycle surviving a process restart).
    newer = (
        base.withColumn("ts", F.col("ts") + F.expr("INTERVAL 2 HOURS"))
        .withColumn("value", F.col("value") * 10)
        .filter(F.col("event_id") % 2 == 0)
    )
    # guaranteed-new keys: shift ids far past any real event_id
    fresh = base.limit(100).withColumn(
        "event_id", F.col("event_id") + F.lit(10_000_000)
    )
    second = newer.unionByName(fresh)
    n_overwrites = newer.count()
    n_new = fresh.count()
    second.select(
        "event_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
        "user_id",
        "event_type",
        "value",
        "props",
    ).withColumn("ts", F.expr("us * 1000")).drop("us").coalesce(1).write.mode(
        "append"
    ).parquet(src)

    run_upsert_stream(stream, state, ckpt)
    out2 = spark.read.parquet(state)
    assert out2.count() == 200 + n_new
    assert out2.select("event_id").distinct().count() == 200 + n_new
    # overwritten keys carry the newest value (x10), untouched keys keep x2
    got = {r["event_id"]: r["value"] for r in out2.collect()}
    for r in newer.collect():
        assert abs(got[r["event_id"]] - r["value"]) < 1e-9
    assert n_overwrites > 0 and n_new > 0


def test_session_window_invariants(spark):
    sessions = session_window_agg(load_table(spark, SF_SMOKE, "events"), gap="30 minutes")
    rows = sessions.orderBy("user_id", "session_start").collect()
    assert rows
    by_user: dict[int, list] = {}
    for r in rows:
        by_user.setdefault(r["user_id"], []).append(r)
    for user_rows in by_user.values():
        for a, b in zip(user_rows, user_rows[1:]):
            # next session starts >= 30 min after the last event of the prior
            assert (b["session_start"] - a["session_last"]).total_seconds() >= 1800


def test_stateful_accumulates_across_batches(spark, tmp_path):
    from youtube_etl_automated_pipeline_spark.streaming.stateful import (
        stateful_user_stats,
    )

    src = str(tmp_path / "src")
    ev = load_table(spark, SF_SMOKE, "events").select(
        "event_id",
        (F.unix_micros(F.col("ts").cast("timestamp")) * 1000).alias("ts"),
        "user_id",
        "event_type",
        "value",
        "props",
    )
    # two files -> two micro-batches with maxFilesPerTrigger=1
    ev.filter("event_id < 500").coalesce(1).write.mode("append").parquet(src)
    ev.filter("event_id >= 500").coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema(EVENTS_RAW_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    )
    q = (
        stateful_user_stats(stream)
        .writeStream.format("memory")
        .queryName("stateful_mb")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert q.lastProgress["batchId"] >= 1  # proves >1 micro-batch ran

    updates = spark.table("stateful_mb")
    # final state per user = row with the max n_events (counts only grow)
    from youtube_etl_automated_pipeline_spark.operators.dedup import keep_first

    final = {
        r["user_id"]: r
        for r in keep_first(updates, ["user_id"], [F.col("n_events").desc()]).collect()
    }
    truth = {
        r["user_id"]: r
        for r in load_table(spark, SF_SMOKE, "events")
        .groupBy("user_id")
        .agg(F.count("*").alias("n"), F.sum("value").alias("s"))
        .collect()
    }
    assert set(final) == set(truth)
    for uid, t in truth.items():
        assert final[uid]["n_events"] == t["n"]
        assert abs(final[uid]["sum_value"] - t["s"]) < 1e-6


def test_incremental_pipeline_equals_batch(spark, tmp_path):
    """Two micro-batches (initial ingest, then restated re-ingest)
    through the full enrichment chain must produce exactly the batch
    pipeline's wide-fact table."""
    import time

    from youtube_etl_automated_pipeline_spark.plans import queries_pipeline as QP
    from youtube_etl_automated_pipeline_spark.streaming.incremental import (
        incremental_pipeline,
    )

    src = str(tmp_path / "videos")
    fact = str(tmp_path / "fact")
    ckpt = str(tmp_path / "ckpt")

    videos = QP._videos(spark, SF_SMOKE)
    videos.filter("ingest_seq = 1").coalesce(1).write.mode("append").parquet(src)
    time.sleep(1.1)  # distinct mtimes -> deterministic batch order
    videos.filter("ingest_seq = 2").coalesce(1).write.mode("append").parquet(src)

    resource_names = spark.createDataFrame(
        QP.RESOURCE_ROWS, "employee_code string, team string"
    )
    shownames = spark.createDataFrame(
        QP.SHOWNAMES_ROWS, "code string, show_name string, broadcaster string, category string"
    )
    cpm_categories = spark.createDataFrame(
        QP.CPM_ROWS, "show_name string, cpm_category string"
    )

    stream = spark.readStream.schema(
        "video_id string, title string, channel_id string,"
        " published_at string, ingest_seq int"
    ).option("maxFilesPerTrigger", 1).parquet(src)
    incremental_pipeline(
        stream,
        QP._channels(spark, SF_SMOKE),
        resource_names,
        shownames,
        cpm_categories,
        QP._analytics(spark, SF_SMOKE),
        fact,
        ckpt,
    )

    batch = QP.pipeline_e2e(spark, SF_SMOKE)
    inc = spark.read.parquet(fact).select(*batch.columns)
    a = sorted(map(tuple, inc.collect()))
    b = sorted(map(tuple, batch.collect()))
    assert len(a) == len(b) and a == b


def test_watermark_drops_late_data_in_append_mode(spark, tmp_path):
    """Append-mode + 10-min watermark: a row arriving in a later
    micro-batch for an hour-window already past the watermark must be
    DROPPED (the reference's fixed ingest window tolerates 4 days of
    lateness then never revisits — same policy, engine-managed)."""
    import time
    from datetime import datetime as DT

    from youtube_etl_automated_pipeline_spark.streaming.incremental import (
        tumbling_window_agg,
    )

    src = str(tmp_path / "src")
    sch = "event_id long, ts timestamp, event_type string, value double"

    def write_batch(rows):
        spark.createDataFrame(rows, sch).coalesce(1).write.mode("append").parquet(src)

    d = lambda h, m: DT(2024, 1, 1, h, m, 0)
    # batch 1: three rows in hour 10, two in hour 12 (advances the
    # watermark to 12:30 - 10min = 12:20 > hour-10 window end)
    write_batch([(1, d(10, 5), "x", 1.0), (2, d(10, 20), "x", 1.0),
                 (3, d(10, 40), "x", 1.0), (4, d(12, 10), "x", 1.0),
                 (5, d(12, 30), "x", 1.0)])
    time.sleep(1.1)
    # batch 2: on-time row at 13:10 — hour-10's state (end 11:00 <=
    # watermark 12:20) is emitted and EVICTED this batch
    write_batch([(6, d(13, 10), "x", 1.0)])
    time.sleep(1.1)
    # batch 3: a LATE row for the already-evicted hour-10 window ->
    # dropped by the watermark (never re-opens emitted state)
    write_batch([(7, d(10, 45), "x", 1.0)])

    stream = (
        spark.readStream.schema(sch)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    agg = tumbling_window_agg(stream, "1 hour", watermark="10 minutes")
    q = (
        agg.writeStream.format("memory")
        .queryName("wm_append")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    out = {r["window_start"].hour: r["n_events"] for r in spark.table("wm_append").collect()}
    # hour-10 window finalized with ONLY the 3 on-time rows
    assert out.get(10) == 3
    # hour-13 never finalized (watermark stops at 13:00) -> absent
    assert 13 not in out


def test_streaming_windowed_distinct_error_envelope(spark):
    """The streaming HLL per-window distinct must land within the
    configured rsd envelope of the exact batch counts (5% at
    rsd=0.02 is a generous deterministic bound for these
    cardinalities)."""
    from youtube_etl_automated_pipeline_spark.plans.queries_streaming import (
        streaming_windowed_distinct_users,
    )
    from youtube_etl_automated_pipeline_spark.sources import load_table

    approx = {
        (r.window_start, r.event_type): r.approx_users
        for r in streaming_windowed_distinct_users(spark, SF_SMOKE).collect()
    }
    exact = {
        (r.window_start, r.event_type): r.exact_users
        for r in (
            load_table(spark, SF_SMOKE, "events")
            .groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
            .agg(F.countDistinct("user_id").alias("exact_users"))
            .select(
                F.col("win.start").alias("window_start"),
                "event_type",
                "exact_users",
            )
            .collect()
        )
    }
    assert set(approx) == set(exact)
    for k, est in approx.items():
        assert abs(est - exact[k]) <= max(1, 0.05 * exact[k]), (k, est, exact[k])


def test_tws_user_peaks_or_env_gate(spark, tmp_path):
    """transformWithStateInPandas peak tracker — runs END-TO-END: the
    session wires in the vendored miniproto google.protobuf runtime
    (session.ensure_protobuf), so the state protocol works without a
    protobuf distribution. importorskip only guards truly broken
    environments."""
    pytest.importorskip("google.protobuf")
    from youtube_etl_automated_pipeline_spark.streaming.incremental import (
        read_events_stream,
        run_stream_to_memory,
    )
    from youtube_etl_automated_pipeline_spark.streaming.stateful import (
        tws_user_peaks,
    )

    stream = read_events_stream(spark, SF_SMOKE)
    out = run_stream_to_memory(
        tws_user_peaks(stream), "tws_peaks_t", output_mode="update"
    )
    rows = {r["user_id"]: r for r in out.collect()}
    exact = (
        load_table(spark, SF_SMOKE, "events")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.max(F.expr("CAST(floor(value*100.0+0.5) AS BIGINT)")).alias(
                "peak_cents"
            ),
        )
    )
    for r in exact.collect():
        got = rows[r["user_id"]]
        assert got["n_events"] == r["n_events"]
        assert got["peak_cents"] == r["peak_cents"]


def test_stream_state_posture_is_read_off_the_plan_and_restored(spark):
    """run_stream_to_memory picks the state posture from the plan: a
    transformWithState plan runs on RocksDB at one state partition
    per core of the session (defaultParallelism), any other stateful
    plan at width 2 on the default provider. Every conf a posture
    touches is back to its prior value afterwards, also when the query
    raises."""
    import json
    import time

    from pyspark.sql.streaming import StreamingQueryListener

    from youtube_etl_automated_pipeline_spark.streaming.incremental import (
        read_events_stream,
        run_stream_to_memory,
        tumbling_window_agg,
    )
    from youtube_etl_automated_pipeline_spark.streaming.stateful import (
        tws_user_peaks,
    )

    keys = (
        "spark.sql.streaming.stateStore.providerClass",
        "spark.sql.shuffle.partitions",
        "spark.sql.streaming.noDataMicroBatches.enabled",
    )
    prior = {k: spark.conf.get(k, None) for k in keys}
    progress: list[dict] = []

    class Progress(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            progress.append(json.loads(event.progress.json))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    def state_operators(name):
        """The state operators of the runs named ``name``; progress
        events arrive asynchronously."""
        deadline = time.time() + 30
        while time.time() < deadline:
            ops = [
                op
                for p in list(progress)
                if p["name"].startswith(name + "_")
                for op in p["stateOperators"]
            ]
            if ops:
                return ops
            time.sleep(0.2)
        return []

    def rocksdb(op):
        return any(k.startswith("rocksdb") for k in op["customMetrics"])

    listener = Progress()
    spark.streams.addListener(listener)
    try:
        run_stream_to_memory(
            tws_user_peaks(read_events_stream(spark, SF_SMOKE)),
            "posture_tws",
            output_mode="update",
            skip_nodata=True,
        )
        assert {k: spark.conf.get(k, None) for k in keys} == prior
        with pytest.raises(Exception):
            run_stream_to_memory(
                tws_user_peaks(read_events_stream(spark, SF_SMOKE)),
                "posture_raises",
                output_mode="no_such_mode",
            )
        assert {k: spark.conf.get(k, None) for k in keys} == prior
        run_stream_to_memory(
            tumbling_window_agg(read_events_stream(spark, SF_SMOKE)),
            "posture_window",
        )
        assert {k: spark.conf.get(k, None) for k in keys} == prior

        tws = state_operators("posture_tws")
        assert tws and all(
            op["numShufflePartitions"] == spark.sparkContext.defaultParallelism
            and rocksdb(op)
            for op in tws
        ), tws
        window = state_operators("posture_window")
        width = int(os.environ.get("SPARK_GRAFT_STREAM_STATE_PARTITIONS", "2"))
        assert window and all(
            op["numShufflePartitions"] == width and not rocksdb(op) for op in window
        ), window
    finally:
        spark.streams.removeListener(listener)


def test_rocksdb_state_store_matches_default_provider(spark):
    """The RocksDB state store — the at-scale provider (bounded heap,
    spill-to-disk state, changelog checkpointing on clusters) — must
    produce the identical windowed aggregate as the default HDFS-backed
    in-memory provider."""
    from youtube_etl_automated_pipeline_spark.streaming.incremental import (
        read_events_stream,
        run_stream_to_memory,
        tumbling_window_agg,
    )

    key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(key, None)

    def run(tag):
        out = run_stream_to_memory(
            tumbling_window_agg(read_events_stream(spark, SF_SMOKE)),
            f"statestore_{tag}",
        )
        return {tuple(r) for r in out.collect()}

    default_rows = run("default")
    spark.conf.set(
        key,
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        rocks_rows = run("rocksdb")
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)
    assert rocks_rows == default_rows


def test_statestore_reader_exposes_aggregation_state(spark, tmp_path):
    """Spark 4 state data source: the checkpoint of a streaming
    aggregation is queryable as a DataFrame (format 'statestore' for
    the keyed state, 'state-metadata' for operator inventory) — the
    production debugging surface for 100 TB streaming state (find the
    hot key, audit watermark eviction) without touching internals.
    The state must equal the same aggregation computed in batch."""
    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    ev = load_table(spark, SF_SMOKE, "events").select("user_id", "value")
    ev.coalesce(1).write.parquet(src)

    stream = spark.readStream.schema("user_id bigint, value double").parquet(src)
    q = (
        stream.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .writeStream.format("memory")
        .queryName("sst_agg")
        .outputMode("complete")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    meta = spark.read.format("state-metadata").load(ckpt)
    ops = {r["operatorName"] for r in meta.collect()}
    assert "stateStoreSave" in ops, ops

    state = (
        spark.read.format("statestore")
        .load(ckpt)
        .select(
            F.col("key.user_id").alias("user_id"),
            F.col("value.count").alias("n"),
        )
    )
    expected = {
        (r["user_id"], r["n"])
        for r in ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    got = {(r["user_id"], r["n"]) for r in state.collect()}
    assert got == expected


def test_watermark_drops_late_rows_and_reports_them(spark, tmp_path):
    """Late-data accounting: rows older than the watermark must be
    DROPPED by a streaming window agg in append mode, and the engine
    must report them in the progress metrics
    (numRowsDroppedByWatermark) — the observability signal a real
    late-data policy is tuned against. Two micro-batches: batch 1
    advances the watermark past a day-old window; batch 2 delivers an
    event inside that closed window."""
    import json

    from youtube_etl_automated_pipeline_spark.streaming.incremental import (
        EVENTS_STREAM_SCHEMA,
    )

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)
    base = load_table(spark, SF_SMOKE, "events").limit(50)

    def write_batch(df, name):
        df.select(
            "event_id", "ts", "user_id", "event_type", "value", "props"
        ).coalesce(1).write.parquet(os.path.join(src, name))

    write_batch(base, "b1.parquet")

    stream = (
        spark.readStream.schema(EVENTS_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", "1000")
        .parquet(src + "/*")
    )
    agged = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("win"))
        .agg(F.count(F.lit(1)).alias("n"))
    )

    out = str(tmp_path / "out")

    def run_once():
        # parquet sink: memory sinks cannot recover from a checkpoint,
        # and the second run MUST resume (the committed watermark is
        # what classifies batch 2 as late)
        q = (
            agged.writeStream.format("parquet")
            .option("path", out)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return [json.loads(p.json) for p in q.recentProgress]

    run_once()
    # batch 2: one event a full day BEFORE anything in batch 1 — far
    # behind the committed watermark, inside a long-closed window
    late = base.limit(1).withColumn(
        "ts", F.col("ts") - F.expr("INTERVAL 1 DAY")
    )
    write_batch(late, "b2.parquet")
    progress = run_once()
    dropped = sum(
        op.get("numRowsDroppedByWatermark", 0)
        for p in progress
        for op in p.get("stateOperators", [])
    )
    assert dropped >= 1, progress


def test_streaming_linear_count_error_envelope(spark):
    """The deterministic linear-counting streaming distinct must track
    the exact per-window counts: unsaturated windows (occ < B) within
    50% relative error each, and aggregate median error <= 15% — loose
    deterministic bounds for B=64 at these cardinalities (measured:
    median <= 7%, p95 <= 20% at sf0.01/sf0.1). The query's own
    exact_users column is the reference (itself oracle-verified)."""
    from youtube_etl_automated_pipeline_spark.plans.queries_streaming import (
        LC_BUCKETS,
        streaming_linear_count_users,
    )

    rows = streaming_linear_count_users(spark, SF_SMOKE).collect()
    assert rows
    rel_errs = []
    for r in rows:
        assert 1 <= r.occ_buckets <= LC_BUCKETS
        err = abs(r.est_users - r.exact_users) / max(r.exact_users, 1)
        if r.occ_buckets < LC_BUCKETS:
            assert err <= 0.5, (r.window_start, r.event_type, r.est_users, r.exact_users)
        rel_errs.append(err)
    rel_errs.sort()
    assert rel_errs[len(rel_errs) // 2] <= 0.15, rel_errs[len(rel_errs) // 2]


def test_checkpoint_state_width_is_sticky(spark, tmp_path):
    """MIGRATION CONTRACT (round-4 note, round-5 advice #6, verified
    empirically here): the state partition count is frozen into a
    checkpoint's offset-log metadata at first commit, and on resume
    the CHECKPOINTED value silently wins over the session conf —
    Spark neither errors nor repartitions. A width-8 checkpoint
    resumed under the round-4 default of 2 must (a) resume cleanly,
    (b) keep all 8 state-store partition dirs, and (c) record
    shuffle.partitions=8 in EVERY offset-log entry including the
    resumed one. Changing width for real requires a fresh
    checkpoint."""
    import glob
    import json
    import shutil

    from youtube_etl_automated_pipeline_spark.streaming.incremental import (
        EVENTS_STREAM_SCHEMA,
        stream_state_partitions,
    )

    src = tmp_path / "src"
    src.mkdir()
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    events_file = os.path.join(SF_SMOKE, "events.parquet")
    shutil.copy(events_file, src / "a.parquet")

    def run(width):
        with stream_state_partitions(spark, width):
            stream = spark.readStream.schema(EVENTS_STREAM_SCHEMA).parquet(
                str(src)
            )
            agg = (
                stream.withWatermark("ts", "4 days")
                .groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
                .agg(F.count(F.lit(1)).alias("n"))
            )
            q = (
                agg.select(F.col("win.start").alias("ws"), "event_type", "n")
                .writeStream.format("parquet")
                .option("path", out)
                .option("checkpointLocation", ckpt)
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()

    run(8)
    width_8_dirs = len(glob.glob(os.path.join(ckpt, "state", "0", "*")))
    # grow the feed so the resumed run commits a real batch with state
    shutil.copy(events_file, src / "b.parquet")
    run(2)  # session says 2; the checkpoint must say (and keep) 8

    assert len(glob.glob(os.path.join(ckpt, "state", "0", "*"))) == width_8_dirs
    offsets = sorted(glob.glob(os.path.join(ckpt, "offsets", "*")))
    assert len(offsets) >= 2  # initial + resumed batch
    for off in offsets:
        with open(off) as fh:
            meta_line = fh.readlines()[1]
        conf = json.loads(meta_line).get("conf", {})
        assert conf.get("spark.sql.shuffle.partitions") == "8", (off, conf)


def test_streaming_minhash_dedup_subsets_batch_pairs(spark):
    """The streamed-index dedup's verified pairs must be exactly the
    batch LSH family's pairs whose left side is a bucket canon — a
    strict subset of dedup_minhash_lsh's pair set, never inventing a
    pair the batch dedup would not flag."""
    from youtube_etl_automated_pipeline_spark.plans.queries_dedup_adv import (
        dedup_minhash_lsh,
    )
    from youtube_etl_automated_pipeline_spark.plans.queries_streaming import (
        streaming_minhash_dedup,
    )

    stream_pairs = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in streaming_minhash_dedup(spark, SF_SMOKE).collect()
    }
    batch_pairs = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in dedup_minhash_lsh(spark, SF_SMOKE).collect()
    }
    assert stream_pairs  # planted dups exist at smoke scale
    assert set(stream_pairs) <= set(batch_pairs)
    for k, j in stream_pairs.items():
        assert j == batch_pairs[k]


def test_streaming_minhash_index_survives_restart(spark, tmp_path):
    """The streamed MinHash signature index must be ARRIVAL-ORDER AND
    RESTART invariant: ingesting the corpus as two micro-batches with
    a stop/restart between them (real checkpoint recovery) must yield
    exactly the index a one-shot run builds — the associative-merge
    claim proven through the engine's state store, not algebra."""
    import pyarrow.parquet as pq

    from youtube_etl_automated_pipeline_spark.plans.queries_streaming import (
        DOCS_STREAM_SCHEMA,
        minhash_bucket_plan,
    )

    tbl = pq.read_table(os.path.join(SF_SMOKE, "documents.parquet"))
    half = tbl.num_rows // 2
    src = tmp_path / "docs"
    src.mkdir()
    pq.write_table(tbl.slice(0, half), src / "a.parquet")

    captured: list[dict] = []

    def run(ckpt):
        stream = spark.readStream.schema(DOCS_STREAM_SCHEMA).parquet(str(src))

        def sink(batch_df, _bid):
            captured.append(
                {(r.band_id, r.sig): r.canon_doc for r in batch_df.collect()}
            )

        q = (
            minhash_bucket_plan(stream)
            .writeStream.foreachBatch(sink)
            .outputMode("complete")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    ckpt = str(tmp_path / "ckpt")
    run(ckpt)  # first half only
    pq.write_table(tbl.slice(half), src / "b.parquet")
    run(ckpt)  # RESTART: second half arrives, state recovers from ckpt
    incremental = captured[-1]

    # one-shot reference over the full corpus, fresh checkpoint
    captured.clear()
    run(str(tmp_path / "ckpt_ref"))
    oneshot = captured[-1]

    assert incremental == oneshot and len(oneshot) > 0


# ---------------------------------------------------------------------------
# Streaming null parity (round-7 verdict item 3): the full-registry
# null sweep (tests/test_null_parity.py) excludes streaming_* — this
# closes that seam for the oracle-paired streaming queries whose
# aggregations touch nullable values. The twin nulls the batch
# fixture's value columns PLUS events.user_id (STREAMING_EXTRA): a
# null user flowing through hashed distinct-count (md5(NULL)), null
# grouping keys in applyInPandasWithState, and the stream-static join
# miss path are exactly the semantics no other gate exercises.
# Queries left out either never read a nulled column (dedup_ids /
# session windows key on non-null event_id/ts) or are rows-only
# (streaming_windowed_distinct_users, engine-random HLL).
STREAM_NULL_SWEEP = [
    # null event_type group key + SUM over null values
    "streaming_tumbling_window",
    # null user_id join key -> broadcast-join miss -> UNKNOWN bucket;
    # null values inside the per-segment sum
    "streaming_static_enrich",
    # applyInPandasWithState with a NULL grouping key; pandas-side
    # null-value accumulation vs SQL SUM null-skip
    "streaming_stateful_user_stats",
    # md5(NULL) -> null bucket in streaming state; null event_type in
    # the window group; countDistinct null-skip on the exact side
    "streaming_linear_count_users",
    # null values in idempotent per-batch partial sums + compaction
    "streaming_incremental_agg",
    # null o_totalprice flowing through keyed MERGE state as a null
    # price that updates/tombstones must preserve
    "streaming_merge_cdc",
    # round 8 (r07 verdict item 5): NULL event_type feeding the TWS
    # MapState key — Spark crashes on null map keys, so the engine
    # pins the '<null>' sentinel BEFORE the processor (the same
    # contract as the batch twin user_event_type_map); plus a null
    # user_id TWS grouping key flowing through RocksDB state
    "streaming_tws_type_counts",
    # round 8: null event_type as a FROM group / dropped as a TO type
    # (the batch twin's lead()-filter contract) carried through
    # ValueState (in-state null encoding), plus the null-key sentinel
    "streaming_transition_matrix",
    # round 8 batch 2: null values and null user_id excluded
    # pre-keying on BOTH sides (a sequential recursion has no
    # identity without a key; the oracle pins the same predicate)
    "streaming_ewma_user_value",
    # round 8 batch 3: the batch twin's participation filter
    # (user_id/ts/event_type non-null) pre-keying; null user_id rows
    # dropped identically on both sides
    "streaming_funnel_regex",
]


@pytest.fixture(scope="module")
def stream_null_sf_dir(tmp_path_factory):
    from tests.null_fixture import STREAMING_EXTRA, build

    dst = tmp_path_factory.mktemp("nullfx_stream")
    return build(SF_SMOKE, str(dst), extra=STREAMING_EXTRA)


@pytest.fixture(scope="module")
def stream_null_oracle_con(stream_null_sf_dir):
    from tests.oracle_compare import duckdb_conn

    con = duckdb_conn(stream_null_sf_dir)
    yield con
    con.close()


@pytest.mark.parametrize("name", STREAM_NULL_SWEEP)
def test_streaming_null_parity(
    spark, stream_null_sf_dir, stream_null_oracle_con, name
):
    from tests.oracle_compare import compare

    import __spark_entry__ as entry

    df = entry.queries()[name](spark, stream_null_sf_dir)
    errs = compare(df, stream_null_oracle_con, entry.oracle_sql()[name])
    assert not errs, errs[:5]


def test_persisted_minhash_index_roundtrip_equals_oneshot(spark):
    """The production claim behind dedup_incremental_shard: the
    signature index written to parquet and RE-READ from disk dedups a
    new shard identically to the one-shot plan that never persists.
    Both paths run through the same shard_probe builder; the only
    difference is whether the corpus side is the from-disk scan or
    the in-memory signature relation."""
    import os

    import __spark_entry__ as entry

    from youtube_etl_automated_pipeline_spark.plans.queries_dedup_adv import (
        INCREMENTAL_BATCH_MOD,
        minhash_base,
        shard_probe,
    )
    from youtube_etl_automated_pipeline_spark.plans.queries_dedup_adv import (
        incremental_index_dir,
    )

    roundtrip = entry.queries()["dedup_incremental_shard"](
        spark, SF_SMOKE
    ).collect()

    base = minhash_base(spark, SF_SMOKE)
    # the index must genuinely exist on disk, committed by Spark —
    # asserted against the PRODUCT's own path derivation (per-uid
    # root + parameter version salt), not a re-implementation that
    # can drift
    idx_dir = incremental_index_dir(SF_SMOKE, base.columns)
    assert os.path.exists(os.path.join(idx_dir, "_SUCCESS"))
    oneshot = shard_probe(
        base.filter(F.col("doc_id") % INCREMENTAL_BATCH_MOD != 0),
        base.filter(F.col("doc_id") % INCREMENTAL_BATCH_MOD == 0),
    ).collect()

    assert len(roundtrip) > 0
    assert sorted(map(tuple, roundtrip)) == sorted(map(tuple, oneshot))


def test_debounce_chain_semantics_one_long_burst(spark):
    """A burst longer than the debounce window whose CONSECUTIVE gaps
    all sit inside it must keep exactly ONE event — the case a naive
    'compare to previous kept anchor' filter gets right but a
    'compare to previous row' filter also gets right; the separating
    case is below (gap chain with one break)."""
    half = DEBOUNCE_SECONDS // 2
    rows = [
        # user 1: 5 events, each half-window apart -> one chain
        *[(1, "view", i, i * half * 1_000_000) for i in range(5)],
        # user 2: two chains split by a > window gap
        (2, "view", 10, 0),
        (2, "view", 11, half * 1_000_000),
        (2, "view", 12, (half + DEBOUNCE_SECONDS + 1) * 1_000_000),
        # user 2, other type: independent chain
        (2, "click", 13, 0),
        # user 3: gap of EXACTLY the window -> new burst (session_window
        # merge rule: events merge only when strictly closer than gap)
        (3, "view", 20, 0),
        (3, "view", 21, DEBOUNCE_SECONDS * 1_000_000),
    ]
    # build via timestamp_micros so the gap arithmetic is exact
    df = spark.createDataFrame(
        [(eid, uid, et, us) for uid, et, eid, us in rows],
        "event_id long, user_id long, event_type string, us long",
    ).select(
        "event_id",
        "user_id",
        "event_type",
        F.timestamp_micros(F.col("us")).alias("ts"),
    )

    import youtube_etl_automated_pipeline_spark.plans.queries_streaming as mod

    # run the operator body against the in-memory frame by monkey
    # patching the loader-free core: replicate the plan inline
    from pyspark.sql import Window

    us = F.unix_micros(F.col("ts"))
    w = Window.partitionBy("user_id", "event_type").orderBy("us", "event_id")
    flagged = df.select(
        "user_id", "event_type", "event_id", us.alias("us")
    ).withColumn(
        "is_anchor",
        F.when(
            F.col("us") - F.lag("us").over(w)
            < F.lit(mod.DEBOUNCE_SECONDS * 1_000_000),
            F.lit(0),
        ).otherwise(F.lit(1)),
    )
    kept = {
        (r["user_id"], r["event_type"]): r["n_kept"]
        for r in flagged.groupBy("user_id", "event_type")
        .agg(F.sum("is_anchor").cast("long").alias("n_kept"))
        .collect()
    }
    assert kept[(1, "view")] == 1  # 4x half-window chain -> one burst
    assert kept[(2, "view")] == 2  # broken chain -> two bursts
    assert kept[(2, "click")] == 1
    assert kept[(3, "view")] == 2  # exact-boundary gap starts a burst


def test_debounce_gate_census_consistent(spark):
    out = event_debounce_dedup(spark, SF_SMOKE)
    rows = out.collect()
    assert rows
    for r in rows:
        assert 1 <= r["n_kept"] <= r["n_events"]
        assert (
            r["dropped_ppm"]
            == (r["n_events"] - r["n_kept"]) * 1_000_000 // r["n_events"]
        )


def test_streaming_cms_equals_batch_twin(spark):
    """Associativity contract: the streamed complete-mode sketch over
    a fully-consumed source yields exactly the batch CMS estimates."""
    from youtube_etl_automated_pipeline_spark.plans.queries_streaming import (
        streaming_cms_heavy_hitters,
    )
    from youtube_etl_automated_pipeline_spark.plans.queries_sketch import (
        cms_heavy_hitters,
    )

    got = sorted(map(tuple, streaming_cms_heavy_hitters(spark, SF_SMOKE).collect()))
    want = sorted(map(tuple, cms_heavy_hitters(spark, SF_SMOKE).collect()))
    assert got == want and len(got) > 0


def _assert_restart_equals_oneshot_and_batch(spark, tmp_path, build, collect, batch):
    """Events sorted by (ts, event_id) arrive as two files; a
    foreachBatch TWS query built by ``build`` runs over the first,
    stops, and restarts from its checkpoint over the second.
    ``collect(rows, acc)`` folds one micro-batch's rows into the dict
    ``acc``. The restarted result must equal a one-shot run over both
    files, and that must equal ``batch()``, the batch twin in the same
    shape."""
    import pyarrow.compute as pc

    from youtube_etl_automated_pipeline_spark.streaming.incremental import (
        EVENTS_STREAM_SCHEMA,
        tws_state_posture,
    )

    tbl = pq.read_table(os.path.join(SF_SMOKE, "events.parquet"))
    # split by ts order so batch 2 is strictly later arrivals
    tbl = tbl.take(
        pc.sort_indices(
            tbl,
            sort_keys=[("ts", "ascending"), ("event_id", "ascending")],
        )
    )
    half = tbl.num_rows // 2
    src = tmp_path / "events"
    src.mkdir()
    pq.write_table(tbl.slice(0, half), src / "a.parquet")

    acc: dict = {}

    def run(ckpt):
        stream = (
            spark.readStream.schema(EVENTS_STREAM_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )

        def sink(batch_df, _bid):
            collect(batch_df.collect(), acc)

        with tws_state_posture(spark):
            q = (
                build(stream)
                .writeStream.foreachBatch(sink)
                .outputMode("update")
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()

    run(str(tmp_path / "ckpt"))
    pq.write_table(tbl.slice(half), src / "b.parquet")
    run(str(tmp_path / "ckpt"))  # RESTART: state recovers
    incremental = dict(acc)

    acc.clear()
    run(str(tmp_path / "ckpt_ref"))  # one-shot over both files
    oneshot = dict(acc)

    assert incremental == oneshot and len(oneshot) > 0
    assert incremental == batch()


def _keep_longest(row):
    """A collector keeping, per user, the row with the largest first
    field (the state's event count or sequence length)."""

    def collect(rows, acc):
        for r in rows:
            u, v = r["user_id"], row(r)
            if u not in acc or v[0] > acc[u][0]:
                acc[u] = v

    return collect


def test_streaming_transitions_restart_equals_oneshot_and_batch(
    spark, tmp_path
):
    """Two micro-batches with a stop/restart between them must sum to
    the one-shot census, which must equal the batch twin — the
    boundary transition lives in ValueState and survives checkpoint
    recovery."""
    from youtube_etl_automated_pipeline_spark.plans.queries_analytics import (
        event_transition_matrix,
    )
    from youtube_etl_automated_pipeline_spark.streaming.stateful import (
        tws_transition_deltas,
    )

    def collect(rows, acc):
        for r in rows:
            k = (r["from_type"], r["to_type"])
            acc[k] = acc.get(k, 0) + int(r["n"])

    _assert_restart_equals_oneshot_and_batch(
        spark,
        tmp_path,
        tws_transition_deltas,
        collect,
        lambda: {
            (r["from_type"], r["to_type"]): r["n_transitions"]
            for r in event_transition_matrix(spark, SF_SMOKE).collect()
        },
    )


def test_streaming_ewma_restart_equals_oneshot_and_batch(spark, tmp_path):
    """Two micro-batches with a stop/restart between them must land on
    the batch kernel's exact integer fixed point — the EWMA state
    survives checkpoint recovery and folds later arrivals on top."""
    from youtube_etl_automated_pipeline_spark.plans.queries_analytics import (
        ewma_user_value,
    )
    from youtube_etl_automated_pipeline_spark.streaming.stateful import (
        tws_ewma_user_value,
    )

    def row(r):
        return (int(r["n_events"]), int(r["ewma_cents"]))

    _assert_restart_equals_oneshot_and_batch(
        spark,
        tmp_path,
        tws_ewma_user_value,
        _keep_longest(row),
        lambda: {
            r["user_id"]: row(r) for r in ewma_user_value(spark, SF_SMOKE).collect()
        },
    )


def test_streaming_funnel_restart_equals_oneshot_and_batch(
    spark, tmp_path
):
    """Two micro-batches with a stop/restart between them must equal
    the one-shot run and the batch twin — the accumulated symbol
    string survives checkpoint recovery."""
    from youtube_etl_automated_pipeline_spark.plans.queries_analytics import (
        sequence_funnel_regex,
    )
    from youtube_etl_automated_pipeline_spark.streaming.stateful import (
        tws_funnel_seq,
    )

    def row(r):
        return (int(r["seq_len"]), int(r["n_conversions"]), int(r["longest_run"]))

    _assert_restart_equals_oneshot_and_batch(
        spark,
        tmp_path,
        tws_funnel_seq,
        _keep_longest(row),
        lambda: {
            r["user_id"]: row(r)
            for r in sequence_funnel_regex(spark, SF_SMOKE).collect()
        },
    )
