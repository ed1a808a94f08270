"""Windowed/sessionized event queries — batch and true-streaming
forms of the SAME plan builders (streaming.incremental). The
streaming entry runs Structured Streaming end-to-end (availableNow ->
memory sink) and is oracle-checked against DuckDB like any batch
query: complete-mode output over a fully-consumed source equals the
batch aggregation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from pyspark.sql import functions as F

from youtube_etl_automated_pipeline_spark.functions.compat import units
from youtube_etl_automated_pipeline_spark.operators.dedup import keep_first
from youtube_etl_automated_pipeline_spark.sources import load_table
from youtube_etl_automated_pipeline_spark.streaming.incremental import (
    read_events_stream,
    run_stream_to_memory,
    session_window_agg,
    tumbling_window_agg,
)


def events_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly tumbling rollup per event_type (batch form)."""
    return tumbling_window_agg(load_table(spark, sf_dir, "events")).orderBy(
        "window_start", "event_type"
    )


def events_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user 30-minute-gap sessionization (batch form)."""
    return session_window_agg(load_table(spark, sf_dir, "events")).orderBy(
        "user_id", "session_start"
    )


def streaming_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME tumbling rollup executed by the streaming engine:
    file-stream source -> watermark -> stateful window agg ->
    availableNow -> memory sink."""
    stream = read_events_stream(spark, sf_dir)
    result = tumbling_window_agg(stream)
    return run_stream_to_memory(result, "tumbling_counts").orderBy(
        "window_start", "event_type"
    )


def streaming_stateful_user_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator (applyInPandasWithState) run by the
    streaming engine: per-user running totals + latest event. The
    keep_first normalization collapses per-batch update rows to the
    final state per key, so the result is batch-count-invariant."""
    from youtube_etl_automated_pipeline_spark.streaming.stateful import (
        stateful_user_stats,
    )

    stream = read_events_stream(spark, sf_dir)
    updates = run_stream_to_memory(
        stateful_user_stats(stream), "stateful_user_stats", output_mode="update", skip_nodata=True
    )
    final = keep_first(updates, ["user_id"], [F.col("n_events").desc()])
    return final.select(
        "user_id",
        "n_events",
        F.col("sum_value").alias("sum_value"),
        "last_event_id",
    ).orderBy("user_id")


def streaming_dedup_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dedup via dropDuplicatesWithinWatermark: state-backed
    exactly-once id emission with watermark-bounded state (the
    reference's keep-last re-ingest guard as an engine primitive).
    Projected to the key so the result is arrival-order-independent."""
    stream = read_events_stream(spark, sf_dir)
    deduped = (
        stream.withWatermark("ts", "4 days")
        .select("event_id", "ts")
        .dropDuplicatesWithinWatermark(["event_id"])
        .select("event_id")
    )
    return run_stream_to_memory(deduped, "dedup_ids", output_mode="append").orderBy(
        "event_id"
    )


def streaming_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked STREAM-STREAM inner join: purchases within 30
    minutes after an error by the same user. Both sides carry
    watermarks and the join condition bounds event time from both
    directions, so the engine can size and expire join state — the
    canonical funnel/attribution shape. Complete-source append output
    equals the batch time-range join (the oracle)."""
    errors = (
        read_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "error")
        .select(
            F.col("event_id").alias("error_id"),
            F.col("user_id").alias("e_user"),
            F.col("ts").alias("e_ts"),
        )
        .withWatermark("e_ts", "1 hour")
    )
    purchases = (
        read_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    joined = errors.join(
        purchases,
        (F.col("e_user") == F.col("p_user"))
        & (F.col("p_ts") > F.col("e_ts"))
        & (F.col("p_ts") <= F.col("e_ts") + F.expr("INTERVAL 30 MINUTES")),
    ).select("error_id", "purchase_id", F.col("e_user").alias("user_id"), "e_ts", "p_ts")
    return run_stream_to_memory(joined, "ss_join", output_mode="append").orderBy(
        "error_id", "purchase_id"
    )


def streaming_outer_join_unmatched(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream LEFT OUTER join: every error keeps
    its row even when no purchase follows within 30 minutes — the
    null side is emitted only once the watermark PROVES no match can
    still arrive (the semantics that separate a streaming outer join
    from a batch one). The left side stops 3 days before the data's
    end (a literal the testdata always satisfies: events span one
    month), and the session uses multipleWatermarkPolicy=max for the
    run (restored after): under the default min policy the FILTERED
    left side stalls the global watermark ~1h before its own cutoff
    and withholds the last few unmatched rows, while the unfiltered
    right side's watermark closes every left window with a 2-day
    margin. With all windows provably closed at the end of the
    availableNow run (the no-data final batch flushes evicted state),
    the batch left join is an exact oracle."""
    wm_key = "spark.sql.streaming.multipleWatermarkPolicy"
    wm_prev = spark.conf.get(wm_key, None)
    spark.conf.set(wm_key, "max")
    errors = (
        read_events_stream(spark, sf_dir)
        .filter(
            (F.col("event_type") == "error") & (F.col("ts") < "2024-01-28")
        )
        .select(
            F.col("event_id").alias("error_id"),
            F.col("user_id").alias("e_user"),
            F.col("ts").alias("e_ts"),
        )
        .withWatermark("e_ts", "1 hour")
    )
    purchases = (
        read_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    joined = errors.join(
        purchases,
        (F.col("e_user") == F.col("p_user"))
        & (F.col("p_ts") > F.col("e_ts"))
        & (F.col("p_ts") <= F.col("e_ts") + F.expr("INTERVAL 30 MINUTES")),
        "leftOuter",
    ).select("error_id", "purchase_id", F.col("e_user").alias("user_id"), "e_ts", "p_ts")
    try:
        out = run_stream_to_memory(joined, "ss_outer_join", output_mode="append")
    finally:
        if wm_prev is None:
            spark.conf.unset(wm_key)
        else:
            spark.conf.set(wm_key, wm_prev)
    return out.orderBy("error_id", "purchase_id")


def streaming_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STATIC join: the event stream enriched against the
    static customer dimension (broadcast per micro-batch — no stream
    state needed), aggregated per market segment. The standard
    dimension-enrichment shape for streaming facts."""
    stream = read_events_stream(spark, sf_dir)
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    enriched = stream.join(F.broadcast(cust), "user_id", "left").select(
        F.coalesce(F.col("c_mktsegment"), F.lit("UNKNOWN")).alias("segment"),
        "value",
    )
    agg = enriched.groupBy("segment").agg(
        F.count(F.lit(1)).alias("n_events"),
        (F.sum(units(F.col("value"), 2)) / 1e2).alias("sum_value"),
    )
    return run_stream_to_memory(agg, "static_enrich", output_mode="complete").orderBy(
        "segment"
    )


def streaming_windowed_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct users per tumbling hour per event_type on a STREAM via
    HyperLogLog++ (approx_count_distinct): exact streaming distinct
    would need unbounded per-window user sets in state, while HLL
    partials merge associatively across micro-batches in O(sketch)
    state — the only shape that survives 100 TB of events. Engine-
    specific sketch → rows-only gate (same posture as
    approx_distinct_customers); tests/test_streaming.py asserts the
    error envelope vs the exact batch counts. The DETERMINISTIC
    oracle-gated twin covering the same capability is
    streaming_linear_count_users (md5 bucket-occupancy linear
    counting through the same streaming engine, bit-exact in both
    engines)."""
    stream = read_events_stream(spark, sf_dir).withWatermark("ts", "4 days")
    agg = (
        stream.groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(F.approx_count_distinct("user_id", rsd=0.02).alias("approx_users"))
        .select(
            F.col("win.start").alias("window_start"), "event_type", "approx_users"
        )
    )
    return run_stream_to_memory(
        agg, "windowed_distinct", output_mode="complete"
    ).orderBy("window_start", "event_type")


LC_BUCKETS = 64
# Linear-counting estimate table, occupancy -> round(-B*ln(1-occ/B))
# (full occupancy pinned at round(B*ln(2B)) — the sketch's saturation
# sentinel). Computed ONCE here and inlined as the SAME literal array
# into the Spark plan and the DuckDB oracle, so the estimator is
# table-lookup integer arithmetic at query time — no runtime ln whose
# last ulp could differ between engines.
import math as _math

LC_EST_TABLE = (
    [0]
    + [round(-LC_BUCKETS * _math.log(1 - o / LC_BUCKETS)) for o in range(1, LC_BUCKETS)]
    + [round(LC_BUCKETS * _math.log(2 * LC_BUCKETS))]
)


def streaming_linear_count_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct users per tumbling hour per event_type on a STREAM via
    DETERMINISTIC linear counting — the oracle-gated twin of
    ``streaming_windowed_distinct_users`` (whose HLL++ partials are
    engine-specific and therefore rows-only). Each user hashes to one
    of B=64 buckets by its portable 60-bit md5; the stream keeps only
    the set of OCCUPIED buckets per (window, event_type) — at most B
    rows of state per group key, merged associatively across
    micro-batches (set union is the combine), rebuilt bit-for-bit by
    both engines. The estimate -B*ln(1 - occ/B) is served from a
    precomputed 65-entry integer table inlined into BOTH plans, so no
    runtime float op exists to diverge (a bottom-1-per-bucket D/min
    estimator was rejected here: deterministic too, but heavy-tailed
    — median 100-300% error on this data vs linear counting's <7%).

    Accuracy: rel-std ~ sqrt(B)/n * sqrt(e^(n/B)-n/B-1); good while
    n <~ B*ln(B). Envelope vs exact asserted in
    tests/test_streaming.py; at 100 TB you size B to the expected
    per-window cardinality (4096+) or cascade to HLL past saturation
    — the state stays O(B) either way.

    Scale shape: streaming state is bounded by calendar x types x B
    (NOT by users — the exact streaming distinct this replaces needs
    per-window user sets); the estimate finalize and the exact-count
    join are batch-side over the sketch relation (windows x types x
    <=B rows). The exact_users column exists to make the envelope
    visible in the gated result; at 100 TB a consumer reads est_users
    and skips the exact join."""
    from youtube_etl_automated_pipeline_spark.ext.textstats import md5_long

    stream = read_events_stream(spark, sf_dir).withWatermark("ts", "4 days")
    hv = md5_long(F.col("user_id").cast("string"), 15)
    sketch = (
        stream.select("ts", "event_type", hv.alias("hv"))
        .withColumn("bucket", F.pmod(F.col("hv"), F.lit(LC_BUCKETS)))
        .groupBy(F.window("ts", "1 hour").alias("win"), "event_type", "bucket")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    sink = run_stream_to_memory(sketch, "lc_distinct", output_mode="complete")
    est_lookup = F.element_at(
        F.array(*[F.lit(v).cast("long") for v in LC_EST_TABLE]),
        (F.col("occ") + 1).cast("int"),
    )
    est = (
        sink.select(F.col("win.start").alias("window_start"), "event_type")
        .groupBy("window_start", "event_type")
        .agg(F.count(F.lit(1)).alias("occ"))
        .select(
            "window_start",
            "event_type",
            F.col("occ").cast("long").alias("occ_buckets"),
            est_lookup.alias("est_users"),
        )
    )
    ex = (
        load_table(spark, sf_dir, "events")
        .groupBy(
            F.date_trunc("hour", F.col("ts")).alias("window_start"), "event_type"
        )
        .agg(F.countDistinct("user_id").alias("exact_users"))
    )
    return est.join(ex, ["window_start", "event_type"]).orderBy(
        "window_start", "event_type"
    )



def minhash_bucket_plan(doc_stream: DataFrame) -> DataFrame:
    """THE stream-side signature-index plan: MinHash signatures
    (map-only) -> shared band fan-out (ext.dedup.band_explode — the
    same layout the batch LSH family uses, so they cannot drift) ->
    min(doc_id) per (band, sig) bucket. Module-level so the
    restart-invariance test (tests/test_streaming.py) exercises the
    SHIPPED plan, not a private copy."""
    from youtube_etl_automated_pipeline_spark.ext.dedup import (
        band_explode,
        with_minhash,
    )

    sigs = with_minhash(doc_stream.select("doc_id", "text")).filter(
        F.size("_sh_hashes") >= 3
    )
    return (
        band_explode(sigs)
        .groupBy("band_id", "sig")
        .agg(F.min("doc_id").alias("canon_doc"))
    )


def streaming_minhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAR-duplicate detection on a DOCUMENT STREAM: the MinHash-LSH
    signature index is maintained as STREAMING STATE. Each arriving
    doc projects its k=8 MinHash signatures (map-only column
    expressions — with_minhash streams untouched), explodes to 8 band
    keys, and a streaming aggregation keeps min(doc_id) per (band,
    sig) bucket — the canonical first-registered doc per LSH bucket,
    merged associatively across micro-batches (min is the combine),
    so arrival order and batch boundaries cannot change the result.
    Batch-side, every doc's band keys probe the streamed index; a doc
    colliding with an EARLIER canonical doc becomes a candidate pair,
    verified by exact shingle Jaccard >= the batch family's threshold
    (same constants imported from ext.dedup — Spark and oracle cannot
    drift).

    This is the incremental-crawl dedup shape: the bucket->canon map
    is exactly the signature index a production pipeline checkpoints
    (state is one row per DISTINCT band bucket — O(index), never
    O(pairs)); new shards dedup against it without re-scanning the
    corpus. All-pairs never materializes: candidates come from the
    band equi-join, verification touches candidates only.

    Cites the batch twin dedup_minhash_lsh
    (plans/queries_dedup_adv.py:32) whose pair set is a superset
    (all band collisions, not just collisions with the canon)."""
    from youtube_etl_automated_pipeline_spark.ext.dedup import band_explode
    from youtube_etl_automated_pipeline_spark.functions.compat import hround
    from youtube_etl_automated_pipeline_spark.plans.queries_dedup_adv import (
        JACCARD_THRESHOLD,
        minhash_base,
    )

    stream = (
        spark.readStream.schema(DOCS_STREAM_SCHEMA)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )
    # widen_scan's posture for a stream: the single-file micro-batch
    # arrives as one input partition, serializing the CPU-heavy
    # shingle/signature projection — round-robin the narrow
    # (doc_id, text) rows across the session width FIRST (measured
    # 7.4s -> 4.3s at sf0.1). At real scale each micro-batch already
    # spans many files and the repartition is a cheap no-op-sized
    # rebalance of the batch, never of history.
    #
    # TWO widths live here, deliberately distinct — do not unify:
    # this rebalance width is STATELESS (per-batch, safe to change at
    # any restart) and tracks the session's shuffle partitions; the
    # state-store width of the (band, sig) aggregation downstream is
    # pinned at FIRST checkpoint and must stay sticky forever
    # (SPARK_GRAFT_STREAM_STATE_PARTITIONS / the sticky-width contract
    # test in tests/test_streaming.py). Under pinning they legitimately
    # differ; "fixing" this line to the pinned width would not break
    # anything today but would invite the reverse unification that
    # breaks checkpoint resume.
    width = int(spark.conf.get("spark.sql.shuffle.partitions"))
    buckets = minhash_bucket_plan(
        stream.select("doc_id", "text").repartition(width)
    )
    index = run_stream_to_memory(buckets, "minhash_index", output_mode="complete")

    # the SAME memoized signature index the batch dedup family builds
    # (queries_dedup_adv.minhash_base — fingerprint-keyed): the batch
    # probe consumes it 3x (bands + both verify sides) and in
    # production it is the parquet-materialized index — never
    # recompute per consumer
    base = minhash_base(spark, sf_dir)
    cand = (
        band_explode(base)
        .join(index, ["band_id", "sig"])
        .filter(F.col("doc_id") > F.col("canon_doc"))
        .select(
            F.col("canon_doc").alias("doc_a"), F.col("doc_id").alias("doc_b")
        )
        .distinct()
    )
    sets_a = base.select(
        F.col("doc_id").alias("doc_a"), F.col("hash_set").alias("set_a")
    )
    sets_b = base.select(
        F.col("doc_id").alias("doc_b"), F.col("hash_set").alias("set_b")
    )
    verified = (
        cand.join(sets_a, "doc_a")
        .join(sets_b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            hround(
                F.size(F.array_intersect(F.col("set_a"), F.col("set_b")))
                / F.size(F.array_union(F.col("set_a"), F.col("set_b"))),
                4,
            ).alias("jaccard"),
        )
    )
    # no trailing orderBy (r08): the range-partitioner's sampling pass
    # re-executed the whole probe-join subtree a second time, and the
    # driver compare is order-insensitive
    return verified.filter(F.col("jaccard") >= JACCARD_THRESHOLD)


def _cdc_ops(orders: DataFrame) -> DataFrame:
    """Deterministic CDC op set derived from orders (a pure function
    of o_orderkey, so the DuckDB oracle re-derives it exactly):
    updates for keys %7∈{1,2}, deletes for %7=0, inserts of new keys
    (+1e8) for %11=0, and a SECOND higher-seq update for %14=1 —
    exercising last-wins across ops on one key. ``seq`` is globally
    unique per key; ``batch`` splits ops across micro-batches so
    same-key ops cross batch boundaries."""
    k = F.col("o_orderkey")
    cents = units(F.col("o_totalprice"), 2)
    u1 = orders.filter((k % 7).isin(1, 2)).select(
        k.alias("key"),
        (cents + 100).alias("price_cents"),
        F.lit("U").alias("op"),
        (k * 2 + 1).alias("seq"),
        (k % 3).cast("int").alias("batch"),
    )
    d = orders.filter(k % 7 == 0).select(
        k.alias("key"),
        F.lit(None).cast("long").alias("price_cents"),
        F.lit("D").alias("op"),
        (k * 2 + 1).alias("seq"),
        (k % 3).cast("int").alias("batch"),
    )
    i = orders.filter(k % 11 == 0).select(
        (k + 100_000_000).alias("key"),
        cents.alias("price_cents"),
        F.lit("I").alias("op"),
        (k * 2 + 2).alias("seq"),
        ((k + 1) % 3).cast("int").alias("batch"),
    )
    u2 = orders.filter(k % 14 == 1).select(
        k.alias("key"),
        (cents + 200).alias("price_cents"),
        F.lit("U").alias("op"),
        (k * 2 + 3).alias("seq"),
        ((k + 2) % 3).cast("int").alias("batch"),
    )
    return u1.unionByName(d).unionByName(i).unionByName(u2)


def streaming_merge_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed MERGE (update+insert+delete) applied by a REAL multi-
    batch stream: 3 CDC files → maxFilesPerTrigger=1 → 3 foreachBatch
    MERGE steps against a parquet state table seeded with the orders
    snapshot (streaming/merge.py: keep-last-by-seq, tombstones
    retained so the result is batch-split-independent and retries are
    no-ops). Gate output = live rows of the final state."""
    import os
    import shutil
    import time

    from youtube_etl_automated_pipeline_spark.streaming.merge import (
        cdc_run_dir,
        live_rows,
        read_state,
        run_cdc_merge_stream,
    )

    sf_tag = os.path.basename(os.path.normpath(sf_dir))
    base_dir = os.path.join("/tmp/spark_graft_cdc", sf_tag)
    # Fixture memoization: the CDC source files and the seeded base
    # snapshot are pure functions of sf_dir — build them ONCE (4 Spark
    # write jobs), then each invocation only file-copies the snapshot
    # into a fresh per-run state dir. What re-runs per invocation is
    # exactly the operator under test: the 3-micro-batch MERGE stream
    # against fresh state + checkpoint.
    fixture = os.path.join(base_dir, "fixture")
    src = os.path.join(fixture, "src")
    base_state = os.path.join(fixture, "base_state")
    if not os.path.exists(os.path.join(fixture, "_READY")):
        shutil.rmtree(fixture, ignore_errors=True)
        os.makedirs(src)
        orders = load_table(spark, sf_dir, "orders")
        base = orders.select(
            F.col("o_orderkey").alias("key"),
            units(F.col("o_totalprice"), 2).alias("price_cents"),
            F.lit("S").alias("op"),
            F.lit(0).cast("long").alias("seq"),
        )
        base.write.mode("overwrite").parquet(base_state)
        ops = _cdc_ops(orders)
        t0 = time.time() - 300
        for b in range(3):
            stage = os.path.join(fixture, f"stage{b}")
            ops.filter(F.col("batch") == b).drop("batch").coalesce(1).write.parquet(
                stage
            )
            part = next(f for f in os.listdir(stage) if f.startswith("part-"))
            dst = os.path.join(src, f"batch_{b}.parquet")
            shutil.move(os.path.join(stage, part), dst)
            shutil.rmtree(stage)
            # deterministic arrival order
            os.utime(dst, (t0 + 10 * b, t0 + 10 * b))
        open(os.path.join(fixture, "_READY"), "w").close()

    # per-run state on tmpfs (r08): the 3-batch MERGE rewrites the
    # state parquet three times — on ext4 /tmp that is pure fsync tax
    run_dir = cdc_run_dir(sf_dir)
    shutil.rmtree(run_dir, ignore_errors=True)
    state = os.path.join(run_dir, "state")
    ckpt = os.path.join(run_dir, "ckpt")
    os.makedirs(run_dir)
    shutil.copytree(base_state, state)

    run_cdc_merge_stream(spark, src, state, ckpt)
    final = live_rows(read_state(spark, state))
    return final.select(
        "key",
        (F.col("price_cents").cast("double") / 100).alias("price"),
        F.col("op").alias("last_op"),
        F.col("seq").alias("last_seq"),
    )


def streaming_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregate-view maintenance run by a REAL multi-batch
    stream: events split into 3 files → maxFilesPerTrigger=1 → each
    micro-batch writes idempotent per-batch PARTIAL aggregates
    (streaming/aggstate.py, log-structured so a batch retry cannot
    double-count) → compaction folds the log → the view equals the
    full batch aggregate (the oracle). The complement of
    streaming_merge_cdc: additive state, not keyed latest-state."""
    import os
    import shutil

    from youtube_etl_automated_pipeline_spark.streaming.aggstate import (
        compact,
        read_view,
        run_partials_stream,
    )

    sf_tag = os.path.basename(os.path.normpath(sf_dir))
    base_dir = os.path.join("/tmp/spark_graft_aggstate", sf_tag)
    # same fixture-memoization posture as streaming_merge_cdc: the 3
    # source files are a pure function of sf_dir, built once; state
    # and checkpoint are fresh per invocation
    fixture = os.path.join(base_dir, "fixture")
    src = os.path.join(fixture, "src")
    if not os.path.exists(os.path.join(fixture, "_READY")):
        shutil.rmtree(fixture, ignore_errors=True)
        os.makedirs(src)
        ev = load_table(spark, sf_dir, "events").select(
            "event_id", "event_type", "value"
        )
        for b in range(3):
            stage = os.path.join(fixture, f"stage{b}")
            ev.filter(F.col("event_id") % 3 == b).coalesce(1).write.parquet(stage)
            part = next(f for f in os.listdir(stage) if f.startswith("part-"))
            dst = os.path.join(src, f"batch_{b}.parquet")
            shutil.move(os.path.join(stage, part), dst)
            shutil.rmtree(stage)
            os.utime(dst, (1_000_000 + 10 * b, 1_000_000 + 10 * b))
        open(os.path.join(fixture, "_READY"), "w").close()

    from youtube_etl_automated_pipeline_spark.session import fast_scratch_dir

    # per-run partial-agg log + checkpoint on tmpfs (r08, see CDC)
    run_dir = fast_scratch_dir("aggstate", sf_tag)
    shutil.rmtree(run_dir, ignore_errors=True)
    state = os.path.join(run_dir, "state")
    ckpt = os.path.join(run_dir, "ckpt")
    os.makedirs(run_dir)

    stream = (
        spark.readStream.schema("event_id bigint, event_type string, value double")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    measures = {
        "n_events": F.count(F.lit(1)),
        "sum_cents": F.sum(units(F.col("value"), 2)),
    }
    run_partials_stream(stream, state, ckpt, ["event_type"], measures)
    compact(spark, state, ["event_type"])
    view = read_view(spark, state, ["event_type"])
    return view.select(
        "event_type",
        "n_events",
        (F.col("sum_cents") / 1e2).alias("sum_value"),
    ).orderBy("event_type")


def streaming_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user sessionization run by the STREAMING engine:
    ``session_window`` merges adjacent-in-time state per key and the
    watermark bounds how long an open session can wait for late
    events. Complete-mode output over a fully-consumed availableNow
    source equals the batch plan (same builder), so the batch
    session-window oracle applies verbatim."""
    stream = read_events_stream(spark, sf_dir)
    result = session_window_agg(stream)
    return run_stream_to_memory(result, "session_windows").orderBy(
        "user_id", "session_start"
    )


def events_hopping_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hopping (sliding) window rollup: 1-hour windows advancing every
    30 minutes, so each event lands in exactly 2 overlapping windows.
    Spark expands the window set map-side (a 2x row fan-out before the
    partial agg) — state per window stays bounded, the canonical
    smoothing shape for rate dashboards."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.window("ts", "1 hour", "30 minutes").alias("win"), "event_type"
        )
        .agg(
            F.count("*").alias("n_events"),
            (F.sum(units(F.col("value"), 2)) / 1e2).alias("sum_value"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
        .orderBy("window_start", "event_type")
    )




def streaming_hopping_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hopping (sliding) 1h/30m rollup executed by the STREAMING
    engine: the map-side 2x window fan-out happens per micro-batch and
    the overlapping windows accumulate in the state store — the
    streaming twin of events_hopping_window, sharing its oracle
    (complete-mode output over a fully-consumed availableNow source
    equals the batch aggregation)."""
    stream = read_events_stream(spark, sf_dir).withWatermark("ts", "4 days")
    result = (
        stream.groupBy(
            F.window("ts", "1 hour", "30 minutes").alias("win"), "event_type"
        )
        .agg(
            F.count("*").alias("n_events"),
            (F.sum(units(F.col("value"), 2)) / 1e2).alias("sum_value"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )
    return run_stream_to_memory(result, "hopping_counts").orderBy(
        "window_start", "event_type"
    )


QUERIES_STREAMING = {
    "events_tumbling_window": events_tumbling_window,
    "events_session_window": events_session_window,
    "streaming_session_window": streaming_session_window,
    "events_hopping_window": events_hopping_window,
    "streaming_hopping_window": streaming_hopping_window,
    "streaming_tumbling_window": streaming_tumbling_window,
    "streaming_stateful_user_stats": streaming_stateful_user_stats,
    "streaming_dedup_ids": streaming_dedup_ids,
    "streaming_stream_stream_join": streaming_stream_stream_join,
    "streaming_outer_join_unmatched": streaming_outer_join_unmatched,
    "streaming_static_enrich": streaming_static_enrich,
    "streaming_merge_cdc": streaming_merge_cdc,
    "streaming_windowed_distinct_users": streaming_windowed_distinct_users,
    "streaming_linear_count_users": streaming_linear_count_users,
    "streaming_minhash_dedup": streaming_minhash_dedup,
    "streaming_incremental_agg": streaming_incremental_agg,
}


def ivm_join_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bilateral incremental JOIN-view maintenance (streaming/ivm.py):
    orders and customer each arrive as two interleaved append-deltas
    (B0, A0, B1, A1 — so pairs complete in every combination of
    arrival order), each apply joins only the delta against the
    opposite accumulator, and the log-structured view must equal the
    one-shot join. Gate output: per-nation rollup of the final view;
    the oracle is the plain JOIN + GROUP BY."""
    import os
    import shutil

    from youtube_etl_automated_pipeline_spark.streaming.ivm import JoinView

    from youtube_etl_automated_pipeline_spark.session import fast_scratch_dir

    sf_tag = os.path.basename(os.path.normpath(sf_dir))
    # accumulators + view log are rebuilt per run: tmpfs (r08, see CDC)
    base = fast_scratch_dir("ivm", sf_tag)
    shutil.rmtree(base, ignore_errors=True)
    view = JoinView(
        a_dir=os.path.join(base, "orders_acc"),
        b_dir=os.path.join(base, "cust_acc"),
        j_dir=os.path.join(base, "join_view"),
        a_key="o_custkey",
        b_key="c_custkey",
    )

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", units(F.col("o_totalprice"), 2).alias("cents")
    )
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")

    view.apply_delta_b(cust.filter(F.col("c_custkey") % 2 == 0), "b0")
    view.apply_delta_a(orders.filter(F.col("o_orderkey") % 2 == 0), "a0")
    view.apply_delta_b(cust.filter(F.col("c_custkey") % 2 == 1), "b1")
    view.apply_delta_a(orders.filter(F.col("o_orderkey") % 2 == 1), "a1")

    return (
        view.view(spark)
        .groupBy(F.col("c_nationkey").alias("nation"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("cents").alias("cents"),
        )
        .orderBy("nation")
    )


QUERIES_STREAMING["ivm_join_view"] = ivm_join_view


def streaming_chained_join_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHAINED stateful operators in one streaming query (Spark's
    multi-stateful-operator support): watermarked stream-stream join
    -> tumbling daily aggregate, append mode. The join emits matches
    inside the data batch; the availableNow no-data final batch then
    advances the global watermark (min of both sources' max event
    time - 1h) and flushes every day window it has passed. The last
    open day is therefore WITHHELD by design — the oracle applies the
    same eviction predicate (day_end <= final watermark), making the
    cut deterministic, not an accident of batch boundaries."""
    errors = (
        read_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "error")
        .select(F.col("user_id").alias("e_user"), F.col("ts").alias("e_ts"))
        .withWatermark("e_ts", "1 hour")
    )
    purchases = (
        read_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts"))
        .withWatermark("p_ts", "1 hour")
    )
    joined = errors.join(
        purchases,
        (F.col("e_user") == F.col("p_user"))
        & (F.col("p_ts") > F.col("e_ts"))
        & (F.col("p_ts") <= F.col("e_ts") + F.expr("INTERVAL 30 MINUTES")),
    )
    agg = joined.groupBy(F.window("p_ts", "1 day")).agg(
        F.count(F.lit(1)).alias("n_conversions")
    )
    out = run_stream_to_memory(
        agg.select(F.col("window.start").alias("day"), "n_conversions"),
        "chained_join_agg",
        output_mode="append",
    )
    return out.orderBy("day")


QUERIES_STREAMING["streaming_chained_join_agg"] = streaming_chained_join_agg


def streaming_chained_dedup_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The other multi-stateful chain: watermarked DEDUP
    (dropDuplicatesWithinWatermark on event_id) feeding a tumbling
    DAILY aggregate in the same streaming query. Dedup emits rows
    inside the data batch, so the downstream agg sees them in time;
    the availableNow no-data batch closes every day window the final
    watermark (max ts - 1h) passed — the last open day is withheld,
    and the oracle applies the same eviction cut. The source has
    unique event_ids, so dedup is a no-op on CONTENT (the oracle
    needs no dedup step) while still exercising the stateful
    operator chain."""
    ev = read_events_stream(spark, sf_dir).withWatermark("ts", "1 hour")
    deduped = ev.select("event_id", "ts").dropDuplicatesWithinWatermark(["event_id"])
    agg = deduped.groupBy(F.window("ts", "1 day")).agg(
        F.count(F.lit(1)).alias("n_events")
    )
    out = run_stream_to_memory(
        agg.select(F.col("window.start").alias("day"), "n_events"),
        "chained_dedup_agg",
        output_mode="append",
    )
    return out.orderBy("day")


QUERIES_STREAMING["streaming_chained_dedup_agg"] = streaming_chained_dedup_agg


def events_session_dynamic_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization with a PER-ROW dynamic gap: error events hold a
    session open for 60 minutes, everything else 15 — the
    incident-aware session semantics a static gap can't express.
    Spark's session_window accepts a gap EXPRESSION; the engine merges
    per-key overlapping [ts, ts+gap) intervals in one shuffle. The
    oracle reproduces the merge as gaps-and-islands over the running
    max of interval ends (for dynamic gaps, lag(ts)+gap is NOT the
    previous session end — an earlier long-gap event can still hold
    the session open)."""
    ev = load_table(spark, sf_dir, "events")
    gap = F.when(
        F.col("event_type") == "error", F.lit("60 minutes")
    ).otherwise(F.lit("15 minutes"))
    return (
        ev.groupBy("user_id", F.session_window("ts", gap).alias("sw"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_last"),
            (F.sum(units(F.col("value"), 2)) / 1e2).alias("sum_value"),
        )
        .select(
            "user_id", "session_start", "session_last", "n_events", "sum_value"
        )
        .orderBy("user_id", "session_start")
    )


QUERIES_STREAMING["events_session_dynamic_gap"] = events_session_dynamic_gap


def streaming_session_dynamic_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dynamic-gap sessionizer through the REAL streaming engine:
    the per-row gap expression sizes each event's session-extension
    interval inside streaming state. Complete-mode output over a fully
    consumed availableNow source equals the batch plan, so the
    running-max-of-interval-ends oracle applies verbatim."""
    stream = read_events_stream(spark, sf_dir).withWatermark("ts", "4 days")
    gap = F.when(
        F.col("event_type") == "error", F.lit("60 minutes")
    ).otherwise(F.lit("15 minutes"))
    result = (
        stream.groupBy("user_id", F.session_window("ts", gap).alias("sw"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_last"),
            (F.sum(units(F.col("value"), 2)) / 1e2).alias("sum_value"),
        )
        .select(
            "user_id", "session_start", "session_last", "n_events", "sum_value"
        )
    )
    return run_stream_to_memory(result, "session_dyn_windows").orderBy(
        "user_id", "session_start"
    )


QUERIES_STREAMING["streaming_session_dynamic_gap"] = streaming_session_dynamic_gap


DOCS_STREAM_SCHEMA = (
    "doc_id bigint, text string, lang string, source string, n_chars bigint"
)


def streaming_dedup_fingerprint_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL exact-substring dedup: a stream of incoming
    documents probed against the corpus's persisted winnowing
    fingerprint index (ext.textstats.winnowed_fingerprints) — the
    production shape of continuous corpus ingestion, where each new
    document must answer "is this a copy of something already
    indexed?" without rescanning the corpus.

    The incoming docs are the planted substring copies of every
    PLANT_EVERY_SUBth document, derived INSIDE the stream by the same
    pure transform the batch gate uses; the index is the batch
    fingerprint relation (static side — at 100 TB this is the parquet
    fingerprint index the batch dedup already materializes, broadcast
    or bucket-joined per micro-batch). The stateless kernel runs
    unchanged on the streaming DataFrame; the stream-static equi-join
    on (h1, h2) needs no stream state at all.

    Output: (probe_id, src_id, n_shared) — every probe finds its
    source document (winnowing guarantee), plus any natural repeats.
    """
    from youtube_etl_automated_pipeline_spark.ext.textstats import (
        winnowed_fingerprints,
    )
    from youtube_etl_automated_pipeline_spark.plans.queries_ext import (
        PLANT_EVERY_SUB,
        PLANT_OFFSET_SUB,
    )
    from youtube_etl_automated_pipeline_spark.sources.readers import (
        ensure_session_confs,
    )

    ensure_session_confs(spark)
    docs_stream = (
        spark.readStream.schema(DOCS_STREAM_SCHEMA)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )
    probes = docs_stream.filter(F.col("doc_id") % PLANT_EVERY_SUB == 0).select(
        (F.col("doc_id") + PLANT_OFFSET_SUB).alias("doc_id"),
        F.expr("substring(text, 21, 160)").alias("text"),
    )
    probe_fp = winnowed_fingerprints(probes).select(
        F.col("doc_id").alias("probe_id"), "h1", "h2"
    )
    # the static index side is PERSISTED via the bounded registry: in
    # production this is a parquet fingerprint index built once by the
    # batch dedup, not recomputed per probe run
    from youtube_etl_automated_pipeline_spark.operators.cache_registry import (
        memo_persist,
    )

    corpus_fp = memo_persist(
        spark,
        ("winnow_fp_index", sf_dir),
        lambda: winnowed_fingerprints(
            load_table(spark, sf_dir, "documents").select("doc_id", "text")
        ).select(F.col("doc_id").alias("src_id"), "h1", "h2"),
    )
    matched = probe_fp.join(F.broadcast(corpus_fp), ["h1", "h2"])
    agg = matched.groupBy("probe_id", "src_id").agg(
        F.count(F.lit(1)).alias("n_shared")
    )
    return run_stream_to_memory(
        agg, "fp_probe", output_mode="complete"
    ).orderBy("probe_id", "src_id")


QUERIES_STREAMING["streaming_dedup_fingerprint_probe"] = (
    streaming_dedup_fingerprint_probe
)


def streaming_tws_user_peaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """transformWithStateInPandas — Spark 4's second-generation
    arbitrary-state API (named ValueState, lifecycle hooks, timers) —
    run END-TO-END by the real streaming engine against the RocksDB
    state store: per-user running event count + peak value in exact
    integer cents (streaming/stateful.py::UserPeakProcessor).

    The state-server protocol is protobuf-based; this container has no
    protobuf distribution, so the session wires in the vendored
    miniproto runtime (vendor/google/protobuf — a minimal pure-Python
    implementation of the public wire format). Update-mode emissions
    are collapsed keep-max like streaming_stateful_user_stats, making
    the result batch-split-invariant; the oracle is the plain batch
    aggregate."""
    from youtube_etl_automated_pipeline_spark.streaming.stateful import (
        tws_user_peaks,
    )

    updates = run_stream_to_memory(
        tws_user_peaks(read_events_stream(spark, sf_dir)),
        "tws_peaks",
        output_mode="update",
        skip_nodata=True,
    )
    final = keep_first(updates, ["user_id"], [F.col("n_events").desc()])
    return final.select("user_id", "n_events", "peak_cents").orderBy("user_id")


QUERIES_STREAMING["streaming_tws_user_peaks"] = streaming_tws_user_peaks


def streaming_tws_user_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """transformWithStateInPandas with LIST state: per-user top-3
    event values in exact cents, held as a ListState of (cents, seen)
    entries (streaming/stateful.py::UserTopKProcessor) — the second
    TWS state flavor next to the peak tracker's ValueState, run
    end-to-end against RocksDB through the vendored miniproto
    protocol runtime. Top-K is an associative order-insensitive fold,
    so the batch top-3 is an exact oracle."""
    from youtube_etl_automated_pipeline_spark.streaming.stateful import (
        tws_user_topk,
    )

    updates = run_stream_to_memory(
        tws_user_topk(read_events_stream(spark, sf_dir)),
        "tws_topk",
        output_mode="update",
        skip_nodata=True,
    )
    final = keep_first(updates, ["user_id"], [F.col("n_seen").desc()])
    return final.select("user_id", "n_seen", "top_cents").orderBy("user_id")


QUERIES_STREAMING["streaming_tws_user_topk"] = streaming_tws_user_topk


def streaming_tws_type_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """transformWithStateInPandas with MAP state: per-user per-type
    running counts in a MapState keyed by event_type
    (streaming/stateful.py::UserTypeCountProcessor) — completing the
    three TWS state flavors (ValueState / ListState / MapState), all
    end-to-end on RocksDB via the vendored miniproto runtime. Counts
    are additive, so the plain batch rollup is an exact oracle."""
    from youtube_etl_automated_pipeline_spark.streaming.stateful import (
        tws_user_type_counts,
    )

    updates = run_stream_to_memory(
        tws_user_type_counts(read_events_stream(spark, sf_dir)),
        "tws_typemap",
        output_mode="update",
        skip_nodata=True,
    )
    final = keep_first(
        updates, ["user_id", "event_type"], [F.col("n").desc()]
    )
    return final.select("user_id", "event_type", "n").orderBy(
        "user_id", "event_type"
    )


QUERIES_STREAMING["streaming_tws_type_counts"] = streaming_tws_type_counts


def streaming_tws_inactive_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """transformWithStateInPandas with EVENT-TIME TIMERS — the last
    TWS feature next to the three state flavors: each batch re-arms a
    per-user timer at last_event + 2h; the engine fires
    handleExpiredTimer once the watermark passes it, emitting the
    inactivity record (streaming/stateful.py::InactiveUserProcessor).
    Under availableNow the final watermark is max(event time) - 1h,
    so exactly the users whose 2h horizon closed inside the stream's
    span fire — the oracle applies the same cutoff (no user sits on
    the boundary at any shipped sf, so <=/< agree)."""
    from youtube_etl_automated_pipeline_spark.streaming.stateful import (
        tws_inactive_users,
    )

    out = run_stream_to_memory(
        tws_inactive_users(read_events_stream(spark, sf_dir)),
        "tws_inactive",
        output_mode="append",
    )
    return out.select("user_id", "n_events", "last_ms").orderBy("user_id")


QUERIES_STREAMING["streaming_tws_inactive_users"] = streaming_tws_inactive_users


def streaming_debounce_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The telemetry-debounce census run by the STREAMING engine:
    n_kept per (user, event_type) is exactly the number of
    ``session_window`` sessions at gap = DEBOUNCE_SECONDS, because a
    debounce burst IS a session (events merge while strictly closer
    than the gap — the session_window rule the batch twin pins with
    an exact-boundary test). The streaming plan aggregates sessions
    through the state store (complete mode over a fully-consumed
    availableNow source = the final session set); the per-key census
    rollup runs batch-side on the collected sink table. Shares
    ``event_debounce_dedup``'s oracle verbatim.
    """
    from youtube_etl_automated_pipeline_spark.plans.queries_engine5d import (
        DEBOUNCE_SECONDS,
    )

    stream = read_events_stream(spark, sf_dir).filter(
        F.col("ts").isNotNull()
        & F.col("user_id").isNotNull()
        & F.col("event_type").isNotNull()
    )
    sessions = (
        stream.withWatermark("ts", "4 days")  # the engine's standard
        .groupBy(
            "user_id",
            "event_type",
            F.session_window("ts", f"{DEBOUNCE_SECONDS} seconds").alias("sw"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    sunk = run_stream_to_memory(sessions, "debounce_sessions")
    return (
        sunk.groupBy("user_id", "event_type")
        .agg(
            F.sum("n").cast("long").alias("n_events"),
            F.count(F.lit(1)).alias("n_kept"),
        )
        .withColumn(
            "dropped_ppm",
            F.expr(
                "CAST(CAST(n_events - n_kept AS DECIMAL(38,0)) * 1000000"
                " DIV n_events AS BIGINT)"
            ),
        )
    )


QUERIES_STREAMING["streaming_debounce_census"] = streaming_debounce_census
