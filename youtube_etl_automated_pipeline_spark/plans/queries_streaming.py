"""Windowed/sessionized event queries — batch and true-streaming
forms of the SAME plan builders (streaming.incremental). The
streaming entry runs Structured Streaming end-to-end (availableNow ->
memory sink) and is oracle-checked against DuckDB like any batch
query: complete-mode output over a fully-consumed source equals the
batch aggregation.
"""

from __future__ import annotations

import math as _math
import os
import shutil

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from youtube_etl_automated_pipeline_spark.functions.compat import units
from youtube_etl_automated_pipeline_spark.operators.dedup import keep_first
from youtube_etl_automated_pipeline_spark.plans.queries_analytics import (
    _FUNNEL_SQL,
    _TRANSITION_SQL,
)
from youtube_etl_automated_pipeline_spark.plans.queries_dedup_adv import (
    PLANT_EVERY_SUB,
    PLANT_OFFSET_SUB,
    winnow_fp_ctes,
)
from youtube_etl_automated_pipeline_spark.plans.queries_sketch import _CMS_SQL
from youtube_etl_automated_pipeline_spark.plans.registry import query
from youtube_etl_automated_pipeline_spark.sources import load_table, load_wide
from youtube_etl_automated_pipeline_spark.streaming.incremental import (
    read_events_stream,
    run_stream_to_memory,
    session_window_agg,
    tumbling_window_agg,
)


@query(
    oracle=f"""
WITH last AS (
  SELECT user_id, event_id,
         row_number() OVER (
           PARTITION BY user_id
           ORDER BY date_trunc('microseconds', ts) DESC, event_id DESC) AS rn
  FROM events
),
agg AS (
  SELECT user_id, count(*) AS n_events,
         CAST(sum(CAST(floor((value) * 100.0 + 0.5) AS BIGINT)) AS BIGINT) / 100.0 AS sum_value
  FROM events GROUP BY user_id
)
SELECT a.user_id, a.n_events, a.sum_value, l.event_id AS last_event_id
-- NULL-safe key match: a NULL user_id is a legitimate GROUP BY group
-- in both engines and the stateful operator keeps it; a plain
-- equi-join would silently drop that group from the oracle only.
FROM agg a JOIN last l ON a.user_id IS NOT DISTINCT FROM l.user_id AND l.rn = 1
ORDER BY a.user_id
"""
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


@query(
    oracle="""
SELECT DISTINCT event_id FROM events ORDER BY event_id
"""
)
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


@query(
    oracle="""
SELECT e.event_id AS error_id, p.event_id AS purchase_id,
       e.user_id, e.ts AS e_ts, p.ts AS p_ts
FROM events e JOIN events p
  ON e.user_id = p.user_id
 AND e.event_type = 'error' AND p.event_type = 'purchase'
 AND p.ts > e.ts AND p.ts <= e.ts + INTERVAL 30 MINUTE
ORDER BY error_id, purchase_id
"""
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


# Left side bounded 3 days before the data's end -> every outer
# window is closed by the final watermark, so the batch left join is
# exact.
@query(
    oracle="""
SELECT e.event_id AS error_id, p.event_id AS purchase_id,
       e.user_id, e.ts AS e_ts, p.ts AS p_ts
FROM events e LEFT JOIN events p
  ON e.user_id = p.user_id
 AND p.event_type = 'purchase'
 AND p.ts > e.ts AND p.ts <= e.ts + INTERVAL 30 MINUTE
WHERE e.event_type = 'error' AND e.ts < TIMESTAMP '2024-01-28 00:00:00'
ORDER BY error_id, purchase_id
"""
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


@query(
    oracle=f"""
SELECT coalesce(c.c_mktsegment, 'UNKNOWN') AS segment,
       count(*) AS n_events,
       CAST(sum(CAST(floor((e.value) * 100.0 + 0.5) AS BIGINT)) AS BIGINT) / 100.0 AS sum_value
FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
GROUP BY 1 ORDER BY segment
"""
)
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


@query(oracle=None)
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

LC_EST_TABLE = (
    [0]
    + [round(-LC_BUCKETS * _math.log(1 - o / LC_BUCKETS)) for o in range(1, LC_BUCKETS)]
    + [round(LC_BUCKETS * _math.log(2 * LC_BUCKETS))]
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


def _write_batch_files(df: DataFrame, fixture: str, t0: float) -> None:
    """Write ``df`` split by its int ``batch`` column (0, 1, 2) as the
    stream source files ``fixture/src/batch_{b}.parquet`` — one Spark
    job, one file per batch (``partitionBy`` under ``coalesce(1)``;
    the batch column itself is not stored) — each with mtime
    ``t0 + 10 * b``: the file-stream source's arrival order."""
    stage = os.path.join(fixture, "stage")
    src = os.path.join(fixture, "src")
    df.coalesce(1).write.partitionBy("batch").parquet(stage)
    os.makedirs(src)
    for b in range(3):
        part_dir = os.path.join(stage, f"batch={b}")
        part = next(f for f in os.listdir(part_dir) if f.startswith("part-"))
        dst = os.path.join(src, f"batch_{b}.parquet")
        shutil.move(os.path.join(part_dir, part), dst)
        os.utime(dst, (t0 + 10 * b, t0 + 10 * b))
    shutil.rmtree(stage)


# Twin of streaming_merge_cdc: same pure-function CDC derivation
# from o_orderkey, global keep-last-by-seq, tombstones dropped at
# read time. Batch splitting is irrelevant by construction (the
# merge is associative), so one global window reproduces the
# 3-micro-batch streaming result exactly.
@query(
    oracle="""
WITH cents AS (
  SELECT o_orderkey AS k, CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT) AS pc
  FROM orders
),
all_ops AS (
  SELECT k AS key, pc AS price_cents, 'S' AS op, CAST(0 AS BIGINT) AS seq FROM cents
  UNION ALL
  SELECT k, pc + 100, 'U', CAST(k * 2 + 1 AS BIGINT) FROM cents WHERE k % 7 IN (1, 2)
  UNION ALL
  SELECT k, NULL, 'D', CAST(k * 2 + 1 AS BIGINT) FROM cents WHERE k % 7 = 0
  UNION ALL
  SELECT k + 100000000, pc, 'I', CAST(k * 2 + 2 AS BIGINT) FROM cents WHERE k % 11 = 0
  UNION ALL
  SELECT k, pc + 200, 'U', CAST(k * 2 + 3 AS BIGINT) FROM cents WHERE k % 14 = 1
),
last AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY key ORDER BY seq DESC) AS rn
    FROM all_ops
  ) WHERE rn = 1
)
SELECT key, CAST(price_cents AS DOUBLE) / 100 AS price,
       op AS last_op, seq AS last_seq
FROM last WHERE op <> 'D'
ORDER BY key
"""
)
def streaming_merge_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed MERGE (update+insert+delete) applied by a REAL multi-
    batch stream: 3 CDC files → maxFilesPerTrigger=1 → 3 foreachBatch
    MERGE steps against a parquet state table seeded with the orders
    snapshot (streaming/merge.py: keep-last-by-seq, tombstones
    retained so the result is batch-split-independent and retries are
    no-ops). Gate output = live rows of the final state."""
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
    # snapshot are pure functions of sf_dir — build them ONCE (2 Spark
    # write jobs), then each invocation only file-copies the snapshot
    # into a fresh per-run state dir. What re-runs per invocation is
    # exactly the operator under test: the 3-micro-batch MERGE stream
    # against fresh state + checkpoint.
    fixture = os.path.join(base_dir, "fixture")
    src = os.path.join(fixture, "src")
    base_state = os.path.join(fixture, "base_state")
    if not os.path.exists(os.path.join(fixture, "_READY")):
        shutil.rmtree(fixture, ignore_errors=True)
        orders = load_table(spark, sf_dir, "orders")
        base = orders.select(
            F.col("o_orderkey").alias("key"),
            units(F.col("o_totalprice"), 2).alias("price_cents"),
            F.lit("S").alias("op"),
            F.lit(0).cast("long").alias("seq"),
        )
        base.write.mode("overwrite").parquet(base_state)
        _write_batch_files(_cdc_ops(orders), fixture, time.time() - 300)
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


# Twin of streaming_incremental_agg: additive partials over any
# batch split sum to the plain batch aggregate.
@query(
    oracle="""
SELECT event_type, count(*) AS n_events,
       CAST(sum(CAST(floor((value) * 100.0 + 0.5) AS BIGINT)) AS BIGINT) / 100.0
         AS sum_value
FROM events GROUP BY event_type ORDER BY event_type
"""
)
def streaming_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregate-view maintenance run by a REAL multi-batch
    stream: events split into 3 files → maxFilesPerTrigger=1 → each
    micro-batch writes idempotent per-batch PARTIAL aggregates
    (streaming/aggstate.py, log-structured so a batch retry cannot
    double-count) → compaction folds the log → the view equals the
    full batch aggregate (the oracle). The complement of
    streaming_merge_cdc: additive state, not keyed latest-state."""
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
        ev = load_table(spark, sf_dir, "events").select(
            "event_id",
            "event_type",
            "value",
            (F.col("event_id") % 3).cast("int").alias("batch"),
        )
        _write_batch_files(ev, fixture, 1_000_000)
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


@query(
    oracle="""
SELECT c_nationkey AS nation, count(*) AS n_orders,
       CAST(sum(CAST(round(o_totalprice * 100.0) AS BIGINT)) AS BIGINT) AS cents
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY nation
ORDER BY nation
"""
)
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


# chained join->agg: batch join + daily rollup, filtered by the SAME
# eviction rule the streaming engine applies at end-of-stream (day
# window closed iff its end <= global watermark = least of the two
# sides' max event time - 1h)
@query(
    oracle="""
WITH e AS (SELECT user_id, ts FROM events WHERE event_type = 'error'),
p AS (SELECT user_id, ts FROM events WHERE event_type = 'purchase'),
pairs AS (
  SELECT p.ts AS p_ts
  FROM e JOIN p ON e.user_id = p.user_id
   AND p.ts > e.ts AND p.ts <= e.ts + INTERVAL 30 MINUTE
),
wm AS (
  SELECT least((SELECT max(ts) FROM e), (SELECT max(ts) FROM p))
         - INTERVAL 1 HOUR AS w
),
daily AS (
  SELECT CAST(date_trunc('day', p_ts) AS TIMESTAMP) AS day,
         count(*) AS n_conversions
  FROM pairs GROUP BY day
)
SELECT day, n_conversions
FROM daily
WHERE day + INTERVAL 1 DAY <= (SELECT w FROM wm)
ORDER BY day
"""
)
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


# chained dedup->agg: daily counts, filtered by the end-of-stream
# eviction rule (day closed iff day_end <= max(ts) - 1h); event_ids
# are unique so the dedup stage passes every row through
@query(
    oracle="""
WITH wm AS (SELECT max(ts) - INTERVAL 1 HOUR AS w FROM events),
daily AS (
  SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
         count(*) AS n_events
  FROM events GROUP BY day
)
SELECT day, n_events FROM daily
WHERE day + INTERVAL 1 DAY <= (SELECT w FROM wm)
ORDER BY day
"""
)
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


DOCS_STREAM_SCHEMA = (
    "doc_id bigint, text string, lang string, source string, n_chars bigint"
)


@query(
    oracle=f"""
WITH probes_src AS (
  SELECT doc_id + {PLANT_OFFSET_SUB} AS doc_id, substr(text, 21, 160) AS text
  FROM documents WHERE doc_id % {PLANT_EVERY_SUB} = 0
),
corpus_src AS (
  SELECT doc_id, text FROM documents
),
{winnow_fp_ctes("probes_src", "p_")},
{winnow_fp_ctes("corpus_src", "c_")}
SELECT p.doc_id AS probe_id, c.doc_id AS src_id,
       CAST(count(*) AS BIGINT) AS n_shared
FROM p_fp p JOIN c_fp c ON p.h1 = c.h1 AND p.h2 = c.h2
GROUP BY 1, 2
ORDER BY probe_id, src_id
"""
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
    from youtube_etl_automated_pipeline_spark.plans.queries_dedup_adv import (
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


@query(
    oracle="""
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(max(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) AS BIGINT)
         AS peak_cents
FROM events
GROUP BY user_id
ORDER BY user_id
"""
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


@query(
    oracle="""
WITH c AS (
  SELECT user_id,
         CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS cents,
         row_number() OVER (
           PARTITION BY user_id ORDER BY
           CAST(floor(value * 100.0 + 0.5) AS BIGINT) DESC) AS rn,
         count(*) OVER (PARTITION BY user_id) AS cnt
  FROM events
)
SELECT user_id,
       CAST(max(cnt) AS BIGINT) AS n_seen,
       string_agg(CAST(cents AS VARCHAR), '|' ORDER BY cents DESC)
         FILTER (rn <= 3) AS top_cents
FROM c
GROUP BY user_id
ORDER BY user_id
"""
)
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


@query(
    oracle="""
SELECT user_id, COALESCE(event_type, '<null>') AS event_type,
       CAST(count(*) AS BIGINT) AS n
FROM events
GROUP BY 1, 2
ORDER BY user_id, event_type
"""
)
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


@query(
    oracle="""
WITH s AS (
  SELECT user_id,
         CAST(count(*) AS BIGINT) AS n_events,
         CAST(max(epoch_ms(ts)) AS BIGINT) AS last_ms
  FROM events GROUP BY user_id
),
g AS (SELECT max(epoch_ms(ts)) AS gmax FROM events)
SELECT user_id, n_events, last_ms
FROM s CROSS JOIN g
WHERE last_ms + 7200000 <= gmax - 3600000
ORDER BY user_id
"""
)
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


# DuckDB oracles for the windowed/sessionized event queries.
#
# Session-window twin: Spark's ``session_window(ts, gap)`` starts a new
# session when an event is >= gap after the previous one (window ends
# are exclusive at last+gap) — the classic gaps-and-islands SQL below
# uses ``>= INTERVAL`` to match exactly.

_TUMBLING = f"""
SELECT date_trunc('hour', ts) AS window_start,
       event_type,
       count(*) AS n_events,
       CAST(sum(CAST(floor((value) * 100.0 + 0.5) AS BIGINT)) AS BIGINT) / 100.0 AS sum_value
FROM events
GROUP BY 1, 2
ORDER BY window_start, event_type
"""


@query(oracle=_TUMBLING)
def events_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly tumbling rollup per event_type (batch form)."""
    return tumbling_window_agg(load_table(spark, sf_dir, "events")).orderBy(
        "window_start", "event_type"
    )


@query(oracle=_TUMBLING)
def streaming_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME tumbling rollup executed by the streaming engine:
    file-stream source -> watermark -> stateful window agg ->
    availableNow -> memory sink."""
    stream = read_events_stream(spark, sf_dir)
    result = tumbling_window_agg(stream)
    return run_stream_to_memory(result, "tumbling_counts").orderBy(
        "window_start", "event_type"
    )


# Hopping 1h/30m windows: every event belongs to exactly two windows,
# starting at its 30-minute bucket and at that bucket minus 30min —
# the unnest reproduces Spark's map-side window fan-out.
_HOPPING = """
WITH fanout AS (
  SELECT event_type, value,
         unnest([time_bucket(INTERVAL 30 MINUTE, ts),
                 time_bucket(INTERVAL 30 MINUTE, ts) - INTERVAL 30 MINUTE
                ]) AS window_start
  FROM events
)
SELECT window_start, event_type, count(*) AS n_events,
       CAST(sum(CAST(floor((value) * 100.0 + 0.5) AS BIGINT)) AS BIGINT) / 100.0
         AS sum_value
FROM fanout
GROUP BY 1, 2
ORDER BY window_start, event_type
"""


@query(oracle=_HOPPING)
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


@query(oracle=_HOPPING)
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


_SESSIONS_SQL = f"""
WITH flagged AS (
  SELECT user_id, ts, value,
    CASE WHEN lag(ts) OVER w IS NULL
           OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
         THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
sessions AS (
  SELECT user_id, ts, value,
    sum(new_session) OVER (
      PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING
    ) AS session_id
  FROM flagged
)
SELECT user_id,
       min(ts) AS session_start,
       max(ts) AS session_last,
       count(*) AS n_events,
       CAST(sum(CAST(floor((value) * 100.0 + 0.5) AS BIGINT)) AS BIGINT) / 100.0 AS sum_value
FROM sessions
GROUP BY user_id, session_id
ORDER BY user_id, session_start
"""


@query(oracle=_SESSIONS_SQL)
def events_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user 30-minute-gap sessionization (batch form)."""
    return session_window_agg(load_table(spark, sf_dir, "events")).orderBy(
        "user_id", "session_start"
    )


# The streaming session-window gate shares the batch oracle: a fully
# consumed availableNow source in complete mode produces the final
# session set, identical to the batch aggregation.
@query(oracle=_SESSIONS_SQL)
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


# Dynamic gap: the previous session END is the running MAX of all
# earlier interval ends (an early error event's 60-minute hold can
# outlast several later short-gap events), so the island break tests
# ts against that running max, not lag(ts) + gap.
_DYNAMIC_GAP_SQL = """
WITH g AS (
  SELECT user_id, ts, value,
    CASE WHEN event_type = 'error' THEN INTERVAL 60 MINUTE
         ELSE INTERVAL 15 MINUTE END AS gap
  FROM events
),
m AS (
  SELECT user_id, ts, value,
    max(ts + gap) OVER (
      PARTITION BY user_id ORDER BY ts
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
    ) AS prev_end
  FROM g
),
f AS (
  SELECT user_id, ts, value,
    CASE WHEN prev_end IS NULL OR ts >= prev_end THEN 1 ELSE 0 END AS brk
  FROM m
),
i AS (
  SELECT user_id, ts, value,
    sum(brk) OVER (
      PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING
    ) AS island
  FROM f
)
SELECT user_id,
       min(ts) AS session_start,
       max(ts) AS session_last,
       count(*) AS n_events,
       CAST(sum(CAST(floor((value) * 100.0 + 0.5) AS BIGINT)) AS BIGINT) / 100.0
         AS sum_value
FROM i
GROUP BY user_id, island
ORDER BY user_id, session_start
"""


@query(oracle=_DYNAMIC_GAP_SQL)
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


# Streaming dynamic-gap sessions share the batch oracle: complete-mode
# output of a fully-consumed availableNow source is the final session
# set of the same plan.
@query(oracle=_DYNAMIC_GAP_SQL)
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


def _linear_count_oracle() -> str:
    """Deterministic streaming distinct via linear counting: the
    oracle rebuilds the identical bucket-occupancy sketch from the
    batch table (a fully-consumed availableNow complete-mode run
    equals the batch aggregate) and serves the estimate from the SAME
    Python-computed integer table the Spark plan inlines — zero
    runtime float ops on either side."""
    tbl = "ARRAY[" + ", ".join(str(v) for v in LC_EST_TABLE) + "]"
    return f"""
WITH h AS (
  SELECT date_trunc('hour', ts) AS window_start, event_type,
         CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15) AS BIGINT)
           % {LC_BUCKETS} AS bucket
  FROM events
),
b AS (
  SELECT window_start, event_type, bucket FROM h GROUP BY 1, 2, 3
),
est AS (
  SELECT window_start, event_type,
         CAST(count(*) AS BIGINT) AS occ_buckets,
         CAST(({tbl})[count(*) + 1] AS BIGINT) AS est_users
  FROM b GROUP BY 1, 2
),
ex AS (
  SELECT date_trunc('hour', ts) AS window_start, event_type,
         CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users
  FROM events GROUP BY 1, 2
)
SELECT e.window_start, e.event_type, occ_buckets, est_users, exact_users
FROM est e JOIN ex USING (window_start, event_type)
ORDER BY e.window_start, e.event_type
"""


@query(oracle=_linear_count_oracle())
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


def _minhash_dedup_oracle() -> str:
    """Streaming MinHash dedup twin: a fully-consumed availableNow
    complete-mode run makes the streamed bucket->canon index equal the
    batch min(doc_id)-per-bucket aggregate, so the whole pipeline is
    batch SQL. Every hash/permutation/threshold constant is imported
    from the SAME modules the Spark plan uses (via the batch dedup
    oracle's fragment builders) — the engines cannot drift. sigs is
    MATERIALIZED: the band fan-out scans it N_PERM+2 times and the
    shingle-hash expressions must not be re-derived per scan."""
    from youtube_etl_automated_pipeline_spark.ext.dedup import N_PERM
    from youtube_etl_automated_pipeline_spark.plans.queries_dedup_adv import (
        _JACC,
        _SH_HASHES,
        _sig,
    )
    from youtube_etl_automated_pipeline_spark.plans.queries_dedup_adv import (
        JACCARD_THRESHOLD,
    )

    band_union = " UNION ALL ".join(
        f"SELECT doc_id, {j} AS band_id, sig_{j} AS sig FROM sigs"
        for j in range(N_PERM)
    )
    return f"""
WITH base AS (
  SELECT doc_id, {_SH_HASHES} AS hs
  FROM documents
  WHERE len({_SH_HASHES}) >= 3
),
sigs AS MATERIALIZED (
  SELECT doc_id, hs,
    {", ".join(f"{_sig(j)} AS sig_{j}" for j in range(N_PERM))}
  FROM base
),
bands AS MATERIALIZED ({band_union}),
buckets AS (
  SELECT band_id, sig, min(doc_id) AS canon_doc
  FROM bands GROUP BY 1, 2
),
cand AS (
  SELECT DISTINCT bk.canon_doc AS doc_a, b.doc_id AS doc_b
  FROM bands b JOIN buckets bk USING (band_id, sig)
  WHERE b.doc_id > bk.canon_doc
),
pairs AS (
  SELECT c.doc_a, c.doc_b,
    len(list_intersect(a.hs, b.hs)) AS n_inter,
    len(list_distinct(list_concat(a.hs, b.hs))) AS n_union
  FROM cand c
  JOIN sigs a ON a.doc_id = c.doc_a
  JOIN sigs b ON b.doc_id = c.doc_b
)
SELECT doc_a, doc_b, {_JACC} AS jaccard
FROM pairs
WHERE ({_JACC}) >= {JACCARD_THRESHOLD}
ORDER BY doc_a, doc_b
"""


@query(oracle=_minhash_dedup_oracle())
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


@query(
    oracle="""
WITH items AS (
  SELECT CAST(floor(i / 500) AS INT) AS page,
         i AS item_id,
         ((i * 7919) % 1000) / 10.0 AS score
  FROM generate_series(0, 9999) t(i)
)
SELECT page,
       count(*) AS n_items,
       CAST(sum(item_id) AS BIGINT) AS sum_id,
       CAST(sum(CAST(floor(score * 10.0 + 0.5) AS BIGINT)) AS BIGINT) / 10.0 AS sum_score
FROM items
GROUP BY page
ORDER BY page
"""
)
def streaming_api_source_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The paginated-API connector consumed as a STREAM: the Python
    Data Source's streamReader exposes the page cursor as the
    checkpointable offset, one InputPartition per page inside each
    micro-batch (restart = resume from committed page, exactly the
    reference's persisted pageToken). availableNow drains the finite
    simulated feed; the rollup equals the batch connector's, which
    the arithmetic oracle reproduces."""
    from youtube_etl_automated_pipeline_spark.functions.compat import units
    from youtube_etl_automated_pipeline_spark.sources.paged_api import register
    from youtube_etl_automated_pipeline_spark.streaming.incremental import (
        run_stream_to_memory,
    )

    register(spark)
    src = (
        spark.readStream.format("paged_api_sim")
        .option("pages", 20)
        .option("page_size", 500)
        .load()
    )
    rollup = src.groupBy("page").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum("item_id").alias("sum_id"),
        (F.sum(units(F.col("score"), 1)) / 1e1).alias("sum_score"),
    )
    return run_stream_to_memory(rollup, "api_stream_rollup").orderBy("page")


# --- debounce ------------------------------------------------------
DEBOUNCE_SECONDS = 300  # events of a burst within 5 min collapse


ORACLE_DEBOUNCE = f"""
WITH ev AS (
  SELECT user_id, event_type, event_id,
         CAST(epoch_us(date_trunc('microseconds', ts)) AS BIGINT) AS us
  FROM events
  WHERE ts IS NOT NULL AND user_id IS NOT NULL AND event_type IS NOT NULL
), flagged AS (
  SELECT user_id, event_type,
         CASE WHEN us - lag(us) OVER (
                PARTITION BY user_id, event_type ORDER BY us, event_id
              ) < {DEBOUNCE_SECONDS} * 1000000
              THEN 0 ELSE 1 END AS is_anchor
  FROM ev
)
SELECT user_id, event_type,
       count(*) AS n_events,
       CAST(sum(is_anchor) AS BIGINT) AS n_kept,
       CAST(CAST(count(*) - sum(is_anchor) AS HUGEINT) * 1000000
            // count(*) AS BIGINT) AS dropped_ppm
FROM flagged GROUP BY 1, 2 ORDER BY user_id, event_type
"""


# The streaming debounce census shares the batch twin's oracle: a
# fully-consumed availableNow source in complete mode yields the final
# session set, and n_kept == session count at gap = DEBOUNCE_SECONDS
# (strict-< merge rule pinned by tests/test_streaming.py).
@query(oracle=ORACLE_DEBOUNCE)
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


@query(oracle=ORACLE_DEBOUNCE)
def event_debounce_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Telemetry debounce census: per (user, event_type), events that
    follow their predecessor within DEBOUNCE_SECONDS chain into one
    burst, and only the burst's FIRST event is kept.

    Chain semantics (the sessionization gap rule): a burst extends
    while consecutive gaps stay STRICTLY under the window (a gap of
    exactly DEBOUNCE_SECONDS starts a new burst — the session_window
    merge rule, so n_kept == session count and the streaming twin
    shares this oracle), and a 30-minute burst of 5-second pings
    still collapses to ONE kept event — the behavior a naive
    "compare to previous kept" lag filter cannot express in one
    pass.

    Output: per (user_id, event_type) the raw event count, kept
    count, and dropped ppm. Scale shape: one lag window partitioned
    by (user, type) — a single keyed shuffle — then a map-side
    combinable rollup; output is bounded by users x types. Ordering
    ties (identical timestamps) break on event_id in both engines;
    gap arithmetic is exact epoch-microsecond integers.
    """
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull()
        & F.col("user_id").isNotNull()
        & F.col("event_type").isNotNull()
    )
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    w = Window.partitionBy("user_id", "event_type").orderBy("us", "event_id")
    flagged = ev.select(
        "user_id", "event_type", "event_id", us.alias("us")
    ).withColumn(
        "is_anchor",
        F.when(
            F.col("us") - F.lag("us").over(w)
            < F.lit(DEBOUNCE_SECONDS * 1_000_000),
            F.lit(0),
        ).otherwise(F.lit(1)),  # first row (NULL lag) is an anchor
    )
    return (
        flagged.groupBy("user_id", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("is_anchor").cast("long").alias("n_kept"),
        )
        .withColumn(
            "dropped_ppm",
            F.expr(
                "CAST(CAST(n_events - n_kept AS DECIMAL(38,0)) * 1000000"
                " DIV n_events AS BIGINT)"
            ),
        )
    )


ORACLE_LATENESS = """
WITH ev AS (
  SELECT user_id, event_id,
         CAST(epoch_us(date_trunc('microseconds', ts)) AS BIGINT) AS us
  FROM events
  WHERE ts IS NOT NULL AND user_id IS NOT NULL AND event_id IS NOT NULL
), late AS (
  SELECT max(us) OVER (
           PARTITION BY user_id ORDER BY event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) - us AS late_us
  FROM ev
)
SELECT CASE WHEN late_us = 0 THEN -1
            ELSE CAST(length(bin(late_us // 1000)) AS INTEGER)
       END AS late_ms_log2_bucket,
       count(*) AS n_events,
       CAST(max(late_us) AS BIGINT) AS max_late_us
FROM late GROUP BY 1 ORDER BY 1
"""


@query(oracle=ORACLE_LATENESS)
def watermark_lateness_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time lateness histogram: lateness(e) = running max of
    event-time over the user's arrival order (event_id) minus e's
    event-time, log2-bucketed by millisecond magnitude.

    Output per bucket: event count, worst lateness (exact micros) —
    the table you read p99 off to set a watermark delay. bucket = -1
    collects on-time events (lateness 0).

    Scale shape: one lag-free running-max window keyed by user (a
    single keyed shuffle, same cost class as any sessionization), a
    map-side-combinable ~40-group rollup. length(bin(ms)) is the
    exact integer log2 bucket — no libm.
    """
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull()
        & F.col("user_id").isNotNull()
        & F.col("event_id").isNotNull()
    )
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    w = (
        Window.partitionBy("user_id")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    late = ev.select("user_id", "event_id", us.alias("us")).select(
        (F.max("us").over(w) - F.col("us")).alias("late_us")
    )
    bucket = F.when(F.col("late_us") == 0, F.lit(-1)).otherwise(
        F.length(F.expr("bin(late_us DIV 1000)")).cast("int")
    )
    return (
        late.select(bucket.alias("late_ms_log2_bucket"), "late_us")
        .groupBy("late_ms_log2_bucket")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.max("late_us").alias("max_late_us"),
        )
    )


# ---------------------------------------------------- streaming CMS
# associative sum: streamed complete-mode sketch == batch sketch
@query(oracle=_CMS_SQL)
def streaming_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """cms_heavy_hitters with the sketch maintained as streaming
    state: events fan out to CMS_DEPTH (row, cell) keys pre-shuffle
    (map-side partials collapse the fan-out to <= depth x width rows
    per task), and the streaming aggregation's state is exactly the
    depth x width counter grid — O(1024), never O(users), merged
    associatively across micro-batches. The batch side estimates each
    key as min-over-cells against the streamed sketch and reports the
    top-k by estimate. Shares the batch twin's oracle verbatim: the
    fully-consumed availableNow complete-mode sketch equals the batch
    sketch because sum is the combine."""
    from youtube_etl_automated_pipeline_spark.ext.textstats import md5_long
    from youtube_etl_automated_pipeline_spark.plans.queries_sketch import (
        CMS_DEPTH,
        CMS_WIDTH,
        HH_TOPK,
    )
    from youtube_etl_automated_pipeline_spark.streaming.incremental import (
        read_events_stream,
        run_stream_to_memory,
    )

    stream = read_events_stream(spark, sf_dir)
    rows = F.array(*[F.lit(r) for r in range(CMS_DEPTH)])
    cells = stream.select(
        "user_id", F.explode(rows).alias("r")
    ).withColumn(
        "cell",
        md5_long(
            F.concat_ws(
                ":", F.col("r").cast("string"), F.col("user_id").cast("string")
            )
        )
        % CMS_WIDTH,
    )
    sketch_stream = cells.groupBy("r", "cell").agg(
        F.count(F.lit(1)).alias("cell_cnt")
    )
    sketch = run_stream_to_memory(
        sketch_stream, "cms_sketch", output_mode="complete"
    )

    per_key = (
        load_wide(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    key_cells = per_key.select(
        "user_id", "cnt", F.explode(rows).alias("r")
    ).withColumn(
        "cell",
        md5_long(
            F.concat_ws(
                ":", F.col("r").cast("string"), F.col("user_id").cast("string")
            )
        )
        % CMS_WIDTH,
    )
    est = (
        key_cells.join(F.broadcast(sketch), ["r", "cell"])
        .groupBy("user_id")
        .agg(F.max("cnt").alias("true_cnt"), F.min("cell_cnt").alias("cms_est"))
    )
    return (
        est.select(
            "user_id",
            "true_cnt",
            "cms_est",
            (F.col("cms_est") - F.col("true_cnt")).alias("overcount"),
        )
        .orderBy(F.desc("cms_est"), F.asc("user_id"))
        .limit(HH_TOPK)
    )


# ------------------------------------------ streaming transitions
# the streamed census shares the batch twin's oracle verbatim:
# deltas are additive, so a fully-consumed availableNow run equals
# the batch lead() census bit-for-bit
@query(oracle=_TRANSITION_SQL)
def streaming_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The event-transition census (batch twin:
    event_transition_matrix) maintained through REAL streaming state:
    a TWS ValueState remembers each user's last (ts, event_id,
    event_type); each micro-batch sorts the user's arrivals by
    (ts, event_id), stitches the boundary transition from state onto
    the front, and emits (from_type, to_type, delta) rows. The final
    rollup sums deltas and derives the row-share ppm exactly like the
    batch twin — whose oracle this query shares verbatim.

    Restart-safe by construction: the boundary lives in state, so ANY
    batch split of the source sums to the one-shot census
    (tests/test_streaming.py pins a 2-batch split == one-shot run).
    State is ONE row per user (O(users), watermark-free); deltas are
    |types|^2-bounded per user per batch. The null-key quarantine and
    the in-state null-type encoding are the round-8 TWS contracts."""
    from youtube_etl_automated_pipeline_spark.streaming.incremental import (
        read_events_stream,
        run_stream_to_memory,
    )
    from youtube_etl_automated_pipeline_spark.streaming.stateful import (
        tws_transition_deltas,
    )

    deltas = run_stream_to_memory(
        tws_transition_deltas(read_events_stream(spark, sf_dir)),
        "tws_transitions",
        output_mode="update",
        skip_nodata=True,
    )
    cells = deltas.groupBy("from_type", "to_type").agg(
        F.sum("n").cast("bigint").alias("n_transitions")
    )
    row = Window.partitionBy("from_type")
    return (
        cells.withColumn("row_sum", F.sum("n_transitions").over(row))
        .select(
            "from_type",
            "to_type",
            "n_transitions",
            F.expr(
                "CAST(CAST(n_transitions AS DECIMAL(38,0)) * 1000000"
                " DIV row_sum AS BIGINT)"
            ).alias("share_ppm"),
        )
        .orderBy("from_type", "to_type")
    )


def _ewma_oracle() -> str:
    from youtube_etl_automated_pipeline_spark.plans.queries_analytics import _EWMA_SQL

    # the streamed recursion shares the batch twin's oracle, with ONE
    # pinned delta: NULL user_id rows are excluded (a sequential
    # recursion has no sequence identity without a key, and a NULL
    # group cannot thread the recursive CTE's equi-join) — mirrored
    # by the engine wrapper's user_id IS NOT NULL filter
    return _EWMA_SQL.replace(
        "WHERE value IS NOT NULL",
        "WHERE value IS NOT NULL AND user_id IS NOT NULL",
    )


# ---------------------------------------------- streaming EWMA twin
@query(oracle=_ewma_oracle())
def streaming_ewma_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ewma_user_value sequential recursion maintained through
    REAL transformWithStateInPandas state: a ValueState carries each
    user's (ewma_cents, n_events); every micro-batch folds its
    (ts, event_id)-sorted arrivals from state with the IDENTICAL
    integer step the batch kernel uses, so any order-respecting batch
    split lands on the same fixed point — stream == batch == oracle
    (ewma_user_value's oracle plus a pinned NULL-user exclusion both
    sides carry, since a NULL group cannot thread the recursive
    CTE's equi-join and a recursion has no identity without a key;
    the 2-batch
    restart == one-shot == batch-twin identity is pinned in
    tests/test_streaming.py).

    Scale: state is ONE 2-int row per user (watermark-free); each
    batch's work is one state-partition shuffle plus an O(rows)
    integer fold. The rollup keeps each user's LAST emission via a
    keep-max on the strictly-increasing n_events — a deterministic
    collapse of the update-mode output."""
    from youtube_etl_automated_pipeline_spark.streaming.incremental import (
        read_events_stream,
        run_stream_to_memory,
    )
    from youtube_etl_automated_pipeline_spark.streaming.stateful import (
        tws_ewma_user_value,
    )

    out = run_stream_to_memory(
        tws_ewma_user_value(read_events_stream(spark, sf_dir)),
        "tws_ewma",
        output_mode="update",
        skip_nodata=True,
    )
    last = out.groupBy("user_id").agg(
        F.max(F.struct("n_events", "ewma_cents")).alias("s")
    )
    return last.select(
        "user_id",
        F.col("s.n_events").cast("bigint").alias("n_events"),
        F.col("s.ewma_cents").alias("ewma_cents"),
        (F.col("s.ewma_cents").cast("double") / 100.0).alias("ewma"),
    ).orderBy("user_id")


# -------------------------------------------- streaming funnel twin
# shares the batch twin's oracle verbatim: a fully-consumed
# availableNow run accumulates every user's full symbol string
# and the last re-scan equals the batch regex count
@query(oracle=_FUNNEL_SQL)
def streaming_funnel_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sequence_funnel_regex census maintained through REAL
    streaming state: a TWS ValueState accumulates each user's symbol
    string across micro-batches and every batch re-scans it with the
    same unique-extent pattern, so any order-respecting batch split
    equals the one-shot scan (2-batch restart == one-shot == batch
    twin pinned in tests/test_streaming.py). Shares the batch twin's
    oracle verbatim.

    Scale: state is one string per user (per-user-activity bounded —
    the identical bound the batch twin's grouped aggregation
    carries); each batch's work is one state-partition shuffle plus
    an O(len) scan per touched user. The rollup keeps each user's
    LAST emission via keep-max on the strictly-increasing seq_len."""
    from youtube_etl_automated_pipeline_spark.streaming.incremental import (
        read_events_stream,
        run_stream_to_memory,
    )
    from youtube_etl_automated_pipeline_spark.streaming.stateful import (
        tws_funnel_seq,
    )

    out = run_stream_to_memory(
        tws_funnel_seq(read_events_stream(spark, sf_dir)),
        "tws_funnel",
        output_mode="update",
        skip_nodata=True,
    )
    last = out.groupBy("user_id").agg(
        F.max(
            F.struct("seq_len", "n_conversions", "longest_run")
        ).alias("s")
    )
    return last.select(
        "user_id",
        F.col("s.seq_len").alias("seq_len"),
        F.col("s.n_conversions").alias("n_conversions"),
        F.col("s.longest_run").alias("longest_run"),
    ).orderBy("user_id")
