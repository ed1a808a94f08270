"""Incremental / Structured Streaming re-expression of the reference's
hand-rolled micro-batch flow (SURVEY.md section 2.11).

The reference runs a cron'd 7-process chain: ingest a sliding late-data
window (dataingestion1.py:119-121), merge keep-last by key into staging
(dataingestion1.py:166-168), periodically flush to the durable sink and
truncate staging (ingestdatainbigquery.py:103-136). Here that is:

- a file stream source (``readStream`` over the events parquet),
- ``withWatermark`` for the late-data policy (the reference's fixed
  4-day pickup window),
- windowed aggregations (tumbling via ``F.window``, sessionization via
  ``F.session_window``) built by plan functions SHARED with the batch
  API — one logical plan, batch or stream, Catalyst does the rest,
- a ``foreachBatch`` keep-last upsert sink (the staging-merge-flush
  cycle with exactly-once-per-batch semantics from checkpointing).

Scale notes: stateful window aggs shuffle on (window, group key) and
keep state bounded by the watermark; the foreachBatch upsert rewrites
only the state table (partition it by key range at real scale, or use
a MERGE-capable table format). Nothing collects to the driver.
"""

from __future__ import annotations

import itertools
import os
from collections.abc import Callable, Sequence
from contextlib import contextmanager

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from youtube_etl_automated_pipeline_spark.functions.compat import units
from youtube_etl_automated_pipeline_spark.sinks import dedup_table_swap

# Schema for event files whose ts column is PHYSICALLY int64 nanos
# (files written by our own sinks/tests as bigint). The batch path
# converts with `timestamp_micros(ts div 1000)`.
EVENTS_RAW_SCHEMA = (
    "event_id bigint, ts bigint, user_id bigint,"
    " event_type string, value double, props string"
)

# Schema for the testdata events.parquet (timestamp[us] in current
# builds, TIMESTAMP(NANOS) in older ones). The file-stream source
# coerces the parquet value to the DECLARED type: asking for
# timestamp yields the micros instant directly for BOTH physical
# types (nanos are truncated), whereas asking for bigint yields
# MICROsecond longs — not nanos — so a `div 1000` there silently
# compresses the timeline 1000x (1970 dates, bogus window/join
# results). Declared-type coercion, not a manual cast, is the only
# conversion that is stable across physical types and across the
# batch/stream reader split.
EVENTS_STREAM_SCHEMA = (
    "event_id bigint, ts timestamp, user_id bigint,"
    " event_type string, value double, props string"
)

_memsink_seq = itertools.count()

# Executed-plan capture for the streaming plan sweep
# (tests/test_plan_shapes.py::test_streaming_plans_*): every stream
# runner records its LAST micro-batch physical plan under the sink /
# runner name, and every foreachBatch sink records the batch-side
# executed plan of the DataFrame it writes (foreachBatch work runs as
# separate batch actions the stream-side explain never shows). Keyed
# lists are capped so bench's 3x reruns cannot grow memory; capture
# failures are swallowed — diagnostics must never fail a stream.
LAST_STREAM_PLANS: dict[str, list[str]] = {}
_PLAN_CAP = 8


def _record_plan(name: str, text: str) -> None:
    plans = LAST_STREAM_PLANS.setdefault(name, [])
    plans.append(text)
    del plans[:-_PLAN_CAP]


def record_stream_plan(name: str, query) -> None:
    """Record a terminated StreamingQuery's last executed plan."""
    try:
        _record_plan(name, query._jsq.explainInternal(False))
    except Exception:
        pass


def record_batch_plan(name: str, df: DataFrame) -> None:
    """Record the executed (planned, not run) batch plan of a
    foreachBatch sink's output DataFrame."""
    try:
        _record_plan(name, df._jdf.queryExecution().executedPlan().toString())
    except Exception:
        pass


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-stream source over the events table (S1's paginated pull
    re-expressed: new files appear -> new micro-batch; the date-window
    predicate becomes the watermark)."""
    from youtube_etl_automated_pipeline_spark.sources.readers import (
        ensure_session_confs,
    )

    ensure_session_confs(spark)
    return (
        spark.readStream.schema(EVENTS_STREAM_SCHEMA)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )


def tumbling_window_agg(
    events: DataFrame,
    duration: str = "1 hour",
    watermark: str | None = "4 days",
) -> DataFrame:
    """Tumbling-window rollup per event_type. Works identically on a
    batch or streaming DataFrame (watermark only applies to streams).

    The 4-day default watermark is the reference's late-data policy
    (videos picked up 3-4 days after publish, dataingestion1.py:119-121).
    """
    if watermark is not None and events.isStreaming:
        events = events.withWatermark("ts", watermark)
    return (
        events.groupBy(F.window("ts", duration).alias("win"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            # exact cents across micro-batch accumulation: streaming
            # state merges partial sums in arrival order — long units
            # are order-free, one division at output
            (F.sum(units(F.col("value"), 2)) / 1e2).alias("sum_value"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def session_window_agg(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark: str | None = "4 days",
) -> DataFrame:
    """Per-user sessionization: events closer than ``gap`` merge into
    one session (dynamic-gap analog of the reference's per-run batch
    grouping). Session end is last event + gap (Spark semantics)."""
    if watermark is not None and events.isStreaming:
        events = events.withWatermark("ts", watermark)
    return (
        events.groupBy("user_id", F.session_window("ts", gap).alias("sw"))
        .agg(
            F.count("*").alias("n_events"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_last"),
            (F.sum(units(F.col("value"), 2)) / 1e2).alias("sum_value"),
        )
        .select("user_id", "session_start", "session_last", "n_events", "sum_value")
    )


@contextmanager
def _conf_scope(spark, confs: dict[str, str]):
    """Set ``confs`` for the block; on exit restore each as it was, or
    unset it if it was unset."""
    prev = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


@contextmanager
def stream_state_partitions(spark, n: int | str | None = None):
    """Pin the STREAMING state partition count for the duration of a
    query start: stateful operators fix their partition count at the
    first checkpoint, and inheriting the batch shuffle width means one
    state-store instance committing per partition per micro-batch —
    pure overhead whenever state is small relative to the width.

    Size it to expected STATE volume, not scan width: the default 2
    suits the gate/bench datasets (measured: the join/agg gate
    queries run ~25-35% faster at 2 than at 8 — state-store commit
    cost is per partition per batch, and gate state is kilobytes;
    results are partition-count-invariant and the oracle parity gate
    proves it). A real deployment sets
    ``SPARK_GRAFT_STREAM_STATE_PARTITIONS`` to hundreds before the
    FIRST run of a checkpoint (changing it later requires a state
    rebuild — that is Spark's contract, not ours). ``n`` overrides
    the width; transformWithState plans run under ``tws_state_posture``
    instead, because their per-partition Python state workers
    PARALLELIZE real work — narrowing those serializes it (measured
    slower at 2).

    MIGRATION (default changed 8 -> 2 in round 4): the state-store
    partition count is frozen into a checkpoint at its first commit —
    Spark records ``spark.sql.shuffle.partitions`` in the offset-log
    metadata and on resume the CHECKPOINTED value silently wins over
    the session conf (verified empirically; contract pinned by
    tests/test_streaming.py::test_checkpoint_state_width_is_sticky):
    a width-8 checkpoint resumed under the new default of 2 keeps
    committing 8 state partitions, correctly but at the old width's
    per-batch commit cost. So existing durable checkpoints keep
    working unchanged after the default change; to actually GET the
    narrower width you must start a fresh checkpoint (state cannot be
    repartitioned in place — that is Spark's contract, not ours).
    Gate/bench checkpoints are ephemeral temp dirs, so only external
    callers are affected."""
    if n is None:
        n = os.environ.get("SPARK_GRAFT_STREAM_STATE_PARTITIONS", "2")
    with _conf_scope(spark, {"spark.sql.shuffle.partitions": str(n)}):
        yield


def tws_state_partitions() -> int:
    """State width for transformWithStateInPandas queries: wider than
    the generic streaming default because each state partition runs a
    real Python worker doing per-key compute AND opens its own
    RocksDB instance — both parallelize with width. Default tracks
    the session's cores (half of them, floor 8: r08 width sweep at
    sf0.1 measured warm 2.9-3.5 s at 16, 3.5 s at 8, 4.8-5.2 s at 2
    for tws_user_peaks on a 32-core local master), so a bigger
    machine widens automatically; a real deployment still pins
    SPARK_GRAFT_TWS_STATE_PARTITIONS before the first checkpoint
    commit (the sticky-width contract).

    MIGRATION HAZARD (r08 advice): the default changed from a fixed 8
    to max(8, cores//2), so the same code now computes a DIFFERENT
    width per host. All repo call sites create ephemeral per-run
    checkpoints, so nothing here can break — but any external durable
    transformWithState checkpoint committed under the old fixed-8
    default that is reopened on a >16-core machine will find the
    session conf disagreeing with the checkpoint. Spark resolves this
    itself (the checkpointed width is sticky and silently wins — see
    stream_state_partitions' MIGRATION note and
    test_checkpoint_state_width_is_sticky), so restores stay correct
    at the old width; pin the env var if you need the widths to
    match across hosts."""
    env = os.environ.get("SPARK_GRAFT_TWS_STATE_PARTITIONS")
    if env is not None:
        return int(env)
    from youtube_etl_automated_pipeline_spark.session import (
        default_parallelism,
    )

    return max(8, default_parallelism() // 2)


_QUIET_MARKER = "_graft_state_server_quieted"


def quiet_state_server_logs(spark) -> None:
    """Silence the TWS state server's per-key WARN ("Value state X
    doesn't contain a value"), which it emits for EVERY first-sight
    key once processors use the single-round-trip get()-returns-None
    protocol — thousands of synchronous log lines per micro-batch at
    gate scale. Idempotent per session; failures are swallowed (a
    logging tweak must never fail a query)."""
    sc = spark.sparkContext
    if getattr(sc, _QUIET_MARKER, False):
        return
    try:
        jvm = sc._jvm
        lvl = jvm.org.apache.logging.log4j.Level.ERROR
        jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
            "org.apache.spark.sql.execution.streaming.state."
            "TransformWithStateInPySparkStateServer",
            lvl,
        )
    except Exception:
        pass
    setattr(sc, _QUIET_MARKER, True)


@contextmanager
def tws_state_posture(spark):
    """The state posture of a transformWithState query: the RocksDB
    state store provider (the TWS operator requires it), the
    ``tws_state_partitions()`` width and a quiet state server log. On
    exit every conf is restored as it was, or unset if it was unset.

    Worker-side ``google.protobuf`` is not wired here: a PythonFunction
    snapshots ``sc.environment`` and the shipped includes when the plan
    is BUILT, so streaming/stateful.py wires it before it builds a TWS
    node (a bare session that wires it only at query start fails)."""
    quiet_state_server_logs(spark)
    with _conf_scope(
        spark,
        {
            "spark.sql.streaming.stateStore.providerClass": (
                "org.apache.spark.sql.execution.streaming.state."
                "RocksDBStateStoreProvider"
            ),
            "spark.sql.shuffle.partitions": str(tws_state_partitions()),
        },
    ):
        yield


def _holds_transform_with_state(df: DataFrame) -> bool:
    """Whether ``df``'s logical plan has a TransformWithStateInPySpark
    node, read off the plan tree (a few ms of py4j calls)."""
    stack = [df._jdf.queryExecution().logical()]
    while stack:
        node = stack.pop()
        if node.nodeName() == "TransformWithStateInPySpark":
            return True
        kids = node.children()
        stack.extend(kids.apply(i) for i in range(kids.size()))
    return False


def state_posture(df: DataFrame):
    """The state posture ``df`` starts under: ``tws_state_posture`` for
    a transformWithState plan, ``stream_state_partitions`` otherwise."""
    spark = df.sparkSession
    if _holds_transform_with_state(df):
        return tws_state_posture(spark)
    return stream_state_partitions(spark)


def run_stream_to_memory(
    result: DataFrame,
    name: str = "stream_result",
    output_mode: str = "complete",
    skip_nodata: bool = False,
) -> DataFrame:
    """Run a streaming plan to completion with trigger(availableNow)
    into a memory sink, under ``state_posture(result)``; returns the
    sink table. availableNow processes everything currently in the
    source then stops — the deterministic 'catch-up run' mode matching
    the reference's cron semantics.

    Complete-mode runs skip the trailing no-data micro-batch: the last
    data batch already emitted the full result, so the extra batch is
    pure fixed cost. Append/update modes KEEP it — that final batch is
    where the advanced watermark flushes closed windows / evicted
    join state, and dropping it withholds rows. ``skip_nodata=True``
    opts an update-mode query out too, valid ONLY when the operator
    emits everything in its data batches (timer-free TWS processors:
    no watermark-driven flush exists, so the extra batch is a pure
    state-store commit cycle)."""
    qname = f"{name}_{next(_memsink_seq)}"
    spark = result.sparkSession
    nodata = {}
    if output_mode == "complete" or skip_nodata:
        nodata = {"spark.sql.streaming.noDataMicroBatches.enabled": "false"}
    with state_posture(result), _conf_scope(spark, nodata):
        query = (
            result.writeStream.format("memory")
            .queryName(qname)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
        query.awaitTermination()
        record_stream_plan(name, query)
    return spark.table(qname)


def run_foreach_batch(
    stream: DataFrame,
    sink: Callable[[DataFrame, int], None],
    checkpoint_dir: str,
    name: str,
) -> None:
    """Drive ``stream`` through the foreachBatch ``sink`` to completion
    (append mode, availableNow, checkpointed) under
    ``state_posture(stream)``; the last micro-batch plan is recorded
    under ``name``."""
    with state_posture(stream):
        query = (
            stream.writeStream.foreachBatch(sink)
            .option("checkpointLocation", checkpoint_dir)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        query.awaitTermination()
        record_stream_plan(name, query)


def foreach_batch_upsert(
    state_dir: str,
    keys: Sequence[str],
    order_by: Sequence[str],
    transform: Callable[[DataFrame], DataFrame] | None = None,
) -> Callable[[DataFrame, int], None]:
    """K3/E3 as a streaming sink: each micro-batch merges into a
    parquet state table with keep-last-by-key semantics
    (``sinks.dedup_table_swap``).

    Keep-last order is (batch_id, *order_by): later batches win, ties
    within a batch resolved by the caller's total order — the
    reference's ingest-sequence semantics (dataingestion1.py:166-168)
    made deterministic. The rewrite goes to a temp dir then swaps, so
    a failed batch never corrupts state (re-running the batch is
    idempotent: same keys, same keep-last outcome), and a batch whose
    schema disagrees with the state table raises before writing.
    """

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        if transform is not None:
            batch_df = transform(batch_df)
        batch = batch_df.withColumn("_batch_id", F.lit(int(batch_id)))
        written = dedup_table_swap(
            batch.sparkSession, state_dir, batch, keys, ["_batch_id", *order_by]
        )
        record_batch_plan("upsert_batch", written)

    return _apply


def run_upsert_stream(
    events: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    keys: Sequence[str] = ("event_id",),
    order_by: Sequence[str] = ("ts",),
) -> None:
    """Drive a stream through the foreachBatch upsert to completion."""
    run_foreach_batch(
        events,
        foreach_batch_upsert(state_dir, keys, order_by),
        checkpoint_dir,
        "upsert_stream",
    )


def incremental_pipeline(
    video_stream: DataFrame,
    channels: DataFrame,
    resource_names: DataFrame,
    shownames: DataFrame,
    cpm_categories: DataFrame,
    analytics: DataFrame,
    fact_dir: str,
    checkpoint_dir: str,
) -> None:
    """The E1 pipeline, incremental: each micro-batch of newly
    ingested videos runs the FULL enrichment chain (pipeline.
    build_wide_fact — dedup, in-plan dim lookups, analytics merge,
    derived metrics) and upserts into the wide-fact table keep-last by
    video_id. This is the reference's twice-daily cron loop
    (dags/Dashboard-pipeline.py:26) as a checkpointed stream: a
    re-ingested video in a later batch overwrites its earlier row,
    exactly like the sheet-merge + BigQuery-dedup cycle.

    All enrichment is per-row (the dims are literal-map lookups folded
    into the projection), so incremental results equal the batch
    pipeline over the union of batches — verified by
    tests/test_streaming.py.
    """
    from youtube_etl_automated_pipeline_spark.pipeline import build_wide_fact

    def enrich(batch: DataFrame) -> DataFrame:
        return build_wide_fact(
            batch, channels, resource_names, shownames, cpm_categories, analytics
        )

    run_foreach_batch(
        video_stream,
        foreach_batch_upsert(fact_dir, ["video_id"], ["ingest_seq"], transform=enrich),
        checkpoint_dir,
        "incremental_pipeline",
    )
