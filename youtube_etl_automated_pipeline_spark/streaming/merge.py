"""Streaming CDC MERGE: a foreachBatch-driven keyed MERGE (update /
insert / delete ops) against a parquet state table, the incremental
upsert (streaming/incremental.py foreach_batch_upsert — K3/E3) grown
to full MERGE semantics.

Semantics — CDC compaction with tombstone retention:

- every op row carries a globally unique ``seq`` per key; the state
  after any prefix of batches is keep-last-by-seq over
  (base snapshot ∪ ops so far);
- DELETE rows are kept as TOMBSTONES in the state table and filtered
  only at read time: if a delete's seq outranks a late-arriving
  lower-seq update from a later micro-batch, dropping the tombstone
  would resurrect the key. Tombstone retention makes the merge
  ASSOCIATIVE — the final state is independent of how ops are split
  into micro-batches, which is also what makes a batch RETRY (Spark
  re-running foreachBatch after a failure) a no-op: re-merging the
  same (key, seq) rows cannot change the keep-last outcome.

Scale notes: each batch costs one shuffle on the key (the keep-last
window) plus a state-table rewrite; at real scale the state table is
partitioned by key range so a batch rewrites only touched partitions,
or lands in a MERGE-capable v2 table format — semantics identical.
The atomic temp-dir swap (write → os.replace) means a crashed batch
never corrupts state (reference parity: the staging-merge-flush cycle
of ingestdatainbigquery.py:103-136, with deletes added).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from youtube_etl_automated_pipeline_spark.session import input_digest, scratch_dir
from youtube_etl_automated_pipeline_spark.sinks import dedup_table_swap
from youtube_etl_automated_pipeline_spark.streaming.incremental import (
    record_batch_plan,
    run_foreach_batch,
)

CDC_SCHEMA = "key bigint, price_cents bigint, op string, seq bigint"


def cdc_run_dir(sf_dir: str) -> str:
    """The per-run state + checkpoint root of ``streaming_merge_cdc``
    over ``sf_dir``."""
    return scratch_dir("cdc", input_digest(sf_dir))


def read_state(spark: SparkSession, state_dir: str) -> DataFrame:
    if os.path.exists(os.path.join(state_dir, "_SUCCESS")):
        return spark.read.parquet(state_dir)
    return spark.createDataFrame([], CDC_SCHEMA)


def live_rows(state: DataFrame) -> DataFrame:
    """Read-time view: tombstones filtered out."""
    return state.filter(F.col("op") != "D")


def foreach_batch_merge(state_dir: str):
    """foreachBatch sink applying one MERGE step: keep-last-by-seq over
    state ∪ batch, tombstones retained (``sinks.dedup_table_swap``).
    Associative and idempotent in the batch."""

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        written = dedup_table_swap(
            batch_df.sparkSession, state_dir, batch_df, ["key"], ["seq"]
        )
        record_batch_plan("cdc_merge_batch", written)

    return _apply


def run_cdc_merge_stream(
    spark: SparkSession, src_dir: str, state_dir: str, checkpoint_dir: str
) -> None:
    """Drive the CDC file stream through the MERGE sink, one file per
    micro-batch, to completion."""
    stream = (
        spark.readStream.schema(CDC_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .parquet(src_dir)
    )
    run_foreach_batch(
        stream, foreach_batch_merge(state_dir), checkpoint_dir, "cdc_merge_stream"
    )
