"""Incremental aggregate-view maintenance (streaming materialized
view): each micro-batch writes PER-BATCH PARTIAL aggregates to its own
directory; the view is the sum of partials at read time, optionally
compacted.

Design — log-structured partials, not read-modify-write:

- a batch's contribution lands in ``state_dir/batch=<id>`` via
  overwrite, so a foreachBatch RETRY of the same batch id is a no-op
  (same input rows -> same partials -> same directory). A
  read-modify-write additive merge would double-count on retry; this
  layout is idempotent by construction.
- partials are LONG integer units (counts, exact cents), which sum
  associatively across batches in any order — the same order-free
  arithmetic argument as functions/compat.py.
- ``read_view`` folds base + all batch partials with one groupBy —
  cost O(keys x batches) rows, kept small by ``compact`` which folds
  finished batch dirs into the base (the LSM compaction step).

Scale notes: per batch this costs one shuffle on the group key over
THAT BATCH's rows only — never a rescan of history; the read-side fold
aggregates partial rows (keys x batches), not events. At 100 TB the
batch dirs become partitions of a MERGE-capable table and compaction a
background job; semantics identical. This is the complement of
streaming/merge.py: CDC MERGE maintains keyed LATEST-state, this
maintains ADDITIVE aggregate state.
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from youtube_etl_automated_pipeline_spark.sinks import overwrite_table
from youtube_etl_automated_pipeline_spark.streaming.incremental import (
    record_batch_plan,
    run_foreach_batch,
)


def _batch_dir(state_dir: str, batch_id: int) -> str:
    return os.path.join(state_dir, f"batch={int(batch_id)}")


def write_batch_partials(
    batch_df: DataFrame,
    state_dir: str,
    batch_id: int,
    keys: Sequence[str],
    measures: dict[str, Column],
) -> None:
    """Aggregate one micro-batch to partials and overwrite its batch
    directory (idempotent under retry)."""
    partials = batch_df.groupBy(*keys).agg(
        *[expr.alias(name) for name, expr in measures.items()]
    )
    record_batch_plan("agg_partials_batch", partials)
    overwrite_table(partials, _batch_dir(state_dir, batch_id))


def foreach_batch_partials(
    state_dir: str, keys: Sequence[str], measures: dict[str, Column]
):
    """foreachBatch sink maintaining the partial-aggregate log."""

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        write_batch_partials(batch_df, state_dir, batch_id, keys, measures)

    return _apply


def _partial_dirs(state_dir: str) -> list[str]:
    if not os.path.isdir(state_dir):
        return []
    return sorted(
        os.path.join(state_dir, d)
        for d in os.listdir(state_dir)
        if (d.startswith("batch=") or d == "base") and not d.endswith(".inprogress")
    )


def read_view(
    spark: SparkSession, state_dir: str, keys: Sequence[str]
) -> DataFrame:
    """The maintained view: fold base + batch partials. All partial
    columns must be associatively summable (longs)."""
    dirs = _partial_dirs(state_dir)
    if not dirs:
        raise FileNotFoundError(f"no partials under {state_dir}")
    parts = spark.read.parquet(*dirs)
    value_cols = [c for c in parts.columns if c not in keys]
    return parts.groupBy(*keys).agg(
        *[F.sum(c).alias(c) for c in value_cols]
    )


def compact(spark: SparkSession, state_dir: str, keys: Sequence[str]) -> None:
    """Fold every existing partial dir into ``base`` (LSM compaction).
    Safe against a crash mid-compact: the fold is written to a temp
    dir first and the source dirs are only removed after the swap."""
    dirs = _partial_dirs(state_dir)
    if not dirs:
        return
    old_batches = [d for d in dirs if os.path.basename(d) != "base"]
    overwrite_table(read_view(spark, state_dir, keys), os.path.join(state_dir, "base"))
    for d in old_batches:
        shutil.rmtree(d)


def run_partials_stream(
    stream: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    keys: Sequence[str],
    measures: dict[str, Column],
) -> None:
    """Drive a stream through the partial-aggregate sink to completion."""
    run_foreach_batch(
        stream,
        foreach_batch_partials(state_dir, keys, measures),
        checkpoint_dir,
        "agg_partials_stream",
    )
