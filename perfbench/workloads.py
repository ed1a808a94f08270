"""Workload definitions and the pass runner.

A pass runs every query of one workload once, in order. A query is
built by calling its registry function (``__spark_entry__.queries()``)
and executed by collecting its rows, as the reference dashboard reads
them. ``etl_cycle`` also builds ``pipeline_e2e``'s wide fact and flushes
it through ``sinks.flush`` twice, as the reference's 10:00 and 18:00
runs do; the two batches overlap on video_id.
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass

FLUSH_QUERY = "pipeline_e2e"


@dataclass(frozen=True)
class Workload:
    name: str
    queries: tuple[str, ...]
    why: str
    sf: float  # default table scale
    flush: bool = False


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "etl_cycle",
            (
                "flagship_enrich_dedup_agg",
                "keep_last_dedup",
                "merge_upsert_keep_last",
                "derived_metrics",
                "q3_shipping_priority",
                "q21_sole_return_supplier",
            ),
            "the reference job: pipeline_e2e wide fact flushed twice through "
            "sinks.flush beside the dashboard reads; scan, shuffle, broadcast, "
            "sink writes; no Python workers, no streaming",
            sf=0.03,
            flush=True,
        ),
        Workload(
            "stream_state",
            (
                "streaming_tws_inactive_users",
                "streaming_merge_cdc",
                "streaming_stream_stream_join",
                "streaming_incremental_agg",
                "streaming_session_window",
            ),
            "availableNow start/stop, trigger phases, state-store commits and "
            "the TWS Python runner; the streaming floor",
            sf=0.03,
        ),
        Workload(
            "curation_kernels",
            (
                "knn_label_confusion",
                "dedup_embedding_cosine",
                "pair_rouge_overlap",
                "dedup_minhash_precision",
                "semantic_dedup_prune",
                "naive_bayes_lang_confusion",
            ),
            "Arrow Python workers (ext/), eager builds in the calling process and "
            "memo_persist; small scans and shuffles",
            sf=0.1,
        ),
    )
}

# The 10:00 run flushes video_id % 10 in [0, 6), the 18:00 run
# [4, 10): together every video, with 4 and 5 flushed twice.
FLUSH_BATCHES = ((1, 0, 6), (2, 4, 10))


def flush_paths(work_dir: str, pass_no: int) -> tuple[str, str]:
    """(staging, table) directories of one pass's flush cycle."""
    base = os.path.join(work_dir, f"flush_p{pass_no}")
    return os.path.join(base, "staging"), os.path.join(base, "table")


def run_pass(spark, registry, workload, sf_dir, work_dir, pass_no, tracer):
    """Run one pass. Returns (wall seconds, per-query records, outputs).

    A record is ``{"build_s", "execute_s", "error"}``; outputs maps a
    query name to ``(columns, rows)`` for the oracle check. A query that
    raises is recorded and the pass goes on."""
    staging, table = flush_paths(work_dir, pass_no)
    shutil.rmtree(os.path.dirname(table), ignore_errors=True)
    records: dict[str, dict] = {}
    outputs: dict[str, tuple] = {}
    t0 = time.perf_counter()
    with tracer.pass_span(pass_no):
        for name in workload.queries:
            rec = records[name] = {"build_s": 0.0, "execute_s": 0.0, "error": None}
            try:
                a = time.perf_counter()
                with tracer.phase(pass_no, name, "build"):
                    df = registry[name](spark, sf_dir)
                b = time.perf_counter()
                with tracer.phase(pass_no, name, "execute"):
                    rows = df.collect()
                c = time.perf_counter()
                rec["build_s"], rec["execute_s"] = b - a, c - b
                outputs[name] = (list(df.columns), [tuple(r) for r in rows])
            except Exception as e:  # noqa: BLE001 - a failed query counts, the pass goes on
                rec["error"] = f"{type(e).__name__}: {e}"[:500]
        if workload.flush:
            records["flush"] = _flush_cycle(
                spark, registry, sf_dir, staging, table, pass_no, tracer
            )
    return time.perf_counter() - t0, records, outputs


def _flush_cycle(spark, registry, sf_dir, staging, table, pass_no, tracer):
    from pyspark.sql import functions as F

    from youtube_etl_automated_pipeline_spark import sinks

    rec = {"build_s": 0.0, "execute_s": 0.0, "error": None}
    try:
        a = time.perf_counter()
        with tracer.phase(pass_no, FLUSH_QUERY, "build"):
            wide = registry[FLUSH_QUERY](spark, sf_dir)
        rec["build_s"] = time.perf_counter() - a
        bucket = F.col("video_id").cast("long") % 10
        for seq, lo, hi in FLUSH_BATCHES:
            batch = wide.filter((bucket >= lo) & (bucket < hi)).withColumn(
                "flush_seq", F.lit(seq)
            )
            a = time.perf_counter()
            with tracer.phase(pass_no, FLUSH_QUERY, "execute"):
                sinks.overwrite_table(batch, staging)
            with tracer.phase(pass_no, "flush", "execute"):
                sinks.flush(spark, staging, table, "video_id", "flush_seq")
            rec["execute_s"] += time.perf_counter() - a
    except Exception as e:  # noqa: BLE001 - a failed flush counts, the run goes on
        rec["error"] = f"{type(e).__name__}: {e}"[:500]
    return rec
