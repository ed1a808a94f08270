"""Benchmark harness: runs the engine's headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE SHORT JSON line.

Execution is forced with the noop sink (full plan runs, no collect
cost, no driver materialization) — the same way a cluster job would
be bounded by the write, not a driver fetch.

Output contract: the driver captures only the TAIL of stdout, so the
summary line must stay short — per-query timings go to
``bench_detail.json`` next to this file, and the printed line carries
only the totals (BENCH_r01.json recorded ``"parsed": null`` when all
66 per-query timings rode on the one line).

Measurement postures (r09, per the r08 verdict's de-warming ask):
every query's block starts COLD — the memo-persist registry is
cleared and ``spark.catalog.clearCache()`` drops the shared base-table
cache — so run 1 pays the parquet scan AND every persisted-
intermediate build; runs 2..N reuse them. The line and the sidecar
carry BOTH ``value_cold`` (sum of first-run seconds) and ``value``
(sum of min-of-N seconds, the warm-cluster posture identical in
methodology to every prior round's number). Neither posture ever
reuses state across queries or across bench invocations: all caching
is in-process and de-armed at each query boundary.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from youtube_etl_automated_pipeline_spark.session import get_spark

# Fixed sentinel queries ALWAYS printed on the summary line (r08
# verdict: the driver diffs only the printed window, so a top-5-only
# line produced phantom "dropped" queries when a query simply got
# faster; a stable named set gives every round a constant window).
# Spans the heavy families: streaming floor, result-pinned resampling,
# TWS state, graph rounds, pair kernels, ANN eval, pandas kernels.
SENTINEL = (
    "streaming_minhash_dedup",
    "bootstrap_ci_nation_revenue",
    "streaming_tws_inactive_users",
    "label_propagation_communities",
    "streaming_transition_matrix",
    "knn_label_confusion",
    "dedup_embedding_cosine",
    "pair_rouge_overlap",
    "coreset_kcenter_sample",
    "hmm_viterbi_decode",
)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    # Bench runs in shared-relation mode (opt out with =0): base
    # tables are cached in memory once per QUERY BLOCK (dropped and
    # re-armed at each query boundary), the warm-cluster
    # posture — the correctness harness never sets this, so gate runs
    # stay cold-scan. Results are identical either way; only the
    # repeated parquet decode is skipped.
    os.environ.setdefault("SPARK_GRAFT_SHARED_SCAN", "1")
    shared_scan = os.environ["SPARK_GRAFT_SHARED_SCAN"] == "1"
    spark = get_spark("bench")

    from youtube_etl_automated_pipeline_spark.operators import cache_registry
    from youtube_etl_automated_pipeline_spark.sources.readers import (
        rearm_shared_cache,
    )
    from __spark_entry__ import queries

    qs = queries()
    # SPARK_GRAFT_BENCH_QUERIES=a,b,c runs a subset (scaling probes,
    # the fast pytest smoke). Unknown names fail loudly — a silent
    # skip would report a "passing" bench that measured nothing.
    only = os.environ.get("SPARK_GRAFT_BENCH_QUERIES")
    if only:
        names = [n.strip() for n in only.split(",") if n.strip()]
        unknown = [n for n in names if n not in qs]
        if unknown:
            raise SystemExit(f"SPARK_GRAFT_BENCH_QUERIES unknown: {unknown}")
        qs = {n: qs[n] for n in names}

    # JVM/codegen warmup outside the timed region
    spark.range(1_000_000).selectExpr("sum(id)").collect()

    # min of 3 runs per query: the host is a shared VM with heavy CPU
    # steal (single-run timings vary up to 4x on identical code), and
    # run 1 pays one-time codegen/JIT compile for each new expression
    # shape (plus the scan + persisted-intermediate builds, reported
    # separately as the cold column). min-of-N
    # reports reproducible steady-state work.
    runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))
    timings: dict[str, float] = {}
    timings_cold: dict[str, float] = {}
    for name, fn in qs.items():
        # De-warm (r08 verdict): drop every persisted intermediate
        # and the shared base-table cache, then re-arm the cache
        # bit so run 1 re-materializes it (cold) and runs 2+ hit
        # it (warm). Nothing survives the query boundary.
        cache_registry.clear()
        spark.catalog.clearCache()
        rearm_shared_cache(spark)
        best = float("inf")
        for i in range(runs):
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            dt = time.perf_counter() - t0
            if i == 0:
                timings_cold[name] = round(dt, 3)
            best = min(best, dt)
        if not shared_scan:
            # cold-scan mode: evict per-query persisted intermediates
            # so one query's cache never flatters the next.
            spark.catalog.clearCache()
        timings[name] = round(best, 3)

    total = round(sum(timings.values()), 3)
    total_cold = round(sum(timings_cold.values()), 3)
    med = round(sorted(timings.values())[len(timings) // 2], 3)
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    from youtube_etl_automated_pipeline_spark.session import (
        default_parallelism,
    )

    detail = {
        "metric": "engine_query_suite_seconds",
        "value": total,
        "unit": "sec",
        "sf": sf_val,
        # sidecar diffs are only meaningful at like core counts (the
        # r08 PERF diff flagged 8-core-vs-32-core deltas as
        # regressions); record the width so the contract gate can
        # refuse cross-core comparisons
        "cpus": default_parallelism(),
        "n_queries": len(timings),
        "sec_per_query_median": med,
        "queries": timings,
        "value_cold": total_cold,
        "queries_cold": timings_cold,
    }
    # SPARK_GRAFT_BENCH_DETAIL redirects the sidecar: smoke runs (the
    # contract test, sf0.001 spot checks) must not clobber the
    # committed sf0.1 sidecar the official run produces.
    detail_path = os.environ.get(
        "SPARK_GRAFT_BENCH_DETAIL",
        os.path.join(
            os.path.dirname(os.path.abspath(__file__)), "bench_detail.json"
        ),
    )
    with open(detail_path, "w") as f:
        json.dump(detail, f, indent=1, sort_keys=True)
    # printed window = top-5 slowest ∪ the fixed sentinel set (stable
    # driver diff window; sentinels missing from a subset run are
    # skipped rather than invented)
    top5 = dict(sorted(timings.items(), key=lambda kv: -kv[1])[:5])
    for s in SENTINEL:
        if s in timings:
            top5[s] = timings[s]
    line = {
        "metric": "engine_query_suite_seconds",
        "value": total,
        "unit": "sec",
        "sf": sf_val,
        "n_queries": len(timings),
        "sec_per_query_median": med,
        "queries": top5,
        "detail": "bench_detail.json",
        "value_cold": total_cold,
    }
    print(json.dumps(line))
    spark.stop()


if __name__ == "__main__":
    main()
