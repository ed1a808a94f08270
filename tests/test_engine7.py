"""Round-8 extension operators: multi-rank exact quantiles, exact
two-pass heavy hitters (Misra-Gries), Kneser-Ney bigram smoothing,
SCD2 point-in-time join, streaming transition matrix."""

from __future__ import annotations

import os

import pyarrow.parquet as pq
import pytest

from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE


def test_multi_quantiles_equal_bruteforce_wide_range(spark):
    """All four ranks exact on a heavy-tailed ~1e16-span column, and
    the shared pass-1 histogram stays groups x MED_BUCKETS."""
    from youtube_etl_automated_pipeline_spark.plans.queries_engine7 import (
        QUANTILES_PCT,
        group_quantiles_exact,
    )

    df = spark.range(14001).select(
        (F.col("id") % 5).cast("int").alias("c_nationkey"),
        (F.col("id") * F.col("id") * F.col("id") * 997 + F.col("id")).alias(
            "v"
        ),
    )
    got = {
        (r["c_nationkey"], r["q"]): r["val"]
        for r in group_quantiles_exact(df, "v").collect()
    }
    from collections import defaultdict

    groups = defaultdict(list)
    for r in df.collect():
        groups[r["c_nationkey"]].append(r["v"])
    for k, vs in groups.items():
        vs.sort()
        n = len(vs)
        for q in QUANTILES_PCT:
            r = max((n * q + 99) // 100, 1)
            assert got[(k, q)] == vs[r - 1], (k, q)
    assert len(got) == 5 * len(QUANTILES_PCT)


def test_heavy_hitters_mg_pruning_never_drops_a_true_hitter(spark, tmp_path):
    """Planted skew with 25x more distinct keys than MG counters: the
    per-partition summaries MUST prune (the capacity bound is active)
    yet the final result still equals the brute-force GROUP BY ...
    HAVING census — the Misra-Gries superset guarantee, exercised for
    real instead of trusted."""
    import pyarrow as pa

    from youtube_etl_automated_pipeline_spark.plans.queries_engine7 import (
        HH_FACTOR,
        MG_CAPACITY,
        heavy_hitters_exact_twopass,
    )

    dst = str(tmp_path / "skew")
    os.makedirs(dst)
    for t in (
        "region", "nation", "customer", "supplier", "part",
        "orders", "events", "documents", "embeddings",
    ):
        import shutil

        shutil.copy(
            os.path.join(SF_SMOKE, f"{t}.parquet"),
            os.path.join(dst, f"{t}.parquet"),
        )
    # 50k distinct tail keys (one row each) + 5 heavy keys; with the
    # engine's 32-way scan, partitions see ~1.5k+ distinct keys and
    # every heavy key appears in every partition well above the local
    # error bound. n = 50k + 5*1000; heavy iff count * 1000 > n.
    keys = list(range(100_000, 150_000))
    heavy = [7, 11, 13, 17, 19]
    for h in heavy:
        keys.extend([h] * 1000)
    tbl = pa.table({"l_suppkey": pa.array(keys, pa.int64())})
    pq.write_table(tbl, os.path.join(dst, "lineitem.parquet"))

    n = len(keys)
    want = sorted(
        (k, c)
        for k, c in {h: 1000 for h in heavy}.items()
        if c * HH_FACTOR > n
    )
    assert want, "fixture must contain true heavy hitters"
    assert 50_000 > 25 * MG_CAPACITY / 2  # pruning is genuinely active

    got = sorted(
        (r["l_suppkey"], r["n_rows"])
        for r in heavy_hitters_exact_twopass(spark, dst).collect()
    )
    assert got == want


def test_kneser_ney_matches_pure_python(spark):
    """The distributed KN census must equal an independent pure-Python
    computation of the same formula over the same tokenization."""
    import re
    from collections import Counter, defaultdict

    from youtube_etl_automated_pipeline_spark.ext.textstats import WS_CHARS
    from youtube_etl_automated_pipeline_spark.plans.queries_engine7 import (
        KN_TOP,
        kneser_ney_bigrams,
    )
    from youtube_etl_automated_pipeline_spark.sources import load_table

    docs = load_table(spark, SF_SMOKE, "documents").collect()
    ws = re.compile("[" + WS_CHARS + "]+")
    cab: Counter = Counter()
    for r in docs:
        t = r["text"]
        if t is None or t.strip() == "":
            continue
        toks = ws.split(ws.sub(" ", t.strip()).lower())
        for a, b in zip(toks, toks[1:]):
            cab[(a, b)] += 1
    c_a: Counter = Counter()
    n1_a: Counter = Counter()
    n1_b: Counter = Counter()
    for (a, b), c in cab.items():
        c_a[a] += c
        n1_a[a] += 1
        n1_b[b] += 1
    T = len(cab)
    want = {}
    for (a, b), c in cab.items():
        want[(a, b)] = (
            c,
            (max(4 * c - 3, 0) * T + 3 * n1_a[a] * n1_b[b])
            * 1_000_000
            // (4 * c_a[a] * T),
        )
    top = sorted(want.items(), key=lambda kv: (-kv[1][0], kv[0]))[:KN_TOP]

    got = [
        ((r["from_tok"], r["to_tok"]), (r["n_ab"], r["p_kn_ppm"]))
        for r in kneser_ney_bigrams(spark, SF_SMOKE).collect()
    ]
    assert got == top and len(got) == KN_TOP
    # smoothing sanity: every prob in (0, 1e6); observed mass per
    # context is below 1 (unseen mass is reserved by the discount)
    per_a = defaultdict(int)
    for (a, _b), (_c, p) in got:
        assert 0 < p < 1_000_000
        per_a[a] += p
    # contexts fully inside the top slice can't exceed the ppm unit
    assert all(v <= 1_000_000 for v in per_a.values())


def test_scd2_pit_join_equals_bruteforce(spark):
    """The as-of union-trick point-in-time join must agree with a
    brute-force per-probe interval scan in plain Python."""
    from collections import defaultdict

    from youtube_etl_automated_pipeline_spark.plans.queries_engine7 import (
        scd2_point_in_time_join,
    )
    from youtube_etl_automated_pipeline_spark.sources import load_table

    orders = load_table(spark, SF_SMOKE, "orders").collect()
    li = load_table(spark, SF_SMOKE, "lineitem").collect()

    # dimension: last priority per (cust, day), islands, intervals
    per_cust_day = {}
    for r in orders:
        if r["o_orderdate"] is None:
            continue
        k = (r["o_custkey"], r["o_orderdate"])
        if k not in per_cust_day or r["o_orderkey"] > per_cust_day[k][0]:
            per_cust_day[k] = (r["o_orderkey"], r["o_orderpriority"])
    series = defaultdict(list)
    for (c, d), (_ok, p) in per_cust_day.items():
        series[c].append((d, p))
    intervals = defaultdict(list)  # cust -> [(from, to|None, prio)]
    for c, rows in series.items():
        rows.sort()
        runs = []
        for d, p in rows:
            if not runs or runs[-1][2] != p:
                runs.append([d, None, p])
            # extend: valid_to set when next run opens
        for i in range(len(runs) - 1):
            import datetime

            runs[i][1] = runs[i + 1][0] - datetime.timedelta(days=1)
        intervals[c] = runs

    cust_of = {r["o_orderkey"]: r["o_custkey"] for r in orders}
    agg = defaultdict(lambda: [0, 0, False])  # (matched, prio) -> [n, cents, any_cents]
    for r in li:
        if r["l_shipdate"] is None:
            continue
        c = cust_of.get(r["l_orderkey"])
        day = r["l_shipdate"]
        hit = None
        for vf, vt, p in intervals.get(c, []):
            if day >= vf and (vt is None or day <= vt):
                hit = p
                break
        matched = any(day >= vf for vf, _vt, _p in intervals.get(c, []))
        key = (matched, hit if matched else None)
        cell = agg[key]
        cell[0] += 1
        if r["l_extendedprice"] is not None:
            import math

            cell[1] += math.floor(r["l_extendedprice"] * 100.0 + 0.5)
            cell[2] = True

    want = {
        k: (v[0], v[1] if v[2] else None) for k, v in agg.items()
    }
    got = {
        (r["matched"], r["priority_state"]): (r["n_items"], r["revenue_cents"])
        for r in scd2_point_in_time_join(spark, SF_SMOKE).collect()
    }
    assert got == want and len(got) > 1


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
    from youtube_etl_automated_pipeline_spark.streaming.incremental import (
        EVENTS_STREAM_SCHEMA,
        tws_state_posture,
    )
    from youtube_etl_automated_pipeline_spark.streaming.stateful import (
        tws_transition_deltas,
    )

    tbl = pq.read_table(os.path.join(SF_SMOKE, "events.parquet"))
    # split by ts order so batch 2 is strictly later arrivals
    import pyarrow.compute as pc

    tbl = tbl.take(pc.sort_indices(tbl, sort_keys=[("ts", "ascending"), ("event_id", "ascending")]))
    half = tbl.num_rows // 2
    src = tmp_path / "events"
    src.mkdir()
    pq.write_table(tbl.slice(0, half), src / "a.parquet")

    captured: list[dict] = []

    def run(ckpt):
        stream = (
            spark.readStream.schema(EVENTS_STREAM_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )

        def sink(batch_df, _bid):
            for r in batch_df.collect():
                captured.append(
                    (r["from_type"], r["to_type"], int(r["n"]))
                )

        with tws_state_posture(spark):
            q = (
                tws_transition_deltas(stream)
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
    from collections import Counter

    incremental = Counter()
    for a, b, n in captured:
        incremental[(a, b)] += n

    captured.clear()
    run(str(tmp_path / "ckpt_ref"))  # one-shot over both files
    oneshot = Counter()
    for a, b, n in captured:
        oneshot[(a, b)] += n

    assert incremental == oneshot and len(oneshot) > 0
    batch = {
        (r["from_type"], r["to_type"]): r["n_transitions"]
        for r in event_transition_matrix(spark, SF_SMOKE).collect()
    }
    assert dict(incremental) == batch
