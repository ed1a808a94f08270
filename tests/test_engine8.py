"""Round-8 extension operators, batch 2: Theil-Sen / Mann-Kendall
robust trend, variance-split change-point, sequence regex funnel,
k-center coreset, HMM Viterbi decode, streaming EWMA."""

from __future__ import annotations

import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE

_TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def _clone_testdata(tmp_path, skip=()):
    dst = str(tmp_path / "sf")
    os.makedirs(dst)
    for t in _TABLES:
        if t in skip:
            continue
        shutil.copy(
            os.path.join(SF_SMOKE, f"{t}.parquet"),
            os.path.join(dst, f"{t}.parquet"),
        )
    return dst


def _weekly_series(spark):
    from youtube_etl_automated_pipeline_spark.plans.queries_engine8 import (
        _weekly_nation_revenue,
    )

    series: dict[str, list[tuple[int, int]]] = {}
    for r in _weekly_nation_revenue(spark, SF_SMOKE).collect():
        series.setdefault(r["nation_name"], []).append(
            (int(r["wk"]), int(r["rev_cents"]))
        )
    for v in series.values():
        v.sort()
    return series


def test_theil_sen_matches_bruteforce(spark):
    """Sen slope (lower median of quantized pairwise slopes) and
    Mann-Kendall S/tau must equal an independent Python brute force
    over the same weekly series."""
    from youtube_etl_automated_pipeline_spark.plans.queries_engine8 import (
        theil_sen_trend,
    )

    got = {
        r["nation_name"]: r for r in theil_sen_trend(spark, SF_SMOKE).collect()
    }
    series = _weekly_series(spark)
    assert set(got) == set(series)
    for nat, pts in series.items():
        slopes, s = [], 0
        for i in range(len(pts)):
            for j in range(i + 1, len(pts)):
                (w1, c1), (w2, c2) = pts[i], pts[j]
                num = (c2 - c1) * 1_000_000
                d = w2 - w1
                q = abs(num) // d
                slopes.append(q if num >= 0 else -q)  # trunc toward zero
                s += (c2 > c1) - (c2 < c1)
        slopes.sort()
        n_pairs = len(slopes)
        r = got[nat]
        assert r["n_weeks"] == len(pts)
        assert r["n_pairs"] == n_pairs
        assert r["mk_s"] == s
        tau = abs(s) * 1_000_000 // n_pairs
        assert r["tau_ppm"] == (tau if s >= 0 else -tau)
        assert r["sen_slope_micro"] == slopes[(n_pairs + 1) // 2 - 1]


def test_changepoint_planted_shift_and_bruteforce(spark, tmp_path):
    """(a) The quantized-gain argmax must equal a Python brute force
    over the real weekly series; (b) a planted hard level shift must
    be located exactly at the planted week."""
    from youtube_etl_automated_pipeline_spark.plans.queries_engine8 import (
        changepoint_variance_split,
    )

    got = {
        r["nation_name"]: r
        for r in changepoint_variance_split(spark, SF_SMOKE).collect()
    }
    series = _weekly_series(spark)
    for nat, pts in series.items():
        cs = [c for _, c in pts]
        n = len(cs)
        total = sum(cs)
        best_gain, best_k = -1, -1
        s_l = 0
        for k in range(1, n):
            s_l += cs[k - 1]
            s_r = total - s_l
            gain = (s_l * s_l * 1_000_000) // k + (
                s_r * s_r * 1_000_000
            ) // (n - k)
            if gain > best_gain:
                best_gain, best_k = gain, k
        r = got[nat]
        assert r["left_n"] == best_k
        assert r["split_wk"] == pts[best_k - 1][0]
        lm = sum(cs[:best_k]) // best_k
        rm = (total - sum(cs[:best_k])) // (n - best_k)
        assert (r["left_mean_cents"], r["right_mean_cents"]) == (lm, rm)
        assert r["mean_shift_cents"] == rm - lm

    # planted shift: 40 flat weeks at $100, then 40 at $900, one
    # customer per nation keeps the join intact
    dst = _clone_testdata(tmp_path, skip=("orders",))
    import datetime

    rows = []
    for i in range(80):
        rows.append(
            (
                i,
                0,  # custkey 0 exists in the smoke customer table
                "O",
                100.0 if i < 40 else 900.0,
                datetime.datetime(2020, 1, 6) + datetime.timedelta(weeks=i),
                "1-URGENT",
            )
        )
    tbl = pa.table(
        {
            "o_orderkey": pa.array([r[0] for r in rows], pa.int64()),
            "o_custkey": pa.array([r[1] for r in rows], pa.int64()),
            "o_orderstatus": pa.array([r[2] for r in rows]),
            "o_totalprice": pa.array([r[3] for r in rows], pa.float64()),
            "o_orderdate": pa.array(
                [r[4] for r in rows], pa.timestamp("us")
            ),
            "o_orderpriority": pa.array([r[5] for r in rows]),
        }
    )
    pq.write_table(tbl, os.path.join(dst, "orders.parquet"))
    out = changepoint_variance_split(spark, dst).collect()
    assert len(out) == 1
    r = out[0]
    assert r["left_n"] == 40 and r["right_n"] == 40
    assert r["left_mean_cents"] == 10_000
    assert r["right_mean_cents"] == 90_000
    assert r["mean_shift_cents"] == 80_000


def test_funnel_regex_planted_sequences(spark, tmp_path):
    """Planted per-user sequences with hand-counted conversions: the
    V[CE]*P match extent is unique, so the counts are unambiguous —
    including an overlap trap (VPVP counts 2, VCPCP counts 1 plus a
    second at the trailing CP? no: C P after a P has no V — 1)."""
    from youtube_etl_automated_pipeline_spark.plans.queries_engine8 import (
        sequence_funnel_regex,
    )

    sym2type = {
        "C": "click", "E": "error", "P": "purchase",
        "S": "signup", "V": "view",
    }
    planted = {
        1: ("VCP", 1, 3),
        2: ("VPVP", 2, 2),
        3: ("VCPCP", 1, 3),
        4: ("VCECCEP", 1, 7),
        5: ("SSSS", 0, 0),
        6: ("PVC", 0, 0),
        7: ("VCPVEEP", 2, 4),
    }
    dst = _clone_testdata(tmp_path, skip=("events",))
    uids, tss, eids, types = [], [], [], []
    eid = 0
    import datetime

    for uid, (seq, _, _) in planted.items():
        for i, sym in enumerate(seq):
            uids.append(uid)
            tss.append(
                datetime.datetime(2024, 1, 1)
                + datetime.timedelta(minutes=i)
            )
            eids.append(eid)
            types.append(sym2type[sym])
            eid += 1
    tbl = pa.table(
        {
            "event_id": pa.array(eids, pa.int64()),
            "ts": pa.array(tss, pa.timestamp("us")),
            "user_id": pa.array(uids, pa.int64()),
            "event_type": pa.array(types),
            "value": pa.array([1.0] * len(uids), pa.float64()),
            "props": pa.array(["{}"] * len(uids)),
        }
    )
    pq.write_table(tbl, os.path.join(dst, "events.parquet"))
    got = {
        r["user_id"]: (r["seq_len"], r["n_conversions"], r["longest_run"])
        for r in sequence_funnel_regex(spark, dst).collect()
    }
    for uid, (seq, n_conv, longest) in planted.items():
        assert got[uid] == (len(seq), n_conv, longest), (uid, got[uid])


def test_kcenter_matches_python_greedy(spark):
    """The engine's K rounds must replay the exact Python greedy
    (same quantization, same min-vec_id seed, same tie-breaks), and
    the coverage radius must be non-increasing with distinct centers."""
    from youtube_etl_automated_pipeline_spark.plans.queries_engine8 import (
        _KC_ROUNDS,
        coreset_kcenter_sample,
    )
    from youtube_etl_automated_pipeline_spark.sources import load_table

    import math

    vecs = {
        int(r["vec_id"]): [
            int(math.floor(float(x) * 1e6 + 0.5)) for x in r["embedding"]
        ]
        for r in load_table(spark, SF_SMOKE, "embeddings").collect()
    }
    ids = sorted(vecs)
    centers = [ids[0]]
    mind = {
        i: sum((a - b) ** 2 for a, b in zip(vecs[i], vecs[centers[0]]))
        for i in ids
    }
    expect = []
    for r in range(1, _KC_ROUNDS + 1):
        far = min(ids, key=lambda i: (-mind[i], i))
        expect.append((r, centers[-1], mind[far]))
        if r < _KC_ROUNDS:
            centers.append(far)
            for i in ids:
                d = sum((a - b) ** 2 for a, b in zip(vecs[i], vecs[far]))
                if d < mind[i]:
                    mind[i] = d
    got = [
        (r["round"], r["center_vec_id"], r["radius_q"])
        for r in coreset_kcenter_sample(spark, SF_SMOKE).collect()
    ]
    assert got == expect
    radii = [g[2] for g in got]
    assert radii == sorted(radii, reverse=True)
    assert len({g[1] for g in got}) == _KC_ROUNDS


def test_viterbi_matches_independent_decode(spark):
    """The grouped-kernel decode must equal an independent Python
    Viterbi (explicit path enumeration for short sequences, DP for
    the rest) over the same symbol sequences."""
    from youtube_etl_automated_pipeline_spark.plans.queries_engine8 import (
        _HMM_EMIT,
        _HMM_INIT,
        _HMM_TRANS,
        hmm_viterbi_decode,
    )
    from youtube_etl_automated_pipeline_spark.sources import load_table

    ev = (
        load_table(spark, SF_SMOKE, "events")
        .filter(
            F.col("user_id").isNotNull()
            & F.col("ts").isNotNull()
            & F.col("event_type").isNotNull()
        )
        .select("user_id", "ts", "event_id", "event_type")
        .collect()
    )
    seqs: dict[int, list] = {}
    for r in ev:
        seqs.setdefault(int(r["user_id"]), []).append(
            (r["ts"], int(r["event_id"]), r["event_type"][0].upper())
        )
    got = {
        r["user_id"]: r for r in hmm_viterbi_decode(spark, SF_SMOKE).collect()
    }
    assert set(got) == set(seqs)
    import itertools

    for uid, rows in seqs.items():
        rows.sort()
        syms = [s for _, _, s in rows]
        n = len(syms)

        def path_cost(path):
            c = _HMM_INIT[path[0]] + _HMM_EMIT[syms[0]][path[0]]
            for t in range(1, n):
                c += _HMM_TRANS[path[t - 1]][path[t]]
                c += _HMM_EMIT[syms[t]][path[t]]
            return c

        if n <= 8:
            # exhaustive: the true argmin with lexicographic
            # tie-break equals Viterbi's pinned per-step tie-break
            # only when the optimum is unique; assert on cost alone
            # plus full equality via DP below
            best = min(path_cost(p) for p in itertools.product(range(3), repeat=n))
            assert got[uid]["path_cost"] == best
        # independent DP with explicit path carry (forward lists, no
        # backtrack — a different code shape than the kernel)
        cur = [
            (_HMM_INIT[s] + _HMM_EMIT[syms[0]][s], [s]) for s in range(3)
        ]
        for t in range(1, n):
            nxt = []
            for s in range(3):
                cands = [
                    (cur[p][0] + _HMM_TRANS[p][s], p) for p in range(3)
                ]
                c, p = min(cands)  # min tie-breaks to smallest p
                nxt.append((c + _HMM_EMIT[syms[t]][s], cur[p][1] + [s]))
            cur = nxt
        cost, fs, path = min((cur[s][0], s, cur[s][1]) for s in range(3))
        r = got[uid]
        assert r["n_steps"] == n
        assert r["path_cost"] == cost
        assert r["final_state"] == fs
        assert r["occ_s0"] == path.count(0)
        assert r["occ_s1"] == path.count(1)
        assert r["occ_s2"] == path.count(2)
        assert r["n_state_changes"] == sum(
            1 for i in range(1, n) if path[i] != path[i - 1]
        )


def test_streaming_ewma_restart_equals_oneshot_and_batch(spark, tmp_path):
    """Two micro-batches with a stop/restart between them must land on
    the batch kernel's exact integer fixed point — the EWMA state
    survives checkpoint recovery and folds later arrivals on top."""
    from youtube_etl_automated_pipeline_spark.plans.queries_analytics import (
        ewma_user_value,
    )
    from youtube_etl_automated_pipeline_spark.streaming.incremental import (
        EVENTS_STREAM_SCHEMA,
        tws_state_posture,
    )
    from youtube_etl_automated_pipeline_spark.streaming.stateful import (
        tws_ewma_user_value,
    )

    tbl = pq.read_table(os.path.join(SF_SMOKE, "events.parquet"))
    import pyarrow.compute as pc

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

    latest: dict = {}

    def run(ckpt):
        stream = (
            spark.readStream.schema(EVENTS_STREAM_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )

        def sink(batch_df, _bid):
            for r in batch_df.collect():
                u = r["user_id"]
                row = (int(r["n_events"]), int(r["ewma_cents"]))
                if u not in latest or row[0] > latest[u][0]:
                    latest[u] = row

        with tws_state_posture(spark):
            q = (
                tws_ewma_user_value(stream)
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
    incremental = dict(latest)

    latest.clear()
    run(str(tmp_path / "ckpt_ref"))  # one-shot over both files
    oneshot = dict(latest)

    assert incremental == oneshot and len(oneshot) > 0
    batch = {
        r["user_id"]: (int(r["n_events"]), int(r["ewma_cents"]))
        for r in ewma_user_value(spark, SF_SMOKE).collect()
    }
    assert incremental == batch


def test_weighted_median_matches_bruteforce_and_degrades_to_unweighted(
    spark,
):
    """(a) The histogram-refinement weighted median must equal the
    brute-force 'smallest v with 2*cumw >= W' on a synthetic skewed
    relation; (b) with all weights 1 it must equal the plain lower
    median — the degradation contract."""
    from youtube_etl_automated_pipeline_spark.plans.queries_engine8 import (
        group_weighted_median_exact,
    )

    df = spark.range(9973).select(
        (F.col("id") % 4).cast("string").alias("g"),
        (F.col("id") * F.col("id") * 31 % 1_000_003).alias("v"),
        (F.col("id") % 7 + 1).alias("w"),
    )
    rows = df.collect()
    import collections

    by_g = collections.defaultdict(list)
    for r in rows:
        by_g[r["g"]].append((int(r["v"]), int(r["w"])))

    def brute(pairs):
        pairs = sorted(pairs)
        tot = sum(w for _, w in pairs)
        t = (tot + 1) // 2
        cum = 0
        for v, w in pairs:
            cum += w
            if cum >= t:
                return v, tot

    got = {
        r["g"]: (r["wmedian_val"], r["wsum"])
        for r in group_weighted_median_exact(df, "v", "w", ["g"]).collect()
    }
    for g, pairs in by_g.items():
        v, tot = brute(pairs)
        assert got[g] == (v, tot), g

    ones = df.withColumn("w", F.lit(1))
    got1 = {
        r["g"]: r["wmedian_val"]
        for r in group_weighted_median_exact(ones, "v", "w", ["g"]).collect()
    }
    for g, pairs in by_g.items():
        vs = sorted(v for v, _ in pairs)
        assert got1[g] == vs[(len(vs) + 1) // 2 - 1], g


def test_holt_matches_independent_recursion(spark):
    """The grouped kernel must equal an independent Python replay of
    the Holt recursion (trunc division) over the collected weekly
    series, including the backtest MAE window (t >= 3)."""
    from youtube_etl_automated_pipeline_spark.plans.queries_engine8 import (
        holt_linear_backtest,
    )

    series = _weekly_series(spark)
    got = {
        r["nation_name"]: r
        for r in holt_linear_backtest(spark, SF_SMOKE).collect()
    }

    def tdiv(a, b):
        return -((-a) // b) if a < 0 else a // b

    for nat, pts in series.items():
        ys = [c for _, c in pts]
        n = len(ys)
        if n < 3:
            assert nat not in got
            continue
        lvl, tr, err = ys[0], ys[1] - ys[0], 0
        for t in range(1, n):
            yhat = lvl + tr
            if t >= 2:
                err += abs(ys[t] - yhat)
            nl = tdiv(ys[t] + 3 * (lvl + tr), 4)
            tr = tdiv((nl - lvl) + 3 * tr, 4)
            lvl = nl
        r = got[nat]
        assert r["n_weeks"] == n
        assert r["mae_cents"] == tdiv(err, n - 2)
        assert (r["final_level"], r["final_trend"]) == (lvl, tr)
        assert r["forecast_next"] == lvl + tr


def test_lpa_deterministic_and_sane(spark):
    """Synchronous LPA on a planted two-clique graph must converge to
    exactly two communities labeled by each clique's smallest node,
    and the engine run must be reproducible (deterministic
    tie-breaks)."""
    from pyspark.sql import Window
    from youtube_etl_automated_pipeline_spark.plans.queries_engine8 import (
        LPA_ROUNDS,
    )

    # two 6-cliques bridged by one edge; symmetric edge list
    import itertools

    def clique(nodes):
        return [
            (a, b) for a, b in itertools.permutations(nodes, 2) if a != b
        ]

    edges_rows = clique(range(1, 7)) + clique(range(101, 107))
    edges_rows += [(6, 101), (101, 6)]
    edges = spark.createDataFrame(edges_rows, "src bigint, dst bigint")

    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("lbl", F.col("node"))
    )
    w = Window.partitionBy("dst").orderBy(F.desc("c"), F.asc("lbl"))
    for _ in range(LPA_ROUNDS):
        cnt = (
            edges.join(labels, edges.src == labels.node)
            .groupBy("dst", "lbl")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        labels = (
            cnt.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select(F.col("dst").alias("node"), "lbl")
        )
    out = {r["node"]: r["lbl"] for r in labels.collect()}
    assert {out[n] for n in range(1, 7)} == {1}
    assert {out[n] for n in range(101, 107)} == {101}


def test_streaming_funnel_restart_equals_oneshot_and_batch(
    spark, tmp_path
):
    """Two micro-batches with a stop/restart between them must equal
    the one-shot run and the batch twin — the accumulated symbol
    string survives checkpoint recovery."""
    from youtube_etl_automated_pipeline_spark.plans.queries_engine8 import (
        sequence_funnel_regex,
    )
    from youtube_etl_automated_pipeline_spark.streaming.incremental import (
        EVENTS_STREAM_SCHEMA,
        tws_state_posture,
    )
    from youtube_etl_automated_pipeline_spark.streaming.stateful import (
        tws_funnel_seq,
    )

    tbl = pq.read_table(os.path.join(SF_SMOKE, "events.parquet"))
    import pyarrow.compute as pc

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

    latest: dict = {}

    def run(ckpt):
        stream = (
            spark.readStream.schema(EVENTS_STREAM_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )

        def sink(batch_df, _bid):
            for r in batch_df.collect():
                u = r["user_id"]
                row = (
                    int(r["seq_len"]),
                    int(r["n_conversions"]),
                    int(r["longest_run"]),
                )
                if u not in latest or row[0] > latest[u][0]:
                    latest[u] = row

        with tws_state_posture(spark):
            q = (
                tws_funnel_seq(stream)
                .writeStream.foreachBatch(sink)
                .outputMode("update")
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()

    run(str(tmp_path / "ckpt"))
    pq.write_table(tbl.slice(half), src / "b.parquet")
    run(str(tmp_path / "ckpt"))  # RESTART: string state recovers
    incremental = dict(latest)

    latest.clear()
    run(str(tmp_path / "ckpt_ref"))  # one-shot over both files
    oneshot = dict(latest)

    assert incremental == oneshot and len(oneshot) > 0
    batch = {
        r["user_id"]: (
            int(r["seq_len"]),
            int(r["n_conversions"]),
            int(r["longest_run"]),
        )
        for r in sequence_funnel_regex(spark, SF_SMOKE).collect()
    }
    assert incremental == batch


def test_decision_stump_matches_bruteforce(spark):
    """The one-scan histogram stump must equal a Python brute force
    that evaluates every (feature, bucket) candidate with exact
    integer arithmetic over the same bucketing."""
    import re as _re

    from youtube_etl_automated_pipeline_spark.plans.queries_engine8 import (
        STUMP_BUCKETS,
        decision_stump_quality,
    )
    from youtube_etl_automated_pipeline_spark.sources import load_table

    docs = [
        r
        for r in load_table(spark, SF_SMOKE, "documents").collect()
        if r["text"] is not None and r["lang"] is not None
    ]
    feats = {"n_chars": [], "n_digits": [], "n_spaces": []}
    ys = []
    for r in docs:
        ys.append(1 if r["lang"] == "en" else 0)
        feats["n_chars"].append(int(r["n_chars"]))
        feats["n_digits"].append(len(_re.findall("[0-9]", r["text"])))
        feats["n_spaces"].append(r["text"].count(" "))
    B = STUMP_BUCKETS
    best = None
    for f in sorted(feats):
        xs = feats[f]
        lo, hi = min(xs), max(xs)
        span = hi - lo + 1
        agg = {}
        for x, y in zip(xs, ys):
            b = (x - lo) * B // span
            p, n = agg.get(b, (0, 0))
            agg[b] = (p + y, n + 1 - y)
        tp = sum(p for p, _ in agg.values())
        tn = sum(n for _, n in agg.values())
        lp = ln = 0
        for b in sorted(agg):
            p, n = agg[b]
            lp, ln = lp + p, ln + n
            rp, rn = tp - lp, tn - ln
            if lp + ln == 0 or rp + rn == 0:
                continue
            score = (lp * lp + ln * ln) * 1_000_000 // (lp + ln) + (
                rp * rp + rn * rn
            ) * 1_000_000 // (rp + rn)
            key = (-score, f, b)
            if best is None or key < best[0]:
                thr = lo + ((b + 1) * span + B - 1) // B - 1
                best = (
                    key,
                    (
                        f, b, thr, lp + ln, rp + rn, lp, rp, score,
                        (max(lp, ln) + max(rp, rn)) * 1_000_000
                        // (lp + ln + rp + rn),
                    ),
                )
    got = decision_stump_quality(spark, SF_SMOKE).collect()
    assert len(got) == 1
    r = got[0]
    assert (
        r["feature"], r["split_bucket"], r["threshold"], r["n_left"],
        r["n_right"], r["left_pos"], r["right_pos"], r["score_q"],
        r["train_acc_ppm"],
    ) == best[1]


def test_acf_matches_exact_python(spark):
    """The DECIMAL(38) ACF must equal an unbounded-int Python
    computation (mean-free scaled deviations, truncating ppm)."""
    from youtube_etl_automated_pipeline_spark.plans.queries_engine8 import (
        ACF_MAX_LAG,
        weekly_revenue_acf,
    )

    series = _weekly_series(spark)
    got = {
        (r["nation_name"], r["lag"]): r["acf_ppm"]
        for r in weekly_revenue_acf(spark, SF_SMOKE).collect()
    }

    def tdiv(a, b):
        return -((-a) // b) if a < 0 else a // b

    for nat, pts in series.items():
        xs = [c for _, c in pts]
        n = len(xs)
        s = sum(xs)
        d = [x * n - s for x in xs]
        den = sum(v * v for v in d)
        for k in range(1, ACF_MAX_LAG + 1):
            num = sum(d[t] * d[t - k] for t in range(k, n))
            assert got[(nat, k)] == tdiv(num * 1_000_000, den), (nat, k)
    assert len(got) == len(series) * ACF_MAX_LAG
