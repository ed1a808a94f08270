"""Semantic tests for the evaluation operators (plans/queries_eval.py):
exact Python recomputation of kappa, the coverage curve, and the
NDCG/RR readout."""

from __future__ import annotations

import math

from tests.test_retrieval import _docs, _toks

SF = "/root/testdata/sf0.001"


def test_kappa_matches_exact_formula(spark):
    from youtube_etl_automated_pipeline_spark.plans.queries_eval import (
        cohens_kappa_langid,
    )
    from youtube_etl_automated_pipeline_spark.plans.queries_curation import text_lang_id

    # text_lang_id is itself strict-oracle-verified; rebuild the
    # confusion matrix from its output and recompute kappa exactly.
    preds = text_lang_id(spark, SF).collect()
    conf: dict[tuple[str, str], int] = {}
    for r in preds:
        if r.lang is None:
            continue
        k = (r.lang, r.predicted_lang)
        conf[k] = conf.get(k, 0) + 1
    n = sum(conf.values())
    a = sum(v for (x, y), v in conf.items() if x == y)
    rows: dict[str, int] = {}
    cols: dict[str, int] = {}
    for (x, y), v in conf.items():
        rows[x] = rows.get(x, 0) + v
        cols[y] = cols.get(y, 0) + v
    pnum = sum(rows[l] * cols.get(l, 0) for l in rows)
    kappa_micro = math.floor((a * n - pnum) / (n * n - pnum) * 1e6 + 0.5)

    [r] = cohens_kappa_langid(spark, SF).collect()
    assert (r.n_docs, r.n_agree, r.kappa_micro) == (n, a, kappa_micro)
    assert -1_000_000 <= r.kappa_micro <= 1_000_000


def test_vocab_coverage_matches_python(spark):
    from youtube_etl_automated_pipeline_spark.plans.queries_eval import (
        VOCAB_KS,
        vocab_coverage_curve,
    )

    counts: dict[str, int] = {}
    for _, t, _ in _docs(spark):
        for w in _toks(t):
            counts[w] = counts.get(w, 0) + 1
    order = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))
    total = sum(counts.values())
    cums = []
    acc = 0
    for _, c in order:
        acc += c
        cums.append(acc)

    got = {r.k: (r.vocab_used, r.coverage_ppm) for r in
           vocab_coverage_curve(spark, SF).collect()}
    assert set(got) == set(VOCAB_KS)
    for k in VOCAB_KS:
        used = min(k, len(order))
        assert got[k] == (used, cums[used - 1] * 1_000_000 // total)
    # coverage is monotone in k and ends at (or below) full mass
    pp = [got[k][1] for k in sorted(VOCAB_KS)]
    assert pp == sorted(pp) and pp[-1] <= 1_000_000


def test_rank_eval_matches_python(spark):
    from youtube_etl_automated_pipeline_spark.plans.queries_eval import (
        EVAL_AT,
        retrieval_rank_eval,
    )
    from youtube_etl_automated_pipeline_spark.plans.queries_retrieval import (
        BM25_TERMS,
    )

    docs = _docs(spark)
    dls = {d: len(_toks(t)) for d, t, _ in docs}
    n, sum_dl = len(dls), sum(dls.values())
    tf: dict[tuple[int, str], int] = {}
    for d, t, _ in docs:
        for w in _toks(t):
            if w in BM25_TERMS:
                tf[(d, w)] = tf.get((d, w), 0) + 1
    df: dict[str, int] = {}
    for (_, w) in tf:
        df[w] = df.get(w, 0) + 1
    scores: dict[int, int] = {}
    grades: dict[int, int] = {}
    for (d, w), f in tf.items():
        idf = math.log((n - df[w] + 0.5) / (df[w] + 0.5) + 1.0)
        contrib = idf * (f * (1.2 + 1.0)) / (
            f + 1.2 * (1.0 - 0.75 + 0.75 * dls[d] * n / sum_dl)
        )
        scores[d] = scores.get(d, 0) + math.floor(1e6 * contrib + 0.5)
        grades[d] = grades.get(d, 0) + 1

    ranked = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:EVAL_AT]
    ideal = sorted(grades.items(), key=lambda kv: (-kv[1], kv[0]))[:EVAL_AT]
    dcg = sum(
        math.floor(1e6 * grades[d] / math.log2(i + 2) + 0.5)
        for i, (d, _) in enumerate(ranked)
    )
    idcg = sum(
        math.floor(1e6 * g / math.log2(i + 2) + 0.5)
        for i, (_, g) in enumerate(ideal)
    )
    first_full = next(
        (
            i + 1
            for i, (d, _) in enumerate(ranked)
            if grades[d] == len(BM25_TERMS)
        ),
        None,
    )
    rr = (
        math.floor(1e6 / first_full + 0.5) if first_full is not None else 0
    )

    [r] = retrieval_rank_eval(spark, SF).collect()
    assert (r.dcg_micro, r.idcg_micro) == (dcg, idcg)
    assert r.ndcg_micro == math.floor(dcg / idcg * 1e6 + 0.5)
    assert r.rr_micro == rr
    assert r.ndcg_micro <= 1_000_000


def test_psi_matches_python_and_is_nonnegative(spark):
    from youtube_etl_automated_pipeline_spark.plans.queries_eval import (
        PSI_BIN_CENTS,
        PSI_MAX_BIN,
        PSI_SPLIT_DATE,
        psi_revenue_drift,
    )
    from youtube_etl_automated_pipeline_spark.sources import load_table

    import datetime as dt

    split = dt.date.fromisoformat(PSI_SPLIT_DATE)
    rows = load_table(spark, SF, "orders").selectExpr(
        "CAST(floor(o_totalprice * 1e2 + 5e-1) AS BIGINT) AS cents",
        "o_orderdate",
    ).collect()
    cells: dict[int, list[int]] = {}
    for r in rows:
        b = min(r.cents // PSI_BIN_CENTS, PSI_MAX_BIN)
        e = (
            1
            if (
                r.o_orderdate is not None
                and (
                    r.o_orderdate.date()
                    if hasattr(r.o_orderdate, "date")
                    else r.o_orderdate
                )
                < split
            )
            else 0
        )
        c = cells.setdefault(b, [0, 0])
        c[0] += e
        c[1] += 1 - e
    tot_e = sum(v[0] for v in cells.values())
    tot_l = sum(v[1] for v in cells.values())
    nb = len(cells)

    expect = {}
    for b, (ne, nl) in cells.items():
        pe = (ne + 1) / (tot_e + nb)
        pl = (nl + 1) / (tot_l + nb)
        expect[b] = (
            ne,
            nl,
            math.floor(1e6 * (pl - pe) * math.log(pl / pe) + 0.5),
        )

    got = {
        r.bin: (r.n_early, r.n_late, r.psi_term_micro)
        for r in psi_revenue_drift(spark, SF).collect()
    }
    assert got == expect
    # smoothed PSI terms are non-negative by construction
    assert all(t >= 0 for (_, _, t) in got.values())
