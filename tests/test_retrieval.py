"""Semantic tests for the retrieval/quality operators
(plans/queries_retrieval.py) beyond the oracle-parity gate: exact
pure-Python reimplementations of BM25, the bigram-LM scorer, and
tie-aware AUC, so the whole distributed chain (tokenize, count, floor
quantization, rank arithmetic) is verified bit-for-bit against an
independent sequential implementation."""

from __future__ import annotations

import hashlib
import math
import re

from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE
from youtube_etl_automated_pipeline_spark.plans.queries_retrieval import (
    postings_delta_encode,
)

SF = "/root/testdata/sf0.001"

_WS_RE = re.compile(r"[ \t\n\r\f\x0b]+")


def _toks(text: str) -> list[str]:
    norm = _WS_RE.sub(" ", text.strip(" \t\n\r\f\x0b")).lower()
    return [t for t in norm.split(" ") if t != ""]


def _md5_bucket(doc_id: int) -> int:
    return int(hashlib.md5(str(doc_id).encode()).hexdigest()[:8], 16) % 100


def _docs(spark):
    from youtube_etl_automated_pipeline_spark.sources import load_table

    return [
        (r.doc_id, r.text, r.lang)
        for r in load_table(spark, SF, "documents")
        .select("doc_id", "text", "lang")
        .collect()
        if r.text is not None
    ]


def test_bm25_matches_python_reimplementation(spark):
    from youtube_etl_automated_pipeline_spark.plans.queries_retrieval import (
        BM25_TERMS,
        BM25_TOPK,
        bm25_search_docs,
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
    scores: dict[int, tuple[int, int]] = {}
    for (d, w), f in tf.items():
        idf = math.log((n - df[w] + 0.5) / (df[w] + 0.5) + 1.0)
        contrib = idf * (f * (1.2 + 1.0)) / (
            f + 1.2 * (1.0 - 0.75 + 0.75 * dls[d] * n / sum_dl)
        )
        s, k = scores.get(d, (0, 0))
        scores[d] = (s + math.floor(1e6 * contrib + 0.5), k + 1)
    expect = sorted(
        ((s, d, k) for d, (s, k) in scores.items()),
        key=lambda x: (-x[0], x[1]),
    )[:BM25_TOPK]

    got = bm25_search_docs(spark, SF).collect()
    assert [(r.score_micro, r.doc_id, r.n_terms) for r in got] == expect
    assert len(got) == BM25_TOPK


def test_lm_perplexity_matches_python_reimplementation(spark):
    from youtube_etl_automated_pipeline_spark.plans.queries_retrieval import (
        LM_BAND_MICRO,
        LM_TRAIN_PCT,
        lm_perplexity_buckets,
    )

    docs = _docs(spark)
    bigrams = lambda t: list(zip(_toks(t), _toks(t)[1:]))  # noqa: E731
    c_big: dict[tuple[str, str], int] = {}
    for d, t, _ in docs:
        if _md5_bucket(d) < LM_TRAIN_PCT:
            for bg in bigrams(t):
                c_big[bg] = c_big.get(bg, 0) + 1
    c_ctx: dict[str, int] = {}
    for (w1, _), c in c_big.items():
        c_ctx[w1] = c_ctx.get(w1, 0) + c
    v = len({w2 for (_, w2) in c_big}) + 1

    def nll_micro(bg):
        if bg in c_big:
            return math.floor(
                1e6 * math.log((c_ctx[bg[0]] + v) / (c_big[bg] + 1)) + 0.5
            )
        if bg[0] in c_ctx:
            return math.floor(1e6 * math.log(c_ctx[bg[0]] + v) + 0.5)
        return math.floor(1e6 * math.log(v) + 0.5)

    expect: dict[int, int] = {}
    for d, t, _ in docs:
        if _md5_bucket(d) >= LM_TRAIN_PCT:
            bgs = bigrams(t)
            if not bgs:
                continue
            total = sum(nll_micro(bg) for bg in bgs)
            band = (total // len(bgs)) // LM_BAND_MICRO
            expect[band] = expect.get(band, 0) + 1

    got = {
        r.ppl_band: r.n_docs
        for r in lm_perplexity_buckets(spark, SF).collect()
    }
    assert got == expect
    assert sum(got.values()) > 0


def test_auc_matches_python_reimplementation(spark):
    from youtube_etl_automated_pipeline_spark.plans.queries_retrieval import (
        auc_mann_whitney,
    )

    the_re = re.compile(r"\bthe\b")
    pairs = [
        (
            len(the_re.findall(_WS_RE.sub(" ", t.strip(" \t\n\r\f\x0b")).lower())),
            1 if lang == "en" else 0,
        )
        for _, t, lang in _docs(spark)
        if lang is not None
    ]
    pos = sorted(s for s, p in pairs if p == 1)
    neg = sorted(s for s, p in pairs if p == 0)
    u2 = 0
    for s in pos:
        below = sum(1 for x in neg if x < s)
        tied = sum(1 for x in neg if x == s)
        u2 += 2 * below + tied
    [r] = auc_mann_whitney(spark, SF).collect()
    assert (r.n_pos, r.n_neg, r.u2) == (len(pos), len(neg), u2)
    assert r.auc_micro == math.floor(
        u2 / (2.0 * len(pos) * len(neg)) * 1e6 + 0.5
    )
    # The synthetic corpus draws text independently of the lang label
    # (no learnable language signal by construction — same finding as
    # the NB test), so no beats-chance bar: the exact-reimpl equality
    # above is the strong check. The statistic itself must be a valid
    # probability.
    assert 0 <= r.auc_micro <= 1_000_000


def test_rrf_matches_python_reimplementation(spark):
    from youtube_etl_automated_pipeline_spark.plans.queries_retrieval import (
        BM25_TERMS,
        RRF_C,
        RRF_K,
        RRF_TOPK,
        rrf_fused_search,
        bm25_search_docs,
    )

    docs = _docs(spark)
    # relevance ranking: reuse the BM25 python reimplementation via
    # the (already exact-verified) spark result over the FULL scored
    # relation — rebuild it here independently instead.
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
    import math as _m

    for (d, w), f in tf.items():
        idf = _m.log((n - df[w] + 0.5) / (df[w] + 0.5) + 1.0)
        contrib = idf * (f * (1.2 + 1.0)) / (
            f + 1.2 * (1.0 - 0.75 + 0.75 * dls[d] * n / sum_dl)
        )
        scores[d] = scores.get(d, 0) + _m.floor(1e6 * contrib + 0.5)
    rel_order = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))
    rank_rel = {d: i + 1 for i, (d, _) in enumerate(rel_order[:RRF_C])}

    import re as _re

    the_re = _re.compile(r"\bthe\b")
    qual = {
        d: len(
            the_re.findall(
                _WS_RE.sub(" ", t.strip(" \t\n\r\f\x0b")).lower()
            )
        )
        for d, t, _ in docs
    }
    q_order = sorted(qual.items(), key=lambda kv: (-kv[1], kv[0]))
    rank_qual = {d: i + 1 for i, (d, _) in enumerate(q_order[:RRF_C])}

    def rmicro(r):
        dd = RRF_K + r
        return (2_000_000 + dd) // (2 * dd)

    fused = {
        d: (rmicro(rank_rel[d]) if d in rank_rel else 0)
        + (rmicro(rank_qual[d]) if d in rank_qual else 0)
        for d in set(rank_rel) | set(rank_qual)
    }
    expect = sorted(fused.items(), key=lambda kv: (-kv[1], kv[0]))[:RRF_TOPK]

    got = rrf_fused_search(spark, SF).collect()
    assert [(r.doc_id, r.rrf_micro) for r in got] == expect
    for r in got:
        assert r.rank_rel == rank_rel.get(r.doc_id)
        assert r.rank_qual == rank_qual.get(r.doc_id)


def test_postings_census_matches_python_referee(spark):
    """Bit-width census equals a from-scratch Python computation over
    the same postings (distinct (token, doc_id), gaps within token)."""
    from youtube_etl_automated_pipeline_spark.ext.textstats import (
        normalized_text,
        tokens,
    )
    from youtube_etl_automated_pipeline_spark.sources import load_wide

    docs = load_wide(spark, SF_SMOKE, "documents").filter(
        F.col("text").isNotNull() & F.col("doc_id").isNotNull()
    )
    postings = (
        docs.select(
            F.explode(tokens(normalized_text(F.col("text")))).alias("t"),
            "doc_id",
        )
        .filter(F.col("t") != "")
        .distinct()
        .collect()
    )
    by_token: dict[str, list[int]] = {}
    for r in postings:
        by_token.setdefault(r["t"], []).append(r["doc_id"])
    expected: dict[int, list[int]] = {}
    for ids in by_token.values():
        prev = 0
        for d in sorted(ids):
            gap = d - prev
            prev = d
            w = max(1, gap.bit_length())  # bin(0) = '0' has length 1
            agg = expected.setdefault(w, [0, 0])
            agg[0] += 1
            agg[1] += 2 * w - 1
    got = {
        r["bit_width"]: (r["n_gaps"], r["elias_gamma_bits"], r["fixed64_bits"])
        for r in postings_delta_encode(spark, SF_SMOKE).collect()
    }
    assert set(got) == set(expected)
    for w, (n, gamma) in expected.items():
        assert got[w] == (n, gamma, 64 * n), w


def test_kneser_ney_matches_pure_python(spark):
    """The distributed KN census must equal an independent pure-Python
    computation of the same formula over the same tokenization."""
    import re
    from collections import Counter, defaultdict

    from youtube_etl_automated_pipeline_spark.ext.textstats import WS_CHARS
    from youtube_etl_automated_pipeline_spark.plans.queries_retrieval import (
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
