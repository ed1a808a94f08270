"""Semantics of the dedup queries (plans/queries_dedup_adv.py) beyond
the DuckDB oracle gate: planted duplicates and score monotonicity."""

from __future__ import annotations

import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from tests.conftest import SF_SMOKE


@pytest.fixture()
def planted_docs_dir(tmp_path):
    """A testdata twin whose documents table contains one exact
    duplicate pair and one near-duplicate pair, both long enough to
    band-collide."""
    dst = str(tmp_path / "planted")
    os.makedirs(dst)
    for t in (
        "region",
        "nation",
        "customer",
        "supplier",
        "part",
        "orders",
        "lineitem",
        "events",
        "embeddings",
    ):
        shutil.copy(
            os.path.join(SF_SMOKE, f"{t}.parquet"),
            os.path.join(dst, f"{t}.parquet"),
        )
    base = (
        "the quick brown fox jumps over the lazy dog while the "
        "festival crowd watches from the river bank in the rain"
    )
    near = base.replace("rain", "snow")
    rows = [
        (1, base, "en", "web", len(base)),
        (2, base, "en", "web", len(base)),  # exact dup of 1
        (3, near, "en", "web", len(near)),  # near dup of 1/2
        (4, "completely different text about spark plans", "en", "web", 44),
    ]
    tbl = pa.table(
        {
            "doc_id": pa.array([r[0] for r in rows], pa.int64()),
            "text": pa.array([r[1] for r in rows], pa.string()),
            "lang": pa.array([r[2] for r in rows], pa.string()),
            "source": pa.array([r[3] for r in rows], pa.string()),
            "n_chars": pa.array([r[4] for r in rows], pa.int64()),
        }
    )
    pq.write_table(tbl, os.path.join(dst, "documents.parquet"))
    return dst


def test_rouge_exact_duplicate_scores_unity(spark, planted_docs_dir):
    from youtube_etl_automated_pipeline_spark.plans.queries_dedup_adv import (
        pair_rouge_overlap,
    )

    out = {
        (r["doc_a"], r["doc_b"]): r
        for r in pair_rouge_overlap(spark, planted_docs_dir).collect()
    }
    assert (1, 2) in out, sorted(out)
    exact = out[(1, 2)]
    n_toks = len(
        "the quick brown fox jumps over the lazy dog while the "
        "festival crowd watches from the river bank in the rain".split()
    )
    for m in ("r1_p_ppm", "r1_r_ppm", "r1_f_ppm", "r2_p_ppm", "r2_r_ppm", "r2_f_ppm"):
        assert exact[m] == 1_000_000, (m, exact[m])
    assert exact["r1_inter"] == n_toks
    assert exact["r2_inter"] == n_toks - 1
    # the near pair scores below unity on both orders but stays high
    for pair in ((1, 3), (2, 3)):
        if pair in out:
            r = out[pair]
            assert 800_000 < r["r1_f_ppm"] < 1_000_000
            assert r["r2_f_ppm"] < r["r1_f_ppm"]


def test_fs_pattern_scores_are_monotone(spark):
    """All-agree (pattern 15) must carry the maximum weight and
    all-disagree (pattern 0) the minimum; every per-feature agree
    weight exceeds its disagree weight (near-dups agree more often
    than the shifted-pair proxy on every field)."""
    from youtube_etl_automated_pipeline_spark.plans.queries_dedup_adv import (
        record_linkage_fs,
    )

    rows = {
        r["pattern"]: (r["n_pairs"], r["score_micro"])
        for r in record_linkage_fs(spark, SF_SMOKE).collect()
    }
    assert rows and all(n > 0 for n, _ in rows.values())
    scores = {p: s for p, (_, s) in rows.items()}
    if 15 in scores:
        assert scores[15] == max(scores.values())
    if 0 in scores:
        assert scores[0] == min(scores.values())
    # monotone in the pattern lattice: adding an agreement bit never
    # lowers the score (equivalent to w_agree >= w_disagree per field)
    for p, s in scores.items():
        for bit in range(4):
            q = p | (1 << bit)
            if q != p and q in scores:
                assert scores[q] >= s, (p, q)


def test_rouge_inflated_candidate_mass_stays_banded(spark, tmp_path):
    """Round 8 (r07 verdict item 7): when the banding threshold is
    effectively inflated — planted groups of IDENTICAL docs collide in
    every band — the candidate relation must stay exactly the banded
    census (C(k,2) per group, pairs distinct across bands), never
    all-pairs across groups, and every within-group pair scores unity
    ROUGE. This pins the 'linear in candidate mass' scaling claim in
    PLANS.md at ~20x this corpus's organic pair density."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from youtube_etl_automated_pipeline_spark.plans.queries_dedup_adv import (
        lsh_candidates,
        pair_rouge_overlap,
    )

    dst = str(tmp_path / "inflated")
    os.makedirs(dst)
    for t in (
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "embeddings",
    ):
        shutil.copy(
            os.path.join(SF_SMOKE, f"{t}.parquet"),
            os.path.join(dst, f"{t}.parquet"),
        )
    texts = [
        "the festival crowd gathered along the river bank to watch "
        "the lantern boats drift past the old stone bridge at dusk",
        "a completely different report about spark physical plans and "
        "shuffle partitioning strategies for large scale aggregation",
        "third corpus text describing tokenizer vocabularies byte "
        "pair encodings and the statistics of subword segmentation",
    ]
    K = 15  # docs per identical group -> C(15,2) = 105 pairs/group
    rows = [
        (g * 100 + i, texts[g]) for g in range(len(texts)) for i in range(K)
    ]
    tbl = pa.table(
        {
            "doc_id": pa.array([r[0] for r in rows], pa.int64()),
            "text": pa.array([r[1] for r in rows], pa.string()),
            "lang": pa.array(["en"] * len(rows), pa.string()),
            "source": pa.array(["web"] * len(rows), pa.string()),
            "n_chars": pa.array([len(r[1]) for r in rows], pa.int64()),
        }
    )
    pq.write_table(tbl, os.path.join(dst, "documents.parquet"))

    cand = lsh_candidates(spark, dst).collect()
    per_group = K * (K - 1) // 2
    # banded census exactly: identical docs collide in ALL 8 bands but
    # pairs are distinct; different groups never collide
    assert len(cand) == len(texts) * per_group, len(cand)
    for r in cand:
        assert r["doc_a"] // 100 == r["doc_b"] // 100, tuple(r)

    out = pair_rouge_overlap(spark, dst).collect()
    assert len(out) == len(texts) * per_group
    for r in out:
        assert r["r1_f_ppm"] == 1_000_000 and r["r2_f_ppm"] == 1_000_000
