"""Doulion-posture variance/unbiasedness check for the sampled
triangle census (round-2 verdict item 5).

``triangle_count_suppliers`` runs on a deterministic 1-in-4 node
sample and documents the count/p³ estimator. This test runs the EXACT
census (same plan, node_mod=1) on the smoke fixture, enumerates the
graph's triangles in pure Python, derives the estimator's true
variance under independent 1-in-4 node survival — including the
positive covariance between node-sharing triangles:

  q  = P(triangle survives)           = p³         (p = 1/4)
  q2 = P(two triangles sharing an edge both survive) = p⁴
  q1 = P(two triangles sharing one node both survive) = p⁵
  disjoint triangles are independent (per-node classes independent)

  Var[T̂] = (1/p³)² · [ T·q(1-q) + N₂·(q2 - q²) + N₁·(q1 - q²) ]

and asserts the deterministic modulo sample's estimate lands inside
the 4σ envelope of that distribution (plus an absolute floor for
tiny-count graphs where σ < 1 triangle).
"""

from __future__ import annotations

import math
from itertools import combinations

from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE
from youtube_etl_automated_pipeline_spark.plans.queries_graph import (
    TRI_NODE_MOD,
    _tri_graph,
    triangle_census,
)


def _python_triangles(edge_rows):
    adj: dict[int, set[int]] = {}
    for r in edge_rows:
        a, b = int(r["a"]), int(r["b"])
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    tris = set()
    for a, b in {(min(x, y), max(x, y)) for x in adj for y in adj[x]}:
        for c in adj[a] & adj[b]:
            tris.add(frozenset((a, b, c)))
    return tris


def test_doulion_estimator_within_variance_bound(spark):
    p = 1.0 / TRI_NODE_MOD
    exact_row = triangle_census(spark, SF_SMOKE, node_mod=1).collect()[0]
    sampled_row = triangle_census(spark, SF_SMOKE).collect()[0]
    t_exact = exact_row["triangles"]
    t_sampled = sampled_row["triangles"]
    estimate = t_sampled / p**3

    # independent Python enumeration doubles as a census ground truth
    edges = _tri_graph(spark, SF_SMOKE, node_mod=1)[0].collect()
    tris = _python_triangles(edges)
    assert len(tris) == t_exact, "Spark census disagrees with enumeration"
    assert t_exact > 0, "smoke graph must contain triangles"

    q = p**3
    q_edge, q_node = p**4, p**5
    n2 = n1 = 0
    tri_list = list(tris)
    for s, t in combinations(tri_list, 2):
        shared = len(s & t)
        if shared == 2:
            n2 += 1
        elif shared == 1:
            n1 += 1
    var_sampled = (
        t_exact * q * (1 - q)
        + 2 * n2 * (q_edge - q * q)
        + 2 * n1 * (q_node - q * q)
    )
    sigma = math.sqrt(var_sampled) / p**3
    # 4 sigma: the modulo classes are a fixed (not random) coloring,
    # so leave headroom; the floor covers graphs where a single
    # surviving triangle moves the estimate by 1/p^3
    bound = max(4.0 * sigma, 1.5 / p**3)
    assert abs(estimate - t_exact) <= bound, (
        f"estimate {estimate} vs exact {t_exact}, bound {bound:.1f} "
        f"(sigma {sigma:.1f}, sampled {t_sampled})"
    )

    # unbiasedness identity: expected sampled count is q * T — the
    # estimator divides by exactly that survival probability
    assert abs(t_sampled - q * t_exact) <= bound * q + 1.5


def test_lpa_deterministic_and_sane(spark):
    """Synchronous LPA on a planted two-clique graph must converge to
    exactly two communities labeled by each clique's smallest node,
    and the engine run must be reproducible (deterministic
    tie-breaks)."""
    from pyspark.sql import Window
    from youtube_etl_automated_pipeline_spark.plans.queries_graph import LPA_ROUNDS

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
