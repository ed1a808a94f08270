"""Iterative graph analytics as DataFrame fixed-point loops.

PageRank over the customer<->supplier trade graph (an edge per
distinct (customer, supplier) trading pair via orders x lineitem,
symmetrized so every node has out-degree and no dangling mass).

Why this shape matters for the engine: PageRank is the canonical
"loop of join+agg" workload — each iteration is ONE shuffle on the
edge destination key, the same pattern as dedup_minhash_clusters'
label propagation and ext.kmeans' Lloyd iterations. At 100 TB you
pre-partition edges by src once and every iteration's join reuses
that partitioning; iterations are a fixed small count, and lineage is
truncated per round on a real cluster (checkpoint) — here 3
iterations keep the plan shallow enough to skip it.

Cross-engine determinism: rank mass is held in integer units
(SCALE = 1e12) with integer division everywhere — long sums are
associative, so Spark's and DuckDB's different accumulation orders
produce bit-identical ranks (a float PageRank could never pass a
bit-exact gate).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from youtube_etl_automated_pipeline_spark.operators.lineage import truncate_lineage
from youtube_etl_automated_pipeline_spark.plans.registry import query
from youtube_etl_automated_pipeline_spark.sources import load_table

PR_SCALE = 1_000_000_000_000  # rank mass units (sum over nodes ~= SCALE)
PR_ITERS = 3
SUPP_NODE_BASE = 1_000_000  # supplier node id offset (keyspaces overlap)
# damping 0.85 as the rational 17/20: pr' = (3*SCALE) div (20*N)
#                                          + (17 * inbound) div 20


def _edges(
    spark: SparkSession, sf_dir: str, by_dst: bool = False
) -> DataFrame:
    from youtube_etl_automated_pipeline_spark.operators.cache_registry import (
        memo_persist,
    )

    def build() -> DataFrame:
        orders = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey"
        )
        li = load_table(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_suppkey"
        )
        pairs = (
            orders.join(li, orders.o_orderkey == li.l_orderkey)
            .select(
                F.col("o_custkey").alias("c"),
                (F.col("l_suppkey") + SUPP_NODE_BASE).alias("s"),
            )
            .distinct()
        )
        fwd = pairs.select(F.col("c").alias("src"), F.col("s").alias("dst"))
        rev = pairs.select(F.col("s").alias("src"), F.col("c").alias("dst"))
        # localCheckpoint: every iteration joins the edge set; without
        # it the orders x lineitem build re-executes PR_ITERS+1 times
        # and the growing plan re-optimizes per action (noisy 4-13s at
        # sf0.1; ~2.5s checkpointed). Lazy so materialization stays
        # inside the first action. spark.graft.checkpoint.reliable=true
        # swaps in a real DFS checkpoint (or pre-bucket the edges
        # table); same note as ext.dedup clustering.
        #
        return truncate_lineage(fwd.unionByName(rev), eager=False)

    # memo_persist: PageRank, BFS, LPA and k-core share one edge
    # relation per sf_dir — the "materialize the graph staging table
    # once" posture.
    base = memo_persist(spark, ("trade_edges", sf_dir), build)
    if not by_dst:
        return base
    # by_dst overlay (r09, guide section 2.4 — operations keyed the
    # same way share one exchange): LPA / PageRank / BFS aggregate on
    # dst EVERY round — LPA's (dst, lbl) count + per-dst argmax
    # (HashPartitioning(dst) satisfies ClusteredDistribution(dst,
    # lbl)), PageRank's inbound sum, BFS's frontier distinct — while
    # the per-round label/rank/frontier relation rides an explicitly
    # hinted broadcast join that preserves the streamed edge side's
    # partitioning, so every round's aggregate skips its Exchange
    # (plans/r09: LPA 2 Exchanges/round -> 0, 4.3 s -> ~0.9-1.2 s).
    # The repartition must sit ABOVE the lineage cut: a LogicalRDD
    # checkpointed from a lazy adaptive plan reports
    # UnknownPartitioning (measured: repartition-then-checkpoint kept
    # all per-round Exchanges), whereas here the persisted relation's
    # own Exchange(hashpartitioning(dst)) IS the cached plan, so
    # InMemoryTableScan advertises it. Kept SEPARATE from the base
    # relation: k-core peels by src with per-round re-checkpoints and
    # measured ~1 s SLOWER consuming the 32-way dst layout, so it
    # stays on the base. On a cluster this overlay is the bucketed
    # graph staging table.
    return memo_persist(
        spark,
        ("trade_edges_bydst", sf_dir),
        lambda: base.repartition(F.col("dst")),
    )


# Oracle: the same three power iterations unrolled as CTEs. DuckDB's
# `//` is floor division and Spark's `div` truncates toward zero —
# identical on the non-negative rank domain. CAST collapses HUGEINT
# sums to BIGINT before further integer math.
_PR_GRAPH_SQL = f"""
eo AS (
  SELECT DISTINCT o_custkey AS c, l_suppkey + {SUPP_NODE_BASE} AS s
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
),
edges AS (
  SELECT c AS src, s AS dst FROM eo
  UNION ALL
  SELECT s AS src, c AS dst FROM eo
),
deg AS (SELECT src AS node, count(*) AS deg FROM edges GROUP BY src),
nn AS (
  SELECT count(*) AS n_nodes,
         CAST({3 * PR_SCALE} // (20 * count(*)) AS BIGINT) AS teleport,
         CAST({PR_SCALE} // count(*) AS BIGINT) AS pr0
  FROM deg
)
"""


def _pr_iter(prev: str, out: str) -> str:
    return f"""
{out} AS (
  SELECT d.node, d.deg, nn.teleport,
         CAST(nn.teleport
              + (17 * coalesce(i.inbound, 0)) // 20 AS BIGINT) AS pr
  FROM deg d CROSS JOIN nn
  LEFT JOIN (
    SELECT e.dst AS node, CAST(sum(p.pr // p.deg) AS BIGINT) AS inbound
    FROM edges e JOIN {prev} p ON e.src = p.node
    GROUP BY e.dst
  ) i ON d.node = i.node
)
"""


@query(
    oracle="WITH "
    + _PR_GRAPH_SQL
    + ", pr_0 AS (SELECT node, deg, teleport, pr0 AS pr FROM deg CROSS JOIN nn)"
    + "".join(
        "," + _pr_iter(f"pr_{i}", f"pr_{i + 1}") for i in range(PR_ITERS)
    )
    + f"""
SELECT node, pr AS pr_units FROM pr_{PR_ITERS}
ORDER BY pr_units DESC, node LIMIT 50
"""
)
def pagerank_trade_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 nodes by PageRank after PR_ITERS integer-exact power
    iterations. Each iteration: join ranks to edges on src (contrib =
    rank div degree), aggregate contributions by dst (one shuffle),
    damp + teleport. The symmetric edge set guarantees out-degree > 0
    for every node, so no dangling-mass correction is needed."""
    edges = _edges(spark, sf_dir, by_dst=True)
    deg = edges.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("deg")
    )
    n = deg.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        # teleport term (3*SCALE) div (20*N), computed once
        F.expr(f"{3 * PR_SCALE} div (20 * count(1))").alias("teleport"),
        F.expr(f"{PR_SCALE} div count(1)").alias("pr0"),
    )
    pr = deg.crossJoin(F.broadcast(n)).select(
        "node", "deg", F.col("pr0").alias("pr"), "teleport"
    )
    for _ in range(PR_ITERS):
        # broadcast(pr): one row per node vs one per arc — pin the
        # build side so the streamed edge cache's dst-partitioning
        # reaches the inbound aggregate (same rationale as LPA's
        # label hint; the planner was broadcasting the bigger cached
        # edge relation because only its size is known accurately).
        contrib = edges.join(F.broadcast(pr), edges.src == pr.node).select(
            F.col("dst"), F.expr("pr div deg").alias("contrib")
        )
        inbound = contrib.groupBy(F.col("dst").alias("node")).agg(
            F.sum("contrib").alias("inbound")
        )
        pr = (
            pr.drop("pr")
            # broadcast(inbound): per-node relation again — without
            # the hint this left join shuffled BOTH per-node sides on
            # node every iteration (plans/r09 before: Exchange pairs
            # per round)
            .join(F.broadcast(inbound), "node", "left")
            .select(
                "node",
                "deg",
                (
                    F.col("teleport")
                    + F.expr("(17 * coalesce(inbound, 0)) div 20")
                ).alias("pr"),
                "teleport",
            )
        )
    return (
        pr.select("node", F.col("pr").alias("pr_units"))
        .orderBy(F.desc("pr_units"), "node")
        .limit(50)
    )


TRI_NODE_MOD = 4  # deterministic node-sampling rate (1 in 4)


def _tri_graph(spark: SparkSession, sf_dir: str, node_mod: int = TRI_NODE_MOD):
    """Shared builder for the sampled supplier co-purchase graph:
    returns (edges, deg, oriented). edges/oriented are persisted via
    the bounded registry (round-2 advice: bare .persist() leaked per
    invocation) — and the census and per-node queries now share ONE
    cache entry each instead of rebuilding the same graph twice."""
    from youtube_etl_automated_pipeline_spark.operators.cache_registry import (
        memo_persist,
    )

    def build_edges():
        li = (
            load_table(spark, sf_dir, "lineitem")
            .select("l_orderkey", "l_suppkey")
            .filter(F.col("l_suppkey") % node_mod == 0)
        )
        baskets = li.groupBy("l_orderkey").agg(
            F.sort_array(F.collect_set("l_suppkey")).alias("supps")
        )
        pairs = baskets.select(
            F.explode(
                F.flatten(
                    F.transform(
                        "supps",
                        lambda x, i: F.transform(
                            F.slice(
                                F.col("supps"), i + 2, F.size(F.col("supps")) - i - 1
                            ),
                            lambda y: F.struct(x.alias("a"), y.alias("b")),
                        ),
                    )
                )
            ).alias("p")
        ).select("p.a", "p.b")
        return pairs.distinct()  # a < b, one row per undirected edge

    edges = memo_persist(spark, ("tri_edges", sf_dir, node_mod), build_edges)

    deg = (
        edges.select(F.col("a").alias("v"))
        .unionAll(edges.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("deg"))
    )

    def build_oriented():
        da = deg.select(F.col("v").alias("a"), F.col("deg").alias("deg_a"))
        db = deg.select(F.col("v").alias("b"), F.col("deg").alias("deg_b"))
        lower_first = (F.col("deg_a") < F.col("deg_b")) | (
            (F.col("deg_a") == F.col("deg_b")) & (F.col("a") < F.col("b"))
        )
        return (
            edges.join(da, "a")
            .join(db, "b")
            .select(
                F.when(lower_first, F.col("a")).otherwise(F.col("b")).alias("src"),
                F.when(lower_first, F.col("b")).otherwise(F.col("a")).alias("dst"),
            )
        )

    oriented = memo_persist(
        spark, ("tri_oriented", sf_dir, node_mod), build_oriented
    )
    return edges, deg, oriented


def triangle_census(
    spark: SparkSession, sf_dir: str, node_mod: int = TRI_NODE_MOD
) -> DataFrame:
    """Triangle counting over the supplier co-purchase graph (nodes =
    suppliers, an edge when two suppliers appear in the same order) —
    the clustering-structure primitive of graph analytics, via the
    DEGREE-ORIENTED join (the standard MPC/MapReduce algorithm):

    1. undirected distinct edges from per-order baskets (same 2-
       exchange expansion as copurchase_supplier_pairs — no self-join);
    2. orient each edge from the endpoint with (degree, id) lexical
       order lower -> higher: every triangle is counted exactly once,
       and the path-join fan-out per node is bounded by out-degree
       <= O(sqrt(|E|)) — the arboricity bound that makes the join
       survive power-law degree skew at 100 TB (an unoriented join
       explodes on hub nodes);
    3. join oriented paths u->v->w with the closing edge u->w.

    Output: one row — nodes, undirected edges, triangles, and the
    global clustering coefficient in exact ppm (3·triangles /
    wedge-count, integer arithmetic both engines reproduce).

    The census runs on a DETERMINISTIC 1-in-4 node sample (suppkey
    mod 4 — pushed to the scan): the synthetic co-purchase graph is
    near-COMPLETE (every supplier pair co-occurs at sf0.01), so the
    full census is Θ(n³) regardless of plan; node sampling at rate p
    is the standard unbiased triangle estimator (count/p³ — Doulion
    posture) and the exact same plan computes the full census with
    the filter dropped. On real power-law graphs the orientation
    bound, not sampling, is what keeps this tractable.
    """
    edges, deg, oriented = _tri_graph(spark, sf_dir, node_mod)

    e1 = oriented.select(F.col("src").alias("u"), F.col("dst").alias("v"))
    e2 = oriented.select(F.col("src").alias("v"), F.col("dst").alias("w"))
    e3 = oriented.select(F.col("src").alias("u"), F.col("dst").alias("w"))
    tri = (
        e1.join(e2, "v")
        .join(e3, ["u", "w"])
        .agg(F.count(F.lit(1)).alias("triangles"))
    )
    # wedges = sum over nodes of C(deg, 2); clustering = 3*tri/wedges
    wedges = deg.agg(
        F.expr("CAST(sum((deg * (deg - 1)) DIV 2) AS BIGINT)").alias("wedges")
    )
    counts = edges.agg(F.count(F.lit(1)).alias("n_edges"))
    nodes = deg.agg(F.count(F.lit(1)).alias("n_nodes"))
    return (
        tri.crossJoin(wedges)
        .crossJoin(counts)
        .crossJoin(nodes)
        .select(
            "n_nodes",
            "n_edges",
            "triangles",
            F.expr(
                "CASE WHEN wedges > 0"
                # decimal(38,0): global triangle counts reach 1e15+ on
                # social-scale graphs; 3T*1e6 wraps bigint at T~3e12
                " THEN CAST(CAST(3 AS DECIMAL(38,0)) * triangles"
                " * 1000000 DIV wedges AS BIGINT)"
                " ELSE CAST(0 AS BIGINT) END"
            ).alias("clustering_ppm"),
        )
    )


@query(
    oracle="""
WITH pairs AS (
  SELECT DISTINCT x.l_suppkey AS a, y.l_suppkey AS b
  FROM lineitem x JOIN lineitem y
    ON x.l_orderkey = y.l_orderkey AND x.l_suppkey < y.l_suppkey
  WHERE x.l_suppkey % 4 = 0 AND y.l_suppkey % 4 = 0
),
deg AS (
  SELECT v, CAST(count(*) AS BIGINT) AS deg FROM (
    SELECT a AS v FROM pairs UNION ALL SELECT b AS v FROM pairs
  ) GROUP BY v
),
oriented AS (
  SELECT CASE WHEN (da.deg, p.a) < (db.deg, p.b) THEN p.a ELSE p.b END AS src,
         CASE WHEN (da.deg, p.a) < (db.deg, p.b) THEN p.b ELSE p.a END AS dst
  FROM pairs p
  JOIN deg da ON da.v = p.a
  JOIN deg db ON db.v = p.b
),
tri AS (
  SELECT CAST(count(*) AS BIGINT) AS triangles
  FROM oriented e1
  JOIN oriented e2 ON e1.dst = e2.src
  JOIN oriented e3 ON e3.src = e1.src AND e3.dst = e2.dst
),
w AS (
  SELECT CAST(sum(deg * (deg - 1) // 2) AS BIGINT) AS wedges FROM deg
),
c AS (
  SELECT CAST(count(*) AS BIGINT) AS n_edges FROM pairs
),
n AS (
  SELECT CAST(count(*) AS BIGINT) AS n_nodes FROM deg
)
SELECT n_nodes, n_edges, triangles,
  CASE WHEN wedges > 0
       THEN CAST(3 * triangles * 1000000 // wedges AS BIGINT)
       ELSE 0 END AS clustering_ppm
FROM tri, w, c, n
"""
)
def triangle_count_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The gate entry: census at the documented 1-in-4 node sample
    (see triangle_census — node_mod=1 runs the exact census with the
    same plan; tests/test_graph_estimator.py pins the Doulion p³
    estimator against that ground truth)."""
    return triangle_census(spark, sf_dir, TRI_NODE_MOD)


@query(
    oracle="""
WITH pairs AS (
  SELECT DISTINCT x.l_suppkey AS a, y.l_suppkey AS b
  FROM lineitem x JOIN lineitem y
    ON x.l_orderkey = y.l_orderkey AND x.l_suppkey < y.l_suppkey
  WHERE x.l_suppkey % 4 = 0 AND y.l_suppkey % 4 = 0
),
deg AS (
  SELECT v, CAST(count(*) AS BIGINT) AS deg FROM (
    SELECT a AS v FROM pairs UNION ALL SELECT b AS v FROM pairs
  ) GROUP BY v
),
oriented AS (
  SELECT CASE WHEN (da.deg, p.a) < (db.deg, p.b) THEN p.a ELSE p.b END AS src,
         CASE WHEN (da.deg, p.a) < (db.deg, p.b) THEN p.b ELSE p.a END AS dst
  FROM pairs p
  JOIN deg da ON da.v = p.a
  JOIN deg db ON db.v = p.b
),
tris AS (
  SELECT e1.src AS u, e1.dst AS v, e2.dst AS w
  FROM oriented e1
  JOIN oriented e2 ON e1.dst = e2.src
  JOIN oriented e3 ON e3.src = e1.src AND e3.dst = e2.dst
),
per_node AS (
  SELECT v, CAST(count(*) AS BIGINT) AS n_triangles FROM (
    SELECT u AS v FROM tris
    UNION ALL SELECT v FROM tris
    UNION ALL SELECT w FROM tris
  ) GROUP BY v
)
SELECT p.v AS supplier, p.n_triangles, d.deg,
  CASE WHEN d.deg > 1
       THEN CAST((2 * p.n_triangles * 1000000) // (d.deg * (d.deg - 1)) AS BIGINT)
       ELSE 0 END AS local_clustering_ppm
FROM per_node p JOIN deg d ON d.v = p.v
ORDER BY p.n_triangles DESC, supplier ASC LIMIT 10
"""
)
def triangle_top_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle participation + LOCAL clustering coefficient
    (the node-level companion of triangle_count_suppliers — who sits
    in the most tightly-knit co-purchase neighborhoods): each
    oriented triangle (u, v, w) credits all three corners, local
    clustering = 2·tri(v)·1e6 DIV (deg·(deg−1)) in integer ppm; top-10
    by (triangles desc, supplier asc).

    Same degree-oriented join and 1-in-4 node sample as the census
    (see that docstring); the extra work over the census is one
    explode of the triangle corners and a node-keyed count — the
    top-k is TakeOrderedAndProject, never a global sort.
    """
    edges, deg, oriented = _tri_graph(spark, sf_dir)

    e1 = oriented.select(F.col("src").alias("u"), F.col("dst").alias("v"))
    e2 = oriented.select(F.col("src").alias("v"), F.col("dst").alias("w"))
    e3 = oriented.select(F.col("src").alias("u"), F.col("dst").alias("w"))
    tris = e1.join(e2, "v").join(e3, ["u", "w"]).select("u", "v", "w")
    per_node = (
        tris.select(F.explode(F.array("u", "v", "w")).alias("v"))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    return (
        per_node.join(deg, "v")
        .select(
            F.col("v").alias("supplier"),
            "n_triangles",
            "deg",
            F.expr(
                # decimal(38,0): a hub's n_triangles is O(deg^2) — 1e12 at
                # deg 1e6 — so 2T*1e6 would wrap; denominator
                # deg*(deg-1) rides decimal for the same reason
                "CASE WHEN deg > 1 THEN"
                " CAST(CAST(2 AS DECIMAL(38,0)) * n_triangles * 1000000"
                " DIV (CAST(deg AS DECIMAL(38,0)) * (deg - 1)) AS BIGINT)"
                " ELSE CAST(0 AS BIGINT) END"
            ).alias("local_clustering_ppm"),
        )
        .orderBy(F.desc("n_triangles"), F.asc("supplier"))
        .limit(10)
    )


# ------------------------------------- label propagation communities
LPA_ROUNDS = 4
LPA_TOP = 25


def _lpa_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection on the symmetrized customer-supplier trade
    graph via synchronous label propagation (LPA): every node starts
    as its own label; each round a node adopts the label most frequent
    among its NEIGHBORS, ties broken to the smallest label — a fully
    deterministic synchronous schedule (the classic async coin-flips
    are exactly what an oracle-paired engine cannot ship).

    Scale: per round ONE join (labels onto edges by src; the planner
    broadcasts the label relation while it fits, and falls back to a
    shuffle join at real node cardinality) and a map-combinable
    (dst, lbl) count folded to a per-node argmax AGGREGATE (min of
    struct(-c, lbl)) — no window, no sort, both aggs combine
    map-side. The edge relation is the memo-persisted trade-graph
    staging table shared with PageRank/BFS; label lineage is
    truncated every second round so plan depth stays bounded while
    paying half the checkpoint materializations (r08: per-round
    truncation measured as pure overhead at LPA_ROUNDS=4 — warm
    4.2 s either way vs 6.2 s with per-round checkpoints).
    Oracle = LPA_ROUNDS unrolled MATERIALIZED CTEs with QUALIFY
    argmax."""
    from youtube_etl_automated_pipeline_spark.operators.lineage import (
        truncate_lineage,
    )

    edges = _edges(spark, sf_dir, by_dst=True)
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("lbl", F.col("node"))
    )
    for r in range(LPA_ROUNDS):
        # broadcast(labels) is an explicit HINT (r09): labels is one
        # row per node, edges one per arc — orders of magnitude
        # smaller — yet the planner's estimate flipped the build side
        # and broadcast the (cached, accurately sized) EDGE relation
        # every round, streaming the label subtree and discarding the
        # edge cache's dst-partitioning. Pinning the label side as
        # build keeps edges streamed, so both per-round aggregates
        # below consume HashPartitioning(dst) straight from the cache
        # — zero Exchanges per round (plans/r09).
        cnt = (
            edges.join(F.broadcast(labels), edges.src == labels.node)
            .groupBy("dst", "lbl")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        # argmax by (c DESC, lbl ASC) as ONE map-side-combinable
        # aggregate: min of struct(-c, lbl) — struct comparison is
        # lexicographic, so the minimum is exactly the row the old
        # row_number() window picked. r08 optimization (guide section
        # 2.4): the window form cost an extra Exchange on dst plus TWO
        # full sorts per round; the agg form re-uses the hash-agg
        # shape, never sorts, and combines map-side. Bit-identical
        # winner per node by construction.
        labels = (
            cnt.groupBy("dst")
            .agg(
                F.min(
                    F.struct(
                        (-F.col("c")).alias("neg_c"), F.col("lbl").alias("lbl")
                    )
                ).alias("m")
            )
            .select(F.col("dst").alias("node"), F.col("m.lbl").alias("lbl"))
        )
        if (r + 1) % 2 == 0 and (r + 1) < LPA_ROUNDS:
            labels = truncate_lineage(labels, eager=False)
    return labels


def _lpa_oracle() -> str:
    parts = [
        f"""
WITH eo AS (
  SELECT DISTINCT o_custkey AS c, l_suppkey + {SUPP_NODE_BASE} AS s
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
),
edges AS MATERIALIZED (
  SELECT c AS src, s AS dst FROM eo
  UNION ALL
  SELECT s AS src, c AS dst FROM eo
),
l0 AS MATERIALIZED (
  SELECT DISTINCT src AS node, src AS lbl FROM edges
)"""
    ]
    for r in range(LPA_ROUNDS):
        parts.append(
            f""",
c{r + 1} AS MATERIALIZED (
  SELECT e.dst, l.lbl, count(*) AS c
  FROM edges e JOIN l{r} l ON e.src = l.node
  GROUP BY 1, 2
),
l{r + 1} AS MATERIALIZED (
  SELECT dst AS node, lbl
  FROM c{r + 1}
  QUALIFY row_number() OVER (
    PARTITION BY dst ORDER BY c DESC, lbl ASC) = 1
)"""
        )
    return "".join(parts) + f"""
SELECT lbl AS community_label,
       CAST(count(*) AS BIGINT) AS n_members
FROM l{LPA_ROUNDS}
GROUP BY lbl
ORDER BY n_members DESC, community_label ASC
LIMIT {LPA_TOP}
"""


@query(oracle=_lpa_oracle())
def label_propagation_communities(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """See _lpa_labels for the per-round shape. Output: top-25
    community census after LPA_ROUNDS rounds."""
    labels = _lpa_labels(spark, sf_dir)
    return (
        labels.groupBy("lbl")
        .agg(F.count(F.lit(1)).alias("n_members"))
        .select(F.col("lbl").alias("community_label"), "n_members")
        .orderBy(F.desc("n_members"), F.asc("community_label"))
        .limit(LPA_TOP)
    )
