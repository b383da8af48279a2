"""Distributed graph analytics beyond connected components (round 11).

operators/identity.py gives the engine its fixpoint machinery (CC over
identity edges); this module adds the other classic distributed graph
primitive a relational engine is expected to cover: EXACT triangle
counting, the building block of clustering-coefficient / community /
fraud-ring analyses over co-occurrence graphs (co-purchased parts,
co-visited pages, shared-device identities).

Algorithm — compact-forward / degree orientation (Chiba–Nishizeki;
popularized for MapReduce by Suri & Vassilvitskii, WWW 2011): orient
every undirected edge from its lower (degree, id) endpoint to the
higher one. The orientation is acyclic, so each triangle {x<y<z} (in
the degree-id total order) is found EXACTLY once, as the wedge
(x->y, x->z) closed by the oriented edge y->z. The payoff is the wedge
join's size: out-degrees under degree orientation are O(sqrt(m)), so
wedges are O(m^1.5) total instead of sum(deg^2) — the difference
between feasible and hopeless on power-law graphs, where the max
degree's deg^2 alone can exceed the edge count by orders of magnitude.

Spark shape: two shuffles build degrees + orientation (the degree
frame joins back by plain equi-joins — AQE picks broadcast while |V|
is dimension-sized and falls back to shuffle joins beyond, nothing
hand-scheduled), one self-join on the wedge source, and one semi-join
probing the closing edge. All exact, all JVM-side expressions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def triangle_count(edges: DataFrame) -> DataFrame:
    """ONE row (n_edges, n_triangles) for an undirected simple graph
    given as distinct (u, v) pairs with u < v (each edge once)."""
    edges = edges.select("u", "v")
    deg = (
        edges.select(F.explode(F.array("u", "v")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    with_deg = (
        edges.join(deg.withColumnRenamed("node", "u"), "u")
        .withColumnRenamed("deg", "du")
        .join(
            deg.withColumnRenamed("node", "v").withColumnRenamed("deg", "dv"),
            "v",
        )
    )
    # orient from lower (deg, id) to higher — acyclic by total order
    u_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    # carry the dst's (deg, id) rank so the wedge pair can be emitted in
    # closing order ONLY — (a, b) with rank_a < rank_b is the one
    # direction the oriented closing edge a->b can exist in, so the
    # reversed wedge is dropped BEFORE the shuffle instead of at the
    # probe (halves wedge volume)
    oriented = with_deg.select(
        F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("src"),
        F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("dst"),
        F.when(
            u_first, F.struct(F.col("dv").alias("d"), F.col("v").alias("n"))
        )
        .otherwise(F.struct(F.col("du").alias("d"), F.col("u").alias("n")))
        .alias("rdst"),
    ).localCheckpoint(eager=True)  # reused 3x (wedges twice + probe)

    e1 = oriented.select(F.col("src"), F.col("dst").alias("a"), F.col("rdst").alias("ra"))
    e2 = oriented.select(F.col("src"), F.col("dst").alias("b"), F.col("rdst").alias("rb"))
    wedges = e1.join(e2, "src").where(F.col("ra") < F.col("rb"))
    probe = oriented.select(
        F.col("src").alias("p_src"), F.col("dst").alias("p_dst")
    )
    closed = wedges.join(
        probe,
        (F.col("a") == F.col("p_src")) & (F.col("b") == F.col("p_dst")),
        "inner",
    )
    n_tri = closed.groupBy().agg(F.count(F.lit(1)).alias("n_triangles"))
    # one row per input edge by construction, so the edge census reads
    # the PINNED orientation instead of re-executing the caller's edge
    # derivation (q_triangle_count: a lineitem self-join + distinct) a
    # second time in the final job (r13, guide §1.2/§5)
    n_edges = oriented.groupBy().agg(F.count(F.lit(1)).alias("n_edges"))
    return n_edges.crossJoin(n_tri)


PAGERANK_SCALE = 10**12
PAGERANK_BASE = 150_000_000_000  # 0.15 * SCALE


def pagerank_fixed_point(
    directed_edges: DataFrame, iterations: int = 8, checkpoint_every: int = 4
) -> DataFrame:
    """PageRank in pure BIGINT fixed-point — (node, rank) after
    `iterations` synchronous updates of

        rank'(v) = BASE + (85 * sum_{u->v} (rank(u) div outdeg(u))) div 100

    with rank_0 = SCALE (1e12). Every operation is integral (div =
    integer division), so the result is bit-identical on ANY engine —
    including a WITH RECURSIVE SQL oracle — with no float-summation-
    order caveat; the cost is a deterministic <= outdeg units of
    truncation per contribution, irrelevant at 1e12 scale. (Float
    PageRank cannot be oracle-hash-matched across engines: partial
    aggregation reorders the sums.)

    Spark shape: the degree-annotated edge list pins once
    (localCheckpoint); each iteration is ONE equi-join (ranks x edges,
    both hash-partitioned on the same key) + ONE map-side-combined
    groupBy — the same iterated-scan discipline as the k-means trainer
    and the identity fixpoint, with lineage cut per level. The node
    universe (src ∪ dst) is pinned once and unioned into every
    iteration's aggregate as zero contributions (no extra join, same
    single shuffle), so a node with out-edges but no in-edges keeps its
    rank row — and keeps contributing its outflow — instead of
    silently vanishing after iteration 1 (ADVICE r11). Overflow
    headroom: 85 * N * SCALE must stay under 2^63 — fine to ~10^8
    nodes, rescale SCALE beyond.
    """
    from pyspark.sql import Observation

    from hogflare_spark.functions.caching import cached, release

    # Pin the edge list FIRST (r13): the caller's frame is commonly an
    # expensive derivation (q_pagerank_parts: a lineitem self-join +
    # distinct), and it used to re-execute inside BOTH the annotated
    # pin and the node-universe pin — separate jobs compile separate
    # physical plans, so no exchange reuse crosses them. One eager cut
    # runs the derivation exactly once; everything below reads pinned
    # rows (guide §1.2 / §5). The edge count rides the same job via
    # observe() and sizes the iteration width below.
    obs = Observation()
    edges = (
        directed_edges.select("src", "dst")
        .observe(obs, F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=True)
    )
    spark = edges.sparkSession
    # iteration width from DATA SIZE (~24 B per (long,long,long) row,
    # ~32 MB per partition), capped at session parallelism — the r12
    # exchange-reuse A/B lost precisely because its exchange-free stages
    # ran at the full shuffle-partition count of near-empty tasks; a
    # derived width keeps every per-iteration stage data-sized at any SF
    # (guide §2: scale-adaptive partitioning, not a constant).
    n_edge_rows = int(obs.get["n"])
    n_part = max(
        2,
        min(
            spark.sparkContext.defaultParallelism,
            n_edge_rows * 24 // (32 << 20) + 1,
        ),
    )
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    # r13 exchange-reuse, second attempt (r12's was rejected at width
    # 32): annotated and the node universe CACHE hash-partitioned by
    # their join/union keys at the derived width — InMemoryRelation
    # preserves outputPartitioning (localCheckpoint does not), so every
    # iteration's rank×edges join consumes both sides exchange-free and
    # the only per-iteration exchange left is the explicit
    # repartition(n_part, dst) feeding the contribution sum, whose
    # output partitioning the NEXT iteration's join reuses in turn
    # (guide §2.4: operations keyed the same way share one exchange).
    annotated = cached(edges.join(deg, "src").repartition(n_part, "src"))
    nodes = cached(
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .distinct()
        .repartition(n_part, "node")
    )
    zeros = nodes.select(
        F.col("node").alias("dst"), F.lit(0).cast("long").alias("c")
    )
    # no checkpoint: rank_0 is a literal projection of the cached node
    # universe — its plan is O(1) deep already, and the eager cut here
    # was one whole job per call for nothing (r13, guide §1.2)
    ranks = nodes.select("node", F.lit(int(PAGERANK_SCALE)).alias("rank"))
    for it in range(int(iterations)):
        contrib = ranks.join(
            annotated, ranks["node"] == annotated["src"]
        ).select(
            F.col("dst"), F.expr("rank div outdeg").alias("c")
        )
        ranks = (
            contrib.union(zeros)
            .repartition(n_part, "dst")
            .groupBy("dst")
            .agg(F.sum("c").alias("s"))
            .select(
                F.col("dst").alias("node"),
                (
                    F.lit(int(PAGERANK_BASE))
                    + F.expr("(85 * s) div 100")
                ).alias("rank"),
            )
        )
        # Lineage cut every K levels instead of every level (r12, guide
        # §1.2): an eager localCheckpoint is a JOB, so per-iteration
        # cutting ran `iterations` jobs where one job can execute K
        # chained join+aggregate levels as one stage graph. K bounds the
        # logical-plan depth exactly as before — only the cadence
        # changed, not the arithmetic, so ranks are bit-identical.
        if (it + 1) % max(1, int(checkpoint_every)) == 0 or it + 1 == int(
            iterations
        ):
            ranks = ranks.localCheckpoint(eager=True)
    # the final ranks are a materialized checkpoint: the two per-call
    # caches are dead here, so release them instead of leaving them to
    # the host's next global drain
    release(annotated)
    release(nodes)
    return ranks
