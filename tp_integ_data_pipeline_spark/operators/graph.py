"""Link-analysis over edge tables: fixed-iteration PageRank.

Companions to the near-dup machinery: ``operators/dedup.dup_clusters``
gives connected components (large-star/small-star); this module adds
the rank side — the web-graph quality signal (domain/page authority)
a Common-Crawl-scale curation pipeline mixes into its keep/drop
decisions.

Scale shape: each iteration is ONE src-keyed equi-join (edges ⋈ ranks)
plus ONE dst-keyed rollup — both shuffle on graph keys, map-side
combined; dangling mass (out-degree-0 nodes) is a 1-row global
aggregate broadcast back (a bounded BNLJ of the audited
``scalar_aggs`` shape). The rank relation is lazily localCheckpoint'd
every iteration so the plan stays O(1) deep across iterations — the
same lineage-bounding pattern as the CC loop (operators/dedup.py).
No driver-side collect of anything data-sized; the only driver scalar
is the node count (one count() action, O(1) result).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def pagerank(
    edges: DataFrame,
    iters: int = 5,
    damping: float = 0.85,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Fixed-iteration PageRank on a directed edge list (duplicate
    edges should be pre-distinct'd by the caller if unweighted
    semantics are wanted). Returns (node, rank); Σrank == 1 every
    iteration (dangling mass redistributed uniformly)."""
    if iters < 1:
        raise ValueError("iters must be >= 1")
    # lazily checkpoint the edge list: it feeds EVERY iteration's
    # contrib join plus the degree/node builds — without this the
    # upstream edge-derivation pipeline re-executes iters+2 times
    # (the q103-probe lesson)
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")).localCheckpoint(
        eager=False
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    n = nodes.count()  # bounded driver scalar: one long
    if n == 0:
        return nodes.select("node", F.lit(0.0).alias("rank"))
    outdeg = e.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("deg")
    )
    # ranks carries deg along (null for dangling) so the per-iteration
    # join count stays at one
    ranks = nodes.join(outdeg, "node", "left").select(
        "node", "deg", F.lit(1.0 / n).alias("r")
    ).localCheckpoint(eager=False)
    base = F.lit((1.0 - damping) / n)
    for _ in range(iters):
        contrib = (
            e.join(ranks.filter(F.col("deg").isNotNull()), e["src"] == ranks["node"])
            .select(F.col("dst").alias("node"), (F.col("r") / F.col("deg")).alias("c"))
            .groupBy("node")
            .agg(F.sum("c").alias("contrib"))
        )
        dangle = ranks.filter(F.col("deg").isNull()).agg(
            F.coalesce(F.sum("r"), F.lit(0.0)).alias("dangle")
        )
        ranks = (
            ranks.select("node", "deg")
            .join(contrib, "node", "left")
            .crossJoin(F.broadcast(dangle))
            .select(
                "node",
                "deg",
                (
                    base
                    + F.lit(damping)
                    * (F.coalesce("contrib", F.lit(0.0)) + F.col("dangle") / n)
                ).alias("r"),
            )
            .localCheckpoint(eager=False)
        )
    return ranks.select("node", F.col("r").alias("rank"))


def triangle_count(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Global triangle count over an undirected simple graph (edges in
    either orientation; self-loops ignored), returned as one
    ``(n_triangles)`` row.

    The scale shape is DEGREE ORIENTATION + ADJACENCY INTERSECTION
    (the standard distributed algorithm): every undirected edge is
    directed from its lower-(degree, id) endpoint to the higher one,
    which bounds every node's OUT-adjacency by O(sqrt(m)) even when the
    raw graph has celebrity nodes. For each directed edge (u, v) the
    triangles it closes are |N+(u) ∩ N+(v)| — u the orientation-lowest
    corner, v the middle — so each triangle is counted exactly once.
    The intersection runs ROW-LOCALLY over the two bounded sorted
    adjacency arrays (array_intersect, hash-set linear), so the only
    shuffles are the adjacency groupBy and the two edge-keyed joins —
    the wedge relation (Σ outdeg² rows, ~70M at sf0.1's dense
    co-occurrence graph) is never materialized or shuffled, which is
    what made the join-wedges-then-close-them formulation the round-5
    bench's most expensive plan. collect_list here is bounded by the
    orientation (≤ O(sqrt(m)) ids per node), not data-sized.
    """
    from tp_integ_data_pipeline_spark.operators.joins import (
        maybe_broadcast,
        session_width_repartition,
    )
    # canon feeds the degree agg AND the orientation join; directed is
    # consumed THREE times (both wedge sides + closing edge). Without
    # lineage bounding the whole canon-distinct -> degree -> orient
    # pipeline is recomputed per consumer — lazy localCheckpoint (the
    # PageRank pattern above) caps each to one computation (round-5
    # verdict: q163 ran 37 exchanges where ~8 suffice).
    canon = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .filter(F.col("a") != F.col("b"))
        .select(
            F.least("a", "b").alias("u"), F.greatest("a", "b").alias("v")
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    deg = (
        canon.select(F.col("u").alias("n")).unionAll(canon.select(F.col("v").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    with_deg = (
        canon.join(deg.select(F.col("n").alias("u"), F.col("d").alias("__du")), "u")
        .join(deg.select(F.col("n").alias("v"), F.col("d").alias("__dv")), "v")
    )
    # orient lower (degree, id) -> higher; total order so exactly one
    # direction per edge
    u_first = (F.col("__du") < F.col("__dv")) | (
        (F.col("__du") == F.col("__dv")) & (F.col("u") < F.col("v"))
    )
    directed = with_deg.select(
        F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("s"),
        F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("t"),
    ).localCheckpoint(eager=False)
    adj = directed.groupBy("s").agg(F.array_sort(F.collect_list("t")).alias("nbrs"))
    # node-sized relation: stats-gated broadcast (sf-test scale fits; a
    # billion-node graph degrades to two edge-keyed shuffle joins). The
    # per-edge intersect is compute-dense over a sub-MB edge set, so an
    # explicit-count exchange (AQE leaves it unmerged) keeps it one task
    # per core; it sits past the checkpoint, so the build runs no more
    # stages.
    joined = (
        session_width_repartition(directed, "s")
        .join(maybe_broadcast(adj.select("s", F.col("nbrs").alias("__ns"))), "s")
        .join(
            maybe_broadcast(adj.select(F.col("s").alias("t"), F.col("nbrs").alias("__nt"))),
            "t",
            "left",  # the orientation-highest node has no out-neighbors
        )
    )
    per_edge = joined.select(
        F.size(
            F.array_intersect(F.col("__ns"), F.coalesce(F.col("__nt"), F.array()))
        ).alias("c")
    )
    return per_edge.agg(F.coalesce(F.sum("c"), F.lit(0)).alias("n_triangles"))
