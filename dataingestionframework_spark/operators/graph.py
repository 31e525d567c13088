"""Distributed connected components for dedup clustering.

Near-dup detection (MinHash/SimHash/embedding pairs) emits EDGES; the
production dedup step needs CLUSTERS — the transitive closure of those
pairs — so each document can be assigned a canonical representative
and non-canonical copies dropped. This module closes that gap.

Scale design (100 TB): min-label propagation with pointer jumping.
Each round does two shuffles — one groupBy over the (bidirectional)
edge list to pull the smallest neighbour label, and one label-table
self-join that short-circuits label chains (``l(v) <- l(l(v))``,
path halving). Pointer jumping makes convergence O(log d) rounds in
the cluster diameter rather than O(d); near-dup similarity graphs are
quasi-cliques (d is 2-4 even for huge corpora), so 3-5 rounds in
practice. Per-round state is only (node, label) — no neighbourhood
sets are materialized (unlike hash-to-min), so memory per executor is
bounded by the node partition, and ``localCheckpoint`` truncates the
lineage so the plan does not grow with iterations. No driver-side
data: the only action per round is the scalar changed-row count.

Reference parity: the reference has no clustering step (its dedup is
``distinct()`` only — ``modules/auto_loader_steps.py:289``); this is
part of the LLM-corpus extension surface alongside operators/dedup.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import release_checkpoint


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 25,
) -> DataFrame:
    """Label every node with the minimum node id reachable from it.

    ``edges`` is an undirected edge list (each pair listed once in
    either orientation; self-loops and duplicates are tolerated).
    Returns (id, component) where component = min id of the connected
    component. Converges when a full round changes no label; raises if
    ``max_iter`` rounds pass without convergence (pointer jumping makes
    that ~2**max_iter of effective diameter, i.e. unreachable in
    practice — the guard catches caller bugs like non-deterministic
    edge input, not real graphs).
    """
    e = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    adj = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v"))).filter(
        F.col("u") != F.col("v")
    )
    # Edges are re-scanned every round: materialize once.
    adj = adj.distinct().localCheckpoint()

    labels = (
        adj.select("u").union(adj.select("v")).distinct().select(
            F.col("u").alias("id"), F.col("u").alias("lbl")
        )
    ).localCheckpoint()

    for _ in range(max_iter):
        # Propagate: smallest neighbour label, one shuffle on dst node.
        nbr_min = (
            adj.join(labels, adj["u"] == labels["id"])
            .groupBy(adj["v"].alias("id"))
            .agg(F.min("lbl").alias("nbr_lbl"))
        )
        prop = (
            labels.join(nbr_min, "id", "left")
            .select("id", F.least("lbl", "nbr_lbl").alias("lbl"))
        )
        # Pointer jump: l(v) <- min(l(v), l(l(v))) — collapses label
        # chains exponentially (path halving).
        parent = prop.select(
            F.col("id").alias("p_id"), F.col("lbl").alias("p_lbl")
        )
        jumped = (
            prop.join(parent, prop["lbl"] == parent["p_id"], "left")
            .select("id", F.least("lbl", "p_lbl").alias("lbl"))
            .localCheckpoint()
        )
        changed = (
            jumped.join(labels.withColumnRenamed("lbl", "old"), "id")
            .filter(F.col("lbl") != F.col("old"))
            .count()
        )
        # the changed-count action was the old label table's last
        # consumer (jumped is already materialized) — release its
        # checkpoint blocks now instead of leaking one node-table image
        # per round until the periodic GC
        release_checkpoint(labels)
        labels = jumped
        if changed == 0:
            release_checkpoint(adj)  # result reads only the final checkpoint
            return labels.select("id", F.col("lbl").alias("component"))
    raise RuntimeError(
        f"connected_components did not converge in {max_iter} rounds"
    )


def dedup_clusters(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    pair_a: str = "id_a",
    pair_b: str = "id_b",
) -> DataFrame:
    """Assign EVERY document a canonical representative.

    Documents in no near-dup pair are their own canonical (cluster of
    1); paired documents share the min doc id of their transitive
    cluster. Returns (doc_id, canonical_id, cluster_size) — the keep
    set is ``doc_id == canonical_id``, the drop set is the rest.
    """
    cc = connected_components(pairs, src=pair_a, dst=pair_b)
    assigned = (
        docs.select(F.col(id_col).alias("doc_id"))
        .join(cc, F.col("doc_id") == cc["id"], "left")
        .select(
            "doc_id",
            F.coalesce("component", "doc_id").alias("canonical_id"),
        )
    )
    sizes = assigned.groupBy("canonical_id").agg(
        F.count("*").alias("cluster_size")
    )
    return assigned.join(sizes, "canonical_id").select(
        "doc_id", "canonical_id", "cluster_size"
    )


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 3,
    damping: float = 0.85,
    checkpoint: bool = True,
) -> DataFrame:
    """Simplified PageRank (rank = (1-d) + d·Σ in-contribs) for a fixed
    iteration count — the iterative-numeric-fixpoint shape (influence /
    centrality over citation-, link- or dedup-graphs).

    Scale design: each iteration is exactly two shuffles — the
    contribution aggregation (edges ⋈ ranks on src, groupBy dst) and
    the node-table left join; the out-degree table is computed once.
    ``localCheckpoint`` (on by default) truncates lineage each round so
    the plan and its recompute cost stay O(1) in the iteration count —
    without it iteration k replans all k-1 predecessors. Dangling
    nodes (no in-edges) settle at 1-d. Deterministic given the edge
    list; no driver-side data beyond the loop counter.
    """
    nodes = (
        edges.select(F.col(src).alias("node"))
        .union(edges.select(F.col(dst).alias("node")))
        .distinct()
    )
    deg = edges.groupBy(src).agg(F.count("*").alias("out_deg"))
    ranks = nodes.withColumn("rank", F.lit(1.0))
    if checkpoint:
        ranks = ranks.localCheckpoint()
    for _ in range(iterations):
        prev = ranks
        contribs = (
            edges.join(deg, src)
            .join(ranks.select(F.col("node").alias(src), "rank"), src)
            .groupBy(F.col(dst).alias("node"))
            .agg(F.sum(F.col("rank") / F.col("out_deg")).alias("contrib"))
        )
        ranks = nodes.join(contribs, "node", "left").select(
            "node",
            (
                F.lit(1.0 - damping)
                + F.lit(damping) * F.coalesce(F.col("contrib"), F.lit(0.0))
            ).alias("rank"),
        )
        if checkpoint:
            ranks = ranks.localCheckpoint()  # eager — prior image now unused
            release_checkpoint(prev)
    return ranks


def triangle_counts(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Per-node triangle counts over an undirected simple graph.

    Input edges are canonicalized to (a < b) and deduped, then the
    classic two-join enumeration finds each triangle exactly once as an
    ordered triple a < b < c: E(a,b) ⋈ E(b,c) ⋈ E(a,c). Both joins are
    equi hash joins shuffling on vertex keys — the MapReduce-era
    NodeIterator++ plan, no Cartesian anywhere. Skewed (high-degree)
    vertices are the known hot spot; AQE skew-join splits those
    partitions at runtime.

    Returns (node, n_triangles) for nodes in ≥ 1 triangle.
    """
    # canonical edge set is materialized once: it feeds all three legs
    # of the self-join, and Spark would otherwise redo the
    # canonicalize+distinct shuffle per leg (the executed plan showed
    # the source scanned 9x before this)
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint()
    )
    tri = (
        e.alias("e1")
        .join(e.alias("e2"), F.col("e1.b") == F.col("e2.a"))
        .join(
            e.alias("e3"),
            (F.col("e3.a") == F.col("e1.a")) & (F.col("e3.b") == F.col("e2.b")),
        )
        .select(
            F.col("e1.a").alias("x"),
            F.col("e1.b").alias("y"),
            F.col("e2.b").alias("z"),
        )
    )
    # one row per (triangle, vertex) via explode — a single tri lineage,
    # where a 3-way union would re-run the triangle enumeration per leg
    verts = tri.select(
        F.explode(F.array(F.col("x"), F.col("y"), F.col("z"))).alias("node")
    )
    return verts.groupBy("node").agg(F.count("*").alias("n_triangles"))


def bfs_distances(
    edges: DataFrame,
    source: int,
    src: str = "src",
    dst: str = "dst",
    max_iters: int = 20,
    checkpoint: bool = True,
) -> DataFrame:
    """Unweighted single-source shortest paths (BFS) by iterative
    frontier expansion — the remaining classic next to :func:`pagerank`
    (fixpoint), :func:`connected_components` (pointer jumping) and
    :func:`triangle_counts`: hop distances power link-distance
    features, crawl-depth limits, and citation-radius queries over
    dedup/link graphs.

    Each round is ONE equi-join (frontier ⋈ edges on the source key) +
    an anti-join against the settled set — cost proportional to the
    frontier's out-edges, never the whole graph; rounds = graph
    diameter (bounded by ``max_iters``). ``localCheckpoint`` truncates
    lineage per round like :func:`pagerank`, and each round's
    SUPERSEDED checkpoint blocks (the previous ``dist`` image and the
    spent frontier) are unpersisted as soon as the new checkpoint is
    materialized — localCheckpoint is eager, so once the new blocks
    exist the old ones feed nothing; leaving them to the periodic-GC
    ContextCleaner let 2×diameter block sets pile up for the whole
    query and cost a real ~1.4× on the sf0.1 doc graph. The per-round
    emptiness probe is one driver boolean — O(diameter) round trips,
    the same budget any BFS pays.
    Edges are treated as DIRECTED; symmetrize first for undirected
    semantics.

    Output: (node, dist) for every node reachable from ``source``
    (including the source at dist 0). Deterministic: distances are
    exact ints; ties need no breaking because level k is the set of
    nodes first reached at round k.
    """
    spark = edges.sparkSession
    dist = spark.createDataFrame([(int(source), 0)], "node long, dist int")
    if checkpoint:
        dist = dist.localCheckpoint()
    frontier = dist.select("node")
    prev_dist = dist if checkpoint else None  # superseded after next union ckpt
    prev_front = None  # checkpointed frame backing the current frontier
    for i in range(1, max_iters + 1):
        nxt = (
            frontier.join(edges, frontier["node"] == edges[src])
            .select(F.col(dst).cast("long").alias("node"))
            .distinct()
            .join(dist, "node", "left_anti")
            .withColumn("dist", F.lit(i))
        )
        if checkpoint:
            nxt = nxt.localCheckpoint()  # eager: frontier blocks now unused
            if prev_front is not None:
                release_checkpoint(prev_front)
        if nxt.isEmpty():
            if checkpoint:
                release_checkpoint(nxt)
            break
        dist = dist.unionByName(nxt)
        if checkpoint:
            dist = dist.localCheckpoint()  # eager: prior dist blocks now unused
            if prev_dist is not None:
                release_checkpoint(prev_dist)
            prev_dist = dist
        frontier = nxt.select("node")
        prev_front = nxt if checkpoint else None
    # the final dist checkpoint (and the last frontier, already folded
    # into it) stays persisted — it IS the returned result
    return dist
