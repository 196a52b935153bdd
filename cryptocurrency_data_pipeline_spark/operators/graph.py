"""Distributed graph primitives for the dedup surface.

The one graph op a training-data pipeline genuinely needs: connected
components over the near-duplicate pair graph, so "near-dup of" becomes an
equivalence relation and the pipeline can keep exactly one canonical
document per duplicate *cluster* (pairwise drop rules either over- or
under-delete on transitive chains A~B~C).

Scale design (100 TB): the component graph of a near-dup pipeline is
many tiny components (dup clusters of 2-50 docs) — diameters are small, so
min-label propagation converges in a handful of rounds (hash-to-min
behavior; Kiveris et al., "Connected Components in MapReduce and Beyond",
SoCC'14, describes the O(log²n) star variants for adversarial graphs —
swap in if components ever get chain-shaped). Each round is ONE shuffle
join (edges ⋈ labels on node id, both sides hash-partitioned the same
way, so AQE reuses the exchange) plus one map-side-combinable min-agg.
Convergence is detected from ``sum(label)``: labels only ever decrease,
so an unchanged sum ⇒ fixpoint — an O(1)-row action per round instead of
a changed-row anti-join. ``localCheckpoint`` every round truncates the
iterative lineage (without it the plan tree doubles per round and Catalyst
re-optimizes the whole history each action).

No counterpart in the reference (it has no joins at all — SURVEY.md §2.3);
this generalizes its keep-latest dedup (glue/data_transform_s3.py:133-136)
from exact keys to similarity clusters.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cryptocurrency_data_pipeline_spark.operators import caching


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iters: int = 25,
) -> DataFrame:
    """Label every node with the MIN node id reachable from it.

    ``edges`` is an undirected pair list (each pair listed once in either
    direction). Returns ``(node, cluster_id)`` for every node with at
    least one edge. Deterministic for any input order.

    Lifetime contract: the returned frame is backed by the final round's
    ``localCheckpoint`` blocks, registered with :mod:`caching`.  The edge
    caches and superseded generations are released inside the call —
    on the failure path too; the FINAL generation lives until its owner
    calls ``caching.release_all`` (or garbage collection).  A held result
    therefore stays queryable across any number of later
    ``connected_components`` calls, and is unusable after that release.
    """
    # Persist the input projection BEFORE symmetrizing (r15): the union
    # references it on both sides, so an expensive upstream edge
    # pipeline (dup_clusters feeds the MinHash candidate+verify chain
    # here) would otherwise evaluate twice inside e's materialization.
    p = caching.persist(edges.select(F.col(src).alias("a"), F.col(dst).alias("b")))
    # No distinct() on the symmetrized edges: the per-round min-aggregation
    # is idempotent under duplicate edges, so deduping here would spend a
    # full edge shuffle to save nothing downstream.
    e = caching.persist(
        p.unionByName(p.select(F.col("b").alias("a"), F.col("a").alias("b")))
    )
    try:
        labels = e.select(F.col("a").alias("node")).distinct().withColumn(
            "label", F.col("node")
        )
        # Lazy for the same one-job-per-generation reason as the loop
        # below: the seed fingerprint materializes the checkpoint.
        labels = caching.checkpoint(labels)
        # Convergence fingerprint: sum of per-row label HASHES in
        # decimal(38,0) — type-agnostic (string/hash node ids crash a
        # plain sum with CAST_INVALID_INPUT, and snowflake-scale long ids
        # overflow int64 under ANSI) and overflow-proof.  xxhash64 hashes
        # the native type directly (no string cast: fingerprints are only
        # ever compared across iterations of the same column).  Min-label
        # propagation is monotone, so an unchanged multiset fingerprint
        # means unchanged labels (the _partition_fingerprints argument).
        label_fp = F.sum(F.xxhash64(F.col("label")).cast("decimal(38,0)"))
        prev_sum = labels.agg(label_fp).first()[0]

        for _ in range(max_iters):
            nbr = (
                e.join(labels, e.b == labels.node)
                .select(e.a.alias("node"), "label")
            )
            # LAZY checkpoint: the convergence aggregate right below is
            # the materializing action, so each round runs ONE job
            # (propagate + checkpoint + fingerprint) instead of two (eager
            # checkpoint, then a separate fingerprint scan of the fresh
            # blocks) — the per-round driver overhead was half the loop's
            # cost at bench scale.  The aggregate reads every partition,
            # so the blocks are fully populated before the next round
            # references them.
            new_labels = caching.checkpoint(
                labels.unionByName(nbr)
                .groupBy("node")
                .agg(F.min("label").alias("label"))
            )
            new_sum = new_labels.agg(label_fp).first()[0]
            # New generation is materialized; the previous round's
            # checkpoint blocks are dead weight from here on — release
            # them eagerly (the block manager stays flat at two label
            # generations regardless of round count).
            caching.release(labels)
            labels = new_labels
            if new_sum == prev_sum:
                break
            prev_sum = new_sum
    finally:
        caching.release(e)
        caching.release(p)
    return labels.select("node", F.col("label").alias("cluster_id"))


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    damping: float = 0.85,
    iters: int = 3,
) -> DataFrame:
    """Fixed-iteration PageRank over an undirected edge list.

    The second iterative-graph primitive after ``connected_components``:
    authority scoring for corpus governance (which documents anchor a
    near-dup cluster, which hubs dominate a link graph). Fixed ``iters``
    (no convergence action) keeps it deterministic and replayable as an
    unrolled ANSI CTE for the oracle.

    Scale shape: degree and rank frames are node-keyed; each iteration is
    ONE shuffle join (contributions = edges ⋈ ranks on the source) plus a
    map-side-combinable sum — the same per-round cost as CC. Dangling
    nodes (no in-edges after symmetrization: impossible here, since
    symmetric graphs give every edge-touching node in-edges) need no
    special term; the (1-d)/N base is applied through a left join on the
    full node set. N enters as a 1-row broadcast, never a collect.
    """
    # Persist the input projection BEFORE symmetrizing (r15): the union
    # references it on both sides, so an expensive upstream edge
    # pipeline (the doc-graph queries feed the MinHash candidate+verify
    # chain here) would otherwise evaluate twice inside e's
    # materialization.
    p = caching.persist(edges.select(F.col(src).alias("a"), F.col(dst).alias("b")))
    # Persist the shared frames: e feeds every iteration's contribution
    # join and nodes/deg; without the cache each of the unrolled
    # iterations re-embeds (and re-computes) the whole symmetrize +
    # distinct subtree — the r14 before-plan carried 236 Exchange nodes
    # for 3 iterations, and Catalyst re-optimized that whole history on
    # every action.  persist() keeps lineage, so the caller's single
    # action populates the caches mid-plan and every later reference is
    # an InMemoryRelation read (the jaccard_self_join discipline);
    # registered so benchmark loops can release the blocks eagerly.
    e = caching.persist(
        p.unionByName(p.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .distinct()
    )

    nodes = caching.persist(e.select(F.col("a").alias("node")).distinct())
    n_count = nodes.agg(F.count(F.lit(1)).alias("n"))
    deg = caching.persist(
        e.groupBy(F.col("a").alias("node"))
        .agg(F.count(F.lit(1)).alias("deg"))
    )

    ranks = nodes.crossJoin(F.broadcast(n_count)).select(
        "node", (F.lit(1.0) / F.col("n")).alias("rank")
    )
    for _ in range(iters):
        contribs = (
            e.join(ranks.withColumnRenamed("node", "a"), "a")
            .join(deg.withColumnRenamed("node", "a"), "a")
            .select(F.col("b").alias("node"), (F.col("rank") / F.col("deg")).alias("c"))
            .groupBy("node")
            .agg(F.sum("c").alias("in_sum"))
        )
        ranks = (
            nodes.join(contribs, "node", "left")
            .crossJoin(F.broadcast(n_count))
            .select(
                "node",
                (
                    (1.0 - damping) / F.col("n")
                    + damping * F.coalesce(F.col("in_sum"), F.lit(0.0))
                ).alias("rank"),
            )
        )
    return ranks


def triangle_stats(edges: DataFrame) -> DataFrame:
    """Global triangle count + clustering coefficient via the
    degree-oriented wedge join (the standard distributed algorithm,
    cf. Suri & Vassilvitskii WWW'11 and Spark GraphX's triangleCount).

    Input: ``(src, dst)`` edges, either orientation, duplicates and
    self-loops tolerated (canonicalized away).  Output: ONE row —
    ``(n_nodes, n_edges, n_wedges, n_triangles,
    global_clustering_coeff)`` where the coefficient is
    ``3 * triangles / wedges`` (exact integer inputs, rounded ratio).

    Why degree orientation matters at 100 TB: wedges are enumerated at
    each edge's LOWER-ranked endpoint under the total order
    ``(degree, node)``, so a hot hub of degree d generates wedges only
    for the few neighbors ranked above it — out-degrees are bounded by
    O(sqrt(m)), the pair blow-up a plain id orientation would hit on a
    star graph never materializes, and every join stays an equi-join.
    """
    # Persist the shared frames: e feeds deg (twice), the orientation
    # join and the edge count; o feeds both wedge sides and the closing
    # join.  Uncached, every reference re-embeds the canonicalize +
    # distinct subtree (the r14 before-plan carried 184 Exchange nodes);
    # cached, each is one InMemoryRelation read inside the caller's
    # single action.  The registry gives loops the eager-release hook.
    e = caching.persist(
        edges.select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
    )
    deg = caching.persist(
        e.select(F.col("a").alias("node"))
        .unionAll(e.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    # Orient each edge toward the higher (deg, node) endpoint.
    ed = (
        e.join(deg.select(F.col("node").alias("a"), F.col("deg").alias("da")), "a")
        .join(deg.select(F.col("node").alias("b"), F.col("deg").alias("db")), "b")
    )
    fwd = F.struct("da", "a") < F.struct("db", "b")
    o = caching.persist(
        ed.select(
            F.when(fwd, F.col("a")).otherwise(F.col("b")).alias("u"),
            F.when(fwd, F.col("b")).otherwise(F.col("a")).alias("v"),
            F.when(fwd, F.col("db")).otherwise(F.col("da")).alias("dv"),
        )
    )
    # Wedges at u: ordered out-neighbor pairs; closed by an oriented
    # (v, w) edge (orientation consistent because rank(v) < rank(w)).
    w1 = o.select("u", F.col("v").alias("x"), F.col("dv").alias("dx"))
    w2 = o.select("u", F.col("v").alias("y"), F.col("dv").alias("dy"))
    wedges = w1.join(w2, "u").where(
        F.struct("dx", "x") < F.struct("dy", "y")
    )
    tri = wedges.join(
        o.select(F.col("u").alias("x"), F.col("v").alias("y")), ["x", "y"]
    )
    n_tri = tri.agg(F.count(F.lit(1)).alias("n_triangles"))
    counts = e.agg(F.count(F.lit(1)).alias("n_edges")).crossJoin(
        deg.agg(
            F.count(F.lit(1)).alias("n_nodes"),
            F.sum(F.col("deg") * (F.col("deg") - 1) / 2)
            .cast("long")
            .alias("n_wedges"),
        )
    )
    return counts.crossJoin(n_tri).select(
        "n_nodes",
        "n_edges",
        "n_wedges",
        "n_triangles",
        F.round(
            F.lit(3) * F.col("n_triangles")
            / F.greatest(F.col("n_wedges"), F.lit(1)),
            6,
        ).alias("global_clustering_coeff"),
    )
