"""Connected-components operator: correctness on shapes label propagation
must handle — transitive chains, separate components, duplicate/reversed
edges, and a path long enough to need several propagation rounds."""

import types
import weakref

import pytest

from cryptocurrency_data_pipeline_spark.operators import caching
from cryptocurrency_data_pipeline_spark.operators.caching import _persistent_rdd_ids
from cryptocurrency_data_pipeline_spark.operators.graph import connected_components


def cc(spark, pairs):
    df = spark.createDataFrame(pairs, "src long, dst long")
    out = connected_components(df)
    return {r.node: r.cluster_id for r in out.collect()}


def test_chain_and_island(spark):
    got = cc(spark, [(1, 2), (2, 3), (10, 11)])
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_duplicate_and_reversed_edges(spark):
    got = cc(spark, [(5, 4), (4, 5), (4, 5), (6, 5)])
    assert got == {4: 4, 5: 4, 6: 4}


def test_long_path_converges(spark):
    # 12-node path with ids descending against the propagation direction:
    # worst case for min-label — needs multiple rounds, not one.
    n = 12
    edges = [(i + 1, i) for i in range(1, n)]
    got = cc(spark, edges)
    assert got == {i: 1 for i in range(1, n + 1)}


def test_self_loop_singleton(spark):
    got = cc(spark, [(7, 7), (1, 2)])
    assert got == {7: 7, 1: 1, 2: 1}


def test_checkpoint_blocks_released_eagerly(spark):
    # Iterative localCheckpoints must not accumulate in the block manager:
    # each superseded round's blocks are unpersisted as soon as the next
    # generation materializes, so a multi-round run leaves at most ONE new
    # pinned RDD (the final labels) behind — not one per round.
    sc = spark.sparkContext
    before = _persistent_rdd_ids(sc)
    n = 12  # long path → several propagation rounds, several checkpoints
    df = spark.createDataFrame([(i + 1, i) for i in range(1, n)], "src long, dst long")
    out = connected_components(df)
    assert {r.node: r.cluster_id for r in out.collect()} == {
        i: 1 for i in range(1, n + 1)
    }
    leaked = _persistent_rdd_ids(sc) - before
    assert len(leaked) <= 1, f"checkpoint blocks leaked: {leaked}"


def test_pagerank_triangle_uniform_and_hub_dominates(spark):
    from cryptocurrency_data_pipeline_spark.operators.graph import pagerank

    # Symmetric triangle: all nodes equivalent -> uniform 1/3 at any iter.
    tri = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1)], "src long, dst long"
    )
    r = {x.node: x.rank for x in pagerank(tri, iters=4).collect()}
    for v in r.values():
        assert abs(v - 1.0 / 3) < 1e-12

    # Star: the hub out-ranks every leaf.
    star = spark.createDataFrame(
        [(0, i) for i in range(1, 6)], "src long, dst long"
    )
    r = {x.node: x.rank for x in pagerank(star, iters=3).collect()}
    assert all(r[0] > r[i] for i in range(1, 6))
    # Ranks of a stochastic process stay a probability distribution.
    assert abs(sum(r.values()) - 1.0) < 1e-9


def _live_checkpoints(sc) -> set[int]:
    """RDD ids of the checkpoints registered on exactly this context."""
    return {rid for ctx, _, rid in caching._LIVE if ctx is sc and rid is not None}


def test_release_checkpoints_explicit_and_context_guarded(spark):
    sc = spark.sparkContext
    caching.release_all(spark)  # start from an empty registry on sc
    edges = spark.createDataFrame([(1, 2), (3, 4)], "src long, dst long")
    out = connected_components(edges)
    assert out.count() == 4
    final = _live_checkpoints(sc)
    assert len(final) == 1, "final generation should be retained"
    assert final <= _persistent_rdd_ids(sc)

    # An entry on another context (identity-keyed: a parallel session or
    # a restarted context) is never touched by this context's release.
    foreign = types.SimpleNamespace(sparkContext=object())
    caching._LIVE.append((foreign.sparkContext, weakref.ref(out), -1))

    assert caching.release_all(spark) >= 1
    assert not _live_checkpoints(sc)
    assert not final & _persistent_rdd_ids(sc), "blocks still pinned"
    assert caching.release_all(spark) == 0  # repeated release is a no-op
    assert [e for e in caching._LIVE if e[0] is foreign.sparkContext]
    assert caching.release_all(foreign) == 1


def test_held_result_survives_next_run_until_own_release(spark):
    # A result frame must stay fully queryable across LATER
    # connected_components invocations (invalidation-on-next-call made it
    # unrecoverable), and die only at its owner's release.
    sc = spark.sparkContext
    caching.release_all(spark)
    first_edges = spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long")
    held = connected_components(first_edges)
    (held_rid,) = _live_checkpoints(sc)

    # Two more runs on the same context — held must be untouched.
    for lo in (10, 20):
        other = spark.createDataFrame([(lo, lo + 1)], "src long, dst long")
        connected_components(other)
    assert {r.node: r.cluster_id for r in held.collect()} == {1: 1, 2: 1, 3: 1}
    assert held_rid in _persistent_rdd_ids(sc)

    caching.release_all(spark)
    # The held result's blocks (and the two later runs') are gone.
    assert held_rid not in _persistent_rdd_ids(sc)
    assert not _live_checkpoints(sc)


def test_failed_run_leaks_nothing_after_release_all(spark, monkeypatch):
    # A round that raises must not strand the edge caches or the live
    # label generations: the edge caches are released in the call's
    # finally, and the owner's release_all frees the checkpoints.
    sc = spark.sparkContext
    edges = spark.createDataFrame(
        [(i + 1, i) for i in range(1, 12)], "src long, dst long"
    )
    before = _persistent_rdd_ids(sc)
    real_agg = type(edges).agg
    calls = []

    def failing_agg(self, *exprs):
        calls.append(1)
        if len(calls) == 3:  # seed fingerprint, round 1, then round 2
            raise RuntimeError("injected round-2 failure")
        return real_agg(self, *exprs)

    monkeypatch.setattr(type(edges), "agg", failing_agg)
    with pytest.raises(RuntimeError, match="injected round-2 failure"):
        connected_components(edges)
    monkeypatch.undo()
    assert len(calls) == 3

    caching.release_all(spark)
    leaked = _persistent_rdd_ids(sc) - before
    assert not leaked, f"RDDs still pinned after release_all: {leaked}"


def test_triangle_stats_known_graph(spark):
    from cryptocurrency_data_pipeline_spark.operators.graph import (
        triangle_stats,
    )

    # K4 (4 triangles) + a pendant edge + a duplicate/reversed edge +
    # a self-loop: canonicalization must neutralize the junk.
    edges = [(a, b) for a in range(4) for b in range(4) if a < b]
    edges += [(3, 4), (1, 0), (2, 2)]
    df = spark.createDataFrame(edges, "src long, dst long")
    row = triangle_stats(df).collect()[0]
    assert row.n_nodes == 5 and row.n_edges == 7
    assert row.n_triangles == 4
    # wedges: degs are [3,3,3,4,1] -> 3+3+3+6+0 = 15
    assert row.n_wedges == 15
    assert row.global_clustering_coeff == round(12 / 15, 6)


def test_triangle_stats_triangle_free(spark):
    from cryptocurrency_data_pipeline_spark.operators.graph import (
        triangle_stats,
    )

    # A star has wedges but no triangles (and the hub's orientation
    # pushes enumeration to the leaves — the skew story).
    df = spark.createDataFrame(
        [(0, i) for i in range(1, 8)], "src long, dst long"
    )
    row = triangle_stats(df).collect()[0]
    assert row.n_triangles == 0 and row.n_wedges == 21
    assert row.global_clustering_coeff == 0.0


def test_connected_components_string_node_ids(spark):
    """Node ids need not be numeric: the convergence fingerprint hashes
    labels (a plain SUM(label) crashes with CAST_INVALID_INPUT on string
    ids under ANSI).  Two components over sha-like string ids."""
    df = spark.createDataFrame(
        [("aa", "bb"), ("bb", "cc"), ("xx", "yy")], "src string, dst string"
    )
    out = {r.node: r.cluster_id for r in connected_components(df).collect()}
    assert out == {"aa": "aa", "bb": "aa", "cc": "aa", "xx": "xx", "yy": "xx"}
