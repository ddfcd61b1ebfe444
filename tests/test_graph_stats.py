"""Tests for operators/dedup.triangle_stats — hand graphs with known
triangle/wedge counts, a brute-force cross-check on pseudo-random
graphs, and the hub-skew case the degree-ordered orientation exists
for."""

from __future__ import annotations

import hashlib
from itertools import combinations

from biometric_stream_processing_spark.operators.dedup import triangle_stats


def _edges(spark, pairs):
    return spark.createDataFrame(
        [(a, b) for a, b in pairs], "id_a long, id_b long"
    )


def _brute(pairs):
    es = {(min(a, b), max(a, b)) for a, b in pairs if a != b}
    nodes = {n for e in es for n in e}
    deg = {n: sum(n in e for e in es) for n in nodes}
    wedges = sum(d * (d - 1) // 2 for d in deg.values())
    tris = sum(
        1
        for a, b, c in combinations(sorted(nodes), 3)
        if (a, b) in es and (a, c) in es and (b, c) in es
    )
    return len(nodes), len(es), wedges, tris


def _check(spark, pairs):
    row = triangle_stats(_edges(spark, pairs)).collect()[0]
    n, e, w, t = _brute(pairs)
    assert (row.n_nodes, row.n_edges, row.n_wedges, row.n_triangles) == (
        n, e, w, t
    ), (pairs, tuple(row))
    if w:
        assert row.clustering_coeff == round(3 * t / w, 6)
    else:
        assert row.clustering_coeff == 0.0


def test_single_triangle(spark):
    row = triangle_stats(_edges(spark, [(1, 2), (1, 3), (2, 3)])).collect()[0]
    assert (row.n_nodes, row.n_edges, row.n_wedges, row.n_triangles) == (
        3, 3, 3, 1
    )
    assert row.clustering_coeff == 1.0


def test_square_has_no_triangles(spark):
    _check(spark, [(1, 2), (2, 3), (3, 4), (1, 4)])


def test_star_hub_counts_wedges_not_triangles(spark):
    # hub 0 with 6 leaves: 15 wedges, 0 triangles — the shape where a
    # low-id hub would explode naive id-ordered wedge generation
    _check(spark, [(0, i) for i in range(1, 7)])


def test_clique_k5(spark):
    _check(spark, list(combinations(range(5), 2)))


def test_hub_plus_rim_triangles(spark):
    # wheel: hub 0 to rim 1..5 plus the rim cycle -> 5 triangles
    rim = [(i, i + 1) for i in range(1, 5)] + [(1, 5)]
    _check(spark, [(0, i) for i in range(1, 6)] + rim)


def test_duplicate_and_unordered_edges_are_canonicalized(spark):
    # triangle given with duplicates; also reversed-order rows are
    # dropped by the a<b filter (inputs are contractually canonical,
    # duplicates tolerated)
    _check(spark, [(1, 2), (1, 2), (1, 3), (2, 3), (2, 3)])


def test_pseudo_random_graphs_match_brute_force(spark):
    # deterministic md5-derived edge sets, a few densities
    for seed in ("g1", "g2", "g3"):
        pairs = []
        for a, b in combinations(range(12), 2):
            h = hashlib.md5(f"{seed}:{a}:{b}".encode()).digest()[0]
            if h < 80:  # ~31% density
                pairs.append((a, b))
        _check(spark, pairs)


# ---------------------------------------------------------- pagerank

def test_pagerank_uniform_on_regular_graph(spark):
    """On a regular graph (triangle) the uniform vector is the exact
    fixpoint — every iteration must return 1/3 per node."""
    from biometric_stream_processing_spark.operators.dedup import (
        pagerank,
    )

    out = pagerank(
        _edges(spark, [(1, 2), (1, 3), (2, 3)]), iters=3
    ).collect()
    for r in out:
        assert r.rank == round(1 / 3, 9)


def test_pagerank_hub_outranks_leaves_and_mass_conserved(spark):
    from biometric_stream_processing_spark.operators.dedup import (
        pagerank,
    )

    out = {
        r.node: r.rank
        for r in pagerank(
            _edges(spark, [(0, i) for i in range(1, 6)]), iters=3
        ).collect()
    }
    assert all(out[0] > out[i] for i in range(1, 6))
    leaf_ranks = {out[i] for i in range(1, 6)}
    assert len(leaf_ranks) == 1          # symmetry
    assert abs(sum(out.values()) - 1.0) < 1e-6   # mass conserved


def test_pagerank_deterministic_under_repartition(spark):
    from biometric_stream_processing_spark.operators.dedup import (
        pagerank,
    )
    from itertools import combinations

    pairs = [(a, b) for a, b in combinations(range(9), 2)
             if (a * 7 + b * 3) % 4 != 0]
    e1 = _edges(spark, pairs)
    e2 = _edges(spark, pairs).repartition(7)
    r1 = sorted(tuple(r) for r in pagerank(e1, iters=3).collect())
    r2 = sorted(tuple(r) for r in pagerank(e2, iters=3).collect())
    assert r1 == r2                      # exact-decimal sums: bit-equal


def _checkpoint_states(df):
    """``isCheckpointed`` of every checkpointed RDD the plan of ``df``
    reads, before any action runs on it."""
    leaves = df._jdf.queryExecution().analyzed().collectLeaves()
    return [
        leaves.apply(i).rdd().isCheckpointed() for i in range(leaves.size())
        if leaves.apply(i).getClass().getSimpleName() == "LogicalRDD"
    ]


def test_pagerank_checkpoints_its_edge_list_eagerly(spark):
    """The symmetrized edge list is shared by the concurrent jobs of one
    AQE query. Checkpointed lazily, the first job to finish clears its
    lineage while another job's submission walks it (a DAGScheduler
    NullPointerException), so the plan pagerank returns must read an
    RDD that is checkpointed before any action runs."""
    from biometric_stream_processing_spark.operators.dedup import (
        pagerank,
    )

    states = _checkpoint_states(
        pagerank(_edges(spark, [(1, 2), (2, 3)]), iters=1)
    )
    assert states and all(states)


def test_triangle_stats_checkpoints_its_edge_list_eagerly(spark):
    """Same race as pagerank's: the canonical edge list feeds the degree
    count, the orientation joins and the closing-edge join of one AQE
    query, so it must be checkpointed before any action runs."""
    states = _checkpoint_states(
        triangle_stats(_edges(spark, [(1, 2), (2, 3), (1, 3)]))
    )
    assert states and all(states)


def test_bfs_checkpoints_its_shared_inputs_eagerly(spark, monkeypatch):
    """The symmetrized edge list and the level-0 frame are read by the
    concurrent jobs of every level's query, so each must already be
    checkpointed when ``localCheckpoint`` returns it. The per-level
    frames may stay lazy: the level's own count materializes them
    before anything else reads them."""
    from biometric_stream_processing_spark.operators.dedup import (
        bfs_levels,
    )

    edges = _edges(spark, [(1, 2), (2, 3)])
    frame_cls = type(edges)  # the session's concrete DataFrame class
    states = []
    real = frame_cls.localCheckpoint

    def spy(self, *args, **kwargs):
        out = real(self, *args, **kwargs)
        states.append(_checkpoint_states(out))
        return out

    monkeypatch.setattr(frame_cls, "localCheckpoint", spy)
    bfs_levels(edges, spark.createDataFrame([(1,)], "node long"),
               max_depth=1)
    sym, visited = states[:2]
    assert sym and all(sym)
    assert visited and all(visited)


def test_bfs_chain_distances(spark):
    from biometric_stream_processing_spark.operators.dedup import (
        bfs_levels,
    )

    edges = _edges(spark, [(1, 2), (2, 3), (3, 4), (4, 5)])
    srcs = spark.createDataFrame([(1,)], "node long")
    out = {r.node: r.dist for r in bfs_levels(edges, srcs).collect()}
    assert out == {1: 0, 2: 1, 3: 2, 4: 3, 5: 4}


def test_bfs_multi_source_takes_nearest(spark):
    from biometric_stream_processing_spark.operators.dedup import (
        bfs_levels,
    )

    edges = _edges(spark, [(1, 2), (2, 3), (3, 4), (4, 5)])
    srcs = spark.createDataFrame([(1,), (5,)], "node long")
    out = {r.node: r.dist for r in bfs_levels(edges, srcs).collect()}
    assert out == {1: 0, 5: 0, 2: 1, 4: 1, 3: 2}


def test_bfs_unreachable_nodes_absent_and_depth_cap(spark):
    from biometric_stream_processing_spark.operators.dedup import (
        bfs_levels,
    )

    edges = _edges(spark, [(1, 2), (2, 3), (8, 9)])  # 8-9 disconnected
    srcs = spark.createDataFrame([(1,)], "node long")
    out = {r.node: r.dist for r in bfs_levels(edges, srcs).collect()}
    assert set(out) == {1, 2, 3}
    capped = {
        r.node: r.dist
        for r in bfs_levels(edges, srcs, max_depth=1).collect()
    }
    assert set(capped) == {1, 2}         # 3 is beyond the cap
