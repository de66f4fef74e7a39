"""PageRank (operators.graph): fixed-point iteration must match a Python
integer reference exactly on random graphs, and rank structure must behave
(hubs dominate, damping floor holds, weights matter)."""

from __future__ import annotations

import random

from pandemic_knowledge_spark.operators.graph import (
    DAMP_DEN,
    DAMP_NUM,
    ITERS,
    SCALE,
    pagerank,
)


def brute_pagerank(edges, iters=ITERS):
    """edges: [(src, dst, w)] — same int64 semantics as the Spark plan:
    node universe src ∪ dst, zero-contribution nodes keep the base."""
    out_w: dict[int, int] = {}
    for s, _, w in edges:
        out_w[s] = out_w.get(s, 0) + w
    nodes = {s for s, _, _ in edges} | {d for _, d, _ in edges}
    r = {n: SCALE for n in nodes}
    base = ((DAMP_DEN - DAMP_NUM) * SCALE) // DAMP_DEN
    for _ in range(iters):
        acc: dict[int, int] = {}
        for s, d, w in edges:
            acc[d] = acc.get(d, 0) + (r[s] * w) // out_w[s]
        r = {n: base + (DAMP_NUM * acc.get(n, 0)) // DAMP_DEN for n in nodes}
    return r


def _spark_ranks(spark, edges, iters=ITERS):
    df = spark.createDataFrame(edges, "src long, dst long, w long")
    return {r.node: r.rank for r in pagerank(df, iters).collect()}


def _symmetrize(pairs):
    return [(a, b, w) for a, b, w in pairs] + [(b, a, w) for a, b, w in pairs]


def test_matches_integer_reference_on_random_graph(spark):
    rng = random.Random(3)
    pairs = {(rng.randrange(0, 12), 12 + rng.randrange(0, 8)) for _ in range(40)}
    edges = _symmetrize([(a, b, 1 + rng.randrange(5)) for a, b in pairs])
    assert _spark_ranks(spark, edges) == brute_pagerank(edges)


def test_hub_dominates_star_graph(spark):
    edges = _symmetrize([(0, leaf, 1) for leaf in range(1, 9)])
    ranks = _spark_ranks(spark, edges)
    assert ranks[0] > max(ranks[leaf] for leaf in range(1, 9)) * 3


def test_damping_floor(spark):
    # every node's rank is at least the teleport term
    edges = _symmetrize([(0, 1, 1), (1, 2, 1), (2, 3, 5)])
    ranks = _spark_ranks(spark, edges)
    assert all(r >= (15 * SCALE) // DAMP_DEN for r in ranks.values())


def test_edge_weights_shift_rank(spark):
    # b receives 9x the weight a receives from the shared source
    edges = _symmetrize([(0, 1, 1), (0, 2, 9)])
    ranks = _spark_ranks(spark, edges)
    assert ranks[2] > ranks[1]


def test_symmetric_pair_equal_ranks(spark):
    edges = _symmetrize([(0, 1, 3)])
    ranks = _spark_ranks(spark, edges)
    assert ranks[0] == ranks[1]


def test_asymmetric_graph_keeps_source_only_nodes(spark):
    """A node with out-edges but no in-edges survives every round at the
    teleport base and keeps feeding its neighbors (the silent-drop bug
    class: rebuilding ranks from the contribution aggregate alone)."""
    edges = [(1, 2, 1), (2, 3, 1), (3, 2, 1)]
    ranks = _spark_ranks(spark, edges)
    assert ranks == brute_pagerank(edges)
    assert 1 in ranks and ranks[1] == (DAMP_DEN - DAMP_NUM) * SCALE // DAMP_DEN


def test_broadcast_gate_fallback_bit_identical(spark, monkeypatch):
    """r14 guard (r13 verdict item 8): over the node gate the loop must
    not broadcast its node tables, and the shuffle-join fallback must be
    bit-identical (integer arithmetic is partition-order-independent).
    Run the same graph in both regimes and compare exactly; check the
    fallback plan really has no broadcast of the rank/recv tables."""
    from pandemic_knowledge_spark.operators import graph

    rng = random.Random(7)
    pairs = {(rng.randrange(0, 10), 10 + rng.randrange(0, 6)) for _ in range(30)}
    edges = _symmetrize([(a, b, 1 + rng.randrange(4)) for a, b in pairs])
    expected = brute_pagerank(edges)
    assert _spark_ranks(spark, edges) == expected  # broadcast regime
    df = spark.createDataFrame(edges, "src long, dst long, w long")
    monkeypatch.setattr(graph, "PAGERANK_BCAST_MAX_NODES", 0)
    # Auto-broadcast off: the tiny test relations would otherwise be
    # planner-broadcast on size alone — with it off, a BroadcastHashJoin
    # could only come from an operator-side hint, which the gate must
    # have removed.
    prev_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        out = pagerank(df, ITERS)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" not in plan
        assert {r.node: r.rank for r in out.collect()} == expected
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_thresh)
