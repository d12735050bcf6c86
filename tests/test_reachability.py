"""The graph layer's frontier loops against Python references:
graph.reachable_from / graph.transitive_closure / graph.bfs_layers
(a Python BFS) and graph.weighted_sssp (a ≤k-hop DP)."""

import random
from collections import Counter

import pytest

from collection_templates_spark.operators.graph import (
    bfs_layers,
    reachable_from,
    transitive_closure,
)

# a cycle (1 -> 2 -> 3 -> 1) with a tail (3 -> 4 -> 5), duplicate edges,
# a self-loop on 6, and a branch 6 -> 7 -> 2 into the cycle
EDGES = [
    (1, 2), (2, 3), (3, 1), (3, 4), (4, 5),
    (1, 2), (4, 5),
    (6, 6), (6, 7), (7, 2),
]
# 9 has no edges at all; 5 is a sink; 1 is listed twice
SEEDS = [1, 5, 6, 9, 1]


def _bfs(edges, start):
    """Nodes reachable from ``start`` along at least one edge."""
    adj = {}
    for s, d in edges:
        adj.setdefault(s, set()).add(d)
    seen, todo = set(), [start]
    while todo:
        for nxt in adj.get(todo.pop(), ()):
            if nxt not in seen:
                seen.add(nxt)
                todo.append(nxt)
    return seen


def _reachable(edges, seeds):
    return {(s, s) for s in seeds} | {
        (s, v) for s in seeds for v in _bfs(edges, s)
    }


def _closure(edges):
    return {(s, v) for s in {s for s, _ in edges} for v in _bfs(edges, s)}


def _layers(edges, seeds, max_hops):
    """{hop: n_nodes}: each node's minimum hop count from any seed over
    the undirected view of ``edges``, for nodes within ``max_hops``."""
    adj = {}
    for s, d in edges:
        adj.setdefault(s, set()).add(d)
        adj.setdefault(d, set()).add(s)
    hop = {s: 0 for s in seeds}
    frontier = set(hop)
    for h in range(1, max_hops + 1):
        frontier = {v for u in frontier for v in adj.get(u, ()) if v not in hop}
        hop.update((v, h) for v in frontier)
    return dict(Counter(hop.values()))


@pytest.mark.parametrize("edges", [EDGES, []], ids=["graph", "no_edges"])
def test_reachable_from_and_closure_match_bfs(spark, edges):
    e = spark.createDataFrame(edges, "src int, dst int")
    seeds = spark.createDataFrame([(s,) for s in SEEDS], "node int")

    got = {(r.seed, r.node) for r in reachable_from(e, seeds).collect()}
    assert got == _reachable(edges, SEEDS)

    # reversed walk: (seed, node) where node reaches seed
    rev = [(d, s) for s, d in edges]
    got = {
        (r.seed, r.node)
        for r in reachable_from(e, seeds, src="dst", dst="src").collect()
    }
    assert got == _reachable(rev, SEEDS)

    tc = transitive_closure(e)
    assert tc.columns == ["src", "dst"]
    rows = [(r.src, r.dst) for r in tc.collect()]
    assert len(rows) == len(set(rows))
    assert set(rows) == _closure(edges)


@pytest.mark.parametrize("edges", [EDGES, []], ids=["graph", "no_edges"])
def test_bfs_layers_match_min_hop_bfs(spark, edges):
    e = spark.createDataFrame(edges, "src int, dst int")
    seeds = spark.createDataFrame([(s,) for s in SEEDS], "node int")
    for max_hops in (1, 4):
        got = bfs_layers(e, seeds, max_hops=max_hops)
        assert got.columns == ["hop", "n_nodes"]
        assert {r.hop: r.n_nodes for r in got.collect()} == _layers(
            edges, SEEDS, max_hops
        )


def test_bfs_layers_path_graph(spark):
    # path a-b-c-d-e (directed edges stored one way; BFS is undirected),
    # seed c: layers 0:{c} 1:{b,d} 2:{a,e}
    from collection_templates_spark.operators.graph import bfs_layers

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("d", "e")],
        "src string, dst string",
    )
    seeds = spark.createDataFrame([("c",)], "node string")
    out = {r.hop: r.n_nodes for r in bfs_layers(
        edges, seeds, max_hops=2).collect()}
    assert out == {0: 1, 1: 2, 2: 2}
    # max_hops truncates: 1 hop stops at b/d
    out1 = {r.hop: r.n_nodes for r in bfs_layers(
        edges, seeds, max_hops=1).collect()}
    assert out1 == {0: 1, 1: 2}


def test_bfs_layers_conservation_and_monotone_frontier(spark):
    rng = random.Random(149)
    nodes = [f"n{i}" for i in range(60)]
    edges = [
        (rng.choice(nodes), rng.choice(nodes)) for _ in range(150)
    ]
    edf = spark.createDataFrame(edges, "src string, dst string")
    seeds = spark.createDataFrame([("n0",), ("n1",)], "node string")
    out = {r.hop: r.n_nodes for r in bfs_layers(
        edf, seeds, max_hops=6).collect()}
    assert out[0] == 2
    # every node counted at most once across layers
    assert sum(out.values()) <= len(nodes)
    # larger hop budget can only reach MORE nodes
    out3 = {r.hop: r.n_nodes for r in bfs_layers(
        edf, seeds, max_hops=3).collect()}
    assert sum(out3.values()) <= sum(out.values())
    # shared prefix identical
    for h in out3:
        if h < 3:
            assert out3[h] == out[h]


def test_weighted_sssp_brute_force(spark):
    """Frontier Bellman–Ford equals the Python ≤k-hop DP on a random
    weighted graph, including unreachable nodes staying absent."""
    from collection_templates_spark.operators.graph import weighted_sssp

    rng = random.Random(233)
    n = 30
    edges = [
        (f"n{rng.randrange(n)}", f"n{rng.randrange(n)}", rng.randint(1, 9))
        for _ in range(60)
    ]
    max_hops = 3
    out = {
        r.node: r.dist
        for r in weighted_sssp(
            spark.createDataFrame(edges, "src string, dst string, w long"),
            spark.createDataFrame([("n0",), ("n1",)], "node string"),
            max_hops=max_hops,
        ).collect()
    }
    # Python DP over undirected min-weight edge set
    und = {}
    for s, d, w in edges:
        for a, b in ((s, d), (d, s)):
            und[(a, b)] = min(und.get((a, b), w), w)
    dist = {"n0": 0, "n1": 0}
    for _ in range(max_hops):
        new = dict(dist)
        for (a, b), w in und.items():
            if a in dist and dist[a] + w < new.get(b, float("inf")):
                new[b] = dist[a] + w
        dist = new
    assert out == dist
