"""graph.reachable_from / graph.transitive_closure against a Python BFS."""

import pytest

from collection_templates_spark.operators.graph import (
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
