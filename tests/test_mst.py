"""Borůvka minimum spanning forest (operators/mst.py, r14)."""

from __future__ import annotations

import random

import pytest

from dataflow_flex_pyarrow_to_gds_spark.operators.mst import (
    minimum_spanning_forest,
)


def _edges(spark, triples):
    return spark.createDataFrame(
        [(int(u), int(v), int(w)) for u, v, w in triples],
        "sourceNodeId long, targetNodeId long, weight long",
    )


def _kruskal(triples):
    """Sequential Kruskal under the same (w, u, v) total order — the
    unique forest the engine must reproduce. Canonicalizes u<v and
    collapses parallel edges to their min weight, like the engine."""
    best = {}
    for u, v, w in triples:
        if u == v:
            continue
        a, b = min(u, v), max(u, v)
        if (a, b) not in best or w < best[(a, b)]:
            best[(a, b)] = w
    parent = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    out = []
    for (u, v), w in sorted(best.items(), key=lambda kv: (kv[1], kv[0])):
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[ru] = rv
            out.append((u, v, w))
    return sorted(out)


def _run(spark, triples, **kw):
    return sorted(
        (r["edge_u"], r["edge_v"], r["weight"])
        for r in minimum_spanning_forest(_edges(spark, triples), **kw)
        .collect()
    )


def test_mst_hand_graph(spark):
    triples = [(1, 2, 5), (2, 3, 4), (3, 1, 3), (3, 4, 9)]
    assert _run(spark, triples) == [(1, 3, 3), (2, 3, 4), (3, 4, 9)]


def test_mst_matches_kruskal_on_random_graphs(spark):
    rng = random.Random(23)
    for trial in range(3):
        n = 14
        triples = [
            (rng.randrange(n), rng.randrange(n), rng.randrange(1, 9))
            for _ in range(30)
        ]
        assert _run(spark, triples) == _kruskal(triples), (trial, triples)


def test_mst_disconnected_forest_and_ties(spark):
    # two components + heavy weight ties: the (w, u, v) total order
    # still makes the forest unique
    triples = [
        (1, 2, 7), (2, 3, 7), (1, 3, 7),  # triangle, all tied
        (10, 11, 1), (11, 12, 1), (10, 12, 1),  # second component
    ]
    got = _run(spark, triples)
    assert got == _kruskal(triples)
    assert len(got) == 4  # 2 components of 3 nodes → 2 edges each


def test_mst_parallel_edges_and_self_loops(spark):
    triples = [(1, 2, 9), (2, 1, 3), (1, 1, 1), (2, 3, 4)]
    assert _run(spark, triples) == [(1, 2, 3), (2, 3, 4)]


def test_mst_guards(spark):
    e = _edges(spark, [(1, 2, 1)])
    with pytest.raises(ValueError, match="max_rounds"):
        minimum_spanning_forest(e, max_rounds=0)
    with pytest.raises(ValueError, match="max_jumps"):
        minimum_spanning_forest(e, max_jumps=0)
    # a 4-node path needs 2 merge rounds; max_rounds=1 raises loudly
    path = _edges(spark, [(1, 2, 1), (2, 3, 5), (3, 4, 1)])
    with pytest.raises(RuntimeError, match="still merging"):
        minimum_spanning_forest(path, max_rounds=1)
    # ... and exactly at budget it returns the whole forest
    assert minimum_spanning_forest(path, max_rounds=2).count() == 3


def test_mst_empty_and_null_edges(spark):
    df = spark.createDataFrame(
        [(None, 2, 1), (1, None, 1), (1, 2, None)],
        "sourceNodeId long, targetNodeId long, weight long",
    )
    assert minimum_spanning_forest(df).count() == 0


def test_mst_maximum_objective(spark):
    # GDS spanningTree's other objective: same engine, negated key
    triples = [(1, 2, 5), (2, 3, 4), (3, 1, 3), (3, 4, 9), (1, 4, 9)]
    got = _run(spark, triples, objective="maximum")
    # max forest keeps both 9s and the 5; exact check below via a
    # max-Kruskal twin (same total order, negated w)
    def kruskal_max(ts):
        best = {}
        for u, v, w in ts:
            if u == v:
                continue
            a, b = min(u, v), max(u, v)
            if (a, b) not in best or w > best[(a, b)]:
                best[(a, b)] = w
        parent = {}

        def find(x):
            while parent.setdefault(x, x) != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        out = []
        for (u, v), w in sorted(
            best.items(), key=lambda kv: (-kv[1], kv[0])
        ):
            ru, rv = find(u), find(v)
            if ru != rv:
                parent[ru] = rv
                out.append((u, v, w))
        return sorted(out)

    assert got == kruskal_max(triples)
    import random

    rng = random.Random(31)
    triples = [
        (rng.randrange(12), rng.randrange(12), rng.randrange(1, 9))
        for _ in range(26)
    ]
    assert _run(spark, triples, objective="maximum") == kruskal_max(
        triples
    )
    with pytest.raises(ValueError, match="objective"):
        minimum_spanning_forest(
            _edges(spark, [(1, 2, 1)]), objective="median"
        )


def test_mst_exact_budget_regression(spark):
    # review-confirmed off-by-one: a 4-node path completes in EXACTLY
    # 2 merge rounds; max_rounds=2 must succeed (the old top-only
    # probe exhausted range(2) and spuriously raised), and the
    # doubling budget has the same one-extra-confirming-pass semantics
    path = [(1, 2, 1), (2, 3, 5), (3, 4, 1)]
    got = _run(spark, path, max_rounds=2, max_jumps=2)
    assert got == [(1, 2, 1), (2, 3, 5), (3, 4, 1)]
