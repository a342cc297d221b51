"""fixpoint() — the one superstep driver behind the iterative graph
operators (graph_algo, scc, mst, biconnect): round budget, uniform
non-convergence error, and release of superseded round checkpoints."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dataflow_flex_pyarrow_to_gds_spark.operators._materialize import fixpoint
from dataflow_flex_pyarrow_to_gds_spark.operators.biconnect import (
    _sparse_extrema,
)
from dataflow_flex_pyarrow_to_gds_spark.operators.graph_algo import (
    dag_longest_path,
    hits_fixedpoint,
    pagerank_fixedpoint,
)


def _persistent_ids(spark) -> set:
    # id SETS, not counts: the async ContextCleaner may reclaim other
    # tests' checkpoint blocks mid-test, which shrinks a count but never
    # adds to the new-ids delta
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())


def _bump(calls):
    def step(st, r):
        calls.append(r)
        return st.select((F.col("x") + 1).alias("x"))

    return step


def _x(df) -> int:
    return df.first()["x"]


def _at3(st, rows) -> bool:
    return _x(st) == 3


def test_fixpoint_budget_and_error(spark):
    start = spark.createDataFrame([(0,)], "x long")

    calls = []
    out = fixpoint(start, _bump(calls), name="toy", max_rounds=3, done=_at3)
    assert _x(out) == 3 and calls == [0, 1, 2]  # converges in exactly 3

    with pytest.raises(RuntimeError, match="toy: no fixpoint in 2 rounds"):
        fixpoint(start, _bump([]), name="toy", max_rounds=2, done=_at3)

    calls = []
    out = fixpoint(start, _bump(calls), name="toy", max_rounds=4)
    assert _x(out) == 4 and calls == [0, 1, 2, 3]  # done=None: exactly N

    # the caller's initial state and the returned frame stay readable
    assert _x(start) == 0 and _x(out) == 4


def test_fixpoint_releases_superseded_rounds(spark):
    start = spark.createDataFrame([(0,)], "x long")
    before = _persistent_ids(spark)
    out = fixpoint(start, _bump([]), name="toy", max_rounds=10)
    new = _persistent_ids(spark) - before
    assert len(new) <= 1, new  # only the returned round
    assert _x(out) == 10

    before = _persistent_ids(spark)
    lazy = fixpoint(
        start, _bump([]), name="toy", max_rounds=3, checkpoint=False
    )
    assert _persistent_ids(spark) - before == set()
    assert _x(lazy) == 3


def test_graph_loops_release_superseded_rounds(spark):
    # 200-node path: PageRank's invariants are nodes, edges, out-degree
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(199)], "sourceNodeId long, targetNodeId long"
    )
    nodes = spark.range(200).select(F.col("id").alias("nodeId"))
    before = _persistent_ids(spark)
    ranks = pagerank_fixedpoint(nodes, edges, iters=20)
    new = _persistent_ids(spark) - before
    assert len(new) <= 3 + 1, new
    assert ranks.count() == 200

    # 21-node chain: 21 level rounds; invariants are nodes and edges
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(20)], "sourceNodeId long, targetNodeId long"
    )
    before = _persistent_ids(spark)
    levels = dag_longest_path(chain)
    new = _persistent_ids(spark) - before
    assert len(new) <= 2 + 1, new
    assert dict(map(tuple, levels.collect())) == {i: i for i in range(21)}

    # HITS returns hub scores derived from its last kept round: every
    # released round must be unreachable from the result
    hits = hits_fixedpoint(chain, iters=5).collect()
    assert {r["kind"] for r in hits} == {"hub", "authority"}
    assert len(hits) == 40


def test_sparse_table_releases_superseded_levels(spark):
    # 64 rows → 6 levels; each level's table holds every level below
    # it, so keeping superseded tables would retain O(L²·n) rows
    nodes = spark.range(1, 65).select(
        F.col("id").alias("tin"),
        (F.col("id") * 7 % 61).alias("m_low"),
        (F.col("id") * 13 % 59).alias("m_high"),
    )
    before = _persistent_ids(spark)
    tbl, lv = _sparse_extrema(nodes, 64)
    new = _persistent_ids(spark) - before
    assert len(new) <= 2, new
    assert tbl.count() == 64 * 7
    assert [tuple(r) for r in lv.orderBy("k").collect()][-1] == (6, 64, 64, 64)
