"""Property tests for operators.graphcc.connected_components_star.

The whole point of star contraction is topology-independence: a
chain — the worst case for min-label propagation (rounds = length) —
must converge in O(log n) rounds.  These tests drive the operator
over chains, stars, cliques, and seeded random graphs and compare
against a pure-Python union-find ground truth.
"""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from ondemand_dask_spark.operators.checkpoint import evict_all_retained
from ondemand_dask_spark.operators.graphcc import connected_components_star


def _union_find_labels(edges: list[tuple[int, int]]) -> dict[int, int]:
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # canonical label = component min: root chosen as min via the
    # max-points-to-min union rule above, then path-compress fully
    return {n: find(n) for n in parent}


def _run(spark, edges: list[tuple[int, int]]) -> dict[int, int]:
    df = spark.createDataFrame(edges, ["src", "dst"])
    labels = connected_components_star(df)
    got = {
        int(r["node"]): int(r["cluster_id"]) for r in labels.collect()
    }
    evict_all_retained()
    return got


def test_chain_converges(spark):
    # a 300-node path: propagation would need ~300 rounds; star
    # contraction's 32-round cap must be plenty (O(log n) ≈ 9).
    edges = [(i, i + 1) for i in range(300)]
    assert _run(spark, edges) == _union_find_labels(edges)


def test_two_cliques_and_a_star(spark):
    clique1 = [(a, b) for a in range(5) for b in range(a + 1, 5)]
    clique2 = [(a, b) for a in range(10, 14) for b in range(a + 1, 14)]
    star = [(100, x) for x in range(101, 120)]
    edges = clique1 + clique2 + star
    assert _run(spark, edges) == _union_find_labels(edges)


def test_random_graphs_match_union_find(spark):
    rng = random.Random(7)
    for trial in range(3):
        n = 120
        edges = [
            (rng.randrange(n), rng.randrange(n)) for _ in range(140)
        ]
        edges = [(a, b) for a, b in edges if a != b]
        assert _run(spark, edges) == _union_find_labels(edges), trial


def test_self_loops_dropped(spark):
    df = spark.createDataFrame([(1, 1), (2, 3)], ["src", "dst"])
    labels = connected_components_star(df)
    got = {int(r["node"]): int(r["cluster_id"]) for r in labels.collect()}
    evict_all_retained()
    assert got == {2: 2, 3: 2}


def test_round_budget_raises_before_the_fixpoint(spark):
    """max_rounds bounds contractions: a 40-node chain needs ~log2(40)
    of them, so a budget of 2 must raise rather than return a non-star
    (wrong) labeling."""
    df = spark.createDataFrame(
        [(i, i + 1) for i in range(40)], ["src", "dst"]
    )
    with pytest.raises(RuntimeError, match="star contraction did not converge within 2 rounds"):
        connected_components_star(df, max_rounds=2)
