"""Property tests for operators.graphcc.connected_components_minlabel.

Min-label propagation needs one round per hop of component diameter
plus one round that observes the fixpoint, and round 1 is folded into
the edge build.  These tests pin that budget arithmetic on chains (the
worst case: rounds = length) — the chain that needs exactly the budget
converges, one node more raises instead of returning unconverged
labels — and compare labels against a pure-Python union-find on
disjoint triangles and stars.
"""

from __future__ import annotations

import pytest

from ondemand_dask_spark.operators.checkpoint import release_local_checkpoint
from ondemand_dask_spark.operators.graphcc import connected_components_minlabel
from tests.test_star_contraction import _union_find_labels


def _run(spark, edges, **kwargs) -> dict[int, int]:
    df = spark.createDataFrame(edges, ["src", "dst"])
    labels, ckpt = connected_components_minlabel(df, **kwargs)
    got = {int(r["node"]): int(r["cluster_id"]) for r in labels.collect()}
    assert release_local_checkpoint(ckpt)
    return got


def _chain(n_nodes: int) -> list[tuple[int, int]]:
    # descending ids: the minimum sits at one end, so the far end's
    # label drops one hop per round (diameter = n_nodes - 1)
    return [(n_nodes - i, n_nodes - i - 1) for i in range(n_nodes - 1)]


def test_chain_needing_exactly_the_budget_converges(spark):
    # 10 nodes: rounds 1..9 (round 1 folded) each lower the far end's
    # label, round 10 observes the fixpoint — the default budget.
    edges = _chain(10)
    stats: dict = {}
    assert _run(spark, edges, stats=stats) == _union_find_labels(edges)
    assert stats["rounds"] == 10


def test_chain_one_longer_raises(spark):
    stats: dict = {}
    df = spark.createDataFrame(_chain(11), ["src", "dst"])
    with pytest.raises(RuntimeError, match="did not converge within 10 rounds"):
        connected_components_minlabel(df, stats=stats)
    assert stats["rounds"] == 10


def test_disjoint_triangles_and_stars_match_union_find(spark):
    triangles = [
        e
        for base in (0, 10, 20)
        for e in [(base, base + 1), (base + 1, base + 2), (base + 2, base)]
    ]
    # one star centred on its minimum, one centred on its maximum
    stars = [(100, x) for x in range(101, 110)] + [
        (250, x) for x in range(200, 210)
    ]
    edges = triangles + stars
    stats: dict = {}
    assert _run(spark, edges, stats=stats) == _union_find_labels(edges)
    # diameter 2 (the max-centred star): rounds 1-2 change, 3 is idle
    assert stats["rounds"] == 3
