"""Property tests for operators.graphcc.connected_components_minlabel.

Min-label propagation needs one round per hop of component diameter
plus one round that observes the fixpoint, and round 1 is folded into
the edge build but still counts against `max_rounds`.  These tests pin
that budget arithmetic on chains (the worst case: rounds = length) and
on a diameter-2 graph — the budget the graph needs converges, one
round less raises instead of returning unconverged labels — and
compare labels against a pure-Python union-find on disjoint triangles
and stars.
"""

from __future__ import annotations

import pytest

from ondemand_dask_spark.operators.checkpoint import evict_all_retained
from ondemand_dask_spark.operators.graphcc import connected_components_minlabel
from tests.test_star_contraction import _union_find_labels


def _run(spark, edges, **kwargs) -> dict[int, int]:
    df = spark.createDataFrame(edges, ["src", "dst"])
    labels = connected_components_minlabel(df, **kwargs)
    got = {int(r["node"]): int(r["cluster_id"]) for r in labels.collect()}
    evict_all_retained()
    return got


def _budget_raise(max_rounds: int) -> str:
    return (
        rf"min-label propagation .*\(max_rounds={max_rounds}\) did not "
        rf"converge within {max_rounds - 1} rounds"
    )


def _chain(n_nodes: int) -> list[tuple[int, int]]:
    # descending ids: the minimum sits at one end, so the far end's
    # label drops one hop per round (diameter = n_nodes - 1)
    return [(n_nodes - i, n_nodes - i - 1) for i in range(n_nodes - 1)]


def test_chain_needing_exactly_the_budget_converges(spark):
    # 10 nodes: rounds 1..9 (round 1 folded) each lower the far end's
    # label, round 10 observes the fixpoint — the default budget.
    edges = _chain(10)
    assert _run(spark, edges) == _union_find_labels(edges)
    with pytest.raises(RuntimeError, match=_budget_raise(9)):
        _run(spark, edges, max_rounds=9)


def test_chain_one_longer_raises(spark):
    df = spark.createDataFrame(_chain(11), ["src", "dst"])
    with pytest.raises(RuntimeError, match=_budget_raise(10)):
        connected_components_minlabel(df)


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
    # diameter 2 (the max-centred star): rounds 1-2 change, 3 is idle
    assert _run(spark, edges, max_rounds=3) == _union_find_labels(edges)
    with pytest.raises(RuntimeError, match=_budget_raise(2)):
        _run(spark, edges, max_rounds=2)
