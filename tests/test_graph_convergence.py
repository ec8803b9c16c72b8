"""graph_kcore peels to a genuine fixpoint, or raises.

The oracle unrolls a FIXED number of CTE peel rounds; the Spark side
runs `operators.graphcc.fixpoint` on a scalar edge-count probe with
that same number as its round budget, and raises when the budget runs
out.  So a query that completes compared a true k-core: the first test
runs the real registered query at all three SFs, the second pins the
raise on a constructed graph that needs two rounds.
"""

from __future__ import annotations

import os

import pytest

import ondemand_dask_spark.queries.graph as graph_mod
from tests.test_graph_known_answers import _mini_lineitem

_ALL_SF_DIRS = [
    d
    for d in (
        "/root/testdata/sf0.001",
        "/root/testdata/sf0.01",
        "/root/testdata/sf0.1",
    )
    if os.path.isdir(d)
]

# K4 ∪ K3 ∪ a 3-node path: round 1 peels K3 and the path, round 2
# observes the fixpoint (K4 alone)
KCORE_TWO_ROUNDS = [[1, 2, 3, 4], [21, 22], [22, 23], [21, 23], [31, 32], [32, 33]]


@pytest.mark.parametrize("sf", _ALL_SF_DIRS)
def test_kcore_converges_within_oracle_rounds(spark, sf):
    # the peel loop runs during the call and raises past its budget;
    # counting also proves the returned plan is executable
    assert graph_mod.graph_kcore(spark, sf).count() >= 0


def test_kcore_raises_when_its_budget_is_exhausted(spark, tmp_path, monkeypatch):
    sf_dir = _mini_lineitem(tmp_path, KCORE_TWO_ROUNDS)
    monkeypatch.setattr(graph_mod, "_KCORE_ROUNDS", 1)
    with pytest.raises(
        RuntimeError, match=r"k-core peel \(k=3\) did not converge within 1 rounds"
    ):
        graph_mod.graph_kcore(spark, sf_dir)
