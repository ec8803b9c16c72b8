"""Property-based test for the distributed exact grouped-quantile
operator (operators/quantile.py) against numpy's linear-interpolation
percentile — the same `quantile_cont` semantics the DuckDB oracle
checks, but over adversarial generated inputs (duplicates, negatives,
single-element groups, skewed group sizes) instead of the fixtures.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from ondemand_dask_spark.operators import quantile
from ondemand_dask_spark.operators.quantile import (
    MAX_ROWS_PER_SORT_TASK,
    choose_quantile_path,
    exact_group_quantiles,
)

# (group label, value) rows; values quantized to avoid float-noise
# flakiness in the == comparison below (we assert near-equality anyway)
_rows = st.lists(
    st.tuples(
        st.sampled_from(["a", "b", "c"]),
        st.integers(min_value=-1000, max_value=1000).map(lambda v: v / 10.0),
    ),
    min_size=1,
    max_size=60,
)


@pytest.mark.usefixtures("spark")
@pytest.mark.parametrize("path", ["sort", "ranged"])
@given(rows=_rows, q=st.sampled_from([0.0, 0.1, 0.25, 0.5, 0.9, 1.0]))
@settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_exact_group_quantiles_matches_numpy(spark, monkeypatch, path, rows, q):
    # Both paths through the one entry point: the chooser is looked up
    # on every call, so patching it forces the path.
    calls = []
    monkeypatch.setattr(
        quantile, "choose_quantile_path", lambda *a: calls.append(a) or path
    )
    pdf = pd.DataFrame(rows, columns=["k", "v"])
    sdf = spark.createDataFrame(pdf)
    got = (
        exact_group_quantiles(sdf, ["k"], "v", {"qv": q})
        .toPandas()
        .set_index("k")["qv"]
        .sort_index()
    )
    exp = (
        pdf.groupby("k")["v"]
        .apply(lambda s: float(np.percentile(s, q * 100, method="linear")))
        .sort_index()
    )
    assert calls, "exact_group_quantiles no longer consults the chooser"
    assert list(got.index) == list(exp.index)
    assert np.allclose(got.values, exp.values, rtol=1e-12, atol=1e-12)


# ---------------------------------------------------------------------------
# Path selection
# ---------------------------------------------------------------------------


def test_choose_path_many_normal_groups_sorts():
    # per-tenant/per-day shape: millions of groups, none huge
    assert choose_quantile_path(50_000, 10_000_000_000, 32) == "sort"
    # the sf0.1 fixture: largest group 240k of 600k rows, on any host
    for cores in (1, 4, 32, 1024):
        assert choose_quantile_path(240_000, 600_000, cores) == "sort"
    # boundary: at the per-task limit, even as the only group
    cap = MAX_ROWS_PER_SORT_TASK
    assert choose_quantile_path(cap, cap, 32) == "sort"


def test_choose_path_few_huge_groups_ranged():
    # generated sf1 on 32 cores: largest group 2.4M of 6M rows is 12.8
    # fair shares; ranged 4.5 s vs sort 13.5 s (OPTIMIZATION_r15.md)
    assert choose_quantile_path(2_400_000, 6_000_000, 32) == "ranged"
    cap = MAX_ROWS_PER_SORT_TASK
    assert choose_quantile_path(cap + 1, 1_500_000, 4) == "ranged"


def test_choose_path_few_cores_sort_the_huge_groups():
    # the same 2.4M of 6M rows on 4 cores is 1.6 fair shares: three
    # group sorts already fill the machine (sort 10.59 s vs ranged
    # 13.29 s measured); today's generated sf1 has 2.0M of 6.0M
    assert choose_quantile_path(2_400_000, 6_000_000, 4) == "sort"
    assert choose_quantile_path(2_001_121, 5_999_909, 4) == "sort"
    # exactly two fair shares is not yet the critical path
    assert choose_quantile_path(2_000_000, 4_000_000, 4) == "sort"
