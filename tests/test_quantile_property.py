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

from ondemand_dask_spark.operators.quantile import (
    MAX_ROWS_PER_SORT_TASK,
    choose_quantile_path,
    exact_group_quantiles,
    exact_group_quantiles_auto,
    exact_group_quantiles_ranged,
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
@pytest.mark.parametrize(
    "impl",
    [
        exact_group_quantiles,
        exact_group_quantiles_ranged,
    ],
    ids=["sort", "ranged"],
)
@given(rows=_rows, q=st.sampled_from([0.0, 0.1, 0.25, 0.5, 0.9, 1.0]))
@settings(
    max_examples=25,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_exact_group_quantiles_matches_numpy(spark, impl, rows, q):
    pdf = pd.DataFrame(rows, columns=["k", "v"])
    sdf = spark.createDataFrame(pdf)
    got = (
        impl(sdf, ["k"], "v", {"qv": q})
        .toPandas()
        .set_index("k")["qv"]
        .sort_index()
    )
    exp = (
        pdf.groupby("k")["v"]
        .apply(lambda s: float(np.percentile(s, q * 100, method="linear")))
        .sort_index()
    )
    assert list(got.index) == list(exp.index)
    assert np.allclose(got.values, exp.values, rtol=1e-12, atol=1e-12)


# ---------------------------------------------------------------------------
# Auto path selection
# ---------------------------------------------------------------------------


def test_choose_path_many_normal_groups_sorts():
    # per-tenant/per-day shape: millions of groups, none huge
    assert choose_quantile_path(max_group_rows=50_000) == "sort"
    assert choose_quantile_path(MAX_ROWS_PER_SORT_TASK) == "sort"  # boundary


def test_choose_path_few_huge_groups_ranged():
    # 3 groups × ~30B rows: a one-task-per-group window sort
    # serializes; the big-group path is the range-partitioned
    # distributed rank (4.5 vs 13.5 s at generated sf1,
    # OPTIMIZATION_r15.md)
    assert choose_quantile_path(max_group_rows=30_000_000_000) == "ranged"
    assert choose_quantile_path(MAX_ROWS_PER_SORT_TASK + 1) == "ranged"


def test_auto_dispatches_both_ways_and_stays_exact(spark):
    pdf = pd.DataFrame(
        {"k": ["a"] * 40 + ["b"] * 60, "v": [float(i) for i in range(100)]}
    )
    sdf = spark.createDataFrame(pdf)
    exp = (
        pdf.groupby("k")["v"]
        .apply(lambda s: float(np.percentile(s, 50, method="linear")))
        .sort_index()
    )
    for threshold in (10_000, 10):  # 10_000 → sort path; 10 → ranged path
        got = (
            exact_group_quantiles_auto(
                sdf, ["k"], "v", {"qv": 0.5}, threshold=threshold
            )
            .toPandas()
            .set_index("k")["qv"]
            .sort_index()
        )
        assert np.allclose(got.values, exp.values, rtol=1e-12, atol=1e-12), (
            threshold
        )
