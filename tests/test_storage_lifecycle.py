"""One storage lifecycle: every checkpoint a registered query leaves
behind is released by `evict_all_retained`, which the registry
calls at every query entry — so a long session holds at most one
query's storage blocks.

The quantile tests cover every caller of `exact_group_quantiles` on
both paths: the sort path, which the chooser picks at every test SF,
stores nothing; the ranged path sits past a ~1M-rows-per-group knee no
test SF reaches, so the chooser (looked up on every call) is patched
to pick it, which also closes that path's oracle gap.
"""

from __future__ import annotations

import os
import time

import pytest

import ondemand_dask_spark.queries.graph as graph_mod
from ondemand_dask_spark.operators import quantile
from ondemand_dask_spark.operators.checkpoint import evict_all_retained
from ondemand_dask_spark.operators.graphcc import (
    connected_components_minlabel,
    connected_components_star,
)
from ondemand_dask_spark.registry import all_queries
from tests.compare import assert_results_match
from tests.test_graph_convergence import KCORE_TWO_ROUNDS
from tests.test_graph_known_answers import _mini_lineitem

# One registered query per storage site under queries/ (the operator
# sites in operators/rank.py ride along).
SWEEP = [
    "tpch_q15",  # per-supplier revenue checkpoint
    "pipeline_leakage_free_split",  # pair-list + star checkpoints
    "ann_lsh_probe",  # signature-table checkpoint
    "ann_ivf_probe",  # list-assignment ranking checkpoint
    "text_tfidf_cosine_pairs",  # term-weight checkpoint
    "stat_spearman_corr",  # global_min_ranks checkpoints
    "sort_global_rank_scalable",  # global_row_numbers checkpoint
    "events_rfm_segmentation",  # three chained rank checkpoints
    "orders_pareto_concentration",  # global_prefix_sums checkpoint
    "part_skyline_frontier",  # global_prefix_min checkpoint
    "sql_recursive_sessionize",  # edge-frame checkpoint
    "dedup_minhash_lsh",  # per-document MinHash checkpoint
    "dedup_minhash_estimate_certificate",  # its own per-document checkpoint
    "dedup_ngram_jaccard",  # kept-shingle-instance checkpoint
    "dedup_duplicate_spans",  # gram checkpoint
    "dedup_connected_components",  # final-round label checkpoint
    "dedup_cc_star_contraction",  # converged-star checkpoint
    "graph_triangle_count",  # edge, rank and oriented checkpoints
    "graph_triangle_count_estimate",  # sampled oriented checkpoint
    "graph_pagerank",  # symmetric-edge + degree checkpoints
    "graph_personalized_pagerank",  # its own edge + degree checkpoints
    "graph_label_propagation",  # partitioned symmetric-edge checkpoint
    "graph_kcore",  # surviving-edge checkpoint
    "graph_bfs_khop",  # edge + per-round frontier checkpoints
    "basket_association_rules",  # basket-line checkpoint
]


def _stored(spark) -> set[int]:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return {i.id() for i in infos if i.numCachedPartitions() > 0}


def _still_stored(spark, ids: set[int], timeout: float = 10.0) -> set[int]:
    """Those of `ids` still in storage once asynchronous removal has had
    `timeout` seconds to finish."""
    deadline = time.monotonic() + timeout
    left = ids & _stored(spark)
    while left and time.monotonic() < deadline:
        time.sleep(0.2)
        left = ids & _stored(spark)
    return left


@pytest.mark.parametrize("name", SWEEP)
def test_evict_releases_query_storage(spark, sf_dir, name):
    before = _stored(spark)
    all_queries()[name].fn(spark, sf_dir).write.format("noop").mode(
        "overwrite"
    ).save()
    created = _stored(spark) - before
    assert created, f"{name} no longer stores anything; update SWEEP"
    evict_all_retained()
    assert not _still_stored(spark, created), (
        f"{name} left storage blocks that evict_all_retained cannot free"
    )


@pytest.mark.parametrize("loop", ["star", "minlabel", "kcore"])
def test_budget_raise_leaves_no_loop_storage(spark, tmp_path, monkeypatch, loop):
    """A fixpoint loop that exhausts its round budget releases every
    round it checkpointed before it raises: nothing is left for the
    next query entry to find."""
    monkeypatch.setattr(graph_mod, "_KCORE_ROUNDS", 1)
    sf_dir = _mini_lineitem(tmp_path, KCORE_TWO_ROUNDS)
    chain = spark.createDataFrame([(i, i + 1) for i in range(40)], ["src", "dst"])
    evict_all_retained()
    before = _stored(spark)
    with pytest.raises(RuntimeError, match="did not converge"):
        if loop == "star":
            connected_components_star(chain, max_rounds=2)
        elif loop == "minlabel":
            connected_components_minlabel(chain, max_rounds=3)
        else:
            all_queries()["graph_kcore"].fn(spark, sf_dir)
    assert not _still_stored(spark, _stored(spark) - before)


QUANTILE_CALLERS = [
    "agg_groupby_quantile",
    "agg_winsorize",
    "encode_robust_scale",
    "agg_quantile_approx",
    "stat_kll_quantile_banded",
]


def test_quantile_sort_path_stores_nothing(spark, sf_dir, monkeypatch):
    """Every caller reaches the chooser, which picks the sort path at
    sf0.01, and neither the probe nor the sort path leaves a storage
    block behind."""
    chooser = quantile.choose_quantile_path
    chosen = []
    monkeypatch.setattr(
        quantile,
        "choose_quantile_path",
        lambda *a: chosen.append(chooser(*a)) or chosen[-1],
    )
    sf001 = os.path.join(os.path.dirname(sf_dir), "sf0.01")
    evict_all_retained()
    before = _stored(spark)
    for name in QUANTILE_CALLERS:
        all_queries()[name].fn(spark, sf001).write.format("noop").mode(
            "overwrite"
        ).save()
        assert not _stored(spark) - before, f"{name} stored blocks"
    assert chosen == ["sort"] * len(QUANTILE_CALLERS)


def test_forced_ranged_quantile_matches_oracle_and_holds_one_call(
    spark, duck, sf_dir, monkeypatch
):
    chosen = []
    monkeypatch.setattr(
        quantile,
        "choose_quantile_path",
        lambda *a, **k: chosen.append(a) or "ranged",
    )
    qs = all_queries()
    for name in QUANTILE_CALLERS:
        got = qs[name].fn(spark, sf_dir).toPandas()
        assert_results_match(got, duck.execute(qs[name].oracle).fetchdf(), name)
    assert len(chosen) == len(QUANTILE_CALLERS), (
        "a caller no longer goes through exact_group_quantiles"
    )

    before = _stored(spark)
    per_call = []
    for _ in range(3):
        qs["agg_groupby_quantile"].fn(spark, sf_dir).collect()
        held = _stored(spark) - before
        per_call.append(held - set().union(*per_call))
        earlier = set().union(*per_call[:-1])
        assert not _still_stored(spark, earlier), (
            "an earlier call's blocks survived the next query entry"
        )
    assert per_call[-1], "the ranged path should pin its range exchange"
    assert _stored(spark) - before == per_call[-1]
