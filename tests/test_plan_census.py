"""Repo-wide plan guards — every registered query, one sweep.

The per-query plan tests in test_plans.py pin the hot paths in
detail; this sweep pins three invariants across the WHOLE registry
so no future operator ships a scale cliff unnoticed:

1. no CartesianProduct, ever;
2. BroadcastNestedLoopJoin only in the pinned whitelist — 1-row
   scalar attaches (a broadcast aggregate cross-joined into the
   stream: corpus size, |V|, global totals) plus the two operators
   whose SEMANTICS are non-equi (join_cross on bounded sides,
   join_theta);
3. Python boundaries only in the declared Arrow-vectorized families
   (§2.J UDF surface, multimodal decoders, from_map), and never the
   row-at-a-time BatchEvalPython;
4. unpartitioned Window operators (single-task collapse at scale)
   only in the pinned whitelist of provably bounded inputs —
   distinct-value / vocabulary / contingency tables — or contracts
   that are inherently a global order with a documented scalable
   twin.  This used to rest on per-docstring claims alone; two of
   those claims (events_rfm_segmentation, orders_pareto_
   concentration) turned out data-sized and were rebuilt on the
   operators/rank.py two-phase machinery.

Only plans are built (no execution) except where a query runs eager
probe actions by design, so the sweep stays cheap at the test SF.
"""

from __future__ import annotations

import os
import re
import sys

import pytest

from ondemand_dask_spark.plans import global_window_count, plan_string
from ondemand_dask_spark.registry import all_queries

# 1-row scalar attaches + deliberately-bounded non-equi operators.
BNLJ_OK = {
    "geo_density_grid",  # 1-row total attach
    "orders_abc_classification",  # 1-row total attach
    "pipeline_mixture_temperature",  # 1-row normalizer attach
    "pipeline_quality_weighted_mixture",  # 1-row normalizer attach
    "stat_capture_recapture",  # three 1-row count attaches
    "agg_hll_sketch_merge", "agg_nunique_approx", "ann_cosine_topk",
    "ann_ivf_probe", "basket_association_rules", "dedup_ngram_jaccard",
    "dedup_ngram_containment",  # 1-row corpus-total attach (same as its jaccard twin)
    "dedup_semantic_embedding",  # k-row seed-centroid broadcast, like ann_ivf_probe
    "embedding_matryoshka_recall",  # 10-row query-set broadcast, like ann_cosine_topk
    "embedding_signbit_hamming",  # 10-row query-sketch broadcast, like ann_cosine_topk
    "embedding_pca_power", "encode_minmax", "encode_standardize",
    "events_rfm_segmentation",  # 1-row |users| attach for closed-form ntile
    "dq_benford_first_digit",  # 1-row total attach onto the 9-digit table
    "dq_psi_drift",  # 1-row snapshot-totals attach
    "dq_referential_integrity",  # 1-row x 1-row count attaches per relationship
    "encode_target_mean", "funnel_three_step",
    "feature_target_encode_cv",  # 1-row global-mean fallback attach
    "feature_woe_iv",  # 1-row G/B-totals attach onto the k-row bucket table
    "ml_calibration_bins",  # 1-row min/max attach
    "orders_pareto_concentration",  # 1-row (total, count) attach
    "ml_eval_multiclass",  # |classes|-row broadcast fan-out, bounded vocabulary
    "ml_eval_regression",  # 1-row global-mean attach
    "ml_eval_logloss",  # 1-row baseline-rate attach
    "ml_eval_pr_auc",  # 1-row positive-total attach
    "stat_anova_oneway",  # 1-row grand-mean attach onto the k-row group table
    "stat_cuped_adjustment",  # 1-row theta/xbar pooled-stats attach
    "stat_fdr_bh",  # 1-row grand-mean + 1-row BH-cutoff attaches
    "stat_kruskal_wallis",  # 1-row tie-sum attach onto the 1-row totals
    "graph_modularity",  # 1-row |edges| scalar attach
    "graph_pagerank",
    "join_bloom_prefilter",  # 1-row bitmap (<=256-long map) attach
    "join_cross", "join_theta", "kmeans_lloyd", "ml_eval_binary",
    "orders_backlog_aging",  # 1-row snapshot-date attach
    "pipeline_heavy_hitters",
    "pipeline_leakage_free_split",  # 1-row crossing-pairs audit attach
    "qcut_by_cutpoints", "stat_bootstrap_ci", "stat_freq_items_verified",
    "stat_brown_forsythe",  # k-row group stats x 1-row grand mean
    "stat_jackknife_variance",  # 1-row (S, N, B) total attach
    "stat_theta_intersection_banded",
    "text_bigram_perplexity",
    "text_js_divergence",  # 1-row (na, nb, |V|) normalizer attach
    "text_bm25_topk",  # 1-row (N, avgdl) corpus-stats attach
    "text_pmi_collocations",  # two 1-row corpus-total attaches
    "text_tfidf_cosine_pairs", "text_tfidf_top_term",
    "text_unigram_surprisal", "tpch_q11", "tpch_q22",
}

# Unpartitioned ordered windows over provably BOUNDED inputs.  The
# detector (plans.global_window_count) already excludes the rank
# machinery's #partitions-row __ods_pid offsets window; everything else
# must be named here with its boundedness argument.
GWIN_OK = {
    "agg_mode",  # per-value counts table (value vocabulary)
    "encode_label",  # label vocabulary
    "incremental_partial_agg_merge",  # merged k-group agg table
    "layout_compaction_planner",  # calendar-bounded day-grain file table
    "layout_partition_skew_advisor",  # calendar-bounded month-grain table
    "ml_eval_binary",  # per-distinct-score counts (AUC via U identity)
    "ml_eval_pr_auc",  # per-distinct-score counts (AP step curve)
    "orders_revenue_bridge",  # calendar-bounded month-grain table
    "pipeline_bpe_pair_counts",  # adjacent-pair vocabulary
    "qcut_quartiles",  # exact-rank CONTRACT; scale twin qcut_by_cutpoints
    "sort_values_global",  # global-order CONTRACT; twin sort_global_rank_scalable
    "stat_chi2_independence",  # contingency cells (|lang|x|source|)
    "stat_fdr_bh",  # k-row p-value table
    "stat_g_test",  # contingency cells (|lang|x|source|)
    "dq_hash_uniformity",  # fixed 1000-bin ECDF table
    "stat_kaplan_meier",  # day-grain duration table (calendar-bounded)
    "stat_kruskal_wallis",  # distinct rounded values (midrank table)
    "stat_ks_two_sample",  # distinct rounded values
    "stat_mann_whitney",  # distinct rounded values
    "text_zipf_fit",  # term vocabulary
}

# Arrow-vectorized Python stages by design (never BatchEvalPython).
PY_OK = {
    "multimodal_audio_band_energy",
    "multimodal_image_near_dup",
    "multimodal_decode_features", "multimodal_decode_ppm",
    "multimodal_decode_wav", "multimodal_frame_sample",
    "multimodal_image_ahash",
    "multimodal_resize", "multimodal_wav_rms",
    "source_from_map", "udf_apply_in_pandas",
    "udf_ewm", "udf_map_in_arrow", "udf_map_in_pandas",
    "udf_pandas_scalar", "udf_cogroup", "udf_grouped_agg",
    "udf_map_overlap", "udf_table_function",
}


def test_registry_wide_plan_guards(spark, sf_dir):
    violations = []
    for name, q in sorted(all_queries().items()):
        df = q.fn(spark, sf_dir)
        plan = plan_string(df)
        if global_window_count(df) and name not in GWIN_OK:
            violations.append(f"{name}: unwhitelisted unpartitioned Window")
        if re.search(r"\(\d+\) CartesianProduct\b", plan):
            violations.append(f"{name}: CartesianProduct")
        if (
            re.search(r"\(\d+\) BroadcastNestedLoopJoin\b", plan)
            and name not in BNLJ_OK
        ):
            violations.append(f"{name}: unwhitelisted BNLJ")
        if re.search(r"\(\d+\) BatchEvalPython\b", plan):
            violations.append(f"{name}: row-at-a-time BatchEvalPython")
        if (
            re.search(
                r"\(\d+\) (ArrowEvalPython|MapInPandas|"
                r"FlatMapGroupsInPandas|PythonMapInArrow|MapInArrow)\b",
                plan,
            )
            and name not in PY_OK
        ):
            violations.append(f"{name}: unexpected Python boundary")
    assert not violations, violations


def _parse_census_artifact(path):
    rows = {}
    with open(path) as fh:
        text = fh.read()
    assert "## errors" not in text, f"{path} carries census errors"
    for m in re.finditer(
        r"^\| `([a-z0-9_]+)` \| (\d+) \| (\d+) \| (\d+) \| (\d+) "
        r"\| (\d+) \| (\d+) \| (\d+) \| (\d+) \|$",
        text,
        re.M,
    ):
        name = m.group(1)
        xchg, bhj, smj, bnlj, cart, py, gwin, wscg = map(
            int, m.groups()[1:]
        )
        rows[name] = {
            "bnlj": bnlj, "cart": cart, "py": py, "gwin": gwin,
        }
    return rows


@pytest.mark.parametrize(
    "artifact", ["PLANS.md", "PLANS_sf01.md"]
)
def test_committed_census_artifacts_satisfy_the_structural_guards(
    artifact,
):
    """The committed plan-census artifacts (sf0.001 and the r9-added
    sf0.1 sweep — the r8 verdict asked for the latter to be a diffable
    artifact, not narration) must cover the exact registry and satisfy
    the same structural whitelists the live sweep enforces: zero
    cartesian products, BNLJ/global-window/Python-boundary only where
    pinned.  Strategy columns (xchg/bhj/smj) are deliberately NOT
    pinned across SFs — AQE broadcast↔SMJ flips with input size are
    the intended scale behavior."""
    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        artifact,
    )
    rows = _parse_census_artifact(path)
    assert set(rows) == set(all_queries()), (
        f"{artifact} query set drifted from the registry: "
        f"missing={sorted(set(all_queries()) - set(rows))[:5]} "
        f"extra={sorted(set(rows) - set(all_queries()))[:5]}"
    )
    violations = []
    for name, r in sorted(rows.items()):
        if r["cart"]:
            violations.append(f"{name}: CartesianProduct in {artifact}")
        if r["bnlj"] and name not in BNLJ_OK:
            violations.append(f"{name}: unwhitelisted BNLJ in {artifact}")
        if r["gwin"] and name not in GWIN_OK:
            violations.append(
                f"{name}: unwhitelisted unpartitioned Window in {artifact}"
            )
        if r["py"] and name not in PY_OK:
            violations.append(
                f"{name}: unexpected Python boundary in {artifact}"
            )
    assert not violations, violations


@pytest.mark.parametrize("artifact", ["PLANS.md", "PLANS_sf01.md"])
def test_committed_census_is_of_the_current_engine(artifact):
    """Each census artifact records the sha256 of the engine sources it
    was taken of; any engine change without a regenerated census fails
    here."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, os.path.join(root, "tools"))
    from plan_census import engine_sha256

    with open(os.path.join(root, artifact)) as fh:
        m = re.search(
            r"^Engine source sha256 .*: `([0-9a-f]{64})`$", fh.read(), re.M
        )
    assert m, f"{artifact} carries no engine-source sha256 line"
    assert m.group(1) == engine_sha256(), (
        f"{artifact} is stale: regenerate it with tools/plan_census.py"
    )
