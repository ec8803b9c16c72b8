"""Query registry — the spine of the driver contract.

Every operator the engine implements registers here as a named query:
a Spark callable `(spark, sf_dir) -> DataFrame` plus (when the
semantics are ANSI-SQL-expressible) the equivalent DuckDB oracle SQL.
`__spark_entry__.queries()` / `oracle_sql()` simply read this dict,
and the local test suite runs the same differential comparison the
driver does — so local green means driver green.
"""

from __future__ import annotations

import functools
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from ondemand_dask_spark.operators.checkpoint import evict_all_retained

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class Query:
    name: str
    fn: QueryFn
    oracle: str | None  # DuckDB SQL, or None → rows-only check
    doc: str = ""
    # Scale classification (r12 verdict item 2 — structural, not
    # docstring-only).  "production": the path you would run at
    # 100 TB — eligible for bench HEADLINE and the SCALING sweep at
    # every SF.  "certificate": a correctness certificate whose
    # construction (exhaustive pairing with quadratic candidate
    # growth, unbounded sequential recursion, a fixture that is
    # adversarial for its own pruning) makes it the verification
    # reference for a cheaper production twin, NOT a scale path —
    # certificate-class queries still register and correctness-gate
    # at sf0.01 like everything else, but bench.HEADLINE and any
    # scale sweep above sf0.1 must exclude them
    # (tests/test_scale_class.py enforces both).
    scale_class: str = "production"
    # The other half of an exact/estimate or exhaustive/scale pair,
    # declared symmetrically on both halves.  Every rows-only query
    # (oracle=None) must name a full-oracle twin — the structural
    # form of the "rows-only floor, each with a certified twin"
    # contract the r9–r12 verdicts tracked by hand.
    twin: str | None = None


_REGISTRY: dict[str, Query] = {}

_SCALE_CLASSES = ("production", "certificate")


def register(
    name: str,
    oracle: str | None = None,
    doc: str = "",
    scale_class: str = "production",
    twin: str | None = None,
):
    """Decorator: register a query under `name` with optional oracle SQL.

    The registered `Query.fn` evicts every retained cache/checkpoint
    (operators/checkpoint.py) on entry, so a session holds at most one
    query's storage blocks.  The decorator returns the raw function:
    a query that calls another one directly never evicts mid-query."""
    if scale_class not in _SCALE_CLASSES:
        raise ValueError(f"unknown scale_class {scale_class!r} for {name}")

    def deco(fn: QueryFn) -> QueryFn:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name: {name}")

        @functools.wraps(fn)
        def entry(spark: SparkSession, sf_dir: str) -> DataFrame:
            evict_all_retained()
            return fn(spark, sf_dir)

        _REGISTRY[name] = Query(
            name=name,
            fn=entry,
            oracle=oracle,
            doc=doc or (fn.__doc__ or ""),
            scale_class=scale_class,
            twin=twin,
        )
        return fn

    return deco


def certificate_queries() -> frozenset[str]:
    """Names of every certificate-class query — the set bench/SCALING/
    rotation tools read so 'not a scale path' is enforced by code, not
    by HEADLINE curation (r12 verdict item 2)."""
    _load_all()
    return frozenset(
        n for n, q in _REGISTRY.items() if q.scale_class == "certificate"
    )


# Curated cross-section of the registry, surfaced FIRST by
# all_queries().  A budgeted differential-checking driver that only
# reaches the first N queries should see at least one representative
# of every SURVEY §2 family (sources, relational, joins, aggregations,
# windows, sorts, sets, scalars, asof/composed, UDFs, streaming, and
# each §2.K LLM-pipeline extension) rather than N entries of whichever
# module happens to import first.  Everything not listed follows in
# registration order.
_SHOWCASE: tuple[str, ...] = (
    # --- rotation generated by tools/rotation.py (the worklist lives
    # in ROTATION.md and is guard-tested against CORRECTNESS
    # history).  The four PRIORITY pins lead: agg_groupby_quantile,
    # agg_winsorize, dedup_ngram_jaccard, text_keyphrase_rake; the
    # remaining slots re-green the LEAST-recently-driver-checked
    # queries.  Rows-only twin adjacency stays derived from the
    # registry `twin` annotation inside tools/rotation.py.
    "agg_groupby_quantile",
    "agg_winsorize",
    "dedup_ngram_jaccard",
    "text_keyphrase_rake",
    "str_replace_extract",
    "stream_static_join",
    "text_bm25_topk",
    "udf_apply_in_pandas",
    "window_gap_detection",
    "window_max_drawdown",
    "agg_count_min_estimate",
    "agg_groupby_basic",
    "agg_mode",
    "agg_salted_skew",
    "agg_weighted_median",
    "ann_ivf_probe",
    "ann_lsh_bucket_stats",
    "combine_first",
    "concat_axis1",
    "dedup_incremental_batch",
    "encode_cyclic_time",
    "feature_woe_iv",
    "graph_bfs_khop",
    "jdbc_source_plan",
    "join_bloom_prefilter",
    "join_fuzzy_entity_resolution",
    "join_inner",
    "layout_file_skipping_stats",
    "layout_zorder_key",
    "ml_calibration_bins",
    "ml_eval_logloss",
    "ml_eval_multiclass",
    "ml_eval_regression",
    "multimodal_decode_ppm",
    "multimodal_image_ahash",
    "pipeline_chunk_overlap",
    "pipeline_end_to_end",
    "pipeline_leakage_free_split",
    "sample_weighted_reservoir",
    "set_except",
    "set_except_all",
    "snapshot_diff_cdc",
    "source_from_pandas",
    "sql_recursive_hierarchy_rollup",
    "stat_cuped_adjustment",
    "stat_fdr_bh",
    "stat_ols_by_group",
    "str_edit_distance",
    "stream_foreachbatch_sink",
    "stream_sliding_agg",
)



def all_queries() -> dict[str, Query]:
    _load_all()
    missing = [n for n in _SHOWCASE if n not in _REGISTRY]
    if missing:  # fail loudly — a rename must update the showcase
        raise KeyError(f"showcase names not registered: {missing}")
    ordered = {n: _REGISTRY[n] for n in _SHOWCASE}
    ordered.update((n, q) for n, q in _REGISTRY.items() if n not in ordered)
    return ordered


_LOADED = False


def _load_all() -> None:
    """Import every query module exactly once (imports trigger registration)."""
    global _LOADED
    if _LOADED:
        return
    import ondemand_dask_spark.queries  # noqa: F401  (side-effect imports)

    _LOADED = True
