"""Pins for the hot-key-bounded ngram index build (r10 verdict item 2).

The index build in `_ngram_pair_scores` must never hold aggregation
state that scales with a single shingle's document frequency.  The
shipped shape is a HYBRID (A/B numbers in the build's comment):

1. plan shape — the one collect_set left is the SAFE branch, whose
   input is anti-joined against the suspect set first (raw instance
   count ≤ thresh ⇒ df ≤ thresh, so its buffer is provably ≤ the
   stop-DF cap for ANY distribution); the suspect branch carries the
   pair-keyed keys-only dedup aggregate ((h, doc_id) — a hot h
   spreads across reducers by doc_id) and a plain-count df.  The
   raw-count pre-pass that routes between them has constant per-key
   state.  (The runtime ladder lives in tools/probe_ngram_hotkey.py:
   the unbounded shape's merge-stage max-task shuffle read grows
   ~linearly with hot df, this build's aggregation stages stay flat.)

2. hot-shingle behavior — an adversarial corpus where one shingle's
   raw count crosses the stop threshold must route it through the
   suspect branch and CUT it (boilerplate carries no near-dup
   signal), while below-thresh shingles still pair exactly.

3. NULL-lang parity — lang is a BLOCKING key downstream, and the
   oracle's `x.lang = y.lang` join never pairs NULL-lang docs; the
   Spark groupBy would bucket all NULLs into one block and emit
   those pairs, so the build drops NULL-lang docs explicitly.  The
   committed generators never emit NULL lang (latent-parity
   hardening, ADVICE r10).
"""

from __future__ import annotations

import os
import re

import pyspark
import pytest

from ondemand_dask_spark.queries.dedup import dedup_ngram_jaccard

SF_DIR = "/root/testdata/sf0.001"


def _write_docs(spark, tmp_path, name, rows):
    docs = spark.createDataFrame(
        rows,
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    sf_dir = str(tmp_path / name)
    os.makedirs(sf_dir, exist_ok=True)
    docs.coalesce(1).write.mode("overwrite").parquet(
        f"{sf_dir}/documents.parquet"
    )
    return sf_dir


def _executed_plan(spark, monkeypatch) -> str:
    """The query's plan plus the index build's: the kept instances are
    pinned, so the build is the plan of the frame handed to `pin`, and
    the returned plan only scans its checkpoint."""
    from ondemand_dask_spark.operators import checkpoint
    from ondemand_dask_spark.queries import dedup

    pinned = []
    monkeypatch.setattr(
        dedup, "pin", lambda f: checkpoint.pin(pinned.append(f) or f)
    )
    df = dedup_ngram_jaccard(spark, SF_DIR)
    return "\n".join(
        f._jdf.queryExecution().executedPlan().toString()
        for f in [df, *pinned]
    )


def test_index_build_every_collect_set_is_guarded(spark, monkeypatch):
    """The bound's load-bearing plan property, kept deliberately
    LOOSE (ADVICE r11 — operator-name regexes break across Spark /
    AQE upgrades even when the build stays bounded): every
    collect_set in the index build must be the guarded safe branch,
    i.e. set aggregations and suspect anti-joins appear in LOCKSTEP —
    an unguarded set aggregation (the unbounded pre-cut buffer) adds
    a partial_collect_set with no matching LeftAnti.  The primary
    pins remain the BEHAVIORAL tests below (hot shingle routed
    suspect and cut; NULL-lang isolation; pair exactness)."""
    plan = _executed_plan(spark, monkeypatch)
    n_set = plan.count("partial_collect_set")
    n_anti = plan.count("LeftAnti")
    assert n_set >= 1 and n_anti >= n_set, (n_set, n_anti)


@pytest.mark.skipif(
    not pyspark.__version__.startswith("4.1"),
    reason="plan-TEXT pin derived on Spark 4.1 (exact HashAggregate "
    "key/function rendering) — re-derive the regexes on upgrade; "
    "the version-independent guard is the lockstep test above",
)
def test_index_build_plan_shape_spark41(spark, monkeypatch):
    plan = _executed_plan(spark, monkeypatch)
    # the suspect branch's pair-keyed, keys-only dedup aggregate
    assert re.search(
        r"HashAggregate\(keys=\[h#\d+L, doc_id#\d+L\], functions=\[\]",
        plan,
    ), "suspect-branch dedup is not a keys-only (h, doc_id) aggregate"
    # the raw-count routing pass and the suspect df are plain counts
    assert re.search(
        r"HashAggregate\(keys=\[h#\d+L\], functions=\[(partial_)?count",
        plan,
    ), "raw/suspect df is not computed as a plain count"


def test_hot_shingle_routes_suspect_and_is_cut(spark, tmp_path):
    # 12 docs all sharing one boilerplate line (raw count 12 > the
    # df floor max(5, 1%·n)=5, so it lands SUSPECT and is cut as a
    # stop shingle) — plus two docs sharing a distinct below-thresh
    # line that must still pair exactly
    boiler = "lorem ipsum dolor sit amet consectetur adipiscing elit"
    rare = "quick brown fox jumps over the lazy sleeping dog"
    rows = [
        (i, boiler, "en", "web", len(boiler)) for i in range(1, 13)
    ] + [
        (21, rare, "en", "web", len(rare)),
        (22, rare, "en", "web", len(rare)),
    ]
    sf_dir = _write_docs(spark, tmp_path, "sf_hot", rows)
    out = dedup_ngram_jaccard(spark, sf_dir)
    pairs = {(r.doc_a, r.doc_b): r.jaccard for r in out.collect()}
    assert set(pairs) == {(21, 22)}, set(pairs)
    assert pairs[(21, 22)] == 1.0


def test_null_lang_docs_never_pair(spark, tmp_path):
    # two NULL-lang docs sharing identical text, two 'en' docs
    # sharing identical text: only the en pair may surface
    text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [
        (1, text, None, "web", len(text)),
        (2, text, None, "web", len(text)),
        (3, text, "en", "web", len(text)),
        (4, text, "en", "web", len(text)),
    ]
    sf_dir = _write_docs(spark, tmp_path, "sf_nulllang", rows)
    out = dedup_ngram_jaccard(spark, sf_dir)
    pairs = {(r.doc_a, r.doc_b) for r in out.collect()}
    assert pairs == {(3, 4)}, pairs


def test_pair_aggregate_exchange_below_aggregation(spark, monkeypatch):
    """r15: the quadratic pair aggregation must run at cluster width.
    The exchange feeding it is an explicit REPARTITION_BY_NUM on
    (doc_a, doc_b) at 2x parallelism — exempt from AQE coalescing, so
    the combination-expansion tail is never starved down to
    spark.sql.shuffle.partitions tasks (the sf1 profile showed the
    whole 193M-row expansion + aggregation on 8 of 32 cores with
    ~490 MB spilled per side; A/B in _ngram_pair_scores' comment)."""
    plan = _executed_plan(spark, monkeypatch)
    n = 2 * spark.sparkContext.defaultParallelism
    assert re.search(
        r"hashpartitioning\(doc_a#\d+L, doc_b#\d+L, %d\), REPARTITION_BY_NUM"
        % n,
        plan,
    ), "pair aggregate is not fed by the explicit 2*par (doc_a, doc_b) exchange"
