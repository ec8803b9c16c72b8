"""Benchmark harness (driver contract).

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON
line: {"metric": ..., "value": N, "unit": "sec", "queries": {...},
"sf": ...}.

Methodology: one warm session for the whole bench (cold JVM start is
a constant, not a per-query cost at scale); each query executed with
the noop sink (full plan execution, no driver-side row transfer —
what a cluster job would do); best of `RUNS` runs per query after one
warm-up of the whole set.

Artifact discipline (r11 verdict item 7): bench_full.json is
overwritten by whichever run happened LAST.  The round driver runs
bench after the builder's final commit and its round-boundary commit
("round N: verdict/advice/correctness/bench") sweeps the overwrite
in — so the DRIVER's run is the committed round record, always.  A
builder-side run mid-round must either be committed with its
milestone or reverted before handoff; never left dirty.  Guard
verdicts are artifact-borne (r11 verdict item 6): the regression
flags are embedded as `flags` / `isolated_flags` in BOTH artifacts
(names-only in the slim stdout line), and the human-readable flag
block prints AFTER the stdout JSON line so the driver's 2000-char
tail window can never truncate the JSON head or lose the flags
(BENCH_r11.json lost ~6 of 8 flag lines printed above the line).
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

from pyspark.sql import functions as F

SCRIPT_DIR = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, SCRIPT_DIR)

from ondemand_dask_spark.operators.checkpoint import (  # noqa: E402
    evict_all_retained,
)
from ondemand_dask_spark.registry import (  # noqa: E402
    all_queries,
    certificate_queries,
)
from ondemand_dask_spark.session import build_session  # noqa: E402

HEADLINE = [
    # TPC-H spine (comparable to BASELINE.md's Q1/Q3 probes)
    "tpch_q1",
    "tpch_q3",
    "tpch_q5",
    "tpch_q6",
    # core relational / agg / window
    "join_inner",
    "agg_groupby_basic",
    "agg_groupby_quantile",
    "window_cumsum",
    "window_rank_family",
    "topk_nlargest",
    # composed + extension operators (the engine's differentiators)
    "asof_join_backward",
    "sessionize_gap",
    "dedup_exact",
    "dedup_minhash_lsh",
    "ann_cosine_topk",
    "text_tfidf_top_term",
    # incremental + training-pipeline surface
    "topk_per_group",
    "merge_upsert",
    "scd2_intervals",
    "pipeline_heavy_hitters",
    "window_ewm_bounded",
    # round-3 widening: LLM-pipeline + dedup family + streaming, so a
    # regression in any of these surfaces shows up round-over-round
    "pipeline_end_to_end",
    "pipeline_pack_sequences",
    "dedup_ngram_jaccard",
    "dedup_connected_components",
    "dedup_simhash",
    "stream_tumbling_agg",
    "embedding_centroid_distance",
    "kmeans_lloyd",
    "text_quality_score",
    "agg_rollup",
    # round-4 widening: graph analytics (iterative + intersection
    # joins are the shapes most sensitive to shuffle regressions).
    # r13: graph_triangle_count (the EXACT census) left the headline
    # when the certificate/production classification became
    # structural (registry scale_class, r12 verdict item 2) — the
    # census-shape drift line is carried by its registered twin
    # graph_triangle_count_estimate below (in-bench since r12), the
    # exact census still correctness-gates at sf0.01 in rotation,
    # and its historical bench series lives in the committed
    # BENCH_r04–r12 / bench_full*.json artifacts (iso best 5.61 s
    # sf0.1, 49.0 s sf1 — vs the estimator's 4.00 s / 21.5 s).
    "graph_pagerank",
    # round-5 widening: the new pair-generating / retrieval shapes
    # (span-level dedup, BM25 inverted-index scoring) — the operators
    # whose cost profiles would drift first if a blocking scheme
    # regressed.  join_set_similarity is deliberately NOT benched at
    # sf0.1: the fixture's ~92-word p_name vocabulary is the
    # adversarial case for prefix filtering (every token's collision
    # list is ~650 of 20k parts, so candidates approach n² by
    # construction — measured 47.8 s, which would drown the headline
    # in one pathological shape).  Its perf evidence is the scale
    # probe on a realistic vocabulary instead:
    # tools/probe_prefix_filter.py — 100k sets, 116× candidate cut,
    # 26 s end-to-end.  Correctness still gates at sf0.01 per round.
    "dedup_duplicate_spans",
    "text_bm25_topk",
    # round-6 widening: the runtime-filter join (probe-prune before
    # shuffle), the out-of-fold target encoder (window-over-partials
    # shape), multi-source BFS (iterative frontier joins), and the
    # pointer-doubling hierarchy rollup (log-depth self-joins) — the
    # four new shapes whose cost profiles would drift first.
    "join_bloom_prefilter",
    "feature_target_encode_cv",
    "graph_bfs_khop",
    "sql_recursive_hierarchy_rollup",
    # round-7 widening: per-user ranking eval (two top-k windows over
    # one key exchange), PMI collocations (bigram-vocabulary joins +
    # global top-k), the binary-sketch ANN shortlist (codegen bit
    # ops + broadcast query set), and synchronous label propagation
    # (3 Pregel supersteps with an argmax window per round).
    "ml_eval_ndcg",
    "text_pmi_collocations",
    "embedding_signbit_hamming",
    "graph_label_propagation",
    # round-7 final wave: the sliding-distinct replacement (explode ×7
    # + two hash-distincts), the range-exchange prefix-min skyline
    # (the new global_prefix_min operator end-to-end), and the
    # fact-fact join feeding exact group percentiles — the three new
    # shapes whose cost profiles would drift first.
    "events_dau_wau_stickiness",
    "part_skyline_frontier",
    "orders_ship_latency_percentiles",
    # round-7 closing batch: PQ codebook training (two broadcast-
    # codebook Lloyd passes + a posexplode centroid agg — the
    # IVF-PQ cost model), multi-touch attribution (user-keyed
    # purchase×touch pair join + per-purchase normalizing windows),
    # and RAKE keyphrases (per-doc boundary windows + two
    # vocabulary-keyed joins) — the three new shapes whose cost
    # profiles would drift first.
    "embedding_pq_codebook",
    "events_attribution_multi_touch",
    "text_keyphrase_rake",
    # round-8 widening: the geo blocking pair (ring replication grew
    # an adaptive width + modular wrap this round — the two shapes
    # whose cost profile changed; both pure-JVM codegen).
    "geo_pairs_within_radius",
    "geo_cell_knn_join",
    # round-12 widening: the DOULION edge-sampled triangle estimator
    # beside its exact twin (the committed evidence that the
    # 100×-census user pays ~p³ of the exact intersect cost), and
    # the dynamic-gap sessionizer (session_window with a gap
    # EXPRESSION — a different aggregation codepath than the static
    # literal, worth its own drift line).
    "graph_triangle_count_estimate",
    "sessionize_dynamic_gap",
    # the edit-distance verify stage: a CPU-bound banded-DP join
    # whose cost profile (candidate volume × threshold band) would
    # drift first if the blocking regressed.  The LSH-candidate form
    # is benched; the exhaustive (lang, length-band) twin is
    # deliberately NOT — its fixed key cardinality makes candidates
    # quadratic in corpus size (1.54 s sf0.1 → 115.7 s sf1, α ≈ 1.9,
    # recorded in bench_full_sf1.json), the join_set_similarity
    # precedent: correctness still gates at sf0.01 per round.
    "dedup_edit_distance_lsh",
]

# Best-of-3: this round's probes showed the host's load floor moving
# 10-20% between sessions, and best-of-2 let single-run outliers
# (dedup_simhash r5: +38%, later measured to be noise) reach the
# recorded artifact.  One extra run per query costs ~1 min total and
# buys a materially tighter minimum.
RUNS = 3

# The 21 queries benched in BOTH round 1-2 and round 3+ — reported as
# a pinned sub-total so round-over-round deltas compare the same work
# even as HEADLINE keeps growing (bench-hygiene note: the r3 verdict
# could not tell load noise from regressions because the set and the
# total moved together).
R2_COMPARABLE = [
    "tpch_q1", "tpch_q3", "tpch_q5", "tpch_q6",
    "join_inner", "agg_groupby_basic", "agg_groupby_quantile",
    "window_cumsum", "window_rank_family", "topk_nlargest",
    "asof_join_backward", "sessionize_gap", "dedup_exact",
    "dedup_minhash_lsh", "ann_cosine_topk", "text_tfidf_top_term",
    "topk_per_group", "merge_upsert", "scd2_intervals",
    "pipeline_heavy_hitters", "window_ewm_bounded",
]

# The 31 queries benched in round 3 (everything before the round-4
# graph additions) — the r3-comparable pin.  NOTE the r3→r4 timing-
# methodology change (see `timing` in the emitted JSON): r3 timed only
# the final noop write, r4+ times from plan construction, so r3-era
# numbers for ITERATIVE queries (dedup_connected_components,
# stream_tumbling_agg) are not comparable even within this pin.
# r8 re-pin: this used to be derived as "HEADLINE minus graph_*",
# which silently absorbed every later round's non-graph additions —
# the exact set-and-total-move-together failure the pin exists to
# prevent (r4–r7 artifacts carry the inflated value; recompute any
# cross-round subset from the per-query timings those artifacts
# include).  Now explicit: R2 set + the 10 round-3 additions.
R3_COMPARABLE = R2_COMPARABLE + [
    "pipeline_end_to_end", "pipeline_pack_sequences",
    "dedup_ngram_jaccard", "dedup_connected_components",
    "dedup_simhash", "stream_tumbling_agg",
    "embedding_centroid_distance", "kmeans_lloyd",
    "text_quality_score", "agg_rollup",
]

# The isolated protocol (tools/ab.py --fresh: fresh session, both
# calibrations, 1 warm-up + 5 timed runs, full eviction between runs)
# is applied EVERY round to the most expensive headline queries and
# committed in the artifact's `isolated` block (r8 verdict item 3):
# the in-bench guard's drift normalization is still lenient
# (largest phase-matched calibration ratio, 1.25× threshold), which
# can hide a real 30-40% regression in a shuffle-heavy query for a
# round — these five get the real instrument proactively instead of
# reactively.
ISOLATED = [
    "graph_bfs_khop", "graph_pagerank",
    "dedup_connected_components", "graph_label_propagation",
]

# Mid-loop micro-calibration cadence (r13 verdict item "close the
# drift instrument's blind spot"): the start/end calibration pairs
# bracket the query loop but cannot see a stall INSIDE it — the r13
# driver artifact is the demonstration (drift_ratio 0.999, yet a
# contiguous headline block ran 2.4-6.3× its r12 times while queries
# before AND after it ran faster: one mid-run host stall surfaced as
# 7 raw regression flags).  A single run of the 0.15-0.3 s CPU calib
# job is therefore interleaved every CALIB_EVERY timed queries (one
# run, NOT best-of-N — the point is to SEE contention, not minimize
# it away) and the series recorded in bench_full.json, so a flag
# whose calibration neighborhood spiked is annotated
# contention-suspect in the artifact itself instead of reading as a
# code regression.
CALIB_EVERY = 10

# A micro-calib sample more than this ×median marks its neighborhood
# as contended.  Chosen against the measured envelopes: the host's
# ordinary intra-hour drift is ±50% (r8 probes — ratio ≤ 1.5 against
# a mid-window median), while the r13 stall ran the affected block
# 2.4-6.3× — a stall big enough to flag queries is far above 1.5;
# ordinary drift stays below it.
CONTENTION_SPIKE = 1.5


def annotate_contention(
    flags: list[dict],
    name_index: dict[str, int],
    series: list[float],
    every: int = CALIB_EVERY,
    spike: float = CONTENTION_SPIKE,
) -> int:
    """Annotate each flag with its calibration NEIGHBORHOOD: sample
    j of `series` was taken after j*every timed queries (sample 0
    before any), so the query at loop index i is bracketed by samples
    i//every and i//every + 1.  If either bracket exceeds
    spike×median-of-series the flag gets contention_suspect=True —
    the artifact self-attributes a mid-run stall — while a flag at
    STABLE neighborhood calibration (the r11 ngram true positive's
    shape) keeps contention_suspect=False and full force.  Flags are
    never suppressed: annotation only, the prev/now record stands.
    Returns the number of contention-suspect flags.  Pure function so
    tests/test_bench_guard.py pins the r13 stall-window case on a
    synthetic fixture."""
    n_suspect = 0
    if len(series) >= 3:
        med = sorted(series)[len(series) // 2]
    else:
        med = 0.0
    for f in flags:
        i = name_index.get(f["name"])
        if i is None or med <= 0:
            f["contention_suspect"] = False
            continue
        seg = i // every
        brackets = series[seg:seg + 2] or series[-1:]
        local = max(brackets) / med
        f["neighborhood_calib_ratio"] = round(local, 3)
        f["contention_suspect"] = local > spike
        n_suspect += f["contention_suspect"]
    return n_suspect


def drift_ratio(
    prev: dict,
    calib: float,
    calib_bw: float,
    calib_end: float,
    calib_bw_end: float,
) -> float:
    """Host-speed drift vs a prior artifact, for normalizing the
    regression guard's threshold: the largest PHASE-MATCHED ratio —
    start-of-run vs the prior round's start sample, end-of-run vs its
    end sample — across {cpu, bandwidth}.  Still lenient (the host
    drifts ±50% intra-hour, measured r8, and two rounds of guard
    flags all bisected to drift), but an INTRA-session calibration
    swing no longer multiplies the cross-session allowance: the
    earlier most-lenient-of-four form crossed the r10 START cpu
    sample (0.3428) against the r9 END sample (0.1224) and printed
    drift ×2.80 — a window wide enough to absorb a genuine ≤2.8×
    regression (r10 verdict item 3; the r10-swing pin lives in
    tests/test_bench_guard.py).  All four raw samples stay in the
    emitted artifact, so any cross-round comparison can still apply
    its own normalization.  Prior artifacts from before the
    end-sample existed carry only the start fields; missing fields
    degrade gracefully to the pairs that exist."""
    ratios = []
    if prev.get("calib_sec"):
        ratios.append(calib / prev["calib_sec"])
        if prev.get("calib_sec_end"):
            ratios.append(calib_end / prev["calib_sec_end"])
    if prev.get("calib_bw_sec"):
        ratios.append(calib_bw / prev["calib_bw_sec"])
        if prev.get("calib_bw_sec_end"):
            ratios.append(calib_bw_end / prev["calib_bw_sec_end"])
    return max(ratios, default=1.0)


def is_regression(prev_sec: float, now_sec: float, drift: float) -> bool:
    """The guard's flag condition: >25% slower than the prior round
    AFTER drift normalization; sub-0.5 s queries are exempt (noise
    floor — session-to-session jitter on this host exceeds 25% at
    that magnitude).  The drift ratio only ever LOOSENS the
    threshold (clamped at 1.0): when both calibration samples land
    in a fast window (drift ≈ 0.7 measured late-r8), an unclamped
    ratio drops the threshold below the prior time itself and flags
    queries that got FASTER raw — on a host oscillating ±50%
    intra-hour, a query that did not slow down in absolute terms is
    never a regression worth bisecting.  Extracted so tests exercise
    the REAL condition (tests/test_bench_guard.py)."""
    return prev_sec > 0.5 and now_sec > prev_sec * max(drift, 1.0) * 1.25


def contract_stream(
    slim: dict,
    guard_lines: list[str],
    flag_names: list[str] | None = None,
) -> str:
    """The output layout around the stdout contract line, in emission
    order: guard detail ABOVE (truncation only costs redundant text),
    the one-line JSON, then ONE bounded guard summary BELOW.  The
    driver records the LAST 2000 chars of the merged output —
    extracted as a pure function so tests/test_bench_guard.py can pin
    that a synthetic flag verdict survives that truncation with the
    JSON line intact (r11 lost 6 of 8 flag lines printed above the
    line; r8 lost the JSON head to an oversized line)."""
    line = json.dumps(slim, separators=(",", ":"))
    nf = slim.get("n_flags", 0)
    names = flag_names or []
    shown = ", ".join(names[:3]) + (
        f", +{nf - 3} more" if nf > 3 else ""
    )
    if slim.get("flags_vs") is None:
        # first run on this host/SF: no prior artifact to compare
        # against — say so instead of rendering "vs None" (ADVICE r12)
        summary = (
            "guard: no prior artifact — no comparison "
            f"(full records in {slim.get('detail')})"
        )
    else:
        # contention-suspect count rides in the bounded summary so
        # the driver's tail window carries the attribution even if
        # every per-flag guard line above the JSON is truncated
        nc = slim.get("n_contention_suspect", 0)
        suspect = f", {nc} contention-suspect" if nc else ""
        summary = (
            f"guard: {nf} flags"
            + (f" ({shown})" if shown else "")
            + suspect
            + f", {slim.get('n_isolated_flags', 0)} isolated "
            f"vs {slim.get('flags_vs')} "
            f"(full records in {slim.get('detail')})"
        )
    return "\n".join([*guard_lines, line, summary])


def _sf_from_dir(sf_dir: str) -> float:
    base = os.path.basename(sf_dir.rstrip("/"))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return -1.0


def load_prev_bench(script_dir: str, sf: float):
    """Newest USABLE prior bench artifact (name, dict-with-queries),
    or None.  The round driver wraps bench stdout as {"tail": <last
    2000 chars>, "parsed": <json-or-null>} — and BENCH_r08.json has
    parsed=null because r8's output line outgrew the tail window
    (the reason the r9 stdout line is slimmed and the full detail
    moved to bench_full.json).  A null artifact is unrecoverable
    (the tail cut the HEAD of the JSON line), so the guard walks
    BACK to the newest parseable same-sf artifact instead of
    silently comparing against nothing."""
    prev_files = sorted(
        f
        for f in os.listdir(script_dir)
        if re.fullmatch(r"BENCH_r\d+\.json", f)
    )
    for fname in reversed(prev_files):
        try:
            with open(os.path.join(script_dir, fname)) as fh:
                prev = json.load(fh)
        except (OSError, ValueError):
            continue
        if isinstance(prev.get("parsed"), dict):
            prev = prev["parsed"]
        if isinstance(prev.get("queries"), dict) and prev.get("sf") == sf:
            return fname, prev
        # a healthy artifact from another SF is expected, not corrupt —
        # say which case this is (r9 advisor note)
        if isinstance(prev.get("queries"), dict):
            print(
                f"skipping {fname}: sf={prev.get('sf')} != {sf} "
                f"(different-SF run, artifact is fine)",
                file=sys.stderr,
            )
        else:
            print(
                f"skipping {fname}: no parseable queries map",
                file=sys.stderr,
            )
    return None


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    # Structural guard (r12 verdict item 2): certificate-class
    # queries (registry scale_class) are correctness certificates,
    # not scale paths — benching one here would repeat the r12
    # stale-sf1-artifact incident at the source.  Purely registry-
    # based, so it runs before the JVM/session is even started
    # (ADVICE r13) rather than recording a misleading artifact.
    cert_in_headline = certificate_queries().intersection(HEADLINE)
    if cert_in_headline:
        raise SystemExit(
            f"certificate-class queries in HEADLINE: {sorted(cert_in_headline)}"
        )
    spark = build_session(
        app_name="bench",
        master=f"local[{cpus}]",
        # Sized to the bench data, not the core count: at sf0.1 every
        # shuffle is < a few MB, so task-scheduling overhead dominates
        # wall time (measured: a warm 260k-row groupBy is 0.3s at 8
        # partitions vs 1.4s at 64).  AQE's coalescing (Spark's default
        # parallelismFirst=true in build_session) keeps the same plans
        # correct when the input is 1000× bigger.
        shuffle_partitions=int(os.environ.get("SPARK_SHUFFLE_PARTITIONS", "8")),
    )
    spark.sparkContext.setLogLevel("ERROR")

    queries = all_queries()
    names = [n for n in HEADLINE if n in queries]

    def run_once(name: str) -> float:
        # Self-contained timing: drop cached tables left by previous
        # queries (minhash/LSH cache intermediates) so no query is
        # timed under another's memory pressure or warm cache.
        # evict_all_retained frees retained localCheckpoints (every
        # registered query also does so on entry; calling it here
        # keeps the release off the clock).
        # r7 adjacency measurement for the r6 "dedup_minhash_lsh
        # +15%" flag: isolated best-of-5 = 1.76 s
        # (exactly the r6 number — no real regression; r5's 1.54 s
        # was a quieter run), but right after graph_bfs_khop it is
        # ~2.5 s EVEN WITH this eviction — residual JVM churn (GC /
        # shuffle-file turnover), not retained blocks.  Keeping the
        # graph family late in HEADLINE and evicting here keeps the
        # earlier families' timings self-contained.
        evict_all_retained()
        spark.catalog.clearCache()
        # The timer starts BEFORE plan construction: declarative
        # queries build their plan in ~ms, but iterative ones
        # (connected components) run eager per-round actions inside
        # fn() — timing only the final noop write under-reported
        # them (dedup_connected_components showed 0.02 s in r3's
        # bench while its star/propagation rounds ran off the clock).
        t0 = time.perf_counter()
        df = queries[name].fn(spark, sf_dir)
        df.write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    # Environment calibration: a fixed CPU-bound JVM job (no I/O, no
    # shuffle, whole-stage codegen) whose cost depends only on the
    # host's effective CPU speed.  The r7 exclusive re-bench measured
    # EVERY query — including untouched pure-scan tpch_q1 — uniformly
    # +20-35% vs the r6 artifact purely from hypervisor noisy-neighbor
    # drift; recording the calibration beside the timings lets any
    # cross-round comparison divide that drift out instead of
    # misreading it as regressions.
    #
    # dedup_minhash_lsh ordering note (closes the r6 verdict's
    # re-measure item): the r5→r6 1.54→1.76 s move was suspected
    # cache-neighbor interference from graph_bfs_khop; the r7
    # isolated probe (fresh session, 1 warm-up + 5 timed runs, no
    # other queries) measured best 2.46 s on a host whose
    # calibration had drifted 0.254→0.29 s — i.e. the movement is
    # host drift, not interference and not a code regression
    # (nothing in dedup.py's pipeline changed across r5–r7).
    #
    # Calibration limits: the calib job is pure CPU (codegen sum),
    # so it under-corrects for MEMORY-BANDWIDTH contention.  On the
    # late-r7 host, scan-bound queries moved ≈ the calib ratio
    # (tpch_q1 +10%) while sort-heavy window queries moved +25-30%
    # (window_ewm_bounded 0.75→0.96 s in-bench, 1.10 s isolated
    # best-of-5 the same hour; window_rank_family 0.58→0.72 s both
    # ways) with their code untouched since r5 — read a guard flag
    # on a WINDOW query as bandwidth drift unless its own plan
    # changed.
    #
    # r8 bisect of the two r7 guard flags (the isolated protocol,
    # exclusive host, fresh session, 1 warm-up + 5 timed, CPU calib
    # 0.265 s ≈ the r6-era 0.254 s, i.e. +4% CPU):
    #   agg_groupby_quantile  isolated best 1.57 s vs r6 1.47 s (+7%)
    #     — fully recovered; the r7 in-bench 1.97 s was transient.
    #   dedup_connected_components isolated best 3.23 s (runs ranged
    #     3.2–5.1 s) vs r6 2.45 s (+32%) — but the CONTROL GROUP in
    #     the same session shows untouched pure-scan tpch_q1 at
    #     0.431 s vs r6 0.269 s (+60%) and dedup_minhash_lsh 2.36 s
    #     vs 1.78 s (+34%): the host's I/O + memory path is degraded
    #     far beyond what the CPU calib sees, uniformly across query
    #     classes, with no code change in any of these paths (r7
    #     verdict verified via git log).  Attribution: host drift,
    #     not regression.  The bandwidth calib above (3.06 s this
    #     session) now records the missing axis so from r9 the guard
    #     divides this class of drift out instead of flagging it.
    #
    # r8 follow-up: the drift is INTRA-HOUR, not just cross-round.
    # Three exclusive same-day sessions measured the CPU calib at
    # 0.263 / 0.293(r7) / 0.395 s — a ±50% swing within one hour on
    # an idle VM.  A full-bench preview whose start-of-run calib
    # landed in a FAST window (0.263, drift x0.90 vs r7) flagged six
    # queries at +14–44% raw; the isolated best-of-5 re-measure of
    # the four worst (same protocol as above) came back inside noise
    # (dedup_duplicate_spans 2.22 s vs r7 1.99; text_bm25_topk
    # 0.99 s vs 0.95) with the calib at 0.395 in THAT session.  A
    # single start-of-run calibration therefore mis-states the host
    # speed the later queries actually ran at, in either direction —
    # so both calibrations are RE-MEASURED after the query loop and
    # the guard normalizes by the most-lenient (largest) of the four
    # ratios.  False-flag history: r7 flagged 2, r8 preview flagged
    # 6; every isolated re-measure attributed to host drift, zero
    # code regressions found.
    #
    # The full same-day envelope (three exclusive sf0.1 runs,
    # late r8): headline totals 50.5 / 54.3 / 58.8 s (±8%) with
    # per-query swings to ±60% — e.g. kmeans_lloyd timed 0.92 then
    # 1.09 in-bench while its isolated best-of-5 the same day was
    # 0.859 on a calib-0.395 (35%-slow) host ≈ drift-adjusted r7
    # parity; window_ewm_bounded 0.86/0.96/1.27 with its clean
    # isolated number pinned back in r7.  Read any single-run flag
    # on this host against that envelope before bisecting.
    #
    # r12 attribution of the SEVEN r11 driver-run flags + the
    # triangle in-bench step (r11 verdict item 5; quiet host,
    # the isolated protocol, cpu calib 0.229–0.254 vs r10's 0.343):
    #   graph_triangle_count   iso best 5.759 vs r10 iso 5.757 — EXACT
    #     parity; the r11 driver's 9.51 in-bench / 6.02 iso was
    #     session pressure.
    #   feature_target_encode_cv 0.57 vs r10 0.58; text_bm25_topk
    #     1.08 vs 1.01; kmeans_lloyd 0.74 vs 0.84 (faster);
    #     graph_label_propagation iso 2.55 vs r10 iso 2.22 (+15%,
    #     inside envelope; the r11 driver iso 3.77 was pressure).
    #   embedding_signbit_hamming 0.38 vs 0.28 — sub-0.5 s noise
    #     floor by the guard's own rule.
    #   join_bloom_prefilter 1.06 and dedup_duplicate_spans 2.12 vs
    #     r10 in-bench 0.90 / 1.94 (+18%/+9%) — joins.py/dedup.py
    #     span path byte-untouched since r10 (git log), bw calib +6%
    #     slower: host drift, inside the ±50% envelope.
    #   Verdict: ZERO code regressions among the seven; the one real
    #   r11 step remains dedup_ngram_jaccard (priced below).
    #
    # r14 attribution of the NINE r13 driver flags (7 in-bench +
    # CC/LPA isolated; full session records committed in
    # bench_attrib_r14.json): ZERO code regressions.  The in-bench
    # stall block was a mid-run host stall exactly as the r13
    # artifact's shape said (dedup_simhash isolated 1.12 s vs the
    # 7.63 in-bench flag, code byte-untouched since r12); LPA's
    # isolated best returned to 2.70 s (r12 envelope 2.4-2.7).  The
    # one number that did NOT return: dedup_connected_components
    # 4.04 s best across two quiet sessions vs the r12-era 2.59 —
    # attributed to a host shuffle-path EPOCH SHIFT, not code: every
    # r14 session's bandwidth calib reads 3.40-3.56 vs the r12-era
    # 2.89-3.03 (+17-20%) while the CPU calib and the CPU-bound
    # control (tpch_q1 0.324 s, historical best) are at parity, the
    # elevation is uniform across the iterative-shuffle class (BFS
    # 7.25, pagerank 5.49, CC 4.04) and absent everywhere else, and
    # CC's code path is byte-identical to the tree that measured
    # 2.59 (git diff 7e031ca..HEAD: registration kwargs + docstrings
    # only).  The r8 incident's signature, one epoch later.  The
    # mid-loop calib_series (annotate_contention above) exists so
    # the NEXT such stall attributes itself from the artifact.
    #
    # r11 EXPECTED flag: dedup_ngram_jaccard 2.62 → ~4.0 s is the
    # documented price of hot-key-bounding the ngram index build
    # (raw-count-routed hybrid, see _ngram_pair_scores in
    # queries/dedup.py): warm best-of-3 moved 2.25 → 3.24 s at
    # sf0.1 while sf1 stayed inside drift (22.9 → 24.7 in-bench,
    # 11.3 vs 10.8 warm) and the unbounded OOM shape is gone.  The
    # first flag raised by the phase-matched guard, and a true
    # positive — the guard working as intended on a deliberate
    # trade.
    def calibrate() -> float:
        t0 = time.perf_counter()
        spark.range(1_000_000_000).selectExpr(
            "sum(CAST(id AS DOUBLE) * id) AS s"  # double: no ANSI overflow
        ).write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    # Second calibration: a MEMORY-BANDWIDTH/shuffle-bound job (global
    # sort of a cached 30M-row frame — shuffle write + fetch + sort,
    # no scan, negligible codegen arithmetic).  The pure-CPU calib is
    # documented above to under-correct bandwidth contention by
    # 10-20% on this host — exactly the sort/shuffle-heavy class the
    # r7 guard flagged — so the guard below normalizes by the WORSE
    # (larger) of the two drift ratios.
    def calibrate_bw() -> float:
        bw_frame = spark.range(30_000_000).select(
            F.xxhash64("id").alias("k")
        ).persist()
        bw_frame.count()  # materialize outside the timed region

        def one() -> float:
            t0 = time.perf_counter()
            bw_frame.orderBy("k").write.format("noop").mode(
                "overwrite"
            ).save()
            return time.perf_counter() - t0

        one()  # warm
        best = min(one() for _ in range(RUNS))
        bw_frame.unpersist()  # release before any query is timed
        return best

    calibrate()  # warm
    calib = round(min(calibrate() for _ in range(RUNS)), 4)
    calib_bw = round(calibrate_bw(), 4)

    # Warm-up pass: JIT, code cache, file-system cache.
    for n in names:
        run_once(n)

    # Timed loop with the interleaved micro-calibration (see
    # annotate_contention): ONE calib run before any timed query,
    # then one after every CALIB_EVERY queries, one after the last —
    # ~0.3 s × ⌈|names|/10⌉ ≈ 2 s of overhead that makes a mid-run
    # host stall attributable from the artifact (the r13 blind spot).
    timings: dict[str, float] = {}
    calib_series: list[float] = [round(calibrate(), 4)]
    for i, n in enumerate(names):
        timings[n] = round(min(run_once(n) for _ in range(RUNS)), 4)
        if (i + 1) % CALIB_EVERY == 0:
            calib_series.append(round(calibrate(), 4))
    if len(names) % CALIB_EVERY != 0:
        calib_series.append(round(calibrate(), 4))

    # Host speed is re-sampled AFTER the query loop: the r8 probes
    # measured a ±50% intra-hour swing in the CPU calib on an idle
    # VM, so a start-of-run sample alone can mis-state the speed the
    # later queries actually ran at (in either direction).  The
    # regression guard uses the most-lenient of the four ratios.
    calib_end = round(min(calibrate() for _ in range(RUNS)), 4)
    calib_bw_end = round(calibrate_bw(), 4)

    # Per-round isolated protocol on the most expensive headline queries (4 since the exact triangle census left for certificate class): a
    # FRESH session (the main one is stopped first so none of its
    # cached state or JVM churn leaks in), own calibrations, 1
    # warm-up + 5 timed runs each — the exact instrument every past
    # guard-flag bisect used, now committed proactively each round.
    spark.stop()
    isolated: dict = {}
    iso_names = [n for n in ISOLATED if n in queries]
    if iso_names:
        sys.path.insert(0, os.path.join(SCRIPT_DIR, "tools"))
        from ab import measure as isolated_measure

        iso_spark = build_session(
            app_name="bench_isolated",
            master=f"local[{cpus}]",
            shuffle_partitions=int(
                os.environ.get("SPARK_SHUFFLE_PARTITIONS", "8")
            ),
        )
        iso_spark.sparkContext.setLogLevel("ERROR")
        isolated = isolated_measure(iso_spark, iso_names, sf_dir, runs=5)
        iso_spark.stop()

    total = round(sum(timings.values()), 4)
    r2_subtotal = round(
        sum(timings[n] for n in R2_COMPARABLE if n in timings), 4
    )
    r3_subtotal = round(
        sum(timings[n] for n in R3_COMPARABLE if n in timings), 4
    )
    graph_subtotal = round(
        sum(t for n, t in timings.items() if n.startswith("graph_")), 4
    )
    # Regression guard: per-query delta vs the newest BENCH_r*.json
    # (same-sf only), on stderr so the one-line JSON contract on
    # stdout is untouched.  A >25% slowdown on a query whose previous
    # time was >0.5 s (sub-second entries sit in scheduling-noise
    # territory) is flagged loudly — the r5 dedup_simhash surprise
    # (+38%, later measured to be load noise) motivated making the
    # comparison visible BEFORE the driver records it.
    loaded = load_prev_bench(SCRIPT_DIR, _sf_from_dir(sf_dir))
    # Guard verdicts are COLLECTED here and both (a) embedded in the
    # artifacts and (b) printed AFTER the stdout JSON line — see the
    # module docstring's artifact-discipline note.
    flags: list[dict] = []
    iso_flags: list[dict] = []
    guard_lines: list[str] = []
    prev_name = None
    drift = 1.0
    if loaded:
        prev_name, prev = loaded
        pq = prev["queries"]
        # Normalize the comparison by the calibration ratio when the
        # prior artifact carries one: host drift moves every query
        # together, and the guard should flag only drift-adjusted
        # regressions.  Worse (larger) of the CPU and bandwidth
        # drift ratios: host slowdowns hit the shuffle/sort-heavy
        # query class harder than the codegen calib admits (r7's two
        # false flags were both that class).
        drift = drift_ratio(prev, calib, calib_bw, calib_end, calib_bw_end)
        if drift != 1.0:
            guard_lines.append(
                f"calibration drift vs {prev_name}: "
                f"x{drift:.2f} (max phase-matched ratio, "
                f"cpu/bandwidth x start-start/end-end)"
            )
        flagged = []
        for n, t in timings.items():
            if n in pq and is_regression(pq[n], t, drift):
                flagged.append((n, pq[n], t))
        for n, was, now in sorted(
            flagged, key=lambda x: x[2] - x[1], reverse=True
        ):
            flags.append(
                {"name": n, "prev_sec": was, "now_sec": now}
            )
        # stamp each flag with its calibration neighborhood (the
        # mid-loop series) BEFORE rendering the guard lines, so a
        # flag raised inside a host-stall window carries the
        # attribution in both the artifact and the printed verdict
        annotate_contention(
            flags, {n: i for i, n in enumerate(names)}, calib_series
        )
        for f in flags:
            suffix = (
                f"; CONTENTION-SUSPECT: neighborhood calib "
                f"x{f.get('neighborhood_calib_ratio')} vs series median"
                if f.get("contention_suspect")
                else ""
            )
            guard_lines.append(
                f"REGRESSION vs {prev_name}: {f['name']} "
                f"{f['prev_sec']:.2f}s -> {f['now_sec']:.2f}s "
                f"(+{(f['now_sec'] / f['prev_sec'] - 1) * 100:.0f}% raw, "
                f"drift-adjusted threshold applied{suffix})"
            )
        if not flagged:
            guard_lines.append(
                f"no >25% drift-adjusted regressions vs {prev_name}"
            )
        # isolated-vs-isolated: both sides are fresh-session
        # best-of-5 with their OWN calibrations, so this comparison
        # needs only the isolated blocks' single cpu/bw ratio pair —
        # the cleanest cross-round signal in the artifact.  Prior
        # artifacts carry either the slim stdout form (iso_calib_sec
        # + {name: best}) or the full form (nested records).
        prev_iso = prev.get("isolated") or {}
        if not prev_iso:
            # r12+: the slim stdout artifact no longer carries the
            # isolated block (line budget — the r12 headline growth
            # pushed the worst-case line past the driver's tail
            # window).  The previous record's full detail is the
            # committed bench_full.json sitting next to this script
            # (the driver's round-boundary commit sweeps its own
            # overwrite in — see the module docstring); a scale run
            # writes bench_full_sfN.json instead, so the sf check
            # keeps cross-SF records apart.
            try:
                with open(
                    os.path.join(
                        SCRIPT_DIR,
                        prev.get("detail") or "bench_full.json",
                    )
                ) as fh:
                    cand = json.load(fh)
                if cand.get("sf") == _sf_from_dir(sf_dir):
                    prev_iso = cand.get("isolated") or {}
            except (OSError, ValueError):
                pass
        prev_iso_calib = prev.get("iso_calib_sec") or (
            prev_iso.get("calib_sec") if isinstance(prev_iso, dict) else None
        )
        prev_iso_bw = prev.get("iso_calib_bw_sec") or (
            prev_iso.get("calib_bw_sec")
            if isinstance(prev_iso, dict)
            else None
        )
        prev_iso_q = (
            prev_iso.get("queries", prev_iso)
            if isinstance(prev_iso, dict)
            else {}
        )
        if isolated and prev_iso_calib and prev_iso_bw and prev_iso_q:
            iso_drift = max(
                1.0,
                isolated["calib_sec"] / prev_iso_calib,
                isolated["calib_bw_sec"] / prev_iso_bw,
            )
            for n, rec in isolated["queries"].items():
                was = prev_iso_q.get(n)
                if isinstance(was, dict):
                    was = was.get("best")
                if was and is_regression(was, rec["best"], iso_drift):
                    iso_flags.append(
                        {
                            "name": n,
                            "prev_sec": was,
                            "now_sec": rec["best"],
                        }
                    )
                    guard_lines.append(
                        f"ISOLATED REGRESSION vs {prev_name}: "
                        f"{n} {was:.2f}s -> "
                        f"{rec['best']:.2f}s (isolated "
                        f"best-of-5, drift x{iso_drift:.2f})"
                    )

    # Two artifacts.  STDOUT gets ONE compact JSON line — the driver
    # contract — kept under ~1900 chars because the round driver
    # records only the LAST 2000 chars of stdout and parses the JSON
    # out of that window: BENCH_r08.json has parsed=null precisely
    # because r8's line (2.3k chars, grown by the shared-graph map)
    # overflowed it and the head of the line was cut.  Everything
    # bulky — per-run isolated timings, the shared-graph per-query
    # map, subtotals (recomputable sums of the queries map),
    # methodology notes — goes to bench_full.json next to this
    # script instead.
    full = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": _sf_from_dir(sf_dir),
        # methodology tag: the clock starts BEFORE plan construction
        # (r1-r3 timed only the noop write, which under-reported
        # iterative queries) — cross-round series must compare
        # like-tagged artifacts.
        "timing": "from_plan_construction",
        # fixed CPU-bound JVM job (range(1e9) sum of squares) and the
        # bandwidth-bound companion (sort of a cached 30M-row frame),
        # each best-of-RUNS, re-sampled AFTER the query loop too (the
        # host drifts ±50% intra-hour; the guard takes the most-
        # lenient of the four ratios).
        "calib_sec": calib,
        "calib_bw_sec": calib_bw,
        "calib_sec_end": calib_end,
        "calib_bw_sec_end": calib_bw_end,
        # the mid-loop micro-calib series: sample j taken after
        # j*CALIB_EVERY timed queries (sample 0 before any, one after
        # the last) — single runs by design, so a mid-run host stall
        # is visible here even when the start/end best-of-3 pairs
        # bracket it cleanly (the r13 drift_ratio-0.999 blind spot)
        "calib_series": calib_series,
        "calib_every": CALIB_EVERY,
        "r2_comparable_subtotal": r2_subtotal,
        "r3_comparable_subtotal": r3_subtotal,
        "graph_family_subtotal": graph_subtotal,
        # most expensive headline queries under the isolated protocol (fresh
        # session, own calibrations, 1 warm-up + 5 timed runs each).
        "isolated": isolated,
        # the guard's verdict as data (r11 verdict item 6): flagged
        # drift-adjusted regressions vs `flags_vs` (the newest
        # parseable same-sf prior artifact), with the drift ratio
        # applied.  Empty lists = guard ran clean; flags_vs null =
        # no usable prior artifact.
        "flags_vs": prev_name,
        "drift_ratio": round(drift, 4),
        "flags": flags,
        "isolated_flags": iso_flags,
    }
    # the driver-round record is the sf0.1 run; a scale drive at
    # another SF gets its own artifact so it can't clobber it
    full_name = (
        "bench_full.json"
        if full["sf"] == 0.1
        else f"bench_full_sf{full['sf']:g}.json"
    )
    with open(os.path.join(SCRIPT_DIR, full_name), "w") as fh:
        json.dump(full, fh, indent=1)
    slim = {
        "metric": full["metric"],
        "value": total,
        "unit": "sec",
        # 2 dp: enough for the guard's >0.5 s / +25% condition; the
        # 4-dp record lives in the detail artifact.  (1 char/query of
        # line budget — the r12 headline additions pushed the
        # worst-case line against the 1900-char pin.)
        "queries": {n: round(t, 2) for n, t in timings.items()},
        "sf": full["sf"],
        "calib_sec": calib,
        "calib_bw_sec": calib_bw,
        "calib_sec_end": calib_end,
        "calib_bw_sec_end": calib_bw_end,
        # the isolated block (per-query best + its own calibs) lives
        # ONLY in the detail artifact since r12 — the guard reads the
        # prior round's from the committed bench_full.json (see the
        # fallback in the guard block above)
        # counts only: the base line already sits ~60 chars under the
        # 2000-char tail budget, so the slim verdict is a pointer —
        # first-3 names ride in the bounded summary line below, the
        # full prev/now records in the detail artifact's
        # `flags`/`isolated_flags`
        "n_flags": len(flags),
        "n_contention_suspect": sum(
            1 for f in flags if f.get("contention_suspect")
        ),
        "n_isolated_flags": len(iso_flags),
        "flags_vs": prev_name,
        "detail": full_name,
    }
    # Emission order is pinned by contract_stream (and its test):
    # guard detail ABOVE the contract line (truncating it only costs
    # redundant text — the data lives in the artifacts), ONE bounded
    # summary BELOW, so the driver's 2000-char tail can neither lose
    # the verdict (r11: only 2 of ~8 flag lines above the line
    # survived) nor — had we printed the full block after the line —
    # cut the JSON's own head (the r8 parsed=null failure mode, from
    # the other direction).
    rows = contract_stream(
        slim, guard_lines, [f["name"] for f in flags]
    ).split("\n")
    line, summary = rows[-2], rows[-1]
    if len(line) > 1900:  # fail loudly BEFORE the driver truncates it
        print(
            f"WARNING: stdout JSON line {len(line)} chars — nearing "
            f"the driver's 2000-char tail window; slim it",
            file=sys.stderr,
        )
    for gl in rows[:-2]:
        print(gl, file=sys.stderr)
    print(line)
    # stdout is block-buffered when piped while stderr is unbuffered;
    # without this flush the JSON line can reach the driver's merged
    # capture AFTER the stderr summary, breaking the pinned emission
    # order at the fd level (ADVICE r12)
    sys.stdout.flush()
    print(summary, file=sys.stderr)
    # no spark.stop() here: the main session was already stopped
    # before the isolated-protocol block (r9 advisor note)


if __name__ == "__main__":
    main()
