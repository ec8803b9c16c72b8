"""Pins for bench.py's drift-normalized regression guard — the
piece that decides whether a round-over-round slowdown is flagged.
Two rounds of false flags (r7: 2, r8 preview: 6, every one bisected
to host drift via the isolated protocol) bought leniency; the r10
review then showed the most-lenient-of-four form OVER-promising
(r10-start cpu ÷ r9-END cpu printed drift ×2.80, wide enough to
absorb a genuine ≤2.8× regression).  The settled rules:

- normalize by the largest PHASE-MATCHED ratio — current start vs
  prior start, current end vs prior end — across {cpu, bandwidth};
  an intra-session calibration swing must NOT multiply the
  cross-session allowance;
- degrade gracefully against artifacts predating each field.
"""

from __future__ import annotations

import bench


def test_no_calibration_in_prior_artifact_means_unit_drift():
    assert bench.drift_ratio({}, 0.3, 3.0, 0.3, 3.0) == 1.0


def test_cpu_only_prior_matches_start_sample_only():
    # prior recorded only a start sample (0.30); the current END
    # sample (0.39, slower window) has no phase-matched partner and
    # must not widen the ratio -> 0.27/0.30
    prev = {"calib_sec": 0.30}
    got = bench.drift_ratio(prev, 0.27, 3.0, 0.39, 3.0)
    assert abs(got - 0.27 / 0.30) < 1e-12


def test_bandwidth_ratio_wins_when_worse():
    # cpu flat, bandwidth degraded 3.0 -> 4.5: the sort/shuffle class
    # r7 falsely flagged is exactly what this axis corrects
    prev = {"calib_sec": 0.30, "calib_bw_sec": 3.0}
    got = bench.drift_ratio(prev, 0.30, 4.5, 0.30, 4.2)
    assert abs(got - 4.5 / 3.0) < 1e-12


def test_phase_matched_pairs_only():
    # prior round: fast start (0.30), slow end (0.40); current flat
    # 0.36 -> max(0.36/0.30, 0.36/0.40) = 1.2, never 0.36/0.30 vs
    # the cross pair 0.36/0.40's minimum
    prev = {"calib_sec": 0.30, "calib_sec_end": 0.40}
    got = bench.drift_ratio(prev, 0.36, 3.0, 0.36, 3.0)
    assert abs(got - 0.36 / 0.30) < 1e-12


def test_r10_intra_session_swing_does_not_absorb_a_2x_regression():
    # the r10 incident shape: both rounds swing 0.343 (start) ->
    # 0.161 (end) intra-session.  Phase-matched drift is 1.0, so a
    # clean 2x slowdown MUST flag; the old cross-pair form took
    # 0.343/0.161 = 2.13 and its 2.66x threshold absorbed it.
    prev = {
        "calib_sec": 0.343, "calib_sec_end": 0.161,
        "calib_bw_sec": 3.0, "calib_bw_sec_end": 3.0,
    }
    drift = bench.drift_ratio(prev, 0.343, 3.0, 0.161, 3.0)
    assert abs(drift - 1.0) < 1e-12
    assert bench.is_regression(2.0, 4.0, drift)


def test_flag_condition():
    # the REAL condition (bench.is_regression): a +44% raw move under
    # drift 1.30 must NOT flag, under drift 1.0 it must; sub-0.5 s
    # prior values are exempt regardless
    assert not bench.is_regression(1.99, 2.87, 1.30)
    assert bench.is_regression(1.99, 2.87, 1.0)
    assert not bench.is_regression(0.4, 2.0, 1.0)


def test_fast_host_window_never_flags_raw_improvements():
    # late-r8 incident: both calib samples landed in a fast window
    # (drift 0.7), the unclamped threshold fell below the prior time,
    # and queries 2-3% FASTER raw were flagged. Drift only loosens.
    assert not bench.is_regression(4.49, 4.34, 0.7)   # faster raw
    assert not bench.is_regression(4.49, 5.0, 0.7)    # +11% raw
    assert bench.is_regression(4.49, 6.0, 0.7)        # +34% raw: real


def test_contention_annotation_marks_the_stall_window_only():
    """The r13 blind-spot case, synthetic: a mid-run host stall
    (micro-calib sample 3 spikes 0.30 -> 1.20 while the start/end
    best-of-3 pairs bracket the loop cleanly at drift 1.0) must mark
    flags whose queries ran in the stalled neighborhood as
    contention-suspect — and must NOT touch a flag at stable
    neighborhood calibration (the r11 dedup_ngram_jaccard true
    positive's shape: a code regression moves a query while the
    calib series stays flat)."""
    # samples taken after 0, 10, 20, 30, 40, 50 queries; the stall
    # covers the window bracketed by sample 3 => loop indices 20-39
    series = [0.30, 0.31, 0.29, 1.20, 0.30, 0.31]
    name_index = {"stalled_q": 25, "clean_q": 5, "also_stalled": 33}
    flags = [
        {"name": "stalled_q", "prev_sec": 1.0, "now_sec": 3.2},
        {"name": "clean_q", "prev_sec": 2.0, "now_sec": 2.9},
        {"name": "also_stalled", "prev_sec": 0.9, "now_sec": 2.4},
    ]
    n = bench.annotate_contention(flags, name_index, series)
    assert n == 2
    by = {f["name"]: f for f in flags}
    assert by["stalled_q"]["contention_suspect"] is True
    assert by["also_stalled"]["contention_suspect"] is True
    # the true-regression shape keeps full force: not suspect, and
    # its recorded neighborhood ratio is ~1.0
    assert by["clean_q"]["contention_suspect"] is False
    assert by["clean_q"]["neighborhood_calib_ratio"] < 1.2
    # flags are annotated, never suppressed
    assert all("prev_sec" in f and "now_sec" in f for f in flags)


def test_contention_annotation_degrades_gracefully():
    """A short or absent series (old artifact regenerated by hand, or
    a names list under one CALIB_EVERY segment) must not crash and
    must not invent suspicion."""
    flags = [{"name": "q", "prev_sec": 1.0, "now_sec": 2.0}]
    assert bench.annotate_contention(flags, {"q": 0}, []) == 0
    assert flags[0]["contention_suspect"] is False
    # unknown query name (e.g. renamed between rounds): untouched
    flags2 = [{"name": "gone", "prev_sec": 1.0, "now_sec": 2.0}]
    n = bench.annotate_contention(
        flags2, {"other": 0}, [0.3, 0.3, 0.3, 0.3]
    )
    assert n == 0 and flags2[0]["contention_suspect"] is False


def test_contention_annotation_last_segment_bracket():
    """A flag in the FINAL partial segment is bracketed by the last
    two samples (the closing sample exists because the loop appends
    one after the last query) — a spike there must still attribute."""
    series = [0.30, 0.30, 0.30, 0.30, 1.00]
    # query index 35 -> segment 3, brackets samples 3 and 4
    flags = [{"name": "tail_q", "prev_sec": 1.0, "now_sec": 2.5}]
    n = bench.annotate_contention(flags, {"tail_q": 35}, series)
    assert n == 1 and flags[0]["contention_suspect"] is True


def test_contention_count_rides_the_bounded_summary():
    """The driver's 2000-char tail keeps only the JSON line + the one
    summary line below it — the contention-suspect count must appear
    there so a stall round self-attributes even when every per-flag
    guard line above the JSON is truncated away."""
    slim = {
        "metric": "headline_queries_total", "value": 75.4,
        "unit": "sec", "queries": {}, "sf": 0.1,
        "n_flags": 7, "n_contention_suspect": 5,
        "n_isolated_flags": 2, "flags_vs": "BENCH_r13.json",
        "detail": "bench_full.json",
    }
    out = bench.contract_stream(slim, [], ["a", "b", "c", "d"])
    summary = out.splitlines()[-1]
    assert "7 flags" in summary and "5 contention-suspect" in summary


def test_isolated_protocol_names_are_registered_headline_queries():
    """bench.py commits an `isolated` block (fresh-session best-of-5
    with own calibrations) for the most expensive headline queries each round
    — the names must stay registered and benched, and the shared
    measure() instrument must be the one tools/ab.py ships."""
    import os
    import sys

    import bench
    from ondemand_dask_spark.registry import all_queries

    qs = all_queries()
    # 4 since r13: graph_triangle_count (certificate-class, registry
    # scale_class) left HEADLINE and the isolated protocol with it
    assert len(bench.ISOLATED) == 4
    for n in bench.ISOLATED:
        assert n in qs, n
        assert n in bench.HEADLINE, n

    sys.path.insert(
        0, os.path.join(os.path.dirname(bench.__file__), "tools")
    )
    from ab import measure

    assert callable(measure)


def test_load_prev_bench_skips_unparseable_artifacts(tmp_path):
    """BENCH_r08.json has parsed=null (its stdout line outgrew the
    driver's 2000-char tail window and the head of the JSON was cut)
    — the guard must fall back to the newest PARSEABLE same-sf
    artifact instead of silently comparing against nothing."""
    import json

    import bench

    good = {"parsed": {"sf": 0.1, "queries": {"q": 1.0},
                       "calib_sec": 0.25}}
    bad = {"parsed": None, "tail": "ries_total... (truncated head)",
           "sf": 0.1}
    (tmp_path / "BENCH_r07.json").write_text(json.dumps(good))
    (tmp_path / "BENCH_r08.json").write_text(json.dumps(bad))
    name, prev = bench.load_prev_bench(str(tmp_path), 0.1)
    assert name == "BENCH_r07.json"
    assert prev["queries"] == {"q": 1.0}
    # wrong sf: nothing usable
    assert bench.load_prev_bench(str(tmp_path), 0.001) is None


def test_stdout_json_line_fits_the_driver_tail_window():
    """Worst-case-width reconstruction of the slim stdout line from
    the CURRENT headline set must stay under the driver's 2000-char
    tail window with margin (r8's 2.3k-char line is how BENCH_r08
    lost its parsed block)."""
    import json

    import bench

    slim = {
        "metric": "headline_queries_total",
        "value": 999.999,
        "unit": "sec",
        "queries": {n: 99.99 for n in bench.HEADLINE},  # main rounds 2dp
        "sf": 0.1,
        "calib_sec": 99.9999,
        "calib_bw_sec": 99.9999,
        "calib_sec_end": 99.9999,
        "calib_bw_sec_end": 99.9999,
        # worst-case guard verdict under main()'s slim form: counts
        # only (names ride in the bounded summary line; the isolated
        # block and full flag records live in the detail artifact)
        "n_flags": 44,
        "n_contention_suspect": 44,
        "n_isolated_flags": 5,
        "flags_vs": "BENCH_r99.json",
        "detail": "bench_full.json",
    }
    line = json.dumps(slim, separators=(",", ":"))
    assert len(line) < 1800, (
        f"{len(line)} chars — the stdout contract line is about to "
        f"overflow the driver's tail window; move detail to "
        f"bench_full.json or slim keys"
    )
    # the REAL budget: line + newline + bounded summary (the only
    # output below the line) must fit the 2000-char tail TOGETHER —
    # a line that fits alone but pushes its own summary over the edge
    # truncates its own JSON head (the r8 failure, one step removed)
    names = [f"some_long_flagged_query_name_{i:02d}" for i in range(3)]
    stream = bench.contract_stream(slim, [], names)
    tail_block = "\n".join(stream.splitlines()[-2:])  # line + summary
    assert len(tail_block) <= 2000, len(tail_block)


def test_flag_verdict_survives_driver_tail_truncation():
    """r11 verdict item 6: the driver records only the LAST 2000
    chars of bench output.  With a synthetic 8-flag verdict and a
    long guard-detail block, the tail window must still contain the
    complete JSON contract line (parseable, flags embedded) and the
    one-line guard summary — i.e. the verdict is artifact-borne and
    the emission order keeps the JSON intact."""
    import json
    import re

    import bench

    flags = [f"query_with_a_long_name_{i:02d}" for i in range(8)]
    slim = {
        "metric": "headline_queries_total",
        "value": 64.2,
        "unit": "sec",
        "queries": {n: 9.999 for n in bench.HEADLINE},
        "sf": 0.1,
        "n_flags": len(flags),
        "n_isolated_flags": 2,
        "flags_vs": "BENCH_r11.json",
        "detail": "bench_full.json",
    }
    guard_lines = [
        "calibration drift vs BENCH_r11.json: x1.13 (max phase-"
        "matched ratio, cpu/bandwidth x start-start/end-end)"
    ] + [
        f"REGRESSION vs BENCH_r11.json: {n} 1.00s -> 2.40s "
        f"(+140% raw, drift-adjusted threshold applied)"
        for n in flags
    ]
    stream = bench.contract_stream(slim, guard_lines, flags)
    tail = stream[-2000:]
    # the JSON line must be COMPLETE inside the tail
    m = re.search(r"^\{.*\}$", tail, re.M)
    assert m, "JSON contract line truncated out of the tail window"
    parsed = json.loads(m.group(0))
    assert parsed["n_flags"] == 8
    assert parsed["flags_vs"] == "BENCH_r11.json"
    # and the bounded summary (with the first-3 names) survives below
    last = tail.rstrip().splitlines()[-1]
    assert last.startswith("guard: 8 flags (")
    assert flags[0] in last and "+5 more" in last
