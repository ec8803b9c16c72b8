"""Scaling-curve instrument: fit per-query scaling exponents across
scale factors (the measurement form of the "would this survive 100×?"
question the plan census answers structurally).

For each (sf_dir, sf) point the headline queries run under the bench
discipline — one warm session per SF, full cache eviction between
queries, warm-up + best-of-N — then each query gets a least-squares
slope of log(time) vs log(sf): α ≈ 1 is linear scaling, α < 1
sublinear (fixed overhead still amortizing), α > SUPERLINEAR_FLAG
is flagged — the shape that becomes the bottleneck at 100 TB.

Interpreting α needs the calibration context printed with each SF
block: local[32] holds cores fixed while a real cluster would scale
them, so a flagged query here is a per-core work blowup, which is
exactly the thing more executors cannot fix when it is candidate-set
quadratic growth.

bench.py's ISOLATED graph family is excluded from the live table by
default: those queries carry an eager-cache recompute race that is
stable under the bench's dedicated fresh-session protocol but
bimodal deep into a 51-query session (measured here: triangle
23.8/68.3/50.2 s across three SF blocks whose wedge counts scale
cleanly 1:3:10) — their exponents come from the committed bench
artifacts instead via --bench-table.

Usage:
  python tools/scale_curve.py sf_dir:sf [sf_dir:sf ...] \
      [--runs 2] [--names q1,q2,...] [--out SCALING.md] \
      [--bench-table bench_a.json:sfA,bench_b.json:sfB]
  python tools/scale_curve.py --bench-table ... --append-out SCALING.md
Defaults to bench.py's HEADLINE set minus ISOLATED.  Emits the
markdown table to --out (default: print) plus one machine-readable
JSON line on stdout.  --append-out skips the live measurement and
only appends the bench-artifact table (no Spark session).
"""

from __future__ import annotations

import json
import math
import os
import sys
import time

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

from ondemand_dask_spark.operators.checkpoint import (  # noqa: E402
    evict_all_retained,
)
from ondemand_dask_spark.registry import all_queries  # noqa: E402
from ondemand_dask_spark.session import build_session  # noqa: E402

SUPERLINEAR_FLAG = 1.3  # α above this ⇒ flagged in the table


def measure_sf(sf_dir: str, names: list[str], runs: int) -> dict:
    """Fresh session for ONE scale point: calibration + per-query
    warm-up + best-of-`runs` with eviction between runs (the
    isolated protocol of tools/ab.py, one session per SF so JVM
    warm-up never biases the small SFs that run first)."""
    from tools.ab import measure

    spark = build_session(app_name=f"scale_curve_{os.path.basename(sf_dir)}")
    spark.sparkContext.setLogLevel("ERROR")
    try:
        return measure(spark, names, sf_dir, runs=runs)
    finally:
        evict_all_retained()
        spark.stop()


def fit_alpha(points: list[tuple[float, float]]) -> float:
    """Least-squares slope of log(t) on log(sf)."""
    xs = [math.log(sf) for sf, _ in points]
    ys = [math.log(t) for _, t in points]
    n = len(xs)
    mx, my = sum(xs) / n, sum(ys) / n
    den = sum((x - mx) ** 2 for x in xs)
    if den == 0:
        return float("nan")
    return sum((x - mx) * (y - my) for x, y in zip(xs, ys)) / den


def bench_table(pairs: str) -> str:
    """Markdown section for the ISOLATED graph family, exponents fit
    over committed bench artifacts (file.json:sf pairs) — the
    dedicated-session protocol those queries need."""
    from bench import ISOLATED

    arts = []
    for p in pairs.split(","):
        f, _, sf = p.rpartition(":")
        with open(f) as fh:
            qmap = json.load(fh)["queries"]
        # accept both the bench artifact shape ({name: sec}) and the
        # `tools/ab.py --fresh`/isolated-block shape ({name: {"best":
        # sec, "all": [...]}}) — the sf0.3 graph point is a committed
        # isolated-protocol artifact, not a full bench run
        qmap = {
            n: (v["best"] if isinstance(v, dict) else v)
            for n, v in qmap.items()
        }
        arts.append((float(sf), qmap))
    arts.sort()
    lines = [
        "\n## Bench-protocol exponents (ISOLATED graph family)\n\n",
        "From the committed bench artifacts (%s): these queries are "
        "excluded from the live table above — their eager-cache "
        "pinning is stable under the bench's dedicated fresh-session "
        "protocol but bimodal deep into a long measurement session "
        "(see tool docstring).  Context: co-purchase |E| and wedge "
        "count both scale 1.00x-per-sf on this data (probed via "
        "DuckDB at sf0.1/sf1), so α ≈ 1 here IS the linear-work "
        "bound for a wedge-check algorithm.\n\n"
        % ", ".join(f"sf{sf:g}" for sf, _ in arts),
        "| query | "
        + " | ".join(f"t(sf{sf:g})" for sf, _ in arts)
        + " | α |\n",
        "| --- |" + " --- |" * (len(arts) + 1) + "\n",
    ]
    for n in ISOLATED:
        pts = [(sf, q[n]) for sf, q in arts if n in q]
        if len(pts) < 2:
            continue
        alpha = fit_alpha(pts)
        cells = " | ".join(f"{t:.3f}" for _, t in pts)
        lines.append(f"| `{n}` | {cells} | {alpha:.2f} |\n")
    return "".join(lines)


def main(argv: list[str]) -> int:
    points: list[tuple[str, float]] = []
    runs, names, out = 2, None, None
    bench_pairs, append_out = None, None
    it = iter(argv)
    for a in it:
        if a == "--runs":
            runs = int(next(it))
        elif a == "--names":
            names = next(it).split(",")
        elif a == "--out":
            out = next(it)
        elif a == "--bench-table":
            bench_pairs = next(it)
        elif a == "--append-out":
            append_out = next(it)
        else:
            d, _, sf = a.rpartition(":")
            points.append((d, float(sf)))
    if append_out:
        if not bench_pairs:
            print("--append-out needs --bench-table", file=sys.stderr)
            return 2
        with open(append_out, "a") as f:
            f.write(bench_table(bench_pairs))
        print(json.dumps({"appended": append_out}))
        return 0
    if len(points) < 2:
        print("need >= 2 sf_dir:sf points", file=sys.stderr)
        return 2
    if names is None:
        from bench import HEADLINE, ISOLATED

        qs = all_queries()
        names = [
            n for n in HEADLINE if n in qs and n not in ISOLATED
        ]
    # Certificate-class queries (registry scale_class) are
    # correctness certificates with documented super-linear or
    # fixture-adversarial cost — sweeping one above sf0.1 is exactly
    # the r12 stale-sf1 failure mode.  The exclusion is PER SCALE
    # POINT (ADVICE r13): the contract is "never in a sweep above
    # sf0.1", so a mixed --sf 0.01,0.1,1 sweep keeps the certificate
    # curves at its ≤sf0.1 points and drops them only from the >0.1
    # ones — dropped with a loud note so a hand-typed --names list
    # cannot reintroduce them silently.
    from ondemand_dask_spark.registry import certificate_queries

    certs = certificate_queries().intersection(names)

    per_sf: dict[float, dict] = {}
    for d, sf in points:
        point_names = names
        if sf > 0.1 and certs:
            print(
                f"NOTE: excluding certificate-class queries from the "
                f"sf{sf:g} point: {sorted(certs)} (registry "
                f"scale_class; their correctness still gates at "
                f"sf0.01, and any ≤sf0.1 points keep them)",
                file=sys.stderr,
            )
            point_names = [n for n in names if n not in certs]
        res = measure_sf(d, point_names, runs)
        per_sf[sf] = res
        print(
            f"## sf={sf} calib_sec={res['calib_sec']} "
            f"calib_bw_sec={res['calib_bw_sec']}",
            file=sys.stderr,
        )

    sfs = sorted(per_sf)
    rows = []
    for n in names:
        pts = [
            (sf, per_sf[sf]["queries"][n]["best"])
            for sf in sfs
            if n in per_sf[sf]["queries"]
        ]
        if len(pts) < 2:
            continue
        alpha = fit_alpha(pts)
        rows.append((n, pts, alpha))
    rows.sort(key=lambda r: -r[2])

    hdr = " | ".join(f"t(sf{sf:g})" for sf in sfs)
    lines = [
        "# SCALING — measured scaling exponents over the headline set\n",
        "\n",
        "Generated by `tools/scale_curve.py` — regenerate after "
        "operator reshapes; do not edit by hand.\n",
        "α = least-squares slope of log(best-of-%d time) vs log(sf); "
        "linear work ⇒ α ≈ 1 (local[32]: cores fixed, so data/core "
        "grows with sf), amortizing fixed overhead ⇒ α < 1, "
        "**flagged ⇒ α > %.1f** (per-core work growing faster than "
        "data — the shape extra executors cannot fix).\n"
        % (runs, SUPERLINEAR_FLAG),
        "\n",
        f"| query | {hdr} | α | |\n",
        f"| --- |{' --- |' * len(sfs)} --- | --- |\n",
    ]
    for n, pts, alpha in rows:
        cells = " | ".join(f"{t:.3f}" for _, t in pts)
        flag = "**SUPERLINEAR**" if alpha > SUPERLINEAR_FLAG else ""
        lines.append(f"| `{n}` | {cells} | {alpha:.2f} | {flag} |\n")
    if bench_pairs:
        lines.append(bench_table(bench_pairs))
    md = "".join(lines)
    if out:
        with open(out, "w") as f:
            f.write(md)
    else:
        print(md, file=sys.stderr)

    print(
        json.dumps(
            {
                "sfs": sfs,
                "alphas": {n: round(a, 3) for n, _, a in rows},
                "flagged": [
                    n for n, _, a in rows if a > SUPERLINEAR_FLAG
                ],
                "calib": {
                    str(sf): {
                        "cpu": per_sf[sf]["calib_sec"],
                        "bw": per_sf[sf]["calib_bw_sec"],
                    }
                    for sf in sfs
                },
            },
            separators=(",", ":"),
        )
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
