"""Repo-wide physical-plan census → PLANS.md.

Builds every registered query's DataFrame at a small SF and records
the plan-shape metrics the scale posture cares about: exchanges,
broadcast vs sort-merge joins, nested-loop/cartesian occurrences,
Python boundaries, codegen spans.  The output table makes plan
regressions reviewable the way COVERAGE.md makes coverage reviewable
— a new shuffle in a refactor shows up as a diff.

Nested-loop joins are legitimate ONLY as 1-row scalar attaches
(crossJoin of a broadcast aggregate — |V|, corpus size, total
counts); the census prints which queries contain them so the
whitelist in tests/test_plan_census.py stays explicit and short.

Usage: python tools/plan_census.py [sf_dir] [--out PLANS.md]

The committed artifacts are PLANS.md (sf0.001, the per-change
regeneration target) and PLANS_sf01.md (sf0.1 — 100× the censused
SF, plan construction only; pins that the structural guards are
scale-invariant and that the only cross-SF deltas are AQE-intended
broadcast↔SMJ strategy flips).  tests/test_plan_census.py guards
both against the live whitelists, and fails when PLANS.md's
engine-source hash no longer matches the engine.
"""

from __future__ import annotations

import glob
import hashlib
import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from ondemand_dask_spark.plans import (  # noqa: E402
    broadcast_join_count,
    codegen_span_count,
    global_window_count,
    plan_string,
    python_eval_count,
    shuffle_count,
    sort_merge_join_count,
)
from ondemand_dask_spark.registry import all_queries  # noqa: E402
from ondemand_dask_spark.session import build_session  # noqa: E402

OUT = "PLANS.md"

HEADER = """# PLANS — physical-plan census over every registered query

Engine source sha256 (`ondemand_dask_spark/**/*.py`): `{engine_sha256}`

Generated by `tools/plan_census.py` at {sf_dir} — regenerate after
adding or reshaping operators; do not edit by hand.  Metrics come
from `explain('formatted')` via `ondemand_dask_spark.plans`:

- **xchg** — Exchange nodes (data shuffles; broadcast excluded)
- **bhj / smj / bnlj / cart** — broadcast-hash, sort-merge,
  broadcast-nested-loop, cartesian join operators
- **py** — Python-boundary operators (Arrow/Pandas UDF stages;
  expected only in the §2.J UDF and multimodal families)
- **gwin** — unpartitioned Window operators (single-task collapse
  at scale; excludes the rank machinery's bounded __ods_pid offsets
  window).  Acceptable ONLY over provably bounded inputs — k-row
  cut tables, |V|-row vocabularies, per-partition count tables;
  `tests/test_plan_census.py` pins the exact whitelist.
- **wscg** — WholeStageCodegen spans (fused JVM loops)

`bnlj` is acceptable ONLY as a 1-row scalar attach (a broadcast
aggregate cross-joined into the stream — corpus size, |V|, global
norms); `tests/test_plan_census.py` pins the exact whitelist and
fails if any other query grows one, or if any query at all plans a
CartesianProduct or a row-at-a-time BatchEvalPython.

{summary}

| query | xchg | bhj | smj | bnlj | cart | py | gwin | wscg |
| --- | --- | --- | --- | --- | --- | --- | --- | --- |
"""


def engine_sha256() -> str:
    """sha256 over every engine source file's repo-relative path and
    bytes, in sorted path order: names the code a census describes."""
    h = hashlib.sha256()
    pattern = os.path.join(ROOT, "ondemand_dask_spark", "**", "*.py")
    for path in sorted(glob.glob(pattern, recursive=True)):
        h.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def census(sf_dir: str) -> list[dict]:
    spark = build_session(
        app_name="plan_census",
        shuffle_partitions=8,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    rows = []
    for name, q in sorted(all_queries().items()):
        try:
            df = q.fn(spark, sf_dir)
            plan = plan_string(df)
            rows.append(
                {
                    "query": name,
                    "xchg": shuffle_count(df),
                    "bhj": len(
                        re.findall(r"\(\d+\) BroadcastHashJoin\b", plan)
                    ),
                    "smj": sort_merge_join_count(df),
                    "bnlj": len(
                        re.findall(r"\(\d+\) BroadcastNestedLoopJoin\b", plan)
                    ),
                    "cart": len(
                        re.findall(r"\(\d+\) CartesianProduct\b", plan)
                    ),
                    "py": python_eval_count(df),
                    "gwin": global_window_count(df),
                    "wscg": codegen_span_count(df),
                }
            )
        except Exception as e:  # censused best-effort; failures listed
            rows.append({"query": name, "error": str(e).splitlines()[0][:100]})
        print(f"  {rows[-1]}", file=sys.stderr, flush=True)
    spark.stop()
    return rows


def main() -> None:
    global OUT
    argv = list(sys.argv[1:])
    if "--out" in argv:
        i = argv.index("--out")
        OUT = argv[i + 1]
        del argv[i : i + 2]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.001"
    rows = census(sf_dir)
    ok = [r for r in rows if "error" not in r]
    bad = [r for r in rows if "error" in r]
    with_bnlj = sorted(r["query"] for r in ok if r["bnlj"])
    with_cart = sorted(r["query"] for r in ok if r["cart"])
    with_py = sorted(r["query"] for r in ok if r["py"])
    with_gwin = sorted(r["query"] for r in ok if r["gwin"])
    summary = (
        f"**{len(ok)} queries censused** · total shuffles "
        f"{sum(r['xchg'] for r in ok)} · broadcast joins "
        f"{sum(r['bhj'] for r in ok)} · sort-merge joins "
        f"{sum(r['smj'] for r in ok)} · cartesian products "
        f"{sum(r['cart'] for r in ok)} ·\n"
        f"queries with a Python boundary: {len(with_py)} "
        f"(UDF/multimodal families) · queries with a scalar-attach "
        f"bnlj: {len(with_bnlj)}\n\n"
        f"bnlj queries: {', '.join(with_bnlj) or '(none)'}\n\n"
        f"cartesian queries: {', '.join(with_cart) or '(none)'}\n\n"
        f"unpartitioned-window queries: "
        f"{', '.join(with_gwin) or '(none)'}"
    )
    lines = [
        HEADER.format(
            sf_dir=sf_dir, engine_sha256=engine_sha256(), summary=summary
        )
    ]
    for r in ok:
        lines.append(
            f"| `{r['query']}` | {r['xchg']} | {r['bhj']} | {r['smj']} "
            f"| {r['bnlj']} | {r['cart']} | {r['py']} | {r['gwin']} "
            f"| {r['wscg']} |\n"
        )
    if bad:
        lines.append("\n## errors\n\n")
        for r in bad:
            lines.append(f"- `{r['query']}`: {r['error']}\n")
    with open(OUT, "w") as f:
        f.writelines(lines)
    print(f"wrote {OUT}: {len(ok)} ok, {len(bad)} errors")


if __name__ == "__main__":
    main()
