"""Distributed EXACT grouped quantiles (§2.D).

`F.percentile` (and any ObjectHashAggregate) collects every group
value into one aggregation buffer — at 100 TB a low-cardinality
groupBy means multi-GB buffers on single tasks: the OOM shape.
`exact_group_quantiles` is the one entry point.  Both of its paths
have `quantile_cont` semantics (value at rank h = (n-1)·q, linearly
interpolated between floor(h) and ceil(h), NULLs ignored):

- sort path: rank via `row_number` over a per-group window (a
  hash-partitioned sort, no per-task value collection), group size
  via a count over the same window partitioning; only the ≤ 2·|qs|
  boundary rows per group survive into the final aggregation.  One
  sort shuffle of the (keys, value) pairs; memory per task O(1).
  Each group's sort is one task — right whenever the largest group
  is not the critical path.
- ranged path: ranks by (keys…, value) with the two-phase distributed
  rank (operators/rank.py), so a huge group spans many partitions and
  sorts at cluster width — for FEW huge groups, where one-task-per-
  group sorts serialize.

A scalar probe (largest group, total rows) feeds
`choose_quantile_path`, which also weighs the core count; it stores
nothing.

Exactness of both paths is differentially proven by the quantile
oracle queries and property-tested against numpy in
tests/test_quantile_property.py.
"""

from __future__ import annotations

import functools
import operator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def _h(q: float):
    """Fractional target rank for quantile q, as a column over __n."""
    return (F.col("__n") - 1) * F.lit(float(q))


def _boundary_rows(ranked: DataFrame, keys: list[str], qs: dict[str, float]):
    """Filter to rows at floor/ceil target ranks, aggregate, interpolate."""
    keep = functools.reduce(
        operator.or_,
        [
            (F.col("__rn") == F.floor(_h(q))) | (F.col("__rn") == F.ceil(_h(q)))
            for q in qs.values()
        ],
    )
    aggs = [F.max("__n").alias("__n")]
    for name, q in qs.items():
        aggs.append(
            F.max(F.when(F.col("__rn") == F.floor(_h(q)), F.col("__v"))).alias(
                f"__lo_{name}"
            )
        )
        aggs.append(
            F.max(F.when(F.col("__rn") == F.ceil(_h(q)), F.col("__v"))).alias(
                f"__hi_{name}"
            )
        )
    grouped = ranked.filter(keep).groupBy(*keys).agg(*aggs)
    outs = []
    for name, q in qs.items():
        frac = _h(q) - F.floor(_h(q))
        lo, hi = F.col(f"__lo_{name}"), F.col(f"__hi_{name}")
        outs.append((lo + frac * (hi - lo)).alias(name))
    return grouped.select(*keys, *outs)


def exact_group_quantiles(
    df: DataFrame,
    keys: list[str],
    col: str,
    qs: dict[str, float],
) -> DataFrame:
    """One row per group with a column per requested quantile.

    qs: output_column_name -> quantile in [0, 1].

    Runs one scalar probe (the largest group's rows and the total
    rows, over a partial-agg count) and dispatches per
    `choose_quantile_path`.  The probe stores nothing: the chosen path
    counts its groups again inside its own plan, which is cheaper than
    storing the counts and joining them back."""
    d = df.select(*keys, F.col(col).cast("double").alias("__v")).filter(
        F.col("__v").isNotNull()
    )
    probe = d.groupBy(*keys).count().agg(F.max("count"), F.sum("count"))
    mx, n = (int(v or 0) for v in probe.first())  # NULLs when d is empty
    cores = df.sparkSession.sparkContext.defaultParallelism
    if choose_quantile_path(mx, n, cores) == "ranged":
        return _ranged_path(d, keys, qs)
    return _sort_path(d, keys, qs)


def _sort_path(d: DataFrame, keys: list[str], qs: dict[str, float]) -> DataFrame:
    # Rank over the __v sort (ties get arbitrary ranks — harmless:
    # interpolating between equal values returns that value).  Group
    # size is a whole-partition window count over the SAME exchange
    # the rank window planned: one shuffle, zero joins (measured vs a
    # count-agg + join: one fewer job, ~0.3 s off the sf0.1 query).
    ranked = d.withColumn(
        "__rn", F.row_number().over(Window.partitionBy(*keys).orderBy("__v")) - 1
    ).withColumn("__n", F.count("*").over(Window.partitionBy(*keys)))
    return _boundary_rows(ranked, keys, qs)


def _ranged_path(d: DataFrame, keys: list[str], qs: dict[str, float]) -> DataFrame:
    """Range-partitioned sort path — parallel in BOTH group regimes.

    The window sort path serializes each group into one task (and
    AQE's size-based coalescing can merge even the |groups| tasks
    into fewer: the r15 sf1 profile measured 13.6 s of a 14.7 s query
    in a SINGLE task, 31 cores idle).  This path ranks by
    (keys…, value) with the repo's two-phase distributed rank
    (operators/rank.py `global_row_numbers`: range exchange → local
    row numbers → per-partition offsets), so a huge group spans many
    partitions and sorts at cluster width.  Groups are contiguous in
    the (keys…, value) total order, hence
    rank-within-group = global position − min(position) per group;
    the per-group (start, n) table is one partial-agg pass, joined
    back (AQE broadcasts it at low group counts, and at millions of
    groups it is a plain key join — never a forced driver collect).
    Ties in the value get arbitrary ranks, exactly like the window
    path's row_number — interpolating between equal values returns
    that value, so the quantile is unaffected.
    """
    from ondemand_dask_spark.operators.rank import global_row_numbers

    pos = global_row_numbers(d, *keys, "__v", col_name="__pos")
    grp = pos.groupBy(*keys).agg(
        F.min("__pos").alias("__st"), F.count("*").alias("__n")
    )
    ranked = pos.join(grp, on=list(keys)).withColumn(
        "__rn", F.col("__pos") - F.col("__st")
    )
    return _boundary_rows(ranked, keys, qs)


# A per-group window sort is one task.  Below this many rows in the
# LARGEST group that task is short enough that the ranged path's fixed
# overhead (range exchange + checkpoint + offsets join, ~0.4 s at
# sf0.1) never pays: largest group 240k rows (sf0.1) → sort 1.56 s vs
# ranged 1.99 s (OPTIMIZATION_r15.md, "agg_groupby_quantile /
# agg_winsorize: ranged path past the knee").
MAX_ROWS_PER_SORT_TASK = 1_000_000


def choose_quantile_path(max_group_rows: int, total_rows: int, cores: int) -> str:
    """'ranged' when the largest group's one-task sort is both big
    (over `MAX_ROWS_PER_SORT_TASK`) and the critical path — more than
    two fair shares of the rows (`total_rows / cores` each), so the
    other cores would idle behind it; otherwise 'sort'.

    Fitted to two measured points, both generated sf1 (6M rows in 3
    groups, the largest 2.0M–2.4M): on 32 cores (11–13 fair shares)
    ranged 4.5 s vs sort 13.5 s; on 4 cores (1.3–1.6 fair shares)
    sort 10.59 s vs ranged 13.29 s, because three group sorts already
    fill the machine.  `cores` is `defaultParallelism`."""
    big = max_group_rows > MAX_ROWS_PER_SORT_TASK
    critical = max_group_rows * cores > 2 * total_rows
    return "ranged" if big and critical else "sort"
