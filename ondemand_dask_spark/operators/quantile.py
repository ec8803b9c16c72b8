"""Distributed EXACT grouped quantiles (§2.D).

`F.percentile` (and any ObjectHashAggregate) collects every group
value into one aggregation buffer — at 100 TB a low-cardinality
groupBy means multi-GB buffers on single tasks: the OOM shape.  Two
implementations with the same `quantile_cont` semantics (value at
rank h = (n-1)·q, linearly interpolated between floor(h) and
ceil(h), NULLs ignored):

`exact_group_quantiles` — sort-based.  Rank via `row_number` over a
per-group window (a hash-partitioned sort, no per-task value
collection); group sizes via a plain partial-agg count broadcast
back on; only the ≤ 2·|qs| boundary rows per group survive into the
final aggregation.  One sort shuffle of the (keys, value) pairs;
memory per task O(1).  The right shape when |groups| ≫ cores (the
common 100 TB case: quantiles per tenant / per day) — each group's
sort is one task, and there are plenty.

`exact_group_quantiles_ranged` — range-partitioned, for FEW huge
groups where one-task-per-group sorts serialize.  Ranks by (keys…,
value) with the two-phase distributed rank (operators/rank.py), so a
huge group spans many partitions and sorts at cluster width.
`exact_group_quantiles_auto` probes the largest group size and picks
between the two (numbers: OPTIMIZATION_r15.md, "agg_groupby_quantile
/ agg_winsorize: ranged path past the knee").

Exactness of both is differentially proven by the
`agg_groupby_quantile` oracle query and property-tested against
numpy in tests/test_quantile_property.py.
"""

from __future__ import annotations

import functools
import operator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ondemand_dask_spark.operators.checkpoint import (
    release_local_checkpoint,
    retain,
)


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
    """One row per group with a column per requested quantile (sort path).

    qs: output_column_name -> quantile in [0, 1].
    """
    d = df.select(*keys, F.col(col).cast("double").alias("__v")).filter(
        F.col("__v").isNotNull()
    )
    return _sort_path(d, None, keys, qs)


def _sort_path(
    d: DataFrame, counts: DataFrame | None, keys: list[str], qs: dict[str, float]
) -> DataFrame:
    # Rank over the __v sort (ties get arbitrary ranks — harmless:
    # interpolating between equal values returns that value).
    w_sort = Window.partitionBy(*keys).orderBy("__v")
    ranked = d.withColumn("__rn", F.row_number().over(w_sort) - 1)
    if counts is None:
        # Group size as a whole-partition window count over the SAME
        # exchange+sort the rank window just planned — one scan, one
        # shuffle, zero joins (measured vs the old count-agg + join
        # shape: one fewer job and ~0.3s off the sf0.1 bench query).
        ranked = ranked.withColumn(
            "__n", F.count("*").over(Window.partitionBy(*keys))
        )
    else:
        # Auto-dispatch probe already materialized (and checkpointed) the
        # per-group counts — reuse them.  No forced broadcast on the
        # join: counts has one row PER GROUP, unbounded at scale — a
        # broadcast hint would collect it to the driver regardless of
        # size.  AQE converts to broadcast-hash at runtime whenever
        # the measured size is under the threshold (always, at
        # few/moderate group counts), and falls back to a
        # key-shuffled join that is already co-partitioned with the
        # window sort's exchange when groups number in the millions.
        ranked = ranked.join(counts, on=list(keys))
    return _boundary_rows(ranked, keys, qs)


def exact_group_quantiles_ranged(
    df: DataFrame,
    keys: list[str],
    col: str,
    qs: dict[str, float],
) -> DataFrame:
    """Range-partitioned sort path — parallel in BOTH group regimes.

    The window sort path serializes each group into one task (and
    AQE's size-based coalescing can merge even the |groups| tasks
    into fewer: the r15 sf1 profile measured 13.6 s of a 14.7 s query
    in a SINGLE task, 31 cores idle).  This variant ranks by
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

    A/B vs the window-sort path (one warm session, interleaved
    best-of-3, generated sf1 = 6M rows in 3 groups): ranged 3.4 s vs
    window-sort 16.5 s; sf0.1 parity (OPTIMIZATION_r15.md,
    "agg_groupby_quantile / agg_winsorize: ranged path past the
    knee").
    """
    from ondemand_dask_spark.operators.rank import global_row_numbers

    d = df.select(*keys, F.col(col).cast("double").alias("__v")).filter(
        F.col("__v").isNotNull()
    )
    pos = global_row_numbers(d, *keys, "__v", col_name="__pos")
    grp = pos.groupBy(*keys).agg(
        F.min("__pos").alias("__st"), F.count("*").alias("__n")
    )
    ranked = pos.join(grp, on=list(keys)).withColumn(
        "__rn", F.col("__pos") - F.col("__st")
    )
    return _boundary_rows(ranked, keys, qs)


# A per-group window sort is one task; beyond this many rows in the
# LARGEST group the single-task sort serializes on one core and the
# ranged path's fixed overhead (range exchange + checkpoint + offsets
# join, ~0.4 s measured at sf0.1) pays for itself.  r15 re-derived
# the knee from measurement: largest group 240k rows (sf0.1) → window
# 1.56 s vs ranged 1.99 s; largest group 2.4M rows (generated sf1) →
# window 13.5 s vs ranged 4.5 s.  The crossover sits near 1M rows
# (the old 4M estimate predates the ranged path).
MAX_ROWS_PER_SORT_TASK = 1_000_000


def choose_quantile_path(
    max_group_rows: int, threshold: int = MAX_ROWS_PER_SORT_TASK
) -> str:
    """Pure decision rule: 'sort' (one-task-per-group window sort)
    unless the largest group exceeds what one task should sort, then
    'ranged' (range-partitioned distributed rank — every group sorts
    at cluster width).  Keyed on the MAX group size, not the
    average — quantile cost is gated by the single worst group
    (skew-aware).  At generated sf1 ranged measured 4.5 s vs
    window-sort 13.5 s (OPTIMIZATION_r15.md, "agg_groupby_quantile /
    agg_winsorize: ranged path past the knee")."""
    return "ranged" if max_group_rows > threshold else "sort"


def exact_group_quantiles_auto(
    df: DataFrame,
    keys: list[str],
    col: str,
    qs: dict[str, float],
    threshold: int = MAX_ROWS_PER_SORT_TASK,
) -> DataFrame:
    """Exact grouped quantiles with runtime path selection.

    Probes group sizes with the same partial-agg count the sort path
    needs anyway (checkpointed, so choosing 'sort' reuses it — the probe
    adds one tiny aggregate over the counts table, not a rescan), then
    dispatches per `choose_quantile_path`: many-normal-groups → sort
    path; few-huge-groups → ranged path, whose range-partitioned
    distributed rank restores parallelism a 3-group window sort
    can't have.

    The probe's counts checkpoint outlives this call (the returned lazy
    DataFrame reuses it), so it is registered with `checkpoint.retain`
    and released at the next query entry."""
    d = df.select(*keys, F.col(col).cast("double").alias("__v")).filter(
        F.col("__v").isNotNull()
    )
    # lazy, not pin: the probe's .first() reads it alone first
    counts = (
        d.groupBy(*keys).agg(F.count("*").alias("__n"))
        .localCheckpoint(eager=False)
    )
    row = counts.agg(F.max("__n").alias("mx")).first()
    mx = int(row["mx"]) if row and row["mx"] is not None else 0
    if choose_quantile_path(mx, threshold) == "ranged":
        release_local_checkpoint(counts)
        return exact_group_quantiles_ranged(df, keys, col, qs)
    # sort path reuses the counts the probe just materialized
    return _sort_path(d, retain(counts), keys, qs)

