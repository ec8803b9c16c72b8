"""Distributed global rank — the scale-safe twin of a single-task
`Window.orderBy` (§2.F).

`row_number() OVER (ORDER BY ...)` with no partition key moves EVERY
row through one task — the pattern this repo only permits on bounded
inputs (|V|-row degree tables, k-row cut tables).  For data-sized
inputs the classic two-pass shape assigns the identical numbering at
full parallelism:

1. `repartitionByRange` on the sort keys (sampled boundaries — the
   same machinery `orderBy` uses), then sort within partitions;
2. local row numbers via a window PARTITIONED BY the physical
   partition id (each partition is one task's rows — no exchange, the
   data is already sorted);
3. per-partition counts (one tiny agg: #partitions rows), cumulative
   offsets via a window over that bounded table, broadcast back;
4. global position = partition offset + local row number.

The result is deterministic even though the sampled range boundaries
are not: as long as the sort key chain is a total order (callers must
pass a tie-breaking key), position = global rank by key regardless of
where the partition cuts landed.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ondemand_dask_spark.operators.checkpoint import retain


def global_row_numbers(
    df: DataFrame,
    *keys: str | Column,
    col_name: str = "pos",
) -> DataFrame:
    """Append 1-based global positions ordered by `keys` (must form a
    total order) without a single-task global window.

    The pid-stamped, locally-numbered frame is held in a lazy
    localCheckpoint before it branches into (a) the per-partition
    count table and (b) the row-number side of the final join: both
    consumers must read ONE materialization of the range exchange.
    Without the pin, correctness would ride on Spark's exchange
    reuse — if the exchange were recomputed, offsets derived from
    one sampled set of range boundaries would be applied to row
    numbers from another, silently corrupting positions.  The
    checkpoint RDD is computed once at first action and shared by
    both plan branches.  The pinned frame is registered with
    `checkpoint.retain`, so its blocks release at the next query
    entry — left to GC they linger, which measurably taxes the NEXT
    query in a bench session.

    r15: local numbering is `monotonically_increasing_id` over the
    sorted partitions, NOT a row_number window partitioned by
    spark_partition_id() — that window's ClusteredDistribution(pid)
    is not satisfied by the range partitioning, so it silently
    re-exchanged the FULL data on pid, re-sorted it, and buffered
    whole partitions in WindowExec; worse, the pid exchange is
    byte-small, so AQE's size-based coalescing collapsed it to ONE
    task (the r15 sf1 quantile profile: 13.6 s of a 14.7 s query in
    a single task, 31 cores idle).  The id is assigned narrowly at
    scan-out of the sorted partition: zero additional exchange, zero
    window buffer.  Spark's contract only promises per-partition
    monotonicity (not consecutiveness), and the documented layout is
    partition_index << 33 | row_index — both properties this
    numbering needs are therefore CHECKED per partition in the
    offsets pass (ids consecutive from pid << 33), which raises
    loudly on any future layout change instead of mis-ranking.
    The range exchange itself carries an EXPLICIT partition count
    (2 × defaultParallelism): `repartitionByRange(*keys)` without a
    number is REPARTITION_BY_COL, which AQE's size-based coalescing
    is free to collapse — and does, to ONE task at byte-small sizes
    (measured at generated sf1: range+sort 11.6 s coalesced vs 1.7 s
    at an explicit 64) — while REPARTITION_BY_NUM is exempt.  Core-
    proportional, so rows/task = data/(2·cores) at any cluster width.
    A/B: the ranged quantile path at generated sf1 dropped 17.1 →
    ~4 s once this fed it (OPTIMIZATION_r15.md, "operators/rank.py
    `global_row_numbers`: two structural defects fixed")."""
    n_parts = 2 * df.sparkSession.sparkContext.defaultParallelism
    ranged = df.repartitionByRange(n_parts, *keys).sortWithinPartitions(
        *keys
    )
    local = ranged.withColumn("__mid", F.monotonically_increasing_id())
    # lazy, not pin: the broadcast offsets build reads it alone first
    local = retain(local.localCheckpoint(eager=False))
    pid = F.shiftright(F.col("__mid"), 33).alias("__ods_pid")
    counts = local.groupBy(pid).agg(
        F.count("*").alias("__cnt"),
        F.min("__mid").alias("__mn"),
        F.max("__mid").alias("__mx"),
    )
    w_off = Window.orderBy("__ods_pid").rowsBetween(
        Window.unboundedPreceding, -1
    )
    layout_ok = (
        (F.col("__mx") - F.col("__mn") + F.lit(1) == F.col("__cnt"))
        & (F.col("__mn") == F.shiftleft(F.col("__ods_pid"), 33))
    )
    offsets = counts.select(
        "__ods_pid",
        F.when(
            layout_ok,
            F.coalesce(F.sum("__cnt").over(w_off), F.lit(0)),
        )
        .otherwise(
            F.raise_error(
                "monotonically_increasing_id layout changed: ids not "
                "consecutive from pid << 33 — fix global_row_numbers"
            ).cast("long")
        )
        .alias("__off"),
    )
    return (
        local.withColumn("__ods_pid", pid)
        .join(F.broadcast(offsets), "__ods_pid")
        .withColumn(
            col_name,
            F.col("__off")
            + F.col("__mid").bitwiseAND(F.lit((1 << 33) - 1))
            + F.lit(1),
        )
        .drop("__ods_pid", "__mid", "__off")
    )


def global_prefix_sums(
    df: DataFrame,
    value_col: str,
    *keys: str | Column,
    pos_col: str = "pos",
    cum_col: str = "cum",
) -> DataFrame:
    """Append 1-based global positions AND the running sum of
    `value_col` in that order — the distributed twin of
    `sum(v) OVER (ORDER BY keys ROWS UNBOUNDED PRECEDING)` plus
    `row_number()`, without a single-task global window.

    Same two-pass shape as `global_row_numbers` (one range exchange,
    shared by both outputs): local row numbers + local running sums
    within each range partition, then per-partition (count, sum)
    totals — a #partitions-row table — cumulated into broadcast
    offsets.  Summation is reassociated across partitions (partial
    sums + offset rather than strictly sequential), which is the
    same reassociation every engine's parallel window aggregation
    performs; callers needing cross-engine float determinism should
    round the addends first, as with any distributed sum."""
    ranged = df.repartitionByRange(*keys).sortWithinPartitions(*keys)
    with_pid = ranged.withColumn("__ods_pid", F.spark_partition_id())
    w_local = Window.partitionBy("__ods_pid").orderBy(*keys)
    w_run = w_local.rowsBetween(Window.unboundedPreceding, 0)
    local = with_pid.withColumn(
        "__rn", F.row_number().over(w_local)
    ).withColumn("__cs", F.sum(value_col).over(w_run))
    # store the range exchange: counts and the final join must read ONE
    # materialization (see global_row_numbers).  Lazy, not pin: the
    # broadcast offsets build reads it alone first.
    local = retain(local.localCheckpoint(eager=False))
    counts = local.groupBy("__ods_pid").agg(
        F.count("*").alias("__cnt"), F.sum(value_col).alias("__sum")
    )
    w_off = Window.orderBy("__ods_pid").rowsBetween(
        Window.unboundedPreceding, -1
    )
    # zero-offset typed as SUM(value_col)'s own result type (LONG for
    # integral, DECIMAL for decimal, DOUBLE for floating) — a literal
    # 0.0 here silently widened integer/decimal running sums to DOUBLE
    # and would lose exactness past 2^53 on an exact-integer cumsum
    zero_off = F.lit(0).cast(counts.schema["__sum"].dataType)
    offsets = counts.select(
        "__ods_pid",
        F.coalesce(F.sum("__cnt").over(w_off), F.lit(0)).alias("__coff"),
        F.coalesce(F.sum("__sum").over(w_off), zero_off).alias("__soff"),
    )
    return (
        local.join(F.broadcast(offsets), "__ods_pid")
        .withColumn(pos_col, F.col("__coff") + F.col("__rn"))
        .withColumn(cum_col, F.col("__soff") + F.col("__cs"))
        .drop("__ods_pid", "__rn", "__cs", "__coff", "__soff")
    )


def global_min_ranks(
    df: DataFrame,
    value_col: str,
    tiebreak: str | Column,
    col_name: str = "rnk",
) -> DataFrame:
    """Append `rank() OVER (ORDER BY value_col)` — ties share their
    MIN position — without a single-task global window.

    Shape: total-order positions via `global_row_numbers` on
    (value_col, tiebreak), then rank = min(position) within each
    distinct value via a window PARTITIONED BY the value (a
    key-partitioned shuffle, never a global one).  Every exchange in
    the plan is keyed, so the operator runs at full parallelism on
    data-sized inputs; the worst case is value-skew (one dominant
    value), which AQE's skew handling splits.  `tiebreak` must make
    (value_col, tiebreak) a total order or positions are
    nondeterministic."""
    numbered = global_row_numbers(
        df, value_col, tiebreak, col_name="__pos"
    )
    w_val = Window.partitionBy(value_col)
    return numbered.withColumn(
        col_name, F.min("__pos").over(w_val)
    ).drop("__pos")


def global_prefix_min(
    df: DataFrame,
    value_col: str,
    *keys: str | Column,
    col_name: str = "pmin",
) -> DataFrame:
    """Append the running minimum of `value_col` over all STRICT
    predecessors in the total order given by `keys` — the distributed
    twin of `min(v) OVER (ORDER BY keys ROWS BETWEEN UNBOUNDED
    PRECEDING AND 1 PRECEDING)` without a single-task global window
    (NULL for the global first row, like the window form).

    Same two-pass shape as `global_prefix_sums` (one range exchange):
    a strict local running min within each range partition, then a
    #partitions-row table of per-partition minima cumulated into
    strict-predecessor offsets and broadcast back; the final value is
    `least(local, offset)` with NULL-as-identity.  min is associative
    and order-insensitive, so unlike the sum variant there is no
    reassociation caveat — the result is bitwise identical to the
    sequential window (tools/probe_prefix_min.py: 0 mismatches on 1M
    sampled of 50M rows; crossover vs the single-task window at
    ~tens of millions of rows locally — 46.3 s vs 61.5 s at 50M —
    and the single-task form cannot run at all at cluster scale)."""
    ranged = df.repartitionByRange(*keys).sortWithinPartitions(*keys)
    with_pid = ranged.withColumn("__ods_pid", F.spark_partition_id())
    w_strict = (
        Window.partitionBy("__ods_pid")
        .orderBy(*keys)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    local = with_pid.withColumn(
        "__lm", F.min(value_col).over(w_strict)
    )
    # store the range exchange: the per-partition min table and the
    # final join must read ONE materialization (see global_row_numbers).
    # Lazy, not pin: the broadcast offsets build reads it alone first.
    local = retain(local.localCheckpoint(eager=False))
    mins = local.groupBy("__ods_pid").agg(F.min(value_col).alias("__pm"))
    w_off = Window.orderBy("__ods_pid").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = mins.select(
        "__ods_pid", F.min("__pm").over(w_off).alias("__off")
    )
    return (
        local.join(F.broadcast(offsets), "__ods_pid")
        .withColumn(col_name, F.least("__lm", "__off"))
        .drop("__ods_pid", "__lm", "__off")
    )
