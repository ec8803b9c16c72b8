"""Connected components (large-star/small-star contraction and
min-label propagation) and `fixpoint`, the checkpointed iteration
they and the k-core peel share.

`connected_components_star` is the reusable operator behind
`dedup_cc_star_contraction` (see that query's docstring for the
algorithm account; Kiveris et al., "Connected Components in MapReduce
and Beyond"); `connected_components_minlabel` is the one behind
`dedup_connected_components`.  Both are exposed separately so
arbitrary edge sets — not just the minhash pair graph — can use them,
and so property tests can drive them over adversarial topologies
(chains, where min-label propagation needs O(n) rounds).

Round structure: `fixpoint` `localCheckpoint`s every round's result
so the plan stays constant-size, probes it for one scalar (the driver
never sees data rows), and releases the superseded round's blocks
eagerly through `release_local_checkpoint` (a plain `unpersist()` is
a no-op on checkpoint blocks — see operators/checkpoint.py).  The
final round is `retain`ed, so the lazy result each operator returns
stays readable until the next query entry.  Exhausting the round
budget releases the last round and RAISES rather than returning a
silently unconverged (wrong) answer.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ondemand_dask_spark.operators.checkpoint import (
    release_local_checkpoint,
    retain,
)


def fixpoint(
    df: DataFrame,
    step: Callable[[DataFrame], DataFrame],
    probe: Callable[[DataFrame], object],
    max_rounds: int,
    what: str,
) -> DataFrame:
    """Iterate `step` from `df` until `probe` repeats; the final round.

    `df` is checkpointed and probed first; each round then checkpoints
    `step(cur)`, probes it and releases the superseded round.  A
    repeated probe value must mean `step` changed nothing (an edge
    checksum, or a count or sum that only moves one way while the
    frame changes).  The returned frame is `retain`ed
    until the next query entry.  When `max_rounds` rounds pass without
    a repeat, the last round is released and RuntimeError names `what`
    and the budget."""
    cur = df.localCheckpoint()
    prev = probe(cur)
    for _ in range(max_rounds):
        nxt = step(cur).localCheckpoint()
        val = probe(nxt)
        release_local_checkpoint(cur)
        cur = nxt
        if val == prev:
            return retain(cur)
        prev = val
    release_local_checkpoint(cur)
    raise RuntimeError(
        f"{what} did not converge within {max_rounds} rounds; raise its "
        "round budget"
    )


def _checksum(e: DataFrame) -> tuple:
    row = e.agg(
        F.count("*").alias("c"),
        F.coalesce(
            F.sum(F.pmod(F.xxhash64("a", "b"), F.lit(1_000_000_007))),
            F.lit(0),
        ).alias("s"),
    ).first()
    return (row["c"], row["s"])


def _large_star(e: DataFrame) -> DataFrame:
    sym = e.select(F.col("a").alias("u"), F.col("b").alias("v")).unionByName(
        e.select(F.col("b").alias("u"), F.col("a").alias("v"))
    )
    m = (
        sym.groupBy("u")
        .agg(F.min("v").alias("mn"))
        .select("u", F.least("mn", "u").alias("m"))
    )
    return (
        sym.join(m, "u")
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("a"), F.col("m").alias("b"))
        .distinct()
    )


def _small_star(e: DataFrame) -> DataFrame:
    # precondition: a > b for every edge (large-star output)
    m = e.groupBy("a").agg(F.min("b").alias("m"))
    j = e.join(m, "a")
    return (
        j.where(F.col("b") != F.col("m"))
        .select(F.col("b").alias("a"), F.col("m").alias("b"))
        .unionByName(m.select("a", F.col("m").alias("b")))
        .distinct()
    )


def connected_components_star(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_rounds: int = 32,
) -> DataFrame:
    """Labels (node, cluster_id) for the graph `edges[(src, dst)]` by
    star contraction, over every node incident to a non-loop edge;
    cluster_id = component minimum.

    Each round is one large-star + small-star contraction, and the
    fixpoint shows as an unchanged two-scalar (count, hash-sum) edge
    checksum.  `max_rounds` budgets contractions (rounds needed grow
    ~log2(n)); exhausting it RAISES rather than returning a non-star
    (wrong) labeling.  At the fixpoint every non-min node appears
    exactly once on the `a` side and every component min on the `b`
    side, so labels read straight off the converged stars, whose
    checkpoint is retained until the next query entry.  Self-loops
    are dropped; a node with ONLY self-loop edges does not appear
    (matches the pair-graph semantics where pairs are strict a < b).

    One contraction per checkpoint + checksum is the finest
    convergence granularity.  Batching several contractions per
    checkpoint was A/B'd on dedup_connected_components at sf0.1 (r8,
    one warm session: 1, 2, 3 per checkpoint → 2.36, 2.36, 2.57 s
    best-of-4) and is a wash — the pair-graph build, not per-round job
    overhead, dominates."""
    e0 = edges.select(
        F.greatest(F.col(src), F.col(dst)).alias("a"),
        F.least(F.col(src), F.col(dst)).alias("b"),
    ).where(F.col(src) != F.col(dst))
    stars = fixpoint(
        e0.distinct(),
        lambda e: _small_star(_large_star(e)),
        _checksum,
        max_rounds,
        "star contraction",
    )
    return stars.select(
        F.col("a").alias("node"), F.col("b").alias("cluster_id")
    ).unionByName(
        stars.select(
            F.col("b").alias("node"), F.col("b").alias("cluster_id")
        ).distinct()
    )


def _label_sum(labels: DataFrame):
    # exact: 38 digits hold any sum of 64-bit labels
    return labels.agg(
        F.sum(F.col("lbl").cast("decimal(38,0)")).alias("s")
    ).first()["s"]


def connected_components_minlabel(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_rounds: int = 10,
) -> DataFrame:
    """Labels (node, cluster_id) for the graph `edges[(src, dst)]` by
    min-label propagation, over every node incident to an edge;
    cluster_id = component minimum.  Each round every node takes the
    minimum label among itself and its neighbours, until no label
    drops; the final round's checkpoint is retained until the next
    query entry.

    `max_rounds` budgets label-update rounds, round 1 included; a
    fixpoint shows as a round that changes no label, so a component
    of diameter d needs d + 1 rounds.  Exhausting the budget RAISES
    rather than returning unconverged labels.

    Round 1 is folded into the edge build: every label starts as the
    node itself, so it is least(node, min neighbour) straight off the
    symmetric edges — no identity-label frame.  Labels only fall, so
    their exact sum repeats exactly when a round changed no label:
    that sum is the convergence probe."""
    both_ways = F.array(
        F.struct(F.col(src).alias("src"), F.col(dst).alias("dst")),
        F.struct(F.col(dst).alias("src"), F.col(src).alias("dst")),
    )
    sym = (
        edges.select(F.explode(both_ways).alias("e"))
        .select("e.src", "e.dst")
        .localCheckpoint()
    )
    round1 = (
        sym.groupBy("src")
        .agg(F.least(F.col("src"), F.min("dst")).alias("lbl"))
        .select(F.col("src").alias("node"), "lbl")
    )

    def step(labels: DataFrame) -> DataFrame:
        prop = sym.join(labels, sym["src"] == F.col("node")).select(
            F.col("dst").alias("node"), F.col("lbl").alias("cand")
        )
        return (
            labels.select("node", F.col("lbl").alias("cand"))
            .unionByName(prop)
            .groupBy("node")
            .agg(F.min("cand").alias("lbl"))
        )

    try:
        labels = fixpoint(
            round1,
            step,
            _label_sum,
            max_rounds - 1,
            f"min-label propagation after its folded round 1 "
            f"(max_rounds={max_rounds})",
        )
    finally:
        release_local_checkpoint(sym)
    return labels.select("node", F.col("lbl").alias("cluster_id"))
