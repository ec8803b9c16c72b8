"""Connected components: large-star/small-star contraction and
min-label propagation.

`connected_components_star` is the reusable operator behind
`dedup_cc_star_contraction` (see that query's docstring for the
algorithm account; Kiveris et al., "Connected Components in MapReduce
and Beyond"); `connected_components_minlabel` is the one behind
`dedup_connected_components`.  Both are exposed separately so
arbitrary edge sets — not just the minhash pair graph — can use them,
and so property tests can drive them over adversarial topologies
(chains, where min-label propagation needs O(n) rounds).

Round structure: each large-star and small-star step is one
groupBy(min) plus one equi-join — two exchanges — and every round's
result is `localCheckpoint`ed so the plan stays constant-size, with
superseded round blocks released eagerly through
`release_local_checkpoint` (a plain `unpersist()` is a no-op on
checkpoint blocks — see operators/checkpoint.py).  Convergence is
detected from a two-scalar (count, hash-sum) edge-set checksum; the
driver never sees data rows; exhausting `max_rounds` without
reaching the fixpoint RAISES rather than returning a silently
non-star (wrong) labeling.  Min-label propagation keeps the same
discipline: one checkpoint per round, a scalar changed-count probe,
and a raise when its round budget runs out before the fixpoint.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ondemand_dask_spark.operators.checkpoint import release_local_checkpoint


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
    stats: dict | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Labels for the graph `edges[(src, dst)]` by star contraction.

    Returns (labels, star_edges): labels is (node, cluster_id) over
    every node incident to a non-loop edge, cluster_id = component
    minimum; star_edges is the converged (a → component-min) edge set
    whose checkpoint blocks labels' plan reads — the CALLER owns its
    lifetime (release via release_local_checkpoint after the labels
    materialize; plain unpersist() is a no-op on checkpoint blocks).  At the
    fixpoint every non-min node appears exactly once on the `a` side
    and every component min on the `b` side, so labels read straight
    off the stars with no join.  Self-loops are dropped; a node with
    ONLY self-loop edges does not appear (matches the pair-graph
    semantics where pairs are strict a < b)."""
    e0 = edges.select(
        F.greatest(F.col(src), F.col(dst)).alias("a"),
        F.least(F.col(src), F.col(dst)).alias("b"),
    ).where(F.col(src) != F.col(dst))
    cur_edges = e0.distinct().localCheckpoint()
    prev = _checksum(cur_edges)
    rounds = 0
    converged = False
    while rounds < max_rounds:
        # one contraction per checkpoint + checksum: the finest
        # convergence granularity.  Batching several contractions per
        # checkpoint was A/B'd on dedup_connected_components at sf0.1
        # (r8, one warm session: 1, 2, 3 per checkpoint → 2.36, 2.36,
        # 2.57 s best-of-4) and is a wash — the pair-graph build, not
        # per-round job overhead, dominates.
        new_edges = _small_star(_large_star(cur_edges)).localCheckpoint()
        cur = _checksum(new_edges)
        release_local_checkpoint(cur_edges)
        cur_edges = new_edges
        rounds += 1
        if cur == prev:
            converged = True
            break
        prev = cur
    if stats is not None:
        stats["rounds"] = rounds
    if not converged:
        raise RuntimeError(
            f"star contraction did not converge within {max_rounds} "
            "contractions (rounds needed grow ~log2(n); raise "
            "max_rounds)"
        )
    labels = cur_edges.select(
        F.col("a").alias("node"), F.col("b").alias("cluster_id")
    ).unionByName(
        cur_edges.select(
            F.col("b").alias("node"), F.col("b").alias("cluster_id")
        ).distinct()
    )
    return labels, cur_edges


def connected_components_minlabel(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_rounds: int = 10,
    stats: dict | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Labels for the graph `edges[(src, dst)]` by min-label
    propagation: each round every node takes the minimum label among
    itself and its neighbours, until no label drops.

    Returns (labels, handle): labels is (node, cluster_id) over every
    node incident to an edge, cluster_id = component minimum; handle
    is the final round's checkpoint, whose blocks labels' plan reads —
    the CALLER owns its lifetime (release via
    release_local_checkpoint once the labels materialize).

    `max_rounds` budgets label-update rounds, round 1 included; a
    fixpoint shows as a round that changes no label, so a component
    of diameter d needs d + 1 rounds.  Exhausting the budget RAISES
    rather than returning unconverged labels.

    Round 1 is folded into the edge build: every label starts as the
    node itself, so it is least(node, min neighbour) straight off the
    symmetric edges, and it always changes a label when an edge joins
    two distinct nodes — no identity-label frame and no probe."""
    both_ways = F.array(
        F.struct(F.col(src).alias("src"), F.col(dst).alias("dst")),
        F.struct(F.col(dst).alias("src"), F.col(src).alias("dst")),
    )
    sym = (
        edges.select(F.explode(both_ways).alias("e"))
        .select("e.src", "e.dst")
        .localCheckpoint()
    )
    ckpt = (
        sym.groupBy("src")
        .agg(F.least(F.col("src"), F.min("dst")).alias("lbl"))
        .select(F.col("src").alias("node"), "lbl")
        .localCheckpoint()
    )
    rounds = 1
    converged = False
    while rounds < max_rounds:
        labels = ckpt.select("node", "lbl")
        # The probe CARRIES the previous label through the min-aggregate
        # (own rows tag it, neighbour rows contribute NULL, max()
        # recovers it — each node owns exactly one row), so `changed`
        # filters the fresh checkpoint instead of joining it back
        # against the previous round.
        prop = sym.join(labels, sym["src"] == F.col("node")).select(
            F.col("dst").alias("node"), F.col("lbl").alias("cand")
        )
        own = labels.select(
            "node", F.col("lbl").alias("cand"), F.col("lbl").alias("old")
        )
        new_ckpt = (
            own.unionByName(prop.withColumn("old", F.lit(None).cast("long")))
            .groupBy("node")
            .agg(F.min("cand").alias("lbl"), F.max("old").alias("old"))
            .localCheckpoint()
        )
        changed = new_ckpt.filter(F.col("lbl") < F.col("old")).count()
        rounds += 1
        # each localCheckpoint is eager: the superseded round's blocks
        # are released as soon as the new round's exist
        release_local_checkpoint(ckpt)
        ckpt = new_ckpt
        if changed == 0:
            converged = True
            break
    release_local_checkpoint(sym)
    if stats is not None:
        stats["rounds"] = rounds
    if not converged:
        release_local_checkpoint(ckpt)
        raise RuntimeError(
            f"min-label propagation did not converge within {max_rounds} "
            "rounds (rounds needed = component diameter + 1; raise "
            "max_rounds or use connected_components_star)"
        )
    return ckpt.select("node", F.col("lbl").alias("cluster_id")), ckpt
