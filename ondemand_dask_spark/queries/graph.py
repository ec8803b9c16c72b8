"""Graph analytics over a relationally-derived edge set.

Training corpora and catalog data hide graphs: near-dup pairs form a
similarity graph, co-occurrence forms an affinity graph.  These
queries build the classic *co-purchase graph* — parts are adjacent
when they appear in the same order (a lineitem self-join on
`l_orderkey`) — and run the two canonical whole-graph analyses on it:
triangle census and PageRank.

Scale design:

- the EDGE BUILD's per-order fan-out is quadratic in order size, but
  order size is bounded by the data model (TPC-H ≤ 7 items; fixture
  ≤ 13), so the self-join emits ≤ C(13,2) pairs per order — a narrow,
  bounded expansion, shuffled once on the canonical (src, dst) pair
  for the distinct;
- TRIANGLES use degree-ordered orientation (the compact-forward /
  Schank-Wagner trick): every edge points from the lower-(degree, id)
  endpoint to the higher, so a hub of degree d contributes wedges
  only through its ≤ O(sqrt(m)) higher-ranked neighbors and the wedge
  join is bounded by O(m^1.5) globally instead of sum(d²) — the
  difference between a feasible and an impossible join on a
  power-law graph at 100 TB.  The degree→rank map is |V| rows and
  broadcast onto the edge list; the only data-sized shuffles are the
  wedge self-join on the pivot node and the closing-edge equi-join;
- PAGERANK runs a fixed 3 unrolled iterations: each is one join
  (labels onto out-edges) + one groupBy(dst) partial-agg sum — the
  Pregel superstep as two exchanges, no driver-side state beyond the
  plan.  The graph is symmetric so every node has out-degree ≥ 1 and
  no dangling-mass correction is needed.  Unrolling keeps the whole
  computation one lazy plan (3 iterations ⇒ depth 6 — well under
  the lineage-blowup threshold where the iterative queries here
  switch to per-round `localCheckpoint`, see dedup_connected_
  components).

Determinism: ranks break degree ties by node id; PageRank emits
values scaled by |V| (mean 1.0) rounded like every float family in
this repo, so the DuckDB differential check is exact.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ondemand_dask_spark.io import load_table
from ondemand_dask_spark.operators.checkpoint import pin, retain
from ondemand_dask_spark.registry import register

_R = 4

# DuckDB twin of the canonical co-purchase edge list: distinct
# unordered part pairs sharing an order, stored as (src < dst).
_EDGES_SQL = """
    SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
    FROM lineitem a
    JOIN lineitem b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
"""


def _edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct co-purchase edges (src < dst).

    The self-join is explicitly repartitioned on the join key first:
    a parquet scan of this table arrives in a handful of splits, and
    without the exchange the pair-exploding probe runs at scan
    parallelism (AQE broadcasts the 2-column build side).  Forcing
    both sides onto a shared hash partitioning makes the join
    co-partitioned at cluster width — and at 100 TB it is also the
    only viable shape, since neither side of a fact-fact self-join
    broadcasts.  Measured at sf0.1: 2.8 s → 1.4 s warm.  r5 A/B
    (commit a444ab0, one warm session, best-of-3) also rejected
    the groupBy-collect_set + codegen pair-expansion alternative:
    1.41 s self-join vs 2.92 s collect — the wide per-order arrays
    cost more than the co-partitioned probe saves."""
    li = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .repartition(spark.sparkContext.defaultParallelism, "l_orderkey")
    )
    a = li.alias("a")
    b = li.alias("b")
    return (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .select(
            F.col("a.l_partkey").alias("src"), F.col("b.l_partkey").alias("dst")
        )
        .distinct()
    )


def _sym(edges: DataFrame) -> DataFrame:
    """Symmetrize canonical edges into both directions (u, v).

    One explode over a 2-struct array instead of a self-union: the
    union form evaluates the EDGE-BUILD LINEAGE once per leg whenever
    the input is unpinned (AQE defers exchange reuse to runtime and
    the bench plans showed both legs' self-join + distinct subtrees
    materialized separately), while the explode form is a narrow op
    over one pass of the build.  Same row multiset — (src,dst) pairs
    are distinct and src<dst, so the two emitted directions cannot
    collide.  r14 A/B (OPTIMIZATION_r14.md "graph: `_sym`
    symmetrization", one warm session, interleaved best-of-3 at sf0.1): pagerank 6.01 s union-sym vs
    5.08 s explode-sym with iterations unchanged."""
    return edges.select(
        F.explode(
            F.array(
                F.struct(F.col("src").alias("u"), F.col("dst").alias("v")),
                F.struct(F.col("dst").alias("u"), F.col("src").alias("v")),
            )
        ).alias("e")
    ).select("e.u", "e.v")


# The broadcast-|V| contract (r14 verdict item 7 → r15).  The
# iterative graph queries broadcast node-keyed vectors (rank/degree,
# BFS distance, LPA labels, triangle adjacency) whose row count is
# |V| — dimension-sized by this repo's data model (the part catalog).
# The docstrings document a keyed-join fallback for billion-node
# graphs; this helper turns that prose into a checked boundary: under
# SPARK_GRAFT_CHECK_BROADCAST=1 (or check=True — the test path) the
# frame is counted and a |V| above the bound raises instead of
# attempting a broadcast that would OOM the driver.  Production runs
# pay nothing (the check is off by default; Spark's own 8 GB /
# 512M-row broadcast cap remains the hard backstop).
_BROADCAST_V_BOUND = 100_000_000


def _broadcast_vec(df: DataFrame, what: str, check: bool | None = None):
    if check is None:
        check = os.environ.get("SPARK_GRAFT_CHECK_BROADCAST") == "1"
    if check:
        n = df.count()
        if n > _BROADCAST_V_BOUND:
            raise ValueError(
                f"{what}: broadcast side has {n} rows > "
                f"_BROADCAST_V_BOUND={_BROADCAST_V_BOUND}; this graph's "
                "|V| is not dimension-sized — use the keyed-join "
                "fallback documented on the query"
            )
    return F.broadcast(df)


@register(
    "graph_triangle_count",
    scale_class="certificate",  # the EXACT census: linear in wedge
    # work (α 0.90 at the bound) but 49.0 s at sf1 vs the DOULION
    # twin's 21.5 s with 1/p³ scaling — at a 100×-census scale the
    # estimator is the path, the exact census is its certificate
    # (r12 verdict item 2).  Stays registered + sf0.01-gated;
    # excluded from HEADLINE / sweeps above sf0.1 by
    # tests/test_scale_class.py.
    twin="graph_triangle_count_estimate",
    oracle=f"""
    WITH e AS ({_EDGES_SQL}),
    sym AS (
      SELECT src AS u, dst AS v FROM e
      UNION ALL SELECT dst, src FROM e
    ),
    deg AS (SELECT u AS node, count(*) AS d FROM sym GROUP BY u),
    rnk AS (
      SELECT node, row_number() OVER (ORDER BY d, node) AS r FROM deg
    ),
    oriented AS (
      SELECT CASE WHEN ru.r < rv.r THEN s.src ELSE s.dst END AS lo,
             CASE WHEN ru.r < rv.r THEN s.dst ELSE s.src END AS hi
      FROM e s
      JOIN rnk ru ON ru.node = s.src
      JOIN rnk rv ON rv.node = s.dst
    ),
    wedge AS (
      SELECT e1.lo AS u, e1.hi AS v, e2.hi AS w
      FROM oriented e1
      JOIN oriented e2 ON e1.lo = e2.lo
      JOIN rnk rv ON rv.node = e1.hi
      JOIN rnk rw ON rw.node = e2.hi
      WHERE rv.r < rw.r
    ),
    tri AS (
      SELECT wedge.u, wedge.v, wedge.w
      FROM wedge JOIN oriented c ON c.lo = wedge.v AND c.hi = wedge.w
    )
    SELECT node AS part_id, count(*) AS n_triangles
    FROM (
      SELECT u AS node FROM tri
      UNION ALL SELECT v FROM tri
      UNION ALL SELECT w FROM tri
    )
    GROUP BY node
    """,
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle census of the co-purchase graph — the
    clustering/community signal behind recommendation features and
    spam detection.  Compact-forward by ADJACENCY INTERSECTION:

    1. orient every edge from the lower-(degree, id) endpoint to the
       higher (the rank map is |V| rows and rides a broadcast, so
       orientation costs no shuffle);
    2. build per-node out-adjacency arrays — degree ordering bounds
       out-degree at O(sqrt(m)), so no array can be pathological
       even on a power-law hub;
    3. for each edge (a→b), triangles through it are exactly
       adj(a) ∩ adj(b) — two equi-joins to attach the arrays, then a
       codegen'd `array_intersect` + explode.

    The naive alternative materializes every wedge and joins it
    against the edge set — at sf0.1 that is a 41 M-row shuffle; the
    intersection form shuffles only edges + |V| adjacency rows
    (1.2 M + 20 k) and was measured 4× faster.  The oracle keeps the
    wedge-join formulation as the semantic spec — same census,
    different physical strategy.  Degree ranks come from the
    two-phase distributed rank (`global_row_numbers`) so the graph
    family has zero single-task stages even at data-sized |V| — the
    (d, node) chain is a total order, so the numbering is identical
    to the window form the oracle runs."""
    from ondemand_dask_spark.operators.rank import global_row_numbers

    edges = pin(_edges(spark, sf_dir))
    sym = _sym(edges)
    deg = sym.groupBy(F.col("u").alias("node")).agg(F.count("*").alias("d"))
    rnk = global_row_numbers(
        deg, "d", "node", col_name="r"
    ).select("node", "r")
    # rank map is |V| rows → broadcast; canonical edges then orient
    # from lower rank to higher with zero additional exchanges.
    ru = F.broadcast(rnk).alias("ru")
    rv = F.broadcast(rnk).alias("rv")
    oriented = (
        edges.alias("s")
        .join(ru, F.col("ru.node") == F.col("s.src"))
        .join(rv, F.col("rv.node") == F.col("s.dst"))
        .select(
            F.when(F.col("ru.r") < F.col("rv.r"), F.col("s.src"))
            .otherwise(F.col("s.dst"))
            .alias("lo"),
            F.when(F.col("ru.r") < F.col("rv.r"), F.col("s.dst"))
            .otherwise(F.col("s.src"))
            .alias("hi"),
        )
    )
    # Both pins are eager: left lazy, the census job fills them
    # mid-flight across its three consuming branches, and whether the
    # branches hit warm blocks or recompute the lineage is a scheduler
    # accident — measured BIMODAL at sf0.1: ~5 s when the reuse wins,
    # ~19-20 s (4x) when it doesn't (8 runs: 5 fast / 3 slow).
    return _intersection_census(pin(oriented))


def _intersection_census(
    oriented: DataFrame,
    value_col: str = "n_triangles",
    scale: float | None = None,
) -> DataFrame:
    """Per-node triangle census over degree-oriented edges — the ONE
    implementation of the compact-forward intersect, shared by the
    exact query and the sampled estimator (`scale` divides every
    count, the estimator's 1/p³ unbiasing).

    Per-edge (lo, hi) with intersection W, the |W| triangles
    (lo, hi, w) contribute |W| to lo, |W| to hi, and 1 to each w.
    Emitting those contributions as ONE struct array + ONE explode
    makes the census a single declared pass over the expensive
    intersect.  (The previous 3-way union of tri.select(u/v/w) was
    mostly rescued by ReuseExchange, so the measured win is modest
    — 6.00 s → 5.49 s at sf0.1, one warm session, best-of-3 — but
    the explode now moves ~8M narrow rows instead of 17M and the
    plan no longer depends on exchange reuse for its asymptotics.
    Phase profile pins the remaining cost where it belongs: the
    two adjacency-attach joins + array_intersect are ~6 s of the
    query alone — the intrinsic compute, not a plan artifact.
    r9 A/B of that intrinsic cost (commit d0c5800 and SURVEY.md's
    round-9 account; exclusive sf0.1, interleaved best-of-3,
    identical 20k-row census checked first): the challenger —
    explode adj(lo) into (lo, hi, w) wedge rows and sort-merge them
    against the oriented edge set on (hi, w) — measured 8.97 s vs this form's 6.49 s (+38%):
    the wedge rows pay a shuffle of sum-over-edges outdeg(lo)
    rows for the same membership tests the in-row intersection
    does inside one fused stage.  REJECTED; same discipline as
    the LPA-rewrite-on-pagerank rejection below.)"""
    # The adjacency table is |V| rows with O(sqrt(m))-bounded arrays
    # (degree orientation caps out-degree), i.e. ~|E| longs total —
    # broadcast-sized wherever |V| is dimension-sized (the co-purchase
    # graph's |V| is the part catalog; the exact census is certificate
    # class ≤ sf0.1 by registry).  Explicit hint: the initial plan
    # otherwise stages both attaches as SortMergeJoins — Exchange +
    # Sort of the oriented edges twice — and leaves the conversion to
    # AQE's runtime estimate.  r14 A/B (interleaved best-of-3, sf0.1,
    # p=0.3 estimator): broadcast-adj + eager-pinned oriented 3.47 s
    # vs 4.36 s declarative (−20%); billion-node graphs drop the hint
    # and return to the keyed join.
    adj = _broadcast_vec(
        oriented.groupBy(F.col("lo").alias("node")).agg(
            F.collect_list("hi").alias("nbrs")
        ),
        "graph_triangle adjacency",
    )
    inter = F.array_intersect("na", "nb")
    cnt = F.size(inter)
    contribs = (
        oriented.join(
            adj.select(F.col("node").alias("lo"), F.col("nbrs").alias("na")),
            "lo",
        )
        .join(
            adj.select(F.col("node").alias("hi"), F.col("nbrs").alias("nb")),
            "hi",
        )
        .filter(cnt > 0)
        .select(
            F.explode(
                F.concat(
                    F.array(
                        F.struct(F.col("lo").alias("node"), cnt.alias("c")),
                        F.struct(F.col("hi").alias("node"), cnt.alias("c")),
                    ),
                    F.transform(
                        inter,
                        lambda w: F.struct(
                            w.alias("node"), F.lit(1).alias("c")
                        ),
                    ),
                )
            ).alias("t")
        )
    )
    total = F.sum("t.c")
    if scale is not None:
        total = total / F.lit(scale)
    return (
        contribs.groupBy(F.col("t.node").alias("node"))
        .agg(total.alias(value_col))
        .select(F.col("node").alias("part_id"), value_col)
    )


def triangle_count_estimate(
    spark: SparkSession,
    sf_dir: str,
    p: float = 0.3,
    seed: int = 7,
) -> DataFrame:
    """DOULION-style edge-sampled per-node triangle ESTIMATE —
    (part_id, n_triangles_est) — the 100 TB escape hatch for a user
    who wants the census SHAPE, not the exact count.

    Each canonical edge survives with probability p via a
    DETERMINISTIC hash coin (xxhash64(src, dst, seed) — partition-
    order independent, so the estimate is reproducible), the exact
    compact-forward intersection census runs on the sparsified graph,
    and every contribution scales by 1/p³ (a triangle survives iff
    all three of its edges do, so the per-node estimator is
    unbiased: E[est] = exact).  Published variance bound (DOULION,
    Tsourakakis et al., KDD'09): Var[T_est] ≤ T·(1/p³ − 1) plus a
    shared-edge covariance term, so the global relative error decays
    as ~sqrt((1/p³ − 1)/T) — sub-1% already at the sf0.01 census
    (T ≈ 414k, p = 0.3); tests/test_triangle_estimate.py certifies
    ≤5% observed global error there against the exact query, plus
    seed-determinism and unbiasedness across seeds.  Work scales as
    p·m edges and ~p^1.5·Σwedges for the intersection — at p = 0.1
    that is ~30× less intersect work than the exact census.
    Measured at sf0.1 (one warm session, interleaved best-of-3):
    p = 0.3 → 4.7 s at 0.66% global error, p = 0.1 → 3.4 s at
    0.82%, vs 27.3 s for the exact census in the SAME pressured
    session (its isolated-protocol figure is 5.76 s — the
    session-local gap is cache pressure, so read the conservative
    ratio as ≥1.7× at p = 0.1 and the pressured one as ~8×).

    DECISION (r10 verdict item 7): the EXACT census stays the
    registered query (`graph_triangle_count`).  Its α = 0.94 at the
    measured sf0.1/0.3/1 ladder IS the linear-work wedge-check lower
    bound — algorithmically honest, just the engine's most expensive
    family — and the r9 wedge-join challenger A/B already lost to
    the in-row intersection (8.97 s vs 6.49 s at sf0.1).  This
    estimator is the documented approximate twin for corpora where
    45 s/sf1-equivalent exact cost is unacceptable.  Registered in
    r12 as `graph_triangle_count_estimate` (rows-only — the hash
    coin is not DuckDB-expressible) now that certification is
    closed; its correctness contract is the 4-test tolerance
    certificate in tests/test_triangle_estimate.py against the
    oracle-checked exact twin, the HLL/sketch precedent."""
    if not 0.0 < p <= 1.0:
        # p=3 ("percent"?) would keep every edge but divide by 27 —
        # a silently 27×-low answer; fail loudly instead
        raise ValueError(f"sampling rate p must be in (0, 1], got {p}")
    # round, not floor: int() truncation lost one part-per-million of
    # sample mass on non-representable p; and a p so small the coin
    # threshold rounds to 0 would sample NOTHING yet "succeed" with an
    # empty estimate (ADVICE r11)
    threshold = round(p * 1_000_000)
    if threshold == 0:
        raise ValueError(
            f"sampling rate p={p} rounds to a zero coin threshold "
            "(< 5e-7) — no edge could survive; use a larger p"
        )
    from ondemand_dask_spark.operators.rank import global_row_numbers

    edges = _edges(spark, sf_dir).filter(
        F.pmod(F.xxhash64("src", "dst", F.lit(seed)), F.lit(1_000_000))
        < F.lit(threshold)
    )
    sym = _sym(edges)
    deg = sym.groupBy(F.col("u").alias("node")).agg(F.count("*").alias("d"))
    rnk = global_row_numbers(
        deg, "d", "node", col_name="r"
    ).select("node", "r")
    ru = F.broadcast(rnk).alias("ru")
    rv = F.broadcast(rnk).alias("rv")
    oriented = (
        edges.alias("s")
        .join(ru, F.col("ru.node") == F.col("s.src"))
        .join(rv, F.col("rv.node") == F.col("s.dst"))
        .select(
            F.when(F.col("ru.r") < F.col("rv.r"), F.col("s.src"))
            .otherwise(F.col("s.dst"))
            .alias("lo"),
            F.when(F.col("ru.r") < F.col("rv.r"), F.col("s.dst"))
            .otherwise(F.col("s.src"))
            .alias("hi"),
        )
    )
    # r14 re-A/B of the storage choreography: the r12 A/B (unpinned
    # 4.7 s vs 6.6 s with the exact census' edges+oriented eager
    # double-pin) rejected storing anything — but pinning ONLY oriented
    # is a different trade: the census consumes oriented from three
    # plan branches (adjacency build + two attach probes), and with the
    # explode-based _sym the lineage behind it is one pass, so one
    # eager pin of the p-scaled edge set replaces three re-executions.
    # Interleaved best-of-3 at sf0.1, p=0.3: oriented-pinned 3.90 s,
    # +broadcast-adj 3.47 s, vs 4.36 s unpinned (−20%).
    return _intersection_census(
        pin(oriented), value_col="n_triangles_est", scale=p**3
    )


@register(
    "graph_triangle_count_estimate",
    twin="graph_triangle_count",
    oracle=None,  # hash-coin sampling isn't DuckDB-expressible;
    # certified against the exact oracle-checked twin
    # (graph_triangle_count) by tests/test_triangle_estimate.py:
    # ≤5% global error at p=0.3, seed-determinism, cross-seed
    # unbiasedness — the stat_freq_items/HLL rows-only precedent
)
def graph_triangle_count_estimate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Registered entry for the DOULION edge-sampled triangle
    estimate at the certified defaults (p=0.3, seed=7) — the
    100 TB census-shape path: ~p·m sampled edges, ~p^1.5 of the
    exact intersect work, every per-node contribution scaled 1/p³
    (unbiased).  See triangle_count_estimate above for the full
    design, variance bound, and measured A/B numbers.

    CROSSOVER vs the exact census (r12 verdict item 7, two measured
    points): at sf0.1 the margin is thin — estimator 4.00 s vs the
    exact's 5.61 s isolated best (1.4×), because session/scan fixed
    overhead dominates both and the sampling pre-pass isn't free —
    while at sf1 it is 21.5 s vs 49.0 s (2.3×) and widening, since
    the saved intersect work grows with the wedge count.
    Extrapolating the two points: below roughly sf0.05 on this
    fixture the two are within noise of each other and the exact
    census (which also certifies the estimator) is the sensible
    default; above that, and at any real census scale, the estimator
    pays — which is why it, not the certificate-class exact form,
    rides bench HEADLINE."""
    return triangle_count_estimate(spark, sf_dir, p=0.3, seed=7)


_PR_D = 0.85  # damping
_PR_ITERS = 3


def _pr_iter_sql(i: int) -> str:
    """One unrolled PageRank iteration as a CTE body."""
    return f"""
    it{i} AS (
      SELECT s.v AS node,
             (1 - {_PR_D}) / (SELECT n FROM nn)
             + {_PR_D} * sum(p.pr / d.d) AS pr
      FROM sym s
      JOIN it{i - 1} p ON p.node = s.u
      JOIN deg d ON d.node = s.u
      GROUP BY s.v
    )"""


@register(
    "graph_pagerank",
    oracle=f"""
    WITH e AS ({_EDGES_SQL}),
    sym AS (
      SELECT src AS u, dst AS v FROM e
      UNION ALL SELECT dst, src FROM e
    ),
    deg AS (SELECT u AS node, count(*) AS d FROM sym GROUP BY u),
    nn AS (SELECT count(*) AS n FROM deg),
    it0 AS (SELECT node, 1.0 / (SELECT n FROM nn) AS pr FROM deg),
    {",".join(_pr_iter_sql(i) for i in range(1, _PR_ITERS + 1))}
    SELECT node AS part_id,
           round(pr * (SELECT n FROM nn) - 1e-9, {_R}) + 0.0 AS pr_scaled
    FROM it{_PR_ITERS}
    """,
)
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank, 3 unrolled power iterations at d = 0.85 (the
    _PR_ITERS/_PR_D constants) — the canonical 'importance on a
    graph' measure (here: central parts of the co-purchase graph).
    Each iteration BROADCASTS the combined |V|-row (node, pr, d)
    vector onto the out-edge list — deg folded into the rank vector
    so a superstep is ONE BroadcastHashJoin probe of the pinned sym
    plus one groupBy(dst) partial-agg sum: sym is never exchanged or
    sorted in any iteration.  |V| enters via a 1-row broadcast; no
    scalar is ever collected to the driver, so the whole 3-iteration
    computation is ONE lazy plan Catalyst sees end to end.

    History of this join's strategy: the r7 A/B broadcast only the
    rank vector and kept deg as a separate broadcast attach — a wash
    (6.34 s declarative vs 6.77 s explicit), because the plan still
    carried the per-iteration Exchange+Sort of sym under a
    SortMergeJoin (3 SMJs over the 2.4M-row cache).  Folding deg
    INTO the broadcast vector removes both the SMJ and the second
    attach: r14 A/B (OPTIMIZATION_r14.md "graph_pagerank — broadcast
    (node, pr, d) vector per superstep", one warm session,
    interleaved best-of-3 at sf0.1, identity-checked vs the oracle
    shape at sf0.01): 6.01 s registered vs 4.24 s broadcast-vector
    (−29%), plan 26 → 12 Exchanges / 3 → 0 SortMergeJoins.  LPA's r8
    zero-exchange-round rewrite (pre-partitioned pinned sym) still
    LOSES here — 4.88 s vs 5.84 s (commit 5f8eff8) —
    because one saved groupBy exchange per iteration does not repay
    caching 2|E| pre-partitioned rows up front.  At billion-node |V|
    where the rank vector outgrows a broadcast, the keyed-join form
    is the fallback (the 100 TB co-purchase |V| here is the part
    catalog — dimension-sized by construction).  Emitted ranks are
    scaled by |V| (mean exactly 1) — scale-free and numerically in a
    range where the repo's standard rounding makes the cross-engine
    check exact."""
    sym = pin(_sym(_edges(spark, sf_dir)))
    deg = pin(sym.groupBy(F.col("u").alias("node")).agg(F.count("*").alias("d")))
    # |V| as a 1-row broadcast frame — joins into the plan instead of
    # a driver-side .first() so the query stays a single lazy plan.
    nn = deg.agg(F.count("*").alias("n"))
    # combined (node, pr, d) vector: ONE broadcast attach per
    # iteration carries both the rank and the out-degree.
    vec = deg.crossJoin(F.broadcast(nn)).select(
        "node", (F.lit(1.0) / F.col("n")).alias("pr"), "d"
    )
    for _ in range(_PR_ITERS):
        contrib = sym.join(
            _broadcast_vec(vec, "graph_pagerank (node, pr, d) vector")
            .withColumnRenamed("node", "u"),
            "u"
        ).select(F.col("v"), (F.col("pr") / F.col("d")).alias("c"))
        vec = (
            contrib.groupBy(F.col("v").alias("node"))
            .agg(F.sum("c").alias("s"))
            .crossJoin(F.broadcast(nn))
            .select(
                "node",
                (
                    (1 - _PR_D) / F.col("n") + F.lit(_PR_D) * F.col("s")
                ).alias("pr"),
            )
            .join(F.broadcast(deg), "node")
        )
    return vec.crossJoin(F.broadcast(nn)).select(
        F.col("node").alias("part_id"),
        (F.round(F.col("pr") * F.col("n") - 1e-9, _R) + 0.0).alias("pr_scaled"),
    )


@register(
    "graph_degree_stats",
    oracle=f"""
    WITH e AS ({_EDGES_SQL}),
    sym AS (
      SELECT src AS u FROM e UNION ALL SELECT dst FROM e
    ),
    deg AS (SELECT u AS node, count(*) AS d FROM sym GROUP BY u)
    SELECT CAST(floor(log2(d)) AS BIGINT) AS degree_bucket,
           count(*) AS n_nodes,
           min(d) AS min_degree,
           max(d) AS max_degree
    FROM deg
    GROUP BY degree_bucket
    """,
)
def graph_degree_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log2-bucketed degree distribution — the first diagnostic run
    on any production graph (detects the hub/skew profile that
    decides whether the triangle orientation and join salting above
    are needed).  Two partial-agg groupBys, no joins."""
    edges = _edges(spark, sf_dir)
    nodes = edges.select(F.col("src").alias("u")).unionByName(
        edges.select(F.col("dst").alias("u"))
    )
    deg = nodes.groupBy(F.col("u").alias("node")).agg(F.count("*").alias("d"))
    bucket = F.floor(F.log2(F.col("d").cast("double"))).cast("long")
    return deg.groupBy(bucket.alias("degree_bucket")).agg(
        F.count("*").alias("n_nodes"),
        F.min("d").alias("min_degree"),
        F.max("d").alias("max_degree"),
    )


_AR_MIN_SUP = 2  # pairs must co-occur in >= 2 orders


@register(
    "basket_association_rules",
    oracle=f"""
    WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    pair_sup AS (
      SELECT a.l_partkey AS pa, b.l_partkey AS pb, count(*) AS sup_ab
      FROM li a JOIN li b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY pa, pb
      HAVING count(*) >= {_AR_MIN_SUP}
    ),
    item_sup AS (SELECT l_partkey, count(*) AS sup FROM li GROUP BY l_partkey),
    n AS (SELECT count(DISTINCT l_orderkey) AS n_orders FROM li),
    directed AS (
      SELECT pa AS antecedent, pb AS consequent, sup_ab FROM pair_sup
      UNION ALL
      SELECT pb, pa, sup_ab FROM pair_sup
    )
    SELECT d.antecedent, d.consequent, d.sup_ab AS support_pairs,
           round(CAST(d.sup_ab AS DOUBLE) / sa.sup - 1e-9, {_R}) + 0.0
             AS confidence,
           round(CAST(d.sup_ab AS DOUBLE) * n.n_orders / (sa.sup * sb.sup)
                 - 1e-9, {_R}) + 0.0 AS lift
    FROM directed d
    JOIN item_sup sa ON sa.l_partkey = d.antecedent
    JOIN item_sup sb ON sb.l_partkey = d.consequent
    CROSS JOIN n
    """,
)
def basket_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association-rule mining (support / confidence / lift) over
    order baskets — the classic market-basket analysis, which is
    also the 2-itemset iteration of Apriori.  Same bounded per-order
    pair fan-out as the co-purchase edge build (an equi-self-join on
    l_orderkey of the pinned distinct (order, part) table, never a
    cross join; a pin reports no output partitioning, so a
    repartition inside it would not co-partition the join: 2.65 s
    with and without one, 10-pair A/B at sf0.1); pair supports are one
    partial+final agg over the emitted pairs, item supports and the
    basket count are aggregate-derived small frames that broadcast
    onto the rule table.  The min-support HAVING prunes BEFORE the
    rule expansion, so low-signal pairs never reach the joins —
    Apriori's pruning principle expressed as plan order."""
    li = pin(
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    a, b = li.alias("a"), li.alias("b")
    pair_sup = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("pa"), F.col("b.l_partkey").alias("pb")
        )
        .agg(F.count("*").alias("sup_ab"))
        .filter(F.col("sup_ab") >= _AR_MIN_SUP)
    )
    item_sup = li.groupBy(F.col("l_partkey").alias("item")).agg(
        F.count("*").alias("sup")
    )
    n = li.agg(F.countDistinct("l_orderkey").alias("n_orders"))
    directed = pair_sup.select(
        F.col("pa").alias("antecedent"),
        F.col("pb").alias("consequent"),
        "sup_ab",
    ).unionByName(
        pair_sup.select(
            F.col("pb").alias("antecedent"),
            F.col("pa").alias("consequent"),
            "sup_ab",
        )
    )
    sa = F.broadcast(item_sup).alias("sa")
    sb = F.broadcast(item_sup).alias("sb")
    return (
        directed.join(sa, F.col("sa.item") == F.col("antecedent"))
        .join(sb, F.col("sb.item") == F.col("consequent"))
        .crossJoin(F.broadcast(n))
        .select(
            "antecedent",
            "consequent",
            F.col("sup_ab").alias("support_pairs"),
            (
                F.round(
                    F.col("sup_ab").cast("double") / F.col("sa.sup") - 1e-9, _R
                )
                + 0.0
            ).alias("confidence"),
            (
                F.round(
                    F.col("sup_ab").cast("double")
                    * F.col("n_orders")
                    / (F.col("sa.sup") * F.col("sb.sup"))
                    - 1e-9,
                    _R,
                )
                + 0.0
            ).alias("lift"),
        )
    )


_LP_HUB_CAP = 64   # hubs above this degree are skipped as uninformative
_LP_TOP_K = 100


@register(
    "graph_link_prediction",
    oracle=f"""
    WITH e AS ({_EDGES_SQL}),
    sym AS (
      SELECT src AS u, dst AS v FROM e
      UNION ALL SELECT dst, src FROM e
    ),
    deg AS (SELECT u AS node, count(*) AS d FROM sym GROUP BY u),
    hubs AS (
      SELECT sym.u, sym.v FROM sym
      JOIN deg ON deg.node = sym.u WHERE deg.d <= {_LP_HUB_CAP}
    ),
    wedge AS (
      SELECT a.v AS pa, b.v AS pb, count(*) AS cn
      FROM hubs a JOIN hubs b ON a.u = b.u AND a.v < b.v
      GROUP BY pa, pb
    ),
    cand AS (
      SELECT w.pa, w.pb, w.cn FROM wedge w
      LEFT JOIN e ON e.src = w.pa AND e.dst = w.pb
      WHERE e.src IS NULL
    )
    SELECT pa, pb, cn,
           round(CAST(cn AS DOUBLE) / (da.d + db.d - cn) - 1e-9, {_R}) + 0.0
             AS jaccard
    FROM cand
    JOIN deg da ON da.node = pa
    JOIN deg db ON db.node = pb
    ORDER BY jaccard DESC, cn DESC, pa, pb
    LIMIT {_LP_TOP_K}
    """,
)
def graph_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction by common-neighbor count + neighborhood
    Jaccard — 'parts bought with the same things are substitutes':
    the top-k NON-edges most likely to become edges.  Candidate
    pairs come only from shared hubs, so enumeration is
    Σ C(deg(u), 2) — and unlike the triangle census this sum cannot
    be degree-oriented away (every hub connecting a pair must be
    COUNTED, not just one), which is why the hub cap exists: nodes
    above degree 64 are skipped as uninformative super-connectors
    (the graph analogue of the stop-term cut, and the knob that
    keeps the wedge volume bounded at 100 TB — identical in the
    oracle, so the capped semantics hash-check exactly).  Known
    edges leave via an anti join; degrees ride broadcast joins; the
    deterministic top-k lowers to TakeOrderedAndProject."""
    edges = pin(_edges(spark, sf_dir))
    sym = _sym(edges)
    deg = sym.groupBy(F.col("u").alias("node")).agg(F.count("*").alias("d"))
    hubs = sym.join(
        F.broadcast(deg.filter(F.col("d") <= _LP_HUB_CAP)),
        sym["u"] == F.col("node"),
    ).select("u", "v")
    a, b = hubs.alias("a"), hubs.alias("b")
    wedge = (
        a.join(
            b,
            (F.col("a.u") == F.col("b.u")) & (F.col("a.v") < F.col("b.v")),
        )
        .groupBy(F.col("a.v").alias("pa"), F.col("b.v").alias("pb"))
        .agg(F.count("*").alias("cn"))
    )
    cand = wedge.join(
        edges,
        (wedge["pa"] == edges["src"]) & (wedge["pb"] == edges["dst"]),
        "left_anti",
    )
    da = F.broadcast(deg).alias("da")
    db = F.broadcast(deg).alias("db")
    scored = (
        cand.join(da, F.col("da.node") == F.col("pa"))
        .join(db, F.col("db.node") == F.col("pb"))
        .select(
            "pa", "pb", "cn",
            (
                F.round(
                    F.col("cn").cast("double")
                    / (F.col("da.d") + F.col("db.d") - F.col("cn"))
                    - 1e-9,
                    _R,
                )
                + 0.0
            ).alias("jaccard"),
        )
    )
    return scored.orderBy(
        F.desc("jaccard"), F.desc("cn"), F.asc("pa"), F.asc("pb")
    ).limit(_LP_TOP_K)


_KCORE_K = 3
# Oracle unroll depth AND the Spark loop's safety cap.  The Spark side
# converges on a scalar edge-count fixpoint (usually 2-4 rounds here);
# peeling is monotone, so once the count is stable every further round
# is a no-op and the 8-round oracle computes the identical edge set.
# tests/test_graph_convergence.py proves the fixpoint is reached
# within this cap at every SF, so the differential check stays exact.
_KCORE_ROUNDS = 8

# Observability for the convergence test: rounds the last graph_kcore
# call actually executed, and whether the edge count stabilised
# (reached its fixpoint) before the safety cap.
LAST_KCORE_ROUNDS: int = 0
LAST_KCORE_CONVERGED: bool = False


def _kcore_oracle() -> str:
    """Unrolled fixed-round peel as nested CTEs (e0..e{R})."""
    parts = [f"WITH e0 AS MATERIALIZED ({_EDGES_SQL})"]
    for i in range(1, _KCORE_ROUNDS + 1):
        parts.append(f""",
    d{i} AS MATERIALIZED (
      SELECT node, count(*) AS d FROM (
        SELECT src AS node FROM e{i - 1}
        UNION ALL SELECT dst FROM e{i - 1}
      ) GROUP BY node
    ),
    k{i} AS MATERIALIZED (SELECT node FROM d{i} WHERE d >= {_KCORE_K}),
    e{i} AS MATERIALIZED (
      SELECT src, dst FROM e{i - 1}
      WHERE src IN (SELECT node FROM k{i})
        AND dst IN (SELECT node FROM k{i})
    )""")
    r = _KCORE_ROUNDS
    parts.append(f"""
    SELECT node AS part_id, count(*) AS core_degree
    FROM (
      SELECT src AS node FROM e{r} UNION ALL SELECT dst FROM e{r}
    )
    GROUP BY node
    """)
    return "".join(parts)


@register("graph_kcore", oracle=_kcore_oracle())
def graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-core extraction (k = 3) by iterative peeling — repeatedly
    drop nodes with degree < k and the edges they carry; the
    surviving dense backbone is the standard noise filter before
    community detection and the 'is this account embedded or
    peripheral' signal in abuse detection.  Both engines run the
    peel to a TRUE FIXPOINT: the Spark loop runs one degree aggregate
    + one semi-join pair per round and stops when the scalar edge
    count stabilises (the same convergence probe as the CC queries —
    one Long per round crosses the driver, never rows).  The oracle
    unrolls 8 CTE rounds, which is past the fixpoint at every fixture
    SF (proven by tests/test_graph_convergence.py); peeling is
    monotone, so post-fixpoint oracle rounds are identity and the
    differential check compares the same genuine k-core.  Each
    round's checkpoint is the convergence counter's free ride — the
    count() reads cached blocks — and superseded checkpoints release
    eagerly via the LogicalRDD-level helper."""
    from ondemand_dask_spark.operators.checkpoint import (
        release_local_checkpoint,
    )

    global LAST_KCORE_ROUNDS, LAST_KCORE_CONVERGED
    edges = _edges(spark, sf_dir).localCheckpoint()
    n_edges = edges.count()
    LAST_KCORE_ROUNDS = 0
    LAST_KCORE_CONVERGED = False
    for _ in range(_KCORE_ROUNDS):
        sym_nodes = edges.select(F.col("src").alias("node")).unionByName(
            edges.select(F.col("dst").alias("node"))
        )
        keep = (
            sym_nodes.groupBy("node")
            .agg(F.count("*").alias("d"))
            .filter(F.col("d") >= _KCORE_K)
            .select("node")
        )
        new_edges = (
            edges.join(
                keep.select(F.col("node").alias("src")), "src", "left_semi"
            )
            .join(keep.select(F.col("node").alias("dst")), "dst", "left_semi")
            .select("src", "dst")
            .localCheckpoint()
        )
        n_new = new_edges.count()
        release_local_checkpoint(edges)
        edges = new_edges
        LAST_KCORE_ROUNDS += 1
        if n_new == n_edges:  # no edge lost a qualifying endpoint —
            LAST_KCORE_CONVERGED = True
            break  # the remaining graph IS the k-core
        n_edges = n_new
    retain(edges)
    nodes = edges.select(F.col("src").alias("node")).unionByName(
        edges.select(F.col("dst").alias("node"))
    )
    return nodes.groupBy("node").agg(F.count("*").alias("core_degree")).select(
        F.col("node").alias("part_id"), "core_degree"
    )


@register(
    "graph_modularity",
    oracle=f"""
    WITH e AS ({_EDGES_SQL}),
    lab AS (SELECT p_partkey AS node, p_brand AS com FROM part),
    m AS (SELECT count(*) AS m FROM e),
    le AS (
      SELECT la.com AS com_a, lb.com AS com_b
      FROM e JOIN lab la ON la.node = e.src
             JOIN lab lb ON lb.node = e.dst
    ),
    within AS (
      SELECT com_a AS com, count(*) AS e_in FROM le
      WHERE com_a = com_b GROUP BY com_a
    ),
    deg AS (
      SELECT com, CAST(count(*) AS BIGINT) AS d_sum FROM (
        SELECT com_a AS com FROM le UNION ALL SELECT com_b FROM le
      ) GROUP BY com
    )
    SELECT d.com AS community,
           CAST(coalesce(w.e_in, 0) AS BIGINT) AS edges_within,
           d.d_sum AS degree_sum,
           round(CAST(coalesce(w.e_in, 0) AS DOUBLE) / m.m
                 - (CAST(d.d_sum AS DOUBLE) / (2 * m.m))
                   * (CAST(d.d_sum AS DOUBLE) / (2 * m.m))
                 - 1e-9, {_R}) + 0.0 AS q_contrib
    FROM deg d LEFT JOIN within w ON w.com = d.com CROSS JOIN m
    """,
)
def graph_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity of a node partition over the co-purchase
    graph — here the catalog's own p_brand labeling, the 'is this
    taxonomy real in behavior' question (and the objective function
    community detection like Louvain climbs; this is its evaluation
    leg as a standalone operator).  Per community c:
    Q_c = e_c/m − (d_c/2m)², where e_c = edges inside c, d_c = total
    degree of c's nodes, m = |edges|.

    Scale shape: node→community labels are a |V|-row dimension that
    BROADCASTS onto the edge list (two label attaches, zero data-
    sized shuffles beyond the edge build itself); e_c and d_c are
    partial-agg groupBys over the labeled edges; m is a 1-row scalar
    attach.  Per-community arithmetic is scalar (no float-sum
    reordering), so the differential check is exact at 4 dp."""
    edges = pin(_edges(spark, sf_dir))
    lab = load_table(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("node"), F.col("p_brand").alias("com")
    )
    le = (
        edges.join(
            F.broadcast(lab.select(F.col("node").alias("src"),
                                   F.col("com").alias("com_a"))), "src"
        )
        .join(
            F.broadcast(lab.select(F.col("node").alias("dst"),
                                   F.col("com").alias("com_b"))), "dst"
        )
        .select("com_a", "com_b")
    )
    m = le.agg(F.count("*").alias("m"))
    within = (
        le.filter(F.col("com_a") == F.col("com_b"))
        .groupBy(F.col("com_a").alias("com"))
        .agg(F.count("*").alias("e_in"))
    )
    deg = (
        le.select(F.col("com_a").alias("com"))
        .unionByName(le.select(F.col("com_b").alias("com")))
        .groupBy("com")
        .agg(F.count("*").alias("d_sum"))
    )
    joined = deg.join(within, "com", "left").crossJoin(F.broadcast(m))
    e_in = F.coalesce(F.col("e_in"), F.lit(0))
    frac = e_in.cast("double") / F.col("m")
    half = F.col("d_sum").cast("double") / (2 * F.col("m"))
    return joined.select(
        F.col("com").alias("community"),
        e_in.cast("long").alias("edges_within"),
        F.col("d_sum").cast("long").alias("degree_sum"),
        (F.round(frac - half * half - 1e-9, _R) + F.lit(0.0)).alias(
            "q_contrib"
        ),
    )


_BFS_SOURCES = 5  # multi-source frontier: top-degree hub nodes
_BFS_HOPS = 3


@register(
    "graph_bfs_khop",
    oracle=f"""
    WITH e AS ({_EDGES_SQL}),
    sym AS (
      SELECT src AS u, dst AS v FROM e
      UNION ALL SELECT dst, src FROM e
    ),
    deg AS (SELECT u AS node, count(*) AS d FROM sym GROUP BY u),
    src AS (
      SELECT node FROM (
        SELECT node, row_number() OVER (ORDER BY d DESC, node) AS rn
        FROM deg
      ) WHERE rn <= {_BFS_SOURCES}
    ),
    d0 AS (SELECT node, 0 AS dist FROM src),
    d1 AS (
      SELECT node, min(dist) AS dist FROM (
        SELECT node, dist FROM d0
        UNION ALL
        SELECT s.v, p.dist + 1 FROM sym s JOIN d0 p ON p.node = s.u
      ) GROUP BY node
    ),
    d2 AS (
      SELECT node, min(dist) AS dist FROM (
        SELECT node, dist FROM d1
        UNION ALL
        SELECT s.v, p.dist + 1 FROM sym s JOIN d1 p ON p.node = s.u
      ) GROUP BY node
    ),
    d3 AS (
      SELECT node, min(dist) AS dist FROM (
        SELECT node, dist FROM d2
        UNION ALL
        SELECT s.v, p.dist + 1 FROM sym s JOIN d2 p ON p.node = s.u
      ) GROUP BY node
    )
    SELECT dist, count(*) AS n_nodes FROM d3 GROUP BY dist
    """,
)
def graph_bfs_khop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS over the co-purchase graph: shortest-hop
    distance from the {_BFS_SOURCES} highest-degree hubs, truncated
    at {_BFS_HOPS} hops, reported as a reach histogram
    (distance → node count) — the 'how much of the graph is within
    k hops of the hubs' reachability question behind influence and
    cache-seeding analyses.

    Each round relaxes the frontier by ONE edge join + min-groupBy
    (the Bellman-Ford superstep), so round r holds exact distances
    ≤ r; {_BFS_HOPS} unrolled rounds stay ONE lazy Catalyst plan —
    no driver-side loop, no collected state.  The source set is a
    top-k over the degree table (TakeOrderedAndProject: per-partition
    heaps + a k-row merge — no global window even at data-sized |V|).

    MIN-DIST RELAXATION supersteps (r14): each round broadcasts the
    |V|-bounded distance vector onto the pinned 2|E| edge list and
    folds the relaxed neighbors back with one partial-agg
    groupBy(node).min(dist) — the oracle's own unrolled form, ONE
    lazy plan with no per-round distinct, anti-join, or checkpoint.
    The previous frontier-delta form (join only the newly-reached
    frontier, anti-join the settled set, pin each delta with a lazy
    localCheckpoint) is the textbook optimization for DEEP horizons,
    but at k = 3 over a co-purchase graph whose reached set is
    dimension-sized the delta machinery's fixed per-round stages
    cost more than the re-relaxation they avoid: r14 A/B
    (OPTIMIZATION_r14.md, "graph_bfs_khop — broadcast min-dist
    relaxation rounds"; interleaved, identity-checked at sf0.01,
    two sessions at sf0.1) measured relax 4.12/4.93 s vs
    frontier-delta 5.18/5.23 s best-of-session (−6 to −20%), with
    an explicitly-broadcast delta variant slower still.  At 100 TB
    the dist vector is the part catalog (broadcast-sized by
    construction); billion-node graphs or deep horizons switch back
    to frontier-delta with the checkpointed-iteration pattern used
    by dedup_connected_components.

    The LPA zero-exchange rewrite was A/B'd here too and is a WASH
    (commit a046c95, one warm session, interleaved
    best-of-4 at sf0.1: 5.70 s vs 5.48 s with sym repartitioned on
    v and stored): BFS's per-superstep cost is the stored
    2|E| scan, not the reduced-side exchanges."""
    edges = pin(_edges(spark, sf_dir))
    sym = _sym(edges)
    deg = sym.groupBy(F.col("u").alias("node")).agg(F.count("*").alias("d"))
    src = (
        deg.orderBy(F.desc("d"), F.asc("node"))
        .limit(_BFS_SOURCES)
        .select("node")
    )
    dist = src.withColumn("dist", F.lit(0))
    for _ in range(_BFS_HOPS):
        relax = sym.join(
            _broadcast_vec(dist, "graph_bfs_khop distance vector")
            .withColumnRenamed("node", "u"),
            "u"
        ).select(F.col("v").alias("node"), (F.col("dist") + 1).alias("dist"))
        # store each round's vector in a LAZY localCheckpoint: dist is
        # referenced twice per round (the broadcast probe and the
        # union leg), and a BroadcastExchange does not share
        # evaluation with a plain subtree — unstored, the recursion
        # evaluates round r-1 twice per reference, a 2^hops lineage
        # expansion.  r14 A/B, interleaved best-of-4 at sf0.1 —
        # 4.78 s unstored vs 3.95 s stored (−17%).  Lazy, not pin:
        # the next round's broadcast build reads it alone first.
        dist = retain(
            dist.unionByName(relax)
            .groupBy("node")
            .agg(F.min("dist").alias("dist"))
            .localCheckpoint(eager=False)
        )
    return dist.groupBy("dist").agg(F.count("*").alias("n_nodes"))


_LPA_ROUNDS = 3


def _lpa_oracle() -> str:
    """Chained-CTE oracle for {R} synchronous LPA rounds."""
    parts = [
        f"WITH e AS ({_EDGES_SQL}),",
        """
    sym AS (
      SELECT src AS u, dst AS v FROM e
      UNION ALL SELECT dst, src FROM e
    ),
    l0 AS (SELECT DISTINCT u AS node, u AS lbl FROM sym)""",
    ]
    for i in range(1, _LPA_ROUNDS + 1):
        parts.append(f""",
    c{i} AS (
      SELECT s.u AS node, l.lbl, count(*) AS c
      FROM sym s JOIN l{i - 1} l ON l.node = s.v
      GROUP BY s.u, l.lbl
    ),
    l{i} AS (
      SELECT node, lbl FROM (
        SELECT node, lbl,
               row_number() OVER (PARTITION BY node
                                  ORDER BY c DESC, lbl) AS rn
        FROM c{i}) WHERE rn = 1
    )""")
    parts.append(
        f"\n    SELECT node AS part_id, lbl AS label FROM l{_LPA_ROUNDS}"
    )
    return "".join(parts)


@register("graph_label_propagation", oracle=_lpa_oracle())
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection by synchronous label propagation (LPA,
    Raghavan et al.): every node starts as its own label and each
    round adopts the most frequent label among its NEIGHBORS, ties
    to the smallest label — which makes the classically
    order-dependent algorithm fully deterministic and therefore
    oracle-checkable.  Complements the other graph analytics: unlike
    connected components it finds DENSE communities inside one
    component; unlike k-core it assigns every node.

    {R} unrolled rounds stay one lazy Catalyst plan: each round
    BROADCASTS the |V|-row label vector onto the symmetric edge list
    (|V| here is the part catalog — dimension-sized — the same
    justification as graph_pagerank's broadcast rank vector;
    measured 15.7 -> 11.8 s at sf0.1 vs the keyed-join form, which
    remains the billion-node fallback), then a (node, label)
    partial-agg count and a per-node argmax via max_by over
    struct(count, -label) — a second hash aggregate, NOT a window,
    so no per-node sort exists anywhere in the round (r7 A/B, one
    warm session best-of-3 at sf0.1: row_number window 11.3 s vs
    max_by 8.2 s, −28%).

    ZERO-EXCHANGE ROUNDS (r8): the symmetric edge list is hash-
    partitioned on u once, pinned, and the u→node alias is projected
    BEFORE each groupBy — HashPartitioning(u) then satisfies the
    ClusteredDistribution of BOTH per-round aggregates (grouping
    keys ⊇ partition key), and the broadcast join preserves the
    streamed side's partitioning, so no round moves data at all.
    The alias must be a separate Project: an alias INSIDE
    groupBy(col("u").alias("node")) defeats
    AliasAwareOutputPartitioning and silently reinstates 2 data-
    sized exchanges per round.  r8 A/B (commit 5f8eff8,
    one warm session, interleaved best-of-3 at sf0.1):
    10.17 s registered vs 5.28 s partitioned, −48%.  The same
    rewrite LOSES on graph_pagerank (4.88 → 5.84 s): its rank join
    is AQE-broadcast against the lazily-derived sym, and one saved
    exchange per iteration does not repay the upfront
    repartition+pin of 2|E| rows — LPA repays it 6×.  Deeper
    horizons switch to the checkpointed-iteration pattern used by
    dedup_connected_components (a per-round localCheckpoint was
    A/B'd and adds nothing: the broadcast already materializes each
    round exactly once)."""
    par = spark.sparkContext.defaultParallelism
    # The rounds need the pin to keep HashPartitioning(u), and a
    # checkpoint of an adaptive plan reports unknown partitioning
    # (AdaptiveSparkPlanExec exposes none), which put 2 exchanges back
    # into every round: sf0.1 5.8-6.9 s → 7.8-11.9 s.  So this one pin
    # is planned with AQE off; its plan is explicit repartitions and a
    # distinct, and the query that reads it runs adaptive as usual.
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        sym = pin(_sym(_edges(spark, sf_dir)).repartition(par, "u"))
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
    labels = (
        sym.select(F.col("u").alias("node"))
        .distinct()
        .withColumn("lbl", F.col("node"))
    )
    for _ in range(_LPA_ROUNDS):
        joined = sym.join(
            _broadcast_vec(
                labels.withColumnRenamed("node", "v"),
                "graph_label_propagation label vector",
            ),
            "v"
        )
        cnt = (
            joined.select(F.col("u").alias("node"), "lbl")
            .groupBy("node", "lbl")
            .agg(F.count("*").alias("c"))
        )
        # argmax by (count desc, label asc) as a hash aggregate:
        # max_by over struct(c, -lbl) is deterministic here because
        # (c, lbl) is unique within a node group — no window, no
        # per-node sort; both aggregates run exchange-free on the
        # u-partitioned pin.
        labels = cnt.groupBy("node").agg(
            F.max_by("lbl", F.struct(F.col("c"), -F.col("lbl"))).alias(
                "lbl"
            )
        )
    return labels.select(
        F.col("node").alias("part_id"), F.col("lbl").alias("label")
    )


@register(
    "graph_assortativity",
    oracle=f"""
    WITH e AS ({_EDGES_SQL}),
    sym AS (
      SELECT src AS u, dst AS v FROM e
      UNION ALL SELECT dst, src FROM e
    ),
    deg AS (SELECT u AS node, CAST(count(*) AS DOUBLE) AS d
            FROM sym GROUP BY u)
    SELECT CAST(count(*) AS BIGINT) AS n_directed_edges,
           round(corr(da.d, db.d) - 1e-9, {_R}) + 0.0 AS assortativity
           -- DuckDB corr -> NULL on zero variance; Spark pins NaN->NULL
    FROM sym
    JOIN deg da ON da.node = sym.u
    JOIN deg db ON db.node = sym.v
    """,
)
def graph_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity (Newman r): the Pearson correlation of
    endpoint degrees over every directed edge of the symmetrized
    graph — positive means hubs attach to hubs (social-network
    shape), negative means hubs attach to leaves (hub-and-spoke /
    dependency shape).  The single scalar that tells you whether
    degree-based partitioning or hub-salting will be the scale
    problem on THIS graph.

    Scale shape: one groupBy builds the |V|-row degree table, which
    is dimension-sized (the part catalog) and BROADCAST onto the
    edge list twice — so the only data-sized operation is a linear
    pass over the edges feeding corr's algebraic partial aggregate
    (six moments per partition cross the wire).  No window, no
    self-join, no data-sized shuffle at all beyond the edge build
    shared by the whole graph family."""
    edges = pin(_edges(spark, sf_dir))
    sym = _sym(edges)
    deg = sym.groupBy(F.col("u").alias("node")).agg(
        F.count("*").cast("double").alias("d")
    )
    da = F.broadcast(deg.select(F.col("node").alias("u"), F.col("d").alias("da")))
    db = F.broadcast(deg.select(F.col("node").alias("v"), F.col("d").alias("db")))
    return (
        sym.join(da, "u")
        .join(db, "v")
        .agg(
            F.count("*").alias("n_directed_edges"),
            (
                F.round(
                    F.when(
                        ~F.isnan(F.corr("da", "db")), F.corr("da", "db")
                    )
                    - 1e-9,
                    _R,
                )
                + 0.0
            ).alias("assortativity"),
        )
    )


_PPR_K = 2      # personalization seeds (top-degree hubs)
_PPR_TOP = 20   # reported neighborhood size


def _ppr_iter_sql(i: int) -> str:
    """One unrolled personalized-PageRank iteration as a CTE body:
    propagate damped mass along edges, re-inject teleport mass at
    the seeds only, keep the vector sparse (absent node = 0)."""
    return f"""
    pit{i} AS (
      SELECT node, sum(pr) AS pr FROM (
        SELECT s.v AS node, {_PR_D} * p.pr / d.d AS pr
        FROM sym s
        JOIN pit{i - 1} p ON p.node = s.u
        JOIN deg d ON d.node = s.u
        UNION ALL
        SELECT node, {(1 - _PR_D)} / {_PPR_K} FROM seeds
      ) GROUP BY node
    )"""


@register(
    "graph_personalized_pagerank",
    oracle=f"""
    WITH e AS ({_EDGES_SQL}),
    sym AS (
      SELECT src AS u, dst AS v FROM e
      UNION ALL SELECT dst, src FROM e
    ),
    deg AS (SELECT u AS node, count(*) AS d FROM sym GROUP BY u),
    seeds AS (
      SELECT node FROM deg ORDER BY d DESC, node LIMIT {_PPR_K}
    ),
    pit0 AS (SELECT node, 1.0 / {_PPR_K} AS pr FROM seeds),
    {",".join(_ppr_iter_sql(i) for i in range(1, _PR_ITERS + 1))}
    SELECT node AS part_id,
           round(pr - 1e-9, {_R}) + 0.0 AS ppr
    FROM pit{_PR_ITERS}
    ORDER BY ppr DESC, part_id LIMIT {_PPR_TOP}
    """,
)
def graph_personalized_pagerank(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Personalized PageRank from the {_PPR_K} top-degree hubs —
    random walk with restart, THE graph primitive behind
    related-item recommendation and trust propagation: teleport
    mass returns to the SEED set instead of spreading uniformly, so
    the stationary vector measures proximity to the seeds.  Reports
    the top-{_PPR_TOP} neighborhood.  Same {_PR_ITERS} unrolled
    supersteps as graph_pagerank (one edge join + one partial-agg
    sum each), with two PPR-specific scale properties: the rank
    vector stays SPARSE (iteration 0 is {_PPR_K} rows; round r
    holds only nodes within r hops of a seed, so early supersteps
    join a frontier-sized vector, not |V|), and the teleport
    re-injection is a {_PPR_K}-row union leg, not a per-node
    constant — at billions of nodes the walk's cost is the reached
    neighborhood, not the graph.  Seed selection lowers to
    TakeOrderedAndProject (per-partition heaps); the top-k output
    orders on the ROUNDED score with a node-id tiebreak, so the cut
    is engine-deterministic."""
    sym = pin(_sym(_edges(spark, sf_dir)))
    # deg is consumed by seed selection AND every superstep's
    # out-degree divide — pin it once (|V| rows) instead of
    # re-aggregating the pinned sym per broadcast (the r14 pagerank
    # fold, applied to the sparse walk).
    deg = pin(sym.groupBy(F.col("u").alias("node")).agg(F.count("*").alias("d")))
    seeds = deg.orderBy(F.desc("d"), F.asc("node")).limit(_PPR_K).select(
        "node"
    )
    # sparse (node, pr, d) vector — ONE broadcast attach per
    # superstep carries both the walk mass and the out-degree; sym is
    # never exchanged in any iteration (same shape as graph_pagerank
    # r14, with the teleport re-injection as a _PPR_K-row union leg).
    ranks = seeds.select("node", F.lit(1.0 / _PPR_K).alias("pr")).join(
        F.broadcast(deg), "node"
    )
    teleport = seeds.select(
        "node", F.lit((1 - _PR_D) / _PPR_K).alias("pr")
    )
    for _ in range(_PR_ITERS):
        contrib = sym.join(
            _broadcast_vec(
                ranks, "graph_personalized_pagerank walk vector"
            ).withColumnRenamed("node", "u"),
            "u"
        ).select(
            F.col("v").alias("node"),
            (F.lit(_PR_D) * F.col("pr") / F.col("d")).alias("pr"),
        )
        ranks = (
            contrib.unionByName(teleport)
            .groupBy("node")
            .agg(F.sum("pr").alias("pr"))
            .join(F.broadcast(deg), "node")
        )
    ranks = ranks.select("node", "pr")
    return (
        ranks.select(
            F.col("node").alias("part_id"),
            (F.round(F.col("pr") - 1e-9, _R) + 0.0).alias("ppr"),
        )
        .orderBy(F.desc("ppr"), F.asc("part_id"))
        .limit(_PPR_TOP)
    )
