"""Plan-shape assertions — the scale posture as CI (SURVEY §7 hard
part #5).  Correctness tests prove the answers match; these prove the
PLANS are the ones that survive a 100×/1000× scale-up: filters reach
scans, dimensions broadcast, shuffles are counted and bounded, and
Python never leaks into relational paths."""

from __future__ import annotations

import pytest

from ondemand_dask_spark.plans import (
    broadcast_join_count,
    codegen_span_count,
    pushed_filters,
    python_eval_count,
    read_schemas,
    shuffle_count,
    sort_merge_join_count,
)
from ondemand_dask_spark.registry import all_queries

QUERIES = all_queries()


def _df(name, spark, sf_dir):
    return QUERIES[name].fn(spark, sf_dir)


def test_q6_pushdown_no_shuffle_needed(spark, sf_dir):
    """Q6: filter+agg — predicates must reach the parquet scan and the
    only exchange is the single-row final agg."""
    df = _df("tpch_q6", spark, sf_dir)
    assert pushed_filters(df), "filters did not reach the scan"
    assert shuffle_count(df) <= 1
    assert python_eval_count(df) == 0


@pytest.mark.parametrize("name", ["tpch_q3", "tpch_q5"])
def test_star_joins_broadcast(name, spark, sf_dir):
    """Star joins: every dimension join must be broadcast — the fact
    table is never shuffled for a join, only for the final agg."""
    df = _df(name, spark, sf_dir)
    assert sort_merge_join_count(df) == 0, "a dimension join fell to SMJ"
    assert broadcast_join_count(df) >= 2
    # fact-side shuffles: agg exchange (+ top-k/sort exchange)
    assert shuffle_count(df) <= 2
    assert python_eval_count(df) == 0


def test_projection_prunes_columns(spark, sf_dir):
    """A 2-column projection must read 2 columns, not the table."""
    df = _df("proj_select", spark, sf_dir)
    schemas = read_schemas(df)
    assert schemas and all(len(s.split(",")) <= 3 for s in schemas), schemas


def test_asof_join_single_shuffle(spark, sf_dir):
    """merge_asof = union + one window: exactly one data shuffle (on
    the by-key).  A second shuffle would mean the composition
    regressed to join-per-candidate."""
    df = _df("asof_join_backward", spark, sf_dir)
    assert shuffle_count(df) == 1, "as-of join must cost exactly one shuffle"
    assert python_eval_count(df) == 0


def test_scalar_paths_are_pure_codegen(spark, sf_dir):
    """§2.H scalar batteries: no shuffle, no Python, one fused span."""
    for name in ("math_basic", "str_case_len", "array_hof", "json_extract"):
        df = _df(name, spark, sf_dir)
        assert shuffle_count(df) == 0, name
        assert python_eval_count(df) == 0, name
        assert codegen_span_count(df) >= 1, name


def test_udf_paths_cross_python_once(spark, sf_dir):
    """§2.J queries exist to exercise the Arrow boundary — assert the
    boundary is present exactly where declared (and nowhere else)."""
    assert python_eval_count(_df("udf_map_in_pandas", spark, sf_dir)) == 1
    assert python_eval_count(_df("udf_apply_in_pandas", spark, sf_dir)) == 1
    # ...and the window-based map_overlap twin stays JVM-side
    assert python_eval_count(_df("udf_map_overlap", spark, sf_dir)) == 0


def test_topk_uses_take_ordered(spark, sf_dir):
    """nlargest must plan as TakeOrderedAndProject (per-partition
    top-k + tree merge), never a global sort."""
    from ondemand_dask_spark.plans import plan_string

    plan = plan_string(_df("topk_nlargest", spark, sf_dir))
    assert "TakeOrderedAndProject" in plan


def test_broadcast_queries_in_ann(spark, sf_dir):
    """ANN brute force: the query-vector side must broadcast — the
    corpus is the streamed side at any scale."""
    df = _df("ann_cosine_topk", spark, sf_dir)
    assert broadcast_join_count(df) >= 1
    assert sort_merge_join_count(df) == 0


@pytest.mark.parametrize(
    "name,min_bcast,max_shuffle",
    [
        # dims broadcast; the one shuffle is the final agg (the
        # lineitem⋈orders fact join broadcasts at test SF and would
        # shuffle-on-orderkey at scale — both acceptable plans).
        ("tpch_q7", 4, 2),
        ("tpch_q8", 6, 2),
        ("tpch_q9", 3, 2),
        # left join + double agg / decorrelated-subquery shapes: at
        # most two wide exchanges, never a Python boundary.
        ("tpch_q13", 1, 3),
        ("tpch_q15", 1, 3),
        ("tpch_q17", 1, 3),
        ("tpch_q19", 1, 2),
        ("tpch_q22", 2, 3),
    ],
)
def test_new_goldens_plan_shape(name, min_bcast, max_shuffle, spark, sf_dir):
    """Q7-Q22-shape goldens: dimensions broadcast, shuffles bounded,
    all-JVM execution."""
    df = _df(name, spark, sf_dir)
    assert broadcast_join_count(df) >= min_bcast, name
    assert shuffle_count(df) <= max_shuffle, name
    assert python_eval_count(df) == 0, name


def test_asof_nearest_two_passes(spark, sf_dir):
    """direction='nearest' runs a backward and a forward carry pass —
    exactly two window shuffles on the by-key, still no join-per-
    candidate blowup and no Python."""
    df = _df("asof_join_nearest", spark, sf_dir)
    assert shuffle_count(df) == 2
    assert python_eval_count(df) == 0


def test_ivf_probes_broadcast(spark, sf_dir, monkeypatch):
    """IVF ANN: seeds and probe lists are the small sides — both must
    broadcast; the corpus assignment costs bounded shuffles.  The
    list-assignment ranking is pinned, and a checkpoint's plan is a
    bare RDD scan, so the ranking's own plan is counted from the frame
    handed to `pin`."""
    from ondemand_dask_spark.operators import checkpoint
    from ondemand_dask_spark.queries import similarity

    pinned = []
    monkeypatch.setattr(
        similarity, "pin", lambda f: checkpoint.pin(pinned.append(f) or f)
    )
    plans = [_df("ann_ivf_probe", spark, sf_dir), *pinned]
    assert sum(broadcast_join_count(p) for p in plans) >= 2
    # seed top-k + assignment window + per-query re-rank window: three
    # bounded exchanges, none proportional to corpus × queries.
    assert sum(shuffle_count(p) for p in plans) <= 3
    assert sum(python_eval_count(p) for p in plans) == 0


@pytest.mark.parametrize(
    "name",
    [
        "dedup_minhash_lsh",
        "dedup_simhash_pairs",
        "dedup_ngram_jaccard",
        "dedup_embedding_cosine",
        "ann_lsh_probe",
        "ann_ivf_probe",
    ],
)
def test_pair_generation_never_cartesian(name, spark, sf_dir):
    """The whole point of LSH/SimHash/IVF blocking: candidate pairs
    form inside buckets (bucket equi-joins, or a bucket groupBy and
    an in-bucket pair explode), so no plan may contain a
    Cartesian product — the n² shape that cannot survive scale.
    (Brute-force ann_cosine_topk is the deliberate exception and is
    excluded.)"""
    from ondemand_dask_spark.plans import plan_string

    plan = plan_string(_df(name, spark, sf_dir))
    assert "CartesianProduct" not in plan, name


def test_minhash_lsh_reads_checkpointed_docs(spark, sf_dir):
    """MinHash-LSH runs off one per-doc table, checkpointed before the
    plan that reads it three times: the (band, sig) bucket groupBy
    and the pair distinct are that plan's only exchanges, and no
    reader scans a lazy cache (three concurrent readers of one would
    each compute it).  Verification joins the small candidate set to
    that table and intersects shingle-hash arrays on the joined row —
    no shingle×shingle probe join, no per-doc count join."""
    from ondemand_dask_spark.plans import plan_string

    df = _df("dedup_minhash_lsh", spark, sf_dir)
    assert shuffle_count(df) == 2
    assert "InMemoryTableScan" not in plan_string(df)


@pytest.mark.parametrize(
    "name", ["graph_pagerank", "graph_bfs_khop", "dedup_duplicate_spans"]
)
def test_multi_reader_intermediates_are_pinned(
    name, spark, sf_dir, monkeypatch
):
    """Each of these queries reads an intermediate from several plan
    branches (pagerank's sym and deg, BFS's edge list, the span query's
    gram table).  They are pinned — built once, eagerly, before the
    plan runs — so neither the returned plan nor any frame checkpointed
    while building it (BFS's per-round distance vectors) scans a lazy
    cache that concurrent readers would each compute."""
    from ondemand_dask_spark.plans import plan_string

    checkpointed = []
    frame_cls = type(spark.range(1))
    local_checkpoint = frame_cls.localCheckpoint

    def spy(df, *args, **kwargs):
        checkpointed.append(plan_string(df))
        return local_checkpoint(df, *args, **kwargs)

    monkeypatch.setattr(frame_cls, "localCheckpoint", spy)
    plans = [plan_string(_df(name, spark, sf_dir)), *checkpointed]
    assert not [p for p in plans if "InMemoryTableScan" in p]


def test_label_propagation_rounds_are_exchange_free(spark, sf_dir):
    """LPA groups every round on u over its u-partitioned pinned edge
    list, so the returned plan holds no exchange at all.  A pin that
    lost the partitioning (a checkpoint of an adaptive plan reports
    none) puts two exchanges back into every round."""
    assert shuffle_count(_df("graph_label_propagation", spark, sf_dir)) == 0


def test_minhash_docs_one_exchange_at_cluster_width(spark, sf_dir):
    """The per-doc MinHash table costs one exchange: an explicit-width
    hash repartition on doc_id (REPARTITION_BY_NUM, so AQE cannot
    coalesce the per-shingle work back to one task), which the
    groupBy(doc_id) then reuses."""
    import re

    from ondemand_dask_spark.plans import plan_string
    from ondemand_dask_spark.queries import dedup

    df = dedup._minhash_docs(spark, sf_dir)
    assert shuffle_count(df) == 1
    width = spark.sparkContext.defaultParallelism
    args = re.findall(r"Arguments: (hashpartitioning\(.*)", plan_string(df))
    assert len(args) == 1, args
    assert re.match(
        rf"hashpartitioning\(doc_id#\d+L, {width}\), REPARTITION_BY_NUM\b",
        args[0],
    ), args[0]


def test_new_scalar_paths_jvm(spark, sf_dir):
    """Variant / substring-parse / bitwise batteries stay JVM-side
    with no shuffle — parse_json and variant_get are native
    expressions, not UDFs."""
    for name in ("json_variant", "str_slice_parse", "math_bitwise"):
        df = _df(name, spark, sf_dir)
        assert shuffle_count(df) == 0, name
        assert python_eval_count(df) == 0, name


def test_regression_aggs_single_shuffle(spark, sf_dir):
    """regr_* family: decomposable moments → one partial/final agg
    exchange, nothing collected per group."""
    df = _df("agg_regression", spark, sf_dir)
    assert shuffle_count(df) <= 1
    assert python_eval_count(df) == 0


def test_map_in_arrow_crosses_python_once(spark, sf_dir):
    """mapInArrow is a declared Python boundary — exactly one."""
    assert python_eval_count(_df("udf_map_in_arrow", spark, sf_dir)) == 1


def test_kmeans_broadcasts_centroids(spark, sf_dir):
    """k-means rounds: centroid sides broadcast (k rows), the corpus
    streams — no corpus×corpus join, no Python."""
    from ondemand_dask_spark.plans import plan_string

    df = _df("kmeans_lloyd", spark, sf_dir)
    assert broadcast_join_count(df) >= 2
    assert "CartesianProduct" not in plan_string(df)
    assert python_eval_count(df) == 0


def test_hash_split_is_narrow(spark, sf_dir):
    """Deterministic hash sampling: pure filter+project — no shuffle,
    no Python, so it composes under any downstream plan for free."""
    df = _df("sample_hash_split", spark, sf_dir)
    assert shuffle_count(df) == 0
    assert python_eval_count(df) == 0


def test_partitioned_readback_prunes(spark, sf_dir, tmp_path):
    """Hive-partitioned layout must prune at the source: a filter on
    the partition column becomes PartitionFilters on the scan (only
    matching directories are listed), not a post-scan Filter over
    everything — the difference between reading 1/5th and 5/5ths of
    100 TB."""
    from pyspark.sql import functions as F

    from ondemand_dask_spark.io import load_table
    from ondemand_dask_spark.plans import plan_string

    out = str(tmp_path / "orders_by_priority")
    load_table(spark, sf_dir, "orders").write.partitionBy(
        "o_orderpriority"
    ).parquet(out)
    df = (
        spark.read.parquet(out)
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_orderkey", "o_totalprice")
    )
    plan = plan_string(df)
    start = plan.index("PartitionFilters")
    seg = plan[start : plan.index("]", start) + 1]
    assert "o_orderpriority" in seg, plan
    assert df.count() > 0


def test_topk_per_group_window_group_limit(spark, sf_dir):
    """Group-limit: rank-then-filter must plan as WindowGroupLimit so
    each map task pre-prunes to its local top-k BEFORE the shuffle —
    the exchange carries k·partitions rows, not the table."""
    from ondemand_dask_spark.plans import plan_string

    df = _df("topk_per_group", spark, sf_dir)
    assert "WindowGroupLimit" in plan_string(df)
    assert python_eval_count(df) == 0


def test_chunk_overlap_is_narrow(spark, sf_dir):
    """Sliding-window chunking: sequence+explode+slice is a pure
    fan-out — chunks stay co-partitioned with their document, zero
    shuffles, zero Python."""
    df = _df("pipeline_chunk_overlap", spark, sf_dir)
    assert shuffle_count(df) == 0
    assert python_eval_count(df) == 0


def test_sampling_filters_are_narrow(spark, sf_dir):
    """Hash-threshold sampling (stratified): filter+project only —
    the sample composes under any downstream plan for free."""
    df = _df("pipeline_stratified_sample", spark, sf_dir)
    assert shuffle_count(df) == 0
    assert python_eval_count(df) == 0


def test_heavy_hitters_two_aggs_one_broadcast(spark, sf_dir):
    """Heavy hitters: token counts reduce map-side (shuffle carries
    the vocabulary), the grand total joins back as a broadcast — no
    second full shuffle of counts."""
    df = _df("pipeline_heavy_hitters", spark, sf_dir)
    assert broadcast_join_count(df) >= 1
    assert shuffle_count(df) <= 3
    assert python_eval_count(df) == 0


def test_scd2_single_shuffle(spark, sf_dir):
    """SCD-2: both windows share partitioning+ordering — Catalyst
    must plan ONE shuffle+sort, not one per window."""
    df = _df("scd2_intervals", spark, sf_dir)
    assert shuffle_count(df) <= 1
    assert python_eval_count(df) == 0


def test_merge_upsert_broadcasts_changes(spark, sf_dir):
    """MERGE upsert: the change-batch anti-join must broadcast — the
    base snapshot is never shuffled just to find conflicts."""
    df = _df("merge_upsert", spark, sf_dir)
    assert broadcast_join_count(df) >= 1
    assert sort_merge_join_count(df) == 0
    assert python_eval_count(df) == 0


def test_range_join_bucketed_no_bnlj(spark, sf_dir):
    """Pure range join via manufactured bucket key: must plan as a
    hash/sort-merge equi join — a BroadcastNestedLoopJoin or
    CartesianProduct here is the O(L·R) cliff the operator exists to
    avoid."""
    from ondemand_dask_spark.plans import plan_string

    df = _df("join_range_bucketed", spark, sf_dir)
    plan = plan_string(df)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert python_eval_count(df) == 0


def test_interval_overlap_no_bnlj(spark, sf_dir):
    """Interval-overlap join: bucketed to an equi join, one emission
    per pair (overlap-start bucket) — no nested loop, no dedup agg."""
    from ondemand_dask_spark.plans import plan_string

    df = _df("join_interval_overlap", spark, sf_dir)
    plan = plan_string(df)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_bpe_pair_counts_distributed_topk(spark, sf_dir):
    """The BPE pair-count top-k must plan as a distributed top-k
    (TakeOrderedAndProject via LimitPushDownThroughWindow, or
    WindowGroupLimit on engines that prefer it) — a global
    single-partition sort over ALL distinct bigrams is the 100 TB
    cliff the rank-then-filter shape is supposed to avoid."""
    from ondemand_dask_spark.plans import plan_string

    df = _df("pipeline_bpe_pair_counts", spark, sf_dir)
    plan = plan_string(df)
    assert "TakeOrderedAndProject" in plan or "WindowGroupLimit" in plan
    assert python_eval_count(df) == 0


def test_ngram_jaccard_posting_list_plan(spark, sf_dir):
    """Posting-list n-gram Jaccard: pair generation must come from
    the exploded inverted index (pure codegen HOF expansion), never
    a CONDITIONAL nested-loop pair join, and the whole pipeline
    stays JVM-side.  The only nested-loop nodes allowed are the
    unconditioned `Cross BuildRight` broadcasts of the 1-row corpus
    total (O(n·1) by construction)."""
    import re

    from ondemand_dask_spark.plans import plan_string

    df = _df("dedup_ngram_jaccard", spark, sf_dir)
    plan = plan_string(df)
    conditional_bnlj = [
        ln
        for ln in plan.splitlines()
        if re.search(r"BroadcastNestedLoopJoin\s+(?!Cross BuildRight)\S", ln)
    ]
    assert not conditional_bnlj, conditional_bnlj
    assert "CartesianProduct" not in plan
    assert python_eval_count(df) == 0


def test_simhash_pairs_no_bnlj(spark, sf_dir):
    """SimHash pairing: the pigeonhole byte-block scheme must plan as
    a hash/sort-merge EQUI join on the block key — a
    BroadcastNestedLoopJoin over all signature pairs is the O(n²)
    cliff the blocking exists to avoid."""
    from ondemand_dask_spark.plans import plan_string

    df = _df("dedup_simhash_pairs", spark, sf_dir)
    plan = plan_string(df)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert python_eval_count(df) == 0


def test_headline_queries_stay_jvm_side(spark, sf_dir):
    """Every benched query must be pure JVM (no Python operators) —
    the bench is the scale contract, and a Python stage sneaking into
    a headline path is a 10-100x regression at 100 TB."""
    import bench

    for name in bench.HEADLINE:
        df = _df(name, spark, sf_dir)
        assert python_eval_count(df) == 0, name


def test_dynamic_partition_pruning_fires(spark, sf_dir, tmp_path):
    """Star-schema DPP: joining a hive-partitioned fact to a dim
    filtered only at runtime must inject a dynamicpruning expression
    into the fact scan's PartitionFilters — at 100 TB this is the
    difference between listing every date partition and only the ones
    the dim filter selects (static pruning can't see through the
    join)."""
    from pyspark.sql import functions as F

    from ondemand_dask_spark.io import load_table

    out = str(tmp_path / "orders_dpp")
    load_table(spark, sf_dir, "orders").write.partitionBy(
        "o_orderpriority"
    ).parquet(out)
    fact = spark.read.parquet(out)
    dim = (
        spark.read.parquet(out)
        .select("o_orderpriority", "o_orderstatus")
        .distinct()
        .filter(F.col("o_orderstatus") == "F")
        .withColumnRenamed("o_orderstatus", "d_status")
    )
    j = fact.join(dim, "o_orderpriority").groupBy("d_status").count()
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan


def test_jdbc_ingest_is_partitioned(spark, sf_dir):
    """source_jdbc_roundtrip must ingest through N parallel range
    cursors (partitionColumn/numPartitions), not one JDBC cursor —
    the only workable shape for pulling a large operational table."""
    from ondemand_dask_spark.registry import all_queries

    df = all_queries()["source_jdbc_roundtrip"].fn(spark, sf_dir)
    assert df.rdd.getNumPartitions() == 4


def test_simhash_single_shuffle(spark, sf_dir):
    """dedup_simhash: the 32 per-bit conditional sums are one
    groupBy(doc_id) — exactly one exchange, zero joins, no Python.
    (The historical shape — distinct-token counts × a bits-table
    cross join — carried three exchanges and a 32× row blow-up.)"""
    df = _df("dedup_simhash", spark, sf_dir)
    assert shuffle_count(df) == 1
    assert python_eval_count(df) == 0


def test_graph_triangle_plan_shape(spark, sf_dir):
    """Triangle census: the rank map must BROADCAST onto the edge
    list (orientation costs no exchange), adjacency attachment must
    be EQUI joins, and nothing may plan as a nested-loop/cartesian
    pair enumeration — the wedge-materializing O(sum d^2) shape the
    adjacency-intersection design replaces."""
    from ondemand_dask_spark.plans import plan_string

    df = _df("graph_triangle_count", spark, sf_dir)
    plan = plan_string(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert broadcast_join_count(df) >= 2  # rank map onto both ends
    assert python_eval_count(df) == 0


def test_graph_pagerank_plan_shape(spark, sf_dir):
    """PageRank supersteps: rank/degree maps are aggregate-derived
    and must broadcast; the only BNLJ allowed is the 1-row |V| frame
    cross-joined in (a scalar, not a pair enumeration); every
    contribution sum must partial-aggregate before its exchange."""
    from ondemand_dask_spark.plans import plan_string

    df = _df("graph_pagerank", spark, sf_dir)
    plan = plan_string(df)
    assert "CartesianProduct" not in plan
    assert python_eval_count(df) == 0
    assert plan.count("partial_sum") >= 3  # one map-side combine per superstep


def test_bloom_prefilter_prunes_probe(spark, sf_dir):
    """The explicit Bloom must actually shrink the probe side before
    the exact join — with a selective build predicate, the pruned
    probe row count sits strictly between the true-match count (no
    false negatives) and the full scan (real pruning)."""
    from pyspark.sql import functions as F

    from ondemand_dask_spark.io import load_table
    from ondemand_dask_spark.queries.joins import (
        _BLOOM_BITS,
        _BLOOM_PRICE,
    )

    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_totalprice") > _BLOOM_PRICE
    )
    li = load_table(spark, sf_dir, "lineitem")
    n_all = li.count()
    n_true = li.join(
        o.select("o_orderkey"),
        li["l_orderkey"] == o["o_orderkey"],
        "left_semi",
    ).count()

    def bucket(col):
        return F.pmod(F.xxhash64(col), F.lit(_BLOOM_BITS))

    bloom = (
        o.select(bucket(F.col("o_orderkey")).alias("bk"))
        .select(
            F.floor(F.col("bk") / 64).cast("long").alias("word"),
            F.expr(
                "shiftleft(CAST(1 AS BIGINT), CAST(bk % 64 AS INT))"
            ).alias("bit"),
        )
        .groupBy("word")
        .agg(F.bit_or("bit").alias("bits"))
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct("word", "bits"))
            ).alias("bloom")
        )
    )
    n_pruned = (
        li.crossJoin(F.broadcast(bloom))
        .withColumn("bk", bucket(F.col("l_orderkey")))
        .filter(
            F.expr(
                "(shiftright(coalesce("
                "element_at(bloom, CAST(floor(bk / 64) AS BIGINT)),"
                " CAST(0 AS BIGINT)), CAST(bk % 64 AS INT)) & 1) = 1"
            )
        )
        .count()
    )
    assert n_true <= n_pruned, "Bloom dropped a true match (false negative)"
    assert n_pruned < n_all, "Bloom pruned nothing — filter is vacuous"
