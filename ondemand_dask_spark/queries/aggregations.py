"""§2.D — aggregation surface.

Dask groupby is split-apply-combine with explicit (chunk, combine,
aggregate) decomposition; Spark's HashAggregateExec generates exactly
that partial→shuffle→final pipeline automatically, with map-side
combine — the shuffle carries |groups|×partitions rows, not the fact
table.  Everything here is a declarative groupBy/agg; rollup/cube/
grouping-sets are free upside Dask never had.

Determinism discipline (SURVEY.md §5.2.3): first/last/idxmax are
given explicit total orders (struct-ordered min_by/max_by with a
unique tiebreaker); quantiles use exact percentile (not approx);
floating aggregates round to 4 dp on both engines.
"""

from __future__ import annotations

import functools
import math
import operator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ondemand_dask_spark.io import load_table
from ondemand_dask_spark.registry import register

_R = 4


@register(
    "agg_groupby_basic",
    oracle=f"""
    SELECT l_returnflag,
           round((sum(l_quantity)) - 1e-9, {_R}) + 0.0  AS sum_qty,
           round((min(l_quantity)) - 1e-9, {_R}) + 0.0  AS min_qty,
           round((max(l_quantity)) - 1e-9, {_R}) + 0.0  AS max_qty,
           count(*)                      AS n_rows,
           count(l_quantity)             AS n_qty
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_groupby_basic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """groupby(k).sum/min/max/count/size — decomposable aggs."""
    return (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.round((F.sum("l_quantity")) - 1e-9, _R).alias("sum_qty"),
            F.round((F.min("l_quantity")) - 1e-9, _R).alias("min_qty"),
            F.round((F.max("l_quantity")) - 1e-9, _R).alias("max_qty"),
            F.count("*").alias("n_rows"),
            F.count("l_quantity").alias("n_qty"),
        )
    )


@register(
    "agg_groupby_stats",
    oracle=f"""
    SELECT c_nationkey,
           round((avg(c_acctbal)) - 1e-9, {_R}) + 0.0          AS mean_bal,
           round((var_samp(c_acctbal)) - 1e-9, {_R}) + 0.0     AS var_bal,
           round((stddev_samp(c_acctbal)) - 1e-9, {_R}) + 0.0  AS std_bal,
           round((stddev_samp(c_acctbal) / sqrt(count(c_acctbal))) - 1e-9, {_R}) + 0.0 AS sem_bal
    FROM customer GROUP BY c_nationkey
    """,
)
def agg_groupby_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """groupby(k).mean/var/std/sem — algebraic aggs (M2 combine)."""
    return (
        load_table(spark, sf_dir, "customer")
        .groupBy("c_nationkey")
        .agg(
            F.round((F.avg("c_acctbal")) - 1e-9, _R).alias("mean_bal"),
            F.round((F.var_samp("c_acctbal")) - 1e-9, _R).alias("var_bal"),
            F.round((F.stddev_samp("c_acctbal")) - 1e-9, _R).alias("std_bal"),
            F.round((F.stddev_samp("c_acctbal") / F.sqrt(F.count("c_acctbal"))) - 1e-9, _R
            ).alias("sem_bal"),
        )
    )


@register(
    "agg_first_last_ordered",
    oracle="""
    SELECT o_custkey,
           max(CASE WHEN rn_f = 1 THEN o_orderkey END) AS first_order,
           max(CASE WHEN rn_l = 1 THEN o_orderkey END) AS last_order
    FROM (
      SELECT o_custkey, o_orderkey,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_orderdate, o_orderkey) AS rn_f,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn_l
      FROM orders
    ) GROUP BY o_custkey
    """,
)
def agg_first_last_ordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """groupby(k).first/last — made deterministic with an explicit
    total order (orderdate, orderkey) via struct-ordered min_by/max_by
    (unordered first() is nondeterministic in both engines)."""
    o = load_table(spark, sf_dir, "orders")
    key = F.struct("o_orderdate", "o_orderkey")
    return o.groupBy("o_custkey").agg(
        F.min_by("o_orderkey", key).alias("first_order"),
        F.max_by("o_orderkey", key).alias("last_order"),
    )


@register(
    "agg_idxmax",
    oracle="""
    SELECT o_custkey, o_orderkey AS biggest_order FROM (
      SELECT o_custkey, o_orderkey,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey DESC) AS rn
      FROM orders
    ) WHERE rn = 1
    """,
)
def agg_idxmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ser.idxmax / groupby.idxmax — key of the extreme value
    (max_by), tie-broken by the unique orderkey."""
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_custkey").agg(
        F.max_by("o_orderkey", F.struct("o_totalprice", "o_orderkey")).alias(
            "biggest_order"
        )
    )


@register(
    "agg_nunique",
    oracle="""
    SELECT c_mktsegment, count(DISTINCT c_nationkey) AS n_nations
    FROM customer GROUP BY c_mktsegment
    """,
)
def agg_nunique(spark: SparkSession, sf_dir: str) -> DataFrame:
    """groupby(k).nunique — exact distinct count per group."""
    return (
        load_table(spark, sf_dir, "customer")
        .groupBy("c_mktsegment")
        .agg(F.countDistinct("c_nationkey").alias("n_nations"))
    )


@register(
    "agg_nunique_approx",
    oracle="""
    SELECT count(DISTINCT o_custkey) AS exact_custs,
           TRUE AS within_bound
    FROM orders
    """,
)
def agg_nunique_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ser.nunique_approx() — HyperLogLog distinct estimate.  At
    100 TB this is the right default for high-cardinality columns:
    fixed-size sketch, no distinct shuffle.  The raw estimate differs
    per engine, so the banded oracle hashes the exact count plus an
    in-query certificate that the estimate landed within 3x the
    configured relative standard deviation (rsd=0.02 → bound 6%)."""
    o = load_table(spark, sf_dir, "orders")
    est = o.agg(F.approx_count_distinct("o_custkey", 0.02).alias("approx_custs"))
    exact = o.agg(F.countDistinct("o_custkey").alias("exact_custs"))
    return est.crossJoin(F.broadcast(exact)).select(
        "exact_custs",
        (
            F.abs(F.col("approx_custs") - F.col("exact_custs"))
            / F.col("exact_custs")
            <= F.lit(0.06)
        ).alias("within_bound"),
    )


@register(
    "agg_quantile_approx",
    oracle=f"""
    SELECT l_returnflag,
           round(quantile_cont(l_extendedprice, 0.5) - 1e-9, {_R}) + 0.0
               AS median_exact,
           round(quantile_cont(l_extendedprice, 0.9) - 1e-9, {_R}) + 0.0
               AS p90_exact,
           TRUE AS within_bound
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_quantile_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ser.quantile via sketch (the t-digest analogue) —
    percentile_approx: single pass, fixed memory, no per-group value
    collection.  This is the 100 TB replacement for the exact
    `agg_groupby_quantile`; exactness is the only thing traded.
    Sketch cutpoints differ per engine, so the banded oracle hashes
    the exact interpolated quantiles plus an in-query certificate
    that each approx cutpoint lands within 1% (relative) of exact.
    The exact side comes from the distributed operator
    `exact_group_quantiles` (its probe picks the sort or the ranged
    path, as in agg_groupby_quantile) — NOT `F.percentile`, which
    would collect whole groups into single aggregation buffers and
    reintroduce exactly the OOM shape the sketch exists to avoid; the
    certificate join broadcasts the 3-row exact table."""
    from ondemand_dask_spark.operators.quantile import exact_group_quantiles

    li = load_table(spark, sf_dir, "lineitem")
    approx = li.groupBy("l_returnflag").agg(
        F.percentile_approx(
            "l_extendedprice", F.array(F.lit(0.5), F.lit(0.9)), 10000
        ).alias("approx_qs")
    )
    exact = exact_group_quantiles(
        li, ["l_returnflag"], "l_extendedprice", {"q50": 0.5, "q90": 0.9}
    )
    j = approx.join(F.broadcast(exact), "l_returnflag")
    rel_err = lambda i, c: F.abs(  # noqa: E731
        F.element_at("approx_qs", i) - F.col(c)
    ) / F.col(c)
    return j.select(
        "l_returnflag",
        F.round(F.col("q50") - 1e-9, _R).alias("median_exact"),
        F.round(F.col("q90") - 1e-9, _R).alias("p90_exact"),
        ((rel_err(1, "q50") <= 0.01) & (rel_err(2, "q90") <= 0.01)).alias(
            "within_bound"
        ),
    )


@register(
    "agg_multi",
    oracle=f"""
    SELECT l_linestatus,
           round((sum(l_extendedprice)) - 1e-9, {_R}) + 0.0 AS price_sum,
           round((avg(l_extendedprice)) - 1e-9, {_R}) + 0.0 AS price_mean,
           round((max(l_discount)) - 1e-9, {_R}) + 0.0      AS disc_max,
           count(DISTINCT l_suppkey)         AS n_supps
    FROM lineitem GROUP BY l_linestatus
    """,
)
def agg_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """groupby(k).agg({'a': ['sum','mean'], 'b': 'max'}) — multi-agg."""
    return (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_linestatus")
        .agg(
            F.round((F.sum("l_extendedprice")) - 1e-9, _R).alias("price_sum"),
            F.round((F.avg("l_extendedprice")) - 1e-9, _R).alias("price_mean"),
            F.round((F.max("l_discount")) - 1e-9, _R).alias("disc_max"),
            F.countDistinct("l_suppkey").alias("n_supps"),
        )
    )


@register(
    "agg_custom_geomean",
    oracle=f"""
    SELECT l_returnflag,
           round((exp(avg(ln(l_extendedprice)))) - 1e-9, {_R}) + 0.0 AS geo_mean_price
    FROM lineitem WHERE l_extendedprice > 0
    GROUP BY l_returnflag
    """,
)
def agg_custom_geomean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dd.Aggregation(chunk, agg, finalize) — custom decomposable
    aggregation expressed as composition of built-ins (exp∘avg∘ln),
    keeping the partial/final split and JVM codegen (no Python UDAF)."""
    return (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_extendedprice") > 0)
        .groupBy("l_returnflag")
        .agg(
            F.round((F.exp(F.avg(F.log(F.col("l_extendedprice"))))) - 1e-9, _R).alias(
                "geo_mean_price"
            )
        )
    )


@register(
    "agg_value_counts",
    oracle="""
    SELECT o_orderpriority AS value, count(*) AS count
    FROM orders GROUP BY o_orderpriority
    """,
)
def agg_value_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ser.value_counts() — count per distinct value."""
    return (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.col("o_orderpriority").alias("value"))
        .agg(F.count("*").alias("count"))
    )


@register(
    "agg_drop_duplicates",
    oracle="""
    SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders
    """,
)
def agg_drop_duplicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """df.drop_duplicates(subset) — distinct rows."""
    return (
        load_table(spark, sf_dir, "orders")
        .select("o_orderstatus", "o_orderpriority")
        .dropDuplicates()
    )


@register(
    "agg_drop_duplicates_keep_first",
    oracle="""
    SELECT c_mktsegment, c_custkey AS first_custkey FROM (
      SELECT c_mktsegment, c_custkey,
             row_number() OVER (PARTITION BY c_mktsegment ORDER BY c_custkey) AS rn
      FROM customer
    ) WHERE rn = 1
    """,
)
def agg_drop_duplicates_keep_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """drop_duplicates(keep='first') with an explicit order — the
    row_number()==1 window pattern (deterministic, unlike partition-
    order 'first')."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("c_mktsegment").orderBy("c_custkey")
    return (
        load_table(spark, sf_dir, "customer")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("c_mktsegment", F.col("c_custkey").alias("first_custkey"))
    )


@register(
    "agg_describe",
    oracle=f"""
    SELECT count(o_totalprice)                                  AS count,
           round((avg(o_totalprice)) - 1e-9, {_R}) + 0.0                       AS mean,
           round((stddev_samp(o_totalprice)) - 1e-9, {_R}) + 0.0               AS std,
           round((min(o_totalprice)) - 1e-9, {_R}) + 0.0                       AS min,
           round((quantile_cont(o_totalprice, 0.25)) - 1e-9, {_R}) + 0.0       AS p25,
           round((quantile_cont(o_totalprice, 0.50)) - 1e-9, {_R}) + 0.0       AS p50,
           round((quantile_cont(o_totalprice, 0.75)) - 1e-9, {_R}) + 0.0       AS p75,
           round((max(o_totalprice)) - 1e-9, {_R}) + 0.0                       AS max
    FROM orders
    """,
)
def agg_describe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """df.describe() — count/mean/std/min/quartiles/max with EXACT
    interpolated percentiles (matches DuckDB quantile_cont).
    `F.percentile` here collects the single group's values into one
    aggregation buffer — acceptable for an interactive whole-frame
    summary, but at 100 TB swap the quartiles for
    `exact_group_quantiles` (constant key: one group, so its probe
    picks the ranged path once the frame passes ~1M rows on more
    than two cores) or `percentile_approx`; the grouped queries
    already do (see agg_groupby_quantile / agg_quantile_approx)."""
    c = F.col("o_totalprice")
    return load_table(spark, sf_dir, "orders").agg(
        F.count(c).alias("count"),
        F.round((F.avg(c)) - 1e-9, _R).alias("mean"),
        F.round((F.stddev_samp(c)) - 1e-9, _R).alias("std"),
        F.round((F.min(c)) - 1e-9, _R).alias("min"),
        F.round((F.percentile(c, F.lit(0.25))) - 1e-9, _R).alias("p25"),
        F.round((F.percentile(c, F.lit(0.50))) - 1e-9, _R).alias("p50"),
        F.round((F.percentile(c, F.lit(0.75))) - 1e-9, _R).alias("p75"),
        F.round((F.max(c)) - 1e-9, _R).alias("max"),
    )


@register(
    "agg_groupby_quantile",
    oracle=f"""
    SELECT l_returnflag,
           round((quantile_cont(l_extendedprice, 0.5)) - 1e-9, {_R}) + 0.0  AS median_price,
           round((quantile_cont(l_extendedprice, 0.9)) - 1e-9, {_R}) + 0.0  AS p90_price
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_groupby_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ser.quantile(q) / groupby.quantile — exact percentile via the
    distributed operator `exact_group_quantiles`: `F.percentile`
    collects whole groups into single aggregation buffers (the 100 TB
    OOM shape); the sort path rank-interpolates over a per-group
    window sort, and when the largest group passes ~1M rows AND more
    than two cores' fair share of the rows, the probe switches to the
    RANGED path (range-partitioned distributed rank — every group
    sorts at cluster width) with identical quantile_cont semantics.
    The sf1 profile on 32 cores showed 13.6 s of the 14.7 s query in
    one window-sort task with 31 cores idle; ranged took it to 4.5 s
    (OPTIMIZATION_r15.md, "agg_groupby_quantile / agg_winsorize:
    ranged path past the knee").  On 4 cores the same three groups
    already fill the machine and sort wins (9.8 s vs 12.5 s forced
    ranged).  The probe is one scalar action that stores nothing; it
    picks sort at the bench SFs.  The sketch path is
    `agg_quantile_approx`."""
    from ondemand_dask_spark.operators.quantile import exact_group_quantiles

    li = load_table(spark, sf_dir, "lineitem")
    qdf = exact_group_quantiles(
        li, ["l_returnflag"], "l_extendedprice",
        {"median_price": 0.5, "p90_price": 0.9},
    )
    return qdf.select(
        "l_returnflag",
        F.round(F.col("median_price") - 1e-9, _R).alias("median_price"),
        F.round(F.col("p90_price") - 1e-9, _R).alias("p90_price"),
    )


@register(
    "agg_cov_corr",
    oracle=f"""
    SELECT round((covar_samp(l_quantity, l_extendedprice)) - 1e-9, {_R}) + 0.0 AS cov_qty_price,
           round((corr(l_quantity, l_extendedprice)) - 1e-9, {_R}) + 0.0       AS corr_qty_price
    FROM lineitem
    """,
)
def agg_cov_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """df.cov() / df.corr() — pairwise covariance / correlation."""
    return load_table(spark, sf_dir, "lineitem").agg(
        F.round((F.covar_samp("l_quantity", "l_extendedprice")) - 1e-9, _R).alias(
            "cov_qty_price"
        ),
        F.round((F.corr("l_quantity", "l_extendedprice")) - 1e-9, _R).alias("corr_qty_price"),
    )


@register(
    "agg_rollup",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           round((sum(l_quantity)) - 1e-9, {_R}) + 0.0 AS sum_qty,
           count(*) AS n
    FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical subtotals — rollup (absent in Dask; free in Spark)."""
    return (
        load_table(spark, sf_dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(
            F.round((F.sum("l_quantity")) - 1e-9, _R).alias("sum_qty"),
            F.count("*").alias("n"),
        )
    )


@register(
    "agg_cube",
    oracle=f"""
    SELECT o_orderstatus, o_orderpriority,
           round((sum(o_totalprice)) - 1e-9, {_R}) + 0.0 AS sum_price
    FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All grouping combinations — cube."""
    return (
        load_table(spark, sf_dir, "orders")
        .cube("o_orderstatus", "o_orderpriority")
        .agg(F.round((F.sum("o_totalprice")) - 1e-9, _R).alias("sum_price"))
    )


@register(
    "agg_grouping_sets",
    oracle=f"""
    SELECT c_mktsegment, c_nationkey,
           round((sum(c_acctbal)) - 1e-9, {_R}) + 0.0 AS sum_bal
    FROM customer
    GROUP BY GROUPING SETS ((c_mktsegment), (c_nationkey))
    """,
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit grouping sets via SQL (same Catalyst Expand node)."""
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    return spark.sql(
        f"""
        SELECT c_mktsegment, c_nationkey,
               round((sum(c_acctbal)) - 1e-9, {_R}) + 0.0 AS sum_bal
        FROM customer
        GROUP BY GROUPING SETS ((c_mktsegment), (c_nationkey))
        """
    )


@register(
    "agg_pivot",
    oracle=f"""
    SELECT c_mktsegment,
           round((sum(CASE WHEN o_orderstatus = 'F' THEN o_totalprice END)) - 1e-9, {_R}) + 0.0 AS F,
           round((sum(CASE WHEN o_orderstatus = 'O' THEN o_totalprice END)) - 1e-9, {_R}) + 0.0 AS O,
           round((sum(CASE WHEN o_orderstatus = 'P' THEN o_totalprice END)) - 1e-9, {_R}) + 0.0 AS P
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment
    """,
)
def agg_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """df.pivot_table — groupBy().pivot() with explicit values (so no
    extra distinct-discovery job; required at scale).  No broadcast
    hint on the customer join: customer grows with the fact table
    (unlike region/nation), so AQE picks broadcast from measured size
    at test SFs and a shuffled hash join when the dimension is TBs."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.round((F.sum("o_totalprice")) - 1e-9, _R))
    )


@register(
    "agg_melt",
    oracle="""
    SELECT p_partkey, 'p_size' AS variable, round((CAST(p_size AS DOUBLE)) - 1e-9, 4) + 0.0 AS value
    FROM part
    UNION ALL
    SELECT p_partkey, 'p_retailprice' AS variable, round((p_retailprice) - 1e-9, 4) + 0.0 AS value
    FROM part
    """,
)
def agg_melt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """df.melt(id_vars, value_vars) — wide → long unpivot."""
    return (
        load_table(spark, sf_dir, "part")
        .withColumn("p_size", F.col("p_size").cast("double"))
        .melt(
            ids=["p_partkey"],
            values=["p_size", "p_retailprice"],
            variableColumnName="variable",
            valueColumnName="value",
        )
        .withColumn("value", F.round(F.col("value") - 1e-9, 4))
    )


@register(
    "agg_frame_reduce",
    oracle=f"""
    SELECT round((sum(l_quantity)) - 1e-9, {_R}) + 0.0       AS total_qty,
           round((avg(l_discount)) - 1e-9, {_R}) + 0.0       AS mean_disc,
           round((min(l_extendedprice)) - 1e-9, {_R}) + 0.0  AS min_price,
           round((max(l_extendedprice)) - 1e-9, {_R}) + 0.0  AS max_price,
           count(*)                           AS n
    FROM lineitem
    """,
)
def agg_frame_reduce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """df.sum()/mean()/... — whole-frame one-row reduction."""
    return load_table(spark, sf_dir, "lineitem").agg(
        F.round((F.sum("l_quantity")) - 1e-9, _R).alias("total_qty"),
        F.round((F.avg("l_discount")) - 1e-9, _R).alias("mean_disc"),
        F.round((F.min("l_extendedprice")) - 1e-9, _R).alias("min_price"),
        F.round((F.max("l_extendedprice")) - 1e-9, _R).alias("max_price"),
        F.count("*").alias("n"),
    )


@register(
    "agg_collect_list_sorted",
    oracle="""
    SELECT n_regionkey,
           array_to_string(list(n_name ORDER BY n_name), ',') AS nations
    FROM nation GROUP BY n_regionkey
    """,
)
def agg_collect_list_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """groupby.agg(list) — collect_list, sorted inside the array for
    determinism (collect order is partition-dependent otherwise).
    Emitted as a comma-joined string: the driver hashes output values
    through pandas, where raw array cells are unhashable."""
    return (
        load_table(spark, sf_dir, "nation")
        .groupBy("n_regionkey")
        .agg(
            F.array_join(
                F.sort_array(F.collect_list("n_name")), ","
            ).alias("nations")
        )
    )


@register(
    "agg_product",
    oracle=f"""
    SELECT l_orderkey,
           round(product(1 + l_tax) - 1e-9, {_R}) + 0.0 AS tax_factor,
           count(*) AS n_lines
    FROM lineitem
    GROUP BY l_orderkey
    """,
)
def agg_product(spark: SparkSession, sf_dir: str) -> DataFrame:
    """groupby(k).prod — multiplicative aggregation (compounded tax
    factor per order).  F.product is a decomposable agg (partials
    multiply), so it partial-aggregates map-side like sum; groups here
    are order-sized (≤ 7 rows), keeping the product numerically tame —
    for long groups use exp∘sum∘ln (the cumprod pattern)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_orderkey").agg(
        F.round(F.product(1 + F.col("l_tax")) - 1e-9, _R).alias("tax_factor"),
        F.count("*").alias("n_lines"),
    )


@register(
    "agg_any_all",
    oracle="""
    SELECT event_type,
           bool_or(value > 900)  AS any_big,
           bool_and(value >= 0)  AS all_nonneg,
           count(*) FILTER (WHERE value > 900) AS n_big
    FROM events
    GROUP BY event_type
    """,
)
def agg_any_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ser.any() / ser.all() — boolean aggregation per group, plus the
    conditional-count FILTER idiom.  bool_and/bool_or are decomposable
    (partial-agg map-side) like sum."""
    e = load_table(spark, sf_dir, "events")
    big = F.col("value") > 900
    return e.groupBy("event_type").agg(
        F.bool_or(big).alias("any_big"),
        F.bool_and(F.col("value") >= 0).alias("all_nonneg"),
        F.count_if(big).alias("n_big"),
    )


@register(
    "agg_skew_kurt",
    oracle=f"""
    SELECT event_type,
           round(skewness(value) - 1e-9, {{_R}}) + 0.0 AS skew,
           round(kurtosis(value) - 1e-9, {{_R}}) + 0.0 AS kurt
    FROM events
    GROUP BY event_type
    """.format(_R=_R),
)
def agg_skew_kurt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ser.skew() / ser.kurt() — third/fourth standardized moments.
    Definition trap: Spark's skewness/kurtosis are POPULATION moments
    (g1, g2); pandas and DuckDB report bias-corrected SAMPLE versions
    (G1, G2).  The engine converts explicitly —
    G1 = g1·√(n(n−1))/(n−2),  G2 = ((n+1)·g2 + 6)·(n−1)/((n−2)(n−3))
    — so users get the pandas-compatible numbers a Dask migrant
    expects."""
    e = load_table(spark, sf_dir, "events")
    n = F.count("*").cast("double")
    g1 = F.skewness("value")
    g2 = F.kurtosis("value")
    G1 = g1 * F.sqrt(n * (n - 1)) / (n - 2)
    G2 = ((n + 1) * g2 + 6) * (n - 1) / ((n - 2) * (n - 3))
    return e.groupBy("event_type").agg(
        (F.round(G1 - 1e-9, _R) + F.lit(0.0)).alias("skew"),
        (F.round(G2 - 1e-9, _R) + F.lit(0.0)).alias("kurt"),
    )


@register(
    "agg_string_concat",
    oracle="""
    SELECT user_id,
           string_agg(event_type, ',' ORDER BY ts, event_id) AS journey,
           count(*) AS n
    FROM events
    WHERE event_id % 97 = 0
    GROUP BY user_id
    """,
)
def agg_string_concat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation (str.cat on a groupby — the user-
    journey idiom).  Spark's listagg is unordered, so the engine
    builds it deterministically: collect structs keyed by the sort
    columns, array_sort (struct ordering is field-by-field), then
    project + join — all JVM-side."""
    e = load_table(spark, sf_dir, "events").filter(F.col("event_id") % 97 == 0)
    journey = F.concat_ws(
        ",",
        F.transform(
            F.array_sort(F.collect_list(F.struct("ts", "event_id", "event_type"))),
            lambda s: s.getField("event_type"),
        ),
    )
    return e.groupBy("user_id").agg(
        journey.alias("journey"), F.count("*").alias("n")
    )


@register(
    "agg_quantile_disc",
    oracle=f"""
    SELECT event_type,
           round(quantile_disc(value, 0.5) - 1e-9, {{_R}}) + 0.0 AS median_disc,
           round(quantile_disc(value, 0.9) - 1e-9, {{_R}}) + 0.0 AS p90_disc
    FROM events
    GROUP BY event_type
    """.format(_R=_R),
)
def agg_quantile_disc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discrete (no-interpolation) grouped quantile — returns an
    actual data value, the variant for non-interpolable types.
    Implemented with the same sort-rank machinery as the continuous
    operator: the smallest value whose cumulative distribution ≥ q,
    i.e. 0-based rank ceil(q·n)−1 (the PostgreSQL/DuckDB
    percentile_disc rule — NOT floor(q·(n−1)), which differs above
    the median), via one window sort — never a per-group value
    collection."""
    from pyspark.sql.window import Window

    e = load_table(spark, sf_dir, "events")
    w_sort = Window.partitionBy("event_type").orderBy("value")
    w_all = Window.partitionBy("event_type")
    d = (
        e.select("event_type", F.col("value").cast("double").alias("value"))
        .withColumn("__rn", F.row_number().over(w_sort) - 1)
        .withColumn("__n", F.count("*").over(w_all))
    )
    picks = []
    for name, q in [("median_disc", 0.5), ("p90_disc", 0.9)]:
        rank = F.ceil(F.lit(q) * F.col("__n")) - 1
        picks.append(
            F.max(F.when(F.col("__rn") == rank, F.col("value"))).alias(name)
        )
    g = d.groupBy("event_type").agg(*picks)
    return g.select(
        "event_type",
        (F.round(F.col("median_disc") - 1e-9, _R) + F.lit(0.0)).alias("median_disc"),
        (F.round(F.col("p90_disc") - 1e-9, _R) + F.lit(0.0)).alias("p90_disc"),
    )


@register(
    "agg_regression",
    oracle=f"""
    SELECT l_returnflag,
           round((regr_slope(l_extendedprice, l_quantity)) - 1e-9, {_R}) + 0.0     AS slope,
           round((regr_intercept(l_extendedprice, l_quantity)) - 1e-9, {_R}) + 0.0 AS intercept,
           round((regr_r2(l_extendedprice, l_quantity)) - 1e-9, {_R}) + 0.0        AS r2,
           CAST(regr_count(l_extendedprice, l_quantity) AS BIGINT)                 AS n,
           round((regr_avgx(l_extendedprice, l_quantity)) - 1e-9, {_R}) + 0.0      AS avg_x,
           round((regr_avgy(l_extendedprice, l_quantity)) - 1e-9, {_R}) + 0.0      AS avg_y
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear-regression aggregate family — regr_slope/intercept/r2/
    count/avgx/avgy (the pandas idiom is cov(x,y)/var(x) per group;
    both engines have the SQL-standard aggregates natively).  Fully
    decomposable moments → partial/final hash agg, one shuffle of
    6 doubles per group regardless of group size."""
    li = load_table(spark, sf_dir, "lineitem")
    y, x = "l_extendedprice", "l_quantity"
    return li.groupBy("l_returnflag").agg(
        F.round((F.regr_slope(y, x)) - 1e-9, _R).alias("slope"),
        F.round((F.regr_intercept(y, x)) - 1e-9, _R).alias("intercept"),
        F.round((F.regr_r2(y, x)) - 1e-9, _R).alias("r2"),
        F.regr_count(y, x).cast("long").alias("n"),
        F.round((F.regr_avgx(y, x)) - 1e-9, _R).alias("avg_x"),
        F.round((F.regr_avgy(y, x)) - 1e-9, _R).alias("avg_y"),
    )


@register(
    "agg_hll_sketch_merge",
    oracle="""
    SELECT count(DISTINCT user_id) AS exact_users,
           TRUE AS within_bound
    FROM events
    """,
)
def agg_hll_sketch_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable distinct-count sketches — the incremental-pipeline
    shape approx_count_distinct (agg_nunique_approx) can't express:
    build one Datasketches HLL per DAY (hll_sketch_agg), then merge
    the day sketches (hll_union_agg) into the full-range estimate.
    At 100 TB this is how nightly partitions pre-aggregate once and
    every later rollup (week / month / ad-hoc range) is a merge of
    kilobyte sketches instead of a rescan.  The merged estimate is
    engine-internal, so the banded oracle hashes the exact distinct
    count plus an in-query certificate that the merged estimate lands
    within 5% (HLL lgk=12 ⇒ ~1.6% rsd; a wrong merge blows far past
    that)."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(F.date_trunc("day", "ts").alias("day")).agg(
        F.hll_sketch_agg("user_id").alias("sk")
    )
    merged = daily.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est_users")
    )
    exact = e.agg(F.countDistinct("user_id").alias("exact_users"))
    return merged.crossJoin(F.broadcast(exact)).select(
        "exact_users",
        (
            F.abs(F.col("est_users") - F.col("exact_users"))
            / F.col("exact_users")
            <= F.lit(0.05)
        ).alias("within_bound"),
    )


@register(
    "stat_crosstab",
    oracle="""
    SELECT o_orderpriority AS priority,
           CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS F,
           CAST(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS O,
           CAST(sum(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS P
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def stat_crosstab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pd.crosstab / df.stat.crosstab — contingency table of two
    categoricals.  Spark's native crosstab plans the same single
    partial+final pivot-agg as groupBy().pivot(); columns are pinned
    explicitly because crosstab orders them by discovery."""
    o = load_table(spark, sf_dir, "orders")
    ct = o.stat.crosstab("o_orderpriority", "o_orderstatus")
    return ct.select(
        F.col("o_orderpriority_o_orderstatus").alias("priority"),
        F.col("F").cast("long").alias("F"),
        F.col("O").cast("long").alias("O"),
        F.col("P").cast("long").alias("P"),
    )


@register(
    "stat_freq_items",
    oracle=None,  # approximate by contract (false positives allowed)
    twin="stat_freq_items_verified",
)
def stat_freq_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ser.value_counts head / df.stat.freqItems — single-pass
    frequent-item candidates (Karp-Schenker-Papadimitriou): every item
    above the support threshold is GUARANTEED present, false positives
    allowed — hence rows-only (the exact twin is `pipeline_heavy_
    hitters`).  Fixed memory per partition at any scale.  Arrays are
    sorted + comma-joined so the rows-only driver check can still
    canonicalize the frame through pandas."""
    o = load_table(spark, sf_dir, "orders")
    fi = o.stat.freqItems(["o_orderpriority", "o_orderstatus"], support=0.1)
    return fi.select(
        F.array_join(
            F.sort_array("o_orderpriority_freqItems"), ","
        ).alias("priority_freq_items"),
        F.array_join(
            F.sort_array("o_orderstatus_freqItems"), ","
        ).alias("status_freq_items"),
    )


@register(
    "stat_freq_items_verified",
    twin="stat_freq_items",
    oracle="""
    WITH tot AS (SELECT count(*) AS n FROM orders),
    p AS (SELECT o_orderpriority AS v, count(*) AS c
          FROM orders GROUP BY 1),
    s AS (SELECT o_orderstatus AS v, count(*) AS c
          FROM orders GROUP BY 1)
    SELECT
      COALESCE((SELECT string_agg(v, ',' ORDER BY v) FROM p, tot
                WHERE c > 0.1 * n), '') AS priority_freq_items,
      COALESCE((SELECT string_agg(v, ',' ORDER BY v) FROM s, tot
                WHERE c > 0.1 * n), '') AS status_freq_items
    """,
)
def stat_freq_items_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """freqItems hardened into a DETERMINISTIC operator: the KSP
    sketch guarantees every item with frequency > support appears in
    its candidate set (false positives allowed), so post-filtering
    the candidates against exact counts yields exactly the items
    above threshold — sketch speed on the scan, exact output, full
    oracle (the raw sketch output stays available as
    `stat_freq_items`, rows-only by contract).  The exact counts
    touch only the candidate values (a broadcast-joined handful),
    and the corpus total rides along as a broadcast 1-row
    crossJoin."""
    o = load_table(spark, sf_dir, "orders")
    n_total = o.agg(F.count("*").alias("n"))
    fi = o.stat.freqItems(["o_orderpriority", "o_orderstatus"], support=0.1)

    def verified(col: str, out: str) -> DataFrame:
        cand = fi.select(F.explode(f"{col}_freqItems").alias("v"))
        counts = o.groupBy(F.col(col).alias("v")).agg(
            F.count("*").alias("c")
        )
        return (
            cand.join(counts, "v")
            .crossJoin(F.broadcast(n_total))
            .filter(F.col("c") > 0.1 * F.col("n"))
            .agg(
                F.array_join(F.sort_array(F.collect_list("v")), ",").alias(out)
            )
        )

    return verified("o_orderpriority", "priority_freq_items").crossJoin(
        verified("o_orderstatus", "status_freq_items")
    )


@register(
    "agg_entropy",
    oracle=f"""
    WITH c AS (
      SELECT user_id, event_type, count(*) AS c
      FROM events GROUP BY user_id, event_type
    ), w AS (
      SELECT user_id, c,
             sum(c) OVER (PARTITION BY user_id) AS n
      FROM c
    )
    SELECT user_id,
           round((-sum((CAST(c AS DOUBLE) / n) * ln(CAST(c AS DOUBLE) / n)))
                 - 1e-9, {_R}) + 0.0 AS entropy,
           CAST(max(n) AS BIGINT) AS n_events
    FROM w GROUP BY user_id
    """,
)
def agg_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of each user's event-type mix (-sum p ln p) —
    the behavioral-diversity / class-balance diagnostic, composed
    from decomposable aggregates only: counts per (user, type), a
    per-user total via window (reuses the rows already grouped), and
    a final per-user sum.  No value collection anywhere — every stage
    is a hash aggregate, so the plan is identical at 100 TB; the
    widest intermediate is #users x #event_types rows."""
    from pyspark.sql.window import Window

    c = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id", "event_type")
        .agg(F.count("*").alias("c"))
    )
    n = F.sum("c").over(Window.partitionBy("user_id"))
    p = F.col("c").cast("double") / F.col("n")
    return (
        c.withColumn("n", n)
        .groupBy("user_id")
        .agg(
            F.round((-F.sum(p * F.log(p))) - 1e-9, _R).alias("entropy"),
            F.max("n").cast("long").alias("n_events"),
        )
    )


@register(
    "agg_gini",
    oracle=f"""
    WITH r AS (
      SELECT o_orderpriority AS pri, o_totalprice AS x,
             row_number() OVER (PARTITION BY o_orderpriority
                                ORDER BY o_totalprice, o_orderkey) AS r
      FROM orders
    )
    SELECT pri,
           round((2.0 * sum(r * x) / (count(*) * sum(x))
                  - (count(*) + 1.0) / count(*)) - 1e-9, {_R}) + 0.0 AS gini,
           CAST(count(*) AS BIGINT) AS n
    FROM r GROUP BY pri
    """,
)
def agg_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of order value per priority class — the
    inequality/concentration measure, via the rank formulation
    G = 2*sum(r_i*x_i)/(n*sum(x)) - (n+1)/n over values ranked
    ascending within each group (deterministic tiebreak on the key).
    One shuffle on the group key + per-group sort for row_number,
    then a plain hash aggregate.  Scale note: groups here are few and
    huge, the same shape as exact quantiles — the sort is
    per-partition after the hash exchange, and a selection-based
    rewrite (operators/quantile.py) applies if a single group ever
    outgrows a task."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    r = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("pri"),
        F.col("o_totalprice").alias("x"),
        F.row_number().over(w).alias("r"),
    )
    n = F.count("*")
    return r.groupBy("pri").agg(
        F.round(
            2.0 * F.sum(F.col("r") * F.col("x")) / (n * F.sum("x"))
            - (n + 1.0) / n
            - 1e-9,
            _R,
        ).alias("gini"),
        n.cast("long").alias("n"),
    )


@register(
    "agg_weighted_avg",
    oracle=f"""
    SELECT l_returnflag,
           round((sum(l_extendedprice * l_quantity) / sum(l_quantity))
                 - 1e-9, {_R}) + 0.0 AS wavg_price,
           round((sum(l_extendedprice * (1 - l_discount))
                  / sum(1 - l_discount)) - 1e-9, {_R}) + 0.0 AS wavg_net,
           CAST(count(*) AS BIGINT) AS n
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted mean per group — sum(w*x)/sum(w), the estimator every
    sampled/importance-weighted pipeline needs.  Pure decomposable
    sums (two per output), map-side partials, one shuffle of #groups
    rows; no pandas-style per-group apply."""
    li = load_table(spark, sf_dir, "lineitem")
    w1, w2 = F.col("l_quantity"), 1 - F.col("l_discount")
    x = F.col("l_extendedprice")
    return li.groupBy("l_returnflag").agg(
        F.round(F.sum(x * w1) / F.sum(w1) - 1e-9, _R).alias("wavg_price"),
        F.round(F.sum(x * w2) / F.sum(w2) - 1e-9, _R).alias("wavg_net"),
        F.count("*").cast("long").alias("n"),
    )


@register(
    "agg_conditional_filter",
    oracle=f"""
    SELECT l_returnflag,
           count(*) FILTER (WHERE l_discount > 0.05) AS n_disc,
           round((sum(l_extendedprice) FILTER (WHERE l_quantity > 25))
                 - 1e-9, {_R}) + 0.0 AS big_qty_rev,
           round((avg(l_extendedprice) FILTER (WHERE l_tax = 0))
                 - 1e-9, {_R}) + 0.0 AS tax_free_avg
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_conditional_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional aggregates — SQL's FILTER clause, pandas'
    masked-column agg idiom.  count_if and when()-guarded sum/avg
    keep everything one hash aggregate over a single scan (three
    filters share the pass; no per-condition subqueries), with the
    empty-set convention preserved: a group with no qualifying rows
    yields NULL for sum/avg, 0 for count, identically on both
    engines."""
    li = load_table(spark, sf_dir, "lineitem")
    x = F.col("l_extendedprice")
    return li.groupBy("l_returnflag").agg(
        F.count_if(F.col("l_discount") > 0.05).alias("n_disc"),
        F.round(
            F.sum(F.when(F.col("l_quantity") > 25, x)) - 1e-9, _R
        ).alias("big_qty_rev"),
        F.round(
            F.avg(F.when(F.col("l_tax") == 0, x)) - 1e-9, _R
        ).alias("tax_free_avg"),
    )


@register(
    "agg_mad",
    oracle=f"""
    WITH med AS (
      SELECT l_returnflag AS k, quantile_cont(l_extendedprice, 0.5) AS m
      FROM lineitem GROUP BY 1
    )
    SELECT k AS l_returnflag,
           round((quantile_cont(abs(l_extendedprice - m), 0.5))
                 - 1e-9, {_R}) + 0.0 AS mad,
           round(m - 1e-9, {_R}) + 0.0 AS median_price
    FROM lineitem l JOIN med ON med.k = l.l_returnflag
    GROUP BY k, m
    """,
)
def agg_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median absolute deviation per group — the robust spread
    estimator (outlier-proof where stddev is not): group median,
    broadcast it back, median of |x - m|.  Two median passes; the
    join side is #groups rows, so the fact table never shuffles for
    the join.  Uses the exact interpolated median (quantile_cont
    semantics on both engines); for few-huge-group corpora swap in
    the selection-based exact quantiles (operators/quantile.py) —
    same answer, bounded task memory."""
    li = load_table(spark, sf_dir, "lineitem")
    med = li.groupBy(F.col("l_returnflag").alias("k")).agg(
        F.median("l_extendedprice").alias("m")
    )
    j = li.join(
        F.broadcast(med), F.col("l_returnflag") == F.col("k")
    )
    return (
        j.groupBy("k", "m")
        .agg(
            F.round(
                F.median(F.abs(F.col("l_extendedprice") - F.col("m"))) - 1e-9,
                _R,
            ).alias("mad")
        )
        .select(
            F.col("k").alias("l_returnflag"),
            "mad",
            F.round(F.col("m") - 1e-9, _R).alias("median_price"),
        )
    )


_CORR_COLS = ("l_quantity", "l_extendedprice", "l_discount", "l_tax")


@register(
    "stat_corr_matrix",
    oracle=f"""
    SELECT {", ".join(
        f"round((corr({a}, {b})) - 1e-9, 4) + 0.0 AS corr_{a[2:]}_{b[2:]}"
        for ai, a in enumerate(_CORR_COLS)
        for b in _CORR_COLS[ai + 1:]
    )}
    FROM lineitem
    """,
)
def stat_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """df.corr() — the full pairwise correlation matrix (upper
    triangle of the _CORR_COLS columns, k·(k-1)/2 pairs) in ONE
    aggregation pass: every corr() is a decomposable moment
    aggregate, so Spark fuses all pairs into a single partial+final
    HashAggregate over a single scan — one shuffle of one row per
    partition, versus the naive per-pair loop's k² scans.  The same
    shape holds for any k: the pass stays O(k²) state per task,
    never O(rows)."""
    li = load_table(spark, sf_dir, "lineitem")
    aggs = [
        F.round(F.corr(a, b) - 1e-9, _R).alias(f"corr_{a[2:]}_{b[2:]}")
        for i, a in enumerate(_CORR_COLS)
        for b in _CORR_COLS[i + 1:]
    ]
    return li.agg(*aggs)


@register(
    "stat_welch_ttest",
    oracle=f"""
    WITH g AS (
      SELECT avg(CASE WHEN event_type = 'purchase' THEN value END) AS m1,
             var_samp(CASE WHEN event_type = 'purchase' THEN value END) AS v1,
             count(CASE WHEN event_type = 'purchase' THEN value END) AS n1,
             avg(CASE WHEN event_type = 'view' THEN value END) AS m2,
             var_samp(CASE WHEN event_type = 'view' THEN value END) AS v2,
             count(CASE WHEN event_type = 'view' THEN value END) AS n2
      FROM events
    )
    SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
           round((m1 - m2) - 1e-9, {_R}) + 0.0 AS mean_diff,
           round((m1 - m2) / sqrt(v1 / n1 + v2 / n2) - 1e-9, {_R}) + 0.0
             AS t_stat,
           round(pow(v1 / n1 + v2 / n2, 2)
                 / (pow(v1 / n1, 2) / (n1 - 1) + pow(v2 / n2, 2) / (n2 - 1))
                 - 1e-9, {_R}) + 0.0 AS welch_df
    FROM g
    """,
)
def stat_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's two-sample t-test (unequal variances) between the
    purchase and view event populations — the A/B-testing primitive.
    Both groups' moments come from ONE conditional-aggregate pass
    over the table (no per-group scan, no join): mean/var/count are
    decomposable, so the whole test is a single partial+final
    HashAggregate and the t statistic plus Welch–Satterthwaite
    degrees of freedom are scalar arithmetic on the 1-row result."""
    e = load_table(spark, sf_dir, "events")
    p = F.when(F.col("event_type") == "purchase", F.col("value"))
    v = F.when(F.col("event_type") == "view", F.col("value"))
    g = e.agg(
        F.avg(p).alias("m1"), F.var_samp(p).alias("v1"),
        F.count(p).alias("n1"),
        F.avg(v).alias("m2"), F.var_samp(v).alias("v2"),
        F.count(v).alias("n2"),
    )
    se2 = F.col("v1") / F.col("n1") + F.col("v2") / F.col("n2")
    dff = F.pow(se2, 2) / (
        F.pow(F.col("v1") / F.col("n1"), 2) / (F.col("n1") - 1)
        + F.pow(F.col("v2") / F.col("n2"), 2) / (F.col("n2") - 1)
    )
    return g.select(
        F.col("n1").cast("long").alias("n1"),
        F.col("n2").cast("long").alias("n2"),
        F.round(F.col("m1") - F.col("m2") - 1e-9, _R).alias("mean_diff"),
        F.round(
            (F.col("m1") - F.col("m2")) / F.sqrt(se2) - 1e-9, _R
        ).alias("t_stat"),
        F.round(dff - 1e-9, _R).alias("welch_df"),
    )


@register(
    "stat_chi2_independence",
    oracle=f"""
    WITH c AS (
      SELECT lang, source, count(*) AS o FROM documents GROUP BY 1, 2
    ),
    t AS (
      SELECT lang, source, o,
             sum(o) OVER (PARTITION BY lang)   AS row_tot,
             sum(o) OVER (PARTITION BY source) AS col_tot,
             sum(o) OVER ()                    AS n
      FROM c
    )
    SELECT CAST(count(DISTINCT lang) AS BIGINT)   AS n_rows_levels,
           CAST(count(DISTINCT source) AS BIGINT) AS n_col_levels,
           round(sum(pow(o - row_tot * col_tot / CAST(n AS DOUBLE), 2)
                     / (row_tot * col_tot / CAST(n AS DOUBLE))) - 1e-9, {_R})
             + 0.0 AS chi2,
           CAST((count(DISTINCT lang) - 1) * (count(DISTINCT source) - 1)
                AS BIGINT) AS dof
    FROM t
    """,
)
def stat_chi2_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson chi-square test of independence over the lang × source
    contingency table.  The corpus reduces to |lang|·|source| observed
    counts in one hash agg; marginals come from windows OVER THE
    COUNTS TABLE (a few dozen rows — the global window here is over
    the contingency cells, never the data), and the statistic is one
    more tiny agg.  The heavy lifting is exactly one shuffle of
    (lang, source, count) partials regardless of corpus size.

    NOTE cells with zero observed count are absent from the table —
    correct for chi2: missing cells contribute (0-e)²/e only when the
    marginals are nonzero, and a lang or source level absent entirely
    contributes nothing to either test or dof in both engines
    identically (the fixture corpus populates every cell)."""
    d = load_table(spark, sf_dir, "documents")
    c = d.groupBy("lang", "source").agg(F.count("*").alias("o"))
    from pyspark.sql.window import Window as W

    t = (
        c.withColumn("row_tot", F.sum("o").over(W.partitionBy("lang")))
        .withColumn("col_tot", F.sum("o").over(W.partitionBy("source")))
        .withColumn("n", F.sum("o").over(W.partitionBy()))
    )
    e = F.col("row_tot") * F.col("col_tot") / F.col("n").cast("double")
    return t.agg(
        F.countDistinct("lang").cast("long").alias("n_rows_levels"),
        F.countDistinct("source").cast("long").alias("n_col_levels"),
        F.round(F.sum(F.pow(F.col("o") - e, 2) / e) - 1e-9, _R).alias("chi2"),
        (
            (F.countDistinct("lang") - 1) * (F.countDistinct("source") - 1)
        ).cast("long").alias("dof"),
    )


@register(
    "stat_ks_two_sample",
    oracle=f"""
    WITH c AS (
      SELECT round(value, 3) AS v,
             count(CASE WHEN event_type = 'purchase' THEN 1 END) AS c1,
             count(CASE WHEN event_type = 'view' THEN 1 END)     AS c2
      FROM events WHERE event_type IN ('purchase', 'view')
      GROUP BY 1
    ),
    e AS (
      SELECT v,
             sum(c1) OVER (ORDER BY v) / CAST(sum(c1) OVER () AS DOUBLE)
               AS f1,
             sum(c2) OVER (ORDER BY v) / CAST(sum(c2) OVER () AS DOUBLE)
               AS f2
      FROM c
    )
    SELECT round(max(abs(f1 - f2)) - 1e-9, {_R}) + 0.0 AS ks_stat
    FROM e
    """,
)
def stat_ks_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov statistic (purchase vs view
    value distributions): max |ECDF₁ − ECDF₂|.  The corpus first
    collapses to per-DISTINCT-VALUE counts for both populations in
    one hash agg (values rounded to 3 dp so both engines bucket
    identically), so the ordered cumulative window runs over the
    distinct-value table — 10³-ish rows here, bounded by value
    cardinality, not row count.  The statistic is inherently a
    global order statistic: the single-partition window over
    DISTINCT VALUES is the honest exact computation (documented
    global-window exception, same class as sort_values_global); at
    truly unbounded value cardinality the scale path evaluates the
    same max-gap on a t-digest quantile grid instead, trading
    exactness for a fixed-size sort."""
    e = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "view")
    )
    c = e.groupBy(F.round("value", 3).alias("v")).agg(
        F.count(F.when(F.col("event_type") == "purchase", 1)).alias("c1"),
        F.count(F.when(F.col("event_type") == "view", 1)).alias("c2"),
    )
    from pyspark.sql.window import Window as W

    wo = W.orderBy("v").rowsBetween(W.unboundedPreceding, W.currentRow)
    wa = W.partitionBy()
    t = c.select(
        (F.sum("c1").over(wo) / F.sum("c1").over(wa).cast("double")).alias(
            "f1"
        ),
        (F.sum("c2").over(wo) / F.sum("c2").over(wa).cast("double")).alias(
            "f2"
        ),
    )
    return t.agg(
        F.round(F.max(F.abs(F.col("f1") - F.col("f2"))) - 1e-9, _R).alias(
            "ks_stat"
        )
    )


_PROFILE_COLS = (
    "o_orderkey", "o_custkey", "o_orderstatus",
    "o_totalprice", "o_orderpriority",
)


@register(
    "dq_profile_report",
    oracle=f"""
    {" UNION ALL ".join(
        f'''SELECT '{c}' AS col_name,
                   count(*) - count({c}) AS n_nulls,
                   count(DISTINCT {c})   AS n_distinct,
                   CAST(min({c}) AS VARCHAR) AS min_str,
                   CAST(max({c}) AS VARCHAR) AS max_str
            FROM orders''' for c in _PROFILE_COLS)}
    """,
)
def dq_profile_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-profiling report (the data-quality audit a pipeline
    runs before training): null count, distinct count, min, max for
    every profiled column, as a tidy (col_name, metrics) table.  All
    metrics for ALL columns compute in ONE aggregation pass — each
    is decomposable, so the plan is a single partial+final
    HashAggregate over a single scan producing one wide row, then a
    codegen'd explode unpivots it to tall form; the oracle's
    UNION-ALL-of-scans formulation is the semantic spec, not the
    plan (k scans vs one).  Min/max stringify so numeric and
    categorical columns share one report schema."""
    o = load_table(spark, sf_dir, "orders")
    aggs = []
    for c in _PROFILE_COLS:
        aggs += [
            (F.count("*") - F.count(c)).alias(f"__nn_{c}"),
            F.countDistinct(c).alias(f"__nd_{c}"),
            F.min(c).cast("string").alias(f"__mn_{c}"),
            F.max(c).cast("string").alias(f"__mx_{c}"),
        ]
    wide = o.agg(*aggs)
    rows = F.array(
        *[
            F.struct(
                F.lit(c).alias("col_name"),
                F.col(f"__nn_{c}").alias("n_nulls"),
                F.col(f"__nd_{c}").alias("n_distinct"),
                F.col(f"__mn_{c}").alias("min_str"),
                F.col(f"__mx_{c}").alias("max_str"),
            )
            for c in _PROFILE_COLS
        ]
    )
    return wide.select(F.explode(rows).alias("r")).select(
        "r.col_name", "r.n_nulls", "r.n_distinct", "r.min_str", "r.max_str"
    )


@register(
    "agg_winsorize",
    oracle=f"""
    WITH cuts AS (
      SELECT l_returnflag,
             quantile_cont(l_extendedprice, 0.05) AS lo,
             quantile_cont(l_extendedprice, 0.95) AS hi
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l.l_returnflag,
           count(CASE WHEN l.l_extendedprice < c.lo THEN 1 END) AS n_clipped_low,
           count(CASE WHEN l.l_extendedprice > c.hi THEN 1 END) AS n_clipped_high,
           round(avg(least(greatest(l.l_extendedprice, c.lo), c.hi)) - 1e-9, {_R}) + 0.0
             AS avg_winsorized,
           round(avg(l.l_extendedprice) - 1e-9, {_R}) + 0.0 AS avg_raw
    FROM lineitem l JOIN cuts c ON c.l_returnflag = l.l_returnflag
    GROUP BY l.l_returnflag
    """,
)
def agg_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorization (percentile clipping) per group — the outlier
    treatment a feature pipeline applies before scaling: values
    outside each group's [p05, p95] clamp to the cut.  Cutpoints come
    from the distributed EXACT quantile operator
    `exact_group_quantiles` (same quantile_cont semantics as the
    oracle, no per-task group collection; its probe picks the sort or
    the ranged path, as in agg_groupby_quantile), come back as a
    |groups|-row frame, and broadcast onto the fact scan — so the
    whole treatment is the quantile sort + one broadcast-join pass,
    no second wide shuffle.  Emits clip counts and the before/after
    means as the audit summary."""
    from ondemand_dask_spark.operators.quantile import exact_group_quantiles

    li = load_table(spark, sf_dir, "lineitem")
    cuts = exact_group_quantiles(
        li, ["l_returnflag"], "l_extendedprice",
        {"lo": 0.05, "hi": 0.95},
    )
    v = F.col("l_extendedprice")
    clipped = F.least(F.greatest(v, F.col("lo")), F.col("hi"))
    return (
        li.join(F.broadcast(cuts), "l_returnflag")
        .groupBy("l_returnflag")
        .agg(
            F.count(F.when(v < F.col("lo"), 1)).alias("n_clipped_low"),
            F.count(F.when(v > F.col("hi"), 1)).alias("n_clipped_high"),
            (F.round(F.avg(clipped) - 1e-9, _R) + F.lit(0.0)).alias(
                "avg_winsorized"
            ),
            (F.round(F.avg(v) - 1e-9, _R) + F.lit(0.0)).alias("avg_raw"),
        )
    )


# Deequ-style declarative constraint suite: (name, metric expression,
# pass predicate over the metric).  Every metric is decomposable, so
# the whole suite is ONE partial+final aggregation pass.
_DQ_MIN_ROWS = 100


@register(
    "dq_expectations",
    oracle=f"""
    WITH m AS (
      SELECT count(*) AS n_rows,
             CAST(count(o_custkey) AS DOUBLE) / count(*) AS completeness,
             CAST(count(DISTINCT o_orderkey) AS DOUBLE) / count(*) AS uniqueness,
             min(o_totalprice) AS min_price,
             max(o_totalprice) AS max_price,
             avg(CASE WHEN o_orderstatus IN ('O','F','P') THEN 1.0 ELSE 0.0 END)
               AS domain_ok
      FROM orders
    )
    SELECT 'row_count_min' AS constraint_name,
           round(CAST(n_rows AS DOUBLE) - 1e-9, {_R}) + 0.0 AS metric,
           n_rows >= {_DQ_MIN_ROWS} AS passed FROM m
    UNION ALL
    SELECT 'completeness_o_custkey', round(completeness - 1e-9, {_R}) + 0.0,
           completeness >= 1.0 FROM m
    UNION ALL
    SELECT 'uniqueness_o_orderkey', round(uniqueness - 1e-9, {_R}) + 0.0,
           uniqueness >= 1.0 FROM m
    UNION ALL
    SELECT 'min_o_totalprice_nonneg', round(min_price - 1e-9, {_R}) + 0.0,
           min_price >= 0 FROM m
    UNION ALL
    SELECT 'max_o_totalprice_bound', round(max_price - 1e-9, {_R}) + 0.0,
           max_price <= 1e7 FROM m
    UNION ALL
    SELECT 'domain_o_orderstatus', round(domain_ok - 1e-9, {_R}) + 0.0,
           domain_ok >= 1.0 FROM m
    """,
)
def dq_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality CONSTRAINT suite (the Deequ/
    great-expectations shape): completeness, key uniqueness, value
    bounds, domain membership, and a minimum row count — evaluated
    and reported as (constraint_name, metric, passed) rows.  Unlike
    dq_profile_report (which DESCRIBES columns), this VERIFIES
    expectations: the table a pipeline gates deployment on.  All six
    metrics are decomposable aggregates computed in ONE pass over the
    scan — a single partial+final HashAggregate producing one wide
    row, exploded to the tall report; the oracle's UNION-ALL is the
    spec, not the plan."""
    o = load_table(spark, sf_dir, "orders")
    wide = o.agg(
        F.count("*").alias("n_rows"),
        (F.count("o_custkey").cast("double") / F.count("*")).alias("comp"),
        (F.countDistinct("o_orderkey").cast("double") / F.count("*")).alias(
            "uniq"
        ),
        F.min("o_totalprice").alias("mn"),
        F.max("o_totalprice").alias("mx"),
        F.avg(
            F.when(F.col("o_orderstatus").isin("O", "F", "P"), 1.0).otherwise(
                0.0
            )
        ).alias("dom"),
    )
    rows = F.array(
        F.struct(
            F.lit("row_count_min").alias("constraint_name"),
            (F.round(F.col("n_rows").cast("double") - 1e-9, _R) + 0.0).alias(
                "metric"
            ),
            (F.col("n_rows") >= _DQ_MIN_ROWS).alias("passed"),
        ),
        F.struct(
            F.lit("completeness_o_custkey").alias("constraint_name"),
            (F.round(F.col("comp") - 1e-9, _R) + 0.0).alias("metric"),
            (F.col("comp") >= 1.0).alias("passed"),
        ),
        F.struct(
            F.lit("uniqueness_o_orderkey").alias("constraint_name"),
            (F.round(F.col("uniq") - 1e-9, _R) + 0.0).alias("metric"),
            (F.col("uniq") >= 1.0).alias("passed"),
        ),
        F.struct(
            F.lit("min_o_totalprice_nonneg").alias("constraint_name"),
            (F.round(F.col("mn") - 1e-9, _R) + 0.0).alias("metric"),
            (F.col("mn") >= 0).alias("passed"),
        ),
        F.struct(
            F.lit("max_o_totalprice_bound").alias("constraint_name"),
            (F.round(F.col("mx") - 1e-9, _R) + 0.0).alias("metric"),
            (F.col("mx") <= 1e7).alias("passed"),
        ),
        F.struct(
            F.lit("domain_o_orderstatus").alias("constraint_name"),
            (F.round(F.col("dom") - 1e-9, _R) + 0.0).alias("metric"),
            (F.col("dom") >= 1.0).alias("passed"),
        ),
    )
    return wide.select(F.explode(rows).alias("r")).select(
        "r.constraint_name", "r.metric", "r.passed"
    )


@register(
    "stat_mann_whitney",
    oracle=f"""
    WITH c AS (
      SELECT round(value, 3) AS v,
             count(CASE WHEN event_type = 'purchase' THEN 1 END) AS ca,
             count(CASE WHEN event_type = 'view' THEN 1 END) AS cb
      FROM events WHERE event_type IN ('purchase', 'view')
      GROUP BY round(value, 3)
    ),
    w AS (
      SELECT ca, cb,
             coalesce(sum(cb) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_b
      FROM c
    ),
    s AS (
      SELECT CAST(sum(ca) AS DOUBLE) AS na, CAST(sum(cb) AS DOUBLE) AS nb,
             CAST(sum(ca * (cum_b + cb / 2.0)) AS DOUBLE) AS u,
             CAST(sum((ca + cb) * (ca + cb) * (ca + cb) - (ca + cb)) AS DOUBLE)
               AS ties
      FROM w
    )
    SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
           round(u - 1e-9, {_R}) + 0.0 AS u_stat,
           round((u - na * nb / 2.0)
                 / sqrt(na * nb / 12.0
                        * ((na + nb + 1)
                           - ties / ((na + nb) * (na + nb - 1.0))))
                 - 1e-9, {_R}) + 0.0 AS z_score
    FROM s
    """,
)
def stat_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U (rank-sum) test, purchase vs view values — the
    nonparametric complement to stat_welch_ttest (no normality
    assumption; detects any stochastic ordering).  Rank arithmetic is
    re-expressed COUNT-side: U = Σ_v cA(v)·(cumB(<v) + cB(v)/2) over
    the per-distinct-value count table, with the classic tie
    correction in the variance — so the only window runs over the
    rounded-value counts table (the same bounded-input shape as
    agg_ks_two_sample), never a data-sized global rank.  One
    token-level agg + one counts-table window + one scalar agg; the
    z-score against the tie-corrected normal approximation is the
    decision value at any real sample size."""
    e = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "view")
    )
    c = e.groupBy(F.round("value", 3).alias("v")).agg(
        F.count(F.when(F.col("event_type") == "purchase", 1)).alias("ca"),
        F.count(F.when(F.col("event_type") == "view", 1)).alias("cb"),
    )
    from pyspark.sql.window import Window as W

    cum_b = F.coalesce(
        F.sum("cb").over(
            W.orderBy("v").rowsBetween(W.unboundedPreceding, -1)
        ),
        F.lit(0),
    )
    w = c.select("ca", "cb", cum_b.alias("cum_b"))
    t = F.col("ca") + F.col("cb")
    s = w.agg(
        F.sum("ca").cast("double").alias("na"),
        F.sum("cb").cast("double").alias("nb"),
        F.sum(F.col("ca") * (F.col("cum_b") + F.col("cb") / 2.0))
        .cast("double")
        .alias("u"),
        F.sum(t * t * t - t).cast("double").alias("ties"),
    )
    na, nb, u, ties = F.col("na"), F.col("nb"), F.col("u"), F.col("ties")
    var = na * nb / 12.0 * ((na + nb + 1) - ties / ((na + nb) * (na + nb - 1.0)))
    return s.select(
        na.cast("long").alias("n_a"),
        nb.cast("long").alias("n_b"),
        (F.round(u - 1e-9, _R) + 0.0).alias("u_stat"),
        (F.round((u - na * nb / 2.0) / F.sqrt(var) - 1e-9, _R) + 0.0).alias(
            "z_score"
        ),
    )


@register(
    "stat_kll_quantile_banded",
    oracle=f"""
    SELECT l_returnflag,
           round(quantile_cont(l_extendedprice, 0.5) - 1e-9, {_R}) + 0.0
             AS median_exact,
           round(quantile_cont(l_extendedprice, 0.9) - 1e-9, {_R}) + 0.0
             AS p90_exact,
           TRUE AS within_bound
    FROM lineitem GROUP BY l_returnflag
    """,
)
def stat_kll_quantile_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantiles from a KLL sketch (Apache DataSketches, Spark 4
    `kll_sketch_agg_double`) — the MERGEABLE quantile path: unlike
    percentile_approx's GK summary, KLL sketches from different
    partitions/days/tenants merge losslessly with
    `kll_sketch_merge_double`, which is what a 100 TB rollup pipeline
    actually stores (per-shard sketches, merged at query time).
    k=2048 bounds rank error ≈ 0.4%; the banded oracle hashes the
    exact quantiles (`exact_group_quantiles`, same as
    agg_quantile_approx — never F.percentile's group collection)
    plus a certificate that each sketch cutpoint lands within 2%
    relative of exact."""
    from ondemand_dask_spark.operators.quantile import exact_group_quantiles

    li = load_table(spark, sf_dir, "lineitem")
    sk = li.groupBy("l_returnflag").agg(
        F.kll_sketch_agg_double(
            F.col("l_extendedprice").cast("double"), F.lit(2048)
        ).alias("sk")
    )
    approx = sk.select(
        "l_returnflag",
        F.kll_sketch_get_quantile_double("sk", F.lit(0.5)).alias("med_a"),
        F.kll_sketch_get_quantile_double("sk", F.lit(0.9)).alias("p90_a"),
    )
    exact = exact_group_quantiles(
        li, ["l_returnflag"], "l_extendedprice",
        {"median_exact": 0.5, "p90_exact": 0.9},
    )
    j = approx.join(F.broadcast(exact), "l_returnflag")
    ok = (
        (F.abs(F.col("med_a") - F.col("median_exact")) / F.col("median_exact")
         <= 0.02)
        & (F.abs(F.col("p90_a") - F.col("p90_exact")) / F.col("p90_exact")
           <= 0.02)
    )
    return j.select(
        "l_returnflag",
        (F.round(F.col("median_exact") - 1e-9, _R) + F.lit(0.0)).alias(
            "median_exact"
        ),
        (F.round(F.col("p90_exact") - 1e-9, _R) + F.lit(0.0)).alias(
            "p90_exact"
        ),
        ok.alias("within_bound"),
    )


@register(
    "stat_theta_intersection_banded",
    oracle="""
    SELECT count(*) AS exact_both, TRUE AS within_bound
    FROM (
      SELECT user_id FROM events WHERE event_type = 'purchase'
      INTERSECT
      SELECT user_id FROM events WHERE event_type = 'view'
    )
    """,
)
def stat_theta_intersection_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-set INTERSECTION cardinality from theta sketches
    (Spark 4 `theta_sketch_agg` + `theta_intersection`) — the
    estimator family HLL cannot provide: HLL unions merge but
    intersections need inclusion-exclusion with compounding error,
    while theta sketches intersect natively.  The 100 TB use:
    audience overlap / retention ('users who did A and B') from
    per-segment sketches without ever co-shuffling the raw id sets.
    Each side is one partial+final sketch agg; the intersection and
    estimate are scalar expressions over the two binary sketches.
    Banded oracle: exact |A ∩ B| via INTERSECT, certificate that the
    estimate lands within 5%."""
    e = load_table(spark, sf_dir, "events")
    sk = (
        e.filter(F.col("event_type").isin("purchase", "view"))
        .groupBy("event_type")
        .agg(F.theta_sketch_agg("user_id").alias("sk"))
    )
    p = sk.filter(F.col("event_type") == "purchase").select(
        F.col("sk").alias("sk_p")
    )
    v = sk.filter(F.col("event_type") == "view").select(
        F.col("sk").alias("sk_v")
    )
    est = p.crossJoin(F.broadcast(v)).select(
        F.theta_sketch_estimate(
            F.theta_intersection("sk_p", "sk_v")
        ).alias("est_both")
    )
    exact = (
        e.filter(F.col("event_type") == "purchase")
        .select("user_id")
        .intersect(
            e.filter(F.col("event_type") == "view").select("user_id")
        )
        .agg(F.count("*").alias("exact_both"))
    )
    return est.crossJoin(F.broadcast(exact)).select(
        "exact_both",
        (
            F.abs(F.col("est_both") - F.col("exact_both"))
            / F.col("exact_both")
            <= 0.05
        ).alias("within_bound"),
    )


# Poisson(1) CDF thresholds, truncated at k=5 (residual mass 6e-4;
# truncation identical on both engines so the check stays exact).
_POIS = (0.367879441, 0.735758882, 0.919698603, 0.980988177, 0.996340153)
_BOOT_B = 50
_BOOT_HASH_SQL = (
    "CAST('0x' || substr(md5('boot|' || b || '|' || event_id), 1, 15)"
    " AS BIGINT)"
)


@register(
    "stat_bootstrap_ci",
    oracle=f"""
    WITH src AS (SELECT event_id, value FROM events),
    reps AS (SELECT unnest(generate_series(1, {_BOOT_B})) AS b),
    u AS (
      SELECT b, value,
             ({_BOOT_HASH_SQL} % 1000000) / 1000000.0 AS u
      FROM src CROSS JOIN reps
    ),
    k AS (
      SELECT b, value,
             CASE WHEN u < {_POIS[0]} THEN 0
                  WHEN u < {_POIS[1]} THEN 1
                  WHEN u < {_POIS[2]} THEN 2
                  WHEN u < {_POIS[3]} THEN 3
                  WHEN u < {_POIS[4]} THEN 4
                  ELSE 5 END AS wt
      FROM u
    ),
    means AS (
      SELECT b, sum(wt * value) / sum(wt) AS m FROM k GROUP BY b
    ),
    f AS (SELECT avg(value) AS mean_full FROM src)
    SELECT round(mean_full - 1e-9, {_R}) + 0.0 AS mean_full,
           round(quantile_cont(m, 0.025) - 1e-9, {_R}) + 0.0 AS ci_lo,
           round(quantile_cont(m, 0.975) - 1e-9, {_R}) + 0.0 AS ci_hi,
           round(stddev_samp(m) - 1e-9, {_R}) + 0.0 AS se_boot
    FROM means CROSS JOIN f GROUP BY mean_full
    """,
)
def stat_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bootstrap confidence interval by POISSON RESAMPLING — the
    canonical distributed bootstrap (per-row Poisson(1) weights
    approximate multinomial resampling without materializing any
    resample, the trick behind bag-of-little-bootstraps pipelines):
    each of B=_BOOT_B replicates assigns every row a weight drawn from
    Poisson(1) via a DETERMINISTIC salted-hash uniform (the repo's
    portable md5 hash, so both engines draw identical weights and
    the whole randomized procedure hash-checks exactly — no RNG).
    Plan: one narrow B-way explode, one groupBy(replicate) weighted
    mean (the only data shuffle, carrying B rows per partition after
    partial agg), then percentile over the B-row means table —
    bounded, so the exact interpolating percentile is safe here.
    Emits the full-sample mean, the 95% percentile CI, and the
    bootstrap standard error."""
    from ondemand_dask_spark.functions.texthash import portable_hash64

    e = load_table(spark, sf_dir, "events").select("event_id", "value")
    reps = e.select(
        "event_id", "value",
        F.explode(F.sequence(F.lit(1), F.lit(_BOOT_B))).alias("b"),
    )
    u = (
        portable_hash64(
            F.concat_ws("|", F.lit("boot"), F.col("b"), F.col("event_id"))
        )
        % 1_000_000
    ) / 1_000_000.0
    wt = (
        F.when(u < _POIS[0], 0)
        .when(u < _POIS[1], 1)
        .when(u < _POIS[2], 2)
        .when(u < _POIS[3], 3)
        .when(u < _POIS[4], 4)
        .otherwise(5)
    )
    means = (
        reps.select("b", "value", wt.alias("wt"))
        .groupBy("b")
        .agg(
            (F.sum(F.col("wt") * F.col("value")) / F.sum("wt")).alias("m")
        )
    )
    f = e.agg(F.avg("value").alias("mean_full"))
    return (
        means.crossJoin(F.broadcast(f))
        .groupBy("mean_full")
        .agg(
            F.percentile("m", F.lit(0.025)).alias("lo"),
            F.percentile("m", F.lit(0.975)).alias("hi"),
            F.stddev_samp("m").alias("se"),
        )
        .select(
            F.round(F.col("mean_full") - 1e-9, _R).alias("mean_full"),
            F.round(F.col("lo") - 1e-9, _R).alias("ci_lo"),
            F.round(F.col("hi") - 1e-9, _R).alias("ci_hi"),
            F.round(F.col("se") - 1e-9, _R).alias("se_boot"),
        )
    )


@register(
    "stat_theil_sen_slope",
    oracle=f"""
    WITH e AS (
      SELECT user_id, event_id, epoch_us(ts) / 1e6 AS t, value
      FROM events
    ),
    slopes AS (
      SELECT a.user_id,
             (b.value - a.value) / (b.t - a.t) AS s
      FROM e a JOIN e b
        ON a.user_id = b.user_id
       AND (a.t < b.t OR (a.t = b.t AND a.event_id < b.event_id))
      WHERE a.t != b.t
    )
    SELECT user_id,
           count(*) AS n_pairs,
           round(quantile_cont(s, 0.5) - 1e-9, {_R}) + 0.0 AS ts_slope
    FROM slopes GROUP BY user_id
    """,
)
def stat_theil_sen_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil–Sen slope per key — the ROBUST trend estimator (median
    of all pairwise slopes; 29% breakdown point, vs OLS's zero):
    one wild outlier in a user's series bends the least-squares
    slope arbitrarily but moves the pairwise-slope median not at
    all.  Pairwise by definition — O(k²) per key — so the join is
    BLOCKED on the key: the equi-join on user_id makes candidate
    volume Σ C(k_u, 2), never n², the same discipline as every
    pairwise op here.  At 100 TB, keys with unbounded series get
    the standard cut first (cap per-key points by recency or
    hash-sample — the estimator tolerates sampling precisely
    because it is a median).  The slope median itself rides the
    interpolating percentile over each key's bounded slope set."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id",
        (F.unix_micros(F.col("ts").cast("timestamp")) / 1e6).alias("t"),
        "value",
    )
    a, b = e.alias("a"), e.alias("b")
    slopes = (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (
                (F.col("a.t") < F.col("b.t"))
                | (
                    (F.col("a.t") == F.col("b.t"))
                    & (F.col("a.event_id") < F.col("b.event_id"))
                )
            ),
        )
        .where(F.col("a.t") != F.col("b.t"))
        .select(
            F.col("a.user_id").alias("user_id"),
            (
                (F.col("b.value") - F.col("a.value"))
                / (F.col("b.t") - F.col("a.t"))
            ).alias("s"),
        )
    )
    return slopes.groupBy("user_id").agg(
        F.count("*").alias("n_pairs"),
        (F.round(F.percentile("s", F.lit(0.5)) - 1e-9, _R) + 0.0).alias(
            "ts_slope"
        ),
    )


@register(
    "agg_rollup_grouping_id",
    oracle=f"""
    SELECT coalesce(l_returnflag, 'ALL') AS flag,
           coalesce(l_linestatus, 'ALL') AS status,
           CAST(GROUPING(l_returnflag) AS INT) AS g_flag,
           CAST(GROUPING(l_linestatus) AS INT) AS g_status,
           count(*) AS n,
           round(sum(l_quantity) - 1e-9, {_R}) + 0.0 AS sum_qty
    FROM lineitem
    GROUP BY ROLLUP(l_returnflag, l_linestatus)
    """,
)
def agg_rollup_grouping_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP with GROUPING() markers — the correctness subtlety
    plain rollup output hides: a NULL group key can mean 'the data
    was NULL' or 'this row is a subtotal', and only the grouping
    indicator distinguishes them.  Report tooling keys on the
    indicator, not the coalesced label.  Same single partial+final
    aggregate as agg_rollup; the markers are free metadata from the
    grouping-set expansion."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("n"),
        F.round(F.sum("l_quantity") - 1e-9, _R).alias("sum_qty"),
        F.grouping("l_returnflag").cast("int").alias("g_flag"),
        F.grouping("l_linestatus").cast("int").alias("g_status"),
    ).select(
        F.coalesce("l_returnflag", F.lit("ALL")).alias("flag"),
        F.coalesce("l_linestatus", F.lit("ALL")).alias("status"),
        "g_flag", "g_status", "n", "sum_qty",
    )


@register(
    "agg_weighted_median",
    oracle=f"""
    WITH w AS (
      SELECT l_returnflag, l_extendedprice AS v, l_quantity AS wt,
             sum(l_quantity) OVER (
               PARTITION BY l_returnflag ORDER BY l_extendedprice, l_orderkey, l_linenumber
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
             sum(l_quantity) OVER (PARTITION BY l_returnflag) AS tw
      FROM lineitem
    )
    SELECT l_returnflag,
           round(min(v) - 1e-9, {_R}) + 0.0 AS weighted_median,
           round(CAST(min(tw) AS DOUBLE) - 1e-9, {_R}) + 0.0 AS total_weight
    FROM w
    WHERE cw >= tw / 2.0
    GROUP BY l_returnflag
    """,
)
def agg_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WEIGHTED median per group (lower weighted median: the first
    value whose running weight reaches half the total) — the
    estimator survey-statistics and fairness-weighting pipelines
    need, which no built-in quantile provides.  Same scale shape as
    the exact-quantile sort path: one hash-partitioned window sort
    accumulates weights, a whole-partition window attaches the
    total, and only the boundary-crossing rows survive into a
    min-aggregate — per-task memory O(1), no per-group value
    collection.  The (value, orderkey, linenumber) sort tiebreak
    makes the crossing row — and therefore the answer — identical
    on both engines even under duplicate prices."""
    li = load_table(spark, sf_dir, "lineitem")
    from pyspark.sql.window import Window as W

    wo = W.partitionBy("l_returnflag").orderBy(
        "l_extendedprice", "l_orderkey", "l_linenumber"
    ).rowsBetween(W.unboundedPreceding, W.currentRow)
    wa = W.partitionBy("l_returnflag")
    t = li.select(
        "l_returnflag",
        F.col("l_extendedprice").alias("v"),
        F.sum("l_quantity").over(wo).alias("cw"),
        F.sum("l_quantity").over(wa).alias("tw"),
    )
    return (
        t.filter(F.col("cw") >= F.col("tw") / 2.0)
        .groupBy("l_returnflag")
        .agg(
            F.round(F.min("v") - 1e-9, _R).alias("weighted_median"),
            F.round(F.min("tw").cast("double") - 1e-9, _R).alias(
                "total_weight"
            ),
        )
    )


_PSI_BUCKETS = (2000.0, 4000.0, 6000.0, 8000.0)  # o_totalprice cuts


@register(
    "dq_psi_drift",
    oracle=f"""
    WITH b AS (
      SELECT CASE WHEN o_orderkey % 2 = 0 THEN 'expected' ELSE 'actual' END
               AS snap,
             (CASE WHEN o_totalprice > {_PSI_BUCKETS[0]} THEN 1 ELSE 0 END
            + CASE WHEN o_totalprice > {_PSI_BUCKETS[1]} THEN 1 ELSE 0 END
            + CASE WHEN o_totalprice > {_PSI_BUCKETS[2]} THEN 1 ELSE 0 END
            + CASE WHEN o_totalprice > {_PSI_BUCKETS[3]} THEN 1 ELSE 0 END)
               AS bucket
      FROM orders
    ),
    cnt AS (
      SELECT bucket,
             sum(CASE WHEN snap = 'expected' THEN 1 ELSE 0 END) AS ne,
             sum(CASE WHEN snap = 'actual' THEN 1 ELSE 0 END) AS na
      FROM b GROUP BY bucket
    ),
    tot AS (SELECT sum(ne) AS te, sum(na) AS ta FROM cnt),
    rates AS (
      SELECT bucket, ne, na,
             greatest(CAST(ne AS DOUBLE) / te, 1e-6) AS pe,
             greatest(CAST(na AS DOUBLE) / ta, 1e-6) AS pa
      FROM cnt CROSS JOIN tot
    )
    SELECT bucket,
           CAST(ne AS BIGINT) AS n_expected,
           CAST(na AS BIGINT) AS n_actual,
           round((pa - pe) * ln(pa / pe) - 1e-9, 6) + 0.0 AS psi_term
    FROM rates
    """,
)
def dq_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index between two dataset snapshots (the
    even/odd o_orderkey halves stand in for yesterday/today) — the
    standard drift monitor a feature store runs per column per day:
    bucketize on FIXED cutpoints, compare bucket mass, PSI term
    (p_a − p_e)·ln(p_a/p_e) per bucket (Σ < 0.1 stable, > 0.25
    drifted).  One conditional-aggregate pass computes both
    snapshots' histograms (no join between snapshots, no second
    scan); totals attach as a 1-row broadcast; the 1e-6 floor keeps
    empty buckets finite exactly like production PSI does.  Fixed
    cutpoints (not per-snapshot quantiles) are what make day-over-day
    PSI comparable, and they keep the bucketizer pure codegen."""
    o = load_table(spark, sf_dir, "orders")
    bucket = functools.reduce(
        operator.add,
        [
            (F.col("o_totalprice") > F.lit(c)).cast("int")
            for c in _PSI_BUCKETS
        ],
    )
    snap_e = (F.col("o_orderkey") % 2 == 0).cast("int")
    cnt = o.select(bucket.alias("bucket"), snap_e.alias("is_e")).groupBy(
        "bucket"
    ).agg(
        F.sum("is_e").alias("ne"),
        F.sum(1 - F.col("is_e")).alias("na"),
    )
    tot = cnt.agg(F.sum("ne").alias("te"), F.sum("na").alias("ta"))
    rates = cnt.crossJoin(F.broadcast(tot)).select(
        "bucket", "ne", "na",
        F.greatest(F.col("ne").cast("double") / F.col("te"), F.lit(1e-6)
                   ).alias("pe"),
        F.greatest(F.col("na").cast("double") / F.col("ta"), F.lit(1e-6)
                   ).alias("pa"),
    )
    return rates.select(
        "bucket",
        F.col("ne").cast("long").alias("n_expected"),
        F.col("na").cast("long").alias("n_actual"),
        (
            F.round(
                (F.col("pa") - F.col("pe")) * F.log(F.col("pa") / F.col("pe"))
                - 1e-9,
                6,
            )
            + F.lit(0.0)
        ).alias("psi_term"),
    )


@register(
    "stat_anova_oneway",
    oracle="""
    WITH g AS (
      SELECT l_returnflag AS grp, count(*) AS n, avg(l_extendedprice) AS m,
             sum(l_extendedprice) AS s,
             sum(l_extendedprice * l_extendedprice) AS ss
      FROM lineitem GROUP BY l_returnflag
    ),
    tot AS (
      SELECT sum(n) AS nt, sum(s) / sum(n) AS gm, count(*) AS k FROM g
    ),
    parts AS (
      SELECT sum(n * (m - gm) * (m - gm)) AS ssb,
             sum(ss - n * m * m) AS ssw,
             max(nt) AS nt, max(k) AS k
      FROM g CROSS JOIN tot
    )
    SELECT CAST(k AS BIGINT) AS k_groups,
           CAST(nt AS BIGINT) AS n_total,
           round(ssb / (k - 1) / (ssw / (nt - k)) - 1e-9, 4) + 0.0
             AS f_stat
    FROM parts
    """,
)
def stat_anova_oneway(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA F statistic across the l_returnflag groups — the
    k-group generalization of the t-test (does ANY group's mean
    differ?).  Fully decomposable: per-group (n, mean, sum, sum-of-
    squares) is one partial-agg groupBy; between/within sums of
    squares reduce the k-row group table with the 1-row grand mean
    attached; F = (SSB/(k−1)) / (SSW/(N−k)) is scalar arithmetic.
    Two tiny aggregations beyond the single data pass — the shape
    that runs identically on 100 TB."""
    li = load_table(spark, sf_dir, "lineitem")
    v = F.col("l_extendedprice")
    g = li.groupBy(F.col("l_returnflag").alias("grp")).agg(
        F.count("*").alias("n"),
        F.avg(v).alias("m"),
        F.sum(v).alias("s"),
        F.sum(v * v).alias("ss"),
    )
    tot = g.agg(
        F.sum("n").alias("nt"),
        (F.sum("s") / F.sum("n")).alias("gm"),
        F.count("*").alias("k"),
    )
    parts = g.crossJoin(F.broadcast(tot)).agg(
        F.sum(
            F.col("n") * (F.col("m") - F.col("gm")) * (F.col("m") - F.col("gm"))
        ).alias("ssb"),
        F.sum(F.col("ss") - F.col("n") * F.col("m") * F.col("m")).alias("ssw"),
        F.max("nt").alias("nt"),
        F.max("k").alias("k"),
    )
    return parts.select(
        F.col("k").cast("long").alias("k_groups"),
        F.col("nt").cast("long").alias("n_total"),
        (
            F.round(
                F.col("ssb") / (F.col("k") - 1)
                / (F.col("ssw") / (F.col("nt") - F.col("k")))
                - 1e-9,
                4,
            )
            + F.lit(0.0)
        ).alias("f_stat"),
    )


@register(
    "stat_spearman_corr",
    oracle="""
    WITH r AS (
      SELECT rank() OVER (ORDER BY o_totalprice) AS rx,
             rank() OVER (ORDER BY epoch_us(o_orderdate)) AS ry
      FROM orders
    )
    SELECT count(*) AS n,
           round(corr(rx, ry) - 1e-9, 4) + 0.0 AS spearman
    FROM r
    """,
)
def stat_spearman_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between order value and order date —
    the robust monotonic-association measure (Pearson over min
    ranks, immune to outliers and monotone transforms).  rank() (not
    row_number) gives ties their min rank in both engines, so the
    differential check is exact.  Each rank is computed by the
    DISTRIBUTED two-pass rank (operators/rank.py global_min_ranks:
    range-partitioned row numbers + per-value min — every exchange
    keyed, no single-task global window), so the plan runs at full
    parallelism on data-sized inputs; the oracle's plain
    `rank() OVER (ORDER BY ...)` is the semantic spec.  The two
    independently-ranked sides re-join on the primary key (one hash
    shuffle on o_orderkey) to pair (rx, ry) per row before corr."""
    from ondemand_dask_spark.operators.rank import global_min_ranks

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_totalprice",
        F.unix_micros(F.col("o_orderdate").cast("timestamp")).alias("__od"),
    )
    rx = global_min_ranks(
        o.select("o_orderkey", "o_totalprice"),
        "o_totalprice", "o_orderkey", col_name="rx",
    ).select("o_orderkey", "rx")
    ry = global_min_ranks(
        o.select("o_orderkey", "__od"), "__od", "o_orderkey", col_name="ry"
    ).select("o_orderkey", "ry")
    r = rx.join(ry, "o_orderkey")
    return r.agg(
        F.count("*").alias("n"),
        (F.round(F.corr("rx", "ry") - 1e-9, 4) + F.lit(0.0)).alias(
            "spearman"
        ),
    )


@register(
    "dq_referential_integrity",
    oracle="""
    SELECT 'orders->customer' AS relationship,
           (SELECT count(*) FROM orders) AS n_child,
           (SELECT count(*) FROM orders o
            WHERE NOT EXISTS (SELECT 1 FROM customer c
                              WHERE c.c_custkey = o.o_custkey)) AS n_orphans
    UNION ALL
    SELECT 'lineitem->orders',
           (SELECT count(*) FROM lineitem),
           (SELECT count(*) FROM lineitem l
            WHERE NOT EXISTS (SELECT 1 FROM orders o
                              WHERE o.o_orderkey = l.l_orderkey))
    UNION ALL
    SELECT 'lineitem->part',
           (SELECT count(*) FROM lineitem),
           (SELECT count(*) FROM lineitem l
            WHERE NOT EXISTS (SELECT 1 FROM part p
                              WHERE p.p_partkey = l.l_partkey))
    UNION ALL
    SELECT 'customer->nation',
           (SELECT count(*) FROM customer),
           (SELECT count(*) FROM customer c
            WHERE NOT EXISTS (SELECT 1 FROM nation n
                              WHERE n.n_nationkey = c.c_nationkey))
    """,
)
def dq_referential_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit across the star schema: for each
    FK relationship, child row count and orphan count (children whose
    parent key does not exist) — the data-lake health check that no
    lakehouse enforces for you.  Each relationship is ONE left-anti
    join; parent sides project to their key column only, so the
    small dimensions broadcast and the fact-sized checks
    (lineitem->orders, lineitem->part) shuffle just 8-byte keys.
    The four tall report rows union after scalar aggregation —
    the oracle's correlated NOT EXISTS is the spec; anti-join is
    the plan."""
    def check(child, ckey, parent, pkey, name):
        c = load_table(spark, sf_dir, child)
        p = load_table(spark, sf_dir, parent).select(pkey)
        n_child = c.agg(F.count("*").alias("n")).select(
            F.lit(name).alias("relationship"),
            F.col("n").alias("n_child"),
        )
        orphans = (
            c.join(p, c[ckey] == p[pkey], "left_anti")
            .agg(F.count("*").alias("n_orphans"))
        )
        return n_child.crossJoin(orphans)

    return (
        check("orders", "o_custkey", "customer", "c_custkey",
              "orders->customer")
        .unionByName(
            check("lineitem", "l_orderkey", "orders", "o_orderkey",
                  "lineitem->orders")
        )
        .unionByName(
            check("lineitem", "l_partkey", "part", "p_partkey",
                  "lineitem->part")
        )
        .unionByName(
            check("customer", "c_nationkey", "nation", "n_nationkey",
                  "customer->nation")
        )
    )


@register(
    "pipeline_purge_audit",
    oracle="""
    WITH purge AS (SELECT c_custkey FROM customer WHERE c_acctbal < 0),
    o AS (
      SELECT count(*) AS n FROM orders
      WHERE o_custkey IN (SELECT c_custkey FROM purge)
    ),
    l AS (
      SELECT count(*) AS n FROM lineitem li
      WHERE EXISTS (
        SELECT 1 FROM orders oo
        WHERE oo.o_orderkey = li.l_orderkey
          AND oo.o_custkey IN (SELECT c_custkey FROM purge))
    )
    SELECT 'customer' AS tbl, (SELECT count(*) FROM purge) AS n_rows
    UNION ALL SELECT 'orders', (SELECT n FROM o)
    UNION ALL SELECT 'lineitem', (SELECT n FROM l)
    """,
)
def pipeline_purge_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten cascade audit: given a deletion list
    (customers with negative balance as the stand-in), count the rows
    each downstream table would lose — the dry-run report a GDPR
    purge job emits before the irreversible write.  The deletion
    list projects to its key and BROADCASTS through every cascade
    level (purge lists are always small relative to facts); the
    orders level semi-joins once and the lineitem level reuses the
    purged-orders keys for its own semi-join — each fact is scanned
    exactly once, no fact-fact join."""
    purge = load_table(spark, sf_dir, "customer").filter(
        F.col("c_acctbal") < 0
    ).select("c_custkey")
    n_cust = purge.agg(F.count("*").alias("n_rows")).select(
        F.lit("customer").alias("tbl"), "n_rows"
    )
    purged_orders = load_table(spark, sf_dir, "orders").join(
        F.broadcast(purge),
        F.col("o_custkey") == F.col("c_custkey"),
        "left_semi",
    )
    n_orders = purged_orders.agg(F.count("*").alias("n_rows")).select(
        F.lit("orders").alias("tbl"), "n_rows"
    )
    n_line = (
        load_table(spark, sf_dir, "lineitem")
        .join(
            F.broadcast(purged_orders.select("o_orderkey")),
            F.col("l_orderkey") == F.col("o_orderkey"),
            "left_semi",
        )
        .agg(F.count("*").alias("n_rows"))
        .select(F.lit("lineitem").alias("tbl"), "n_rows")
    )
    return n_cust.unionByName(n_orders).unionByName(n_line)


@register(
    "agg_hhi_concentration",
    oracle="""
    WITH seg AS (
      SELECT c_mktsegment AS segment, o_custkey,
             sum(o_totalprice) AS cust_rev
      FROM orders JOIN customer ON c_custkey = o_custkey
      GROUP BY 1, 2
    ),
    tot AS (
      SELECT segment, sum(cust_rev) AS seg_rev, count(*) AS n_cust
      FROM seg GROUP BY segment
    )
    SELECT s.segment,
           CAST(max(t.n_cust) AS BIGINT) AS n_customers,
           round(sum((s.cust_rev / t.seg_rev) * (s.cust_rev / t.seg_rev))
                 - 1e-9, 6) + 0.0 AS hhi
    FROM seg s JOIN tot t ON t.segment = s.segment
    GROUP BY s.segment
    """,
)
def agg_hhi_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl–Hirschman concentration index per market segment —
    Σ (customer share of segment revenue)²: the antitrust-grade
    'is this segment dominated by a few buyers' statistic, and the
    same math that scores training-mixture source concentration.
    Two partial-agg groupBys (customer revenue, then segment totals)
    + one co-partitioned share join — the per-customer shares never
    leave their segment's partitions, and the final reduce is a
    third partial agg.  The customer dimension attaches with a
    broadcast (small dim onto the fact scan).  Sum-of-squares order
    differs across engines, so hhi rounds at 6 dp after a share
    computation whose inputs (cust_rev, seg_rev) are exact
    decimal-backed sums."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"),
        F.col("c_mktsegment").alias("segment"),
    )
    seg = (
        o.join(F.broadcast(c), "o_custkey")
        .groupBy("segment", "o_custkey")
        .agg(F.sum("o_totalprice").alias("cust_rev"))
    )
    tot = seg.groupBy("segment").agg(
        F.sum("cust_rev").alias("seg_rev"), F.count("*").alias("n_cust")
    )
    share = F.col("cust_rev") / F.col("seg_rev")
    return (
        seg.join(tot, "segment")
        .groupBy("segment")
        .agg(
            F.max("n_cust").cast("long").alias("n_customers"),
            (F.round(F.sum(share * share) - 1e-9, 6) + F.lit(0.0)).alias(
                "hhi"
            ),
        )
    )


@register(
    "stat_cuped_adjustment",
    oracle=f"""
    WITH per_user AS (
      SELECT user_id,
             user_id % 2 AS variant,
             sum(CASE WHEN event_type = 'purchase' THEN value ELSE 0 END) AS y,
             sum(CASE WHEN event_type = 'view' THEN value ELSE 0 END) AS x
      FROM events GROUP BY user_id
    ),
    g AS (
      SELECT covar_pop(x, y) / var_pop(x) AS theta, avg(x) AS xbar
      FROM per_user
    )
    SELECT variant, count(*) AS n_users,
           round(avg(y) - 1e-9, {_R}) + 0.0 AS mean_y,
           round(avg(y - g.theta * (x - g.xbar)) - 1e-9, {_R}) + 0.0
             AS mean_y_cuped,
           round(var_pop(y - g.theta * (x - g.xbar)) / var_pop(y)
                 - 1e-9, {_R}) + 0.0 AS var_ratio
    FROM per_user CROSS JOIN g
    GROUP BY variant
    """,
)
def stat_cuped_adjustment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance reduction for experiment analysis (Deng et al.,
    'Improving the Sensitivity of Online Controlled Experiments'):
    per-variant means of the outcome metric before and after
    subtracting θ·(x − x̄), θ = cov(x, y)/var(x), where x is a
    pre-experiment covariate (here: per-user view spend) — plus the
    achieved variance ratio.  Variant assignment is deterministic
    (user_id parity) so both engines analyze the identical split.

    Scale shape: one groupBy(user) builds the per-unit metric table
    (partial aggs map-side), θ/x̄ is a 1-row pooled aggregate
    broadcast back, and the per-variant rollup is a 2-row result.
    Nothing beyond the user-grain shuffle grows with data — exactly
    how experiment platforms compute CUPED on billions of units."""
    e = load_table(spark, sf_dir, "events")
    per_user = e.groupBy("user_id").agg(
        F.sum(
            F.when(F.col("event_type") == "purchase", F.col("value")).otherwise(0.0)
        ).alias("y"),
        F.sum(
            F.when(F.col("event_type") == "view", F.col("value")).otherwise(0.0)
        ).alias("x"),
    ).select(
        (F.col("user_id") % 2).alias("variant"), "y", "x"
    )
    g = per_user.agg(
        (F.covar_pop("x", "y") / F.var_pop("x")).alias("theta"),
        F.avg("x").alias("xbar"),
    )
    adj = F.col("y") - F.col("theta") * (F.col("x") - F.col("xbar"))
    return (
        per_user.crossJoin(F.broadcast(g))
        .groupBy("variant")
        .agg(
            F.count("*").alias("n_users"),
            (F.round(F.avg("y") - 1e-9, _R) + 0.0).alias("mean_y"),
            (F.round(F.avg(adj) - 1e-9, _R) + 0.0).alias("mean_y_cuped"),
            (
                F.round(F.var_pop(adj) / F.var_pop("y") - 1e-9, _R) + 0.0
            ).alias("var_ratio"),
        )
    )


@register(
    "stat_ols_by_group",
    oracle=f"""
    SELECT event_type,
           count(*) AS n,
           round(regr_slope(value, extract(hour FROM ts)) - 1e-9, {_R})
             + 0.0 AS slope,
           round(regr_intercept(value, extract(hour FROM ts)) - 1e-9, {_R})
             + 0.0 AS intercept,
           round(regr_r2(value, extract(hour FROM ts)) - 1e-9, {_R})
             + 0.0 AS r2
    FROM events
    GROUP BY event_type
    """,
)
def stat_ols_by_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group simple linear regression (value ~ hour-of-day) via
    the ANSI regr_* aggregate family — slope, intercept, R² for
    every series in ONE partial-aggregating groupBy.  The closed-form
    OLS moments (Σx, Σy, Σxy, Σx², n) combine associatively, so the
    map-side combiner reduces each partition to five numbers per
    group before any shuffle — millions of tiny per-group models
    ('grouped regression', the classic scaled ML-lite workload) cost
    exactly one aggregation pass at 100 TB.  Spark and DuckDB both
    implement the same ANSI functions, making the differential
    check native-to-native."""
    e = load_table(spark, sf_dir, "events")
    x = F.hour("ts").cast("double")
    y = F.col("value")
    return e.groupBy("event_type").agg(
        F.count("*").alias("n"),
        (F.round(F.regr_slope(y, x) - 1e-9, _R) + 0.0).alias("slope"),
        (F.round(F.regr_intercept(y, x) - 1e-9, _R) + 0.0).alias(
            "intercept"
        ),
        (F.round(F.regr_r2(y, x) - 1e-9, _R) + 0.0).alias("r2"),
    )


_CMS_DEPTH = 3
_CMS_WIDTH = 256
_CMS_TOPK = 5
# DuckDB-side hash of user_id salted by the depth-row number d
# (correlated column d.d) — must mirror the Spark-side f"cms{d}|" salt.
_CMS_H_SQL = (
    "CAST('0x' || substr(md5('cms' || d.d || '|' || "
    "CAST(user_id AS VARCHAR)), 1, 15) AS BIGINT)"
)


@register(
    "agg_count_min_estimate",
    oracle=f"""
    WITH rows_d AS (
      SELECT d.d, {_CMS_H_SQL} AS h, user_id
      FROM events CROSS JOIN (SELECT unnest(generate_series(0, {_CMS_DEPTH - 1})) AS d) d
    ),
    cms AS (
      SELECT d, h % {_CMS_WIDTH} AS bucket, count(*) AS c
      FROM rows_d GROUP BY d, bucket
    ),
    topk AS (
      SELECT user_id, count(*) AS exact_n
      FROM events GROUP BY user_id
      ORDER BY exact_n DESC, user_id LIMIT {_CMS_TOPK}
    ),
    est AS (
      SELECT t.user_id, t.exact_n, min(c.c) AS cms_estimate
      FROM topk t
      CROSS JOIN (SELECT unnest(generate_series(0, {_CMS_DEPTH - 1})) AS d) d
      JOIN cms c
        ON c.d = d.d
       AND c.bucket = ({_CMS_H_SQL}) % {_CMS_WIDTH}
      GROUP BY t.user_id, t.exact_n
    )
    SELECT user_id, exact_n, CAST(cms_estimate AS BIGINT) AS cms_estimate,
           cms_estimate >= exact_n AS admissible
    FROM est
    """,
)
def agg_count_min_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch built IN the engine (d={_CMS_DEPTH} portable-
    hash rows x w={_CMS_WIDTH} buckets) and queried for the top-k
    heavy keys: estimate = min over rows of the key's bucket count.
    Unlike Spark's opaque `count_min_sketch` binary (which exposes no
    SQL-side estimator), this sketch is a {_CMS_DEPTH * _CMS_WIDTH}-row
    TABLE — mergeable by plain addition across batches/partitions
    (the property that makes CMS the streaming frequency structure),
    exactly reproducible on any engine via the md5-portable hashes,
    and therefore exactly differential-checkable, including the
    one-sided-error certificate (estimate >= exact, always).

    Scale shape: the sketch build is one groupBy over (row, bucket)
    — {_CMS_DEPTH * _CMS_WIDTH} cells regardless of input size, the
    definition of sublinear; probing joins the k query keys against
    those cells.  The full scan contributes only map-side partial
    counts."""
    e = load_table(spark, sf_dir, "events").select("user_id")

    def h(d: int):
        return F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit(f"cms{d}|"), F.col("user_id").cast("string")
                    )
                ),
                1,
                15,
            ),
            16,
            10,
        ).cast("long")

    cms = None
    for d in range(_CMS_DEPTH):
        part = e.select(
            F.lit(d).alias("d"), (h(d) % _CMS_WIDTH).alias("bucket")
        )
        cms = part if cms is None else cms.unionByName(part)
    cms = cms.groupBy("d", "bucket").agg(F.count("*").alias("c"))

    topk = (
        e.groupBy("user_id")
        .agg(F.count("*").alias("exact_n"))
        .orderBy(F.desc("exact_n"), F.asc("user_id"))
        .limit(_CMS_TOPK)
    )
    probes = None
    for d in range(_CMS_DEPTH):
        part = topk.select(
            "user_id",
            "exact_n",
            F.lit(d).alias("d"),
            (h(d) % _CMS_WIDTH).alias("bucket"),
        )
        probes = part if probes is None else probes.unionByName(part)
    est = (
        probes.join(F.broadcast(cms), ["d", "bucket"])
        .groupBy("user_id", "exact_n")
        .agg(F.min("c").alias("cms_estimate"))
    )
    return est.select(
        "user_id",
        "exact_n",
        F.col("cms_estimate").cast("long").alias("cms_estimate"),
        (F.col("cms_estimate") >= F.col("exact_n")).alias("admissible"),
    )


_FDR_Q = 0.05
# Abramowitz & Stegun 7.1.26 erf approximation — pure arithmetic
# (exp + polynomial), written ONCE per engine with identical
# coefficients so the differential check is exact.
_AS_COEF = (0.254829592, -0.284496736, 1.421413741, -1.453152027, 1.061405429)
_AS_P = 0.3275911


def _phi_sql(z: str) -> str:
    """DuckDB expression: standard normal CDF of {z} (A&S 7.1.26)."""
    a1, a2, a3, a4, a5 = _AS_COEF
    x = f"(abs({z}) / sqrt(2.0))"
    t = f"(1.0 / (1.0 + {_AS_P} * {x}))"
    poly = (
        f"((((({a5} * {t} + {a4}) * {t} + {a3}) * {t} + {a2}) * {t}"
        f" + {a1}) * {t})"
    )
    erf = f"(1.0 - {poly} * exp(-{x} * {x}))"
    return f"(0.5 * (1.0 + CASE WHEN {z} < 0 THEN -{erf} ELSE {erf} END))"


def _phi(z):
    """Spark column: standard normal CDF of z (same A&S 7.1.26)."""
    a1, a2, a3, a4, a5 = _AS_COEF
    x = F.abs(z) / F.lit(2.0 ** 0.5)
    t = F.lit(1.0) / (F.lit(1.0) + F.lit(_AS_P) * x)
    poly = (
        (((F.lit(a5) * t + F.lit(a4)) * t + F.lit(a3)) * t + F.lit(a2)) * t
        + F.lit(a1)
    ) * t
    erf = F.lit(1.0) - poly * F.exp(-x * x)
    signed = F.when(z < 0, -erf).otherwise(erf)
    return F.lit(0.5) * (F.lit(1.0) + signed)


@register(
    "stat_fdr_bh",
    oracle=f"""
    WITH per AS (
      SELECT c_mktsegment AS seg, count(*) AS n,
             avg(c_acctbal) AS m, var_samp(c_acctbal) AS v
      FROM customer GROUP BY seg
    ),
    g AS (SELECT avg(c_acctbal) AS gm FROM customer),
    z AS (
      SELECT seg, n, (m - g.gm) / sqrt(v / n) AS zstat
      FROM per CROSS JOIN g
    ),
    p AS (
      SELECT seg, n, zstat,
             round(2.0 * (1.0 - {_phi_sql("abs(zstat)")}) - 1e-9, {_R}) + 0.0
               AS pval
      FROM z
    ),
    ranked AS (
      SELECT seg, n, zstat, pval,
             row_number() OVER (ORDER BY pval, seg) AS i,
             count(*) OVER () AS m_tests
      FROM p
    ),
    cutoff AS (
      SELECT coalesce(max(pval), -1.0) AS pstar
      FROM ranked WHERE pval <= {_FDR_Q} * i / m_tests
    )
    SELECT seg, CAST(n AS BIGINT) AS n,
           round(zstat - 1e-9, {_R}) + 0.0 AS zstat,
           pval,
           pval <= pstar AS rejected
    FROM ranked CROSS JOIN cutoff
    """,
)
def stat_fdr_bh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benjamini–Hochberg FDR correction over a family of per-group
    mean tests (each market segment's balance vs the global mean,
    one-sample z) — the multiple-testing discipline every experiment
    platform applies before declaring winners.  p-values come from
    the Abramowitz–Stegun 7.1.26 normal-CDF polynomial — pure
    exp+arithmetic, identical coefficients in both engines, so even
    the approximation is differentially pinned.  The BH step-up
    (largest i with p_(i) ≤ q·i/m) runs over the |groups|-row table
    (bounded-vocabulary window); everything data-sized folds into
    the one moments groupBy + a 1-row grand-mean attach."""
    lab = load_table(spark, sf_dir, "customer")
    per = lab.groupBy(F.col("c_mktsegment").alias("seg")).agg(
        F.count("*").alias("n"),
        F.avg("c_acctbal").alias("m"),
        F.var_samp("c_acctbal").alias("v"),
    )
    g = lab.agg(F.avg("c_acctbal").alias("gm"))
    z = per.crossJoin(F.broadcast(g)).select(
        "seg",
        "n",
        ((F.col("m") - F.col("gm")) / F.sqrt(F.col("v") / F.col("n"))).alias(
            "zstat"
        ),
    )
    # p-values are ROUNDED before ranking and before the BH-line
    # comparisons, so every boolean and ordering decision downstream
    # operates on engine-portable 4 dp values (the cusum-alarm
    # lesson — a raw p one ulp either side of the step-up line would
    # flip `rejected`).
    p = z.select(
        "seg", "n", "zstat",
        (
            F.round(
                F.lit(2.0) * (F.lit(1.0) - _phi(F.abs(F.col("zstat"))))
                - 1e-9,
                _R,
            )
            + 0.0
        ).alias("pval"),
    )
    wr = Window.orderBy("pval", "seg")
    ranked = p.select(
        "seg", "n", "zstat", "pval",
        F.row_number().over(wr).alias("i"),
        F.count("*").over(Window.partitionBy()).alias("m_tests"),
    )
    cutoff = ranked.filter(
        F.col("pval") <= F.lit(_FDR_Q) * F.col("i") / F.col("m_tests")
    ).agg(F.coalesce(F.max("pval"), F.lit(-1.0)).alias("pstar"))
    return ranked.crossJoin(F.broadcast(cutoff)).select(
        "seg",
        F.col("n").cast("long").alias("n"),
        (F.round(F.col("zstat") - 1e-9, _R) + 0.0).alias("zstat"),
        "pval",
        (F.col("pval") <= F.col("pstar")).alias("rejected"),
    )


@register(
    "dq_benford_first_digit",
    oracle=f"""
    WITH digits AS (
      SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT)
                              AS VARCHAR), 1, 1) AS BIGINT) AS digit
      FROM orders WHERE o_totalprice >= 1
    ),
    obs AS (SELECT digit, count(*) AS n FROM digits GROUP BY digit),
    tot AS (SELECT count(*) AS t FROM digits)
    SELECT digit, n,
           round(n * 1.0 / t - 1e-9, {_R}) + 0.0 AS obs_share,
           round(log10(1.0 + 1.0 / digit) - 1e-9, {_R}) + 0.0
             AS benford_share,
           round(abs(n * 1.0 / t - log10(1.0 + 1.0 / digit)) - 1e-9, {_R})
             + 0.0 AS abs_dev
    FROM obs CROSS JOIN tot
    """,
)
def dq_benford_first_digit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit — the classic fabricated-data
    / truncation-artifact screen for monetary columns: the observed
    leading-digit distribution vs the log10(1 + 1/d) law, with the
    per-digit absolute deviation.  The leading digit comes from the
    integer part's decimal string (floor → bigint → substr), which
    is exact on both engines — no log10-of-a-boundary-value float
    hazard.  One hash agg over the scan into a 9-row table plus a
    1-row total attach: the 100 TB plan is the sf0.001 plan."""
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_totalprice") >= 1
    )
    digits = o.select(
        F.substring(
            F.floor("o_totalprice").cast("long").cast("string"), 1, 1
        )
        .cast("long")
        .alias("digit")
    )
    obs = digits.groupBy("digit").agg(F.count("*").alias("n"))
    tot = digits.agg(F.count("*").alias("t"))
    share = F.col("n") / F.col("t")
    law = F.log10(1.0 + 1.0 / F.col("digit"))
    return obs.crossJoin(F.broadcast(tot)).select(
        "digit",
        "n",
        (F.round(share - 1e-9, _R) + 0.0).alias("obs_share"),
        (F.round(law - 1e-9, _R) + 0.0).alias("benford_share"),
        (F.round(F.abs(share - law) - 1e-9, _R) + 0.0).alias("abs_dev"),
    )


@register(
    "stat_kruskal_wallis",
    oracle=f"""
    WITH cgv AS (
      SELECT event_type AS g, round(value, 3) AS v, count(*) AS c
      FROM events GROUP BY event_type, round(value, 3)
    ),
    tv AS (
      SELECT v, sum(c) AS t FROM cgv GROUP BY v
    ),
    mr AS (
      SELECT v, t,
             coalesce(sum(t) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               + (t + 1) / 2.0 AS midrank
      FROM tv
    ),
    rg AS (
      SELECT g, CAST(sum(c) AS DOUBLE) AS ng,
             sum(c * mr.midrank) AS r
      FROM cgv JOIN mr USING (v) GROUP BY g
    ),
    tot AS (
      SELECT CAST(sum(ng) AS DOUBLE) AS n,
             CAST(count(*) AS BIGINT) AS k,
             sum(r * r / ng) AS s
      FROM rg
    ),
    ties AS (SELECT CAST(sum(t * t * t - t) AS DOUBLE) AS tt FROM tv)
    SELECT k AS n_groups, CAST(n AS BIGINT) AS n,
           round(12.0 / (n * (n + 1)) * s - 3.0 * (n + 1) - 1e-9, {_R})
             + 0.0 AS h_stat,
           round((12.0 / (n * (n + 1)) * s - 3.0 * (n + 1))
                 / (1.0 - tt / (n * n * n - n)) - 1e-9, {_R}) + 0.0
             AS h_tie_corrected
    FROM tot CROSS JOIN ties
    """,
)
def stat_kruskal_wallis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal–Wallis H — the k-group rank ANOVA (the nonparametric
    `stat_anova_oneway`, and the k-group extension of
    `stat_mann_whitney`), testing whether any event type's value
    distribution is stochastically shifted.  Rank arithmetic is
    COUNT-side like its two siblings: midranks come from the
    per-distinct-value count table (values rounded to 3 dp so both
    engines bucket identically), per-group rank sums are one keyed
    join + hash agg, and the tie-corrected H = H / (1 − Σ(t³−t)/
    (N³−N)) folds from two scalar aggregates.  The only ordered
    window runs over distinct values — bounded by value cardinality,
    never a data-sized rank — so the 100 TB plan is one value-level
    shuffle plus vocabulary-sized arithmetic."""
    from pyspark.sql.window import Window as W

    e = load_table(spark, sf_dir, "events")
    cgv = e.groupBy(
        F.col("event_type").alias("g"), F.round("value", 3).alias("v")
    ).agg(F.count("*").alias("c"))
    tv = cgv.groupBy("v").agg(F.sum("c").alias("t"))
    cum = F.coalesce(
        F.sum("t").over(W.orderBy("v").rowsBetween(W.unboundedPreceding, -1)),
        F.lit(0),
    )
    mr = tv.select("v", (cum + (F.col("t") + 1) / 2.0).alias("midrank"))
    rg = (
        cgv.join(mr, "v")
        .groupBy("g")
        .agg(
            F.sum("c").cast("double").alias("ng"),
            F.sum(F.col("c") * F.col("midrank")).alias("r"),
        )
    )
    tot = rg.agg(
        F.sum("ng").cast("double").alias("n"),
        F.count("*").alias("k"),
        F.sum(F.col("r") * F.col("r") / F.col("ng")).alias("s"),
    )
    ties = tv.agg(
        F.sum(F.col("t") * F.col("t") * F.col("t") - F.col("t"))
        .cast("double")
        .alias("tt")
    )
    n, s, tt = F.col("n"), F.col("s"), F.col("tt")
    h = 12.0 / (n * (n + 1)) * s - 3.0 * (n + 1)
    return tot.crossJoin(F.broadcast(ties)).select(
        F.col("k").alias("n_groups"),
        n.cast("long").alias("n"),
        (F.round(h - 1e-9, _R) + 0.0).alias("h_stat"),
        (
            F.round(h / (1.0 - tt / (n * n * n - n)) - 1e-9, _R) + 0.0
        ).alias("h_tie_corrected"),
    )


_WILSON_Z = 1.96  # 95% two-sided


@register(
    "stat_wilson_ci",
    oracle=f"""
    WITH g AS (
      SELECT date_trunc('day', ts) AS d,
             CAST(count(*) AS DOUBLE) AS n,
             CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  AS DOUBLE) AS k
      FROM events GROUP BY 1
    )
    SELECT d, CAST(n AS BIGINT) AS n, CAST(k AS BIGINT) AS k,
           round(k / n - 1e-9, {_R}) + 0.0 AS p,
           round(((k / n + {_WILSON_Z} * {_WILSON_Z} / (2 * n))
                  - {_WILSON_Z} * sqrt((k / n) * (1 - k / n) / n
                        + {_WILSON_Z} * {_WILSON_Z} / (4 * n * n)))
                 / (1 + {_WILSON_Z} * {_WILSON_Z} / n) - 1e-9, {_R}) + 0.0
             AS wilson_lo,
           round(((k / n + {_WILSON_Z} * {_WILSON_Z} / (2 * n))
                  + {_WILSON_Z} * sqrt((k / n) * (1 - k / n) / n
                        + {_WILSON_Z} * {_WILSON_Z} / (4 * n * n)))
                 / (1 + {_WILSON_Z} * {_WILSON_Z} / n) - 1e-9, {_R}) + 0.0
             AS wilson_hi
    FROM g
    """,
)
def stat_wilson_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilson score interval for a daily conversion rate (share of
    'purchase' events), the binomial CI that stays inside [0, 1] and
    behaves at k=0 / k=n where the naive Wald interval collapses —
    the standard error bar on any rate dashboard.

    The scan reduces to |days| (k, n) integer pairs in one
    partial-agg shuffle; the interval itself is a closed-form scalar
    projection over that vocabulary-sized table, written with the
    IDENTICAL operation order on both engines (all inputs are exact
    small integers, so the doubles agree bit-for-bit before the
    defensive 4 dp round)."""
    z = F.lit(_WILSON_Z)
    g = (
        load_table(spark, sf_dir, "events")
        .groupBy(
            F.date_trunc("day", "ts").cast("timestamp_ntz").alias("d")
        )
        .agg(
            F.count("*").cast("double").alias("n"),
            F.sum(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            )
            .cast("double")
            .alias("k"),
        )
    )
    n, k = F.col("n"), F.col("k")
    p = k / n
    center = p + z * z / (2 * n)
    half = z * F.sqrt(p * (1 - p) / n + z * z / (4 * n * n))
    denom = 1 + z * z / n
    return g.select(
        "d",
        n.cast("long").alias("n"),
        k.cast("long").alias("k"),
        (F.round(p - 1e-9, _R) + 0.0).alias("p"),
        (F.round((center - half) / denom - 1e-9, _R) + 0.0).alias(
            "wilson_lo"
        ),
        (F.round((center + half) / denom - 1e-9, _R) + 0.0).alias(
            "wilson_hi"
        ),
    )


@register(
    "stat_kaplan_meier",
    oracle=f"""
    WITH u AS (
      SELECT user_id,
             CAST(min(ts) AS DATE) AS t0,
             CAST(min(CASE WHEN event_type = 'purchase' THEN ts END)
                  AS DATE) AS tp,
             CAST(max(ts) AS DATE) AS tl
      FROM events GROUP BY user_id
    ),
    dur AS (
      SELECT CAST(coalesce(tp, tl) - t0 AS BIGINT) AS duration_day,
             CASE WHEN tp IS NOT NULL THEN 1 ELSE 0 END AS ev
      FROM u
    ),
    c AS (
      SELECT duration_day,
             CAST(sum(ev) AS BIGINT) AS n_event,
             CAST(sum(1 - ev) AS BIGINT) AS n_censored
      FROM dur GROUP BY duration_day
    ),
    r AS (
      SELECT duration_day, n_event, n_censored,
             sum(n_event + n_censored) OVER (
               ORDER BY duration_day
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
               AS n_risk
      FROM c
    )
    SELECT duration_day, CAST(n_risk AS BIGINT) AS n_risk,
           n_event, n_censored,
           CASE WHEN min(n_risk - n_event) OVER (
                  ORDER BY duration_day
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) = 0
                THEN 0.0
                ELSE round(exp(sum(ln(CASE WHEN n_event < n_risk
                                           THEN 1.0 - CAST(n_event AS DOUBLE)
                                                      / n_risk
                                           ELSE 1.0 END)) OVER (
                       ORDER BY duration_day
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
                     - 1e-9, {_R}) + 0.0
           END AS km_survival
    FROM r
    """,
)
def stat_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival curve for time-to-first-purchase: each
    user is 'born' at their first event; users who never purchase are
    right-censored at their last event.  S(t) multiplies the
    conditional survival (1 - d_i/n_i) at each event time — the
    estimator behind every retention/conversion-lag curve that must
    NOT throw away users who haven't converted yet (naive conversion
    curves over converters only are biased toward fast converters).

    Scale shape: one user-keyed partial agg collapses the event scan
    to |users| (t0, tp, tl) triples, a second agg collapses those to
    the DAY-GRAIN duration table (calendar-bounded: <= observation
    span in days), and the at-risk/product windows run over that
    bounded table only — the same counts-table discipline as
    stat_mann_whitney.  An all-events-fail row would make the factor
    ln(0) (NULL in Spark, an ERROR in DuckDB), so the log argument is
    clamped to 1 there and the running min(n_risk - n_event) CASE
    pins every row at-or-after it to exactly 0.0 on both engines."""
    u = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.min(F.to_date("ts")).alias("t0"),
            F.min(
                F.when(F.col("event_type") == "purchase", F.to_date("ts"))
            ).alias("tp"),
            F.max(F.to_date("ts")).alias("tl"),
        )
    )
    dur = u.select(
        F.datediff(F.coalesce("tp", "tl"), F.col("t0"))
        .cast("long")
        .alias("duration_day"),
        F.when(F.col("tp").isNotNull(), 1).otherwise(0).alias("ev"),
    )
    c = dur.groupBy("duration_day").agg(
        F.sum("ev").cast("long").alias("n_event"),
        F.sum(1 - F.col("ev")).cast("long").alias("n_censored"),
    )
    w_suffix = Window.orderBy("duration_day").rowsBetween(
        0, Window.unboundedFollowing
    )
    w_cur = Window.orderBy("duration_day").rowsBetween(
        Window.unboundedPreceding, 0
    )
    r = c.withColumn(
        "n_risk",
        F.sum(F.col("n_event") + F.col("n_censored"))
        .over(w_suffix)
        .cast("long"),
    )
    surv = F.when(
        F.min(F.col("n_risk") - F.col("n_event")).over(w_cur) == 0, F.lit(0.0)
    ).otherwise(
        F.round(
            F.exp(
                F.sum(
                    F.log(
                        F.when(
                            F.col("n_event") < F.col("n_risk"),
                            1.0
                            - F.col("n_event").cast("double")
                            / F.col("n_risk"),
                        ).otherwise(F.lit(1.0))
                    )
                ).over(w_cur)
            )
            - 1e-9,
            _R,
        )
        + 0.0
    )
    return r.select(
        "duration_day", "n_risk", "n_event", "n_censored",
        surv.alias("km_survival"),
    )


@register(
    "stat_mann_kendall",
    oracle=f"""
    WITH daily AS (
      SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS d,
             round(sum(value) - 1e-9, 6) + 0.0 AS x
      FROM events GROUP BY 1, 2
    ),
    s AS (
      SELECT a.event_type,
             CAST(sum(CASE WHEN b.x > a.x THEN 1
                           WHEN b.x < a.x THEN -1 ELSE 0 END)
                  AS DOUBLE) AS s_stat
      FROM daily a JOIN daily b
        ON a.event_type = b.event_type AND a.d < b.d
      GROUP BY 1
    ),
    t AS (
      SELECT event_type, CAST(sum(tc) AS DOUBLE) AS n,
             CAST(sum(tc * (tc - 1) * (2 * tc + 5)) AS DOUBLE) AS tie_term
      FROM (
        SELECT event_type, x, count(*) AS tc
        FROM daily GROUP BY event_type, x
      ) GROUP BY event_type
    )
    SELECT s.event_type,
           CAST(t.n AS BIGINT) AS n_days,
           CAST(s.s_stat AS BIGINT) AS s_stat,
           round((t.n * (t.n - 1) * (2 * t.n + 5) - t.tie_term) / 18.0
                 - 1e-9, {_R}) + 0.0 AS var_s,
           round(CASE WHEN s.s_stat > 0 THEN (s.s_stat - 1)
                      WHEN s.s_stat < 0 THEN (s.s_stat + 1)
                      ELSE 0.0 END
                 / nullif(sqrt((t.n * (t.n - 1) * (2 * t.n + 5)
                                - t.tie_term) / 18.0), 0)
                 - 1e-9, {_R}) + 0.0 AS z_score
    FROM s JOIN t ON s.event_type = t.event_type
    """,
)
def stat_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall monotonic-trend test per event-type daily series —
    the nonparametric 'is this KPI drifting up or down' detector
    (pairs with stat_theil_sen_slope exactly as the textbook
    prescribes: MK decides significance, Theil-Sen sizes the slope).
    S counts concordant-minus-discordant day pairs; the variance
    carries the standard tie correction; Z applies the +/-1
    continuity correction.

    Scale shape: the raw scan collapses to |series| x |days| daily
    totals in one partial-agg shuffle; the pairwise self-join runs
    over that CALENDAR-BOUNDED table only (30 days -> 435 pairs per
    series at any data volume), keyed on event_type so it plans as an
    ordinary equi-join.  Daily totals are rounded to 6 dp on BOTH
    engines before the sign/tie logic so partial-sum ulp drift cannot
    flip a comparison."""
    daily = (
        load_table(spark, sf_dir, "events")
        .groupBy(
            "event_type", F.to_date(F.date_trunc("day", "ts")).alias("d")
        )
        .agg((F.round(F.sum("value") - 1e-9, 6) + 0.0).alias("x"))
    )
    a, b = daily.alias("a"), daily.alias("b")
    s = (
        a.join(
            b,
            (F.col("a.event_type") == F.col("b.event_type"))
            & (F.col("a.d") < F.col("b.d")),
        )
        .groupBy(F.col("a.event_type").alias("event_type"))
        .agg(
            F.sum(
                F.when(F.col("b.x") > F.col("a.x"), 1)
                .when(F.col("b.x") < F.col("a.x"), -1)
                .otherwise(0)
            )
            .cast("double")
            .alias("s_stat")
        )
    )
    t = (
        daily.groupBy("event_type", "x")
        .agg(F.count("*").alias("tc"))
        .groupBy("event_type")
        .agg(
            # n = number of OBSERVATIONS (sum of tie-group sizes).
            # count(*) here would be the number of DISTINCT values —
            # the r9 hand-computed pin caught exactly that slip (a
            # tied pair deflated var_s to 0 and misreported n_days),
            # and the oracle shared it, so the differential was blind
            # (tests/test_stats_known_answers.py pins the tie case).
            F.sum("tc").cast("double").alias("n"),
            F.sum(
                F.col("tc") * (F.col("tc") - 1) * (2 * F.col("tc") + 5)
            )
            .cast("double")
            .alias("tie_term"),
        )
    )
    n, ss, tie = F.col("n"), F.col("s_stat"), F.col("tie_term")
    var_s = (n * (n - 1) * (2 * n + 5) - tie) / 18.0
    cc = (
        F.when(ss > 0, ss - 1).when(ss < 0, ss + 1).otherwise(F.lit(0.0))
    )
    return (
        s.join(t, "event_type")
        .select(
            "event_type",
            n.cast("long").alias("n_days"),
            ss.cast("long").alias("s_stat"),
            (F.round(var_s - 1e-9, _R) + 0.0).alias("var_s"),
            (
                F.round(
                    cc / F.nullif(F.sqrt(var_s), F.lit(0.0)) - 1e-9, _R
                )
                + 0.0
            ).alias("z_score"),
        )
    )


_DID_CUTOVER = "2024-01-16 00:00:00"


@register(
    "stat_diff_in_diff",
    oracle=f"""
    WITH cells AS (
      SELECT
        avg(CASE WHEN user_id % 2 = 0 AND ts <  TIMESTAMP '{_DID_CUTOVER}'
                 THEN value END) AS m_c_pre,
        avg(CASE WHEN user_id % 2 = 0 AND ts >= TIMESTAMP '{_DID_CUTOVER}'
                 THEN value END) AS m_c_post,
        avg(CASE WHEN user_id % 2 = 1 AND ts <  TIMESTAMP '{_DID_CUTOVER}'
                 THEN value END) AS m_t_pre,
        avg(CASE WHEN user_id % 2 = 1 AND ts >= TIMESTAMP '{_DID_CUTOVER}'
                 THEN value END) AS m_t_post,
        var_samp(CASE WHEN user_id % 2 = 0 AND ts < TIMESTAMP '{_DID_CUTOVER}'
                 THEN value END) AS v_c_pre,
        var_samp(CASE WHEN user_id % 2 = 0 AND ts >= TIMESTAMP '{_DID_CUTOVER}'
                 THEN value END) AS v_c_post,
        var_samp(CASE WHEN user_id % 2 = 1 AND ts < TIMESTAMP '{_DID_CUTOVER}'
                 THEN value END) AS v_t_pre,
        var_samp(CASE WHEN user_id % 2 = 1 AND ts >= TIMESTAMP '{_DID_CUTOVER}'
                 THEN value END) AS v_t_post,
        count(CASE WHEN user_id % 2 = 0 AND ts < TIMESTAMP '{_DID_CUTOVER}'
                 THEN value END) AS n_c_pre,
        count(CASE WHEN user_id % 2 = 0 AND ts >= TIMESTAMP '{_DID_CUTOVER}'
                 THEN value END) AS n_c_post,
        count(CASE WHEN user_id % 2 = 1 AND ts < TIMESTAMP '{_DID_CUTOVER}'
                 THEN value END) AS n_t_pre,
        count(CASE WHEN user_id % 2 = 1 AND ts >= TIMESTAMP '{_DID_CUTOVER}'
                 THEN value END) AS n_t_post
      FROM events WHERE value IS NOT NULL
    )
    SELECT round(m_c_pre - 1e-9, {_R}) + 0.0 AS mean_ctrl_pre,
           round(m_c_post - 1e-9, {_R}) + 0.0 AS mean_ctrl_post,
           round(m_t_pre - 1e-9, {_R}) + 0.0 AS mean_treat_pre,
           round(m_t_post - 1e-9, {_R}) + 0.0 AS mean_treat_post,
           round((m_t_post - m_t_pre) - (m_c_post - m_c_pre)
                 - 1e-9, {_R}) + 0.0 AS did_estimate,
           round(sqrt(v_t_post / n_t_post + v_t_pre / n_t_pre
                      + v_c_post / n_c_post + v_c_pre / n_c_pre)
                 - 1e-9, {_R}) + 0.0 AS se,
           round(((m_t_post - m_t_pre) - (m_c_post - m_c_pre))
                 / nullif(sqrt(v_t_post / n_t_post + v_t_pre / n_t_pre
                          + v_c_post / n_c_post + v_c_pre / n_c_pre), 0)
                 - 1e-9, {_R}) + 0.0 AS t_stat
    FROM cells
    """,
)
def stat_diff_in_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences: the causal-inference workhorse for
    'did the change move the metric, net of the background trend'.
    Treatment assignment is deterministic (odd user_id) and the
    cutover is a fixed calendar instant, so the four (group x period)
    cells are plain conditional aggregates; the estimate is the
    interaction of the two differences, with a Welch-style SE from
    the per-cell variances (the standard 2x2 DiD with independent
    cells).

    Scale shape: the ENTIRE query is one conditional aggregate over
    the event scan — full map-side partial aggregation, twelve
    doubles per partition across the wire, one scalar projection.
    The same shape as ml_eval_agreement's confusion matrix; nothing
    downstream grows with data volume.  Empty cells (no events in a
    group-period) null the estimate on both engines via avg/var over
    zero rows -> NULL propagation."""
    e = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull()
    )
    cut = F.lit(_DID_CUTOVER).cast("timestamp")
    treat = F.col("user_id") % 2 == 1
    post = F.col("ts") >= cut

    def cell(cond):
        v = F.when(cond, F.col("value"))
        return v

    conds = {
        "c_pre": ~treat & ~post,
        "c_post": ~treat & post,
        "t_pre": treat & ~post,
        "t_post": treat & post,
    }
    aggs = []
    for k, cond in conds.items():
        aggs += [
            F.avg(cell(cond)).alias(f"m_{k}"),
            F.var_samp(cell(cond)).alias(f"v_{k}"),
            F.count(cell(cond)).alias(f"n_{k}"),
        ]
    cells = e.agg(*aggs)
    m = {k: F.col(f"m_{k}") for k in conds}
    did = (m["t_post"] - m["t_pre"]) - (m["c_post"] - m["c_pre"])
    se = F.sqrt(
        sum(
            F.col(f"v_{k}") / F.col(f"n_{k}")
            for k in conds
        )
    )
    return cells.select(
        (F.round(m["c_pre"] - 1e-9, _R) + 0.0).alias("mean_ctrl_pre"),
        (F.round(m["c_post"] - 1e-9, _R) + 0.0).alias("mean_ctrl_post"),
        (F.round(m["t_pre"] - 1e-9, _R) + 0.0).alias("mean_treat_pre"),
        (F.round(m["t_post"] - 1e-9, _R) + 0.0).alias("mean_treat_post"),
        (F.round(did - 1e-9, _R) + 0.0).alias("did_estimate"),
        (F.round(se - 1e-9, _R) + 0.0).alias("se"),
        (
            F.round(did / F.nullif(se, F.lit(0.0)) - 1e-9, _R) + 0.0
        ).alias("t_stat"),
    )


@register(
    "stat_proportions_ztest",
    oracle=f"""
    WITH c AS (
      SELECT
        CAST(count(CASE WHEN user_id % 2 = 0 THEN 1 END) AS DOUBLE) AS na,
        CAST(count(CASE WHEN user_id % 2 = 1 THEN 1 END) AS DOUBLE) AS nb,
        CAST(count(CASE WHEN user_id % 2 = 0
                         AND event_type = 'purchase' THEN 1 END)
             AS DOUBLE) AS xa,
        CAST(count(CASE WHEN user_id % 2 = 1
                         AND event_type = 'purchase' THEN 1 END)
             AS DOUBLE) AS xb
      FROM events
    )
    SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
           round(xa / na - 1e-9, {_R}) + 0.0 AS p_a,
           round(xb / nb - 1e-9, {_R}) + 0.0 AS p_b,
           round((xa + xb) / (na + nb) - 1e-9, {_R}) + 0.0 AS p_pooled,
           round((xa / na - xb / nb)
                 / nullif(sqrt(((xa + xb) / (na + nb))
                          * (1 - (xa + xb) / (na + nb))
                          * (1 / na + 1 / nb)), 0)
                 - 1e-9, {_R}) + 0.0 AS z_score
    FROM c
    """,
)
def stat_proportions_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample pooled-variance z-test on conversion proportions
    (purchase share of events, even- vs odd-user split) — the
    first-line A/B significance test on a rate metric, complementing
    stat_welch_ttest (means), stat_wilson_ci (one-sample rate CI),
    and stat_diff_in_diff (trend-adjusted lift).

    Scale shape: ONE conditional aggregate over the event scan (four
    counting doubles cross the wire per partition) and a scalar
    projection — nothing downstream grows with data.  All inputs to
    the closed form are exact integer counts, so the doubles agree
    bit-for-bit across engines before the defensive round."""
    e = load_table(spark, sf_dir, "events")
    even = F.col("user_id") % 2 == 0
    purchase = F.col("event_type") == "purchase"
    c = e.agg(
        F.count(F.when(even, 1)).cast("double").alias("na"),
        F.count(F.when(~even, 1)).cast("double").alias("nb"),
        F.count(F.when(even & purchase, 1)).cast("double").alias("xa"),
        F.count(F.when(~even & purchase, 1)).cast("double").alias("xb"),
    )
    na, nb, xa, xb = (F.col(c_) for c_ in ("na", "nb", "xa", "xb"))
    pa, pb = xa / na, xb / nb
    pp = (xa + xb) / (na + nb)
    z = (pa - pb) / F.nullif(
        F.sqrt(pp * (1 - pp) * (1 / na + 1 / nb)), F.lit(0.0)
    )
    return c.select(
        na.cast("long").alias("n_a"),
        nb.cast("long").alias("n_b"),
        (F.round(pa - 1e-9, _R) + 0.0).alias("p_a"),
        (F.round(pb - 1e-9, _R) + 0.0).alias("p_b"),
        (F.round(pp - 1e-9, _R) + 0.0).alias("p_pooled"),
        (F.round(z - 1e-9, _R) + 0.0).alias("z_score"),
    )


_TOST_MARGIN = 0.5  # equivalence margin on the mean difference
_TOST_Z_CRIT = 1.6449  # one-sided 5% normal critical value


@register(
    "stat_tost_equivalence",
    oracle=f"""
    WITH g AS (
      SELECT avg(CASE WHEN event_type = 'purchase' THEN value END) AS m1,
             var_samp(CASE WHEN event_type = 'purchase' THEN value END) AS v1,
             count(CASE WHEN event_type = 'purchase' THEN value END) AS n1,
             avg(CASE WHEN event_type = 'view' THEN value END) AS m2,
             var_samp(CASE WHEN event_type = 'view' THEN value END) AS v2,
             count(CASE WHEN event_type = 'view' THEN value END) AS n2
      FROM events
    ),
    t AS (
      SELECT n1, n2, m1 - m2 AS diff,
             nullif(sqrt(v1 / n1 + v2 / n2), 0) AS se
      FROM g
    )
    SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
           round(diff - 1e-9, {_R}) + 0.0 AS mean_diff,
           round(se - 1e-9, {_R}) + 0.0 AS se,
           round((diff + {_TOST_MARGIN}) / se - 1e-9, {_R}) + 0.0
             AS t_lower,
           round((diff - {_TOST_MARGIN}) / se - 1e-9, {_R}) + 0.0
             AS t_upper,
           (round((diff + {_TOST_MARGIN}) / se - 1e-9, {_R})
              >  {_TOST_Z_CRIT})
           AND (round((diff - {_TOST_MARGIN}) / se - 1e-9, {_R})
              < -{_TOST_Z_CRIT}) AS equivalent
    FROM t
    """,
)
def stat_tost_equivalence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOST equivalence test (two one-sided tests) on the purchase-
    vs-view mean difference: unlike stat_welch_ttest, which can only
    fail to reject 'no difference', TOST POSITIVELY demonstrates the
    means are within ±margin — the test you actually need for 'the
    new pipeline produces the same metric' parity checks.  Rejecting
    both one-sided nulls (diff ≤ -margin, diff ≥ +margin) at 5%
    bounds the difference inside the margin at 90% confidence.

    Scale shape: identical to stat_welch_ttest — ONE conditional
    aggregate over the scan (six moments cross the wire per
    partition) and scalar arithmetic on the 1-row result.  The
    `equivalent` verdict compares the ROUNDED t statistics against
    the critical value on both engines, so an ulp of se drift cannot
    flip the boolean (house round-before-compare discipline)."""
    e = load_table(spark, sf_dir, "events")
    p = F.when(F.col("event_type") == "purchase", F.col("value"))
    v = F.when(F.col("event_type") == "view", F.col("value"))
    g = e.agg(
        F.avg(p).alias("m1"), F.var_samp(p).alias("v1"),
        F.count(p).alias("n1"),
        F.avg(v).alias("m2"), F.var_samp(v).alias("v2"),
        F.count(v).alias("n2"),
    )
    diff = F.col("m1") - F.col("m2")
    se = F.nullif(
        F.sqrt(F.col("v1") / F.col("n1") + F.col("v2") / F.col("n2")),
        F.lit(0.0),
    )
    t_lo = F.round((diff + _TOST_MARGIN) / se - 1e-9, _R)
    t_hi = F.round((diff - _TOST_MARGIN) / se - 1e-9, _R)
    return g.select(
        F.col("n1").cast("long").alias("n1"),
        F.col("n2").cast("long").alias("n2"),
        (F.round(diff - 1e-9, _R) + 0.0).alias("mean_diff"),
        (F.round(se - 1e-9, _R) + 0.0).alias("se"),
        (t_lo + 0.0).alias("t_lower"),
        (t_hi + 0.0).alias("t_upper"),
        ((t_lo > _TOST_Z_CRIT) & (t_hi < -_TOST_Z_CRIT)).alias(
            "equivalent"
        ),
    )


@register(
    "stat_runs_test",
    oracle=f"""
    WITH daily AS (
      SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS d,
             round(sum(value) - 1e-9, 6) + 0.0 AS x
      FROM events GROUP BY 1, 2
    ),
    med AS (
      SELECT event_type, quantile_cont(x, 0.5) AS m
      FROM daily GROUP BY event_type
    ),
    marked AS (
      SELECT daily.event_type, d,
             CASE WHEN x > m THEN 1 ELSE 0 END AS up
      FROM daily JOIN med ON daily.event_type = med.event_type
      WHERE x <> m
    ),
    runs AS (
      SELECT event_type, up,
             CASE WHEN lag(up) OVER (PARTITION BY event_type ORDER BY d)
                       IS DISTINCT FROM up THEN 1 ELSE 0 END AS boundary
      FROM marked
    ),
    g AS (
      SELECT event_type,
             CAST(sum(up) AS DOUBLE) AS n1,
             CAST(sum(1 - up) AS DOUBLE) AS n2,
             CAST(sum(boundary) AS BIGINT) AS n_runs
      FROM runs GROUP BY event_type
    )
    SELECT event_type,
           CAST(n1 AS BIGINT) AS n_above,
           CAST(n2 AS BIGINT) AS n_below,
           n_runs,
           round((n_runs - (2 * n1 * n2 / (n1 + n2) + 1))
                 / nullif(sqrt(2 * n1 * n2 * (2 * n1 * n2 - n1 - n2)
                          / ((n1 + n2) * (n1 + n2) * (n1 + n2 - 1))), 0)
                 - 1e-9, {_R}) + 0.0 AS z_score
    FROM g
    """,
)
def stat_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald-Wolfowitz runs test per event-type daily series: are the
    above-median / below-median days RANDOMLY interleaved, or do they
    clump (trend / regime) or alternate (overcorrection)?  The
    randomness check that complements stat_mann_kendall — MK asks
    'is there a monotone trend', runs asks 'is the sequence
    exchangeable at all'.  Median-equal days are excluded (the
    standard convention); the first row of each series counts as a
    run boundary, so n_runs = 1 + sign changes.

    Scale shape: the raw scan collapses to the calendar-bounded
    daily table in one partial-agg shuffle; the median, the lag
    window, and the run count all operate per-series over that
    bounded table (windows PARTITIONED by event_type — never
    global).  Daily totals round to 6 dp on both engines before
    median/compare so partial-sum ulp drift cannot flip a side;
    a one-sided series (n1 or n2 = 0) pins z to NULL via NULLIF."""
    daily = (
        load_table(spark, sf_dir, "events")
        .groupBy(
            "event_type", F.to_date(F.date_trunc("day", "ts")).alias("d")
        )
        .agg((F.round(F.sum("value") - 1e-9, 6) + 0.0).alias("x"))
    )
    med = daily.groupBy("event_type").agg(
        F.percentile("x", 0.5).alias("m")
    )
    marked = (
        daily.join(med, "event_type")
        .filter(F.col("x") != F.col("m"))
        .select(
            "event_type",
            "d",
            F.when(F.col("x") > F.col("m"), 1).otherwise(0).alias("up"),
        )
    )
    w = Window.partitionBy("event_type").orderBy("d")
    runs = marked.select(
        "event_type",
        "up",
        F.when(
            ~F.lag("up").over(w).eqNullSafe(F.col("up")), 1
        )
        .otherwise(0)
        .alias("boundary"),
    )
    g = runs.groupBy("event_type").agg(
        F.sum("up").cast("double").alias("n1"),
        F.sum(1 - F.col("up")).cast("double").alias("n2"),
        F.sum("boundary").cast("long").alias("n_runs"),
    )
    n1, n2, r = F.col("n1"), F.col("n2"), F.col("n_runs")
    n = n1 + n2
    e_r = 2 * n1 * n2 / n + 1
    sd = F.nullif(
        F.sqrt(2 * n1 * n2 * (2 * n1 * n2 - n1 - n2) / (n * n * (n - 1))),
        F.lit(0.0),
    )
    return g.select(
        "event_type",
        n1.cast("long").alias("n_above"),
        n2.cast("long").alias("n_below"),
        r.alias("n_runs"),
        (F.round((r - e_r) / sd - 1e-9, _R) + 0.0).alias("z_score"),
    )


@register(
    "dq_completeness_trend",
    oracle=f"""
    WITH u AS (
      SELECT date_trunc('day', ts) AS d, 'value' AS col_name,
             CASE WHEN value IS NULL THEN 1 ELSE 0 END AS is_null
      FROM events
      UNION ALL
      SELECT date_trunc('day', ts), 'props',
             CASE WHEN props IS NULL THEN 1 ELSE 0 END
      FROM events
      UNION ALL
      SELECT date_trunc('day', ts), 'user_id',
             CASE WHEN user_id IS NULL THEN 1 ELSE 0 END
      FROM events
    )
    SELECT d, col_name,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(is_null) AS BIGINT) AS n_null,
           round(CAST(sum(is_null) AS DOUBLE) / count(*) - 1e-9, {_R})
             + 0.0 AS null_rate
    FROM u GROUP BY d, col_name
    """,
)
def dq_completeness_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day, per-column completeness (null-rate) trend — the
    first chart on any data-quality dashboard, and the signal that
    catches an upstream schema break the day it happens (a column's
    null rate stepping from 2% to 100% is a dropped field, not
    noise).  Complements dq_profile_report (one snapshot) with the
    TIME dimension, and dq_psi_drift (distribution shift) with the
    presence dimension.

    Scale shape: the unpivot is a column-projection stack, not a
    join — each probed column contributes one (day, name, is_null)
    stream and the whole query is ONE partial-agg shuffle to
    |days| × |columns| rows.  Counts are exact integers; only the
    final rate divides."""
    e = load_table(spark, sf_dir, "events").select(
        F.date_trunc("day", "ts").cast("timestamp_ntz").alias("d"),
        F.expr(
            "stack(3, 'value', CASE WHEN value IS NULL THEN 1 ELSE 0 END,"
            " 'props', CASE WHEN props IS NULL THEN 1 ELSE 0 END,"
            " 'user_id', CASE WHEN user_id IS NULL THEN 1 ELSE 0 END)"
            " AS (col_name, is_null)"
        ),
    )
    return e.groupBy("d", "col_name").agg(
        F.count("*").cast("long").alias("n_rows"),
        F.sum("is_null").cast("long").alias("n_null"),
        (
            F.round(
                F.sum("is_null").cast("double") / F.count("*") - 1e-9, _R
            )
            + 0.0
        ).alias("null_rate"),
    )


@register(
    "stat_effect_sizes",
    oracle=f"""
    WITH g AS (
      SELECT avg(CASE WHEN event_type = 'purchase' THEN value END) AS m1,
             var_samp(CASE WHEN event_type = 'purchase' THEN value END) AS v1,
             CAST(count(CASE WHEN event_type = 'purchase' THEN value END)
                  AS DOUBLE) AS n1,
             avg(CASE WHEN event_type = 'view' THEN value END) AS m2,
             var_samp(CASE WHEN event_type = 'view' THEN value END) AS v2,
             CAST(count(CASE WHEN event_type = 'view' THEN value END)
                  AS DOUBLE) AS n2
      FROM events
    ),
    d AS (
      SELECT n1, n2, m1 - m2 AS diff,
             sqrt(((n1 - 1) * v1 + (n2 - 1) * v2) / (n1 + n2 - 2))
               AS pooled_sd
      FROM g
    )
    SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
           round(diff - 1e-9, {_R}) + 0.0 AS mean_diff,
           round(pooled_sd - 1e-9, {_R}) + 0.0 AS pooled_sd,
           round(diff / nullif(pooled_sd, 0) - 1e-9, {_R}) + 0.0
             AS cohens_d,
           round(diff / nullif(pooled_sd, 0)
                 * (1 - 3 / (4 * (n1 + n2) - 9)) - 1e-9, {_R}) + 0.0
             AS hedges_g,
           round(diff / nullif(pooled_sd, 0)
                 * sqrt((n1 + n2 - 2) / (n1 + n2)) - 1e-9, {_R}) + 0.0
             AS glass_like_d
    FROM d
    """,
)
def stat_effect_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Standardized effect sizes for the purchase-vs-view mean gap:
    Cohen's d (pooled-SD units), Hedges' g (small-sample bias
    correction), and the population-SD variant — the numbers that
    say whether a 'significant' stat_welch_ttest result is actually
    LARGE (at 100 TB sample sizes, everything is significant; only
    effect size still means something).

    Scale shape: identical to stat_welch_ttest — ONE conditional
    aggregate over the scan, scalar closed forms on the 1-row
    result; a zero pooled SD (both groups constant and equal) pins
    every ratio to NULL via NULLIF on both engines."""
    e = load_table(spark, sf_dir, "events")
    p = F.when(F.col("event_type") == "purchase", F.col("value"))
    v = F.when(F.col("event_type") == "view", F.col("value"))
    g = e.agg(
        F.avg(p).alias("m1"), F.var_samp(p).alias("v1"),
        F.count(p).cast("double").alias("n1"),
        F.avg(v).alias("m2"), F.var_samp(v).alias("v2"),
        F.count(v).cast("double").alias("n2"),
    )
    n1, n2 = F.col("n1"), F.col("n2")
    diff = F.col("m1") - F.col("m2")
    pooled = F.sqrt(
        ((n1 - 1) * F.col("v1") + (n2 - 1) * F.col("v2")) / (n1 + n2 - 2)
    )
    dd = diff / F.nullif(pooled, F.lit(0.0))
    return g.select(
        n1.cast("long").alias("n1"),
        n2.cast("long").alias("n2"),
        (F.round(diff - 1e-9, _R) + 0.0).alias("mean_diff"),
        (F.round(pooled - 1e-9, _R) + 0.0).alias("pooled_sd"),
        (F.round(dd - 1e-9, _R) + 0.0).alias("cohens_d"),
        (
            F.round(dd * (1 - 3 / (4 * (n1 + n2) - 9)) - 1e-9, _R) + 0.0
        ).alias("hedges_g"),
        (
            F.round(dd * F.sqrt((n1 + n2 - 2) / (n1 + n2)) - 1e-9, _R)
            + 0.0
        ).alias("glass_like_d"),
    )


@register(
    "stat_capture_recapture",
    oracle=f"""
    WITH s1 AS (
      SELECT DISTINCT user_id FROM events
      WHERE ts < TIMESTAMP '2024-01-16 00:00:00'
    ),
    s2 AS (
      SELECT DISTINCT user_id FROM events
      WHERE ts >= TIMESTAMP '2024-01-16 00:00:00'
    ),
    c AS (
      SELECT (SELECT CAST(count(*) AS DOUBLE) FROM s1) AS n1,
             (SELECT CAST(count(*) AS DOUBLE) FROM s2) AS n2,
             (SELECT CAST(count(*) AS DOUBLE)
              FROM s1 JOIN s2 USING (user_id)) AS m
    )
    SELECT CAST(n1 AS BIGINT) AS n_first,
           CAST(n2 AS BIGINT) AS n_second,
           CAST(m AS BIGINT) AS n_both,
           CAST(round((n1 + 1) * (n2 + 1) / (m + 1) - 1, 0) AS BIGINT)
             AS chapman_estimate,
           round(sqrt((n1 + 1) * (n2 + 1) * (n1 - m) * (n2 - m)
                      / ((m + 1) * (m + 1) * (m + 2)))
                 - 1e-9, {_R}) + 0.0 AS se
    FROM c
    """,
)
def stat_capture_recapture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chapman capture-recapture estimate of the TOTAL user
    population from two observation windows (first vs second half of
    the period): users seen in both windows are the 'recaptures', and
    N̂ = (n1+1)(n2+1)/(m+1) − 1 estimates how many users exist that
    the log never saw — the standard answer to 'how big is the real
    audience / entity universe' when the catalog is incomplete
    (Chapman's +1 correction keeps the estimator finite and
    near-unbiased at small overlap, where naive Lincoln-Petersen
    n1·n2/m blows up).

    Scale shape: two distinct-user collapses (one partial-agg shuffle
    each over the half-range scans) and one key join of the two
    |users|-sized sets; three exact counts feed a closed form on a
    1-row result.  All inputs to the arithmetic are exact integer
    counts, so the doubles agree bit-for-bit before the defensive
    round."""
    e = load_table(spark, sf_dir, "events")
    cut = F.lit("2024-01-16 00:00:00").cast("timestamp_ntz")
    s1 = e.filter(F.col("ts") < cut).select("user_id").distinct()
    s2 = e.filter(F.col("ts") >= cut).select("user_id").distinct()
    n1 = s1.agg(F.count("*").cast("double").alias("n1"))
    n2 = s2.agg(F.count("*").cast("double").alias("n2"))
    m = s1.join(s2, "user_id").agg(F.count("*").cast("double").alias("m"))
    c = (
        n1.crossJoin(F.broadcast(n2))
        .crossJoin(F.broadcast(m))
    )
    cn1, cn2, cm = F.col("n1"), F.col("n2"), F.col("m")
    est = F.round((cn1 + 1) * (cn2 + 1) / (cm + 1) - 1, 0)
    se = F.sqrt(
        (cn1 + 1)
        * (cn2 + 1)
        * (cn1 - cm)
        * (cn2 - cm)
        / ((cm + 1) * (cm + 1) * (cm + 2))
    )
    return c.select(
        cn1.cast("long").alias("n_first"),
        cn2.cast("long").alias("n_second"),
        cm.cast("long").alias("n_both"),
        est.cast("long").alias("chapman_estimate"),
        (F.round(se - 1e-9, _R) + 0.0).alias("se"),
    )


_PWR_Z_ALPHA = 1.96  # two-sided 5%
_PWR_Z_BETA = 0.8416  # 80% power
_PWR_MDE = 0.5  # minimum detectable effect on the value scale


@register(
    "stat_power_sample_size",
    oracle=f"""
    WITH g AS (
      SELECT var_samp(value) AS s2, CAST(count(value) AS DOUBLE) AS n
      FROM events WHERE event_type IN ('purchase', 'view')
        AND value IS NOT NULL
    )
    SELECT round(s2 - 1e-9, {_R}) + 0.0 AS variance,
           CAST(n AS BIGINT) AS n_observed,
           CAST(ceil(2 * s2 * pow({_PWR_Z_ALPHA} + {_PWR_Z_BETA}, 2)
                     / pow({_PWR_MDE}, 2)) AS BIGINT) AS n_per_arm,
           round(({_PWR_Z_ALPHA} + {_PWR_Z_BETA})
                 * sqrt(2 * s2 / floor(n / 2)) - 1e-9, {_R}) + 0.0
             AS mde_at_half_split
    FROM g
    """,
)
def stat_power_sample_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B test power calculation from the MEASURED metric variance:
    the per-arm sample size needed to detect a {_PWR_MDE}-unit mean
    shift at 5% two-sided significance with 80% power
    (n = 2σ²(z_α+z_β)²/δ²), plus the inverse — the minimum
    detectable effect if the observed population were split in half
    today.  The pre-experiment companion to stat_welch_ttest /
    stat_effect_sizes: those judge a finished test, this sizes the
    next one.

    Scale shape: ONE aggregate over the scan (variance is
    decomposable) and closed-form scalar arithmetic on the 1-row
    result.  The constants are fixed literals, so both engines
    compute the identical expression tree."""
    g = (
        load_table(spark, sf_dir, "events")
        .filter(
            F.col("event_type").isin("purchase", "view")
            & F.col("value").isNotNull()
        )
        .agg(
            F.var_samp("value").alias("s2"),
            F.count("value").cast("double").alias("n"),
        )
    )
    s2, n = F.col("s2"), F.col("n")
    zsum = _PWR_Z_ALPHA + _PWR_Z_BETA
    return g.select(
        (F.round(s2 - 1e-9, _R) + 0.0).alias("variance"),
        n.cast("long").alias("n_observed"),
        F.ceil(2 * s2 * zsum * zsum / (_PWR_MDE * _PWR_MDE))
        .cast("long")
        .alias("n_per_arm"),
        (
            F.round(zsum * F.sqrt(2 * s2 / F.floor(n / 2)) - 1e-9, _R)
            + 0.0
        ).alias("mde_at_half_split"),
    )


@register(
    "dq_uniqueness_report",
    oracle="""
    SELECT 'events.event_id' AS key_column,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(DISTINCT event_id) AS BIGINT) AS n_distinct,
           CAST(count(*) - count(DISTINCT event_id) AS BIGINT)
             AS n_duplicate_rows,
           count(*) = count(DISTINCT event_id) AS is_unique
    FROM events
    UNION ALL
    SELECT 'orders.o_orderkey', count(*), count(DISTINCT o_orderkey),
           count(*) - count(DISTINCT o_orderkey),
           count(*) = count(DISTINCT o_orderkey)
    FROM orders
    UNION ALL
    SELECT 'lineitem.(l_orderkey,l_linenumber)', count(*),
           count(DISTINCT l_orderkey * 10000 + l_linenumber),
           count(*) - count(DISTINCT l_orderkey * 10000 + l_linenumber),
           count(*) = count(DISTINCT l_orderkey * 10000 + l_linenumber)
    FROM lineitem
    """,
)
def dq_uniqueness_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Primary-key uniqueness audit across three tables — the
    constraint check every ingestion gate runs before anything
    downstream assumes key semantics (a duplicated order key turns
    every join into a silent fan-out).  Covers a single-column key,
    a surrogate key, and a composite key (encoded as one integer so
    the distinct is a plain column distinct on both engines).

    Scale shape: each leg is one COUNT DISTINCT — Spark plans the
    standard two-level expand/partial-agg (distinct-aggregate
    rewrite), so the shuffle carries distinct keys, not rows; the
    three legs union into one plan.  All outputs are exact
    integers."""
    def leg(df, name, key_col):
        return df.agg(
            F.lit(name).alias("key_column"),
            F.count("*").cast("long").alias("n_rows"),
            F.count_distinct(key_col).cast("long").alias("n_distinct"),
            (F.count("*") - F.count_distinct(key_col))
            .cast("long")
            .alias("n_duplicate_rows"),
            (F.count("*") == F.count_distinct(key_col)).alias("is_unique"),
        )

    e = load_table(spark, sf_dir, "events")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    return (
        leg(e, "events.event_id", F.col("event_id"))
        .unionByName(leg(o, "orders.o_orderkey", F.col("o_orderkey")))
        .unionByName(
            leg(
                li,
                "lineitem.(l_orderkey,l_linenumber)",
                F.col("l_orderkey") * 10000 + F.col("l_linenumber"),
            )
        )
    )


@register(
    "agg_multi_distinct",
    oracle="""
    SELECT count(*) AS n_rows,
           count(DISTINCT user_id) AS n_users,
           count(DISTINCT event_type) AS n_types,
           count(DISTINCT date_trunc('day', ts)) AS n_days,
           count(DISTINCT CASE WHEN event_type = 'purchase'
                               THEN user_id END) AS n_buyers
    FROM events
    """,
)
def agg_multi_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Several COUNT DISTINCTs over DIFFERENT columns in one
    aggregate — the daily-summary shape ('rows, users, types, active
    days, buyers') that tempts people into N separate scans.  Spark's
    distinct-aggregate rewrite plans ONE scan with an Expand operator
    (each row replicated once per distinct group, then two-level
    aggregation), so the table is read once no matter how many
    distinct columns the summary adds; the conditional distinct
    (buyers) rides the same machinery.

    Scale shape: one scan + one Expand(×5) + partial/final hash aggs
    — shuffle volume is the distinct key sets, not raw rows.  All
    outputs exact integers."""
    e = load_table(spark, sf_dir, "events")
    return e.agg(
        F.count("*").alias("n_rows"),
        F.count_distinct("user_id").alias("n_users"),
        F.count_distinct("event_type").alias("n_types"),
        F.count_distinct(F.date_trunc("day", "ts")).alias("n_days"),
        F.count_distinct(
            F.when(F.col("event_type") == "purchase", F.col("user_id"))
        ).alias("n_buyers"),
    )


@register(
    "stat_g_test",
    oracle=f"""
    WITH c AS (
      SELECT lang, source, CAST(count(*) AS DOUBLE) AS o
      FROM documents GROUP BY 1, 2
    ),
    t AS (
      SELECT lang, source, o,
             sum(o) OVER (PARTITION BY lang)   AS row_tot,
             sum(o) OVER (PARTITION BY source) AS col_tot,
             sum(o) OVER ()                    AS n
      FROM c
    )
    SELECT CAST(count(DISTINCT lang) AS BIGINT)   AS n_row_levels,
           CAST(count(DISTINCT source) AS BIGINT) AS n_col_levels,
           round(2 * sum(o * ln(o / (row_tot * col_tot / n)))
                 - 1e-9, {_R}) + 0.0 AS g_stat,
           CAST((count(DISTINCT lang) - 1) * (count(DISTINCT source) - 1)
                AS BIGINT) AS dof
    FROM t
    """,
)
def stat_g_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G-test (log-likelihood ratio) of independence over the
    lang × source contingency table — the information-theoretic twin
    of stat_chi2_independence: G = 2·Σ O·ln(O/E) is additive across
    table partitions and is what collocation mining (Dunning) and
    feature selection actually use where Pearson's χ² degrades on
    small expected counts.  Zero cells contribute 0 (they don't
    occur in the observed-count table, so the sum simply omits
    them — identical on both engines).

    Scale shape: identical to the chi-square — one partial-agg
    shuffle to |lang|×|source| cells, marginal windows over that
    bounded table, one scalar reduce."""
    c = (
        load_table(spark, sf_dir, "documents")
        .groupBy("lang", "source")
        .agg(F.count("*").cast("double").alias("o"))
    )
    w_row = Window.partitionBy("lang")
    w_col = Window.partitionBy("source")
    w_all = Window.partitionBy()
    t = c.select(
        "lang",
        "source",
        "o",
        F.sum("o").over(w_row).alias("row_tot"),
        F.sum("o").over(w_col).alias("col_tot"),
        F.sum("o").over(w_all).alias("n"),
    )
    e_cell = F.col("row_tot") * F.col("col_tot") / F.col("n")
    return t.agg(
        F.count_distinct("lang").cast("long").alias("n_row_levels"),
        F.count_distinct("source").cast("long").alias("n_col_levels"),
        (
            F.round(
                2 * F.sum(F.col("o") * F.log(F.col("o") / e_cell)) - 1e-9,
                _R,
            )
            + 0.0
        ).alias("g_stat"),
        (
            (F.count_distinct("lang") - 1)
            * (F.count_distinct("source") - 1)
        )
        .cast("long")
        .alias("dof"),
    )


@register(
    "agg_pivot_multi",
    oracle=f"""
    SELECT c_mktsegment,
           count(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS F_n,
           round(avg(CASE WHEN o_orderstatus = 'F' THEN o_totalprice END)
                 - 1e-9, {_R}) + 0.0 AS F_avg,
           count(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS O_n,
           round(avg(CASE WHEN o_orderstatus = 'O' THEN o_totalprice END)
                 - 1e-9, {_R}) + 0.0 AS O_avg,
           count(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS P_n,
           round(avg(CASE WHEN o_orderstatus = 'P' THEN o_totalprice END)
                 - 1e-9, {_R}) + 0.0 AS P_avg
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment
    """,
)
def agg_pivot_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pivot with MULTIPLE aggregate expressions per cell — Spark
    emits one suffixed column per (pivot value × aggregate), here
    (status × {count, avg}) — the wide KPI-matrix shape
    (`pivot_table(values=[...], aggfunc=[...])`) that agg_pivot's
    single-measure form doesn't cover.  Explicit pivot values, so no
    distinct-discovery pre-job runs at scale.

    Scale shape: identical to agg_pivot — the pivot compiles to
    conditional aggregates in ONE hash agg (no extra shuffle per
    measure); the customer join is left to AQE.  Counts exact,
    averages rounded."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    j = o.join(c, o["o_custkey"] == c["c_custkey"])
    p = (
        j.groupBy("c_mktsegment")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(
            F.count("o_totalprice").alias("n"),
            F.avg("o_totalprice").alias("avg"),
        )
    )
    cols = [F.col("c_mktsegment")]
    for s in ("F", "O", "P"):
        cols.append(F.col(f"{s}_n").alias(f"{s}_n"))
        cols.append(
            (F.round(F.col(f"{s}_avg") - 1e-9, _R) + 0.0).alias(f"{s}_avg")
        )
    return p.select(*cols)


_HU_BINS = 1000


@register(
    "dq_hash_uniformity",
    oracle=f"""
    WITH h AS (
      SELECT CAST('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 15)
                  AS BIGINT) % {_HU_BINS} AS b
      FROM events
    ),
    c AS (SELECT b, CAST(count(*) AS DOUBLE) AS n FROM h GROUP BY b),
    e AS (
      SELECT b, n,
             sum(n) OVER (ORDER BY b ROWS UNBOUNDED PRECEDING) AS cum,
             sum(n) OVER () AS total
      FROM c
    )
    SELECT CAST(max(total) AS BIGINT) AS n_rows,
           {_HU_BINS} AS n_bins,
           round(max(abs(cum / total
                         - CAST(b + 1 AS DOUBLE) / {_HU_BINS}))
                 - 1e-9, {_R}) + 0.0 AS ks_d,
           round(1.36 / sqrt(max(total)) - 1e-9, {_R}) + 0.0
             AS ks_crit_5pct,
           round(max(abs(cum / total
                         - CAST(b + 1 AS DOUBLE) / {_HU_BINS}))
                 - 1e-9, {_R})
             <= round(1.36 / sqrt(max(total)) - 1e-9, {_R}) AS uniform_ok
    FROM e
    """,
)
def dq_hash_uniformity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-sample KS uniformity audit of the engine's portable hash:
    bucket every event key into {_HU_BINS} hash bins and measure the
    max deviation of the empirical CDF from uniform — the check that
    certifies hash-based SPLITS and SALTS (sample_hash_split,
    agg_salted_skew, the LSH band hashes) actually spread keys
    evenly; a biased hash silently skews every downstream sample and
    every salted partition.  Compared against the 5% KS critical
    value 1.36/√n on the ROUNDED statistics.

    Scale shape: one partial-agg shuffle collapses the scan to
    ≤ {_HU_BINS} bin counts; the ECDF windows run over that
    fixed-size table only (binned KS — exact for the binned
    statistic, the scale-correct form of a test whose raw version
    needs a data-sized sort)."""
    from ondemand_dask_spark.functions.texthash import portable_hash64

    h = load_table(spark, sf_dir, "events").select(
        (portable_hash64(F.col("event_id").cast("string")) % _HU_BINS).alias(
            "b"
        )
    )
    c = h.groupBy("b").agg(F.count("*").cast("double").alias("n"))
    w_cum = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, 0)
    w_all = Window.partitionBy()
    e = c.select(
        "b",
        F.sum("n").over(w_cum).alias("cum"),
        F.sum("n").over(w_all).alias("total"),
    )
    dev = F.abs(
        F.col("cum") / F.col("total")
        - (F.col("b") + 1).cast("double") / _HU_BINS
    )
    ks = F.round(F.max(dev) - 1e-9, _R)
    crit = F.round(1.36 / F.sqrt(F.max("total")) - 1e-9, _R)
    return e.agg(
        F.max("total").cast("long").alias("n_rows"),
        F.lit(_HU_BINS).alias("n_bins"),
        (ks + 0.0).alias("ks_d"),
        (crit + 0.0).alias("ks_crit_5pct"),
        (ks <= crit).alias("uniform_ok"),
    )


@register(
    "stat_mcnemar",
    oracle=f"""
    WITH per_user AS (
      SELECT user_id,
             max(CASE WHEN event_type = 'purchase'
                       AND ts <  TIMESTAMP '{_DID_CUTOVER}'
                      THEN 1 ELSE 0 END) AS pre,
             max(CASE WHEN event_type = 'purchase'
                       AND ts >= TIMESTAMP '{_DID_CUTOVER}'
                      THEN 1 ELSE 0 END) AS post
      FROM events GROUP BY user_id
    ),
    c AS (
      SELECT CAST(sum(CASE WHEN pre = 1 AND post = 0 THEN 1 ELSE 0 END)
                  AS DOUBLE) AS b,
             CAST(sum(CASE WHEN pre = 0 AND post = 1 THEN 1 ELSE 0 END)
                  AS DOUBLE) AS c,
             CAST(sum(CASE WHEN pre = 1 AND post = 1 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_both,
             CAST(sum(CASE WHEN pre = 0 AND post = 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_neither
      FROM per_user
    )
    SELECT CAST(b AS BIGINT) AS n_lost,
           CAST(c AS BIGINT) AS n_gained,
           n_both, n_neither,
           round(pow(abs(b - c) - 1, 2) / nullif(b + c, 0)
                 - 1e-9, {_R}) + 0.0 AS mcnemar_chi2
    FROM c
    """,
)
def stat_mcnemar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNemar's test on PAIRED binary outcomes: did each user
    purchase before vs after the cutover — the within-subject
    companion to stat_proportions_ztest (which treats the halves as
    independent samples and throws away the pairing).  Only the
    DISCORDANT users (converted-then-stopped vs newly-converted)
    carry information; χ² = (|b−c|−1)²/(b+c) with the continuity
    correction.

    Scale shape: one user-keyed partial agg collapses the scan to
    per-user (pre, post) bits, then ONE conditional aggregate to the
    2×2 paired table — nothing downstream grows with data.  All
    inputs exact integers; a no-discordant-users corpus pins χ² to
    NULL via NULLIF."""
    e = load_table(spark, sf_dir, "events")
    cut = F.lit(_DID_CUTOVER).cast("timestamp_ntz")
    purchase = F.col("event_type") == "purchase"
    per_user = e.groupBy("user_id").agg(
        F.max(
            F.when(purchase & (F.col("ts") < cut), 1).otherwise(0)
        ).alias("pre"),
        F.max(
            F.when(purchase & (F.col("ts") >= cut), 1).otherwise(0)
        ).alias("post"),
    )
    pre, post = F.col("pre"), F.col("post")
    c = per_user.agg(
        F.sum(F.when((pre == 1) & (post == 0), 1).otherwise(0))
        .cast("double")
        .alias("b"),
        F.sum(F.when((pre == 0) & (post == 1), 1).otherwise(0))
        .cast("double")
        .alias("c"),
        F.sum(F.when((pre == 1) & (post == 1), 1).otherwise(0))
        .cast("long")
        .alias("n_both"),
        F.sum(F.when((pre == 0) & (post == 0), 1).otherwise(0))
        .cast("long")
        .alias("n_neither"),
    )
    b, cc = F.col("b"), F.col("c")
    chi2 = F.pow(F.abs(b - cc) - 1, 2) / F.nullif(b + cc, F.lit(0.0))
    return c.select(
        b.cast("long").alias("n_lost"),
        cc.cast("long").alias("n_gained"),
        "n_both",
        "n_neither",
        (F.round(chi2 - 1e-9, _R) + 0.0).alias("mcnemar_chi2"),
    )


_BAYES_Z = 1.959963985  # two-sided 95% normal quantile


@register(
    "stat_bayes_ab_beta",
    oracle=f"""
    WITH per_user AS (
      SELECT CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B' END AS variant,
             max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               AS converted
      FROM events GROUP BY user_id
    ),
    cell AS (
      SELECT variant,
             CAST(count(*) AS DOUBLE) AS n,
             CAST(sum(converted) AS DOUBLE) AS conv
      FROM per_user GROUP BY variant
    ),
    post AS (
      SELECT variant, n, conv,
             1 + conv AS alpha, 1 + n - conv AS beta
      FROM cell
    )
    SELECT variant,
           CAST(n AS BIGINT) AS n_users,
           CAST(conv AS BIGINT) AS n_converted,
           round(alpha - 1e-9, {_R}) + 0.0 AS post_alpha,
           round(beta - 1e-9, {_R}) + 0.0 AS post_beta,
           round(alpha / (alpha + beta) - 1e-9, {_R}) + 0.0 AS post_mean,
           round(alpha / (alpha + beta)
                 - {_BAYES_Z} * sqrt(alpha * beta
                     / (pow(alpha + beta, 2) * (alpha + beta + 1)))
                 - 1e-9, {_R}) + 0.0 AS cred_lo,
           round(alpha / (alpha + beta)
                 + {_BAYES_Z} * sqrt(alpha * beta
                     / (pow(alpha + beta, 2) * (alpha + beta + 1)))
                 - 1e-9, {_R}) + 0.0 AS cred_hi
    FROM post ORDER BY variant
    """,
)
def stat_bayes_ab_beta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bayesian A/B conversion summary: per variant (user_id parity,
    the same assignment stat_proportions_ztest uses), the Beta(1,1)
    posterior over the conversion rate — alpha/beta, posterior mean,
    and the normal-approximation 95% credible interval from the
    closed-form Beta variance αβ/((α+β)²(α+β+1)).  The Bayesian
    companion the frequentist battery (z-test, TOST, power) lacks:
    these are the numbers a sequential experimenter reads daily
    without an alpha-spending correction.

    Scale shape: one user-keyed partial agg to (variant, converted)
    bits, one 2-row groupBy, then pure per-row closed-form arithmetic
    — nothing data-sized past the first shuffle.  All inputs exact
    counts, so the differential check is a pure expression-tree
    comparison."""
    e = load_table(spark, sf_dir, "events")
    per_user = e.groupBy("user_id").agg(
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("converted")
    )
    cell = per_user.groupBy(
        F.when(F.col("user_id") % 2 == 0, "A").otherwise("B").alias("variant")
    ).agg(
        F.count("*").cast("double").alias("n"),
        F.sum("converted").cast("double").alias("conv"),
    )
    alpha = 1 + F.col("conv")
    beta = 1 + F.col("n") - F.col("conv")
    mean = alpha / (alpha + beta)
    half = _BAYES_Z * F.sqrt(
        alpha * beta / (F.pow(alpha + beta, 2) * (alpha + beta + 1))
    )
    r4 = lambda c: F.round(c - 1e-9, _R) + 0.0  # noqa: E731
    return cell.select(
        "variant",
        F.col("n").cast("long").alias("n_users"),
        F.col("conv").cast("long").alias("n_converted"),
        r4(alpha).alias("post_alpha"),
        r4(beta).alias("post_beta"),
        r4(mean).alias("post_mean"),
        r4(mean - half).alias("cred_lo"),
        r4(mean + half).alias("cred_hi"),
    ).orderBy("variant")


_JK_BUCKETS = 32


@register(
    "stat_jackknife_variance",
    oracle=f"""
    WITH b AS (
      SELECT CAST('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 15)
                  AS BIGINT) % {_JK_BUCKETS} AS bucket,
             CAST(sum(value) AS DOUBLE) AS s,
             CAST(count(*) AS DOUBLE) AS n
      FROM events GROUP BY 1
    ),
    tot AS (
      SELECT CAST(sum(s) AS DOUBLE) AS st,
             CAST(sum(n) AS DOUBLE) AS nt,
             CAST(count(*) AS DOUBLE) AS nb
      FROM b
    ),
    theta AS (
      SELECT pow((st - s) / (nt - n) - st / nt, 2) AS dev2,
             st, nt, nb
      FROM b, tot
    )
    SELECT CAST(max(nb) AS BIGINT) AS n_buckets,
           CAST(max(nt) AS BIGINT) AS n_rows,
           round(max(st) / max(nt) - 1e-9, {_R}) + 0.0 AS mean_value,
           round(sqrt((max(nb) - 1) / max(nb) * sum(dev2))
                 - 1e-9, {_R}) + 0.0 AS jackknife_se
    FROM theta
    """,
)
def stat_jackknife_variance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delete-one-BUCKET jackknife standard error of the mean — the
    distributed resampling twin of stat_bootstrap_ci: instead of B
    multinomial resamples it removes one of {_JK_BUCKETS} disjoint
    hash buckets at a time, and each leave-one-out mean θ_i =
    (S−s_i)/(N−n_i) is pure arithmetic on the per-bucket partials,
    so the whole estimator costs ONE scan + one {_JK_BUCKETS}-row
    reduce (the bootstrap needs an explode×B).  SE² = (B−1)/B ·
    Σ(θ_i − θ̄)², the grouped-jackknife form (θ̄ taken as the full-
    sample mean; buckets are equal-sized in expectation under the
    portable md5 hash, certified by dq_hash_uniformity).

    Scale shape: partial-agg groupBy onto {_JK_BUCKETS} buckets (the
    shuffle carries {_JK_BUCKETS} rows per map task), a 1-row total
    attached by broadcast, one tiny reduce.  Float sums round to
    {_R} dp only at the output boundary; bucket membership is exact
    integer hashing shared verbatim with the oracle."""
    from ondemand_dask_spark.functions.texthash import portable_hash64

    e = load_table(spark, sf_dir, "events")
    b = e.groupBy(
        (portable_hash64(F.col("event_id").cast("string")) % _JK_BUCKETS)
        .alias("bucket")
    ).agg(
        F.sum("value").cast("double").alias("s"),
        F.count("*").cast("double").alias("n"),
    )
    tot = b.agg(
        F.sum("s").cast("double").alias("st"),
        F.sum("n").cast("double").alias("nt"),
        F.count("*").cast("double").alias("nb"),
    )
    th = b.crossJoin(F.broadcast(tot)).select(
        ((F.col("st") - F.col("s")) / (F.col("nt") - F.col("n"))).alias("th"),
        "st", "nt", "nb",
    )
    # Deviations against the full-sample mean st/nt are computed
    # PER-ROW before the final reduce (the broadcast total rides on
    # every row), matching the oracle's expression tree exactly —
    # the expanded Σθ²−2mΣθ+Bm² form would catastrophically cancel
    # (every θ_i is within O(1/B) of m).
    m = F.col("st") / F.col("nt")
    parts = th.select(
        "nb", "nt", "st",
        F.pow(F.col("th") - m, 2).alias("dev2"),
    ).agg(
        F.max("nb").alias("nb"),
        F.max("nt").alias("nt"),
        F.max("st").alias("st"),
        F.sum("dev2").alias("ss"),
    )
    return parts.select(
        F.col("nb").cast("long").alias("n_buckets"),
        F.col("nt").cast("long").alias("n_rows"),
        (F.round(m - 1e-9, _R) + 0.0).alias("mean_value"),
        (
            F.round(
                F.sqrt((F.col("nb") - 1) / F.col("nb") * F.col("ss"))
                - 1e-9,
                _R,
            )
            + 0.0
        ).alias("jackknife_se"),
    )


@register(
    "stat_brown_forsythe",
    oracle=f"""
    WITH med AS (
      SELECT l_returnflag AS grp, median(l_quantity) AS md
      FROM lineitem GROUP BY l_returnflag
    ),
    z AS (
      SELECT l.l_returnflag AS grp, abs(l.l_quantity - m.md) AS z
      FROM lineitem l JOIN med m ON m.grp = l.l_returnflag
    ),
    g AS (
      SELECT grp, count(*) AS n, avg(z) AS m, sum(z) AS s,
             sum(z * z) AS ss
      FROM z GROUP BY grp
    ),
    tot AS (
      SELECT sum(n) AS nt, sum(s) / sum(n) AS gm, count(*) AS k FROM g
    ),
    parts AS (
      SELECT sum(n * (m - gm) * (m - gm)) AS ssb,
             sum(ss - n * m * m) AS ssw,
             max(nt) AS nt, max(k) AS k
      FROM g CROSS JOIN tot
    )
    SELECT CAST(k AS BIGINT) AS k_groups,
           CAST(nt AS BIGINT) AS n_total,
           round(ssb / (k - 1) / (ssw / (nt - k)) - 1e-9, {_R}) + 0.0
             AS bf_stat
    FROM parts
    """,
)
def stat_brown_forsythe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brown-Forsythe test of variance homogeneity across the
    l_returnflag groups — the robust (median-centered) Levene
    variant, the standard pre-check before trusting ANOVA's
    equal-variance assumption: transform each value to its absolute
    deviation from the GROUP MEDIAN, then run one-way ANOVA on the
    deviations; a large statistic means spreads differ.

    Scale shape: one exact-median groupBy (k rows, broadcast back
    onto the fact table), one sufficient-stats groupBy over the
    deviations, then the same k-row + 1-row scalar reduction as
    stat_anova_oneway.  Two data passes total, every shuffle keyed
    and partial-aggregated.  l_quantity is integral, so both
    engines' interpolated medians land on exact .0/.5 values and
    the deviation column is bit-identical — the statistic rounds
    only at the output boundary."""
    li = load_table(spark, sf_dir, "lineitem")
    med = li.groupBy(F.col("l_returnflag").alias("grp")).agg(
        F.median("l_quantity").alias("md")
    )
    z = (
        li.join(F.broadcast(med), li["l_returnflag"] == med["grp"])
        .select("grp", F.abs(F.col("l_quantity") - F.col("md")).alias("z"))
    )
    zc = F.col("z")
    g = z.groupBy("grp").agg(
        F.count("*").alias("n"),
        F.avg(zc).alias("m"),
        F.sum(zc).alias("s"),
        F.sum(zc * zc).alias("ss"),
    )
    tot = g.agg(
        F.sum("n").alias("nt"),
        (F.sum("s") / F.sum("n")).alias("gm"),
        F.count("*").alias("k"),
    )
    parts = g.crossJoin(F.broadcast(tot)).agg(
        F.sum(
            F.col("n") * (F.col("m") - F.col("gm"))
            * (F.col("m") - F.col("gm"))
        ).alias("ssb"),
        F.sum(F.col("ss") - F.col("n") * F.col("m") * F.col("m"))
        .alias("ssw"),
        F.max("nt").alias("nt"),
        F.max("k").alias("k"),
    )
    return parts.select(
        F.col("k").cast("long").alias("k_groups"),
        F.col("nt").cast("long").alias("n_total"),
        (
            F.round(
                F.col("ssb") / (F.col("k") - 1)
                / (F.col("ssw") / (F.col("nt") - F.col("k")))
                - 1e-9,
                _R,
            )
            + 0.0
        ).alias("bf_stat"),
    )


_LNFACT_SMALL = tuple(math.lgamma(n + 1) for n in range(11))


def _lnfact(n):
    """ln(n!) for an integer-valued non-negative Column: exact
    lookup for n <= 10, Stirling with three correction terms above
    (absolute error < 1e-10 at n = 11, shrinking as n^-7) — the
    portable stand-in for lgamma, which Spark SQL lacks."""
    x = n.cast("double")
    x2 = x * x
    stirling = (
        F.lit(0.5 * math.log(2.0 * math.pi))
        + (x + 0.5) * F.log(x)
        - x
        + 1.0 / (12.0 * x)
        - 1.0 / (360.0 * x2 * x)
        + 1.0 / (1260.0 * x2 * x2 * x)
    )
    expr = stirling
    for i in range(10, -1, -1):
        expr = F.when(n == i, F.lit(_LNFACT_SMALL[i])).otherwise(expr)
    return expr


_FISHER_LNC_SQL = "(lgamma({n} + 1) - lgamma({k} + 1) - lgamma({n} - {k} + 1))"


def _fisher_lnpmf_sql(k: str) -> str:
    return (
        _FISHER_LNC_SQL.format(n="r1", k=k)
        + " + " + _FISHER_LNC_SQL.format(n="(n - r1)", k=f"(c1 - {k})")
        + " - " + _FISHER_LNC_SQL.format(n="n", k="c1")
    )


@register(
    "stat_fisher_exact",
    oracle=f"""
    WITH t AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN lang = 'de' THEN 1 ELSE 0 END) AS BIGINT)
               AS r1,
             CAST(sum(CASE WHEN CAST(substr(source, 4) AS INT) <= 10
                      THEN 1 ELSE 0 END) AS BIGINT) AS c1,
             CAST(sum(CASE WHEN lang = 'de'
                       AND CAST(substr(source, 4) AS INT) <= 10
                      THEN 1 ELSE 0 END) AS BIGINT) AS a
      FROM documents
    ),
    p AS (
      SELECT *,
             generate_series(greatest(0, c1 - (n - r1)),
                             least(r1, c1)) AS ks,
             exp({_fisher_lnpmf_sql("a")}) AS pa
      FROM t
    )
    SELECT n AS n_total, r1 AS n_treat, c1 AS n_exposed, a AS n_both,
           round(pa - 1e-9, {_R}) + 0.0 AS p_point,
           round(list_sum(list_transform(ks,
                   k -> CASE WHEN k >= a
                        THEN exp({_fisher_lnpmf_sql("k")})
                        ELSE 0.0 END)) - 1e-9, {_R}) + 0.0 AS p_one_sided,
           round(list_sum(list_transform(ks,
                   k -> CASE WHEN exp({_fisher_lnpmf_sql("k")})
                             <= pa * (1 + 1e-7)
                        THEN exp({_fisher_lnpmf_sql("k")})
                        ELSE 0.0 END)) - 1e-9, {_R}) + 0.0 AS p_two_sided
    FROM p
    """,
)
def stat_fisher_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fisher's exact test on the 2x2 (lang = 'de') x (source in
    src1..src10) contingency table — the small-sample replacement
    for stat_chi2_independence: the exact hypergeometric point
    probability, one-sided tail P(X >= a), and the standard
    two-sided p (sum of all tables no more likely than observed,
    with the 1e-7 relative guard for the float-equal symmetric
    tail).

    Scale shape: the data pass is ONE conditional aggregate
    collapsing the corpus to four counts; the k-summation unrolls
    over a generated sequence of min(margin) + 1 elements INSIDE
    the single result row (array transform + fold — no explode, no
    shuffle, nothing data-sized).  Exact tests are for bounded
    counts by definition: the loop length is the rarer margin, and
    above a few thousand the chi-square twin is the right tool —
    the declared contract.  ln(k!) evaluates via exact lookup
    (k <= 10) + 3-term Stirling (error < 1e-10) on the Spark side
    and lgamma on DuckDB; both land identical at the 4 dp output
    grid."""
    d = load_table(spark, sf_dir, "documents")
    is_de = (F.col("lang") == "de").cast("long")
    is_low = (
        F.substring("source", 4, 10).cast("int") <= 10
    ).cast("long")
    t = d.agg(
        F.count("*").alias("n"),
        F.sum(is_de).alias("r1"),
        F.sum(is_low).alias("c1"),
        F.sum(is_de * is_low).alias("a"),
    )
    n, r1, c1, a = F.col("n"), F.col("r1"), F.col("c1"), F.col("a")

    def lnc(nn, kk):
        return _lnfact(nn) - _lnfact(kk) - _lnfact(nn - kk)

    def pmf(k):
        return F.exp(
            lnc(r1, k) + lnc(n - r1, c1 - k) - lnc(n, c1)
        )

    p = t.select(
        "n", "r1", "c1", "a",
        F.sequence(
            F.greatest(F.lit(0).cast("long"), c1 - (n - r1)),
            F.least(r1, c1),
        ).alias("ks"),
        pmf(a).alias("pa"),
    )
    pa = F.col("pa")
    return p.select(
        n.alias("n_total"),
        r1.alias("n_treat"),
        c1.alias("n_exposed"),
        a.alias("n_both"),
        (F.round(pa - 1e-9, _R) + 0.0).alias("p_point"),
        (
            F.round(
                F.aggregate(
                    F.transform(
                        F.col("ks"),
                        lambda k: F.when(k >= a, pmf(k)).otherwise(0.0),
                    ),
                    F.lit(0.0),
                    lambda acc, v: acc + v,
                )
                - 1e-9,
                _R,
            )
            + 0.0
        ).alias("p_one_sided"),
        (
            F.round(
                F.aggregate(
                    F.transform(
                        F.col("ks"),
                        lambda k: F.when(
                            pmf(k) <= pa * (1.0 + 1e-7), pmf(k)
                        ).otherwise(0.0),
                    ),
                    F.lit(0.0),
                    lambda acc, v: acc + v,
                )
                - 1e-9,
                _R,
            )
            + 0.0
        ).alias("p_two_sided"),
    )
