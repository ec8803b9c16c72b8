"""Golden end-to-end queries (SURVEY.md §5.2.2) — TPC-H-derived
multi-operator queries over the star schema.  These exercise the
engine's spine (scan → filter → project → partial/final agg → join →
sort → top-k) and catch composition bugs that single-operator tests
miss.

Scale notes (100 TB posture):
- q1: single scan + hash agg; filter and the 7-column projection push
  to the parquet scan; partial agg map-side means the shuffle carries
  only |groups| x partitions rows.
- q3/q5: fact-fact joins shuffle on their keys (sort-merge under AQE);
  dimension joins (region/nation/customer at bounded cardinality)
  broadcast — `F.broadcast` on the provably small sides, AQE converts
  the rest when runtime stats allow.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ondemand_dask_spark.io import load_table
from ondemand_dask_spark.operators.checkpoint import pin
from ondemand_dask_spark.registry import register

# Floating aggregates are rounded identically on both engines so the
# order-insensitive value-hash is robust to summation order.
_R = 4


@register(
    "tpch_q1",
    oracle=f"""
    SELECT
      l_returnflag,
      l_linestatus,
      round((sum(l_quantity)) - 1e-9, {_R}) + 0.0                                        AS sum_qty,
      round((sum(l_extendedprice)) - 1e-9, {_R}) + 0.0                                   AS sum_base_price,
      round((sum(l_extendedprice * (1 - l_discount))) - 1e-9, {_R}) + 0.0                AS sum_disc_price,
      round((sum(l_extendedprice * (1 - l_discount) * (1 + l_tax))) - 1e-9, {_R}) + 0.0 AS sum_charge,
      round((avg(l_quantity)) - 1e-9, {_R}) + 0.0                                        AS avg_qty,
      round((avg(l_extendedprice)) - 1e-9, {_R}) + 0.0                                   AS avg_price,
      round((avg(l_discount)) - 1e-9, {_R}) + 0.0                                        AS avg_disc,
      count(*)                                                            AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pricing summary: filter → 2-key groupBy → 5 decomposable aggs."""
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp_ntz"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round((F.sum("l_quantity")) - 1e-9, _R).alias("sum_qty"),
            F.round((F.sum("l_extendedprice")) - 1e-9, _R).alias("sum_base_price"),
            F.round((F.sum(disc_price)) - 1e-9, _R).alias("sum_disc_price"),
            F.round((F.sum(charge)) - 1e-9, _R).alias("sum_charge"),
            F.round((F.avg("l_quantity")) - 1e-9, _R).alias("avg_qty"),
            F.round((F.avg("l_extendedprice")) - 1e-9, _R).alias("avg_price"),
            F.round((F.avg("l_discount")) - 1e-9, _R).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


@register(
    "tpch_q3",
    oracle=f"""
    SELECT
      l_orderkey,
      round((sum(l_extendedprice * (1 - l_discount))) - 1e-9, {_R}) + 0.0 AS revenue,
      o_orderdate,
      o_orderpriority
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
      AND l_shipdate  > TIMESTAMP '1995-03-15 00:00:00'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
)
def tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shipping priority: 3-way join + agg + deterministic top-10."""
    cust = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp_ntz")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1995-03-15").cast("timestamp_ntz")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        # customer is the small side at every SF → broadcast
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.round((F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))) - 1e-9, _R
            ).alias("revenue")
        )
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


@register(
    "tpch_q5",
    oracle=f"""
    SELECT
      n_name,
      round((sum(l_extendedprice * (1 - l_discount))) - 1e-9, {_R}) + 0.0 AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY n_name
    """,
)
def tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local supplier volume: 6-way join, dims broadcast, 1-key agg."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp_ntz"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(
            F.broadcast(supp),
            (li.l_suppkey == supp.s_suppkey)
            & (cust.c_nationkey == supp.s_nationkey),
        )
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(
            F.round((F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))) - 1e-9, _R
            ).alias("revenue")
        )
    )


@register(
    "tpch_q6",
    oracle=f"""
    SELECT round((sum(l_extendedprice * l_discount)) - 1e-9, {_R}) + 0.0 AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast revenue change: pure scan+filter+global agg; every
    predicate pushes to the parquet row-group stats."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp_ntz"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        ).agg(
            F.round((F.sum(F.col("l_extendedprice") * F.col("l_discount"))) - 1e-9, _R).alias(
                "revenue"
            )
        )
    )


@register(
    "tpch_q2",
    oracle=f"""
    WITH cost AS (
      SELECT l_partkey, l_suppkey,
             avg(l_extendedprice / l_quantity) AS unit_cost
      FROM lineitem GROUP BY l_partkey, l_suppkey
    )
    SELECT p.p_partkey, p.p_name, s.s_name,
           round(c.unit_cost - 1e-9, {_R}) + 0.0 AS unit_cost
    FROM cost c
    JOIN part p     ON p.p_partkey = c.l_partkey
    JOIN supplier s ON s.s_suppkey = c.l_suppkey
    WHERE p.p_size <= 10
      AND c.unit_cost = (
        SELECT min(c2.unit_cost) FROM cost c2
        WHERE c2.l_partkey = c.l_partkey
      )
    """,
)
def tpch_q2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minimum-cost supplier (Q2 shape): a correlated min subquery
    over a derived cost table, decorrelated as a per-part window min.
    The fixture has no partsupp, so unit cost is observed
    l_extendedprice/l_quantity averaged per (part, supplier) — the
    correlated-argmin plan shape is the point.  One shuffle builds
    the cost table; the min is a window over it (already partitioned
    by part); part and supplier broadcast."""
    from pyspark.sql.window import Window

    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_size") <= 10)
    s = load_table(spark, sf_dir, "supplier")
    cost = li.groupBy("l_partkey", "l_suppkey").agg(
        F.avg(F.col("l_extendedprice") / F.col("l_quantity")).alias("unit_cost")
    )
    w = Window.partitionBy("l_partkey")
    best = cost.withColumn("__min_cost", F.min("unit_cost").over(w)).filter(
        F.col("unit_cost") == F.col("__min_cost")
    )
    return (
        best.join(F.broadcast(p), best.l_partkey == p.p_partkey)
        .join(F.broadcast(s), best.l_suppkey == s.s_suppkey)
        .select(
            "p_partkey",
            "p_name",
            "s_name",
            F.round(F.col("unit_cost") - 1e-9, _R).alias("unit_cost"),
        )
    )


@register(
    "tpch_q4",
    oracle="""
    SELECT o.o_orderpriority, count(*) AS order_count
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1996-07-01 00:00:00'
      AND EXISTS (
        SELECT 1 FROM lineitem l
        WHERE l.l_orderkey = o.o_orderkey
          AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
      )
    GROUP BY o.o_orderpriority
    """,
)
def tpch_q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-priority checking (Q4 shape): EXISTS over lineitem with
    a cross-table date predicate, as a left-semi join carrying the
    non-equi condition alongside the equi key.  The fixture lacks
    l_commitdate/l_receiptdate, so 'late' is shipped > 60 days after
    the order date — same plan, same semantics class."""
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1996-07-01").cast("timestamp_ntz"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    late = (li.l_orderkey == o.o_orderkey) & (
        li.l_shipdate > F.col("o_orderdate") + F.expr("INTERVAL 60 DAY")
    )
    return (
        o.join(li, late, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
    )


@register(
    "tpch_q11",
    oracle=f"""
    SELECT n.n_name,
           round(sum(l.l_extendedprice * (1 - l.l_discount)) - 1e-9, {_R}) + 0.0
             AS value
    FROM lineitem l
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation n   ON n.n_nationkey = s.s_nationkey
    GROUP BY n.n_name
    HAVING sum(l.l_extendedprice * (1 - l.l_discount)) > (
      SELECT 0.04 * sum(l2.l_extendedprice * (1 - l2.l_discount))
      FROM lineitem l2
    )
    """,
)
def tpch_q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Important-stock identification (Q11 shape): GROUP BY ... HAVING
    against a scalar fraction of the GLOBAL total (no partsupp in the
    fixture, so value = supplier-nation revenue).  The global sum is
    a 1-row aggregate broadcast into the HAVING filter via cross
    join — the fact table is scanned twice but shuffled once per agg,
    never joined to itself."""
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    per_nation = (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(F.sum(rev).alias("__value"))
    )
    total = li.agg((F.lit(0.04) * F.sum(rev)).alias("__threshold"))
    return (
        per_nation.crossJoin(F.broadcast(total))
        .filter(F.col("__value") > F.col("__threshold"))
        .select(
            "n_name", F.round(F.col("__value") - 1e-9, _R).alias("value")
        )
    )


@register(
    "tpch_q12",
    oracle="""
    SELECT l.l_returnflag AS ship_class,
           CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l.l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY l.l_returnflag
    """,
)
def tpch_q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shipping-priority split (Q12 shape): fact-fact equi join with
    conditional counts per category (l_returnflag standing in for the
    fixture's missing l_shipmode).  The date filter pushes to the
    lineitem scan before the join shuffle."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp_ntz"))
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    one = F.lit(1)
    zero = F.lit(0)
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy(F.col("l_returnflag").alias("ship_class"))
        .agg(
            F.sum(F.when(high, one).otherwise(zero)).alias("high_line_count"),
            F.sum(F.when(~high, one).otherwise(zero)).alias("low_line_count"),
        )
    )


@register(
    "tpch_q16",
    oracle="""
    SELECT p.p_brand, p.p_type, p.p_size,
           count(DISTINCT l.l_suppkey) AS supplier_cnt
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_brand <> 'Brand#1'
      AND p.p_size IN (1, 5, 10, 15, 20, 25)
      AND l.l_suppkey NOT IN (
        SELECT s_suppkey FROM supplier WHERE s_acctbal < 0
      )
    GROUP BY p.p_brand, p.p_type, p.p_size
    """,
)
def tpch_q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier-count by part attributes (Q16 shape): NOT IN over a
    non-null key set (≡ anti join — the excluded set broadcasts),
    then COUNT(DISTINCT) grouped by three part columns.  The distinct
    agg expands to a two-stage plan (distinct-ize then count) —
    Catalyst does this automatically and both stages partial-agg
    map-side."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & F.col("p_size").isin(1, 5, 10, 15, 20, 25)
    )
    bad_supp = (
        load_table(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0)
        .select("s_suppkey")
    )
    return (
        li.join(F.broadcast(bad_supp), li.l_suppkey == bad_supp.s_suppkey, "left_anti")
        .join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


@register(
    "tpch_q7",
    oracle=f"""
    SELECT supp_nation, cust_nation, l_year,
           round(sum(volume) - 1e-9, {_R}) + 0.0 AS revenue
    FROM (
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             year(l.l_shipdate) AS l_year,
             l.l_extendedprice * (1 - l.l_discount) AS volume
      FROM supplier s
      JOIN lineitem l ON s.s_suppkey = l.l_suppkey
      JOIN orders o   ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n1  ON s.s_nationkey = n1.n_nationkey
      JOIN nation n2  ON c.c_nationkey = n2.n_nationkey
      WHERE (n1.n_name = 'NATION_18' AND n2.n_name = 'NATION_19')
         OR (n1.n_name = 'NATION_19' AND n2.n_name = 'NATION_18')
    ) shipping
    GROUP BY supp_nation, cust_nation, l_year
    """,
)
def tpch_q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volume shipping between two nations (Q7 shape): the same
    dimension table joined twice under different roles (supplier's
    nation vs customer's nation) with a disjunctive pair filter.
    nation broadcasts both times; the OR predicate evaluates after
    both joins, exactly as Catalyst plans the classic Q7."""
    s = load_table(spark, sf_dir, "supplier")
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n1 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    pair = (
        (F.col("supp_nation") == "NATION_18") & (F.col("cust_nation") == "NATION_19")
    ) | ((F.col("supp_nation") == "NATION_19") & (F.col("cust_nation") == "NATION_18"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .filter(pair)
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))) - 1e-9, _R
            ).alias("revenue")
        )
    )


@register(
    "tpch_q8",
    oracle=f"""
    SELECT o_year,
           round(sum(CASE WHEN supp_nation = 'NATION_1' THEN volume ELSE 0 END)
                 / sum(volume) - 1e-9, {_R}) + 0.0 AS mkt_share
    FROM (
      SELECT year(o.o_orderdate) AS o_year,
             l.l_extendedprice * (1 - l.l_discount) AS volume,
             n2.n_name AS supp_nation
      FROM part p
      JOIN lineitem l ON p.p_partkey = l.l_partkey
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN orders o   ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n1  ON c.c_nationkey = n1.n_nationkey
      JOIN region r   ON n1.n_regionkey = r.r_regionkey
      JOIN nation n2  ON s.s_nationkey = n2.n_nationkey
      WHERE r.r_name = 'ASIA' AND p.p_type = 'PROMO'
    ) all_nations
    GROUP BY o_year
    """,
)
def tpch_q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """National market share (Q8 shape): 8-way join where one input
    (nation) appears in two roles, then a conditional-sum ratio per
    year.  All dimensions broadcast; the only shuffles are the
    lineitem-orders equi join and the final 7-group agg."""
    p = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n1 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_regionkey").alias("n1_region")
    )
    n2 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("supp_nation")
    )
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    nat_vol = F.when(F.col("supp_nation") == "NATION_1", vol).otherwise(F.lit(0.0))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), F.col("c_nationkey") == F.col("n1_key"))
        .join(F.broadcast(r), F.col("n1_region") == F.col("r_regionkey"))
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("n2_key"))
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(F.round(F.sum(nat_vol) / F.sum(vol) - 1e-9, _R).alias("mkt_share"))
    )


@register(
    "tpch_q9",
    oracle=f"""
    SELECT nation, o_year, round(sum(amount) - 1e-9, {_R}) + 0.0 AS sum_profit
    FROM (
      SELECT n.n_name AS nation, year(o.o_orderdate) AS o_year,
             l.l_extendedprice * (1 - l.l_discount)
               - 0.1 * p.p_retailprice * l.l_quantity AS amount
      FROM part p
      JOIN lineitem l ON p.p_partkey = l.l_partkey
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN orders o   ON o.o_orderkey = l.l_orderkey
      JOIN nation n   ON s.s_nationkey = n.n_nationkey
      WHERE p.p_brand IN ('Brand#1', 'Brand#12')
    ) profit
    GROUP BY nation, o_year
    """,
)
def tpch_q9(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-type profit (Q9 shape).  The fixture schema has no
    partsupp table, so unit cost is modeled as 0.1 * p_retailprice —
    the plan shape (fact scan, three broadcast dims, derived measure,
    2-key agg) is the point, not the constant."""
    p = load_table(spark, sf_dir, "part").filter(
        F.col("p_brand").isin("Brand#1", "Brand#12")
    )
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    o = load_table(spark, sf_dir, "orders")
    n = load_table(spark, sf_dir, "nation")
    amount = F.col("l_extendedprice") * (1 - F.col("l_discount")) - F.lit(
        0.1
    ) * F.col("p_retailprice") * F.col("l_quantity")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(
            F.col("n_name").alias("nation"), F.year("o_orderdate").alias("o_year")
        )
        .agg(F.round(F.sum(amount) - 1e-9, _R).alias("sum_profit"))
    )


@register(
    "tpch_q13",
    oracle="""
    SELECT n_orders, count(*) AS n_custs
    FROM (
      SELECT c.c_custkey, count(o.o_orderkey) AS n_orders
      FROM customer c
      LEFT JOIN orders o
        ON o.o_custkey = c.c_custkey AND o.o_orderpriority <> '1-URGENT'
      GROUP BY c.c_custkey
    ) per_cust
    GROUP BY n_orders
    """,
)
def tpch_q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer order-count distribution (Q13 shape): left outer join
    with an extra join-side predicate (NOT a WHERE — zero-order
    customers must survive), count(col) skipping NULLs, then a second
    aggregation over the first.  The second agg's input is
    |customers| rows, so its shuffle is trivial."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    per_cust = (
        c.join(
            o,
            (o.o_custkey == c.c_custkey) & (o.o_orderpriority != "1-URGENT"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )
    return per_cust.groupBy("n_orders").agg(F.count("*").alias("n_custs"))


@register(
    "tpch_q15",
    oracle=f"""
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             sum(l_extendedprice * (1 - l_discount)) AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
      GROUP BY l_suppkey
    )
    SELECT s.s_suppkey, s.s_name,
           round(r.total_revenue - 1e-9, {_R}) + 0.0 AS total_revenue
    FROM supplier s
    JOIN revenue r ON s.s_suppkey = r.supplier_no
    WHERE r.total_revenue = (SELECT max(total_revenue) FROM revenue)
    """,
)
def tpch_q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top supplier (Q15 shape): an aggregate reused both as a join
    input and inside a scalar subquery (its max).  The revenue frame
    is |suppliers| rows — bounded — so it is pinned and the max is an
    empty-partition window over it (one task over a tiny frame), not
    a recompute of the lineitem scan."""
    from pyspark.sql.window import Window

    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp_ntz"))
    )
    s = load_table(spark, sf_dir, "supplier")
    revenue = pin(
        li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "total_revenue"
            )
        )
    )
    # Broadcast 1-row max, not a global window: the window form moves
    # the whole per-supplier aggregate through one task, while the
    # agg+crossJoin keeps the max a partial-reduced scalar and the
    # filter a narrow op over the (pinned) revenue table.
    mx = revenue.agg(F.max("total_revenue").alias("__max_rev"))
    top = revenue.crossJoin(F.broadcast(mx)).filter(
        F.col("total_revenue") == F.col("__max_rev")
    )
    return top.join(F.broadcast(s), top.supplier_no == s.s_suppkey).select(
        "s_suppkey",
        "s_name",
        F.round(F.col("total_revenue") - 1e-9, _R).alias("total_revenue"),
    )


@register(
    "tpch_q17",
    oracle=f"""
    SELECT round(sum(l.l_extendedprice) / 7.0 - 1e-9, {_R}) + 0.0 AS avg_yearly
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_brand = 'Brand#11'
      AND l.l_quantity < (
        SELECT 0.2 * avg(l2.l_quantity) FROM lineitem l2
        WHERE l2.l_partkey = p.p_partkey
      )
    """,
)
def tpch_q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-quantity-order revenue (Q17 shape): a correlated scalar
    subquery (per-part average quantity), decorrelated by hand into
    an aggregate + equi join — the same rewrite Catalyst/DuckDB apply
    internally.  l_quantity is integral-valued, so the 0.2*avg
    threshold is bit-identical across engines (exact double sums)."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#11")
    qlim = li.groupBy(F.col("l_partkey").alias("q_partkey")).agg(
        (F.lit(0.2) * F.avg("l_quantity")).alias("qlim")
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(qlim, li.l_partkey == qlim.q_partkey)
        .filter(F.col("l_quantity") < F.col("qlim"))
        .agg(
            F.round(F.sum("l_extendedprice") / F.lit(7.0) - 1e-9, _R).alias(
                "avg_yearly"
            )
        )
    )


@register(
    "tpch_q19",
    oracle=f"""
    SELECT round(sum(l_extendedprice * (1 - l_discount)) - 1e-9, {_R}) + 0.0 AS revenue
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#1'  AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity BETWEEN 1 AND 20)
       OR (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 10 AND 30
           AND l.l_quantity BETWEEN 10 AND 30)
       OR (p.p_brand = 'Brand#15' AND p.p_size BETWEEN 20 AND 50
           AND l.l_quantity BETWEEN 20 AND 40)
    """,
)
def tpch_q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discounted revenue (Q19 shape): disjunction of conjunctive
    predicates spanning both join sides.  Catalyst extracts the
    common p_partkey equi condition so this stays a broadcast-hash
    join (not BNLJ), with the OR evaluated as a post-join filter."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")

    def arm(brand: str, slo: int, shi: int, qlo: int, qhi: int):
        return (
            (F.col("p_brand") == brand)
            & F.col("p_size").between(slo, shi)
            & F.col("l_quantity").between(qlo, qhi)
        )

    cond = (
        arm("Brand#1", 1, 15, 1, 20)
        | arm("Brand#12", 10, 30, 10, 30)
        | arm("Brand#15", 20, 50, 20, 40)
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .filter(cond)
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))) - 1e-9, _R
            ).alias("revenue")
        )
    )


@register(
    "tpch_q20",
    oracle="""
    SELECT s.s_suppkey, s.s_name
    FROM supplier s
    WHERE s.s_suppkey IN (
      SELECT l.l_suppkey
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
      WHERE p.p_type = 'PROMO'
        AND l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l.l_shipdate <  TIMESTAMP '1997-01-01 00:00:00'
      GROUP BY l.l_suppkey
      HAVING sum(l.l_quantity) > 400
    )
    """,
)
def tpch_q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Potential promotion suppliers (Q20 shape): a semi-join chain —
    supplier IN (aggregated, HAVING-filtered subquery over a
    dimension-filtered fact).  No partsupp/availqty in the fixture,
    so the threshold is shipped quantity > 400 of PROMO parts in
    1996 (the cross-SF median is ~400, so the HAVING genuinely
    selects); quantities are integral doubles, so the HAVING comparison
    is exact on both engines.  The qualifying-key set is tiny after
    the HAVING → broadcast left-semi."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp_ntz"))
    )
    p = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    s = load_table(spark, sf_dir, "supplier")
    qualifying = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("l_suppkey")
        .agg(F.sum("l_quantity").alias("q"))
        .filter(F.col("q") > 400)
        .select("l_suppkey")
    )
    return s.join(
        F.broadcast(qualifying), s.s_suppkey == qualifying.l_suppkey, "left_semi"
    ).select("s_suppkey", "s_name")


@register(
    "tpch_q21",
    oracle="""
    SELECT s.s_name, count(*) AS numwait
    FROM lineitem l1
    JOIN orders o   ON o.o_orderkey = l1.l_orderkey
    JOIN supplier s ON s.s_suppkey = l1.l_suppkey
    WHERE o.o_orderstatus = 'F'
      AND l1.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
      AND EXISTS (
        SELECT 1 FROM lineitem l2
        WHERE l2.l_orderkey = l1.l_orderkey
          AND l2.l_suppkey <> l1.l_suppkey
      )
      AND NOT EXISTS (
        SELECT 1 FROM lineitem l3
        JOIN orders o3 ON o3.o_orderkey = l3.l_orderkey
        WHERE l3.l_orderkey = l1.l_orderkey
          AND l3.l_suppkey <> l1.l_suppkey
          AND l3.l_shipdate > o3.o_orderdate + INTERVAL 60 DAY
      )
    GROUP BY s.s_name
    """,
)
def tpch_q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Suppliers who kept orders waiting (Q21 shape): the classic
    EXISTS + NOT-EXISTS double self-reference — multi-supplier orders
    where exactly this supplier was the late one.  'Late' adapts to
    shipped > 60 days after the order date (no commit/receipt dates
    in the fixture).  Both correlated subqueries become one semi and
    one anti self-join on (orderkey, suppkey≠), each a single
    shuffle-bounded pass over lineitem."""
    li = load_table(spark, sf_dir, "lineitem")
    o_f = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F"
    )
    s = load_table(spark, sf_dir, "supplier")
    late = F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAY")
    l1 = (
        li.join(o_f, li.l_orderkey == o_f.o_orderkey)
        .filter(late)
        .select("l_orderkey", "l_suppkey")
    )
    all_pairs = li.select(
        F.col("l_orderkey").alias("a_orderkey"),
        F.col("l_suppkey").alias("a_suppkey"),
    )
    # the NOT EXISTS side re-derives lateness against the (same)
    # order's date via its own orders join, exactly as the SQL does
    late_pairs = (
        li.join(
            load_table(spark, sf_dir, "orders"),
            li.l_orderkey == F.col("o_orderkey"),
        )
        .filter(late)
        .select(
            F.col("l_orderkey").alias("t_orderkey"),
            F.col("l_suppkey").alias("t_suppkey"),
        )
    )
    waiting = l1.join(
        all_pairs,
        (F.col("a_orderkey") == F.col("l_orderkey"))
        & (F.col("a_suppkey") != F.col("l_suppkey")),
        "left_semi",
    ).join(
        late_pairs,
        (F.col("t_orderkey") == F.col("l_orderkey"))
        & (F.col("t_suppkey") != F.col("l_suppkey")),
        "left_anti",
    )
    return (
        waiting.join(F.broadcast(s), waiting.l_suppkey == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
    )


@register(
    "tpch_q22",
    oracle=f"""
    SELECT c.c_nationkey AS cntrycode,
           count(*) AS numcust,
           round(sum(c.c_acctbal) - 1e-9, {_R}) + 0.0 AS totacctbal
    FROM customer c
    WHERE c.c_acctbal > (
        SELECT avg(c2.c_acctbal) FROM customer c2 WHERE c2.c_acctbal > 0.0
      )
      AND NOT EXISTS (
        SELECT 1 FROM orders o
        WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT'
      )
    GROUP BY c.c_nationkey
    """,
)
def tpch_q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global sales opportunity (Q22 shape): an uncorrelated scalar
    subquery (average positive balance) used as a filter threshold,
    plus an anti join against (urgent) orders, grouped per nation —
    the fixture gives every customer at least one order, so the
    classic no-orders-at-all predicate would be vacuously empty.  The
    scalar lands via a 1-row broadcast cross join; the anti join
    broadcasts the distinct urgent o_custkey set."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    thr = (
        c.filter(F.col("c_acctbal") > 0.0)
        .agg(F.avg("c_acctbal").alias("__thr"))
    )
    return (
        c.crossJoin(F.broadcast(thr))
        .filter(F.col("c_acctbal") > F.col("__thr"))
        .join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy(F.col("c_nationkey").alias("cntrycode"))
        .agg(
            F.count("*").alias("numcust"),
            F.round(F.sum("c_acctbal") - 1e-9, _R).alias("totacctbal"),
        )
    )


@register(
    "tpch_q10",
    oracle=f"""
    SELECT c.c_custkey, c.c_name, n.n_name,
           round(sum(l.l_extendedprice * (1 - l.l_discount)) - 1e-9, {_R}) + 0.0 AS revenue
    FROM customer c
    JOIN orders o   ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n   ON n.n_nationkey = c.c_nationkey
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1996-07-01 00:00:00'
      AND l.l_returnflag = 'R'
    GROUP BY c.c_custkey, c.c_name, n.n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def tpch_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Returned-item revenue per customer (Q10 shape): 4-way star join
    → agg → top-20.  customer/nation broadcast; lineitem's returnflag
    and orders' date window both push to their scans, so the fact
    shuffle is already filtered."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1996-07-01").cast("timestamp_ntz"))
    )
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.round(F.sum(revenue) - 1e-9, _R).alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


@register(
    "tpch_q14",
    oracle=f"""
    SELECT round(
             100.0 * sum(CASE WHEN p.p_type = 'PROMO'
                              THEN l.l_extendedprice * (1 - l.l_discount)
                              ELSE 0 END)
             / sum(l.l_extendedprice * (1 - l.l_discount)) - 1e-9, {_R}) + 0.0
           AS promo_revenue_pct
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l.l_shipdate <  TIMESTAMP '1997-02-01 00:00:00'
    """,
)
def tpch_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Promotion revenue share (Q14 shape): conditional aggregation
    over a broadcast dimension join — one scan, one broadcast, one
    single-row agg."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1997-02-01").cast("timestamp_ntz"))
    )
    p = load_table(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0.0))
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .agg(
            F.round(
                F.lit(100.0) * F.sum(promo) / F.sum(rev) - 1e-9, _R
            ).alias("promo_revenue_pct")
        )
    )


@register(
    "tpch_q18",
    oracle=f"""
    WITH big AS (
      SELECT l_orderkey FROM lineitem
      GROUP BY l_orderkey HAVING sum(l_quantity) > 150
    )
    SELECT c.c_name, o.o_orderkey, o.o_orderdate,
           round(o.o_totalprice - 1e-9, {_R}) + 0.0 AS o_totalprice,
           round(sum(l.l_quantity) - 1e-9, {_R}) + 0.0 AS total_qty
    FROM orders o
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderkey IN (SELECT l_orderkey FROM big)
    GROUP BY c.c_name, o.o_orderkey, o.o_orderdate, o.o_totalprice
    """,
)
def tpch_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Large-volume orders (Q18 shape): HAVING-filtered aggregate as a
    semi-join filter, then re-join + re-aggregate.  The `big` key set
    is small after the HAVING, so it broadcasts into the semi-join —
    the membership filter costs no fact shuffle."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("q"))
        .filter(F.col("q") > 150)
        .select("l_orderkey")
    )
    return (
        o.join(F.broadcast(big), o.o_orderkey == big.l_orderkey, "left_semi")
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("c_name", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(F.round(F.sum("l_quantity") - 1e-9, _R).alias("total_qty"))
        .select(
            "c_name",
            "o_orderkey",
            "o_orderdate",
            F.round(F.col("o_totalprice") - 1e-9, _R).alias("o_totalprice"),
            "total_qty",
        )
    )
