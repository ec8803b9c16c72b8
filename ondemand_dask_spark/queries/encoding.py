"""Feature-encoding operators — the ML-prep surface.

pandas/Dask expose these as `get_dummies`, `factorize`, scaler
idioms; pyspark.ml as StringIndexer / OneHotEncoder / StandardScaler
/ MinMaxScaler / FeatureHasher.  Each is re-expressed here as a plain
DataFrame plan (the ml-lib Transformers wrap the same shapes) so it
is exactly oracle-checkable and composes with the rest of the engine.

Scale shapes: one-hot is a narrow projection; label encoding joins a
broadcast vocabulary built by a tiny distinct-agg (never a global
window over the data); scalers broadcast a 1-row stats aggregate back
over the stream; feature hashing is the stateless trick that needs no
vocabulary at all — the only one of these that works on unbounded
category spaces, which is why it is the 100 TB default.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ondemand_dask_spark.functions.texthash import portable_hash64
from ondemand_dask_spark.io import load_table
from ondemand_dask_spark.registry import register

_R = 4

_LANGS = ("de", "en", "es", "fr", "zh")


@register(
    "encode_one_hot",
    oracle="""
    SELECT doc_id,
           CASE WHEN lang = 'de' THEN 1 ELSE 0 END AS lang_de,
           CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS lang_en,
           CASE WHEN lang = 'es' THEN 1 ELSE 0 END AS lang_es,
           CASE WHEN lang = 'fr' THEN 1 ELSE 0 END AS lang_fr,
           CASE WHEN lang = 'zh' THEN 1 ELSE 0 END AS lang_zh
    FROM documents
    """,
)
def encode_one_hot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pd.get_dummies — one indicator column per category.  Pure
    narrow projection (codegen CASE chain); the category list is
    declared, as it must be at scale — discovering it would be a
    distinct-agg run once and pinned, never re-inferred per batch
    (training and serving must agree on columns)."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        *[
            F.when(F.col("lang") == lg, 1).otherwise(0).alias(f"lang_{lg}")
            for lg in _LANGS
        ],
    )


@register(
    "encode_label",
    oracle="""
    WITH vocab AS (
      SELECT lang, dense_rank() OVER (ORDER BY lang) - 1 AS lang_id
      FROM (SELECT DISTINCT lang FROM documents)
    )
    SELECT d.doc_id, d.lang, v.lang_id
    FROM documents d JOIN vocab v USING (lang)
    """,
)
def encode_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pd.factorize / StringIndexer — category → dense integer id.
    The vocabulary is a distinct-agg (tiny) ranked by a window over
    ITSELF — |categories| rows, not the data — then broadcast-joined
    back.  The anti-pattern this replaces is dense_rank over the full
    table: a global single-partition sort of everything."""
    d = load_table(spark, sf_dir, "documents")
    vocab = (
        d.select("lang")
        .distinct()
        .withColumn(
            "lang_id",
            F.dense_rank().over(Window.orderBy("lang")) - 1,
        )
    )
    return d.join(F.broadcast(vocab), "lang").select("doc_id", "lang", "lang_id")


_HASH_DIM = 1024


@register(
    "encode_feature_hash",
    oracle=f"""
    SELECT doc_id,
           CAST('0x' || substr(md5('feat|' || source), 1, 15) AS BIGINT)
             % {_HASH_DIM} AS source_bucket,
           CAST('0x' || substr(md5('feat|' || lang), 1, 15) AS BIGINT)
             % {_HASH_DIM} AS lang_bucket
    FROM documents
    """,
)
def encode_feature_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FeatureHasher (the hashing trick): category → hash-bucket id
    in a fixed {dim}-dimensional space.  No vocabulary, no state, no
    shuffle — a pure function of the value, so it handles unbounded /
    drifting category spaces (user ids, URLs) where label encoding
    cannot, at the cost of collisions.  The 100 TB default encoder."""
    d = load_table(spark, sf_dir, "documents")

    def bucket(col: str):
        return (
            portable_hash64(F.concat(F.lit("feat|"), F.col(col))) % _HASH_DIM
        ).alias(f"{col}_bucket")

    return d.select("doc_id", bucket("source"), bucket("lang"))


@register(
    "encode_standardize",
    oracle=f"""
    WITH stats AS (
      SELECT avg(o_totalprice) AS mu, stddev_samp(o_totalprice) AS sigma
      FROM orders
    )
    SELECT o_orderkey,
           round((o_totalprice - mu) / sigma - 1e-9, {_R}) + 0.0 AS price_z
    FROM orders CROSS JOIN stats
    """,
)
def encode_standardize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """StandardScaler — z-score normalization against global mean/std.
    The stats are one decomposable partial+final aggregate (1 row)
    broadcast back over the stream: two passes over the data, zero
    data shuffles, no collect to the driver."""
    o = load_table(spark, sf_dir, "orders")
    stats = o.agg(
        F.avg("o_totalprice").alias("mu"),
        F.stddev_samp("o_totalprice").alias("sigma"),
    )
    return o.crossJoin(F.broadcast(stats)).select(
        "o_orderkey",
        F.round(
            (F.col("o_totalprice") - F.col("mu")) / F.col("sigma") - 1e-9, _R
        ).alias("price_z"),
    )


@register(
    "encode_minmax",
    oracle=f"""
    WITH stats AS (
      SELECT min(o_totalprice) AS lo, max(o_totalprice) AS hi FROM orders
    )
    SELECT o_orderkey,
           round((o_totalprice - lo) / (hi - lo) - 1e-9, {_R}) + 0.0
             AS price_01
    FROM orders CROSS JOIN stats
    """,
)
def encode_minmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinMaxScaler — rescale to [0, 1] against the global range.
    Same broadcast-stats shape as standardization (min/max are the
    cheapest decomposable aggs there are)."""
    o = load_table(spark, sf_dir, "orders")
    stats = o.agg(
        F.min("o_totalprice").alias("lo"), F.max("o_totalprice").alias("hi")
    )
    return o.crossJoin(F.broadcast(stats)).select(
        "o_orderkey",
        F.round(
            (F.col("o_totalprice") - F.col("lo"))
            / (F.col("hi") - F.col("lo"))
            - 1e-9,
            _R,
        ).alias("price_01"),
    )


_KEYWORDS = ("the", "data", "error", "model")


@register(
    "encode_multi_hot",
    oracle=f"""
    SELECT doc_id,
           {", ".join(
               f"CAST(list_contains(string_split(text, ' '), '{k}') AS INT)"
               f" AS has_{k}" for k in _KEYWORDS)}
    FROM documents
    """,
)
def encode_multi_hot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """str.get_dummies over a token set — multi-hot membership flags
    for a declared keyword list (tag presence features).  One
    split + array_contains per flag, all codegen, no shuffle; at real
    scale the keyword list is a broadcast lookup, not a literal."""
    d = load_table(spark, sf_dir, "documents")
    arr = F.split("text", " ")
    return d.select(
        "doc_id",
        *[
            F.array_contains(arr, k).cast("int").alias(f"has_{k}")
            for k in _KEYWORDS
        ],
    )


_TE_SMOOTH = 20.0  # pseudo-observations blended toward the global mean


@register(
    "encode_target_mean",
    oracle=f"""
    WITH t AS (
      SELECT o_orderkey, o_orderpriority, o_totalprice,
             sum(o_totalprice) OVER (PARTITION BY o_orderpriority) AS cat_sum,
             count(*) OVER (PARTITION BY o_orderpriority)          AS cat_n,
             avg(o_totalprice) OVER ()                             AS g_mean
      FROM orders
    )
    SELECT o_orderkey, o_orderpriority,
           round((cat_sum - o_totalprice) / (cat_n - 1) - 1e-9, {_R}) + 0.0
             AS te_loo,
           round((cat_sum - o_totalprice + {_TE_SMOOTH} * g_mean)
                 / (cat_n - 1 + {_TE_SMOOTH}) - 1e-9, {_R}) + 0.0
             AS te_loo_smooth
    FROM t
    """,
)
def encode_target_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out target (mean) encoding with additive smoothing —
    the categorical feature that replaces a high-cardinality key with
    the target mean of its OTHER members (excluding the row itself
    kills the self-leakage that makes naive target encoding overfit;
    the _TE_SMOOTH pseudo-observation blend toward the global mean tames
    rare categories).  Per-category sum/count come from unordered
    partition windows — pure partial aggregation over the category
    exchange, no sort — and the global mean joins as a broadcast
    1-row aggregate (NEVER a global window, which would move every
    row to one task), so the whole encoder is ONE data-sized shuffle
    on the category key at any scale."""
    o = load_table(spark, sf_dir, "orders")
    g = o.agg(F.avg("o_totalprice").alias("g_mean"))
    o = o.crossJoin(F.broadcast(g))
    wc = Window.partitionBy("o_orderpriority")
    cat_sum = F.sum("o_totalprice").over(wc)
    cat_n = F.count("*").over(wc)
    g_mean = F.col("g_mean")
    loo = (cat_sum - F.col("o_totalprice")) / (cat_n - 1)
    loo_s = (cat_sum - F.col("o_totalprice") + F.lit(_TE_SMOOTH) * g_mean) / (
        cat_n - 1 + F.lit(_TE_SMOOTH)
    )
    return o.select(
        "o_orderkey",
        "o_orderpriority",
        F.round(loo - 1e-9, _R).alias("te_loo"),
        F.round(loo_s - 1e-9, _R).alias("te_loo_smooth"),
    )


@register(
    "encode_robust_scale",
    oracle=f"""
    WITH cuts AS (
      SELECT l_returnflag,
             quantile_cont(l_extendedprice, 0.25) AS q1,
             quantile_cont(l_extendedprice, 0.50) AS med,
             quantile_cont(l_extendedprice, 0.75) AS q3
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l.l_orderkey, l.l_linenumber,
           round((l.l_extendedprice - c.med) / (c.q3 - c.q1) - 1e-9, {_R}) + 0.0
             AS price_robust
    FROM lineitem l JOIN cuts c ON c.l_returnflag = l.l_returnflag
    """,
)
def encode_robust_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RobustScaler — (x − median) / IQR per group, the outlier-proof
    alternative to z-scoring (StandardScaler's mean/std both move
    arbitrarily far under one corrupt value; median and IQR are
    50%-breakdown estimators).  The three quartiles come from the
    distributed EXACT quantile operator `exact_group_quantiles` in one
    pass (its probe picks the window sort, or the ranged path when
    the largest group is both past ~1M rows and the critical path, as
    in agg_groupby_quantile), come back |groups| rows wide,
    and broadcast onto the fact scan — identical shape to the other
    scalers: stats aggregate + broadcast transform, no second wide
    shuffle, no per-task value collection."""
    from ondemand_dask_spark.operators.quantile import exact_group_quantiles

    li = load_table(spark, sf_dir, "lineitem")
    cuts = exact_group_quantiles(
        li, ["l_returnflag"], "l_extendedprice",
        {"q1": 0.25, "med": 0.50, "q3": 0.75},
    )
    return li.join(F.broadcast(cuts), "l_returnflag").select(
        "l_orderkey", "l_linenumber",
        (
            F.round(
                (F.col("l_extendedprice") - F.col("med"))
                / (F.col("q3") - F.col("q1"))
                - 1e-9,
                _R,
            )
            + 0.0
        ).alias("price_robust"),
    )


_EVAL_THRESHOLD = 35.0


@register(
    "ml_eval_binary",
    oracle=f"""
    WITH lab AS (
      SELECT round(value, 3) AS v,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
      FROM events WHERE event_type IN ('purchase', 'view')
    ),
    c AS (
      SELECT v, count(CASE WHEN y = 1 THEN 1 END) AS cp,
                count(CASE WHEN y = 0 THEN 1 END) AS cn
      FROM lab GROUP BY v
    ),
    w AS (
      SELECT cp, cn,
             coalesce(sum(cn) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_n
      FROM c
    ),
    u AS (
      SELECT CAST(sum(cp) AS DOUBLE) AS np, CAST(sum(cn) AS DOUBLE) AS nn,
             CAST(sum(cp * (cum_n + cn / 2.0)) AS DOUBLE) AS uu
      FROM w
    ),
    conf AS (
      SELECT CAST(sum(CASE WHEN v >  {_EVAL_THRESHOLD} AND y = 1 THEN 1 ELSE 0 END) AS DOUBLE) AS tp,
             CAST(sum(CASE WHEN v >  {_EVAL_THRESHOLD} AND y = 0 THEN 1 ELSE 0 END) AS DOUBLE) AS fp,
             CAST(sum(CASE WHEN v <= {_EVAL_THRESHOLD} AND y = 1 THEN 1 ELSE 0 END) AS DOUBLE) AS fn
      FROM lab
    )
    SELECT round(uu / (np * nn) - 1e-9, {_R}) + 0.0 AS auc,
           round(tp / (tp + fp) - 1e-9, {_R}) + 0.0 AS precision_at_t,
           round(tp / (tp + fn) - 1e-9, {_R}) + 0.0 AS recall_at_t,
           round(2 * tp / (2 * tp + fp + fn) - 1e-9, {_R}) + 0.0 AS f1_at_t
    FROM u CROSS JOIN conf
    """,
)
def ml_eval_binary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-classifier evaluation — AUC plus precision/recall/F1
    at a threshold — treating `value` as the score and
    purchase-vs-view as the label.  AUC is computed WITHOUT a global
    rank: it equals the Mann-Whitney U normalized by nP*nN, and U
    folds into per-distinct-score counts with midrank tie handling
    (the same count-side identity as stat_mann_whitney), so the only
    window runs over the score-counts table.  The confusion entries
    are one conditional aggregate over the labeled scan.  This is
    how AUC stays computable on a 100 TB score table: two
    vocabulary-sized aggregations, never a data-wide sort."""
    e = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "view")
    )
    lab = e.select(
        F.round("value", 3).alias("v"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("y"),
    )
    c = lab.groupBy("v").agg(
        F.count(F.when(F.col("y") == 1, 1)).alias("cp"),
        F.count(F.when(F.col("y") == 0, 1)).alias("cn"),
    )
    cum_n = F.coalesce(
        F.sum("cn").over(
            Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
        ),
        F.lit(0),
    )
    w = c.select("cp", "cn", cum_n.alias("cum_n"))
    u = w.agg(
        F.sum("cp").cast("double").alias("np"),
        F.sum("cn").cast("double").alias("nn"),
        F.sum(F.col("cp") * (F.col("cum_n") + F.col("cn") / 2.0))
        .cast("double")
        .alias("uu"),
    )
    t = F.lit(_EVAL_THRESHOLD)
    conf = lab.agg(
        F.sum(F.when((F.col("v") > t) & (F.col("y") == 1), 1).otherwise(0))
        .cast("double")
        .alias("tp"),
        F.sum(F.when((F.col("v") > t) & (F.col("y") == 0), 1).otherwise(0))
        .cast("double")
        .alias("fp"),
        F.sum(F.when((F.col("v") <= t) & (F.col("y") == 1), 1).otherwise(0))
        .cast("double")
        .alias("fn"),
    )
    tp, fp, fn = F.col("tp"), F.col("fp"), F.col("fn")
    return u.crossJoin(F.broadcast(conf)).select(
        (F.round(F.col("uu") / (F.col("np") * F.col("nn")) - 1e-9, _R) + 0.0)
        .alias("auc"),
        (F.round(tp / (tp + fp) - 1e-9, _R) + 0.0).alias("precision_at_t"),
        (F.round(tp / (tp + fn) - 1e-9, _R) + 0.0).alias("recall_at_t"),
        (F.round(2 * tp / (2 * tp + fp + fn) - 1e-9, _R) + 0.0).alias(
            "f1_at_t"
        ),
    )


@register(
    "encode_cyclic_time",
    oracle=f"""
    SELECT event_id,
           round(sin(2 * pi() * extract(hour FROM ts) / 24.0) - 1e-9, {_R}) + 0.0
             AS hour_sin,
           round(cos(2 * pi() * extract(hour FROM ts) / 24.0) - 1e-9, {_R}) + 0.0
             AS hour_cos,
           round(sin(2 * pi() * (extract(isodow FROM ts) - 1) / 7.0) - 1e-9, {_R}) + 0.0
             AS dow_sin,
           round(cos(2 * pi() * (extract(isodow FROM ts) - 1) / 7.0) - 1e-9, {_R}) + 0.0
             AS dow_cos
    FROM events
    """,
)
def encode_cyclic_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cyclical time-feature encoding — hour-of-day and day-of-week
    mapped onto the unit circle (sin/cos pairs), the standard fix
    for the midnight discontinuity that makes a raw hour column lie
    to distance-based models (23 and 0 are neighbors, not 23 apart).
    Pure narrow projection, fully codegen.  Day-of-week is
    normalized to Monday = 0 on both engines (Spark dayofweek is
    Sunday = 1; DuckDB isodow is Monday = 1 — the same calendar
    trap the dt_parts query documents)."""
    import math

    e = load_table(spark, sf_dir, "events")
    two_pi = 2 * math.pi
    hour = F.hour("ts")
    dow = F.pmod(F.dayofweek("ts") + 5, F.lit(7))  # Monday=0
    return e.select(
        "event_id",
        (F.round(F.sin(two_pi * hour / 24.0) - 1e-9, _R) + 0.0).alias(
            "hour_sin"
        ),
        (F.round(F.cos(two_pi * hour / 24.0) - 1e-9, _R) + 0.0).alias(
            "hour_cos"
        ),
        (F.round(F.sin(two_pi * dow / 7.0) - 1e-9, _R) + 0.0).alias(
            "dow_sin"
        ),
        (F.round(F.cos(two_pi * dow / 7.0) - 1e-9, _R) + 0.0).alias(
            "dow_cos"
        ),
    )


@register(
    "ml_eval_regression",
    oracle=f"""
    WITH m AS (
      SELECT event_type, avg(value) AS yhat FROM events GROUP BY event_type
    ),
    g AS (SELECT avg(value) AS ybar FROM events),
    j AS (
      SELECT e.value AS y, m.yhat, g.ybar
      FROM events e JOIN m USING (event_type) CROSS JOIN g
    )
    SELECT count(*) AS n,
           round(avg(abs(y - yhat)) - 1e-9, {_R}) + 0.0 AS mae,
           round(sqrt(avg((y - yhat) * (y - yhat))) - 1e-9, {_R}) + 0.0 AS rmse,
           round(1 - sum((y - yhat) * (y - yhat))
                   / sum((y - ybar) * (y - ybar)) - 1e-9, {_R}) + 0.0 AS r2
    FROM j
    """,
)
def ml_eval_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regression-model evaluation — MAE / RMSE / R² of the
    group-mean predictor (yhat = per-event_type mean) against the
    observed values.  The 'model' is deliberately in-engine so the
    whole evaluation is one differential-checkable plan: a
    vocabulary-sized groupBy builds the predictions, a broadcast
    join attaches them, a 1-row global-mean aggregate rides a
    broadcast crossJoin, and the metrics fold into ONE partial-agg
    pass over the residuals — no sort, no window, nothing that
    grows with data size except the single scan."""
    e = load_table(spark, sf_dir, "events")
    m = e.groupBy("event_type").agg(F.avg("value").alias("yhat"))
    g = e.agg(F.avg("value").alias("ybar"))
    j = (
        e.select("event_type", F.col("value").alias("y"))
        .join(F.broadcast(m), "event_type")
        .crossJoin(F.broadcast(g))
    )
    r = F.col("y") - F.col("yhat")
    d = F.col("y") - F.col("ybar")
    return j.agg(
        F.count("*").alias("n"),
        (F.round(F.avg(F.abs(r)) - 1e-9, _R) + 0.0).alias("mae"),
        (F.round(F.sqrt(F.avg(r * r)) - 1e-9, _R) + 0.0).alias("rmse"),
        (F.round(1 - F.sum(r * r) / F.sum(d * d) - 1e-9, _R) + 0.0).alias(
            "r2"
        ),
    )


@register(
    "ml_eval_multiclass",
    oracle=f"""
    WITH cnt AS (
      SELECT user_id, event_type, count(*) AS c
      FROM events GROUP BY user_id, event_type
    ),
    pred AS (
      SELECT user_id, event_type AS yhat FROM (
        SELECT user_id, event_type,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY c DESC, event_type) AS rn
        FROM cnt
      ) WHERE rn = 1
    ),
    lab AS (
      SELECT e.event_type AS y, p.yhat
      FROM events e JOIN pred p USING (user_id)
    ),
    cls AS (SELECT DISTINCT event_type AS cls FROM events),
    per AS (
      SELECT cls,
             CAST(sum(CASE WHEN y = cls AND yhat = cls THEN 1 ELSE 0 END) AS DOUBLE) AS tp,
             CAST(sum(CASE WHEN y <> cls AND yhat = cls THEN 1 ELSE 0 END) AS DOUBLE) AS fp,
             CAST(sum(CASE WHEN y = cls AND yhat <> cls THEN 1 ELSE 0 END) AS DOUBLE) AS fn
      FROM lab CROSS JOIN cls GROUP BY cls
    )
    SELECT cls, CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
           CAST(fn AS BIGINT) AS fn,
           round(tp / nullif(tp + fp, 0) - 1e-9, {_R}) + 0.0 AS precision_c,
           round(tp / nullif(tp + fn, 0) - 1e-9, {_R}) + 0.0 AS recall_c,
           round(2 * tp / nullif(2 * tp + fp + fn, 0) - 1e-9, {_R}) + 0.0 AS f1_c
    FROM per
    """,
)
def ml_eval_multiclass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiclass evaluation — per-class tp/fp/fn + precision/recall/
    F1 of the per-user MAJORITY-CLASS predictor (each user's most
    frequent event_type, ties broken lexicographically so both
    engines pick the same class).  The per-user mode is a
    key-partitioned window over the (user, class) count table —
    never a global sort.  The labeled scan reduces FIRST to the
    |classes|² confusion matrix (one partial-agg groupBy on the
    bounded (y, yhat) pair — the only data-sized pass), and the
    per-class tp/fp/fn derive from that tiny matrix by a
    |classes|-row broadcast fan-out.  Fanning the raw scan out by
    the class list instead would shuffle |data|×|classes| rows —
    the shape this formulation exists to avoid at 100 TB."""
    e = load_table(spark, sf_dir, "events")
    cnt = e.groupBy("user_id", "event_type").agg(F.count("*").alias("c"))
    w = Window.partitionBy("user_id").orderBy(
        F.desc("c"), F.asc("event_type")
    )
    pred = (
        cnt.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", F.col("event_type").alias("yhat"))
    )
    lab = e.select("user_id", F.col("event_type").alias("y")).join(
        pred, "user_id"
    )
    conf = lab.groupBy("y", "yhat").agg(F.count("*").alias("nc"))
    cls = e.select(F.col("event_type").alias("cls")).distinct()
    per = (
        conf.crossJoin(F.broadcast(cls))
        .groupBy("cls")
        .agg(
            F.sum(F.when((F.col("y") == F.col("cls")) & (F.col("yhat") == F.col("cls")), F.col("nc")).otherwise(0))
            .cast("double").alias("tp"),
            F.sum(F.when((F.col("y") != F.col("cls")) & (F.col("yhat") == F.col("cls")), F.col("nc")).otherwise(0))
            .cast("double").alias("fp"),
            F.sum(F.when((F.col("y") == F.col("cls")) & (F.col("yhat") != F.col("cls")), F.col("nc")).otherwise(0))
            .cast("double").alias("fn"),
        )
    )
    tp, fp, fn = F.col("tp"), F.col("fp"), F.col("fn")
    z = F.lit(0)
    return per.select(
        "cls",
        tp.cast("long").alias("tp"),
        fp.cast("long").alias("fp"),
        fn.cast("long").alias("fn"),
        (F.round(tp / F.nullif(tp + fp, z) - 1e-9, _R) + 0.0).alias(
            "precision_c"
        ),
        (F.round(tp / F.nullif(tp + fn, z) - 1e-9, _R) + 0.0).alias(
            "recall_c"
        ),
        (F.round(2 * tp / F.nullif(2 * tp + fp + fn, z) - 1e-9, _R) + 0.0)
        .alias("f1_c"),
    )


@register(
    "ml_calibration_bins",
    oracle=f"""
    WITH lab AS (
      SELECT value AS v,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
      FROM events WHERE event_type IN ('purchase', 'view')
    ),
    mm AS (SELECT min(v) AS lo, max(v) AS hi FROM lab),
    s AS (
      SELECT least(CAST(floor((v - lo) / (hi - lo) * 10) AS BIGINT), 9) AS bin,
             (v - lo) / (hi - lo) AS score, y
      FROM lab CROSS JOIN mm
    )
    SELECT bin, count(*) AS n,
           round(avg(score) - 1e-9, {_R}) + 0.0 AS mean_score,
           round(avg(CAST(y AS DOUBLE)) - 1e-9, {_R}) + 0.0 AS event_rate
    FROM s GROUP BY bin
    """,
)
def ml_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calibration (reliability) table — decile bins of a min-max
    normalized score vs the empirical positive rate, the standard
    'is the model's confidence honest' diagnostic.  The global
    min/max is a 1-row aggregate broadcast back over the stream;
    binning is pure codegen arithmetic; one groupBy(bin) with
    partial aggregation finishes it.  At 100 TB nothing here grows
    beyond the single scan + a 10-row result."""
    lab = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("purchase", "view"))
        .select(
            F.col("value").alias("v"),
            F.when(F.col("event_type") == "purchase", 1)
            .otherwise(0)
            .alias("y"),
        )
    )
    mm = lab.agg(F.min("v").alias("lo"), F.max("v").alias("hi"))
    score = (F.col("v") - F.col("lo")) / (F.col("hi") - F.col("lo"))
    s = lab.crossJoin(F.broadcast(mm)).select(
        F.least(F.floor(score * 10).cast("long"), F.lit(9)).alias("bin"),
        score.alias("score"),
        "y",
    )
    return s.groupBy("bin").agg(
        F.count("*").alias("n"),
        (F.round(F.avg("score") - 1e-9, _R) + 0.0).alias("mean_score"),
        (F.round(F.avg(F.col("y").cast("double")) - 1e-9, _R) + 0.0).alias(
            "event_rate"
        ),
    )


_TE_FOLDS = 5
_TE_FOLD_SQL = (
    "CAST('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 15) AS BIGINT)"
    f" % {_TE_FOLDS}"
)


@register(
    "feature_target_encode_cv",
    oracle=f"""
    WITH f AS (
      SELECT event_id, user_id, value,
             {_TE_FOLD_SQL} AS fold
      FROM events
    ),
    pf AS (
      SELECT user_id, fold, sum(value) AS s, count(*) AS c
      FROM f GROUP BY user_id, fold
    ),
    tot AS (
      SELECT user_id, fold, s, c,
             sum(s) OVER (PARTITION BY user_id) AS s_all,
             sum(c) OVER (PARTITION BY user_id) AS c_all
      FROM pf
    ),
    g AS (SELECT avg(value) AS gmean FROM events)
    SELECT f.event_id, f.fold,
           round(coalesce((t.s_all - t.s) / nullif(t.c_all - t.c, 0),
                          g.gmean) - 1e-9, {_R}) + 0.0 AS te_user
    FROM f JOIN tot t ON f.user_id = t.user_id AND f.fold = t.fold
    CROSS JOIN g
    """,
)
def feature_target_encode_cv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-free (out-of-fold) target encoding of a
    HIGH-CARDINALITY categorical — user_id encoded by the mean of
    `value`, where each row's encoding excludes its own fold's
    contribution: te = (sum_all − sum_fold) / (cnt_all − cnt_fold).
    Rows whose category appears only in their own fold fall back to
    the global mean (the standard cold-start prior).  Folds are
    assigned by the engine-portable md5 hash, so the oracle computes
    the identical split.

    Scale shape: the per-(category, fold) partial-sum table is
    |categories|×K rows — the window that turns partials into
    leave-fold-out sums is PARTITIONED by category (key-partitioned,
    never global), and the encoded values join back on
    (category, fold) — every exchange keyed by the category.  This
    is the shape Kaggle-style target encoding ships at 100 TB; the
    naive per-row anti-join over the raw data never materializes."""
    e = load_table(spark, sf_dir, "events")
    f = e.select(
        "event_id",
        "user_id",
        "value",
        (
            portable_hash64(F.col("event_id").cast("string"))
            % F.lit(_TE_FOLDS)
        ).alias("fold"),
    )
    pf = f.groupBy("user_id", "fold").agg(
        F.sum("value").alias("s"), F.count("*").alias("c")
    )
    wu = Window.partitionBy("user_id")
    tot = pf.select(
        "user_id",
        "fold",
        "s",
        "c",
        F.sum("s").over(wu).alias("s_all"),
        F.sum("c").over(wu).alias("c_all"),
    )
    g = e.agg(F.avg("value").alias("gmean"))
    oof = (F.col("s_all") - F.col("s")) / F.nullif(
        F.col("c_all") - F.col("c"), F.lit(0)
    )
    return (
        f.join(tot, ["user_id", "fold"])
        .crossJoin(F.broadcast(g))
        .select(
            "event_id",
            "fold",
            (F.round(F.coalesce(oof, F.col("gmean")) - 1e-9, _R) + 0.0)
            .alias("te_user"),
        )
    )


@register(
    "feature_woe_iv",
    oracle=f"""
    WITH lab AS (
      SELECT c_mktsegment AS seg,
             CASE WHEN c_acctbal > 0 THEN 1 ELSE 0 END AS good
      FROM customer
    ),
    per AS (
      SELECT seg,
             CAST(sum(good) AS DOUBLE) AS g,
             CAST(sum(1 - good) AS DOUBLE) AS b
      FROM lab GROUP BY seg
    ),
    tot AS (SELECT sum(g) AS gt, sum(b) AS bt FROM per)
    SELECT seg, CAST(g AS BIGINT) AS n_good, CAST(b AS BIGINT) AS n_bad,
           round(ln((g / gt) / (b / bt)) - 1e-9, {_R}) + 0.0 AS woe,
           round((g / gt - b / bt) * ln((g / gt) / (b / bt)) - 1e-9, {_R})
             + 0.0 AS iv_contrib
    FROM per CROSS JOIN tot
    """,
)
def feature_woe_iv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-of-evidence / information-value profile of a
    categorical feature against a binary outcome (market segment vs
    positive account balance) — the credit-scoring-standard
    predictive-power screen.  WOE_i = ln((good_i/G)/(bad_i/B)); the
    IV contribution per bucket sums to the feature's IV.  One
    vocabulary-sized groupBy + a 1-row totals broadcast — the whole
    diagnostic is two tiny aggregations regardless of data size."""
    lab = load_table(spark, sf_dir, "customer").select(
        F.col("c_mktsegment").alias("seg"),
        F.when(F.col("c_acctbal") > 0, 1).otherwise(0).alias("good"),
    )
    per = lab.groupBy("seg").agg(
        F.sum("good").cast("double").alias("g"),
        F.sum(1 - F.col("good")).cast("double").alias("b"),
    )
    tot = per.agg(F.sum("g").alias("gt"), F.sum("b").alias("bt"))
    gr = F.col("g") / F.col("gt")
    br = F.col("b") / F.col("bt")
    return per.crossJoin(F.broadcast(tot)).select(
        "seg",
        F.col("g").cast("long").alias("n_good"),
        F.col("b").cast("long").alias("n_bad"),
        (F.round(F.log(gr / br) - 1e-9, _R) + 0.0).alias("woe"),
        (F.round((gr - br) * F.log(gr / br) - 1e-9, _R) + 0.0).alias(
            "iv_contrib"
        ),
    )


@register(
    "ml_eval_logloss",
    oracle=f"""
    WITH lab AS (
      SELECT event_type,
             CASE WHEN event_type = 'purchase' THEN 1.0 ELSE 0.0 END AS y
      FROM events WHERE event_type IN ('purchase', 'view', 'click')
    ),
    m AS (
      SELECT event_type, avg(y) AS p FROM lab GROUP BY event_type
    ),
    base AS (SELECT avg(y) AS pbar FROM lab),
    j AS (
      SELECT lab.y, m.p, base.pbar
      FROM lab JOIN m USING (event_type) CROSS JOIN base
    )
    SELECT count(*) AS n,
           round(-avg(y * ln(greatest(p, 1e-15))
                      + (1 - y) * ln(greatest(1 - p, 1e-15)))
                 - 1e-9, {_R}) + 0.0 AS logloss,
           round(-avg(y * ln(pbar) + (1 - y) * ln(1 - pbar))
                 - 1e-9, {_R}) + 0.0 AS logloss_baseline
    FROM j
    """,
)
def ml_eval_logloss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-entropy (log loss) of a grouped probability model vs the
    constant-rate baseline — the probabilistic-calibration metric
    that AUC can't see (a model can rank perfectly and still be
    badly calibrated).  Predictions are the per-group empirical
    rates (clamped at 1e-15 before ln, the standard guard), the
    baseline is the global rate; both attach by broadcast and the
    loss folds into ONE partial-agg average over the scan.  The
    baseline column makes the result self-interpreting: a useful
    model's logloss sits strictly below it."""
    lab = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type").isin("purchase", "view", "click"))
        .select(
            "event_type",
            F.when(F.col("event_type") == "purchase", 1.0)
            .otherwise(0.0)
            .alias("y"),
        )
    )
    m = lab.groupBy("event_type").agg(F.avg("y").alias("p"))
    base = lab.agg(F.avg("y").alias("pbar"))
    j = lab.join(F.broadcast(m), "event_type").crossJoin(F.broadcast(base))
    y, p, pbar = F.col("y"), F.col("p"), F.col("pbar")
    ll = y * F.log(F.greatest(p, F.lit(1e-15))) + (1 - y) * F.log(
        F.greatest(1 - p, F.lit(1e-15))
    )
    llb = y * F.log(pbar) + (1 - y) * F.log(1 - pbar)
    return j.agg(
        F.count("*").alias("n"),
        (F.round(-F.avg(ll) - 1e-9, _R) + 0.0).alias("logloss"),
        (F.round(-F.avg(llb) - 1e-9, _R) + 0.0).alias("logloss_baseline"),
    )


_NDCG_K = 10


@register(
    "ml_eval_ndcg",
    oracle=f"""
    WITH scored AS (
      SELECT user_id, event_id, value AS score,
             CASE event_type WHEN 'purchase' THEN 3
                             WHEN 'click' THEN 1 ELSE 0 END AS gain
      FROM events
    ),
    by_score AS (
      SELECT user_id, gain,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY score DESC, event_id) AS i
      FROM scored
    ),
    by_gain AS (
      SELECT user_id, gain,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY gain DESC, event_id) AS i
      FROM scored
    ),
    dcg AS (
      SELECT user_id, sum(gain / log2(i + 1.0)) AS dcg
      FROM by_score WHERE i <= {_NDCG_K} GROUP BY user_id
    ),
    idcg AS (
      SELECT user_id, sum(gain / log2(i + 1.0)) AS idcg
      FROM by_gain WHERE i <= {_NDCG_K} GROUP BY user_id
    )
    SELECT d.user_id,
           round(d.dcg / i.idcg - 1e-9, {_R}) + 0.0 AS ndcg_at_k
    FROM dcg d JOIN idcg i ON i.user_id = d.user_id
    WHERE i.idcg > 0
    """,
)
def ml_eval_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking-quality evaluation — NDCG@{_NDCG_K} per user, treating
    `value` as the model score and purchase/click/view as graded
    relevance (3/1/0): the metric behind recommender and search-
    ranking evals.  DCG ranks by score, ideal DCG by gain (both with
    the event_id tiebreak so the two engines rank identically);
    users with no positive gain anywhere have IDCG = 0 — an exact
    integer-sum zero on both engines — and abstain.

    Scale shape: two per-user ordered windows (key-partitioned — the
    same single user_id exchange every session/window query here
    pays, reused across both windows by AQE) cut to the top
    {_NDCG_K} rows each, two per-user hash aggs, one keyed join.
    Nothing global, nothing data-wide: the 100 TB plan is this
    plan."""
    e = load_table(spark, sf_dir, "events")
    scored = e.select(
        "user_id",
        "event_id",
        F.col("value").alias("score"),
        F.when(F.col("event_type") == "purchase", 3)
        .when(F.col("event_type") == "click", 1)
        .otherwise(0)
        .alias("gain"),
    )
    w_score = Window.partitionBy("user_id").orderBy(
        F.desc("score"), F.asc("event_id")
    )
    w_gain = Window.partitionBy("user_id").orderBy(
        F.desc("gain"), F.asc("event_id")
    )

    def dcg_at_k(w, out: str) -> DataFrame:
        return (
            scored.withColumn("i", F.row_number().over(w))
            .filter(F.col("i") <= _NDCG_K)
            .groupBy("user_id")
            .agg(
                F.sum(
                    F.col("gain") / F.log2(F.col("i") + F.lit(1.0))
                ).alias(out)
            )
        )

    dcg = dcg_at_k(w_score, "dcg")
    idcg = dcg_at_k(w_gain, "idcg").filter(F.col("idcg") > 0)
    return dcg.join(idcg, "user_id").select(
        "user_id",
        (F.round(F.col("dcg") / F.col("idcg") - 1e-9, _R) + 0.0).alias(
            "ndcg_at_k"
        ),
    )


_FH_D = 64  # hashed feature-space width
_H_SQL = "CAST('0x' || substr(md5({x}), 1, 15) AS BIGINT)"


@register(
    "encode_feature_hash_signed",
    oracle=f"""
    SELECT o_orderkey,
           {_H_SQL.format(x="'fh|' || o_orderpriority")} % {_FH_D}
             AS bucket,
           CASE WHEN {_H_SQL.format(x="'fh|' || o_orderpriority")}
                     % {2 * _FH_D} < {_FH_D}
                THEN 1 ELSE -1 END AS sign
    FROM orders
    """,
)
def encode_feature_hash_signed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SIGNED feature hashing — `encode_feature_hash`'s sibling
    with the sign trick (hash-bit ±1 per value) that makes collision
    noise zero-mean, the form Vowpal Wabbit / sklearn's
    FeatureHasher actually ship.  Same statelessness: no vocabulary,
    no fit pass, no broadcast — a pure codegen projection on the
    scan, the 100 TB default for unbounded category spaces.  The
    sign bit is read as h mod 2D < D (avoiding integer-division
    semantics that differ across engines)."""
    from ondemand_dask_spark.functions.texthash import portable_hash64

    o = load_table(spark, sf_dir, "orders")
    h = portable_hash64(
        F.concat(F.lit("fh|"), F.col("o_orderpriority"))
    )
    return o.select(
        "o_orderkey",
        (h % _FH_D).alias("bucket"),
        F.when(h % (2 * _FH_D) < _FH_D, 1).otherwise(-1).alias("sign"),
    )


@register(
    "ml_eval_pr_auc",
    oracle=f"""
    WITH c AS (
      SELECT round(value, 3) AS s,
             count(CASE WHEN event_type = 'purchase' THEN 1 END) AS pos_c,
             count(CASE WHEN event_type != 'purchase' THEN 1 END) AS neg_c
      FROM events GROUP BY round(value, 3)
    ),
    w AS (
      SELECT pos_c,
             sum(pos_c) OVER (ORDER BY s DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_pos,
             sum(neg_c) OVER (ORDER BY s DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_neg
      FROM c
    ),
    tot AS (SELECT CAST(sum(pos_c) AS DOUBLE) AS npos FROM c)
    SELECT CAST(max(npos) AS BIGINT) AS n_pos,
           round(sum(pos_c / npos * (cum_pos / (cum_pos + cum_neg)))
                 - 1e-9, {_R}) + 0.0 AS pr_auc
    FROM w CROSS JOIN tot
    WHERE npos > 0
    """,
)
def ml_eval_pr_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Average precision (area under the precision-recall curve, the
    step-interpolated sklearn definition) — the imbalanced-class
    companion to `ml_eval_binary`'s AUC, scoring `value` against the
    purchase label.  Like its siblings the rank arithmetic is
    COUNT-side: per-distinct-score positive/negative counts (scores
    rounded to 3 dp so both engines bucket identically), one ordered
    window over the SCORE vocabulary for cumulative TP/FP, then
    AP = sum over score cuts of (TP gained / total P) x precision at
    the cut — ties grouped at a single step, deterministic on both
    engines.  Nothing data-sized: one hash agg off the scan, a
    bounded-vocabulary window, a 1-row total attach."""
    from pyspark.sql.window import Window as W

    e = load_table(spark, sf_dir, "events")
    c = e.groupBy(F.round("value", 3).alias("s")).agg(
        F.count(F.when(F.col("event_type") == "purchase", 1)).alias(
            "pos_c"
        ),
        F.count(F.when(F.col("event_type") != "purchase", 1)).alias(
            "neg_c"
        ),
    )
    wd = W.orderBy(F.desc("s")).rowsBetween(W.unboundedPreceding, 0)
    w = c.select(
        "pos_c",
        F.sum("pos_c").over(wd).alias("cum_pos"),
        F.sum("neg_c").over(wd).alias("cum_neg"),
    )
    tot = w.agg(F.sum("pos_c").cast("double").alias("npos"))
    return (
        w.crossJoin(F.broadcast(tot))
        .filter(F.col("npos") > 0)
        .agg(
            F.max("npos").cast("long").alias("n_pos"),
            (
                F.round(
                    F.sum(
                        F.col("pos_c")
                        / F.col("npos")
                        * (
                            F.col("cum_pos")
                            / (F.col("cum_pos") + F.col("cum_neg"))
                        )
                    )
                    - 1e-9,
                    _R,
                )
                + 0.0
            ).alias("pr_auc"),
        )
    )


@register(
    "ml_eval_agreement",
    oracle=f"""
    WITH conf AS (
      SELECT CAST(sum(CASE WHEN value >  {_EVAL_THRESHOLD}
                            AND event_type = 'purchase' THEN 1 ELSE 0 END)
                  AS DOUBLE) AS tp,
             CAST(sum(CASE WHEN value >  {_EVAL_THRESHOLD}
                            AND event_type = 'view' THEN 1 ELSE 0 END)
                  AS DOUBLE) AS fp,
             CAST(sum(CASE WHEN value <= {_EVAL_THRESHOLD}
                            AND event_type = 'purchase' THEN 1 ELSE 0 END)
                  AS DOUBLE) AS fn,
             CAST(sum(CASE WHEN value <= {_EVAL_THRESHOLD}
                            AND event_type = 'view' THEN 1 ELSE 0 END)
                  AS DOUBLE) AS tn
      FROM events
      WHERE event_type IN ('purchase', 'view') AND value IS NOT NULL
    )
    SELECT round((tp + tn) / (tp + fp + fn + tn) - 1e-9, {_R}) + 0.0
             AS accuracy,
           round(((tp + tn) / (tp + fp + fn + tn)
                  - ((tp + fp) * (tp + fn) + (tn + fn) * (tn + fp))
                    / pow(tp + fp + fn + tn, 2))
                 / NULLIF(1 - ((tp + fp) * (tp + fn)
                               + (tn + fn) * (tn + fp))
                              / pow(tp + fp + fn + tn, 2), 0)
                 - 1e-9, {_R}) + 0.0 AS cohen_kappa,
           round((tp * tn - fp * fn)
                 / NULLIF(sqrt((tp + fp) * (tp + fn)
                               * (tn + fp) * (tn + fn)), 0)
                 - 1e-9, {_R}) + 0.0 AS mcc,
           round((tp / NULLIF(tp + fn, 0)
                  + tn / NULLIF(tn + fp, 0)) / 2 - 1e-9, {_R}) + 0.0
             AS balanced_accuracy
    FROM conf
    """,
)
def ml_eval_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chance-corrected agreement metrics for the thresholded binary
    classifier: Cohen's kappa, Matthews correlation (MCC), and
    balanced accuracy — the evaluation battery for IMBALANCED label
    distributions, where ml_eval_binary's raw accuracy/F1 reward the
    majority-class guess.  All four are closed forms of the 2×2
    confusion matrix, so the whole query is ONE conditional aggregate
    over the labeled scan (full map-side partial aggregation; four
    doubles cross the wire per partition) and a scalar projection —
    the same 100 TB shape as ml_eval_binary's confusion leg.
    Degenerate margins (an all-one-class slice makes kappa/MCC/
    balanced-accuracy 0/0) pin to SQL NULL on both engines via
    NULLIF/try_divide."""
    e = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "view")
        & F.col("value").isNotNull()
    )
    pred = F.col("value") > _EVAL_THRESHOLD
    actual = F.col("event_type") == "purchase"
    conf = e.agg(
        F.sum((pred & actual).cast("double")).alias("tp"),
        F.sum((pred & ~actual).cast("double")).alias("fp"),
        F.sum((~pred & actual).cast("double")).alias("fn"),
        F.sum((~pred & ~actual).cast("double")).alias("tn"),
    )
    tp, fp, fn, tn = (F.col(c) for c in ("tp", "fp", "fn", "tn"))
    n = tp + fp + fn + tn
    po = (tp + tn) / n
    pe = ((tp + fp) * (tp + fn) + (tn + fn) * (tn + fp)) / F.pow(n, 2)
    mcc = F.try_divide(
        tp * tn - fp * fn,
        F.sqrt((tp + fp) * (tp + fn) * (tn + fp) * (tn + fn)),
    )
    bal = (F.try_divide(tp, tp + fn) + F.try_divide(tn, tn + fp)) / 2
    return conf.select(
        (F.round(po - 1e-9, _R) + 0.0).alias("accuracy"),
        (
            F.round(F.try_divide(po - pe, F.lit(1.0) - pe) - 1e-9, _R) + 0.0
        ).alias("cohen_kappa"),
        (F.round(mcc - 1e-9, _R) + 0.0).alias("mcc"),
        (F.round(bal - 1e-9, _R) + 0.0).alias("balanced_accuracy"),
    )


_LC_BUCKETS = 16  # hash-bucket space: 15 train buckets + 1 holdout
_LC_FRACTIONS = (4, 8, 15)  # nested train sizes in buckets


def _lc_oracle() -> str:
    legs = []
    for nb in _LC_FRACTIONS:
        legs.append(f"""
    SELECT {nb} AS train_buckets,
           (SELECT count(*) FROM t WHERE bucket < {nb}
                                     AND value IS NOT NULL) AS n_train,
           round(avg(pow(h.value - m.mean_value, 2)) - 1e-9, {_R}) + 0.0
             AS mse
    FROM (SELECT * FROM t WHERE bucket = {_LC_BUCKETS - 1}
                            AND value IS NOT NULL) h
    JOIN (SELECT event_type, avg(value) AS mean_value
          FROM t WHERE bucket < {nb} AND value IS NOT NULL
          GROUP BY event_type) m
      ON h.event_type = m.event_type""")
    union = "\n    UNION ALL".join(legs)
    return f"""
    WITH t AS (
      SELECT event_type, value,
             CAST('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 15)
                  AS BIGINT) % {_LC_BUCKETS} AS bucket
      FROM events
    )
    {union}
    """


@register("ml_learning_curve", oracle=_lc_oracle())
def ml_learning_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learning curve for the per-category mean predictor: holdout
    MSE of the event_type→mean(value) model trained on nested
    25% / 50% / ~94% hash-bucket subsets — the 'do we need more
    data' diagnostic every data-pipeline budget decision starts
    from (a flat curve says stop collecting; a falling curve says
    the model is still data-starved).  Nesting via the SAME
    deterministic portable hash as sample_hash_split makes each
    training set a strict superset of the previous one, so the
    curve is monotone in information, never resampling noise.

    Scale shape: TWO partial-agg scans total — per-(category,
    bucket) train sums/counts and per-category holdout
    (n, Σv, Σv²) — and every curve leg is then pure arithmetic on
    those vocabulary-sized tables: the per-leg MSE expands
    algebraically as Σ(v−m)² = Σv² − 2mΣv + nm², so adding a
    fraction to the curve costs nothing data-sized (the naive
    per-leg form re-scanned train and holdout per fraction — 7
    scans for 3 legs).  All comparisons are on the exact md5
    bucket, identical across engines; the oracle keeps the row-wise
    per-leg formulation as the semantic spec."""
    t = load_table(spark, sf_dir, "events").select(
        "event_type",
        "value",
        (portable_hash64(F.col("event_id").cast("string")) % _LC_BUCKETS).alias(
            "bucket"
        ),
    )
    t = t.filter(F.col("value").isNotNull())
    # ONE pass each over the train and holdout slices: everything
    # downstream operates on sufficient statistics (per-(category,
    # bucket) sums / counts — a |categories|×|buckets| table), so the
    # three curve legs cost vocabulary-sized arithmetic, not three
    # more scans.  MSE expands algebraically:
    #   Σ(v − m)² = Σv² − 2·m·Σv + n·m²   per category.
    parts = (
        t.filter(F.col("bucket") < _LC_BUCKETS - 1)
        .groupBy("event_type", "bucket")
        .agg(F.sum("value").alias("s"), F.count("value").alias("c"))
    )
    hold = t.filter(F.col("bucket") == _LC_BUCKETS - 1).groupBy(
        "event_type"
    ).agg(
        F.count("value").alias("n_h"),
        F.sum("value").alias("sum_h"),
        F.sum(F.col("value") * F.col("value")).alias("sumsq_h"),
    )
    nb = F.explode(
        F.array(*[F.lit(x) for x in _LC_FRACTIONS])
    ).alias("train_buckets")
    train_stats = (
        parts.select("*", nb)
        .filter(F.col("bucket") < F.col("train_buckets"))
        .groupBy("train_buckets", "event_type")
        .agg(F.sum("s").alias("ts"), F.sum("c").alias("tc"))
    )
    n_train = train_stats.groupBy("train_buckets").agg(
        F.sum("tc").alias("n_train")
    )
    m = F.col("ts") / F.col("tc")
    mse = (
        train_stats.join(hold, "event_type")
        .groupBy("train_buckets")
        .agg(
            (
                F.round(
                    F.sum(
                        F.col("sumsq_h")
                        - 2 * m * F.col("sum_h")
                        + F.col("n_h") * m * m
                    )
                    / F.sum("n_h")
                    - 1e-9,
                    _R,
                )
                + 0.0
            ).alias("mse")
        )
    )
    return (
        n_train.join(mse, "train_buckets")
        .select("train_buckets", "n_train", "mse")
    )


_STUMP_BINS = 10


@register(
    "ml_feature_gain_stump",
    oracle=f"""
    WITH ux AS (
      SELECT user_id,
             max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               AS label,
             round(CAST(sum(CASE WHEN event_type <> 'purchase'
                            THEN 1 ELSE 0 END) AS DOUBLE), {_R}) AS f_events,
             round(sum(CASE WHEN event_type <> 'purchase'
                       THEN value ELSE 0 END), {_R}) AS f_value,
             round(CAST(count(DISTINCT CASE WHEN event_type <> 'purchase'
                                       THEN event_type END) AS DOUBLE),
                   {_R}) AS f_types
      FROM events GROUP BY user_id
    ),
    long AS (
      SELECT label, 'f_events' AS feature, f_events AS v FROM ux
      UNION ALL SELECT label, 'f_value', f_value FROM ux
      UNION ALL SELECT label, 'f_types', f_types FROM ux
    ),
    rng AS (
      SELECT feature, min(v) AS mn, max(v) AS mx FROM long GROUP BY feature
    ),
    binned AS (
      SELECT l.feature, l.label,
             CASE WHEN r.mx > r.mn
                  THEN least({_STUMP_BINS - 1}, CAST(floor(
                         (l.v - r.mn) / (r.mx - r.mn) * {_STUMP_BINS})
                       AS BIGINT))
                  ELSE 0 END AS bin
      FROM long l JOIN rng r ON r.feature = l.feature
    ),
    bins AS (
      SELECT feature, bin, CAST(count(*) AS DOUBLE) AS n,
             CAST(sum(label) AS DOUBLE) AS pos
      FROM binned GROUP BY feature, bin
    ),
    pre AS (
      SELECT feature, bin,
             sum(n) OVER (PARTITION BY feature ORDER BY bin) AS nl,
             sum(pos) OVER (PARTITION BY feature ORDER BY bin) AS posl,
             sum(n) OVER (PARTITION BY feature) AS nt,
             sum(pos) OVER (PARTITION BY feature) AS post
      FROM bins
    ),
    cand AS (
      SELECT feature, bin, nl, posl, nt, post,
             2 * (post / nt) * (1 - post / nt)
             - (nl / nt) * 2 * (posl / nl) * (1 - posl / nl)
             - ((nt - nl) / nt) * 2 * ((post - posl) / (nt - nl))
               * (1 - (post - posl) / (nt - nl)) AS gain
      FROM pre WHERE nl < nt
    ),
    ranked AS (
      SELECT feature, bin, nt, post,
             round(gain - 1e-9, 6) AS g,
             row_number() OVER (PARTITION BY feature
                                ORDER BY round(gain - 1e-9, 6) DESC,
                                         bin) AS rn
      FROM cand
    )
    SELECT feature,
           CAST(bin AS BIGINT) AS best_split_bin,
           round(g - 1e-9, {_R}) + 0.0 AS best_gain,
           round(2 * (post / nt) * (1 - post / nt) - 1e-9, {_R})
             + 0.0 AS parent_gini
    FROM ranked WHERE rn = 1 ORDER BY feature
    """,
)
def ml_feature_gain_stump(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decision-stump feature ranking — the single-split heart of
    tree learning, run as pure aggregation: per-user behavioral
    features (non-purchase event count, value sum, distinct types)
    against the converted-user label; each feature is min-max
    binned into {_STUMP_BINS} buckets and every bucket boundary is
    scored as a binary split by Gini impurity reduction; the
    best split per feature ranks the features the way a tree's
    root node would.

    Scale shape: one per-user partial agg, one 3x unpivot, a
    3-row min/max broadcast join, then a (feature, bin) partial
    agg whose output is CODEBOOK-sized ({_STUMP_BINS} rows per
    feature); prefix sums and the argmax run as windows over those
    bounded bins, never over users.  This is exactly how
    distributed GBDT histograms (LightGBM-style) make split
    finding data-parallel: sufficient statistics per bin, split
    scan over the histogram.  All bin assignments compute from
    4dp-rounded values with one shared expression shape, so the
    cut cannot straddle engines; gains rank on the 6dp-rounded
    value with the lower bin as tiebreak.  A constant feature
    (min = max, e.g. f_types when every user touches every type)
    admits no valid split and drops out of the ranking — the same
    contract as a tree library refusing the split."""
    e = load_table(spark, sf_dir, "events")
    np_ = F.col("event_type") != "purchase"
    ux = e.groupBy("user_id").agg(
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("label"),
        F.round(F.sum(np_.cast("int")).cast("double"), _R)
        .alias("f_events"),
        F.round(
            F.sum(F.when(np_, F.col("value")).otherwise(0.0)), _R
        ).alias("f_value"),
        F.round(
            F.countDistinct(
                F.when(np_, F.col("event_type"))
            ).cast("double"),
            _R,
        ).alias("f_types"),
    )
    long = ux.selectExpr(
        "label",
        "stack(3, 'f_events', f_events, 'f_value', f_value,"
        " 'f_types', f_types) AS (feature, v)",
    )
    rng = long.groupBy("feature").agg(
        F.min("v").alias("mn"), F.max("v").alias("mx")
    )
    binned = long.join(F.broadcast(rng), "feature").select(
        "feature", "label",
        F.when(
            F.col("mx") > F.col("mn"),
            F.least(
                F.lit(_STUMP_BINS - 1),
                F.floor(
                    (F.col("v") - F.col("mn"))
                    / (F.col("mx") - F.col("mn"))
                    * _STUMP_BINS
                ),
            ),
        )
        .otherwise(0)
        .alias("bin"),
    )
    bins = binned.groupBy("feature", "bin").agg(
        F.count("*").cast("double").alias("n"),
        F.sum("label").cast("double").alias("pos"),
    )
    wo = (
        Window.partitionBy("feature")
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wa = Window.partitionBy("feature")
    pre = bins.select(
        "feature", "bin",
        F.sum("n").over(wo).alias("nl"),
        F.sum("pos").over(wo).alias("posl"),
        F.sum("n").over(wa).alias("nt"),
        F.sum("pos").over(wa).alias("post"),
    )
    nl, posl = F.col("nl"), F.col("posl")
    nt, post = F.col("nt"), F.col("post")
    pp = post / nt
    pl = posl / nl
    pr = (post - posl) / (nt - nl)
    gain = (
        2 * pp * (1 - pp)
        - (nl / nt) * 2 * pl * (1 - pl)
        - ((nt - nl) / nt) * 2 * pr * (1 - pr)
    )
    cand = pre.filter(nl < nt).select(
        "feature", "bin", "nt", "post", gain.alias("gain")
    )
    g6 = F.round(F.col("gain") - 1e-9, 6)
    return (
        cand.groupBy("feature")
        .agg(
            F.max_by(
                "bin", F.struct(g6.alias("g"), (-F.col("bin")).alias("b"))
            ).alias("best_split_bin"),
            (F.round(F.max(g6) - 1e-9, _R) + 0.0).alias("best_gain"),
            (
                F.round(
                    F.max(2 * (post / nt) * (1 - post / nt)) - 1e-9, _R
                )
                + 0.0
            ).alias("parent_gini"),
        )
        .orderBy("feature")
    )
