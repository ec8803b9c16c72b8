"""§2.K — similarity search over the `embeddings` table.

Approximate-nearest-neighbor surface for an `array<float>` column:

- brute-force exact cosine top-k  — the correctness baseline; the
  query set is broadcast, so the scan side streams once with no
  shuffle (at 100 TB: queries are always the small side — broadcast
  them, never the corpus);
- random-hyperplane LSH           — the scale path: each vector maps
  to a b-bit signature (narrow op), candidates meet through a
  signature equi-join instead of an n² cross join;
- label centroids + distances     — the clustering-stats companion.

All vector math is double-precision fold/`list_sum` over explicit
`CAST(x AS DOUBLE)` elements so Spark and DuckDB produce hash-equal
results (float32 intermediate math would diverge).  The "random"
hyperplanes are a deterministic integer formula evaluated identically
on both engines — the LSH queries are therefore exactly
oracle-checked, not statistically.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ondemand_dask_spark.functions.vectors import dot as _dot, l2_norm as _norm
from ondemand_dask_spark.io import load_table
from ondemand_dask_spark.operators.checkpoint import pin
from ondemand_dask_spark.registry import register

_R = 4

N_PLANES = 16
TOP_K = 5

# w(p, d): pseudo-random hyperplane weight in [-1000, 1000] from exact
# 64-bit integer arithmetic (identical on both engines; int32 would
# overflow differently — Spark wraps, DuckDB throws).
_W_SQL = "((CAST({p} AS BIGINT) * 73856093 + {d} * 19349663) % 2001 - 1000)"


_DOT_SQL = """list_sum(list_transform(generate_series(1, len({a})),
              i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)))"""


def _dot_sql(a: str, b: str) -> str:
    return _DOT_SQL.format(a=a, b=b)


@register(
    "ann_cosine_topk",
    oracle=f"""
    WITH nz AS (
      SELECT vec_id, embedding FROM embeddings
      WHERE {_dot_sql("embedding", "embedding")} > 0
    ),
    q AS (SELECT vec_id, embedding FROM nz WHERE vec_id < 10),
    pairs AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             {_dot_sql("q.embedding", "c.embedding")}
               / (sqrt({_dot_sql("q.embedding", "q.embedding")})
                  * sqrt({_dot_sql("c.embedding", "c.embedding")})) AS cos
      FROM q JOIN nz c ON c.vec_id != q.vec_id
    )
    SELECT query_id, neighbor_id, round(cos - 1e-9, {_R}) + 0.0 AS cosine, rnk
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY cos DESC, neighbor_id) AS rnk
          FROM pairs)
    WHERE rnk <= {TOP_K}
    """,
)
def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force exact cosine top-k: every query vector scored
    against the full corpus.  The query set is broadcast — the plan is
    a single pass over the corpus with a per-query top-k
    (TakeOrderedAndProject shape), no corpus shuffle.  This is the
    oracle for any ANN index; at 100 TB run it on a sampled slice to
    measure the LSH variant's recall."""
    # Norms are per-VECTOR, not per-pair: compute once on each side
    # (HOF folds are interpreted, so per-pair work is the cost driver
    # — this cuts 3 folds/pair to 1).  ZERO-NORM vectors (dead docs,
    # padding rows — absent from the committed generator but found
    # by tests/test_fuzz_embeddings_differential.py on its first
    # example) have undefined cosine and crash ANSI division; they
    # are excluded from BOTH the query set and the candidates, on
    # both engines.
    e = (
        load_table(spark, sf_dir, "embeddings")
        .withColumn("nrm", _norm(F.col("embedding")))
        .filter(F.col("nrm") > 0)
    )
    q = e.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("nrm").alias("q_nrm"),
    )
    pairs = (
        e.join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            (
                _dot(F.col("q_emb"), F.col("embedding"))
                / (F.col("q_nrm") * F.col("nrm"))
            ).alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        pairs.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TOP_K)
        .select(
            "query_id",
            "neighbor_id",
            F.round(F.col("cos") - 1e-9, _R).alias("cosine"),
            "rnk",
        )
    )


def _signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """b-bit random-hyperplane signature per vector (narrow op).

    Unstored: callers that read the table more than once `pin` it —
    the signature fold is interpreted (HOFs don't codegen), so
    unpinned it would run once per join side."""
    e = load_table(spark, sf_dir, "embeddings")
    # proj(p) = Σ_d emb[d] * w(p, d); bit p = proj > 0
    proj = F.transform(
        F.sequence(F.lit(0), F.lit(N_PLANES - 1)),
        lambda p: F.aggregate(
            F.sequence(F.lit(1), F.size("embedding")),
            F.lit(0.0),
            lambda acc, d: acc
            + F.element_at(F.col("embedding"), d).cast("double")
            * ((p.cast("long") * 73856093 + d * 19349663) % 2001 - 1000),
        ),
    )
    # signature = Σ_p (proj_p > 0) * 2^p, via double pow (exact for
    # p < 53) then cast — avoids column-shift SQL gymnastics.
    bits = F.zip_with(
        proj,
        F.sequence(F.lit(0), F.lit(N_PLANES - 1)),
        lambda pr, p: F.when(pr > 0, F.pow(F.lit(2.0), p)).otherwise(F.lit(0.0)),
    )
    sig = F.aggregate(bits, F.lit(0.0), lambda acc, x: acc + x).cast("long")
    # Zero-norm vectors are excluded at the signature layer on both
    # engines (embeddings-fuzz finding): every hyperplane projection
    # is 0, so they all pollute one meaningless bucket, and every
    # downstream cosine against them is an undefined 0/0 (ANSI
    # division throws).
    return e.select(
        "vec_id",
        "label",
        "embedding",
        sig.alias("signature"),
        # per-vector norm, computed once here so downstream pair
        # joins never re-fold it per pair
        _norm(F.col("embedding")).alias("nrm"),
    ).filter(F.col("nrm") > 0)


_SIG_SQL = f"""
    SELECT vec_id, label, embedding,
           CAST(list_sum(list_transform(generate_series(0, {N_PLANES - 1}),
             p -> CASE WHEN list_sum(list_transform(generate_series(1, len(embedding)),
                          d -> CAST(embedding[d] AS DOUBLE) * {_W_SQL.format(p="p", d="d")}))
                        > 0
                  THEN power(2.0, p) ELSE 0.0 END)) AS BIGINT) AS signature
    FROM embeddings
    WHERE {_dot_sql("embedding", "embedding")} > 0
"""


@register(
    "ann_lsh_bucket_stats",
    oracle=f"""
    WITH sig AS ({_SIG_SQL})
    SELECT signature, count(*) AS n_vectors,
           count(DISTINCT label) AS n_labels
    FROM sig GROUP BY signature
    """,
)
def ann_lsh_bucket_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH bucket histogram: vectors per 16-bit signature.  The
    signature computation is a narrow projection (no shuffle); the
    histogram is one groupBy on an 8-byte key.  Bucket-size skew here
    is the tuning signal for N_PLANES at scale."""
    sig = _signatures(spark, sf_dir)
    return sig.groupBy("signature").agg(
        F.count("*").alias("n_vectors"),
        F.countDistinct("label").alias("n_labels"),
    )


@register(
    "ann_lsh_probe",
    oracle=f"""
    WITH sig AS ({_SIG_SQL}),
    q AS (SELECT * FROM sig WHERE vec_id < 20),
    pairs AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             {_dot_sql("q.embedding", "c.embedding")}
               / (sqrt({_dot_sql("q.embedding", "q.embedding")})
                  * sqrt({_dot_sql("c.embedding", "c.embedding")})) AS cos
      FROM q JOIN sig c
        ON c.signature = q.signature AND c.vec_id != q.vec_id
    )
    SELECT query_id, neighbor_id, round(cos - 1e-9, {_R}) + 0.0 AS cosine, rnk
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY cos DESC, neighbor_id) AS rnk
          FROM pairs)
    WHERE rnk <= 3
    """,
)
def ann_lsh_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed ANN: candidates are ONLY vectors sharing the
    query's signature (equi-join on the bucket key — this is what
    replaces the n² cross join at scale), then exact cosine re-rank
    within the bucket.  Queries landing in singleton buckets return
    no rows — the recall/multiprobe tradeoff made visible."""
    sig = pin(_signatures(spark, sf_dir))
    q = sig.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("signature").alias("q_sig"),
        F.col("nrm").alias("q_nrm"),
    )
    pairs = (
        sig.join(
            F.broadcast(q),
            (F.col("signature") == F.col("q_sig"))
            & (F.col("vec_id") != F.col("query_id")),
        )
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            (
                _dot(F.col("q_emb"), F.col("embedding"))
                / (F.col("q_nrm") * F.col("nrm"))
            ).alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        pairs.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select(
            "query_id",
            "neighbor_id",
            F.round(F.col("cos") - 1e-9, _R).alias("cosine"),
            "rnk",
        )
    )


N_LISTS = 8
N_PROBE = 2

@register(
    "ann_ivf_probe",
    oracle=f"""
    WITH nz AS (
      SELECT vec_id, embedding FROM embeddings
      WHERE {_dot_sql("embedding", "embedding")} > 0
    ),
    seeds AS (
      SELECT vec_id AS list_id, embedding AS seed
      FROM nz ORDER BY vec_id LIMIT {N_LISTS}
    ),
    scored AS (
      SELECT e.vec_id, e.embedding, s.list_id,
             {_dot_sql("e.embedding", "s.seed")}
               / (sqrt({_dot_sql("e.embedding", "e.embedding")})
                  * sqrt({_dot_sql("s.seed", "s.seed")})) AS cos
      FROM nz e CROSS JOIN seeds s
    ),
    assign AS (
      SELECT vec_id, embedding, list_id FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id
                                     ORDER BY cos DESC, list_id) AS rn
        FROM scored) WHERE rn = 1
    ),
    probes AS (
      SELECT vec_id AS query_id, list_id FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id
                                     ORDER BY cos DESC, list_id) AS rn
        FROM scored WHERE vec_id < 10) WHERE rn <= {N_PROBE}
    ),
    pairs AS (
      SELECT p.query_id, a.vec_id AS neighbor_id,
             {_dot_sql("q.embedding", "a.embedding")}
               / (sqrt({_dot_sql("q.embedding", "q.embedding")})
                  * sqrt({_dot_sql("a.embedding", "a.embedding")})) AS cos
      FROM probes p
      JOIN assign a ON a.list_id = p.list_id AND a.vec_id != p.query_id
      JOIN nz q ON q.vec_id = p.query_id
    )
    SELECT query_id, neighbor_id, round(cos - 1e-9, {_R}) + 0.0 AS cosine, rnk
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY cos DESC, neighbor_id) AS rnk
          FROM pairs)
    WHERE rnk <= 3
    """,
)
def ann_ivf_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: the corpus is coarsely quantized into N_LISTS
    inverted lists (nearest of N_LISTS deterministic seed vectors —
    the k-means-free stand-in for IVF centroids), each query probes
    its N_PROBE nearest lists, and only those lists' members get the
    exact cosine re-rank.  Plan shape at 100 TB: seeds broadcast →
    assignment is one narrow pass + a groupBy-sized shuffle keyed on
    vec_id (build cost, amortized across queries); probing touches
    |corpus| * nprobe / nlists rows instead of |corpus| — the
    complement of the LSH variant (ann_lsh_probe), which buckets by
    signature instead of proximity.  Zero-norm vectors are excluded
    at entry on both engines (undefined cosine; embeddings-fuzz
    finding)."""
    e = (
        load_table(spark, sf_dir, "embeddings")
        .withColumn("nrm", _norm(F.col("embedding")))
        .filter(F.col("nrm") > 0)
    )
    seeds = (
        e.orderBy("vec_id")
        .limit(N_LISTS)
        .select(
            F.col("vec_id").alias("list_id"),
            F.col("embedding").alias("seed"),
            F.col("nrm").alias("s_nrm"),
        )
    )
    scored = e.crossJoin(F.broadcast(seeds)).select(
        "vec_id",
        "embedding",
        "nrm",
        "list_id",
        (_dot(F.col("embedding"), F.col("seed")) / (F.col("nrm") * F.col("s_nrm"))
         ).alias("cos"),
    )
    w_assign = Window.partitionBy("vec_id").orderBy(F.desc("cos"), F.asc("list_id"))
    ranked = pin(scored.withColumn("rn", F.row_number().over(w_assign)))
    assign = ranked.filter(F.col("rn") == 1).select(
        "vec_id", "embedding", "nrm", "list_id"
    )
    probes = (
        ranked.filter((F.col("vec_id") < 10) & (F.col("rn") <= N_PROBE))
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("q_emb"),
            F.col("nrm").alias("q_nrm"),
            F.col("list_id").alias("p_list"),
        )
    )
    pairs = assign.join(
        F.broadcast(probes),
        (F.col("list_id") == F.col("p_list"))
        & (F.col("vec_id") != F.col("query_id")),
    ).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        (_dot(F.col("q_emb"), F.col("embedding")) / (F.col("q_nrm") * F.col("nrm"))
         ).alias("cos"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        pairs.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select(
            "query_id",
            "neighbor_id",
            F.round(F.col("cos") - 1e-9, _R).alias("cosine"),
            "rnk",
        )
    )


@register(
    "dedup_embedding_cosine",
    oracle=f"""
    WITH sig AS ({_SIG_SQL}),
    pairs AS (
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
             {_dot_sql("a.embedding", "b.embedding")}
               / (sqrt({_dot_sql("a.embedding", "a.embedding")})
                  * sqrt({_dot_sql("b.embedding", "b.embedding")})) AS cos
      FROM sig a JOIN sig b
        ON a.signature = b.signature AND a.vec_id < b.vec_id
    )
    SELECT vec_a, vec_b, round(cos - 1e-9, {_R}) + 0.0 AS cosine
    FROM pairs WHERE cos >= 0.2
    """,
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs — the semantic-dedup
    member of the §2.K dedup family.  Candidates are blocked by LSH
    signature (equi-join on the bucket key, never an n² cross join),
    then verified with exact double-precision cosine ≥ threshold.
    The threshold is low on this synthetic corpus (random vectors
    cluster weakly); production semantic dedup runs ≥ 0.95 on real
    embeddings with the identical plan."""
    sig = pin(_signatures(spark, sf_dir))
    a, b = sig.alias("a"), sig.alias("b")
    cos = _dot(F.col("a.embedding"), F.col("b.embedding")) / (
        F.col("a.nrm") * F.col("b.nrm")
    )
    return (
        a.join(
            b,
            (F.col("a.signature") == F.col("b.signature"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            cos.alias("cos"),
        )
        .filter(F.col("cos") >= 0.2)
        .select("vec_a", "vec_b", F.round(F.col("cos") - 1e-9, _R).alias("cosine"))
    )


@register(
    "embedding_centroids",
    oracle=f"""
    WITH flat AS (
      SELECT label, generate_subscripts(embedding, 1) AS pos,
             CAST(unnest(embedding) AS DOUBLE) AS v
      FROM embeddings
    ), dims AS (
      SELECT label, pos, avg(v) AS m FROM flat GROUP BY label, pos
    )
    SELECT label,
           coalesce(array_to_string(
             list(CAST(CAST(round(m - 1e-9, {_R}) AS DECIMAL(18,{_R}))
                       AS VARCHAR) ORDER BY pos), ','), '') AS centroid,
           count(*) AS dim
    FROM dims GROUP BY label
    """,
)
def embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid: explode to (label, pos, value), mean per
    dimension, re-assemble ordered.  Shuffle key is (label, pos) —
    10×64 groups — so partial aggregation does nearly all the work
    map-side; the same plan at 100 TB moves only #groups rows.
    The centroid is emitted as a comma-joined fixed-4dp string (via
    DECIMAL so both engines format identically): the driver hashes
    through pandas, where raw array cells are unhashable."""
    e = load_table(spark, sf_dir, "embeddings")
    flat = e.select(
        "label", F.posexplode("embedding").alias("pos", "v")
    ).withColumn("v", F.col("v").cast("double"))
    dims = flat.groupBy("label", "pos").agg(F.avg("v").alias("m"))
    return dims.groupBy("label").agg(
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list(F.struct("pos", "m"))),
                lambda s: F.round(s.getField("m") - 1e-9, _R)
                .cast(f"decimal(18,{_R})")
                .cast("string"),
            ),
            ",",
        ).alias("centroid"),
        F.count("*").alias("dim"),
    )


@register(
    "embedding_centroid_distance",
    oracle=f"""
    WITH flat AS (
      SELECT label, generate_subscripts(embedding, 1) AS pos,
             CAST(unnest(embedding) AS DOUBLE) AS v
      FROM embeddings
    ), cent AS (
      SELECT label, list(m ORDER BY pos) AS centroid FROM (
        SELECT label, pos, avg(v) AS m FROM flat GROUP BY label, pos
      ) GROUP BY label
    )
    SELECT e.vec_id, e.label,
           round({_dot_sql("e.embedding", "c.centroid")}
                 / NULLIF(sqrt({_dot_sql("e.embedding", "e.embedding")})
                    * sqrt({_dot_sql("c.centroid", "c.centroid")}), 0) - 1e-9, {_R}) + 0.0
             AS cos_to_centroid
    FROM embeddings e JOIN cent c ON c.label = e.label
    """,
)
def embedding_centroid_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cosine of every vector to its own label centroid — the
    cluster-quality metric.  Centroids (10 rows) are broadcast; the
    corpus is never shuffled."""
    e = load_table(spark, sf_dir, "embeddings")
    flat = e.select(
        "label", F.posexplode("embedding").alias("pos", "v")
    ).withColumn("v", F.col("v").cast("double"))
    cent = (
        flat.groupBy("label", "pos")
        .agg(F.avg("v").alias("m"))
        .groupBy("label")
        .agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("pos", "m"))),
                lambda s: s.getField("m"),
            ).alias("centroid")
        )
    )
    j = e.join(F.broadcast(cent.withColumnRenamed("label", "c_label")),
               F.col("label") == F.col("c_label"))
    # cosine is UNDEFINED for a zero-norm vector or centroid (found
    # by the embeddings fuzz): NULL on both engines (CASE WHEN is
    # per-row lazy, so ANSI division never sees the zero), row kept
    # — this is a per-vector metric table, not a filter.
    denom = _norm(F.col("embedding")) * _norm(F.col("centroid"))
    cos = F.when(
        denom > 0, _dot(F.col("embedding"), F.col("centroid")) / denom
    )
    return j.select(
        "vec_id", "label", F.round(cos - 1e-9, _R).alias("cos_to_centroid")
    )


_SQDIST_SQL = """list_sum(list_transform(generate_series(1, len({a})),
    i -> (CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE))
       * (CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE))))"""


def _sqdist_sql(a: str, b: str) -> str:
    return _SQDIST_SQL.format(a=a, b=b)


def _sqdist(a, b):
    """Sequential double fold of squared differences (bit-stable:
    same element order on both engines, no partial-sum reordering)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") - y.cast("double")),
        F.lit(0.0),
        lambda acc, d: acc + d * d,
    )


@register(
    "kmeans_lloyd",
    oracle=f"""
    WITH seeds AS (
      SELECT vec_id AS cid, embedding AS cemb FROM embeddings WHERE vec_id < 4
    ),
    d1 AS (
      SELECT e.vec_id, e.embedding, s.cid,
             {_sqdist_sql("e.embedding", "s.cemb")} AS dist
      FROM embeddings e CROSS JOIN seeds s
    ),
    a1 AS (
      SELECT vec_id, embedding, cid FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id
                                     ORDER BY round(dist, 6), cid) AS rn
        FROM d1) WHERE rn = 1
    ),
    flat AS (
      SELECT cid, generate_subscripts(embedding, 1) AS pos,
             CAST(unnest(embedding) AS DOUBLE) AS v
      FROM a1
    ),
    cent AS (
      SELECT cid, list(m ORDER BY pos) AS cemb FROM (
        SELECT cid, pos, avg(v) AS m FROM flat GROUP BY cid, pos
      ) GROUP BY cid
    ),
    d2 AS (
      SELECT e.vec_id, c.cid,
             {_sqdist_sql("e.embedding", "c.cemb")} AS dist
      FROM embeddings e CROSS JOIN cent c
    ),
    a2 AS (
      SELECT vec_id, cid, dist FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id
                                     ORDER BY round(dist, 6), cid) AS rn
        FROM d2) WHERE rn = 1
    )
    SELECT cid AS cluster_id, count(*) AS n_members,
           round(avg(dist) - 1e-9, {_R}) + 0.0 AS avg_sqdist
    FROM a2 GROUP BY cid
    """,
)
def kmeans_lloyd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-means, two deterministic Lloyd rounds (k=4, seeds = first 4
    vectors): assign → recompute centroids (posexplode + per-dim avg,
    reassembled in pos order) → reassign; report cluster sizes and
    mean squared distance.  The iterative-ML shape on DataFrames:
    each round is a broadcast of k centroid rows against the corpus
    (never a corpus×corpus join) + one (cid, pos)-keyed partial agg,
    so a round costs one corpus scan and moves only k·dim rows —
    at 100 TB rounds are scans, centroids stay driver-sized, and
    more rounds = a driver loop over the same two stages (the
    fixpoint machinery is demonstrated in
    dedup_connected_components).  Fixed round count keeps the whole
    computation one declarative plan, which the recursive-free DuckDB
    oracle reproduces exactly — distances fold sequentially in
    element order on BOTH engines, so ranking ties cannot diverge;
    rank keys are rounded to 6 dp to absorb the avg()'s partial-sum
    reordering.

    r14: both assignment argmins are `min_by` over
    struct(round(dist, 6), cid) HASH aggregates instead of
    row_number windows — (rounded dist, cid) is unique per vector
    (cid is a key), so min_by picks exactly the window's rn = 1 row,
    but the n·k assignment rows now reduce map-side instead of
    being exchanged AND sorted per vector: the LPA r7 argmax
    rewrite, applied here.  Outputs row-identical at sf0.01/sf0.1;
    local timing a wash-to-slightly-better (interleaved best-of-4:
    1.148 → 0.987 s — the codegen'd distance fold dominates at this
    SF), the win is the removed data-sized sort at scale."""
    e = load_table(spark, sf_dir, "embeddings")
    seeds = e.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cemb")
    )
    d1 = e.crossJoin(F.broadcast(seeds)).select(
        "vec_id", "embedding", "cid",
        _sqdist(F.col("embedding"), F.col("cemb")).alias("dist"),
    )
    key = F.struct(
        F.round(F.col("dist"), 6).alias("k1"), F.col("cid").alias("k2")
    )
    a1 = (
        d1.groupBy("vec_id")
        .agg(F.min_by(F.struct("cid", "embedding"), key).alias("w"))
        .select(
            "vec_id",
            F.col("w.cid").alias("cid"),
            F.col("w.embedding").alias("embedding"),
        )
    )
    flat = a1.select(
        "cid", F.posexplode("embedding").alias("pos", "v")
    ).withColumn("v", F.col("v").cast("double"))
    cent = (
        flat.groupBy("cid", "pos")
        .agg(F.avg("v").alias("m"))
        .groupBy("cid")
        .agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("pos", "m"))),
                lambda s: s.getField("m"),
            ).alias("cemb")
        )
    )
    d2 = e.crossJoin(F.broadcast(cent)).select(
        "vec_id", "cid",
        _sqdist(F.col("embedding"), F.col("cemb")).alias("dist"),
    )
    a2 = (
        d2.groupBy("vec_id")
        .agg(F.min_by(F.struct("cid", "dist"), key).alias("w"))
        .select(
            "vec_id",
            F.col("w.cid").alias("cid"),
            F.col("w.dist").alias("dist"),
        )
    )
    return a2.groupBy(F.col("cid").alias("cluster_id")).agg(
        F.count("*").alias("n_members"),
        F.round(F.avg("dist") - 1e-9, _R).alias("avg_sqdist"),
    )


@register(
    "embedding_quantize_int8",
    oracle=f"""
    WITH v AS (
      SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e,
             CAST(list_min(embedding) AS DOUBLE) AS lo,
             CAST(list_max(embedding) AS DOUBLE) AS hi
      FROM embeddings
    ),
    s AS (
      SELECT vec_id, e, lo,
             greatest((hi - lo) / 255, 1e-12) AS scale
      FROM v
    )
    SELECT vec_id,
           round(lo - 1e-9, {_R}) + 0.0 AS lo,
           round(scale - 1e-9, {_R}) + 0.0 AS scale,
           coalesce(array_to_string(list_transform(e,
             x -> CAST(CAST(floor((x - lo) / scale + 0.5) AS INT) AS VARCHAR)),
             ','), '') AS q,
           round(list_sum(list_transform(e,
                   x -> abs(lo + floor((x - lo) / scale + 0.5) * scale - x)))
                 / len(e) - 1e-9, {_R}) + 0.0 AS mae
    FROM s
    """,
)
def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector affine int8 quantization (min/max calibration) with
    reconstruction error — the 4× compression step before shipping an
    ANN corpus to serving.  All array HOFs in codegen; floor(x+0.5)
    instead of round() because the engines disagree on half-even vs
    half-up exactly at the quantization grid points.  Narrow op:
    nothing shuffles."""
    e = load_table(spark, sf_dir, "embeddings")
    ed = F.transform("embedding", lambda x: x.cast("double"))
    # Internal names (__lo/__scale) must differ from the rounded
    # output aliases: Spark 4 resolves lateral column aliases within
    # a select list, so naming an output "lo" would make the q/mae
    # lambdas silently read the 4-dp ROUNDED value (caught by the
    # oracle diff — DuckDB prefers the base column).
    v = e.select(
        "vec_id",
        ed.alias("e"),
        F.array_min(ed).alias("__lo"),
        F.array_max(ed).alias("__hi"),
    ).withColumn(
        "__scale", F.greatest((F.col("__hi") - F.col("__lo")) / 255, F.lit(1e-12))
    )
    lo, sc = F.col("__lo"), F.col("__scale")

    def qz(x):
        return F.floor((x - lo) / sc + 0.5)

    return v.select(
        "vec_id",
        F.round(lo - 1e-9, _R).alias("lo"),
        F.round(sc - 1e-9, _R).alias("scale"),
        F.array_join(
            F.transform("e", lambda x: qz(x).cast("int").cast("string")), ","
        ).alias("q"),
        F.round(
            F.aggregate(
                F.transform("e", lambda x: F.abs(lo + qz(x) * sc - x)),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            / F.size("e")
            - 1e-9,
            _R,
        ).alias("mae"),
    )


@register(
    "embedding_pca_power",
    oracle=f"""
    WITH mu AS (
      SELECT list(m ORDER BY pos) AS mu FROM (
        SELECT pos, avg(v) AS m FROM (
          SELECT generate_subscripts(embedding, 1) AS pos,
                 CAST(unnest(embedding) AS DOUBLE) AS v
          FROM embeddings) GROUP BY pos)
    ), cent AS (
      SELECT vec_id,
             list_transform(generate_series(1, len(embedding)),
                            i -> CAST(embedding[i] AS DOUBLE) - mu[i]) AS c
      FROM embeddings, mu
    ), s1 AS (
      SELECT vec_id, c, 0.125 * list_sum(c) AS s FROM cent
    ), w1d AS (
      SELECT pos, sum(cv * s) AS w FROM (
        SELECT generate_subscripts(c, 1) AS pos, unnest(c) AS cv, s
        FROM s1) GROUP BY pos
    ), v1n AS (
      SELECT list_transform(w1,
               x -> x / sqrt(list_sum(list_transform(w1, y -> y * y)))) AS v1
      FROM (SELECT list(w ORDER BY pos) AS w1 FROM w1d)
    ), s2 AS (
      SELECT vec_id, c,
             list_sum(list_transform(generate_series(1, len(c)),
                                     i -> c[i] * v1[i])) AS s
      FROM cent, v1n
    ), w2d AS (
      SELECT pos, sum(cv * s) AS w FROM (
        SELECT generate_subscripts(c, 1) AS pos, unnest(c) AS cv, s
        FROM s2) GROUP BY pos
    ), fin AS (
      SELECT v1, w2,
             sqrt(list_sum(list_transform(w2, x -> x * x))) AS nrm,
             list_sum(list_transform(generate_series(1, len(w2)),
                                     i -> v1[i] * w2[i])) AS lam,
             CASE WHEN w2[1] < 0 THEN -1.0 ELSE 1.0 END AS sgn
      FROM v1n, (SELECT list(w ORDER BY pos) AS w2 FROM w2d)
    )
    SELECT pos,
           round((sgn * wv / nrm) - 1e-9, {_R}) + 0.0 AS loading,
           round(lam - 1e-9, {_R}) + 0.0 AS eig_scatter
    FROM (SELECT generate_subscripts(w2, 1) AS pos, unnest(w2) AS wv,
                 nrm, lam, sgn
          FROM fin)
    """,
)
def embedding_pca_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal component of the embedding corpus by two unrolled
    power-iteration steps over the mean-centered data — distributed
    PCA with NO driver-side loop, no collect, and no d x d covariance
    matrix ever materialized.  Each matrix-vector product A^T(A v) is:
    a per-row dot against the broadcast direction (narrow), then a
    64-group tree aggregate of c[d]*s by dimension — the corpus is
    scanned, never shuffled; only #dims rows move per iteration, so
    the same plan holds at 100 TB.  Start vector is uniform 1/8
    (deterministic); sign is fixed by the first loading; `eig_scatter`
    is the Rayleigh quotient v1.(A^T A v1) — the scatter-matrix
    eigenvalue, i.e. (n-1) x variance along the PC.  Output: one row
    per dimension (1-based pos to match SQL subscripts)."""
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("x")
    )
    ordered = lambda pairs: F.transform(  # noqa: E731 — (pos,val) structs -> ordered array
        F.sort_array(pairs), lambda s: s.getField("m")
    )
    mu = (
        e.select(F.posexplode("x").alias("pos", "v"))
        .groupBy("pos")
        .agg(F.avg("v").alias("m"))
        .groupBy()
        .agg(ordered(F.collect_list(F.struct("pos", "m"))).alias("mu"))
    )
    c = e.crossJoin(F.broadcast(mu)).select(
        "vec_id", F.zip_with("x", "mu", lambda a, b: a - b).alias("c")
    )
    # iteration 1: v0 uniform => dot(c, v0) = 0.125 * sum(c)
    s1 = c.withColumn(
        "s", F.lit(0.125) * F.aggregate("c", F.lit(0.0), lambda acc, v: acc + v)
    )
    w1 = (
        s1.select(F.posexplode("c").alias("pos", "cv"), "s")
        .groupBy("pos")
        .agg(F.sum(F.col("cv") * F.col("s")).alias("m"))
        .groupBy()
        .agg(ordered(F.collect_list(F.struct("pos", "m"))).alias("w1"))
    )
    v1 = w1.select(
        F.transform("w1", lambda x: x / _norm(F.col("w1"))).alias("v1")
    )
    # iteration 2 against the normalized direction
    s2 = c.crossJoin(F.broadcast(v1)).withColumn("s", _dot(F.col("c"), F.col("v1")))
    w2 = (
        s2.select(F.posexplode("c").alias("pos", "cv"), "s")
        .groupBy("pos")
        .agg(F.sum(F.col("cv") * F.col("s")).alias("m"))
        .groupBy()
        .agg(ordered(F.collect_list(F.struct("pos", "m"))).alias("w2"))
    )
    fin = v1.crossJoin(F.broadcast(w2)).select(
        "w2",
        _norm(F.col("w2")).alias("nrm"),
        _dot(F.col("v1"), F.col("w2")).alias("lam"),
        F.when(F.element_at("w2", 1) < 0, F.lit(-1.0)).otherwise(F.lit(1.0)).alias("sgn"),
    )
    return fin.select(
        F.posexplode("w2").alias("pos0", "wv"), "nrm", "lam", "sgn"
    ).select(
        (F.col("pos0") + 1).alias("pos"),
        F.round(F.col("sgn") * F.col("wv") / F.col("nrm") - 1e-9, _R).alias("loading"),
        F.round(F.col("lam") - 1e-9, _R).alias("eig_scatter"),
    )


@register(
    "embedding_dim_stats",
    oracle=f"""
    SELECT pos,
           round((avg(v)) - 1e-9, {_R}) + 0.0         AS dim_mean,
           round((stddev_samp(v)) - 1e-9, {_R}) + 0.0 AS dim_std,
           round((min(v)) - 1e-9, {_R}) + 0.0         AS dim_min,
           round((max(v)) - 1e-9, {_R}) + 0.0         AS dim_max,
           count(*)                                   AS n
    FROM (
      SELECT generate_subscripts(embedding, 1) AS pos,
             CAST(unnest(embedding) AS DOUBLE) AS v
      FROM embeddings
    ) GROUP BY pos
    """,
)
def embedding_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension embedding health check (mean/std/min/max): dead
    dimensions (std~0), mean drift, and range blowups are the
    standard corpus-embedding diagnostics before any similarity or
    clustering work.  posexplode -> 64-group hash aggregate: partials
    do the work map-side, the exchange carries #dims rows per
    partition — corpus-size-independent, like every stats pass in
    this module (1-based pos to match SQL subscripts)."""
    e = load_table(spark, sf_dir, "embeddings")
    flat = e.select(F.posexplode("embedding").alias("pos0", "vf")).select(
        (F.col("pos0") + 1).alias("pos"), F.col("vf").cast("double").alias("v")
    )
    return flat.groupBy("pos").agg(
        F.round(F.avg("v") - 1e-9, _R).alias("dim_mean"),
        F.round(F.stddev_samp("v") - 1e-9, _R).alias("dim_std"),
        F.round(F.min("v") - 1e-9, _R).alias("dim_min"),
        F.round(F.max("v") - 1e-9, _R).alias("dim_max"),
        F.count("*").alias("n"),
    )


_SEMDEDUP_K = 16  # coarse clusters
_SEMDEDUP_T = 0.35  # cosine threshold: the fixture corpus has no
# planted near-identical embeddings (max pairwise cosine ~0.48), so
# the threshold sits inside the corpus's natural similarity range to
# keep the full keep/drop path exercised; a production run sets ~0.95.

@register(
    "dedup_semantic_embedding",
    oracle=f"""
    WITH nz AS (
      SELECT vec_id, embedding FROM embeddings
      WHERE {_dot_sql("embedding", "embedding")} > 0
    ),
    seeds AS (
      SELECT vec_id AS cid, embedding AS seed
      FROM nz ORDER BY vec_id LIMIT {_SEMDEDUP_K}
    ),
    scored AS (
      SELECT e.vec_id, e.embedding, s.cid,
             {_dot_sql("e.embedding", "s.seed")}
               / (sqrt({_dot_sql("e.embedding", "e.embedding")})
                  * sqrt({_dot_sql("s.seed", "s.seed")})) AS cos
      FROM nz e CROSS JOIN seeds s
    ),
    assign AS (
      SELECT vec_id, embedding, cid FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id
                                     ORDER BY cos DESC, cid) AS rn
        FROM scored) WHERE rn = 1
    ),
    pairs AS (
      SELECT a.vec_id AS va, b.vec_id AS vb
      FROM assign a JOIN assign b
        ON a.cid = b.cid AND a.vec_id < b.vec_id
      WHERE {_dot_sql("a.embedding", "b.embedding")}
            / (sqrt({_dot_sql("a.embedding", "a.embedding")})
               * sqrt({_dot_sql("b.embedding", "b.embedding")}))
            >= {_SEMDEDUP_T}
    ),
    nb AS (
      SELECT va AS vec_id, vb AS nb FROM pairs
      UNION ALL SELECT vb, va FROM pairs
    ),
    agg AS (
      SELECT vec_id, count(*) AS n_near, min(nb) AS min_nb
      FROM nb GROUP BY vec_id
    )
    SELECT a.vec_id, a.cid,
           CAST(coalesce(g.n_near, 0) AS BIGINT) AS n_near,
           CASE WHEN g.min_nb IS NOT NULL AND g.min_nb < a.vec_id
                THEN 'drop' ELSE 'keep' END AS status
    FROM assign a LEFT JOIN agg g ON g.vec_id = a.vec_id
    """,
)
def dedup_semantic_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic deduplication: coarsely cluster the
    corpus (nearest of _SEMDEDUP_K deterministic seed vectors), then
    compare embeddings PAIRWISE ONLY WITHIN a cluster and drop every
    vector that has a lower-id in-cluster neighbor above the cosine
    threshold — one-hop dominance, matching the published recipe
    (cluster → intra-cluster cosine → keep one representative),
    which needs no transitive closure to be deterministic.

    Scale shape: the seed table is k rows and broadcasts; assignment
    is one narrow pass over the corpus; the pairwise stage self-joins
    on cid so its cost is sum of squared CLUSTER sizes, never n² —
    exactly why SemDeDup clusters first, and why k must grow with the
    corpus (k ∝ n keeps clusters O(1)).  The keep/drop verdict is a
    per-vector aggregate over the qualifying-pair list (count + min
    neighbor), one partial-agg shuffle.  Cosines fold sequentially in
    element order on both engines (same guarantee as kmeans_lloyd),
    so the differential check is exact.  ZERO-NORM vectors are
    excluded at entry on both engines (found by the embeddings
    fuzz): they cannot be semantically compared — cosine is
    undefined, and under ANSI the division throws — so they are
    trivially 'keep' upstream, never candidates or seeds here."""
    e = (
        load_table(spark, sf_dir, "embeddings")
        .withColumn("nrm", _norm(F.col("embedding")))
        .filter(F.col("nrm") > 0)
    )
    seeds = (
        e.orderBy("vec_id")
        .limit(_SEMDEDUP_K)
        .select(
            F.col("vec_id").alias("cid"),
            F.col("embedding").alias("seed"),
            F.col("nrm").alias("s_nrm"),
        )
    )
    scored = e.crossJoin(F.broadcast(seeds)).select(
        "vec_id", "embedding", "nrm", "cid",
        (
            _dot(F.col("embedding"), F.col("seed"))
            / (F.col("nrm") * F.col("s_nrm"))
        ).alias("cos"),
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("cos"), F.asc("cid"))
    assign = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", "embedding", "nrm", "cid")
    )
    a = assign.alias("a")
    b = assign.alias("b")
    pair_cos = _dot(F.col("a.embedding"), F.col("b.embedding")) / (
        F.col("a.nrm") * F.col("b.nrm")
    )
    pairs = (
        a.join(
            b,
            (F.col("a.cid") == F.col("b.cid"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .filter(pair_cos >= _SEMDEDUP_T)
        .select(
            F.col("a.vec_id").alias("va"), F.col("b.vec_id").alias("vb")
        )
    )
    nb = pairs.select(F.col("va").alias("vec_id"), F.col("vb").alias("nb")
                      ).unionByName(
        pairs.select(F.col("vb").alias("vec_id"), F.col("va").alias("nb"))
    )
    agg = nb.groupBy("vec_id").agg(
        F.count("*").alias("n_near"), F.min("nb").alias("min_nb")
    )
    return assign.select("vec_id", "cid").join(agg, "vec_id", "left").select(
        "vec_id",
        "cid",
        F.coalesce(F.col("n_near"), F.lit(0)).alias("n_near"),
        F.when(
            F.col("min_nb").isNotNull() & (F.col("min_nb") < F.col("vec_id")),
            F.lit("drop"),
        )
        .otherwise(F.lit("keep"))
        .alias("status"),
    )


_MAT_DIMS = 16  # truncated prefix dims (Matryoshka-style)
_MAT_K = 3


def _dot_sql_trunc(a: str, b: str, d: int) -> str:
    return (
        f"list_sum(list_transform(generate_series(1, {d}),"
        f" i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)))"
    )


@register(
    "embedding_matryoshka_recall",
    oracle=f"""
    WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 10),
    full_rank AS (
      SELECT query_id, neighbor_id, rnk FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               row_number() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY round({_dot_sql("q.embedding", "c.embedding")}
                   / (sqrt({_dot_sql("q.embedding", "q.embedding")})
                      * sqrt({_dot_sql("c.embedding", "c.embedding")})), 6)
                   DESC, c.vec_id) AS rnk
        FROM q JOIN embeddings c ON c.vec_id != q.vec_id
        WHERE {_dot_sql("q.embedding", "q.embedding")} > 0
          AND {_dot_sql("c.embedding", "c.embedding")} > 0)
      WHERE rnk <= {_MAT_K}
    ),
    trunc_rank AS (
      SELECT query_id, neighbor_id FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               row_number() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY round(
                   {_dot_sql_trunc("q.embedding", "c.embedding", _MAT_DIMS)}
                   / (sqrt({_dot_sql_trunc("q.embedding", "q.embedding", _MAT_DIMS)})
                      * sqrt({_dot_sql_trunc("c.embedding", "c.embedding", _MAT_DIMS)})),
                   6) DESC, c.vec_id) AS rnk
        FROM q JOIN embeddings c ON c.vec_id != q.vec_id
        WHERE {_dot_sql_trunc("q.embedding", "q.embedding", _MAT_DIMS)} > 0
          AND {_dot_sql_trunc("c.embedding", "c.embedding", _MAT_DIMS)} > 0)
      WHERE rnk <= {_MAT_K}
    )
    SELECT f.query_id,
           CAST(count(t.neighbor_id) AS BIGINT) AS n_kept,
           round(CAST(count(t.neighbor_id) AS DOUBLE) / {_MAT_K} - 1e-9, 4)
             + 0.0 AS recall_at_k
    FROM full_rank f
    LEFT JOIN trunc_rank t
      ON t.query_id = f.query_id AND t.neighbor_id = f.neighbor_id
    GROUP BY f.query_id
    """,
)
def embedding_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-truncation quality evaluation: how much of each
    query's exact top-k survives when cosine runs on only the first
    16 of 64 dimensions — the measurement that decides whether a
    cheap truncated index can serve first-stage retrieval (the
    MRL-style accuracy/cost dial).  Both rankings run the same
    broadcast-queries-vs-corpus pass (corpus never shuffles); the
    truncated side slices the array before the fold so it does 1/4
    of the multiply-adds; recall@k per query is one small join of
    two k-row-per-query rank tables.  Rankings order by
    round(cos, 6) with id tie-break in both engines, the repo's
    float-rank-stability convention."""
    e = load_table(spark, sf_dir, "embeddings")

    def topk(dims: int | None) -> DataFrame:
        emb = F.col("embedding") if dims is None else F.slice("embedding", 1, dims)
        # zero-norm SLICES are excluded per ranking (a nonzero
        # vector can still have an all-zero prefix): undefined
        # cosine, ANSI division throws — embeddings-fuzz finding
        base = (
            e.select("vec_id", emb.alias("v"))
            .withColumn("nrm", _norm(F.col("v")))
            .filter(F.col("nrm") > 0)
        )
        q = base.filter(F.col("vec_id") < 10).select(
            F.col("vec_id").alias("query_id"),
            F.col("v").alias("qv"),
            F.col("nrm").alias("qn"),
        )
        pairs = base.crossJoin(F.broadcast(q)).filter(
            F.col("vec_id") != F.col("query_id")
        )
        cos = _dot(F.col("qv"), F.col("v")) / (F.col("qn") * F.col("nrm"))
        w = Window.partitionBy("query_id").orderBy(
            F.desc(F.round(cos, 6)), F.asc("vec_id")
        )
        return (
            pairs.withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") <= _MAT_K)
            .select("query_id", F.col("vec_id").alias("neighbor_id"))
        )

    full = topk(None)
    trunc = topk(_MAT_DIMS).withColumnRenamed("neighbor_id", "t_neighbor")
    j = full.join(
        trunc,
        (full["query_id"] == trunc["query_id"])
        & (full["neighbor_id"] == trunc["t_neighbor"]),
        "left",
    )
    return j.groupBy(full["query_id"].alias("query_id")).agg(
        F.count("t_neighbor").alias("n_kept"),
        (
            F.round(
                F.count("t_neighbor").cast("double") / _MAT_K - 1e-9, 4
            )
            + F.lit(0.0)
        ).alias("recall_at_k"),
    )


_SB_TOP_K = 5

# sign-bit word: dims lo..lo+31 (1-based) packed little-endian into a
# 32-bit value carried as BIGINT.  DuckDB arrays are 1-based;
# the Spark twin indexes embedding[i-1].
_SB_WORD_SQL = """CAST(list_sum(list_transform(generate_series({lo}, {hi}),
    i -> CASE WHEN embedding[i] > 0
              THEN (CAST(1 AS BIGINT) << (i - {lo})) ELSE 0 END)) AS BIGINT)"""


@register(
    "embedding_signbit_hamming",
    oracle=f"""
    WITH sk AS (
      SELECT vec_id,
             {_SB_WORD_SQL.format(lo=1, hi=32)} AS w0,
             {_SB_WORD_SQL.format(lo=33, hi=64)} AS w1
      FROM embeddings
    ),
    q AS (SELECT * FROM sk WHERE vec_id < 10),
    pairs AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             CAST(bit_count(xor(q.w0, c.w0))
                  + bit_count(xor(q.w1, c.w1)) AS BIGINT) AS hamming
      FROM q JOIN sk c ON c.vec_id != q.vec_id
    )
    SELECT query_id, neighbor_id, hamming, rnk
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY hamming, neighbor_id) AS rnk
          FROM pairs)
    WHERE rnk <= {_SB_TOP_K}
    """,
)
def embedding_signbit_hamming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary sign sketch + Hamming top-k — the 1-bit-per-dimension
    quantization (the simplest of the SimHash/RaBitQ family): each
    64-dim float vector collapses to 64 sign bits packed into two
    32-bit words, and neighbor shortlists rank by Hamming distance
    (XOR + popcount, pure codegen integer ops).  Sign-bit Hamming is
    a monotone estimator of angular distance, so this is the
    SHORTLIST stage of two-stage retrieval — 32× less data scanned
    than the float vectors (8 B vs 256 B per vector at 100 TB), with
    `ann_cosine_topk` as the exact re-rank stage on the survivors.
    The sketch build is one narrow projection; the query set (10
    rows) broadcasts, so scoring is a single corpus pass with a
    per-query top-k window — no corpus shuffle.  Packing uses two
    32-bit words in BIGINTs rather than one 64-bit word because a
    1<<63 literal overflows DuckDB's checked BIGINT while Spark
    wraps — the two-word form is exact on both engines.

    Measured two-stage economics (tools/probe_signbit.py, 400k
    clustered vectors, local[32]): shortlist-500 + exact re-rank
    2.46 s vs 5.48 s full brute force (2.2x), recall@5 0.60 — the
    recall ceiling is the 1-bit/dim resolution, so this stage feeds
    a re-rank (ann_cosine_topk shape) or steps up to int8
    (embedding_quantize_int8) when recall must be near-exact."""

    def word(lo: int):
        # Spark arrays are 0-based: dim i (1-based) is embedding[i-1]
        return F.expr(
            f"aggregate(sequence({lo}, {lo + 31}), 0L, (acc, i) -> "
            f"acc + IF(embedding[i-1] > 0, shiftleft(1L, i - {lo}), 0L))"
        )

    e = load_table(spark, sf_dir, "embeddings")
    sk = e.select("vec_id", word(1).alias("w0"), word(33).alias("w1"))
    q = sk.select(
        F.col("vec_id").alias("query_id"),
        F.col("w0").alias("q0"),
        F.col("w1").alias("q1"),
    ).filter(F.col("query_id") < 10)
    ham = (
        F.bit_count(F.col("q0").bitwiseXOR(F.col("w0")))
        + F.bit_count(F.col("q1").bitwiseXOR(F.col("w1")))
    ).cast("long")
    pairs = sk.join(
        F.broadcast(q), F.col("vec_id") != F.col("query_id")
    ).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        ham.alias("hamming"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.asc("hamming"), F.asc("neighbor_id")
    )
    return (
        pairs.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= _SB_TOP_K)
        .select("query_id", "neighbor_id", "hamming", "rnk")
    )


@register(
    "ann_lsh_multiprobe",
    oracle=f"""
    WITH sig AS ({_SIG_SQL}),
    probes AS (
      SELECT vec_id AS query_id, embedding AS q_emb,
             unnest(list_prepend(signature,
               list_transform(generate_series(0, {N_PLANES - 1}),
                 p -> xor(signature, CAST(power(2.0, p) AS BIGINT)))))
               AS probe_sig
      FROM sig WHERE vec_id < 20
    ),
    pairs AS (
      SELECT probes.query_id, c.vec_id AS neighbor_id,
             {_dot_sql("probes.q_emb", "c.embedding")}
               / (sqrt({_dot_sql("probes.q_emb", "probes.q_emb")})
                  * sqrt({_dot_sql("c.embedding", "c.embedding")})) AS cos
      FROM probes JOIN sig c
        ON c.signature = probes.probe_sig
       AND c.vec_id != probes.query_id
    )
    SELECT query_id, neighbor_id,
           round(cos - 1e-9, {_R}) + 0.0 AS cosine, rnk
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY cos DESC, neighbor_id) AS rnk
          FROM pairs)
    WHERE rnk <= 3
    """,
)
def ann_lsh_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiprobe LSH — `ann_lsh_probe` with the classic recall fix
    (Lv et al.): each query probes its own bucket PLUS the
    {N_PLANES} Hamming-1 buckets (one sign bit flipped), because a
    near neighbor most often lands one plane's flip away.  The
    probe fan-out is a {N_PLANES + 1}-row explode per query — still
    an equi-join on the bucket key, never a distance scan — and
    each candidate matches at most one probe key (bucket keys are
    unique per vector), so no dedup pass is needed before the exact
    cosine re-rank.  This is THE standard trade at scale: ~17x more
    candidate buckets per query for recall that single-bucket LSH
    cannot reach on high-dimensional data (measured in
    tests/test_recall.py against the same exact-cosine truth), at a
    cost that stays proportional to bucket occupancy, not corpus
    size."""
    sig = pin(_signatures(spark, sf_dir))
    q = sig.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("signature").alias("q_sig"),
        F.col("nrm").alias("q_nrm"),
    )
    flips = F.transform(
        F.sequence(F.lit(0), F.lit(N_PLANES - 1)),
        lambda p: F.col("q_sig").bitwiseXOR(
            F.pow(F.lit(2.0), p).cast("long")
        ),
    )
    probes = q.select(
        "query_id",
        "q_emb",
        "q_nrm",
        F.explode(
            F.concat(F.array(F.col("q_sig")), flips)
        ).alias("probe_sig"),
    )
    pairs = sig.join(
        F.broadcast(probes),
        (F.col("signature") == F.col("probe_sig"))
        & (F.col("vec_id") != F.col("query_id")),
    ).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        (
            _dot(F.col("q_emb"), F.col("embedding"))
            / (F.col("q_nrm") * F.col("nrm"))
        ).alias("cos"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos"), F.asc("neighbor_id")
    )
    return (
        pairs.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select(
            "query_id",
            "neighbor_id",
            F.round(F.col("cos") - 1e-9, _R).alias("cosine"),
            "rnk",
        )
    )


_PQ_M = 4        # subspaces
_PQ_SUBDIM = 16  # dims per subspace (4 x 16 = the 64-dim fixture)
_PQ_K = 4        # codes per subspace (seeds = first K vectors)


# Shared PQ pipeline CTEs (subspace split -> seed assignment ->
# centroid recompute -> reassignment); used by the codebook census
# and the ADC search oracle below.
_PQ_CTES_SQL = f"""
    ms AS (SELECT unnest(generate_series(0, {_PQ_M - 1})) AS m),
    subs AS (
      SELECT e.vec_id, ms.m,
             list_slice(e.embedding, ms.m * {_PQ_SUBDIM} + 1,
                        (ms.m + 1) * {_PQ_SUBDIM}) AS sub
      FROM embeddings e CROSS JOIN ms
    ),
    seeds AS (
      SELECT vec_id AS code, m, sub AS csub FROM subs
      WHERE vec_id < {_PQ_K}
    ),
    d1 AS (
      SELECT s.vec_id, s.m, s.sub, c.code,
             {_sqdist_sql("s.sub", "c.csub")} AS dist
      FROM subs s JOIN seeds c ON s.m = c.m
    ),
    a1 AS (
      SELECT vec_id, m, sub, code FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id, m
                   ORDER BY round(dist, 6), code) AS rn
        FROM d1) WHERE rn = 1
    ),
    flat AS (
      SELECT m, code, generate_subscripts(sub, 1) AS pos,
             CAST(unnest(sub) AS DOUBLE) AS v
      FROM a1
    ),
    cent AS (
      SELECT m, code, list(mv ORDER BY pos) AS csub FROM (
        SELECT m, code, pos, avg(v) AS mv FROM flat GROUP BY m, code, pos
      ) GROUP BY m, code
    ),
    d2 AS (
      SELECT s.vec_id, s.m, c.code,
             {_sqdist_sql("s.sub", "c.csub")} AS dist
      FROM subs s JOIN cent c ON s.m = c.m
    ),
    a2 AS (
      SELECT vec_id, m, code, dist FROM (
        SELECT *, row_number() OVER (PARTITION BY vec_id, m
                   ORDER BY round(dist, 6), code) AS rn
        FROM d2) WHERE rn = 1
    )"""


def _pq_subspaces(df: DataFrame) -> DataFrame:
    """Split each embedding into the _PQ_M x _PQ_SUBDIM subvectors —
    a projection (array slices packed then exploded M ways), never a
    per-dimension explode of the corpus."""
    pieces = F.array(*[
        F.struct(
            F.lit(m).cast("long").alias("m"),
            F.slice("embedding", m * _PQ_SUBDIM + 1, _PQ_SUBDIM)
            .alias("sub"),
        )
        for m in range(_PQ_M)
    ])
    return df.select("vec_id", F.explode(pieces).alias("s")).select(
        "vec_id", F.col("s.m").alias("m"), F.col("s.sub").alias("sub")
    )


def _pq_train(e: DataFrame) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The PQ training pipeline shared by the index-build census
    (embedding_pq_codebook) and the ADC search (ann_pq_adc_topk), so
    the trained index cannot drift between the two queries (the
    oracle side already shares _PQ_CTES_SQL).

    Returns (subs, cent, assign): the subspace split of the corpus,
    the trained per-subspace centroids after one Lloyd refinement
    from the first-_PQ_K-vector seeds, and the final assignment
    (vec_id, m, code, dist).  Every join broadcasts the
    codebook-sized side; each Lloyd round costs one corpus scan plus
    a (m, code, pos) partial agg of codebook cardinality.

    r14: both assignment argmins are `min_by` over
    struct(round(dist, 6), code) HASH aggregates instead of
    row_number windows — (rounded dist, code) is unique per
    (vec_id, m) group (code is a key), so min_by picks exactly the
    window's rn = 1 row while the n·M·K assignment rows reduce
    map-side instead of being exchanged and sorted per subvector
    (the kmeans_lloyd r14 rewrite, applied to both its PQ
    consumers)."""
    subs = _pq_subspaces(e)
    seeds = _pq_subspaces(e.filter(F.col("vec_id") < _PQ_K)).select(
        F.col("vec_id").alias("code"), "m", F.col("sub").alias("csub")
    )
    key = F.struct(
        F.round(F.col("dist"), 6).alias("k1"), F.col("code").alias("k2")
    )
    d1 = subs.join(F.broadcast(seeds), "m").select(
        "vec_id", "m", "sub", "code",
        _sqdist(F.col("sub"), F.col("csub")).alias("dist"),
    )
    a1 = (
        d1.groupBy("vec_id", "m")
        .agg(F.min_by(F.struct("sub", "code"), key).alias("w"))
        .select(
            "vec_id", "m",
            F.col("w.sub").alias("sub"),
            F.col("w.code").alias("code"),
        )
    )
    cent = (
        a1.select("m", "code", F.posexplode("sub").alias("pos", "v"))
        .withColumn("v", F.col("v").cast("double"))
        .groupBy("m", "code", "pos")
        .agg(F.avg("v").alias("mv"))
        .groupBy("m", "code")
        .agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("pos", "mv"))),
                lambda s: s.getField("mv"),
            ).alias("csub")
        )
    )
    assign = (
        subs.join(F.broadcast(cent), "m")
        .select(
            "vec_id", "m", "code",
            _sqdist(F.col("sub"), F.col("csub")).alias("dist"),
        )
        .groupBy("vec_id", "m")
        .agg(F.min_by(F.struct("code", "dist"), key).alias("w"))
        .select(
            "vec_id", "m",
            F.col("w.code").alias("code"),
            F.col("w.dist").alias("dist"),
        )
    )
    return subs, cent, assign


@register(
    "embedding_pq_codebook",
    oracle=f"""
    WITH {_PQ_CTES_SQL}
    SELECT m AS subspace, code, count(*) AS n_members,
           round(avg(dist) - 1e-9, {_R}) + 0.0 AS avg_sqdist
    FROM a2 GROUP BY m, code ORDER BY subspace, code
    """,
)
def embedding_pq_codebook(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization codebook training — the PQ half of
    IVF-PQ, the index structure that makes billion-vector ANN
    feasible: split every embedding into {_PQ_M} independent
    {_PQ_SUBDIM}-dim subvectors, train a tiny per-subspace codebook
    ({_PQ_K} codes, seeds = the first {_PQ_K} vectors' subvectors,
    one Lloyd refinement exactly like kmeans_lloyd), and re-assign;
    a vector then compresses to {_PQ_M} single-byte codes
    (64 floats -> 4 bytes here) and distances evaluate by codebook
    lookup.  Reports the trained codebook census: members and mean
    quantization error per (subspace, code).

    Scale shape: the subspace split is a projection (slice), never a
    per-dimension explode of the corpus; assignment broadcasts the
    {_PQ_M}x{_PQ_K}-row codebook and joins on the subspace key, so
    each Lloyd round costs one corpus scan plus a (m, code, pos)
    partial agg whose cardinality is codebook-sized.  Exactly the
    kmeans_lloyd contract per subspace — at 100 TB rounds are scans
    and the codebook stays driver-sized (tools/probe_pq.py: 400k
    vectors train in 14.7 s = 3.3x the 100k cost for 4x the data,
    scan-bound; one Lloyd pass halves the seed quantization error;
    256 B -> 4 B per vector).  Distances fold
    sequentially in element order on both engines and rank keys
    round to 6 dp, so assignment ties cannot diverge; code ties
    break on the lower code id."""
    e = load_table(spark, sf_dir, "embeddings")
    _subs, _cent, assign = _pq_train(e)
    return (
        assign.groupBy(F.col("m").alias("subspace"), F.col("code"))
        .agg(
            F.count("*").alias("n_members"),
            (F.round(F.avg("dist") - 1e-9, _R) + 0.0).alias("avg_sqdist"),
        )
        .orderBy("subspace", "code")
    )


_ADC_Q = 3      # query vectors (vec_id < Q)
_ADC_TOP = 5    # neighbors reported per query


@register(
    "ann_pq_adc_topk",
    oracle=f"""
    WITH {_PQ_CTES_SQL},
    qs AS (
      SELECT vec_id AS query_id, m, sub AS qsub FROM subs
      WHERE vec_id < {_ADC_Q}
    ),
    lut AS (
      SELECT q.query_id, c.m, c.code,
             {_sqdist_sql("q.qsub", "c.csub")} AS pd
      FROM qs q JOIN cent c ON c.m = q.m
    ),
    sc AS (
      SELECT l.query_id, a.vec_id AS candidate_id, sum(l.pd) AS adc
      FROM a2 a JOIN lut l ON l.m = a.m AND l.code = a.code
      WHERE a.vec_id >= {_ADC_Q}
      GROUP BY l.query_id, a.vec_id
    ),
    ranked AS (
      SELECT query_id, candidate_id, adc,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY round(adc, 6), candidate_id)
               AS rnk
      FROM sc
    )
    SELECT query_id, candidate_id,
           round(adc - 1e-9, {_R}) + 0.0 AS adc_sqdist,
           CAST(rnk AS BIGINT) AS rnk
    FROM ranked WHERE rnk <= {_ADC_TOP}
    ORDER BY query_id, rnk
    """,
)
def ann_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADC top-k search over PQ codes — the QUERY half of IVF-PQ
    (embedding_pq_codebook trains the index, this searches it):
    each query precomputes a {_PQ_M}x{_PQ_K} lookup table of
    subspace distances to the trained centroids, and a candidate's
    asymmetric distance is just the SUM of {_PQ_M} table lookups on
    its codes — the float corpus is never touched at query time.
    Reports the top-{_ADC_TOP} candidates per query (queries
    excluded from the candidate pool).

    Scale shape: the billion-vector economics of PQ search — the
    scan side is the CODES table ({_PQ_M} single-byte codes per
    vector, not {_PQ_M * _PQ_SUBDIM} floats), the per-query state is
    the broadcast Q x {_PQ_M} x {_PQ_K}-row LUT, scoring is one
    equi-join on (m, code) + a (query, candidate) partial-agg sum,
    and the top-k collapses per-query via ranked windows over
    millions of tiny groups.  ADC error vs exact distance is
    bounded by the codebook's quantization error (the
    embedding_pq_codebook census); ranks order on the 6dp-rounded
    score with candidate-id tiebreak, so the cut is
    engine-deterministic."""
    e = load_table(spark, sf_dir, "embeddings")
    subs, cent, assign = _pq_train(e)
    codes = assign.select("vec_id", "m", "code")
    qs = subs.filter(F.col("vec_id") < _ADC_Q).select(
        F.col("vec_id").alias("query_id"), "m",
        F.col("sub").alias("qsub"),
    )
    lut = qs.join(F.broadcast(cent), "m").select(
        "query_id", "m", "code",
        _sqdist(F.col("qsub"), F.col("csub")).alias("pd"),
    )
    sc = (
        codes.filter(F.col("vec_id") >= _ADC_Q)
        .join(F.broadcast(lut), ["m", "code"])
        .groupBy("query_id", F.col("vec_id").alias("candidate_id"))
        .agg(F.sum("pd").alias("adc"))
    )
    wq = Window.partitionBy("query_id").orderBy(
        F.round(F.col("adc"), 6), "candidate_id"
    )
    return (
        sc.withColumn("rnk", F.row_number().over(wq))
        .filter(F.col("rnk") <= _ADC_TOP)
        .select(
            "query_id", "candidate_id",
            (F.round(F.col("adc") - 1e-9, _R) + 0.0).alias("adc_sqdist"),
            F.col("rnk").cast("long"),
        )
        .orderBy("query_id", "rnk")
    )
