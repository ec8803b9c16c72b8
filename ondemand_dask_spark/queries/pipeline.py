"""§2.K extensions — training-data pipeline operators.

The ops a 100 TB pretraining-data pipeline runs after dedup/quality
(covered in dedup.py / text.py): sequence packing, chunking with
overlap, stratified + mixture sampling, heavy hitters, PII redaction,
inverted-index construction, deterministic shuffle-sharding, length
histograms, and per-group top-k selection.

Design rules shared by every query here:

- **Sampling is a pure function of the row key** (salted
  `portable_hash64`), never an RNG draw — reproducible across runs,
  engines, repartitions, and appends, and it composes (different
  salts → independent samples).
- **Sequential-looking ops are keyed.** Packing and shuffling are
  partitioned by `source` / shard so every window is
  `partitionBy(...)`-bounded — no global single-partition window
  anywhere; each shard's state fits one task at any scale.
- **Everything stays in codegen** — string/array/hash built-ins only,
  zero Python UDFs, so each query is exactly oracle-checkable.
"""

from __future__ import annotations

import functools
import operator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ondemand_dask_spark.functions.texthash import portable_hash64
from ondemand_dask_spark.queries.dedup import _MINHASH_PAIRS_SQL
from ondemand_dask_spark.io import load_table
from ondemand_dask_spark.operators.checkpoint import pin
from ondemand_dask_spark.registry import register

_R = 4

# SQL twin of portable_hash64 (top 15 md5 hex chars as int64).
_H_SQL = "CAST('0x' || substr(md5({x}), 1, 15) AS BIGINT)"


def _salted_hash(salt: str, col) -> F.Column:
    return portable_hash64(F.concat(F.lit(salt + "|"), col.cast("string")))


def _salted_sql(salt: str, x: str) -> str:
    return _H_SQL.format(x=f"'{salt}|' || CAST({x} AS VARCHAR)")


# ---------------------------------------------------------------------------
# Sequence packing
# ---------------------------------------------------------------------------

_PACK_BUDGET = 512  # tokens per packed training sequence


@register(
    "pipeline_pack_sequences",
    oracle=f"""
    WITH t AS (
      SELECT source, doc_id, len(string_split(text, ' ')) AS tok
      FROM documents
    ),
    c AS (
      SELECT source, doc_id, tok,
             COALESCE(sum(tok) OVER (PARTITION BY source ORDER BY doc_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS cum_before
      FROM t
    )
    SELECT source,
           CAST(cum_before // {_PACK_BUDGET} AS BIGINT) AS seq_id,
           count(*) AS n_docs,
           CAST(sum(tok) AS BIGINT) AS seq_tokens
    FROM c
    GROUP BY source, seq_id
    """,
)
def pipeline_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk sequence packing: documents are laid out in a
    deterministic order (doc_id) per source and cut into
    {budget}-token training sequences; a document belongs to the
    sequence its first token lands in.  One running sum partitioned
    by `source` + one small groupBy — the cumsum is per-source, so at
    100 TB each source packs independently in parallel (add a
    hash-prefix subkey if one source dominates)."""
    d = load_table(spark, sf_dir, "documents")
    tok = F.size(F.split("text", " ")).cast("long")
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    c = d.select(
        "source",
        "doc_id",
        tok.alias("tok"),
    ).withColumn("cum_before", F.coalesce(F.sum("tok").over(w), F.lit(0)))
    return (
        c.withColumn(
            "seq_id", F.floor(F.col("cum_before") / F.lit(_PACK_BUDGET))
        )
        .groupBy("source", "seq_id")
        .agg(F.count("*").alias("n_docs"), F.sum("tok").alias("seq_tokens"))
    )


# ---------------------------------------------------------------------------
# Chunking with overlap
# ---------------------------------------------------------------------------

_CHUNK_W = 64
_CHUNK_STRIDE = 48


@register(
    "pipeline_chunk_overlap",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, string_split(text, ' ') AS arr FROM documents
    ),
    s AS (
      SELECT doc_id, arr,
             unnest(generate_series(0, len(arr) - 1, {_CHUNK_STRIDE})) AS start
      FROM t
    )
    SELECT doc_id,
           start // {_CHUNK_STRIDE} AS chunk_id,
           len(arr[start + 1 : start + {_CHUNK_W}]) AS n_tok,
           arr[start + 1] AS first_tok,
           arr[least(start + {_CHUNK_W}, len(arr))] AS last_tok
    FROM s
    """,
)
def pipeline_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window chunking: each document's token array is cut
    into windows of {W} tokens every {stride} tokens ({W-stride}
    tokens of overlap) — the context-window preparation step for long
    documents.  `sequence()` + `explode` + `slice` all run inside
    codegen; fan-out is bounded by len/stride per row and feeds no
    shuffle at all (narrow op — chunks stay co-partitioned with their
    document)."""
    d = load_table(spark, sf_dir, "documents")
    arr = F.split("text", " ")
    c = d.select(
        "doc_id",
        arr.alias("arr"),
        F.explode(
            F.sequence(
                F.lit(0), F.size(arr) - 1, F.lit(_CHUNK_STRIDE)
            )
        ).alias("start"),
    )
    chunk = F.slice(F.col("arr"), F.col("start") + 1, _CHUNK_W)
    return c.select(
        "doc_id",
        F.floor(F.col("start") / F.lit(_CHUNK_STRIDE)).alias("chunk_id"),
        F.size(chunk).cast("long").alias("n_tok"),
        F.element_at(chunk, 1).alias("first_tok"),
        F.element_at(chunk, F.size(chunk)).alias("last_tok"),
    )


# ---------------------------------------------------------------------------
# Stratified + mixture sampling
# ---------------------------------------------------------------------------

_STRAT_RATES = {"en": 90, "es": 60, "de": 60, "fr": 30, "zh": 30}  # per-100


@register(
    "pipeline_stratified_sample",
    oracle=f"""
    SELECT doc_id, lang
    FROM documents
    WHERE {_salted_sql("strat", "doc_id")} % 100 <
          CASE lang {" ".join(f"WHEN '{lg}' THEN {r}" for lg, r in _STRAT_RATES.items())}
          ELSE 0 END
    """,
)
def pipeline_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified sampling (`df.sampleBy` semantics) with a
    deterministic keep rate per language stratum — the downsampling
    step that rebalances a corpus.  Hash-threshold membership instead
    of `sampleBy`'s RNG: same sample on every run/engine/partition
    layout, and a different salt gives an independent sample.  Pure
    narrow filter — prunes before any downstream shuffle."""
    d = load_table(spark, sf_dir, "documents")
    bucket = _salted_hash("strat", F.col("doc_id")) % 100
    rate = None
    for lg, r in _STRAT_RATES.items():
        rate = (
            F.when(F.col("lang") == lg, r)
            if rate is None
            else rate.when(F.col("lang") == lg, r)
        )
    rate = rate.otherwise(0)
    return d.filter(bucket < rate).select("doc_id", "lang")


@register(
    "pipeline_mixture_sample",
    oracle=f"""
    WITH rated AS (
      SELECT source,
             10 + (CAST(substr(source, 4) AS INT) * 7) % 80 AS target_rate,
             {_salted_sql("mix", "doc_id")} % 100 AS bucket
      FROM documents
    )
    SELECT source,
           any_value(target_rate) AS target_rate,
           count(*) AS n_total,
           CAST(sum(CASE WHEN bucket < target_rate THEN 1 ELSE 0 END)
                AS BIGINT) AS n_kept
    FROM rated
    GROUP BY source
    """,
)
def pipeline_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture weighting: every source gets its own deterministic
    keep rate (here a function of the source id; in production a
    broadcast weights table) and rows are kept by salted hash
    threshold — how a training mixture ("3 parts web, 1 part code")
    is materialized.  Reported as per-source kept/total so the
    achieved mixture is itself the query result.  Map-side
    conditional agg: the shuffle carries one row per source."""
    d = load_table(spark, sf_dir, "documents")
    src_num = F.substring("source", 4, 8).cast("int")
    rate = F.lit(10) + (src_num * 7) % 80
    bucket = _salted_hash("mix", F.col("doc_id")) % 100
    return (
        d.select(
            "source",
            rate.alias("target_rate"),
            bucket.alias("bucket"),
        )
        .groupBy("source")
        .agg(
            F.any_value(F.col("target_rate")).alias("target_rate"),
            F.count("*").alias("n_total"),
            F.sum(
                F.when(F.col("bucket") < F.col("target_rate"), 1).otherwise(0)
            ).alias("n_kept"),
        )
    )


# ---------------------------------------------------------------------------
# Heavy hitters
# ---------------------------------------------------------------------------

_HH_K = 50  # report terms with frequency > 1/K of all tokens


@register(
    "pipeline_heavy_hitters",
    oracle=f"""
    WITH tok AS (
      SELECT unnest(string_split(text, ' ')) AS term FROM documents
    ),
    counts AS (SELECT term, count(*) AS cnt FROM tok GROUP BY term),
    total AS (SELECT sum(cnt) AS n FROM counts)
    SELECT term, cnt,
           round(CAST(cnt AS DOUBLE) / n - 1e-9, {_R}) + 0.0 AS share
    FROM counts CROSS JOIN total
    WHERE cnt * {_HH_K} > n
    """,
)
def pipeline_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact heavy hitters: every term holding > 1/K of total token
    mass — the vocabulary-skew / boilerplate detector.  Token counts
    aggregate map-side (the shuffle carries the vocabulary, not the
    tokens); the total is a 1-row broadcast.  The streaming analogue
    at unbounded scale is a Misra-Gries / count-min sketch; on a
    bounded corpus the exact two-phase agg is one pass and
    cheaper."""
    d = load_table(spark, sf_dir, "documents")
    counts = (
        d.select(F.explode(F.split("text", " ")).alias("term"))
        .groupBy("term")
        .agg(F.count("*").alias("cnt"))
    )
    total = counts.agg(F.sum("cnt").alias("n"))
    return (
        counts.crossJoin(F.broadcast(total))
        .filter(F.col("cnt") * _HH_K > F.col("n"))
        .select(
            "term",
            "cnt",
            F.round(F.col("cnt").cast("double") / F.col("n") - 1e-9, _R).alias(
                "share"
            ),
        )
    )


# ---------------------------------------------------------------------------
# PII redaction
# ---------------------------------------------------------------------------

_EMAIL_PAT = "[a-z0-9]+@[a-z.]+"
_NUM_PAT = "[0-9]{3,}"


@register(
    "pipeline_pii_redact",
    oracle=f"""
    WITH synth AS (
      SELECT doc_id,
             text || ' contact user' || CAST(doc_id AS VARCHAR)
                  || '@mail.example ref ' || CAST((doc_id * 7919) % 100000 AS VARCHAR)
               AS synth
      FROM documents
    ),
    pass1 AS (
      SELECT doc_id, synth,
             regexp_replace(synth, '{_EMAIL_PAT}', '<EMAIL>', 'g') AS no_email
      FROM synth
    )
    SELECT doc_id,
           regexp_replace(no_email, '{_NUM_PAT}', '<NUM>', 'g') AS redacted,
           len(regexp_extract_all(synth, '{_EMAIL_PAT}')) AS n_emails,
           len(regexp_extract_all(no_email, '{_NUM_PAT}')) AS n_nums
    FROM pass1
    """,
)
def pipeline_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing: emails then long digit runs replaced with
    typed placeholders, with per-document redaction counts for the
    audit trail.  (The fixture corpus has no real PII, so a synthetic
    email + reference number derived from doc_id is appended first —
    identically on both engines.)  Counts are taken per pattern
    *after* the earlier pass so overlapping matches aren't
    double-counted.  Pure regexp codegen, zero shuffle."""
    d = load_table(spark, sf_dir, "documents")
    synth = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@mail.example ref "),
        ((F.col("doc_id") * 7919) % 100000).cast("string"),
    )
    c = d.select("doc_id", synth.alias("synth"))
    c = c.withColumn(
        "no_email", F.regexp_replace("synth", _EMAIL_PAT, "<EMAIL>")
    )
    return c.select(
        "doc_id",
        F.regexp_replace("no_email", _NUM_PAT, "<NUM>").alias("redacted"),
        F.regexp_count("synth", F.lit(_EMAIL_PAT)).cast("long").alias("n_emails"),
        F.regexp_count("no_email", F.lit(_NUM_PAT)).cast("long").alias("n_nums"),
    )


# ---------------------------------------------------------------------------
# Inverted index
# ---------------------------------------------------------------------------

_POSTINGS_CAP = 10


@register(
    "pipeline_inverted_index",
    oracle=f"""
    WITH pairs AS (
      SELECT DISTINCT doc_id, term
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
            FROM documents)
    )
    SELECT term,
           count(*) AS df,
           coalesce(array_to_string(
             (list(doc_id ORDER BY doc_id))[1 : {_POSTINGS_CAP}], ','), '')
             AS postings
    FROM pairs
    GROUP BY term
    """,
)
def pipeline_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index construction: term → document frequency +
    sorted posting list, truncated to the first {cap} postings so no
    single row can blow up on a stopword-grade term (the full
    postings for those belong in a bucketed sink, not one array).
    Within-doc repeats collapse via array_distinct BEFORE the explode
    — a narrow per-row op, so the (doc, term) stream is unique with
    ZERO dedup shuffle (doc_ids are unique; a groupBy-distinct here
    would exchange every pair on the widest key).  The truncation
    happens BEFORE any array exists: rank-filter plans as
    WindowGroupLimit, pruning every map partition to its local
    first-{cap} before the exchange, so collect_list only ever sees
    ≤ {cap} rows per term (the naive sort_array(collect_list)[1:cap]
    materializes the full posting array first — the blow-up this
    module doc warns about, measured on a 100k-doc corpus whose
    tiny vocabulary makes every term stopword-grade).  df counts are
    a plain partial-agg count over the same stream; both sides end
    term-partitioned, so the final join broadcasts or zips without
    re-exchanging the big side."""
    d = load_table(spark, sf_dir, "documents")
    pairs = d.select(
        "doc_id",
        F.explode(F.array_distinct(F.split("text", " "))).alias("term"),
    )
    df_tab = pairs.groupBy("term").agg(F.count("*").alias("df"))
    w = Window.partitionBy("term").orderBy("doc_id")
    top = (
        pairs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _POSTINGS_CAP)
        .groupBy("term")
        .agg(
            F.array_join(
                F.sort_array(F.collect_list("doc_id")), ","
            ).alias("postings")
        )
    )
    return top.join(df_tab, "term").select("term", "df", "postings")


# ---------------------------------------------------------------------------
# Deterministic shuffle-sharding
# ---------------------------------------------------------------------------

_N_SHARDS = 64


@register(
    "pipeline_shard_shuffle",
    oracle=f"""
    WITH h AS (
      SELECT doc_id, {_salted_sql("shuf", "doc_id")} AS hk FROM documents
    )
    SELECT doc_id,
           hk % {_N_SHARDS} AS shard,
           row_number() OVER (PARTITION BY hk % {_N_SHARDS}
                              ORDER BY hk, doc_id) AS pos
    FROM h
    """,
)
def pipeline_shard_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global shuffle for training-order randomization:
    rows land in hash shards, ordered inside each shard by a salted
    hash — reading shards 0..N-1 in pos order is a reproducible
    pseudo-random permutation of the corpus.  Crucially NOT a global
    `row_number() OVER (ORDER BY random())` (single-partition window,
    nondeterministic): the window is partitioned by shard, so every
    shard sorts independently — the same pattern scales to any corpus
    by raising the shard count."""
    d = load_table(spark, sf_dir, "documents")
    hk = _salted_hash("shuf", F.col("doc_id"))
    w = Window.partitionBy("shard").orderBy("hk", "doc_id")
    return (
        d.select("doc_id", hk.alias("hk"))
        .withColumn("shard", F.col("hk") % _N_SHARDS)
        .withColumn("pos", F.row_number().over(w))
        .select("doc_id", "shard", "pos")
    )


# ---------------------------------------------------------------------------
# Length histogram
# ---------------------------------------------------------------------------


@register(
    "pipeline_length_histogram",
    oracle=f"""
    SELECT CAST(floor(log2(CAST(n_chars AS DOUBLE))) AS BIGINT) AS bucket,
           count(*) AS n_docs,
           min(n_chars) AS min_chars,
           max(n_chars) AS max_chars,
           round(avg(CAST(n_chars AS DOUBLE)) - 1e-9, {_R}) + 0.0 AS avg_chars
    FROM documents
    WHERE n_chars > 0
    GROUP BY bucket
    """,
)
def pipeline_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log2-bucketed document-length histogram — the corpus-shape
    diagnostic run before choosing chunking/packing parameters.
    Bucket boundaries are powers of two, where log2 is IEEE-exact, so
    both engines bin identically.  Fully map-side partial agg; the
    shuffle carries ~30 buckets."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    bucket = F.floor(F.log2(F.col("n_chars").cast("double")))
    return d.groupBy(bucket.alias("bucket")).agg(
        F.count("*").alias("n_docs"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
        F.round(F.avg(F.col("n_chars").cast("double")) - 1e-9, _R).alias(
            "avg_chars"
        ),
    )


# ---------------------------------------------------------------------------
# Per-group top-k selection
# ---------------------------------------------------------------------------

_TOPK_PER_GROUP = 3


@register(
    "topk_per_group",
    oracle=f"""
    SELECT o_orderpriority, rnk, o_orderkey, o_totalprice
    FROM (
      SELECT o_orderpriority, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_orderpriority
                                ORDER BY o_totalprice DESC, o_orderkey) AS rnk
      FROM orders
    )
    WHERE rnk <= {_TOPK_PER_GROUP}
    """,
)
def topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-limit: the k best rows per group (here: 3 priciest
    orders per priority) — the 'keep the best examples per bucket'
    selection step.  Spark ≥ 3.5 plans rank-then-filter as
    WindowGroupLimit: each map task pre-prunes to its local top-k
    BEFORE the shuffle, so the exchange carries k·partitions rows,
    not the table — the distributed version of a per-group heap."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        o.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= _TOPK_PER_GROUP)
        .select("o_orderpriority", "rnk", "o_orderkey", "o_totalprice")
    )


# ---------------------------------------------------------------------------
# End-to-end composition golden
# ---------------------------------------------------------------------------

_E2E_MIN_WORDS = 10


@register(
    "pipeline_end_to_end",
    oracle=f"""
    WITH dd AS (
      SELECT doc_id, source, lang, text,
             row_number() OVER (PARTITION BY md5(lower(trim(text)))
                                ORDER BY doc_id) AS rn
      FROM documents
    ),
    kept AS (
      SELECT doc_id, source, len(string_split(text, ' ')) AS tok
      FROM dd
      WHERE rn = 1
        AND len(string_split(text, ' ')) >= {_E2E_MIN_WORDS}
        AND {_salted_sql("e2e", "doc_id")} % 100 <
            CASE lang {" ".join(f"WHEN '{lg}' THEN {r}" for lg, r in _STRAT_RATES.items())}
            ELSE 0 END
    ),
    c AS (
      SELECT source, doc_id, tok,
             COALESCE(sum(tok) OVER (PARTITION BY source ORDER BY doc_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS cum_before
      FROM kept
    )
    SELECT source,
           CAST(cum_before // {_PACK_BUDGET} AS BIGINT) AS seq_id,
           count(*) AS n_docs,
           CAST(sum(tok) AS BIGINT) AS seq_tokens
    FROM c
    GROUP BY source, seq_id
    """,
)
def pipeline_end_to_end(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole corpus pipeline as ONE plan: exact dedup (first doc
    per normalized digest) → quality gate (min word count) →
    stratified language sampling → per-source sequence packing.  The
    golden that proves the stages COMPOSE — each stage is tested
    alone elsewhere; pipelines fail in the seams.  Plan-wise the
    narrow stages (quality, sampling) are free riders fused into the
    dedup window's scan, so the composition costs exactly: one digest
    shuffle, one per-source window, one final agg — three exchanges
    for four logical stages, each on a different (and each time
    smaller) keyspace."""
    d = load_table(spark, sf_dir, "documents")
    wd = Window.partitionBy(F.md5(F.lower(F.trim("text")))).orderBy("doc_id")
    tok = F.size(F.split("text", " ")).cast("long")
    rate = None
    for lg, r in _STRAT_RATES.items():
        rate = (
            F.when(F.col("lang") == lg, r)
            if rate is None
            else rate.when(F.col("lang") == lg, r)
        )
    rate = rate.otherwise(0)
    kept = (
        d.withColumn("rn", F.row_number().over(wd))
        .filter(
            (F.col("rn") == 1)
            & (tok >= _E2E_MIN_WORDS)
            & (_salted_hash("e2e", F.col("doc_id")) % 100 < rate)
        )
        .select("doc_id", "source", tok.alias("tok"))
    )
    wp = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    c = kept.withColumn("cum_before", F.coalesce(F.sum("tok").over(wp), F.lit(0)))
    return (
        c.withColumn("seq_id", F.floor(F.col("cum_before") / F.lit(_PACK_BUDGET)))
        .groupBy("source", "seq_id")
        .agg(F.count("*").alias("n_docs"), F.sum("tok").alias("seq_tokens"))
    )


# ---------------------------------------------------------------------------
# Contrastive negative pairs
# ---------------------------------------------------------------------------

_NEG_BUCKETS = 64
_NEG_OFFSETS = (1, 7)


@register(
    "pipeline_negative_pairs",
    oracle=f"""
    WITH b AS (
      SELECT doc_id, {_salted_sql("neg", "doc_id")} % {_NEG_BUCKETS} AS bucket
      FROM documents
    ),
    rep AS (SELECT bucket, min(doc_id) AS rep_id FROM b GROUP BY bucket)
    SELECT doc_id, off, rep_id AS neg_id
    FROM (
      SELECT doc_id, bucket, unnest([{", ".join(map(str, _NEG_OFFSETS))}]) AS off
      FROM b
    ) x JOIN rep ON rep.bucket = (x.bucket + x.off) % {_NEG_BUCKETS}
    WHERE rep_id <> doc_id
    """,
)
def pipeline_negative_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic negative sampling for contrastive training: each
    document is paired with the representative of {offsets} other hash
    buckets — pseudo-random partners that are stable across runs and
    appends, with NO cross join and no RNG: the representatives table
    is |buckets| rows, broadcast, and the pairing is a narrow
    map-side join.  (Hard-negative mining plugs in by replacing the
    representative table with ANN candidates — ann_lsh_probe.)"""
    d = load_table(spark, sf_dir, "documents")
    b = d.select(
        "doc_id",
        (_salted_hash("neg", F.col("doc_id")) % _NEG_BUCKETS).alias("bucket"),
    )
    rep = (
        b.groupBy("bucket")
        .agg(F.min("doc_id").alias("rep_id"))
        .select(F.col("bucket").alias("rep_bucket"), "rep_id")
    )
    x = b.select(
        "doc_id",
        "bucket",
        F.explode(F.array(*[F.lit(o) for o in _NEG_OFFSETS])).alias("off"),
    )
    return (
        x.join(
            F.broadcast(rep),
            F.col("rep_bucket") == (x["bucket"] + x["off"]) % _NEG_BUCKETS,
        )
        .filter(F.col("rep_id") != F.col("doc_id"))
        .select("doc_id", "off", F.col("rep_id").alias("neg_id"))
    )


# ---------------------------------------------------------------------------
# Weighted source interleave (curriculum order)
# ---------------------------------------------------------------------------

_INTERLEAVE_TAKE = 200


@register(
    "pipeline_interleave_sources",
    oracle=f"""
    WITH ranked AS (
      SELECT source, doc_id,
             row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn,
             1 + CAST(substr(source, 4) AS INT) % 3 AS w
      FROM documents
    )
    SELECT source, doc_id,
           round(CAST(rn AS DOUBLE) / w - 1e-9, {_R}) + 0.0 AS priority
    FROM ranked
    ORDER BY priority, source, doc_id
    LIMIT {_INTERLEAVE_TAKE}
    """,
)
def pipeline_interleave_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted round-robin interleave: the first {take} examples of a
    training order where source s appears w(s) times as often —
    priority = position-in-source / weight, smallest first (the
    classic fair-queueing virtual-time schedule).  Per-source
    row_number is a keyed window (parallel per source); the global
    'first N by priority' plans as TakeOrderedAndProject — per-
    partition top-N then a tree merge of N-row heaps, never a global
    sort of the corpus."""
    d = load_table(spark, sf_dir, "documents")
    w_src = F.lit(1) + F.substring("source", 4, 8).cast("int") % 3
    wn = Window.partitionBy("source").orderBy("doc_id")
    ranked = d.select(
        "source",
        "doc_id",
        F.row_number().over(wn).alias("rn"),
        w_src.alias("w"),
    )
    return (
        ranked.select(
            "source",
            "doc_id",
            F.round(F.col("rn").cast("double") / F.col("w") - 1e-9, _R).alias(
                "priority"
            ),
        )
        .orderBy("priority", "source", "doc_id")
        .limit(_INTERLEAVE_TAKE)
    )


# ---------------------------------------------------------------------------
# Eval-set decontamination
# ---------------------------------------------------------------------------

_DECON_N = 4  # shingle width: production uses 8-13; the synthetic
# corpus' near-dup construction only collides at ≤ 4-grams, and a
# non-empty result is what proves the match plumbing


@register(
    "pipeline_decontaminate",
    oracle=f"""
    WITH sh AS (
      SELECT doc_id,
             unnest(list_transform(
               generate_series(1, len(string_split(text, ' ')) - {_DECON_N - 1}),
               i -> {_H_SQL.format(
                   x="list_aggregate((string_split(text, ' '))"
                     f"[i : i + {_DECON_N - 1}], 'string_agg', ' ')")}
             )) AS sh_hash
      FROM documents
      WHERE len(string_split(text, ' ')) >= {_DECON_N}
    ),
    bench AS (
      SELECT DISTINCT sh_hash FROM sh WHERE doc_id % 97 = 0
    )
    SELECT doc_id, count(*) AS n_hits
    FROM sh JOIN bench USING (sh_hash)
    WHERE doc_id % 97 <> 0
    GROUP BY doc_id
    """,
)
def pipeline_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: training documents sharing any
    {n}-gram with the held-out set (doc_id % 97 — the stand-in for an
    eval suite), with the overlap count as evidence.  Shingles are
    HASHED before anything shuffles (8-byte keys, not n-gram text —
    the same discipline as the minhash family), the benchmark side is
    tiny by construction and broadcasts, and the join is a
    hash-semi-join per shingle followed by a per-doc count.  At
    100 TB this is THE standard pre-training hygiene pass; the flag
    threshold (here ≥ 1 hit) is the only policy knob."""
    from ondemand_dask_spark.functions.texthash import shingles

    d = load_table(spark, sf_dir, "documents")
    sh = (
        d.filter(F.size(F.split("text", " ")) >= _DECON_N)
        .select(
            "doc_id",
            F.explode(shingles(F.col("text"), n=_DECON_N)).alias("shingle"),
        )
        .select("doc_id", portable_hash64(F.col("shingle")).alias("sh_hash"))
    )
    bench = (
        sh.filter(F.col("doc_id") % 97 == 0).select("sh_hash").distinct()
    )
    return (
        sh.filter(F.col("doc_id") % 97 != 0)
        .join(F.broadcast(bench), "sh_hash")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_hits"))
    )


_CURRICULUM_SHARDS = 16


@register(
    "pipeline_curriculum_order",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id,
             CASE WHEN n_chars < 200 THEN 0
                  WHEN n_chars < 400 THEN 1
                  ELSE 2 END AS phase,
             {_salted_sql("curr", "doc_id")} AS hk
      FROM documents
    )
    SELECT doc_id, phase,
           hk % {_CURRICULUM_SHARDS} AS shard,
           row_number() OVER (PARTITION BY phase, hk % {_CURRICULUM_SHARDS}
                              ORDER BY hk, doc_id) AS pos
    FROM scored
    """,
)
def pipeline_curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum training order: easy -> hard phases (difficulty proxy
    = document length at fixed thresholds — a pure narrow expression,
    NOT a global ntile, which would need a corpus-wide sort), with a
    deterministic salted-hash shuffle inside each phase.  The shuffle
    position is keyed by (phase, shard) — {_CURRICULUM_SHARDS} shards
    per phase — so no window ever covers a whole phase: the reader
    consumes phases in order, round-robining shards by pos, and gets
    a reproducible curriculum permutation.  Same scale pattern as
    pipeline_shard_shuffle; the phase dimension adds zero extra
    shuffles (one exchange on the compound key)."""
    d = load_table(spark, sf_dir, "documents")
    phase = (
        F.when(F.col("n_chars") < 200, 0)
        .when(F.col("n_chars") < 400, 1)
        .otherwise(2)
    )
    hk = _salted_hash("curr", F.col("doc_id"))
    scored = d.select(
        "doc_id", phase.alias("phase"), hk.alias("hk"),
        (hk % _CURRICULUM_SHARDS).alias("shard"),
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("phase", "shard").orderBy("hk", "doc_id")
    return scored.select(
        "doc_id", "phase", "shard", F.row_number().over(w).alias("pos")
    )


@register(
    "pipeline_filter_cascade",
    oracle=f"""
    WITH flags AS (
      SELECT doc_id,
             (lang IN ('en', 'de', 'fr'))            AS f_lang,
             (n_chars BETWEEN 80 AND 1000)           AS f_len,
             (len(string_split(text, ' ')) >= 12)    AS f_tok,
             ({_salted_sql("casc", "doc_id")} % 100 < 90) AS f_samp
      FROM documents
    )
    SELECT count(*)                                          AS n_total,
           count(*) FILTER (WHERE f_lang)                    AS n_lang,
           count(*) FILTER (WHERE f_lang AND f_len)          AS n_len,
           count(*) FILTER (WHERE f_lang AND f_len AND f_tok) AS n_tok,
           count(*) FILTER (WHERE f_lang AND f_len AND f_tok AND f_samp)
                                                             AS n_kept
    FROM flags
    """,
)
def pipeline_filter_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-curation funnel report: how many documents survive each
    CUMULATIVE filter stage (language allowlist -> length band ->
    minimum token count -> deterministic 90% hash sample).  One scan,
    one row out: every stage is a boolean flag and the cascade is
    conditional counts over the conjunctions — no per-stage subquery,
    no repeated scans (at 100 TB each extra pass over the corpus is
    the cost that matters).  The hash-sample stage reuses the salted
    split convention, so the report matches what the real sampled
    pipeline would keep."""
    d = load_table(spark, sf_dir, "documents")
    f_lang = F.col("lang").isin("en", "de", "fr")
    f_len = F.col("n_chars").between(80, 1000)
    f_tok = F.size(F.split("text", " ")) >= 12
    f_samp = _salted_hash("casc", F.col("doc_id")) % 100 < 90
    return d.select(
        f_lang.alias("f_lang"), f_len.alias("f_len"),
        f_tok.alias("f_tok"), f_samp.alias("f_samp"),
    ).agg(
        F.count("*").alias("n_total"),
        F.count_if(F.col("f_lang")).alias("n_lang"),
        F.count_if(F.col("f_lang") & F.col("f_len")).alias("n_len"),
        F.count_if(F.col("f_lang") & F.col("f_len") & F.col("f_tok")).alias("n_tok"),
        F.count_if(
            F.col("f_lang") & F.col("f_len") & F.col("f_tok") & F.col("f_samp")
        ).alias("n_kept"),
    )


_BPE_TOP_K = 20


@register(
    "pipeline_bpe_pair_counts",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    pairs AS (
      SELECT unnest(list_transform(generate_series(1, len(t) - 1),
                    i -> t[i] || '|' || t[i+1])) AS pair
      FROM toks WHERE len(t) >= 2
    ),
    counted AS (
      SELECT pair, count(*) AS n,
             row_number() OVER (ORDER BY count(*) DESC, pair) AS rnk
      FROM pairs GROUP BY pair
    )
    SELECT rnk, pair, n FROM counted WHERE rnk <= {_BPE_TOP_K}
    """,
)
def pipeline_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One BPE-training iteration's counting step: frequency of every
    ADJACENT token pair across the corpus, top-{k} reported (the pair
    a real trainer would merge next, plus runners-up).  Bigrams come
    from zipping the token array against itself shifted by one —
    arrays_zip(slice(t,1,n-1), slice(t,2,n-1)) — so the expansion is
    pure codegen with no join and no Python; the count is one
    partial-agg shuffle on the pair key (map-side combine reduces
    each partition to its distinct pairs before the exchange), and
    the top-k is rank-then-filter over the counted table, which
    Spark's LimitPushDownThroughWindow rewrites into
    TakeOrderedAndProject — a distributed top-k where every task
    keeps _BPE_TOP_K rows and the unpartitioned rank window only
    ever sees the merged top-k (plan-asserted in
    tests/test_plans.py).  Ties break lexicographically so both
    engines rank identically."""
    d = load_table(spark, sf_dir, "documents")
    t = F.split("text", " ")
    n = F.size(t)
    bigrams = F.arrays_zip(
        F.slice(t, 1, n - 1).alias("a"), F.slice(t, 2, n - 1).alias("b")
    )
    pair = F.concat_ws("|", F.col("bg.a"), F.col("bg.b"))
    counted = (
        d.filter(n >= 2)
        .select(F.explode(bigrams).alias("bg"))
        .select(pair.alias("pair"))
        .groupBy("pair")
        .agg(F.count("*").alias("n"))
    )
    w = Window.orderBy(F.desc("n"), F.asc("pair"))
    return (
        counted.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= _BPE_TOP_K)
        .select("rnk", "pair", "n")
    )


_SPAN_RATE = 20  # a span starts at ~1/20 of positions
_SPAN_LEN = 3


@register(
    "pipeline_span_corruption",
    oracle=f"""
    WITH pos AS (
      SELECT doc_id,
             unnest(generate_series(1, len(string_split(text, ' ')))) AS p,
             len(string_split(text, ' ')) AS n_tok
      FROM documents
    ),
    marked AS (
      SELECT doc_id, p, n_tok,
             CASE WHEN {_salted_sql("span", "doc_id * 100000 + p")}
                       % {_SPAN_RATE} = 0 THEN 1 ELSE 0 END AS is_start
      FROM pos
    ),
    covered AS (
      SELECT doc_id, p, n_tok, is_start,
             max(is_start) OVER (PARTITION BY doc_id ORDER BY p
                                 ROWS BETWEEN {_SPAN_LEN - 1} PRECEDING
                                 AND CURRENT ROW) AS is_masked
      FROM marked
    )
    SELECT doc_id,
           any_value(n_tok)                    AS n_tokens,
           CAST(sum(is_masked) AS BIGINT)      AS n_masked,
           CAST(sum(is_start) AS BIGINT)       AS n_spans,
           round(CAST(sum(is_masked) AS DOUBLE) / any_value(n_tok) - 1e-9,
                 {_R}) + 0.0                   AS mask_ratio
    FROM covered GROUP BY doc_id
    """,
)
def pipeline_span_corruption(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5-style span-corruption planning, deterministically: a span
    of _SPAN_LEN tokens starts wherever the salted hash of (doc,
    position) lands in 1/_SPAN_RATE of the space, and a position is
    masked iff a span started within the last L positions — a per-doc ordered
    window max over a 0/1 flag, so coverage (span overlap collapses
    naturally) needs no interval logic.  Everything is a pure
    function of (doc_id, position): the same mask plan on every run,
    engine, and partitioning — resumable pretraining needs exactly
    this property.  One explode feeding doc-partitioned windows
    (positions stay co-located with their doc, no cross-doc
    traffic), then a per-doc rollup."""
    d = load_table(spark, sf_dir, "documents")
    n_tok = F.size(F.split("text", " "))
    pos = d.select(
        "doc_id",
        n_tok.alias("n_tok"),
        F.explode(F.sequence(F.lit(1), n_tok)).alias("p"),
    )
    is_start = (
        _salted_hash(
            "span", F.col("doc_id") * F.lit(100000) + F.col("p")
        )
        % _SPAN_RATE
        == 0
    ).cast("int")
    w = (
        Window.partitionBy("doc_id")
        .orderBy("p")
        .rowsBetween(-(_SPAN_LEN - 1), 0)
    )
    covered = pos.withColumn("is_start", is_start).withColumn(
        "is_masked", F.max("is_start").over(w)
    )
    return covered.groupBy("doc_id").agg(
        F.any_value("n_tok").alias("n_tokens"),
        F.sum("is_masked").cast("long").alias("n_masked"),
        F.sum("is_start").cast("long").alias("n_spans"),
        F.round(
            F.sum("is_masked").cast("double") / F.any_value("n_tok") - 1e-9,
            _R,
        ).alias("mask_ratio"),
    )


@register(
    "pipeline_dataset_card",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, lang, source, text,
             len(string_split(text, ' ')) AS toks,
             md5(lower(trim(text))) AS digest
      FROM documents
    ),
    agg AS (
      SELECT count(*) AS n_docs,
             count(DISTINCT lang) AS n_langs,
             count(DISTINCT source) AS n_sources,
             CAST(sum(toks) AS DOUBLE) AS total_tokens,
             avg(CAST(toks AS DOUBLE)) AS avg_tokens,
             count(DISTINCT digest) AS n_unique,
             avg(CASE WHEN toks < 10 THEN 1.0 ELSE 0.0 END) AS short_frac
      FROM base
    )
    SELECT 'n_docs' AS metric, round(CAST(n_docs AS DOUBLE) - 1e-9, {_R}) + 0.0 AS value FROM agg
    UNION ALL SELECT 'n_langs', round(CAST(n_langs AS DOUBLE) - 1e-9, {_R}) + 0.0 FROM agg
    UNION ALL SELECT 'n_sources', round(CAST(n_sources AS DOUBLE) - 1e-9, {_R}) + 0.0 FROM agg
    UNION ALL SELECT 'total_tokens', round(total_tokens - 1e-9, {_R}) + 0.0 FROM agg
    UNION ALL SELECT 'avg_doc_tokens', round(avg_tokens - 1e-9, {_R}) + 0.0 FROM agg
    UNION ALL SELECT 'exact_dup_rate',
      round(1.0 - CAST(n_unique AS DOUBLE) / n_docs - 1e-9, {_R}) + 0.0 FROM agg
    UNION ALL SELECT 'short_doc_frac', round(short_frac - 1e-9, {_R}) + 0.0 FROM agg
    """,
)
def pipeline_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DATASET CARD — the per-release summary a corpus pipeline
    publishes alongside the data: corpus size, language/source
    diversity, token budget, exact-duplicate rate, and the
    short-document fraction that quality gates will cut.  Every
    metric is a decomposable aggregate over ONE scan (the digest
    distinct-count is the only expensive term — the same single
    digest shuffle the exact-dedup pass already costs), exploded to
    the tall (metric, value) form the card renders from.  Doubles
    throughout so one report schema holds counts and rates."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.size(F.split("text", " ")).cast("double")
    digest = F.md5(F.lower(F.trim("text")))
    base = d.select(
        "lang", "source", toks.alias("toks"), digest.alias("digest")
    )
    agg = base.agg(
        F.count("*").cast("double").alias("n_docs"),
        F.countDistinct("lang").cast("double").alias("n_langs"),
        F.countDistinct("source").cast("double").alias("n_sources"),
        F.sum("toks").alias("total_tokens"),
        F.avg("toks").alias("avg_tokens"),
        F.countDistinct("digest").cast("double").alias("n_unique"),
        F.avg(F.when(F.col("toks") < 10, 1.0).otherwise(0.0)).alias(
            "short_frac"
        ),
    )
    rows = F.array(
        *[
            F.struct(
                F.lit(name).alias("metric"),
                (F.round(expr - 1e-9, _R) + 0.0).alias("value"),
            )
            for name, expr in [
                ("n_docs", F.col("n_docs")),
                ("n_langs", F.col("n_langs")),
                ("n_sources", F.col("n_sources")),
                ("total_tokens", F.col("total_tokens")),
                ("avg_doc_tokens", F.col("avg_tokens")),
                (
                    "exact_dup_rate",
                    F.lit(1.0) - F.col("n_unique") / F.col("n_docs"),
                ),
                ("short_doc_frac", F.col("short_frac")),
            ]
        ]
    )
    return agg.select(F.explode(rows).alias("r")).select(
        "r.metric", "r.value"
    )


_LB_EDGES = (16, 32, 64, 128)  # token-length bucket upper edges
_LB_BATCH = 8  # docs per training batch


@register(
    "pipeline_length_bucket_batching",
    oracle=f"""
    WITH d AS (
      SELECT doc_id,
             len(string_split(text, ' ')) AS n_tok,
             (CASE WHEN len(string_split(text, ' ')) > {_LB_EDGES[0]} THEN 1 ELSE 0 END
            + CASE WHEN len(string_split(text, ' ')) > {_LB_EDGES[1]} THEN 1 ELSE 0 END
            + CASE WHEN len(string_split(text, ' ')) > {_LB_EDGES[2]} THEN 1 ELSE 0 END
            + CASE WHEN len(string_split(text, ' ')) > {_LB_EDGES[3]} THEN 1 ELSE 0 END)
               AS bucket
      FROM documents
    ),
    ranked AS (
      SELECT doc_id, n_tok, bucket,
             row_number() OVER (PARTITION BY bucket
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
      FROM d
    ),
    batched AS (
      SELECT doc_id, n_tok, bucket,
             (rn - 1) // {_LB_BATCH} AS batch_id
      FROM ranked
    )
    SELECT bucket, batch_id,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(max(n_tok) AS BIGINT) AS batch_max_len,
           CAST(sum(n_tok) AS BIGINT) AS real_tokens,
           CAST(count(*) * max(n_tok) - sum(n_tok) AS BIGINT) AS pad_tokens
    FROM batched GROUP BY bucket, batch_id
    """,
)
def pipeline_length_bucket_batching(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Length-bucketed batch assembly — the padding-efficiency
    pattern for variable-length training batches: bucket documents
    by token length (fixed edges), shuffle deterministically WITHIN
    the bucket (md5 of doc_id — reproducible across engines/runs),
    cut into fixed-size batches, and report each batch's padding
    waste (batch_size × max_len − Σ len, the tokens the collator
    pads).  Bucketing is pure codegen; the per-bucket rank window
    partitions on the bucket key (bounded count of buckets, each
    window a hash-partition task — no global sort); batch stats are
    one partial-agg groupBy.  The same plan at 100 TB just has more
    rows per bucket-partition."""
    from pyspark.sql.window import Window as W

    d = load_table(spark, sf_dir, "documents")
    n_tok = F.size(F.split("text", " "))
    bucket = functools.reduce(
        operator.add,
        [(n_tok > F.lit(e)).cast("int") for e in _LB_EDGES],
    )
    base = d.select(
        "doc_id", n_tok.alias("n_tok"), bucket.alias("bucket")
    )
    w = W.partitionBy("bucket").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    batched = base.select(
        "doc_id", "n_tok", "bucket",
        ((F.row_number().over(w) - 1) / _LB_BATCH).cast("long").alias(
            "batch_id"
        ),
    )
    return batched.groupBy("bucket", "batch_id").agg(
        F.count("*").alias("n_docs"),
        F.max("n_tok").cast("long").alias("batch_max_len"),
        F.sum("n_tok").alias("real_tokens"),
        (F.count("*") * F.max("n_tok") - F.sum("n_tok")).cast("long").alias(
            "pad_tokens"
        ),
    )


@register(
    "pipeline_leakage_free_split",
    oracle=f"""
    WITH RECURSIVE pairs AS (
      SELECT doc_a, doc_b FROM (
        {_MINHASH_PAIRS_SQL}
      )
    ),
    nodes AS (
      SELECT DISTINCT doc_id FROM (
        SELECT doc_a AS doc_id FROM pairs
        UNION ALL SELECT doc_b FROM pairs
      )
    ),
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION ALL SELECT doc_b, doc_a FROM pairs
    ),
    reach(node, lbl) AS (
      SELECT doc_id, doc_id FROM nodes
      UNION
      SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.node
    ),
    labels AS (SELECT node AS doc_id, min(lbl) AS cluster_id
               FROM reach GROUP BY node),
    assigned AS (
      SELECT d.doc_id, l.cluster_id,
             coalesce(l.cluster_id, d.doc_id) AS rep,
             CASE
               WHEN {_H_SQL.format(x="'split|' || CAST(coalesce(l.cluster_id, d.doc_id) AS VARCHAR)")} % 10 < 8 THEN 'train'
               WHEN {_H_SQL.format(x="'split|' || CAST(coalesce(l.cluster_id, d.doc_id) AS VARCHAR)")} % 10 = 8 THEN 'val'
               ELSE 'test'
             END AS split
      FROM documents d LEFT JOIN labels l USING (doc_id)
    ),
    crossing AS (
      SELECT count(*) AS crossing_pairs
      FROM pairs p
      JOIN assigned a ON a.doc_id = p.doc_a
      JOIN assigned b ON b.doc_id = p.doc_b
      WHERE a.split <> b.split
    )
    SELECT split, count(*) AS n_docs,
           CAST(sum(CASE WHEN cluster_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_clustered,
           crossing_pairs
    FROM assigned CROSS JOIN crossing
    GROUP BY split, crossing_pairs
    """,
)
def pipeline_leakage_free_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/val/test split that CANNOT leak through near-duplicates:
    every document is assigned by the hash of its duplicate-CLUSTER
    representative (connected-component label over the LSH-verified
    pair graph; singletons hash their own id), so all members of a
    near-dup cluster land in the same split.  Hashing the raw doc_id
    instead — what naive pipelines do — puts ~field-measured 5-15%%
    of eval examples' near-copies in train, inflating benchmark
    scores.  The output's `crossing_pairs` column is the audit: the
    number of verified near-dup pairs straddling splits, provably 0
    by construction — the invariant is part of the differential
    contract, not a hope.

    Scale shape: cluster labels ride the O(log n)-round component
    machinery (only pair-graph nodes enter the iteration); the
    assignment itself is a LEFT join of the corpus against the
    (small) label table + one md5 hash — the corpus is touched once,
    and the split is stable under corpus growth because the hash
    keys on content-cluster identity, not position."""
    from ondemand_dask_spark.operators.graphcc import connected_components_star
    from ondemand_dask_spark.queries.dedup import dedup_minhash_lsh

    # The minhash pipeline runs ONCE: its pair list is pinned here
    # and feeds BOTH the cluster labeling — the O(log n)
    # star-contraction operator directly, not the registered CC query,
    # which would re-run the whole pipeline for its own pair build —
    # and the crossing-pairs audit below.
    pairs = pin(dedup_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b"))
    labels = connected_components_star(pairs, "doc_a", "doc_b").select(
        F.col("node").alias("doc_id"), "cluster_id"
    )
    d = load_table(spark, sf_dir, "documents").select("doc_id")
    assigned = d.join(labels, "doc_id", "left").select(
        "doc_id",
        "cluster_id",
        (
            portable_hash64(
                F.concat(
                    F.lit("split|"),
                    F.coalesce(F.col("cluster_id"), F.col("doc_id")).cast(
                        "string"
                    ),
                )
            )
            % 10
        ).alias("h"),
    ).select(
        "doc_id",
        "cluster_id",
        F.when(F.col("h") < 8, "train")
        .when(F.col("h") == 8, "val")
        .otherwise("test")
        .alias("split"),
    )
    a = assigned.alias("a")
    b = assigned.alias("b")
    crossing = (
        pairs.join(a, F.col("a.doc_id") == F.col("doc_a"))
        .join(b, F.col("b.doc_id") == F.col("doc_b"))
        .filter(F.col("a.split") != F.col("b.split"))
        .agg(F.count("*").alias("crossing_pairs"))
    )
    return (
        assigned.crossJoin(F.broadcast(crossing))
        .groupBy("split", "crossing_pairs")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(
                F.when(F.col("cluster_id").isNotNull(), 1).otherwise(0)
            ).cast("long").alias("n_clustered"),
        )
        .select("split", "n_docs", "n_clustered", "crossing_pairs")
    )


_MIX_ALPHA = 0.7  # temperature exponent (t5/mt5 multilingual convention)
_MIX_BUDGET = 10_000  # total samples to apportion


@register(
    "pipeline_mixture_temperature",
    oracle=f"""
    WITH c AS (
      SELECT lang, CAST(count(*) AS DOUBLE) AS n_docs
      FROM documents GROUP BY lang
    ),
    t AS (SELECT CAST(sum(pow(n_docs, {_MIX_ALPHA})) AS DOUBLE) AS z FROM c)
    SELECT lang,
           CAST(n_docs AS BIGINT) AS n_docs,
           round(pow(n_docs, {_MIX_ALPHA}) / z - 1e-9, {_R}) + 0.0
             AS weight,
           CAST(round({_MIX_BUDGET} * pow(n_docs, {_MIX_ALPHA}) / z, 0)
                AS BIGINT) AS expected_samples,
           round(pow(n_docs, {_MIX_ALPHA}) / z
                 - n_docs / (SELECT sum(n_docs) FROM c)
                 - 1e-9, {_R}) + 0.0 AS boost_vs_natural
    FROM c, t
    """,
)
def pipeline_mixture_temperature(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Temperature-scaled mixture weights per language:
    w_i ∝ n_i^α (α = {_MIX_ALPHA}) — the standard multilingual
    up-sampling rule (T5/mT5, XLM-R) that boosts low-resource slices
    without letting the head language drown the mixture.  Emits the
    normalized weight, the sample apportionment for a fixed budget,
    and the boost relative to natural (proportional) sampling — the
    table a mixture-materialization job (pipeline_mixture_sample)
    consumes as its rates.

    Scale shape: ONE partial-agg shuffle collapses the corpus to
    |langs| counts; the normalizer is a 1-row aggregate of that
    vocabulary-sized table attached by broadcast — nothing downstream
    grows with data.  pow's cross-engine ulp drift is absorbed by
    the 4 dp round on ratios ≤ 1."""
    c = (
        load_table(spark, sf_dir, "documents")
        .groupBy("lang")
        .agg(F.count("*").cast("double").alias("n_docs"))
    )
    t = c.agg(
        F.sum(F.pow("n_docs", _MIX_ALPHA)).alias("z"),
        F.sum("n_docs").alias("n_total"),
    )
    w = F.pow("n_docs", _MIX_ALPHA) / F.col("z")
    return (
        c.crossJoin(F.broadcast(t))
        .select(
            "lang",
            F.col("n_docs").cast("long").alias("n_docs"),
            (F.round(w - 1e-9, _R) + 0.0).alias("weight"),
            F.round(_MIX_BUDGET * w, 0).cast("long").alias(
                "expected_samples"
            ),
            (
                F.round(
                    w - F.col("n_docs") / F.col("n_total") - 1e-9, _R
                )
                + 0.0
            ).alias("boost_vs_natural"),
        )
    )


_QWM_QUALITY_CUT = 0.5  # hi/lo quality tier boundary
_QWM_LO_MULT = 0.5  # down-weight applied to the low-quality tier

from ondemand_dask_spark.queries.text import STOPWORDS  # noqa: E402


@register(
    "pipeline_quality_weighted_mixture",
    oracle=f"""
    WITH scored AS (
      SELECT lang,
             CASE WHEN least(1.0, len(string_split(text, ' ')) / 50.0)
                       * (1.0 - CAST(len(list_filter(
                               string_split(text, ' '),
                               x -> x IN {STOPWORDS})) AS DOUBLE)
                            / len(string_split(text, ' ')))
                       >= {_QWM_QUALITY_CUT}
                  THEN 'hi' ELSE 'lo' END AS tier
      FROM documents
    ),
    c AS (
      SELECT lang, tier, CAST(count(*) AS DOUBLE) AS n_docs,
             CASE WHEN tier = 'hi' THEN 1.0 ELSE {_QWM_LO_MULT} END
               * pow(count(*), {_MIX_ALPHA}) AS raw_w
      FROM scored GROUP BY lang, tier
    ),
    t AS (SELECT CAST(sum(raw_w) AS DOUBLE) AS z FROM c)
    SELECT lang, tier, CAST(n_docs AS BIGINT) AS n_docs,
           round(raw_w / z - 1e-9, {_R}) + 0.0 AS weight,
           CAST(round({_MIX_BUDGET} * raw_w / z, 0) AS BIGINT)
             AS expected_samples
    FROM c, t
    """,
)
def pipeline_quality_weighted_mixture(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Quality-aware mixture design: temperature weights per
    (language, quality tier), with the low-quality tier down-weighted
    ×{_QWM_LO_MULT} before normalization — the two-axis sampling
    table real pretraining mixtures use (boost low-resource
    languages, but not by flooding them with their worst documents).
    Composes pipeline_mixture_temperature's n^α rule with
    text_quality_score's codegen heuristic.

    Scale shape: the quality tier is a pure codegen projection on the
    scan (no Python), ONE partial-agg shuffle collapses to
    |langs|×2 cells, and the normalizer attaches by broadcast —
    identical economics to the single-axis mixture."""
    from ondemand_dask_spark.queries.text import STOPWORDS as _SW

    d = load_table(spark, sf_dir, "documents")
    arr = F.split("text", " ")
    n_words = F.size(arr).cast("double")
    stop_n = F.size(F.filter(arr, lambda x: x.isin(*_SW))).cast("double")
    quality = F.least(F.lit(1.0), n_words / 50.0) * (
        1.0 - stop_n / n_words
    )
    scored = d.select(
        "lang",
        F.when(quality >= _QWM_QUALITY_CUT, "hi").otherwise("lo").alias(
            "tier"
        ),
    )
    c = scored.groupBy("lang", "tier").agg(
        F.count("*").cast("double").alias("n_docs")
    ).withColumn(
        "raw_w",
        F.when(F.col("tier") == "hi", 1.0).otherwise(_QWM_LO_MULT)
        * F.pow("n_docs", _MIX_ALPHA),
    )
    t = c.agg(F.sum("raw_w").alias("z"))
    return (
        c.crossJoin(F.broadcast(t))
        .select(
            "lang",
            "tier",
            F.col("n_docs").cast("long").alias("n_docs"),
            (F.round(F.col("raw_w") / F.col("z") - 1e-9, _R) + 0.0).alias(
                "weight"
            ),
            F.round(_MIX_BUDGET * F.col("raw_w") / F.col("z"), 0)
            .cast("long")
            .alias("expected_samples"),
        )
    )


_KANON_BUCKET = 2000.0  # acctbal generalization width
_KANON_KS = (2, 5, 10)


@register(
    "privacy_k_anonymity",
    oracle=f"""
    WITH g AS (
      SELECT c_nationkey,
             CAST(floor(c_acctbal / {_KANON_BUCKET}) AS BIGINT) AS bal_bucket,
             count(*) AS k,
             count(DISTINCT c_mktsegment) AS l
      FROM customer GROUP BY 1, 2
    ),
    tot AS (
      SELECT CAST(sum(k) AS BIGINT) AS n_rows,
             CAST(count(*) AS BIGINT) AS n_groups,
             CAST(min(k) AS BIGINT) AS min_k,
             CAST(min(l) AS BIGINT) AS min_l,
             {", ".join(
               f"CAST(sum(CASE WHEN k < {t} THEN 1 ELSE 0 END) AS BIGINT)"
               f" AS g{t}, "
               f"CAST(sum(CASE WHEN k < {t} THEN k ELSE 0 END) AS BIGINT)"
               f" AS r{t}" for t in _KANON_KS)}
      FROM g
    )
    {" UNION ALL ".join(
      f'''SELECT {t} AS k_threshold, g{t} AS groups_below,
          r{t} AS rows_below,
          round(CAST(r{t} AS DOUBLE) / n_rows - 1e-9, {_R}) + 0.0
            AS suppression_cost,
          n_groups, min_k, min_l AS min_l_diversity FROM tot'''
      for t in _KANON_KS)}
    ORDER BY k_threshold
    """,
)
def privacy_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-anonymity / l-diversity audit before a data release — the
    governance twin of pipeline_pii_redact and pipeline_purge_audit:
    under the quasi-identifier (nation, generalized account-balance
    bucket), how identifiable is each row?  For each candidate k
    reports the groups and rows below the threshold and the
    suppression cost (share of rows a k-anonymous release must drop
    or further generalize), plus the global minimum group size and
    the minimum l-diversity of the sensitive attribute (market
    segment) — min_l = 1 means some group leaks its members'
    segment outright.

    Scale shape: ONE partial-agg groupBy builds the QI-group table
    (count + count-distinct per group); every threshold metric is a
    conditional aggregate over that table reduced to a single row,
    unpivoted to one row per threshold — no window, no second scan,
    no data-sized structure beyond the QI vocabulary."""
    c = load_table(spark, sf_dir, "customer")
    g = c.groupBy(
        "c_nationkey",
        F.floor(F.col("c_acctbal") / _KANON_BUCKET).alias("bal_bucket"),
    ).agg(
        F.count("*").alias("k"),
        F.countDistinct("c_mktsegment").alias("l"),
    )
    aggs = [
        F.sum("k").alias("n_rows"),
        F.count("*").alias("n_groups"),
        F.min("k").alias("min_k"),
        F.min("l").alias("min_l"),
    ]
    for t in _KANON_KS:
        below = F.col("k") < t
        aggs.append(
            F.sum(F.when(below, 1).otherwise(0)).alias(f"g{t}")
        )
        aggs.append(
            F.sum(F.when(below, F.col("k")).otherwise(0)).alias(f"r{t}")
        )
    tot = g.agg(*aggs)
    stack = ", ".join(
        f"{t}L, g{t}, r{t}" for t in _KANON_KS
    )
    return (
        tot.selectExpr(
            "n_rows", "n_groups", "min_k", "min_l",
            f"stack({len(_KANON_KS)}, {stack})"
            " AS (k_threshold, groups_below, rows_below)",
        )
        .select(
            "k_threshold",
            "groups_below",
            "rows_below",
            (
                F.round(
                    F.col("rows_below").cast("double") / F.col("n_rows")
                    - 1e-9,
                    _R,
                )
                + 0.0
            ).alias("suppression_cost"),
            "n_groups",
            "min_k",
            F.col("min_l").alias("min_l_diversity"),
        )
        .orderBy("k_threshold")
    )
