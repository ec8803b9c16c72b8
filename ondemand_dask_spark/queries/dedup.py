"""§2.K — deduplication family over the `documents` table.

Training-data dedup at 100 TB is the canonical use of this engine, so
every variant here is designed around its shuffle profile:

- exact:        one hash-groupBy (single shuffle on the digest);
- MinHash+LSH:  shingle fan-out is a narrow op; the only shuffles are
                one doc_id exchange for shingle set + signature, one
                groupBy(band, sig) for the buckets and the pair
                distinct — candidate pairs ∝ collisions, never n²;
- SimHash:      narrow bit fan-out + one groupBy; pairing is blocked;
- n-gram Jaccard: pairwise by construction → blocked on (lang) so the
                join is per-block; at scale block on (lang, length
                bucket) and it stays shuffle-bounded.

Cross-engine determinism: all hashes derive from md5 (the one strong
hash both Spark and DuckDB share) — the top 15 hex chars parsed as a
60-bit integer: Spark `conv(substring(md5(x),1,15),16,10)` ≡ DuckDB
`CAST('0x'||substr(md5(x),1,15) AS BIGINT)`.  Every query here is
therefore fully oracle-checked, including the LSH band buckets (unusual:
most LSH tests are probabilistic; ours are exact because the "random"
hash family is the same deterministic function on both engines).
"""

from __future__ import annotations

import functools
import itertools
import operator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ondemand_dask_spark.functions.texthash import (
    MH_A as _MH_A,
    MH_B as _MH_B,
    MH_PRIME as _MH_P,
    portable_hash64 as _h,
    shingles as _shingle_array,
)
from ondemand_dask_spark.io import load_table
from ondemand_dask_spark.operators.checkpoint import pin
from ondemand_dask_spark.operators.graphcc import (
    connected_components_minlabel,
    connected_components_star,
)
from ondemand_dask_spark.registry import register

_R = 4

NUM_HASHES = 8
BAND_ROWS = 2  # 4 bands x 2 rows
SIMHASH_BITS = 32
JACCARD_THRESHOLD = 0.5

# SQL twin of functions.texthash.portable_hash64 (see that module for
# the affine minhash family rationale).
_H_SQL = "CAST('0x' || substr(md5({x}), 1, 15) AS BIGINT)"


def _minhash_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The per-document MinHash table: one row per doc with at least
    one 3-token shingle, (doc_id, hs, mh0..mh{NUM_HASHES-1}).  `hs` is
    the doc's set of 30-bit shingle hashes and `mh{s}` its minimum
    under the s-th affine hash.  One groupBy(doc_id) over the shingle
    explode yields both, and shingle rows never cross an exchange.
    Jaccard over hashed sets equals Jaccard over shingles modulo hash
    collisions, and the DuckDB oracles hash identically, so
    differential checks stay exact.

    Width: the cost of this stage is per shingle (explode, md5, set
    build), not per input byte, and the fixture's documents file is a
    single parquet row group, so the scan is one task.  A column-only
    repartition would be coalesced straight back to one task by AQE,
    which sizes the small exchange (~3 MB at sf0.1) by bytes.  The
    explicit count (REPARTITION_BY_NUM, never coalesced) spreads the
    hashing over the cluster's cores, and the groupBy(doc_id) reuses
    that hash partitioning, so the table costs exactly one exchange,
    of raw documents rather than partial aggregates (the
    dedup_edit_distance precedent)."""
    d = load_table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
    h30 = _h(F.col("shingle")) % F.lit(1_073_741_824)
    return (
        d.select(
            "doc_id", F.explode(_shingle_array(F.col("text"), 3)).alias("shingle")
        )
        .select("doc_id", h30.alias("h"))
        .groupBy("doc_id")
        .agg(
            F.collect_set("h").alias("hs"),
            *[
                F.min(
                    (F.lit(_MH_A[s]) * F.col("h") + F.lit(_MH_B[s])) % F.lit(_MH_P)
                ).alias(f"mh{s}")
                for s in range(NUM_HASHES)
            ],
        )
    )


def _lsh_candidates(docs: DataFrame) -> DataFrame:
    """Distinct (doc_a < doc_b) pairs that share a full band signature
    in `docs` (a `_minhash_docs` frame).  Each doc explodes into its
    NUM_HASHES // BAND_ROWS (band, signature) bucket keys, one
    groupBy gathers each bucket's sorted doc list, and the in-bucket
    pairs explode from it (the combination shape of
    `_ngram_pair_scores`) — pairs ∝ bucket collisions, never n²."""
    keys = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.col(f"mh{b * BAND_ROWS}").alias("s0"),
                F.col(f"mh{b * BAND_ROWS + 1}").alias("s1"),
            )
            for b in range(NUM_HASHES // BAND_ROWS)
        ]
    )
    combos = F.flatten(
        F.transform(
            F.col("ds"),
            lambda x, i: F.transform(
                F.slice(F.col("ds"), i + F.lit(2), F.size(F.col("ds"))),
                lambda y: F.struct(x.alias("doc_a"), y.alias("doc_b")),
            ),
        )
    )
    return (
        docs.select("doc_id", F.explode(keys).alias("k"))
        .groupBy("k")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ds"))
        .filter(F.size("ds") >= 2)
        .select(F.explode(combos).alias("p"))
        .select("p.doc_a", "p.doc_b")
        .distinct()
    )


def _with_docs(cand: DataFrame, docs: DataFrame) -> DataFrame:
    """`cand` (doc_a, doc_b) with each side's `docs` row attached as the
    struct columns `a` and `b` (a.hs, a.mh0, ...)."""

    def side(t: str) -> DataFrame:
        rest = [c for c in docs.columns if c != "doc_id"]
        return docs.select(
            F.col("doc_id").alias(f"doc_{t}"), F.struct(*rest).alias(t)
        )

    return cand.join(side("a"), "doc_a").join(side("b"), "doc_b")


_SHINGLES_SQL = """
    SELECT DISTINCT doc_id,
           unnest(list_transform(generate_series(1, len(t) - 2),
                  i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingle
    FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
    WHERE len(t) >= 3
"""


@register(
    "dedup_exact",
    oracle="""
    SELECT sha256(lower(trim(text))) AS digest,
           min(doc_id) AS keeper,
           count(*)    AS n_copies
    FROM documents
    GROUP BY 1
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: normalize → sha256 → keep first doc per digest.
    One shuffle on the digest; at 100 TB hash first so the shuffle
    moves 32-byte keys, not document bodies."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select(
            F.sha2(F.lower(F.trim(F.col("text"))), 256).alias("digest"), "doc_id"
        )
        .groupBy("digest")
        .agg(F.min("doc_id").alias("keeper"), F.count("*").alias("n_copies"))
    )


_MH_MIN_SQL = ", ".join(
    f"min(({_MH_A[s]} * (h % 1073741824) + {_MH_B[s]}) % {_MH_P}) AS mh{s}"
    for s in range(NUM_HASHES)
)
_SIG_UNION_SQL = " UNION ALL ".join(
    f"SELECT doc_id, {b} AS band, "
    f"CAST(mh{b * BAND_ROWS} AS VARCHAR) || ',' || "
    f"CAST(mh{b * BAND_ROWS + 1} AS VARCHAR) AS sig FROM mh"
    for b in range(NUM_HASHES // BAND_ROWS)
)


# The full pairs pipeline as one SQL block — the dedup_minhash_lsh
# oracle, and the seed relation for the connected-components oracle.
_MINHASH_PAIRS_SQL = f"""
    WITH sh AS ({_SHINGLES_SQL}),
    hashed AS (SELECT DISTINCT doc_id,
                      ({_H_SQL.format(x="shingle")} % 1073741824) AS h FROM sh),
    mh AS (SELECT doc_id, {_MH_MIN_SQL} FROM hashed GROUP BY doc_id),
    sig AS ({_SIG_UNION_SQL}),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM sig a JOIN sig b
        ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
    ),
    counts AS (SELECT doc_id, count(*) AS n FROM hashed GROUP BY doc_id),
    inter AS (
      SELECT c.doc_a, c.doc_b, count(*) AS i
      FROM cand c
      JOIN hashed x ON x.doc_id = c.doc_a
      JOIN hashed y ON y.doc_id = c.doc_b AND y.h = x.h
      GROUP BY c.doc_a, c.doc_b
    )
    SELECT doc_a, doc_b,
           round(CAST(i AS DOUBLE) / (na.n + nb.n - i) - 1e-9, {_R}) + 0.0 AS jaccard
    FROM inter
    JOIN counts na ON na.doc_id = doc_a
    JOIN counts nb ON nb.doc_id = doc_b
    WHERE CAST(i AS DOUBLE) / (na.n + nb.n - i) >= {JACCARD_THRESHOLD}
    """


@register("dedup_minhash_lsh", oracle=_MINHASH_PAIRS_SQL, twin="dedup_minhash_ml")
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup dedup: shingle → MinHash(NUM_HASHES=8) → LSH band
    buckets → candidate pairs → exact-Jaccard verification at
    JACCARD_THRESHOLD.

    The LSH property: only docs sharing a full band signature ever
    meet — they are grouped into one (band, sig) bucket and paired
    there, so candidates ∝ collisions, not n².  Verification reads
    only the candidate set.  This is the scale path for fuzzy dedup
    (pyspark.ml's MinHashLSH does the same; hand-rolled here so the
    hash family is cross-engine deterministic and the whole pipeline
    oracle-checks exactly).

    Plan: one checkpointed per-doc table (`_minhash_docs`:
    shingle-hash set plus signature) feeds the bucket grouping and
    both verification joins, and the intersection is an array op on
    the joined row.  The table is built once, eagerly, at cluster
    width (one exchange); the plan that reads it three times then has
    two exchanges (bucket groupBy, pair distinct; pinned in
    tests/test_plans.py).  A lazy cache would be materialized
    three times at once: AQE submits the three readers' stages
    concurrently, each before any has filled the cache, so each
    computes the per-doc aggregate.  A/B against the earlier
    band-union self-join shape: CHANGES.md.
    """
    docs = pin(_minhash_docs(spark, sf_dir))
    i = F.size(F.array_intersect("a.hs", "b.hs"))
    jac = i.cast("double") / (F.size("a.hs") + F.size("b.hs") - i)
    return (
        _with_docs(_lsh_candidates(docs), docs)
        .filter(jac >= JACCARD_THRESHOLD)
        .select("doc_a", "doc_b", F.round(jac - 1e-9, _R).alias("jaccard"))
    )


@register("dedup_minhash_ml", oracle=None, twin="dedup_minhash_lsh")
def dedup_minhash_ml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pyspark.ml MinHashLSH variant of the near-dup pipeline:
    RegexTokenizer → NGram(3) → HashingTF → MinHashLSH →
    approxSimilarityJoin.  Rows-only: ml's hash seeds are engine-
    internal, so unlike the hand-rolled pipeline it cannot be
    oracle-checked exactly — the hand-rolled `dedup_minhash_lsh` is
    the correctness anchor, this is the library-integration path
    (same algorithmic shape, banded hash buckets then distance
    verification)."""
    from pyspark.ml.feature import HashingTF, MinHashLSH, NGram, RegexTokenizer

    d = load_table(spark, sf_dir, "documents")
    toks = RegexTokenizer(
        inputCol="text", outputCol="tokens", pattern=" "
    ).transform(d)
    grams = NGram(n=3, inputCol="tokens", outputCol="shingles").transform(toks)
    tf = HashingTF(
        inputCol="shingles", outputCol="features", numFeatures=1 << 18, binary=True
    ).transform(grams)
    tf = tf.filter(F.expr("size(shingles) > 0"))
    model = MinHashLSH(
        inputCol="features", outputCol="hashes", numHashTables=8, seed=42
    ).fit(tf)
    pairs = model.approxSimilarityJoin(tf, tf, 0.5, distCol="jaccard_dist")
    return (
        pairs.filter(F.col("datasetA.doc_id") < F.col("datasetB.doc_id"))
        .select(
            F.col("datasetA.doc_id").alias("doc_a"),
            F.col("datasetB.doc_id").alias("doc_b"),
            F.round(F.lit(1.0) - F.col("jaccard_dist"), 4).alias("jaccard"),
        )
    )


@register(
    "dedup_simhash",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, tok, count(*) AS cnt FROM (
        SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
      ) GROUP BY doc_id, tok
    ),
    bits AS (
      SELECT doc_id, b.i,
             sum(CASE WHEN ({_H_SQL.format(x="tok")} >> b.i) & 1 = 1
                      THEN cnt ELSE -cnt END) AS s
      FROM tok CROSS JOIN
           (SELECT unnest(generate_series(0, {SIMHASH_BITS - 1})) AS i) b
      GROUP BY doc_id, b.i
    )
    SELECT doc_id,
           CAST(sum(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << i)
                    ELSE 0 END) AS BIGINT) AS simhash
    FROM bits GROUP BY doc_id
    """,
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash(SIMHASH_BITS=32-bit) signature per document: token-
    count-weighted sign sum per bit.  The per-bit weighted sum is
    LINEAR in token count, so the classic distinct-token-count +
    bits-table cross join collapses to ONE groupBy(doc_id) with 32
    codegen'd conditional sums over raw token instances (±1 per
    instance per bit) — a single shuffle whose partial aggregation
    reduces each map partition to one row of 32 longs per doc; no
    crossJoin row blow-up, no (doc, bit) exchange.  Signatures are
    8 bytes/doc, so the pairing stage downstream works on a table
    1000× smaller than the corpus."""
    d = load_table(spark, sf_dir, "documents")
    inst = d.select(
        "doc_id", F.explode(F.split("text", " ")).alias("tok")
    ).withColumn("th", _h(F.col("tok")))
    sums = [
        F.sum(
            F.when((F.shiftright("th", i) % 2) == 1, 1).otherwise(-1)
        ).alias(f"__s{i}")
        for i in range(SIMHASH_BITS)
    ]
    packed = functools.reduce(
        operator.add,
        [
            F.when(F.col(f"__s{i}") > 0, F.lit(1 << i).cast("long")).otherwise(
                F.lit(0).cast("long")
            )
            for i in range(SIMHASH_BITS)
        ],
    )
    return (
        inst.groupBy("doc_id").agg(*sums).select("doc_id", packed.alias("simhash"))
    )


# Multi-index Hamming blocking for dedup_simhash_pairs: for radius
# r the signature splits into P = r + 3 near-equal parts; r flips
# damage at most r parts, so at least 3 parts survive fully intact in
# BOTH docs and at least one of the C(P, 3) three-part combination
# keys matches (pigeonhole) — blocking on every combination key
# therefore misses no qualifying pair.  At the default r = 3 this is
# the 6-part/20-combo scheme: key width ≈ 15-17 bits, so uniform-
# random collision volume is ~20·n²/2^16 ≈ n²/3277 — vs n²/256 for
# the single-byte scheme (4 keys, 8-bit blocks), whose candidate set
# was measured to blow up at the 100k-doc scale probe.  More parts
# per key = finer blocks = fewer candidates, paid for with a larger
# explode (C(P,3)×/doc); at larger corpora, widen the signature and
# the key, keeping key bits ≳ 2·log2(n).
def _simhash_scheme(
    max_hamming: int, bits: int = SIMHASH_BITS
) -> tuple[tuple[int, ...], tuple[int, ...], tuple[tuple[int, int, int], ...]]:
    """(part widths, part offsets, 3-part combos) for radius r."""
    parts = max_hamming + 3
    base, extra = divmod(bits, parts)
    widths = tuple(base + (1 if i < extra else 0) for i in range(parts))
    offsets = tuple(sum(widths[:i]) for i in range(parts))
    combos = tuple(itertools.combinations(range(parts), 3))
    return widths, offsets, combos


# Radius-3 instance, kept named because the registered query and the
# adversarial property test both reference its part layout.
_SIMHASH_PART_WIDTHS, _SIMHASH_PART_OFFSETS, _SIMHASH_COMBOS = _simhash_scheme(3)


def simhash_hamming_pairs(sig: DataFrame, max_hamming: int = 3) -> DataFrame:
    """All (doc_a, doc_b, hamming) pairs with Hamming distance ≤
    `max_hamming` over a (doc_id, simhash) frame, via multi-index
    pigeonhole blocking — an operator over ANY signature source (the
    registered query feeds it corpus SimHashes; the property test
    feeds it adversarial synthetic ones).  Radius is a knob: the
    scheme uses r + 3 parts so three always survive r flips; the
    completeness property test sweeps r ∈ {1..4}.  Beyond r = 4 a
    32-bit signature's parts drop under 4 bits and uniform-random
    collisions approach the brute-force volume — widen the signature
    (64/128-bit SimHash) instead of the radius."""
    if max_hamming > 4:
        raise ValueError(
            "multi-index blocking over a 32-bit signature supports "
            f"hamming <= 4 (got {max_hamming}); use a wider signature"
        )
    widths, offsets, combos = _simhash_scheme(max_hamming)
    w = max(widths)  # per-part field width in the packed combo key

    def part(i: int) -> F.Column:
        return F.shiftright("simhash", offsets[i]).bitwiseAND(
            F.lit((1 << widths[i]) - 1)
        )

    keys = [
        (
            F.lit(j).cast("long") * F.lit(1 << (3 * w))
            + part(a) * F.lit(1 << (2 * w))
            + part(b) * F.lit(1 << w)
            + part(c)
        ).cast("long")
        for j, (a, b, c) in enumerate(combos)
    ]
    blocks = sig.select(
        "doc_id", "simhash", F.explode(F.array(*keys)).alias("bk")
    )
    a, b = blocks.alias("a"), blocks.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.bk") == F.col("b.bk"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .agg(
            F.first("a.simhash").alias("ha"),
            F.first("b.simhash").alias("hb"),
        )
    )
    ham = F.bit_count(F.col("ha").bitwiseXOR(F.col("hb")))
    return cand.filter(ham <= max_hamming).select(
        "doc_a", "doc_b", ham.alias("hamming")
    )


@register(
    "dedup_simhash_pairs",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, tok, count(*) AS cnt FROM (
        SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
      ) GROUP BY doc_id, tok
    ),
    bits AS (
      SELECT doc_id, b.i,
             sum(CASE WHEN ({_H_SQL.format(x="tok")} >> b.i) & 1 = 1
                      THEN cnt ELSE -cnt END) AS s
      FROM tok CROSS JOIN
           (SELECT unnest(generate_series(0, {SIMHASH_BITS - 1})) AS i) b
      GROUP BY doc_id, b.i
    ),
    sig AS (
      SELECT doc_id,
             sum(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << i) ELSE 0 END) AS simhash
      FROM bits GROUP BY doc_id
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           bit_count(xor(a.simhash, b.simhash)) AS hamming
    FROM sig a JOIN sig b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
    """,
)
def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs: Hamming distance ≤ 3 on the corpus'
    32-bit signatures via the multi-index blocked operator
    `simhash_hamming_pairs` (see its doc + _SIMHASH_COMBOS) — never
    the O(n²) pair join the oracle is allowed to use at toy SF."""
    return simhash_hamming_pairs(dedup_simhash(spark, sf_dir))


_STOP_DF_MIN = 5  # stop-shingle floor: never cut below this doc-frequency
_STOP_DF_FRAC = 0.01  # ...or 1% of the corpus, whichever is larger
# ...but never above this ABSOLUTE ceiling: the fractional rule alone
# would let a ceiling-DF posting list grow with the corpus (1% of
# 10B docs = a 100M-element posting list in one row = executor OOM,
# and C(df,2) pair fan-out in the quadrillions).  A shingle shared
# by >1000 documents is boilerplate at ANY corpus size; capping here
# bounds the worst SURVIVING posting list at ~8 KB and the worst
# per-shingle pair fan-out at C(1000,2) ≈ 500k rows.  The cap only
# bounds what survives the cut, NOT the pre-cut aggregation — so the
# index build only materializes a per-shingle doc set where a raw
# count pre-pass PROVES it bounded (raw instances ≤ thresh ⇒ df ≤
# thresh); hot candidates route through a pair-keyed dedup + plain
# count + semi-join that never merges a hot shingle into one buffer
# (see _ngram_pair_scores).  At the test SFs the fractional rule
# binds first (60 docs at sf0.1), so results are unchanged there —
# both engines apply the identical least/greatest.
_STOP_DF_CAP = 1000


@register(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH sh AS (
      SELECT DISTINCT doc_id,
             {_H_SQL.format(x="shingle")} % 1073741824 AS h
      FROM ({_SHINGLES_SQL})
    ),
    tot AS (SELECT count(*) AS n_docs FROM documents),
    dfreq AS (SELECT h, count(*) AS df FROM sh GROUP BY h),
    hot AS (
      SELECT h FROM dfreq, tot
      WHERE df > least({_STOP_DF_CAP},
                       greatest({_STOP_DF_MIN}, {_STOP_DF_FRAC} * n_docs))
    ),
    kept AS (
      SELECT doc_id, h FROM sh
      WHERE h NOT IN (SELECT h FROM hot)
    ),
    lang AS (SELECT doc_id, lang FROM documents),
    sh_l AS (SELECT kept.doc_id, lang, h
             FROM kept JOIN lang USING (doc_id)),
    counts AS (SELECT doc_id, count(*) AS n FROM kept GROUP BY doc_id),
    inter AS (
      SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, count(*) AS i
      FROM sh_l x JOIN sh_l y
        ON x.lang = y.lang AND x.h = y.h AND x.doc_id < y.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           round(CAST(i AS DOUBLE) / (na.n + nb.n - i) - 1e-9, {_R}) + 0.0 AS jaccard
    FROM inter
    JOIN counts na ON na.doc_id = doc_a
    JOIN counts nb ON nb.doc_id = doc_b
    WHERE CAST(i AS DOUBLE) / (na.n + nb.n - i) >= 0.4
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise n-gram Jaccard via a LANG-BLOCKED inverted index with
    a stop-shingle cut.  The index groupBy(h) computes each shingle's
    global document frequency; lists with df > min(1000, max(5, 1% of
    corpus)) are dropped (a shingle in d docs fans out into d·(d-1)/2
    pairs — one boilerplate line shared by 1% of a 10B-doc corpus
    alone would generate 5e15, so the DF ceiling is what bounds the
    operator at scale, and ubiquitous shingles carry no near-dup
    signal anyway).  Surviving postings regroup per (lang, h) — the
    query's own language block, applied BEFORE the quadratic step
    instead of on the scored pairs: Σ over langs of the squared lang
    share < 1 cuts the pair fan-out ~4× on the en-heavy fixture mix.
    Each (lang, h) list carries (doc_id, kept_count) structs, so the
    combination expansion (pure codegen, at most C(ceiling, 2) pairs
    per shingle) emits pair rows whose single groupBy yields the
    intersection size i NEXT TO both set sizes — the Jaccard test
    i/(na+nb-i) >= t closes right on the aggregate, with no
    counts/lang re-join behind the quadratic stage at all.  sf1 A/B
    (50k docs, 3.4M instances, Σ C(df,2)=193M, one warm session):
    this shape 18.7s vs 61.3s for the score-then-join form, hash-
    identical output; a PPJoin prefix+positional candidate pass
    (tools/probe_prefix_filter.py machinery) measured 46.5s un-blocked
    and 17.1s lang-blocked but only with a corpus-sized broadcast in
    its verify join, so the count-filter form wins at scale; pushing
    a broadcast scalar overlap floor under the groupBy measured 106s
    (BNLJ behind the wide agg) — rejected.  The ceiling's guarantee
    is UNCONDITIONAL, not distribution-dependent: Σ C(df,2) ≤
    (cap/2)·kept_instances ≈ 30k pair rows per document worst-case —
    tools/probe_ngram_pairs.py verifies the bound numerically to
    400k docs on both a fixed-vocabulary (adversarially dense,
    saturates toward the bound) and a growing-vocabulary (realistic,
    ~3% of bound) corpus.  r11 reshape: the index build's pre-cut
    collect_set buffer is now hot-key-bounded via a raw-count-routed
    hybrid (A/B in _ngram_pair_scores; full-query best-of-3, one
    warm session: sf1 11.3 s vs 10.8 s pre-fix — noise — and sf0.1
    2.25→3.24 s, the bound's small-SF constant; in bench position
    it measures ~3.9-4.1 s, so the r11 guard's +56%-vs-r10 flag is
    this documented trade, not an accident; the always-dedup shape
    the r10 review sketched measured 15.6 s at sf1 and was
    rejected).  r10 bench-step attribution (r10 verdict item 5):
    of the r10 ×1.41 (1.85→2.62 s), the host moved ×1.2-1.3 that
    round (phase-matched calib) and the lang-regroup's extra
    shuffle accounts for the remainder — consistent with the
    isolated ~+0.4 s the regroup costs at sf0.1."""
    pairs, _ = _ngram_pair_scores(spark, sf_dir)
    jac = F.col("i").cast("double") / (F.col("na") + F.col("nb") - F.col("i"))
    return (
        pairs.filter(jac >= 0.4)
        .select("doc_a", "doc_b", F.round(jac - 1e-9, _R).alias("jaccard"))
    )


def _ngram_pair_scores(spark: SparkSession, sf_dir: str):
    """Stop-cut, lang-blocked inverted index → (same-lang co-occurring
    pairs scored as (doc_a, doc_b, na, nb, i), docs).  Shared by the
    Jaccard and containment queries — see dedup_ngram_jaccard's
    docstring for the full scale rationale (DF ceiling, lang-first
    blocking, struct-carrying combination expansion).  Every wide op
    moves fixed-width rows, never shingle strings; the corpus total
    rides a broadcast 1-row crossJoin; no driver action anywhere.
    Complete for any consumer threshold: the groupBy emits EVERY
    same-lang pair sharing >= 1 kept shingle with its exact i.

    Scan-count note: the hybrid build scans documents→shingles three
    times (raw-count pass, safe anti branch, suspect semi branch).
    Caching `inst` instead was A/B'd and lost locally (sf0.1 1.67 s
    vs 1.66, sf1 2.59 vs 2.04 — cache write exceeds the re-shingle
    cost when the whole corpus sits in page cache); on a cluster
    whose scan is remote-I/O-bound, `pin(inst)` (16 B/instance,
    ≈ the text's own footprint) is the one-line knob to flip the
    trade the other way."""
    docs = load_table(spark, sf_dir, "documents")
    h30 = _h(F.col("shingle")) % F.lit(1_073_741_824)
    inst = docs.select(
        "doc_id", F.explode(_shingle_array(F.col("text"), 3)).alias("shingle")
    ).select("doc_id", h30.alias("h"))
    total = docs.agg(F.count("*").alias("n_docs"))
    thresh = F.least(
        F.lit(float(_STOP_DF_CAP)),
        F.greatest(
            F.lit(float(_STOP_DF_MIN)), F.lit(_STOP_DF_FRAC) * F.col("n_docs")
        ),
    )
    # Hot-key-bounded index build.  An earlier shape ran
    # groupBy(h).agg(collect_set(doc_id)) BEFORE the df cut, so the
    # cap bounded the OUTPUT posting list but not the intermediate
    # aggregation buffer — one boilerplate shingle shared by 1% of a
    # 10B-doc corpus would merge a ~100M-element set of UNTRACKED JVM
    # heap (collect_set state never registers with the memory
    # manager: it cannot spill, only OOM) on a single reducer before
    # the filter dropped the row.  A cheap RAW-count pre-pass
    # (constant per-key state, map-side combine — the partial-count
    # exchange is one row per (h, mapper)) now splits shingles:
    #
    # - SAFE (raw instance count ≤ thresh): since df ≤ raw count,
    #   the one-pass collect_set build is provably bounded at
    #   `thresh ≤ cap` elements per group — unconditionally, for any
    #   distribution — so the fast single-aggregation shape stays.
    # - SUSPECT (raw count > thresh — boilerplate candidates; zero
    #   at every committed SF, a vanishing head on any Zipf corpus,
    #   worst-case everything): per-doc dedup via dropDuplicates on
    #   the (h, doc_id) PAIR (a hot h spreads across reducers by
    #   doc_id), df as a plain count, the cut on counts alone, then
    #   a semi-join back — no state anywhere scales with a single
    #   shingle's df, and the skewed probe is streamed/spillable/
    #   AQE-skew-splittable rather than buffered.
    #
    # The suspect routing joins are unhinted: AQE broadcasts the
    # suspect set in the common case (tiny) and falls back to
    # shuffle joins on an adversarial corpus where it is large.
    # A/B (one warm session, best-of-3, noop sink, build phase only):
    # always-dedup-then-count-then-semi (the shape the r10 review
    # prescribed) costs 1.76 s sf0.1 / 8.30 s sf1 — the pair-keyed
    # dedup's reduce (one hash entry per instance) runs once per
    # consumer and is intrinsically heavier than the 30k-set object
    # agg it replaces; this hybrid measures 1.66 s / 2.04 s vs the
    # unbounded original's 0.72 s / 1.47 s, i.e. the unconditional
    # bound costs ~0.6-0.9 s constant instead of 5.7× at sf1.
    # tools/probe_ngram_hotkey.py measures the per-reducer ladder:
    # the unbounded shape's merge-stage max-task shuffle-read grows
    # linearly with a hot shingle's df; this build's aggregation
    # stages stay flat.  The kept INSTANCES are what both downstream
    # branches (per-doc counts, lang regroup) consume, so that is
    # what is pinned — bounded rows.
    raw = inst.groupBy("h").agg(F.count("*").alias("rc"))
    suspect = (
        raw.crossJoin(F.broadcast(total))
        .filter(F.col("rc") > thresh)
        .select("h")
    )
    safe_kept = (
        inst.join(suspect, "h", "left_anti")
        .groupBy("h")
        .agg(F.collect_set("doc_id").alias("ds"))
        .crossJoin(F.broadcast(total))
        .filter(F.size("ds") <= thresh)  # df ≤ rc ≤ thresh: invariant
        .select("h", F.explode("ds").alias("doc_id"))
    )
    sus_uniq = inst.join(suspect, "h", "left_semi").dropDuplicates(
        ["h", "doc_id"]
    )
    sus_keep = (
        sus_uniq.groupBy("h")
        .agg(F.count("*").alias("df"))
        .crossJoin(F.broadcast(total))
        .filter(F.col("df") <= thresh)
        .select("h")
    )
    kept_inst = pin(
        safe_kept.unionByName(sus_uniq.join(sus_keep, "h", "left_semi"))
    )
    counts = kept_inst.groupBy("doc_id").agg(F.count("*").alias("n"))
    # lang is a BLOCKING key downstream: the oracle's x.lang = y.lang
    # equality join never pairs NULL-lang docs, but groupBy would
    # bucket all NULLs into one group and emit those pairs — drop
    # them here (the committed generators never emit NULL lang, so
    # this is latent-parity hardening, not a behavior change at any
    # tested SF; pinned by tests/test_ngram_hotkey_bound.py::
    # test_null_lang_docs_never_pair).
    dmeta = counts.join(
        docs.select("doc_id", "lang").filter(F.col("lang").isNotNull()),
        "doc_id",
    )
    lists = (
        kept_inst.join(dmeta, "doc_id")
        .groupBy("lang", "h")
        .agg(F.sort_array(F.collect_list(F.struct("doc_id", "n"))).alias("ds"))
        .filter(F.size("ds") >= 2)
    )
    combos = F.flatten(
        F.transform(
            F.col("ds"),
            lambda x, i: F.transform(
                F.slice(F.col("ds"), i + F.lit(2), F.size(F.col("ds"))),
                lambda y: F.struct(
                    x["doc_id"].alias("a"),
                    x["n"].alias("na"),
                    y["doc_id"].alias("b"),
                    y["n"].alias("nb"),
                ),
            ),
        )
    )
    # r15: the pair aggregation deliberately SKIPS the partial
    # (map-side) combine.  Measured at sf1 (193M expansion rows,
    # 42.8M distinct pairs — dedup factor only 4.5×): the partial
    # HashAggregate buffered the pair set per map task and spilled
    # ~490 MB on BOTH sides of the exchange while the reduce side ran
    # at spark.sql.shuffle.partitions (8 in-bench) tasks — the whole
    # quadratic tail on 8 of 32 cores.  An explicit
    # repartition(2·parallelism, doc_a, doc_b) moves the exchange
    # BELOW the whole aggregation (HashPartitioning(a,b) satisfies
    # the clustering of (a,na,b,nb): na/nb are functions of a/b), so
    # both aggregate phases run fused at cluster width downstream of
    # the shuffle (plan: Generate → Exchange(2·par) → partial+final
    # HashAggregate): per-task state shrinks ~8×, no spill, every
    # core busy.
    # A/B (OPTIMIZATION_r15.md, "dedup_ngram_jaccard (+ containment
    # twin): pair aggregate at cluster width"; one warm session,
    # interleaved best-of-4, identity-checked): sf1 25.6 → 11.0 s
    # (fin=2; fin=1 15.5, fin=4 11.3, map-side-combine shapes
    # rep1/rep2 17.6/19.9);
    # sf0.1 2.39 → 2.85 s — the small-SF stage-overhead constant the
    # at-scale shape costs.  The raw-pair exchange moves ~2× the
    # partially-agged bytes but they are fixed-width 33 B rows; the
    # hash key (a,b) cannot be hot (a pair repeats at most once per
    # shared shingle, ≤ doc length).  2× parallelism (not a byte
    # target) keeps the count scale-adaptive: REPARTITION_BY_NUM is
    # exempt from AQE coalescing, so the width holds at any SF.
    exploded = lists.select(F.explode(combos).alias("p")).select(
        F.col("p.a").alias("doc_a"),
        F.col("p.na").alias("na"),
        F.col("p.b").alias("doc_b"),
        F.col("p.nb").alias("nb"),
    )
    pairs = (
        exploded.repartition(
            2 * spark.sparkContext.defaultParallelism, "doc_a", "doc_b"
        )
        .groupBy("doc_a", "na", "doc_b", "nb")
        .agg(F.count("*").alias("i"))
    )
    return pairs, docs


@register(
    "dedup_connected_components",
    oracle=f"""
    WITH RECURSIVE pairs AS (SELECT doc_a, doc_b FROM ({_MINHASH_PAIRS_SQL})),
    nodes AS (
      SELECT DISTINCT doc_id FROM (
        SELECT doc_a AS doc_id FROM pairs
        UNION ALL SELECT doc_b FROM pairs
      )
    ),
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION ALL
      SELECT doc_b AS src, doc_a AS dst FROM pairs
    ),
    reach(node, lbl) AS (
      SELECT doc_id, doc_id FROM nodes
      UNION
      SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.node
    )
    SELECT node AS doc_id, min(lbl) AS cluster_id
    FROM reach GROUP BY node
    """,
)
def dedup_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairs → duplicate CLUSTERS: connected components over the
    LSH-verified near-dup pairs by iterative min-label propagation
    (the Pregel superstep shape: each round every node takes the min
    label among itself and its neighbors; fixpoint when no label
    drops).  This is the step that turns pairwise dedup output into
    the keep/drop decision — min doc_id per component is the
    canonical survivor.

    Each round is one join + one partial-agg groupBy, both JVM-side;
    the driver sees only one scalar per round, the exact label sum,
    which repeats exactly when no label dropped (the standard
    convergence action for iterative algorithms — no data is ever
    collected).  The loop is `operators.graphcc.fixpoint`, which
    retains the final round until the next query entry.  Labels are
    `localCheckpoint`ed per round: a cache alone keeps the LOGICAL
    lineage growing — analysis + AQE re-planning then compound per
    round (measured: round costs grew 0.8s → 20s by round 3 under
    persist-only) — while checkpointing
    truncates the plan so every round re-optimizes a constant-size
    tree (measured: flat ~0.5s/round).  On a production cluster use
    `checkpoint()` against a reliable dir instead — same truncation,
    plus executor-loss recovery for long jobs.
    Rounds needed = component diameter + 1 (dup clusters are
    near-cliques → 2-3), within a budget of 10 that raises when
    exhausted (`operators.graphcc.connected_components_minlabel`); at
    100 TB swap min-propagation for the large-star/small-star
    alternation (Kiveris et al., "Connected Components in
    MapReduce"), which converges in O(log n) rounds on path-shaped
    graphs — the per-round plan here is unchanged.

    The pair list is read exactly once, by the symmetric-edge
    explode that the operator checkpoints, so it needs no cache of
    its own; round 1 comes straight off those edges (A/B against the
    earlier cached-pairs + identity-label prologue: CHANGES.md).

    The DuckDB oracle computes the same fixpoint as a recursive CTE —
    exact differential proof that an ITERATIVE DataFrame algorithm
    terminates at the right answer."""
    labels = connected_components_minlabel(
        dedup_minhash_lsh(spark, sf_dir), "doc_a", "doc_b"
    )
    return labels.select(F.col("node").alias("doc_id"), "cluster_id")


@register(
    "dedup_cc_star_contraction",
    oracle=f"""
    WITH RECURSIVE pairs AS (SELECT doc_a, doc_b FROM ({_MINHASH_PAIRS_SQL})),
    nodes AS (
      SELECT DISTINCT doc_id FROM (
        SELECT doc_a AS doc_id FROM pairs
        UNION ALL SELECT doc_b FROM pairs
      )
    ),
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION ALL
      SELECT doc_b AS src, doc_a AS dst FROM pairs
    ),
    reach(node, lbl) AS (
      SELECT doc_id, doc_id FROM nodes
      UNION
      SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.node
    )
    SELECT node AS doc_id, min(lbl) AS cluster_id
    FROM reach GROUP BY node
    """,
)
def dedup_cc_star_contraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components by LARGE-STAR / SMALL-STAR contraction
    (Kiveris et al., "Connected Components in MapReduce and Beyond")
    — the O(log n)-round scale path that dedup_connected_components'
    docstring promises for 100 TB, implemented and differentially
    proven against the same recursive-CTE oracle.

    Min-label propagation needs rounds ∝ component DIAMETER — fine
    for near-clique dup clusters, ruinous for path/chain-shaped
    components (a 1M-node chain = 1M rounds).  Star contraction
    instead rewires the graph itself each round:

    - large-star: every node connects its strictly-LARGER neighbors
      to its smallest neighbor-or-self — one groupBy(min) + one
      equi-join per round;
    - small-star: every node connects its not-larger neighbors and
      itself to the minimum — same two-exchange shape.

    Each alternation at least halves the distance of every node to
    its component minimum, so convergence is O(log n) rounds
    REGARDLESS of topology, with per-round cost identical to one
    propagation superstep.  Convergence is detected from a two-scalar
    edge-set checksum (count + hash sum — the only values the driver
    ever sees); per-round `localCheckpoint` truncates lineage exactly
    as in the propagation variant, superseded round blocks are
    released eagerly, and the converged stars are retained until the
    next query entry — the same `operators.graphcc.fixpoint` loop.
    At the fixpoint the edge set IS the answer: a star
    (v → component-min) per component."""
    # the operator reads the pair list once (its first checkpoint), so
    # the pairs need no cache of their own
    labels = connected_components_star(
        dedup_minhash_lsh(spark, sf_dir), "doc_a", "doc_b"
    )
    return labels.select(F.col("node").alias("doc_id"), "cluster_id")


@register(
    "dedup_report",
    oracle=f"""
    WITH RECURSIVE pairs AS (SELECT doc_a, doc_b FROM ({_MINHASH_PAIRS_SQL})),
    nodes AS (
      SELECT DISTINCT doc_id FROM (
        SELECT doc_a AS doc_id FROM pairs
        UNION ALL SELECT doc_b FROM pairs
      )
    ),
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION ALL
      SELECT doc_b AS src, doc_a AS dst FROM pairs
    ),
    reach(node, lbl) AS (
      SELECT doc_id, doc_id FROM nodes
      UNION
      SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.node
    ),
    cc AS (SELECT node AS doc_id, min(lbl) AS cluster_id FROM reach GROUP BY node),
    exact_groups AS (
      SELECT doc_id, min(doc_id) OVER (PARTITION BY digest) AS keeper
      FROM (SELECT doc_id, md5(lower(trim(text))) AS digest FROM documents)
    ),
    exact_drops AS (
      SELECT doc_id, 'exact' AS reason, keeper AS canonical_id
      FROM exact_groups WHERE doc_id != keeper
    ),
    near_keeper AS (
      SELECT doc_id, min(doc_id) OVER (PARTITION BY cluster_id) AS keeper
      FROM cc
    ),
    near_drops AS (
      SELECT doc_id, 'near' AS reason, keeper AS canonical_id
      FROM near_keeper
      WHERE doc_id != keeper
        AND doc_id NOT IN (SELECT doc_id FROM exact_drops)
    )
    SELECT * FROM exact_drops UNION ALL SELECT * FROM near_drops
    """,
)
def dedup_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup END PRODUCT: one drop-list combining every signal —
    exact duplicates (normalized-text digest groups, keep min doc_id)
    and near-duplicates (LSH pairs → connected components, keep min
    doc per cluster, minus docs the exact pass already dropped).
    Each dropped doc carries its reason and the canonical survivor to
    attribute it to; the keep-set is the complement.  This is the
    table a 100 TB curation run actually materializes: downstream
    training jobs anti-join it, auditors group by reason/canonical.
    All signals compose via keys (digest / cluster label) — adding a
    SimHash or embedding-cosine signal is one more UNION branch."""
    d = load_table(spark, sf_dir, "documents")
    from pyspark.sql.window import Window

    digest = F.md5(F.lower(F.trim(F.col("text"))))
    eg = d.select("doc_id", digest.alias("digest")).withColumn(
        "keeper", F.min("doc_id").over(Window.partitionBy("digest"))
    )
    exact_drops = eg.filter(F.col("doc_id") != F.col("keeper")).select(
        "doc_id", F.lit("exact").alias("reason"),
        F.col("keeper").alias("canonical_id"),
    )
    cc = dedup_connected_components(spark, sf_dir)
    near_drops = (
        cc.withColumn(
            "keeper", F.min("doc_id").over(Window.partitionBy("cluster_id"))
        )
        .filter(F.col("doc_id") != F.col("keeper"))
        .join(exact_drops.select("doc_id"), on="doc_id", how="left_anti")
        .select(
            "doc_id", F.lit("near").alias("reason"),
            F.col("keeper").alias("canonical_id"),
        )
    )
    return exact_drops.unionByName(near_drops)


@register(
    "dedup_incremental_batch",
    oracle="""
    WITH hashed AS (
      SELECT doc_id, sha256(lower(trim(text))) AS digest FROM documents
    ), existing AS (
      SELECT DISTINCT digest FROM hashed WHERE doc_id < 300
    ), batch AS (
      SELECT * FROM hashed WHERE doc_id >= 300
    )
    SELECT b.doc_id, b.digest,
           CASE WHEN e.digest IS NOT NULL THEN 'dup_of_corpus'
                WHEN b.doc_id <> min(b.doc_id) OVER (PARTITION BY b.digest)
                  THEN 'dup_in_batch'
                ELSE 'new' END AS status
    FROM batch b LEFT JOIN existing e ON b.digest = e.digest
    """,
)
def dedup_incremental_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-ingestion dedup — the production shape: a NEW batch
    is checked against the EXISTING corpus's digest index (left join
    on 32-byte hashes; the index never rescans document bodies), and
    then within-batch first-per-digest picks one survivor among the
    genuinely new documents.  Each new doc gets a status:
    dup_of_corpus / dup_in_batch / new.  At 100 TB the existing-digest
    side is an append-only table partitioned by digest prefix; the
    batch (always the small side) broadcasts against it, so daily
    ingestion cost scales with the batch, not the corpus."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.sha2(F.lower(F.trim(F.col("text"))), 256).alias("digest")
    )
    existing = d.filter(F.col("doc_id") < 300).select("digest").distinct()
    batch = d.filter(F.col("doc_id") >= 300)
    j = batch.join(
        existing.withColumnRenamed("digest", "e_digest"),
        F.col("digest") == F.col("e_digest"),
        "left",
    )
    from pyspark.sql.window import Window

    first_in_batch = F.min("doc_id").over(Window.partitionBy("digest"))
    status = (
        F.when(F.col("e_digest").isNotNull(), "dup_of_corpus")
        .when(F.col("doc_id") != first_in_batch, "dup_in_batch")
        .otherwise("new")
    )
    return j.select("doc_id", "digest", status.alias("status"))


_SPAN_K = 8  # tokens per duplicate-detection gram


@register(
    "dedup_duplicate_spans",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id,
             unnest(string_split(text, ' ')) AS tok,
             generate_subscripts(string_split(text, ' '), 1) AS pos
      FROM documents
    ),
    gram AS (
      SELECT doc_id, pos AS s, pos + {_SPAN_K - 1} AS e,
             tok || ' ' || {" || ' ' || ".join(
                 f"lead(tok, {i}) OVER w" for i in range(1, _SPAN_K)
             )} AS g
      FROM tok WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
      QUALIFY lead(tok, {_SPAN_K - 1}) OVER w IS NOT NULL
    ),
    dup AS (
      SELECT g FROM gram GROUP BY g HAVING min(doc_id) <> max(doc_id)
    ),
    hits AS (SELECT doc_id, s, e FROM gram JOIN dup USING (g)),
    flagged AS (
      SELECT doc_id, s, e,
             CASE WHEN s > coalesce(max(e) OVER (
                    PARTITION BY doc_id ORDER BY s, e
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                    -9223372036854775808)
                  THEN 1 ELSE 0 END AS new_island
      FROM hits
    ),
    islands AS (
      SELECT doc_id, s, e,
             sum(new_island) OVER (
               PARTITION BY doc_id ORDER BY s, e
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island_id
      FROM flagged
    ),
    cov AS (
      SELECT doc_id, CAST(sum(len) AS BIGINT) AS dup_tokens FROM (
        SELECT doc_id, island_id, max(e) - min(s) + 1 AS len
        FROM islands GROUP BY doc_id, island_id
      ) GROUP BY doc_id
    )
    SELECT d.doc_id,
           length(string_split(d.text, ' ')) AS n_tokens,
           coalesce(cov.dup_tokens, 0) AS dup_tokens,
           round(CAST(coalesce(cov.dup_tokens, 0) AS DOUBLE)
                 / length(string_split(d.text, ' ')) - 1e-9, {_R}) + 0.0
             AS dup_frac
    FROM documents d LEFT JOIN cov ON cov.doc_id = d.doc_id
    """,
)
def dedup_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level duplication per document — the training-data
    signal behind 'dedup at the span level, not the doc level'
    (verbatim boilerplate, licenses, templated headers survive
    doc-level dedup): for each doc, the fraction of token positions
    covered by any k-token gram (k = _SPAN_K = 8) that also occurs
    in ANOTHER document.

    Scale shape (the same pipeline you would run at 100 TB):
    1. grams are built JVM-side from the token array (the shared
       shingle transform — no token explode, no per-doc window);
       each doc emits len-k+1 (start, end, gram) rows;
    2. gram identity travels as the 60-bit portable md5 hash, so the
       cross-doc frequency shuffle moves 8-byte keys, not k-token
       strings (collision odds across g grams ~ g^2/2^61 — at the
       ~10^10-gram scale where that bites, widen to the 120-bit
       double-hash);
    3. cross-doc grams = one partial-agg groupBy keeping min!=max
       doc_id — no distinct-count, no join back to bodies;
    4. hit spans merge per doc with the gaps-and-islands running-max
       window (bounded by doc length — never data-sized), so nested
       and overlapping spans never double-count a token.

    Docs shorter than k tokens emit no grams and report 0 — kept by
    the final left join against the corpus spine.

    Scale probe (tools/probe_duplicate_spans.py, 100k synthetic docs
    with a 16-token boilerplate run planted in every 10th doc,
    local[32]): exactly the 10,000 planted docs flagged — zero false
    positives against a 50k-token vocabulary — mean dup fraction
    0.267 = the planted 16/60 exactly; 27 s end-to-end."""
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id",
        F.size(F.split(F.col("text"), " ")).alias("n_tokens"),
        "text",
    )
    grams = base.select(
        "doc_id",
        F.posexplode(_shingle_array(F.col("text"), _SPAN_K)).alias(
            "pos0", "g"
        ),
    ).select(
        "doc_id",
        (F.col("pos0") + 1).alias("s"),
        (F.col("pos0") + _SPAN_K).alias("e"),
        _h(F.col("g")).alias("gh"),
    )
    # grams feeds TWO plan branches — the cross-doc frequency agg and
    # the hit-span probe — so without a pin the posexplode + md5 gram
    # hash lineage executes once per branch.  One pin of the
    # fixed-width (doc_id, s, e, gh) rows (≈32 B/gram, the md5 work
    # paid once) serves both: r14 A/B, one warm session, interleaved
    # best-of-3 at sf0.1 — 2.06 s unstored vs 1.52 s stored (−27%).
    # Eager: both consumers sit inside ONE job, and a lazy pin makes
    # it a scheduler race whether the second branch hits warm blocks
    # or re-runs the gram lineage.
    grams = pin(grams)
    dup = (
        grams.groupBy("gh")
        .agg(F.min("doc_id").alias("mn"), F.max("doc_id").alias("mx"))
        .filter(F.col("mn") != F.col("mx"))
        .select("gh")
    )
    hits = grams.join(dup, "gh").select("doc_id", "s", "e")
    w = Window.partitionBy("doc_id").orderBy("s", "e")
    prev_max_e = F.max("e").over(w.rowsBetween(Window.unboundedPreceding, -1))
    flagged = hits.select(
        "doc_id", "s", "e",
        F.when(F.col("s") > F.coalesce(prev_max_e, F.lit(-(2**63))), 1)
        .otherwise(0)
        .alias("new_island"),
    )
    islands = flagged.select(
        "doc_id", "s", "e",
        F.sum("new_island").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ).alias("island_id"),
    )
    cov = (
        islands.groupBy("doc_id", "island_id")
        .agg((F.max("e") - F.min("s") + 1).alias("len"))
        .groupBy("doc_id")
        .agg(F.sum("len").alias("dup_tokens"))
    )
    return base.join(cov, "doc_id", "left").select(
        "doc_id",
        "n_tokens",
        F.coalesce(F.col("dup_tokens"), F.lit(0)).alias("dup_tokens"),
        (
            F.round(
                F.coalesce(F.col("dup_tokens"), F.lit(0)).cast("double")
                / F.col("n_tokens")
                - 1e-9,
                _R,
            )
            + F.lit(0.0)
        ).alias("dup_frac"),
    )


_CONTAIN_T = 0.8


@register(
    "dedup_ngram_containment",
    oracle=f"""
    WITH sh AS (
      SELECT DISTINCT doc_id,
             {_H_SQL.format(x="shingle")} % 1073741824 AS h
      FROM ({_SHINGLES_SQL})
    ),
    tot AS (SELECT count(*) AS n_docs FROM documents),
    dfreq AS (SELECT h, count(*) AS df FROM sh GROUP BY h),
    hot AS (
      SELECT h FROM dfreq, tot
      WHERE df > least({_STOP_DF_CAP},
                       greatest({_STOP_DF_MIN}, {_STOP_DF_FRAC} * n_docs))
    ),
    kept AS (
      SELECT doc_id, h FROM sh WHERE h NOT IN (SELECT h FROM hot)
    ),
    lang AS (SELECT doc_id, lang FROM documents),
    counts AS (SELECT doc_id, count(*) AS n FROM kept GROUP BY doc_id),
    inter AS (
      SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, count(*) AS i
      FROM kept x JOIN kept y ON x.h = y.h AND x.doc_id < y.doc_id
      GROUP BY 1, 2
    ),
    scored AS (
      SELECT doc_a, doc_b, i, na.n AS na, nb.n AS nb
      FROM inter
      JOIN counts na ON na.doc_id = doc_a
      JOIN counts nb ON nb.doc_id = doc_b
      JOIN lang la ON la.doc_id = doc_a
      JOIN lang lb ON lb.doc_id = doc_b
      WHERE la.lang = lb.lang
    )
    SELECT inner_doc, outer_doc,
           round(c - 1e-9, {_R}) + 0.0 AS containment
    FROM (
      SELECT doc_a AS inner_doc, doc_b AS outer_doc,
             CAST(i AS DOUBLE) / na AS c FROM scored
      UNION ALL
      SELECT doc_b, doc_a, CAST(i AS DOUBLE) / nb FROM scored
    )
    WHERE c >= {_CONTAIN_T}
    """,
)
def dedup_ngram_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ASYMMETRIC near-dup detection — containment(A in B) =
    |shingles(A) ∩ shingles(B)| / |shingles(A)|: the signal Jaccard
    misses when a short document is wholly quoted inside a longer one
    (quote-expansion, boilerplate-plus-content), where the union in
    the denominator dilutes the score below any symmetric threshold.
    Reuses the stop-cut, lang-blocked scoring machinery
    (_ngram_pair_scores) verbatim — same index shuffle, same DF
    ceiling, same struct-carrying codegen pair expansion, language
    block already applied BEFORE the quadratic step — and scores each
    unordered pair in BOTH directions, emitting directed
    (inner_doc, outer_doc) rows at containment >= 0.8."""
    scored, _ = _ngram_pair_scores(spark, sf_dir)
    fwd = scored.select(
        F.col("doc_a").alias("inner_doc"),
        F.col("doc_b").alias("outer_doc"),
        (F.col("i").cast("double") / F.col("na")).alias("c"),
    )
    rev = scored.select(
        F.col("doc_b").alias("inner_doc"),
        F.col("doc_a").alias("outer_doc"),
        (F.col("i").cast("double") / F.col("nb")).alias("c"),
    )
    return (
        fwd.unionByName(rev)
        .filter(F.col("c") >= _CONTAIN_T)
        .select(
            "inner_doc", "outer_doc",
            (F.round(F.col("c") - 1e-9, _R) + F.lit(0.0)).alias(
                "containment"
            ),
        )
    )


# source → keep priority (lower wins).  The fixture's sources are
# src0..src19; tier them by suffix so the priority leg genuinely
# discriminates: src0-5 = curated tier, src6-12 = web tier, rest =
# synthetic tier.
_PRIORITY_SQL = (
    "CASE WHEN CAST(substr(source, 4) AS BIGINT) <= 5 THEN 0 "
    "WHEN CAST(substr(source, 4) AS BIGINT) <= 12 THEN 1 ELSE 2 END"
)


@register(
    "dedup_priority_keep",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id, source,
             sha256(lower(trim(text))) AS digest,
             {_PRIORITY_SQL} AS prio
      FROM documents
    ),
    ranked AS (
      SELECT doc_id, source, digest, prio,
             row_number() OVER (PARTITION BY digest
                                ORDER BY prio, doc_id) AS rn,
             count(*) OVER (PARTITION BY digest) AS n_copies
      FROM scored
    )
    SELECT doc_id, source,
           CAST(n_copies AS BIGINT) AS n_copies,
           (rn = 1) AS keep,
           CASE WHEN rn = 1 THEN NULL
                WHEN n_copies > 1 AND prio > (
                  SELECT min(prio) FROM ranked r2
                  WHERE r2.digest = ranked.digest)
                THEN 'lower_priority_source' ELSE 'duplicate_same_tier'
           END AS drop_reason
    FROM ranked
    """,
)
def dedup_priority_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Priority-aware exact-dup survivor selection — multi-source
    corpus curation's real rule: when the same document arrives from
    several sources, keep the copy from the most trusted tier
    (curated > web > synthetic), not merely the lowest id, and
    record WHY each loser was dropped (out-prioritized vs same-tier
    duplicate) for the curation audit.  One digest-keyed window pair
    (rank + per-group count + per-group min-priority) over the
    hashed corpus — same single-shuffle profile as dedup_exact; the
    audit columns are free riders on the same exchange."""
    from pyspark.sql.window import Window as W

    d = load_table(spark, sf_dir, "documents")
    src_n = F.substring("source", 4, 10).cast("long")
    prio = (
        F.when(src_n <= 5, 0).when(src_n <= 12, 1).otherwise(2)
    )
    scored = d.select(
        "doc_id", "source",
        F.sha2(F.lower(F.trim(F.col("text"))), 256).alias("digest"),
        prio.alias("prio"),
    )
    wd = W.partitionBy("digest")
    ranked = scored.select(
        "doc_id", "source", "prio",
        F.row_number().over(wd.orderBy("prio", "doc_id")).alias("rn"),
        F.count("*").over(wd).alias("n_copies"),
        F.min("prio").over(wd).alias("best_prio"),
    )
    return ranked.select(
        "doc_id", "source",
        F.col("n_copies").cast("long").alias("n_copies"),
        (F.col("rn") == 1).alias("keep"),
        F.when(F.col("rn") == 1, F.lit(None).cast("string"))
        .when(
            (F.col("n_copies") > 1) & (F.col("prio") > F.col("best_prio")),
            F.lit("lower_priority_source"),
        )
        .otherwise(F.lit("duplicate_same_tier"))
        .alias("drop_reason"),
    )


_EST_AGREE_SQL = " + ".join(
    f"CASE WHEN a.mh{s} = b.mh{s} THEN 1 ELSE 0 END"
    for s in range(NUM_HASHES)
)


@register(
    "dedup_minhash_estimate_certificate",
    oracle=f"""
    WITH sh AS ({_SHINGLES_SQL}),
    hashed AS (SELECT DISTINCT doc_id,
                      ({_H_SQL.format(x="shingle")} % 1073741824) AS h FROM sh),
    mh AS (SELECT doc_id, {_MH_MIN_SQL} FROM hashed GROUP BY doc_id),
    sig AS ({_SIG_UNION_SQL}),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM sig a JOIN sig b
        ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
    ),
    counts AS (SELECT doc_id, count(*) AS n FROM hashed GROUP BY doc_id),
    inter AS (
      SELECT c.doc_a, c.doc_b, count(*) AS i
      FROM cand c
      JOIN hashed x ON x.doc_id = c.doc_a
      JOIN hashed y ON y.doc_id = c.doc_b AND y.h = x.h
      GROUP BY c.doc_a, c.doc_b
    ),
    est AS (
      SELECT c.doc_a, c.doc_b,
             ({_EST_AGREE_SQL}) / {NUM_HASHES}.0 AS est_j
      FROM cand c
      JOIN mh a ON a.doc_id = c.doc_a
      JOIN mh b ON b.doc_id = c.doc_b
    ),
    scored AS (
      SELECT e.doc_a, e.doc_b, e.est_j,
             CAST(coalesce(i.i, 0) AS DOUBLE)
               / (na.n + nb.n - coalesce(i.i, 0)) AS ex
      FROM est e
      LEFT JOIN inter i ON i.doc_a = e.doc_a AND i.doc_b = e.doc_b
      JOIN counts na ON na.doc_id = e.doc_a
      JOIN counts nb ON nb.doc_id = e.doc_b
    )
    SELECT doc_a, doc_b,
           round(est_j - 1e-9, {_R}) + 0.0 AS est_jaccard,
           round(ex - 1e-9, {_R}) + 0.0 AS exact_jaccard,
           round(abs(est_j - ex) - 1e-9, {_R}) + 0.0 AS abs_err
    FROM scored
    """,
)
def dedup_minhash_estimate_certificate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Sketch-accuracy CERTIFICATE for the minhash estimator — for
    every LSH candidate pair, the signature-agreement estimate
    (matching seeds / {NUM_HASHES}) side by side with the exact
    Jaccard and the absolute error.  This is the quantified answer
    to 'how much do I trust the sketch': at 100 TB the exact leg
    runs on a SAMPLE of candidate pairs while the estimate is free
    for all of them, and this query IS that audit (same shape as
    the KLL/theta sketch certificates).  Candidate pairs with a
    band collision but zero common shingles get exact = 0 via the
    intersection — exactly the false-positive class the estimate
    overstates.  Plan: the same checkpointed per-doc table and bucket
    candidates as dedup_minhash_lsh (never n²), both sides' rows
    joined onto each pair; est_j reads the mh columns and the exact
    Jaccard the shingle-set sizes."""
    docs = pin(_minhash_docs(spark, sf_dir))
    agree = sum(
        F.when(F.col(f"a.mh{s}") == F.col(f"b.mh{s}"), 1).otherwise(0)
        for s in range(NUM_HASHES)
    )
    est = agree / float(NUM_HASHES)
    i = F.size(F.array_intersect("a.hs", "b.hs")).cast("double")
    ex = i / (F.size("a.hs") + F.size("b.hs") - i)
    return _with_docs(_lsh_candidates(docs), docs).select(
        "doc_a",
        "doc_b",
        (F.round(est - 1e-9, _R) + 0.0).alias("est_jaccard"),
        (F.round(ex - 1e-9, _R) + 0.0).alias("exact_jaccard"),
        (F.round(F.abs(est - ex) - 1e-9, _R) + 0.0).alias("abs_err"),
    )


_ED_MAX_DIST = 16   # keep pairs within this many edits
_ED_BAND = 32       # length-band width; must be > _ED_MAX_DIST so a
                    # qualifying pair's bands differ by at most 1


@register(
    "dedup_edit_distance",
    scale_class="certificate",  # fixed band-key cardinality ⇒ block
    # populations (and candidate pairs) grow ~n²: measured 1.54 s
    # sf0.1 → 115.7 s sf1, α ≈ 1.9.  The correctness certificate for
    # the twin below — never in HEADLINE or a sweep above sf0.1
    # (tests/test_scale_class.py).
    twin="dedup_edit_distance_lsh",
    oracle=f"""
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           levenshtein(a.text, b.text) AS edit_dist
    FROM documents a JOIN documents b
      ON a.lang = b.lang AND a.doc_id < b.doc_id
     AND abs(a.n_chars - b.n_chars) <= {_ED_MAX_DIST}
    WHERE levenshtein(a.text, b.text) <= {_ED_MAX_DIST}
    """,
)
def dedup_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance near-dup verification — (doc_a, doc_b,
    edit_dist) for every same-lang pair within {_ED_MAX_DIST} edits:
    the classic FINAL verify stage of a dedup pipeline (MinHash/
    SimHash candidates answer 'probably similar'; Levenshtein
    answers 'how many keystrokes apart', the contract a curation
    team actually reviews).

    Scale shape — never O(n²): candidates come from (lang,
    length-band) blocking.  A pair within {_ED_MAX_DIST} edits has
    |len diff| <= {_ED_MAX_DIST} < band width {_ED_BAND}, so its two
    band ids differ by at most 1; the right side is replicated into
    bands (k-1, k, k+1) and the left stays at its own band, so every
    qualifying pair meets EXACTLY once (the three replica bands are
    distinct and the left's single band hits one of them) — the same
    manufactured-equi-key discipline as operators/rangejoin.py, no
    post-join dedup shuffle.  The verify itself is Spark's
    THRESHOLD levenshtein (banded DP, O(len·k) and early-exit -1
    past the cut, vs O(len²) full) — JVM codegen, no Python.  The
    DuckDB oracle is the naive within-lang quadratic predicate with
    the (implied) length prefilter: levenshtein >= |len diff|, so
    the filter never changes the result, only the oracle's cost.
    NULL-lang docs never pair on either engine (SQL equality vs
    equi-join, both null-rejecting) — the same latent-parity rule
    pinned for the ngram build.

    Measured at sf0.1 (5k docs, ~208k len-filtered candidates, 79
    pairs, warm best-of-3): 1.54 s with the explicit block-key
    exchange below vs 9.4 s single-task without it.

    SCALE ENVELOPE (honest): completeness costs quadratic growth —
    the (lang, band) key cardinality is FIXED by the corpus's length
    range, so block populations (and candidate pairs) grow with n²:
    measured 115.7 s at sf1 (α ≈ 1.9 vs sf0.1).  This form is the
    exactness certificate for moderate corpora and the oracle anchor;
    at 100 TB use dedup_edit_distance_lsh below — same verify, LSH
    band-collision candidates, the join_set_similarity precedent of
    benching the scalable form while the adversarial-complete one
    gates correctness at sf0.01."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "text", "n_chars"
    )
    band = F.floor(F.col("n_chars") / F.lit(_ED_BAND))
    # The verify is CPU-bound (banded DP on ~200k candidate pairs at
    # sf0.1), and the fixture is a single parquet file: without an
    # exchange the broadcast join ran the whole verify in ONE task
    # (9.4 s at sf0.1), and a column-only repartition was coalesced
    # right back to one partition by AQE's size-based rule (it sizes
    # bytes, not downstream CPU).  EXPLICIT numPartitions disables
    # that coalescing; defaultParallelism scales with the cluster, so
    # at 100 TB this stays one ordinary co-locating exchange.
    n_part = spark.sparkContext.defaultParallelism
    left = d.select(
        F.col("doc_id").alias("doc_a"),
        "lang",
        F.col("text").alias("text_a"),
        F.col("n_chars").alias("len_a"),
        band.alias("band"),
    ).repartition(n_part, "lang", "band")
    right = d.select(
        F.col("doc_id").alias("doc_b"),
        F.col("lang").alias("lang_b"),
        F.col("text").alias("text_b"),
        F.col("n_chars").alias("len_b"),
        F.explode(
            F.array(band - 1, band, band + 1)
        ).alias("band_r"),
    )
    dist = F.levenshtein("text_a", "text_b", _ED_MAX_DIST)
    return (
        left.join(
            right,
            (F.col("band") == F.col("band_r"))
            & (F.col("lang") == F.col("lang_b"))
            & (F.col("doc_a") < F.col("doc_b"))
            & (
                F.abs(F.col("len_a") - F.col("len_b"))
                <= F.lit(_ED_MAX_DIST)
            ),
        )
        .select("doc_a", "doc_b", dist.alias("edit_dist"))
        .filter(F.col("edit_dist") >= 0)
    )


@register(
    "dedup_edit_distance_lsh",
    twin="dedup_edit_distance",  # the exhaustive certificate
    oracle=f"""
    WITH sh AS ({_SHINGLES_SQL}),
    hashed AS (SELECT DISTINCT doc_id,
                      ({_H_SQL.format(x="shingle")} % 1073741824) AS h FROM sh),
    mh AS (SELECT doc_id, {_MH_MIN_SQL} FROM hashed GROUP BY doc_id),
    sig AS ({_SIG_UNION_SQL}),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM sig a JOIN sig b
        ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
    )
    SELECT c.doc_a, c.doc_b,
           levenshtein(da.text, db.text) AS edit_dist
    FROM cand c
    JOIN documents da ON da.doc_id = c.doc_a
    JOIN documents db ON db.doc_id = c.doc_b AND db.lang = da.lang
    WHERE levenshtein(da.text, db.text) <= {_ED_MAX_DIST}
    """,
)
def dedup_edit_distance_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance verify over LSH candidates — the 100 TB path for
    the edit-distance family.  The exhaustive twin
    (dedup_edit_distance above) is COMPLETE but its (lang,
    length-band) key cardinality is fixed by the length range, so
    blocks — and candidate pairs — grow quadratically with the
    corpus: measured 1.54 s at sf0.1 but 115.7 s at sf1 (α ≈ 1.9),
    the shape extra executors cannot fix.  This variant takes
    candidates from the SAME deterministic minhash band buckets
    as dedup_minhash_lsh (collisions, never n² — the pipeline's
    α is the LSH family's, 0.35 at the committed ladder) and runs
    the banded-DP threshold verify plus a same-lang filter on just
    those pairs.  Recall is the standard LSH envelope (a k-edit pair
    on an L-char doc keeps most of its word-3-gram shingles; with 4
    bands × 2 rows, P(candidate) = 1-(1-j²)⁴, ≈ 0.998 at j = 0.9) —
    the production near-dup contract: candidates probabilistic,
    verification exact.  The oracle replicates the ENTIRE pipeline
    (md5-derived hashes identical on both engines), so the
    differential check is exact, not statistical — the
    dedup_minhash_lsh precedent.

    Measured (warm best-of-3, full eviction between runs): 2.47 s at
    sf0.1, 3.87 s at sf1 (α ≈ 0.19) vs the exhaustive twin's 1.54 →
    115.7 s — 30× at sf1 and widening with the square."""
    # the per-doc table is read once (by the bucket explode): no cache
    cand = _lsh_candidates(_minhash_docs(spark, sf_dir))
    d = load_table(spark, sf_dir, "documents")
    da = d.select(
        F.col("doc_id").alias("__ida"),
        F.col("lang").alias("lang_a"),
        F.col("text").alias("text_a"),
    )
    db = d.select(
        F.col("doc_id").alias("__idb"),
        F.col("lang").alias("lang_b"),
        F.col("text").alias("text_b"),
    )
    dist = F.levenshtein("text_a", "text_b", _ED_MAX_DIST)
    return (
        cand.join(da, cand.doc_a == da.__ida)
        .join(
            db,
            (cand.doc_b == db.__idb)
            & (F.col("lang_a") == F.col("lang_b")),
        )
        .select("doc_a", "doc_b", dist.alias("edit_dist"))
        .filter(F.col("edit_dist") >= 0)
    )
