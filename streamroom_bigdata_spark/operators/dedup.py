"""Deduplication operators for LLM-data pipelines (SURVEY.md §2.11 L1-L2).

Exact dedup is a hash-groupBy (one shuffle on the 256-bit content hash — at
100 TB the hash shuffle moves 32-byte keys, not documents). Near-dup is
hand-rolled MinHash + banded LSH composed entirely from DataFrame built-ins
(shingle → per-seed min-hash → band keys → bucket self-join), so there is no
n² compare anywhere: candidate generation shuffles on band keys and the
exact-Jaccard verification only touches bucket-colliding pairs. The hash is
the md5-prefix portable hash (functions/hashing.py) so every step is
oracle-checkable in DuckDB — no randomness at query time.

SimHash uses frequency-weighted per-bit majority votes over token hashes; the
16-bit variant keeps the oracle SQL tractable while exercising the exact
algorithm shape (explode → per-bit signed sums → bit reassembly).
"""

from __future__ import annotations

import logging

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

logger = logging.getLogger(__name__)

from ..functions.hashing import (
    portable_hash64,
    portable_hash_mod,
    sql_hash64,
    sql_hash_mod,
)
from ..functions.reliability import materialize
from ..registry import register
from ..sources import load_table

N_MINHASH = 8          # minhash functions
N_BANDS = 4            # LSH bands (2 rows per band)
ROWS_PER_BAND = N_MINHASH // N_BANDS
SHINGLE_N = 3          # word n-gram size for minhash shingles
JACCARD_THRESHOLD = 0.3

# ---------------------------------------------------------------------------
# Exact dedup (L1)
# ---------------------------------------------------------------------------


@register(
    "dedup_exact",
    """
    SELECT sha256(text) AS content_hash,
           count(*) AS n_copies,
           min(doc_id) AS keep_doc_id
    FROM documents
    GROUP BY 1
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup (L1): sha2-256 content hash groupBy; the representative
    row is the minimum doc_id (deterministic keep policy)."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.groupBy(F.sha2("text", 256).alias("content_hash"))
        .agg(
            F.count("*").alias("n_copies"),
            F.min("doc_id").alias("keep_doc_id"),
        )
    )


@register(
    "dedup_normalized",
    """
    SELECT norm_hash, count(*) AS n_copies, min(doc_id) AS keep_doc_id
    FROM (
      SELECT doc_id,
             sha256(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))
               AS norm_hash
      FROM documents
    )
    GROUP BY norm_hash
    """,
)
def dedup_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup after text normalization (lowercase + whitespace collapse
    + trim) — catches trivially-reformatted duplicates."""
    docs = load_table(spark, sf_dir, "documents")
    norm = F.trim(F.regexp_replace(F.lower("text"), r"\s+", " "))
    return (
        docs.groupBy(F.sha2(norm, 256).alias("norm_hash"))
        .agg(F.count("*").alias("n_copies"), F.min("doc_id").alias("keep_doc_id"))
    )


# ---------------------------------------------------------------------------
# MinHash + LSH near-dup (L2)
# ---------------------------------------------------------------------------


def shingle_col(n: int = SHINGLE_N) -> F.Column:
    """Distinct word n-gram shingles of ``text``; documents shorter than n
    tokens use the whole text as their single shingle.

    REFERENCE SPELLING ONLY — the array form is what ``sql_shingles``
    (the oracle side) mirrors 1:1, and tests validate against it. Query
    paths use :func:`exact_shingle_rows` instead: the transform lambda
    here runs interpreted per element, the scale wall the round-11 sf≈10
    rehearsal measured (same strings, codegen lead() assembly)."""
    toks = F.split("text", " ")
    ngrams = F.transform(
        F.sequence(F.lit(0), F.size(toks) - n),
        lambda i: F.concat_ws(" ", *[F.element_at(toks, i + j + 1) for j in range(n)]),
    )
    return F.when(F.size(toks) >= n, F.array_distinct(ngrams)).otherwise(
        F.array(F.col("text"))
    )


def sql_shingles(n: int = SHINGLE_N) -> str:
    """DuckDB equivalent of :func:`shingle_col` (tokens are 1-indexed)."""
    parts = " || ' ' || ".join(f"toks[i + {j + 1}]" for j in range(n))
    return (
        f"CASE WHEN len(toks) >= {n} THEN "
        f"list_distinct(list_transform(range(0, len(toks) - {n - 1}), "
        f"i -> {parts})) ELSE [text] END"
    )


# One md5 per shingle, then k affine transforms (A_i*h + B_i) mod P — the
# classic k-permutation MinHash. P^2 < 2^63 keeps the product exact in int64
# under ANSI mode, in both Spark and DuckDB.
MH_P = 1_000_000_007
MH_A = [pow(31, i + 1, MH_P) for i in range(N_MINHASH)]
MH_B = [pow(17, i + 1, MH_P) for i in range(N_MINHASH)]


def exploded_shingles_of(docs: DataFrame) -> DataFrame:
    """(doc_id, h) for ANY (doc_id, text) frame — one row per (document,
    distinct hashed shingle). The flat, explode-first formulation everything
    downstream derives from (batch queries here AND the streaming crawl
    filter, streaming/neardup.py): signatures are a groupBy-min, set sizes a
    groupBy-count, and pair intersections a join-count — no nested-array
    operations past this point.

    Explode-THEN-hash matters: lambdas inside higher-order functions
    (``F.transform``) are evaluated interpreted, per element — an md5 chain
    there runs ~5x slower than the same md5 as a flat projection inside
    whole-stage codegen. Jaccard over hashed shingles equals Jaccard over
    the shingles up to 60-bit collisions (~1e-9).

    Rows are NOT globally deduplicated (measured dup rate at sf0.1: 0.1%):
    a full distinct exchange to strip 0.1% of rows costs more than every
    consumer absorbing duplicates for free — signature mins are
    dup-insensitive and set sizes / intersections use count_distinct inside
    aggregations they already pay for.

    Input-split-bound parallelism guard: a corpus delivered as fewer splits
    than cores (the fixtures are ONE 0.6 MB row group) would run the whole
    tokenize-and-hash pipeline on one task; spread the cheap pre-explode
    rows first. At real scale the corpus arrives as thousands of splits,
    the condition is false, and no extra shuffle is paid."""
    n_default = docs.sparkSession.sparkContext.defaultParallelism
    # .rdd is illegal on a streaming frame; the streaming near-dup filter
    # feeds micro-batch (batch) frames here, but guard anyway
    if not docs.isStreaming and docs.rdd.getNumPartitions() < n_default:
        docs = docs.repartition(n_default, "doc_id")
    toks = docs.select("doc_id", "text", F.split("text", " ").alias("toks"))
    n = SHINGLE_N
    # one explode path for both long and short docs (short docs emit the
    # sentinel position -1 → whole text as the single shingle): a single
    # whole-stage-codegen pipeline instead of a two-branch union, which
    # halves the generated code the first (cold) run must compile
    idx = F.when(
        F.size("toks") >= n, F.sequence(F.lit(0), F.size("toks") - n)
    ).otherwise(F.array(F.lit(-1)))
    s = F.when(
        F.col("i") >= 0,
        F.concat_ws(
            " ", *[F.element_at("toks", F.col("i") + j + 1) for j in range(n)]
        ),
    ).otherwise(F.col("text"))
    return toks.select(
        "doc_id", "text", "toks", F.explode(idx).alias("i")
    ).select("doc_id", portable_hash_mod(s, MH_P).alias("h"))


def exploded_shingle_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """:func:`exploded_shingles_of` over the documents fixture table."""
    return exploded_shingles_of(
        load_table(spark, sf_dir, "documents").select("doc_id", "text")
    )


def minhash_signatures_of(
    exploded: DataFrame, with_size: bool = False
) -> DataFrame:
    """(doc_id, mh_0..mh_{k-1}[, n_sh]) from an exploded-shingle frame —
    min over affine-transformed shingle hashes; one md5 per shingle, k
    integer transforms, one partial+final min-agg shuffle on doc_id. Flat
    output → fast columnar-cache path. ``with_size`` rides the shingle-set
    count on the SAME aggregate, so Jaccard verification needs no second
    pass over the shingle table."""
    aggs = [
        F.min((F.lit(MH_A[i]) * F.col("h") + F.lit(MH_B[i])) % F.lit(MH_P)).alias(
            f"mh_{i}"
        )
        for i in range(N_MINHASH)
    ]
    if with_size:
        # distinct-hash count == shingle-set size (input rows may carry the
        # ~0.1% within-document duplicates the explode no longer strips)
        aggs.append(F.count_distinct(F.col("h")).alias("n_sh"))
    return exploded.groupBy("doc_id").agg(*aggs)


def minhash_signature_df(
    spark: SparkSession, sf_dir: str, exploded: DataFrame | None = None
) -> DataFrame:
    """:func:`minhash_signatures_of` over the documents fixture table."""
    ex = exploded if exploded is not None else exploded_shingle_df(spark, sf_dir)
    return minhash_signatures_of(ex)


def signature_bands(sigs: DataFrame, keep: tuple[str, ...] = ()) -> DataFrame:
    """(doc_id, band_id, band_key[, *keep]) — the LSH banding of a signature
    frame, shared by batch candidate generation and the streaming band
    index. ``keep`` passes extra per-doc columns through the explode (e.g.
    the shingle-set size, so verification reads it off the materialized
    band table instead of re-aggregating the shingle table)."""
    return sigs.select(
        "doc_id",
        *keep,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_id"),
                        F.expr(expr).alias("band_key"),
                    )
                    for b, expr in enumerate(_band_exprs())
                ]
            )
        ).alias("band"),
    ).select("doc_id", *keep, "band.band_id", "band.band_key")


def _sql_minhash_cte(n_hash: int = N_MINHASH) -> str:
    mh_exprs = ", ".join(
        f"list_min(list_transform(hs, h -> ({MH_A[i]} * h + {MH_B[i]}) % {MH_P}))"
        f" AS mh_{i}"
        for i in range(n_hash)
    )
    return f"""
    toks AS (
      SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents
    ), shingled AS (
      SELECT doc_id, {sql_shingles()} AS shingles FROM toks
    ), hashed AS (
      SELECT doc_id,
             list_transform(shingles, s -> {sql_hash_mod('s', MH_P)}) AS hs
      FROM shingled
    ), sigs AS (
      SELECT doc_id, hs, {mh_exprs} FROM hashed
    )"""


_SIG_COLS = ", ".join(f"mh_{s}" for s in range(N_MINHASH))

minhash_signatures_oracle = f"""
WITH {_sql_minhash_cte()}
SELECT doc_id, {_SIG_COLS} FROM sigs
"""


@register("minhash_signatures", minhash_signatures_oracle)
def minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signatures (L2): k=8 portable-hash min-hashes per document."""
    return minhash_signature_df(spark, sf_dir)


def _band_exprs() -> list[str]:
    """band key = mh_{2b} * MH_P + mh_{2b+1} (injective; exact in int64)."""
    return [
        f"mh_{b * ROWS_PER_BAND} * {MH_P} + mh_{b * ROWS_PER_BAND + 1}"
        for b in range(N_BANDS)
    ]


# Hot-bucket cap (VERDICT r1 #5): a band bucket shared by many documents —
# a stop-phrase shingle, or a template duplicated thousands of times — makes
# the bucket self-join quadratic. Buckets over the cap switch from all-pairs
# to STAR-LINKING: every member pairs with the bucket's min doc_id, which
# generates O(bucket) candidates yet keeps every hot bucket CONNECTED at
# diameter 2, so downstream connected-components clustering (dedup_clusters,
# curation_pipeline) still groups mass-duplicated documents in ~2 propagation
# rounds — dropping the bucket outright would let a 2000-copy template evade
# dedup entirely. Trade: the pair LIST for a hot bucket is its spanning star,
# not all pairs (near_dup_pairs under-reports pairs inside hot buckets;
# cluster membership is preserved when hub-member pairs verify, which
# near-identical template copies do).
NEAR_DUP_MAX_BUCKET = 1_000

# Cap-aware candidate generation (round 8): replays lsh_candidate_pairs'
# hot-bucket star-link EXACTLY — buckets over NEAR_DUP_MAX_BUCKET
# contribute their spanning star on the min doc_id instead of all pairs —
# so the oracle matches at EVERY scale, including the sf≈1 quasi-clique
# corpus where the cap engages. At test scales the hot branch is empty and
# the SQL degenerates to the previous uncapped form (hashes unchanged).
near_dup_oracle = f"""
WITH {_sql_minhash_cte()}, bands AS (
  {" UNION ALL ".join(
      f"SELECT doc_id, {b} AS band_id, {expr} AS band_key FROM sigs"
      for b, expr in enumerate(_band_exprs())
  )}
), counted AS (
  SELECT doc_id, band_id, band_key,
         count(*) OVER (PARTITION BY band_id, band_key) AS bucket_n
  FROM bands
), cold AS (
  SELECT * FROM counted WHERE bucket_n <= {NEAR_DUP_MAX_BUCKET}
), hot AS (
  SELECT doc_id,
         min(doc_id) OVER (PARTITION BY band_id, band_key) AS hub
  FROM counted WHERE bucket_n > {NEAR_DUP_MAX_BUCKET}
), cand AS (
  SELECT DISTINCT doc_a, doc_b FROM (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM cold a JOIN cold b
      ON a.band_id = b.band_id AND a.band_key = b.band_key
     AND a.doc_id < b.doc_id
    UNION ALL
    SELECT hub AS doc_a, doc_id AS doc_b FROM hot WHERE doc_id <> hub
  )
), pairs AS (
  SELECT c.doc_a, c.doc_b,
         len(list_intersect(sa.hs, sb.hs))::DOUBLE
           / len(list_distinct(list_concat(sa.hs, sb.hs)))
           AS jaccard
  FROM cand c
  JOIN sigs sa ON c.doc_a = sa.doc_id
  JOIN sigs sb ON c.doc_b = sb.doc_id
)
SELECT doc_a, doc_b, round(jaccard, 6) AS jaccard
FROM pairs WHERE jaccard >= {JACCARD_THRESHOLD}
"""


def hot_bucket_report(bands: DataFrame, max_bucket_size: int) -> DataFrame:
    """(band_id, band_key, bucket_n) for buckets above the cap — run this to
    see (and log) what candidate generation will skip."""
    return (
        bands.groupBy("band_id", "band_key")
        .agg(F.count("*").alias("bucket_n"))
        .filter(F.col("bucket_n") > max_bucket_size)
    )


def counted_bands(bands: DataFrame) -> DataFrame:
    """Band table + per-bucket count, materialized once: the counted band
    table is tiny (N_BANDS rows per doc, flat ints) but its upstream —
    shingle explode → md5 → signature min-agg → band window — would
    otherwise recompute for each consumer (self-join left/right + hot path
    + size lookups)."""
    w = Window.partitionBy("band_id", "band_key")
    return materialize(bands.withColumn("_bucket_n", F.count("*").over(w)))


def lsh_candidate_pairs(
    bands: DataFrame,
    max_bucket_size: int | None = NEAR_DUP_MAX_BUCKET,
    log_dropped: bool = False,
    pre_counted: bool = False,
    carry_sizes: bool = False,
) -> DataFrame:
    """Distinct candidate (doc_a < doc_b) pairs from band-bucket collisions.
    Buckets at or under ``max_bucket_size`` contribute all pairs (the exact
    LSH semantics); larger buckets contribute their spanning STAR on the
    min doc_id — O(bucket) candidates that keep the bucket connected (at
    diameter 2) for clustering without going quadratic. The bucket count is
    a window over (band_id, band_key) — it shuffles on EXACTLY the key the
    self-join and the star window need, so one exchange serves all three,
    and nothing is collected or broadcast. ``log_dropped=True`` runs one
    extra count job to report the starred buckets.

    ``carry_sizes=True`` (requires an ``n_sh`` column on ``bands``) rides
    each document's shingle-set size through candidate generation as
    (n_a, n_b) — the Jaccard denominators then come off the pair rows
    directly and the verifier needs NO size-lookup joins."""
    if max_bucket_size is None:
        normal, hot = bands, None
    else:
        if log_dropped:
            chained = hot_bucket_report(bands, max_bucket_size).collect()
            if chained:
                logger.warning(
                    "near-dup LSH: star-linking %d hot band bucket(s) over cap %d: %s",
                    len(chained),
                    max_bucket_size,
                    [(r.band_id, r.band_key, r.bucket_n) for r in chained[:20]],
                )
        counted = bands if pre_counted else counted_bands(bands)
        normal = counted.filter(F.col("_bucket_n") <= max_bucket_size).drop(
            "_bucket_n"
        )
        hot = counted.filter(F.col("_bucket_n") > max_bucket_size)

    # materialization erased the band table's statistics, so WITHOUT a hint
    # Catalyst may broadcast one side of this self-join on a default size
    # estimate — measured at 516 MiB on the sf≈1 corpus (tools/
    # shuffle_audit.py), a driver OOM at real scale. shuffle_hash pins a
    # stats-independent plan on the same band-key shuffle the bucket-count
    # window already paid.
    a = normal.alias("a").hint("shuffle_hash")
    b = normal.alias("b")
    pair_cols = [
        F.col("a.doc_id").alias("doc_a"),
        F.col("b.doc_id").alias("doc_b"),
    ]
    if carry_sizes:
        pair_cols += [
            F.col("a.n_sh").alias("n_a"),
            F.col("b.n_sh").alias("n_b"),
        ]
    pairs = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(*pair_cols)
    )
    if hot is not None:
        # STAR-link, not chain-link (ADVICE r2): every member pairs with the
        # bucket's min doc_id. Still O(bucket) candidates, but the pair graph
        # has diameter 2 through the hub, so downstream hash-min label
        # propagation converges in ~2 rounds — a doc_id-sorted chain has
        # diameter ≈ bucket size and splits when the propagation loop's
        # round bound is hit before convergence.
        star_w = Window.partitionBy("band_id", "band_key")
        if carry_sizes:
            # min(struct) carries the hub's size along with its id in the
            # same window pass
            hub = F.min(F.struct("doc_id", "n_sh")).over(star_w)
            star = (
                hot.withColumn("_hub", hub)
                .filter(F.col("doc_id") != F.col("_hub.doc_id"))
                .select(
                    F.col("_hub.doc_id").alias("doc_a"),
                    F.col("doc_id").alias("doc_b"),
                    F.col("_hub.n_sh").alias("n_a"),
                    F.col("n_sh").alias("n_b"),
                )
            )
        else:
            star = (
                hot.withColumn("_hub", F.min("doc_id").over(star_w))
                .filter(F.col("doc_id") != F.col("_hub"))
                .select(
                    F.col("_hub").alias("doc_a"), F.col("doc_id").alias("doc_b")
                )
            )
        pairs = pairs.unionByName(star)
    return pairs.distinct()


@register("near_dup_pairs", near_dup_oracle)
def near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-duplicate pairs (L2): band the signatures, self-join
    on (band_id, band_key) buckets for candidates, verify candidates with
    exact shingle Jaccard. Everything flows from ONE materialized flat
    (doc_id, shingle-hash) table: signatures are a min-agg, candidate
    generation a hash shuffle on band keys, and the exact verification a
    join-count intersection (|A∩B| via equi-join on hash; |A∪B| =
    nA + nB − |A∩B|) — no n² compare and no nested-array ops anywhere, so
    every stage is a plain shuffle that scales linearly. Band buckets larger
    than ``NEAR_DUP_MAX_BUCKET`` switch to star-linked candidates (hot-key
    guard) so no single bucket can go quadratic."""
    ex = materialize(exploded_shingle_df(spark, sf_dir))
    # one aggregate produces signatures AND shingle-set sizes; the sizes
    # ride the banding explode into the materialized band table AND through
    # candidate generation (carry_sizes), so the Jaccard denominators below
    # come straight off the pair rows — no size-lookup joins at all
    sigs = minhash_signatures_of(ex, with_size=True)
    counted = counted_bands(signature_bands(sigs, keep=("n_sh",)))
    cand = lsh_candidate_pairs(counted, pre_counted=True, carry_sizes=True)

    # shuffle_hash: the shingle table is CORPUS-sized — its materialized
    # size ESTIMATE sits under the broadcast threshold while the
    # deserialized broadcast reality measured 192+295 MiB at sf≈1
    # (tools/shuffle_audit.py), i.e. an un-broadcastable side chosen for
    # broadcast on a bad estimate. Pin partition-local hash joins on the
    # doc-key shuffle instead; scale then follows the shuffle, not the
    # estimate.
    ex_a = ex.select(F.col("doc_id").alias("doc_a"), "h").hint("shuffle_hash")
    ex_b = ex.select(F.col("doc_id").alias("doc_b"), "h").hint("shuffle_hash")
    inter = (
        cand.join(ex_a, "doc_a")
        .join(ex_b, ["doc_b", "h"])
        .groupBy("doc_a", "doc_b", "n_a", "n_b")
        .agg(F.count_distinct(F.col("h")).alias("n_common"))
    )
    jaccard = F.col("n_common").cast("double") / (
        F.col("n_a") + F.col("n_b") - F.col("n_common")
    )
    return (
        inter.withColumn("jaccard", F.round(jaccard, 6))
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
        .select("doc_a", "doc_b", "jaccard")
    )


# ---------------------------------------------------------------------------
# Exact n-gram Jaccard (L2 oracle-path variant)
# ---------------------------------------------------------------------------

NGRAM_EXACT_N = 5

ngram_jaccard_oracle = f"""
WITH toks AS (
  SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents
), shingled AS (
  SELECT doc_id, {sql_shingles(NGRAM_EXACT_N)} AS shingles FROM toks
), exploded AS (
  SELECT doc_id, unnest(shingles) AS sh FROM shingled
), inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
  FROM exploded a JOIN exploded b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT i.doc_a, i.doc_b,
       round(i.n_common::DOUBLE
             / (len(sa.shingles) + len(sb.shingles) - i.n_common), 6)
         AS jaccard
FROM inter i
JOIN shingled sa ON i.doc_a = sa.doc_id
JOIN shingled sb ON i.doc_b = sb.doc_id
WHERE i.n_common::DOUBLE
      / (len(sa.shingles) + len(sb.shingles) - i.n_common) >= 0.1
"""


def exact_shingle_rows(docs: DataFrame, n: int = NGRAM_EXACT_N) -> DataFrame:
    """DISTINCT (doc_id, sh) n-gram shingle rows — the lead()-window
    spelling of ``shingle_col`` (identical strings, short docs emit the
    whole text as their single shingle). Same rationale as winnowing's
    round-11 rework (operators/text.py `_winnow_fp_rows`): building
    shingle strings inside an F.transform lambda runs interpreted per
    element and was measured as the scale wall at sf≈10; posexplode +
    lead() keeps the assembly inside whole-stage codegen with ONE
    (doc_id, pos) exchange+sort."""
    from pyspark.sql import Window

    toks = F.split("text", " ")
    tok = docs.filter(F.size(toks) >= n).select(
        "doc_id", F.posexplode(toks).alias("pos", "tok")
    )
    wl = Window.partitionBy("doc_id").orderBy("pos")
    leads = [F.lead("tok", j).over(wl) for j in range(1, n)]
    sh = (
        tok.select(
            "doc_id",
            F.concat_ws(" ", F.col("tok"), *leads).alias("sh"),
            leads[-1].isNotNull().alias("_full"),
        )
        .filter(F.col("_full"))
        .drop("_full")
    )
    short = docs.filter(F.size(toks) < n).select(
        "doc_id", F.col("text").alias("sh")
    )
    return sh.unionByName(short).distinct()


@register("ngram_jaccard_pairs", ngram_jaccard_oracle)
def ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard near-dup (L2 brute path): explode 5-gram
    shingles, self-join on shingle for intersection counts (candidates =
    docs sharing ≥1 shingle — the inverted-index trick, not n²), then
    |A∩B| / (|A|+|B|-|A∩B|). Serves as the exact oracle for the MinHash
    approximation in recall tests."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    exploded = exact_shingle_rows(docs, NGRAM_EXACT_N)
    sizes = exploded.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    a = exploded.alias("a")
    b = exploded.alias("b")
    inter = (
        a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count("*").alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b"))
    jac = F.col("n_common").cast("double") / (
        F.col("n_a") + F.col("n_b") - F.col("n_common")
    )
    # no broadcast hint on the per-doc sizes: one row PER DOCUMENT is
    # corpus-sized at scale — AQE broadcasts at runtime iff actually small
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(jac >= 0.1)
        .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"))
    )


# ---------------------------------------------------------------------------
# Containment / overlap-coefficient dedup (L2 directional variant)
# ---------------------------------------------------------------------------

#: overlap-coefficient cut: |A∩B| / min(|A|,|B|) ≥ this ⇒ the smaller
#: shingle set is (near-)contained in the larger
CONTAINMENT_THRESHOLD = 0.8

containment_oracle = f"""
WITH toks AS (
  SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents
), shingled AS (
  SELECT doc_id, list_distinct({sql_shingles(NGRAM_EXACT_N)}) AS shingles
  FROM toks
), exploded AS (
  SELECT doc_id, unnest(shingles) AS sh FROM shingled
), inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
  FROM exploded a JOIN exploded b ON a.sh = b.sh AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT i.doc_a, i.doc_b,
       round(i.n_common::DOUBLE / least(len(sa.shingles), len(sb.shingles)), 6)
         AS containment,
       round(i.n_common::DOUBLE
             / (len(sa.shingles) + len(sb.shingles) - i.n_common), 6)
         AS jaccard
FROM inter i
JOIN shingled sa ON i.doc_a = sa.doc_id
JOIN shingled sb ON i.doc_b = sb.doc_id
WHERE i.n_common::DOUBLE / least(len(sa.shingles), len(sb.shingles))
      >= {CONTAINMENT_THRESHOLD}
"""


@register("containment_dup_pairs", containment_oracle)
def containment_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directional near-dup detection by the OVERLAP COEFFICIENT
    |A∩B| / min(|A|,|B|) over DISTINCT 5-gram shingle sets — the
    subset-duplication case symmetric Jaccard structurally under-scores:
    a short document quoted whole inside a long one has containment ≈ 1
    while its Jaccard ≈ |A|/|B| can sit far below any dedup threshold.
    Standard kit in LLM-corpus curation next to MinHash (quote/boilerplate
    inclusion, truncated re-crawls of the same page).

    Plan shape = :func:`ngram_jaccard_pairs`' inverted-index join (docs
    sharing ≥1 shingle, never n²) on SET semantics (``array_distinct``
    before explode, so the coefficient is bounded by 1 even with repeated
    shingles); both the containment and the Jaccard ride out so a caller
    can see WHICH regime flagged the pair. Scale path: the same LSH band
    candidates (lsh_candidate_pairs) bound the pair set; this registered
    form is the exact oracle twin."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    # shingle_col is already distinct for long docs; exact_shingle_rows
    # keeps the identical set semantics in the lead()-window spelling
    exploded = exact_shingle_rows(docs, NGRAM_EXACT_N)
    sizes = exploded.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    a = exploded.alias("a")
    b = exploded.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.sh") == F.col("b.sh"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count("*").alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b"))
    cont = F.col("n_common").cast("double") / F.least("n_a", "n_b")
    jac = F.col("n_common").cast("double") / (
        F.col("n_a") + F.col("n_b") - F.col("n_common")
    )
    # sizes unhinted for the same reason as ngram_jaccard_pairs: one row
    # per document is corpus-sized at scale; AQE broadcasts iff small
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(cont >= CONTAINMENT_THRESHOLD)
        .select(
            "doc_a",
            "doc_b",
            F.round(cont, 6).alias("containment"),
            F.round(jac, 6).alias("jaccard"),
        )
    )


# ---------------------------------------------------------------------------
# Block-level (line-wise) dedup signal (L2 sub-document granularity)
# ---------------------------------------------------------------------------

#: tokens per non-overlapping block ("line" stand-in for the newline-free
#: fixture corpus; on real corpora the split would be on '\n')
BLOCK_K = 8

_block_expr = " || ' ' || ".join(f"toks[i * {BLOCK_K} + {j + 1}]" for j in range(BLOCK_K))

block_dup_oracle = f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
), blk AS (
  SELECT doc_id,
         unnest(list_transform(range(0, CAST(len(toks) // {BLOCK_K} AS BIGINT)),
                               i -> {sql_hash64(_block_expr)})) AS bh
  FROM toks WHERE len(toks) >= {BLOCK_K}
), per_block AS (
  SELECT bh, count(DISTINCT doc_id) AS n_docs FROM blk GROUP BY bh
)
SELECT b.doc_id,
       count(*) AS n_blocks,
       CAST(sum(CASE WHEN p.n_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT)
         AS dup_blocks,
       round(sum(CASE WHEN p.n_docs >= 2 THEN 1 ELSE 0 END)::DOUBLE
             / count(*), 6) AS dup_frac
FROM blk b JOIN per_block p USING (bh)
GROUP BY b.doc_id
"""


@register("block_dup_stats", block_dup_oracle)
def block_dup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-document (line-wise) dedup signal: the fraction of each
    document's non-overlapping ``BLOCK_K``-token blocks that also occur in
    at least one OTHER document. Web-corpus curation applies this at line
    granularity to strip boilerplate (nav bars, cookie banners, footers)
    that document-level MinHash can never see — a page is unique while half
    its lines are duplicated millions of times. The fixture text has no
    newlines, so a fixed-width token block stands in for "line"; the plan
    is split-delimiter-agnostic.

    Plan: flat explode of block indices → one codegen md5 per block →
    groupBy(block_hash) distinct-doc counts → join back on block_hash →
    groupBy(doc_id). The join on ``bh`` reuses the partitioning of the
    groupBy(bh) exchange, so the plan pays two data-sized shuffles (bh,
    doc_id); block-hash rows are 16 bytes — at 100 TB the shuffle moves
    hashes, never text. Compare `RefinedWeb`'s line-dedup stage; reference
    has no sub-document operator (435-LoC scope, SURVEY §0)."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("toks")
    )
    k = BLOCK_K
    blk = (
        docs.filter(F.size("toks") >= k)
        .select(
            "doc_id",
            "toks",
            F.explode(
                F.sequence(F.lit(0), (F.size("toks") / k).cast("int") - 1)
            ).alias("i"),
        )
        .select(
            "doc_id",
            portable_hash64(
                F.concat_ws(
                    " ",
                    *[
                        F.element_at("toks", F.col("i") * k + j + 1)
                        for j in range(k)
                    ],
                )
            ).alias("bh"),
        )
    )
    per_block = blk.groupBy("bh").agg(
        F.count_distinct("doc_id").alias("n_docs")
    )
    dup = F.sum(F.when(F.col("n_docs") >= 2, 1).otherwise(0))
    return (
        blk.join(per_block, "bh")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_blocks"),
            dup.cast("long").alias("dup_blocks"),
            F.round(dup.cast("double") / F.count("*"), 6).alias("dup_frac"),
        )
    )


# ---------------------------------------------------------------------------
# SimHash (L2 fingerprint variant)
# ---------------------------------------------------------------------------

SIMHASH_BITS = 16


def _simhash_sql(bits: int) -> str:
    """DuckDB CTE body producing (doc_id, simhash) at the given width."""
    bit_sums = ", ".join(
        f"sum(CASE WHEN (h // {1 << j}) % 2 = 1 THEN 1 ELSE -1 END) AS s_{j}"
        for j in range(bits)
    )
    assemble = " + ".join(
        f"(CASE WHEN s_{j} >= 0 THEN {1 << j} ELSE 0 END)" for j in range(bits)
    )
    return f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
), hashed AS (
  SELECT doc_id, {sql_hash_mod("tok", 1 << bits)} AS h FROM toks
), bitsums AS (
  SELECT doc_id, {bit_sums} FROM hashed GROUP BY doc_id
)
SELECT doc_id, CAST({assemble} AS BIGINT) AS simhash
FROM bitsums
"""


def simhash_of(docs: DataFrame, bits: int = SIMHASH_BITS) -> DataFrame:
    """(doc_id, simhash) at the given bit width: frequency-weighted per-bit
    majority vote over token hashes. One doc_id-keyed aggregation whose
    partials are a fixed ``bits``-wide int vector per doc — corpus-linear."""
    toks = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("tok")
    ).withColumn("h", portable_hash_mod(F.col("tok"), 1 << bits))
    bit_sums = toks.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.expr(f"(h div {1 << j}) % 2 = 1"), 1).otherwise(-1)
            ).alias(f"s_{j}")
            for j in range(bits)
        ]
    )
    simhash = None
    for j in range(bits):
        term = F.when(F.col(f"s_{j}") >= 0, F.lit(1 << j)).otherwise(F.lit(0))
        simhash = term if simhash is None else simhash + term
    return bit_sums.select("doc_id", simhash.cast("bigint").alias("simhash"))


@register("simhash_fingerprints", _simhash_sql(SIMHASH_BITS))
def simhash_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash (L2): 16-bit fingerprint per document (see
    :func:`simhash_of`). Near-duplicate documents land within small Hamming
    distance (property-tested); candidate pairing at scale goes through
    :func:`simhash_near_dup`'s bit-bands."""
    return simhash_of(load_table(spark, sf_dir, "documents"), SIMHASH_BITS)


# SimHash near-dup pairing: band the fingerprint and equi-join on band
# value. With HAM_MAX < SIMHASH_ND_BANDS, any pair within the Hamming
# radius shares at least one untouched band (pigeonhole) — banding is
# LOSSLESS for the radius, unlike probabilistic MinHash-LSH. 32 bits is the
# widest the portable cross-engine hash comfortably drives here; production
# corpora would use a 64-bit simhash with 16-bit bands (65k buckets/band)
# to keep band buckets ~n/65536 — same plan, wider constants.
SIMHASH_ND_BITS = 32
SIMHASH_ND_BANDS = 4
_SIMHASH_BAND_W = SIMHASH_ND_BITS // SIMHASH_ND_BANDS  # 8 bits → 256 buckets
HAM_MAX = 3
# Hot-bucket cap (same safety valve as NEAR_DUP_MAX_BUCKET): buckets above
# this star-link instead of going quadratic. Chosen to NOT engage at test
# scales (sf0.01 max natural bucket ≈ tens) — at quasi-clique scales it
# trades the lossless-radius guarantee for bounded candidate volume, the
# documented near_dup trade.
SIMHASH_ND_MAX_BUCKET = 1000

# Cap-aware like near_dup_oracle (round 8): hot band buckets star-link on
# the min doc_id exactly as lsh_candidate_pairs does, so the oracle stays
# exact at quasi-clique scales; empty hot branch (→ identical SQL result)
# at test scales.
simhash_near_dup_oracle = f"""
WITH sims AS (
  {_simhash_sql(SIMHASH_ND_BITS)}
), bands AS (
  SELECT doc_id, simhash, CAST(b.b AS INT) AS band,
         (simhash // CAST(power(2, b.b * {_SIMHASH_BAND_W}) AS BIGINT))
           % {1 << _SIMHASH_BAND_W} AS band_val
  FROM sims, range(0, {SIMHASH_ND_BANDS}) b(b)
), counted AS (
  SELECT doc_id, simhash, band, band_val,
         count(*) OVER (PARTITION BY band, band_val) AS bucket_n
  FROM bands
), cold AS (
  SELECT * FROM counted WHERE bucket_n <= {SIMHASH_ND_MAX_BUCKET}
), hot AS (
  SELECT doc_id, simhash,
         min(doc_id) OVER (PARTITION BY band, band_val) AS hub
  FROM counted WHERE bucket_n > {SIMHASH_ND_MAX_BUCKET}
), cand AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         a.simhash AS sim_a, b.simhash AS sim_b
  FROM cold a JOIN cold b
    ON a.band = b.band AND a.band_val = b.band_val AND a.doc_id < b.doc_id
  UNION ALL
  SELECT h.hub, h.doc_id, s.simhash, h.simhash
  FROM hot h JOIN sims s ON s.doc_id = h.hub
  WHERE h.doc_id <> h.hub
)
SELECT DISTINCT doc_a, doc_b,
       CAST(bit_count(xor(sim_a, sim_b)) AS INT) AS hamming
FROM cand
WHERE bit_count(xor(sim_a, sim_b)) <= {HAM_MAX}
"""


@register("simhash_near_dup", simhash_near_dup_oracle)
def simhash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (L2 fingerprint variant, completing the
    family): 32-bit simhash → {SIMHASH_ND_BANDS} bit-bands → candidate
    pairs from a band-value equi-self-join (never all-pairs) → exact
    Hamming verify via ``bit_count(xor)``, DISTINCT across bands. The
    banding is exact for radius HAM_MAX (pigeonhole: {HAM_MAX} flipped
    bits cannot touch all {SIMHASH_ND_BANDS} bands). Same scale shape as
    near_dup_pairs: shuffle keyed on (band, band_val), candidate volume
    bounded by bucket sizes, verification a per-row bit op."""
    sims = simhash_of(
        load_table(spark, sf_dir, "documents"), SIMHASH_ND_BITS
    )
    # band table in lsh_candidate_pairs' shape, so the hot-bucket cap +
    # star-link machinery (and its shuffle_hash-pinned, bucket-counted
    # self-join) is reused verbatim. The fingerprint rides through
    # candidate generation in the carry channel (column n_sh → n_a/n_b),
    # so the Hamming verify needs NO fingerprint-lookup joins — the same
    # optimization that removed near_dup_pairs' size-lookup joins in r6.
    bands = sims.select(
        "doc_id",
        F.col("simhash").alias("n_sh"),
        F.explode(
            F.sequence(F.lit(0), F.lit(SIMHASH_ND_BANDS - 1))
        ).alias("band_id"),
    ).withColumn(
        "band_key",
        F.expr(
            f"(n_sh div cast(pow(2, band_id * {_SIMHASH_BAND_W}) as bigint))"
            f" % {1 << _SIMHASH_BAND_W}"
        ),
    )
    cand = lsh_candidate_pairs(
        bands, max_bucket_size=SIMHASH_ND_MAX_BUCKET, carry_sizes=True
    )
    # lsh_candidate_pairs already returns distinct pairs — no re-dedup
    ham = F.expr("bit_count(n_a ^ n_b)")
    return cand.filter(ham <= HAM_MAX).select(
        "doc_a", "doc_b", ham.cast("int").alias("hamming")
    )


dedup_clusters_oracle = f"""
WITH RECURSIVE pairs AS (
  {near_dup_oracle}
), edges AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION
  SELECT doc_b, doc_a FROM pairs
), nodes AS (
  SELECT DISTINCT a AS id FROM edges
), reach AS (
  SELECT id, id AS r FROM nodes
  UNION
  SELECT reach.id, e.b AS r FROM reach JOIN edges e ON reach.r = e.a
)
SELECT id AS doc_id, min(r) AS component
FROM reach GROUP BY id
"""


@register("dedup_clusters", dedup_clusters_oracle)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate CLUSTERS (L2 completion): connected components over
    the near-dup pair graph, labeling every clustered document with the
    minimum doc_id of its component — the canonical-representative step a
    dedup pipeline runs after pair generation (keep min doc_id, drop the
    rest).

    Algorithm: hash-min label propagation, with POINTER DOUBLING engaged
    after the first ``_CC_PLAIN_ROUNDS`` rounds — early rounds take the
    min label over neighbors (one job each); if labels are still moving
    after that, each further round also jumps labels to their label's
    label (path halving), so chains shrink geometrically: O(log diameter)
    rounds instead of O(diameter). Near-dup components are near-cliques
    (star-linked hot buckets cap the diameter at 2), so typical data
    converges in the plain rounds and never pays the doubling self-join —
    doubling is the worst-case guarantee that a pathological chain of
    pairwise-similar documents costs log(n) Spark jobs, not n. The graph
    is OUTPUT-sized, so rounds run at size-aware parallelism (coalesced
    partitions scale with edge count); checkpoints truncate lineage so
    plans don't grow with iterations. The driver sees only the per-round
    changed-count — the iterative-algorithm shape that scales (rounds
    bounded by log of graph diameter, not size)."""
    pairs = near_dup_pairs(spark, sf_dir).select("doc_a", "doc_b")
    return connected_components(pairs).select(
        F.col("id").alias("doc_id"), "component"
    )


# Edge count per partition for the iterative rounds: the component graph is
# OUTPUT-sized (pairs, not corpus), so rounds over a small graph should not
# pay full-cluster task-scheduling overhead, but a graph just above the
# driver threshold should not serialize onto one core either. Measured at
# 500k edges (sf≈1 near-dup graph): 250k/partition 2.2-2.4 s vs 2.6-5.3 s
# at 2M (single task) and 2.7-2.8 s at 16k (32 tasks of overhead). Scales
# linearly with graph size at 100 TB; tasks stay well inside memory.
_CC_EDGES_PER_PARTITION = 250_000
# Below this edge count the graph is collected and solved with union-find on
# the driver. Raised 200k → 2M (the pagerank lesson repeated: once the
# transfer is Arrow-fed the crossover moves ~10×): at 500k symmetrized
# edges (the sf≈1 near-dup graph) the Arrow driver path runs 1.2 s end to
# end (0.44 fetch + 0.39 union-find + 0.40 upload) vs 4.6-8.1 s for the
# distributed rounds — the per-round planning+codegen overhead never
# amortizes at this size. Bound at the threshold: 1M (long, long) pairs
# ≈ 16 MB Arrow transfer; ≤2M-node parent dict ≈ 200 MB driver heap —
# within the 8g driver, and the distributed path remains the only route
# for graphs that could not fit on any single node.
_CC_DRIVER_MAX_EDGES = 2_000_000
# Rounds 0..N-1 run plain hash-min (one job, no self-join); pointer doubling
# engages after that. Near-dup components are near-cliques (diameter <= ~2
# via hot-bucket star links), so typical data converges before doubling ever
# runs — doubling remains the worst-case O(log diameter) guarantee for
# pathological chains without taxing the common case.
_CC_PLAIN_ROUNDS = 2


def connected_components(
    pairs: DataFrame,
    max_rounds: int = 20,
    small_graph_threshold: int = _CC_DRIVER_MAX_EDGES,
) -> DataFrame:
    """(id, component) labels for the undirected graph given as (doc_a,
    doc_b) pairs — hash-min propagation with pointer doubling engaged from
    round ``_CC_PLAIN_ROUNDS`` on; see :func:`dedup_clusters` for the
    algorithm notes. ``max_rounds`` bounds total rounds (doubling covers
    diameters up to ~2**rounds); exceeding it raises rather than returning
    silently split components.

    ``small_graph_threshold``: at or below this many (symmetrized,
    materialized) edges the graph is collected and solved with driver-side
    union-find (:func:`_driver_union_find`) — identical labels, none of the
    per-round planning overhead. Set to 0 to force the distributed path."""
    # Materialize the PAIR table (half the symmetrized edge table) — the
    # pair pipeline runs once, and symmetrization below is a lazy union of
    # two projections over the materialized blocks (narrow, re-read per
    # consumer but never recomputed).
    pairs = materialize(pairs.toDF("src", "dst"))

    # Size-aware parallelism: count is free on the materialized pair table,
    # and coalesce is a narrow op on the checkpointed blocks. A 256-pair
    # graph then runs every round in single-task stages instead of
    # scheduling 32 empty tasks per stage per round.
    n_edges = 2 * pairs.count()
    if n_edges <= small_graph_threshold:
        # union-find is direction-agnostic — feed it the raw pairs
        return _driver_union_find(pairs)
    edges = pairs.unionByName(
        pairs.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    n_part = max(
        1,
        min(
            -(-n_edges // _CC_EDGES_PER_PARTITION),
            edges.rdd.getNumPartitions() or 1,
        ),
    )
    if n_part < (edges.rdd.getNumPartitions() or 1):
        edges = edges.coalesce(n_part)

    labels = (
        edges.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("component", F.col("id"))
    )
    converged = False
    for rnd in range(max_rounds):
        # (a) hash-min over neighbors
        nbr_min = (
            edges.join(
                labels.select(
                    F.col("id").alias("dst"), F.col("component").alias("nc")
                ),
                "dst",
            )
            .groupBy("src")
            .agg(F.min("nc").alias("min_nbr"))
        )
        # carry the previous label through the join so the changed-count is
        # a filter on the checkpointed frame, not another per-round join
        prop = labels.join(nbr_min, labels.id == nbr_min.src, "left").select(
            "id",
            F.col("component").alias("prev"),
            F.least(
                F.col("component"),
                F.coalesce("min_nbr", F.col("component")),
            ).alias("component"),
        )
        if rnd < _CC_PLAIN_ROUNDS:
            # plain round: ONE job — lazy checkpoint with the changed-count
            # below as its single materializing consumer
            new_labels = materialize(prop, eager=False)
        else:
            # (b) pointer doubling: jump to the label's label. Labels are
            # always node ids (mins over ids), so the lookup self-join
            # hits; 'left' keeps isolated self-labeled nodes intact.
            # prop is consumed TWICE below (probe + lookup side), so it
            # must be EAGERLY materialized first — a lazy checkpoint here
            # recomputes the hash-min subtree per consumer (ADVICE r6;
            # measured earlier for the band table).
            prop = materialize(prop)
            lbl = prop.select(
                F.col("id").alias("_pid"), F.col("component").alias("_pcomp")
            )
            new_labels = materialize(
                prop.join(lbl, prop.component == lbl._pid, "left").select(
                    "id",
                    "prev",
                    F.least(
                        F.col("component"),
                        F.coalesce("_pcomp", F.col("component")),
                    ).alias("component"),
                ),
                eager=False,
            )
        changed = new_labels.filter(F.col("component") != F.col("prev")).count()
        labels = new_labels.drop("prev")
        if changed == 0:
            converged = True
            break
    if not converged:
        # Exiting with changed > 0 means some component's labels are still
        # moving — the result would silently split long-diameter components
        # (ADVICE r2). With doubling, 20 rounds cover any graph this side
        # of 2^18 diameter, so hitting this indicates a bug, not data.
        raise RuntimeError(
            "connected_components: hash-min + pointer-doubling label "
            f"propagation did not converge within {max_rounds} rounds"
        )
    return labels


def _driver_union_find(edges: DataFrame) -> DataFrame:
    """Small-graph fast path: union-find with path compression on the
    collected pair table (union-find is direction-agnostic, so the
    symmetrized edges are never built on this path). Only reached when
    ``connected_components`` counted at most ``_CC_DRIVER_MAX_EDGES``
    symmetrized edges, so the collect is bounded by construction.

    Both directions of the driver boundary are ARROW-fed (``toPandas`` in,
    a pandas frame out): at 250k pairs the row-object ``collect`` spent
    3.2 s where the Arrow fetch takes 0.44 s — transfer, not the
    union-find loop, is what used to set the crossover vs the distributed
    rounds (the pagerank matvec lesson). Produces identical labels to
    the distributed propagation: component = min member id (enforced by a
    final min-over-members relabel). Returns a 1-partition DataFrame with
    the same (id, component) schema, id-typed like the input edges."""
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    pdf = edges.toPandas()  # one bounded Arrow fetch (<= threshold edges)
    for a, b in zip(pdf.iloc[:, 0].tolist(), pdf.iloc[:, 1].tolist()):
        if a not in parent:
            parent[a] = a
        if b not in parent:
            parent[b] = b
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[rb] = ra
    comp_min: dict = {}
    for node in parent:
        r = find(node)
        m = comp_min.get(r)
        if m is None or node < m:
            comp_min[r] = node
    spark = edges.sparkSession
    id_type = edges.schema[0].dataType
    schema = T.StructType(
        [
            T.StructField("id", id_type, False),
            T.StructField("component", id_type, False),
        ]
    )
    nodes = list(parent)
    return spark.createDataFrame(
        pd.DataFrame(
            {"id": nodes, "component": [comp_min[find(n)] for n in nodes]}
        ),
        schema,
    )


# ---------------------------------------------------------------------------
# Cluster representatives (keep-the-best-copy curation step)
# ---------------------------------------------------------------------------

cluster_representatives_oracle = f"""
WITH RECURSIVE pairs AS (
  {near_dup_oracle}
), edges AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION
  SELECT doc_b, doc_a FROM pairs
), nodes AS (
  SELECT DISTINCT a AS id FROM edges
), reach AS (
  SELECT id, id AS r FROM nodes
  UNION
  SELECT reach.id, e.b AS r FROM reach JOIN edges e ON reach.r = e.a
), comp AS (
  SELECT id AS doc_id, min(r) AS component FROM reach GROUP BY id
), scored AS (
  SELECT c.component, c.doc_id,
         len(list_distinct(string_split(d.text, ' ')))::DOUBLE
           / len(string_split(d.text, ' ')) AS uniq
  FROM comp c JOIN documents d ON d.doc_id = c.doc_id
), ranked AS (
  SELECT component, doc_id, uniq,
         row_number() OVER (
           PARTITION BY component ORDER BY uniq DESC, doc_id
         ) AS rn,
         count(*) OVER (PARTITION BY component) AS cluster_size
  FROM scored
)
SELECT component, doc_id AS rep_doc_id,
       round(uniq, 6) AS rep_unique_ratio,
       CAST(cluster_size AS BIGINT) AS cluster_size
FROM ranked WHERE rn = 1
"""


@register("cluster_representatives", cluster_representatives_oracle)
def cluster_representatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The last step of a near-dup pipeline: for every duplicate CLUSTER,
    keep the BEST copy — highest vocabulary-diversity score, doc_id
    tiebreak — not the arbitrary min-id copy `dedup_clusters` labels with.
    Real curation keeps the cleanest crawl of a page (others are
    truncations or boilerplate-wrapped rewraps), so representative choice
    is quality-driven.

    Plan: the connected components of :func:`dedup_clusters` (pointer-
    doubling, output-sized graph) joined back to the docs for the score,
    then one component-partitioned window. The join back to `documents`
    is keyed on doc_id — at 100 TB this is a shuffle of the CLUSTERED
    subset only (dup clusters are a small fraction of the corpus), never
    all docs."""
    from .text import unique_ratio_col

    comp = dedup_clusters(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", unique_ratio_col().alias("uniq")
    )
    scored = comp.join(docs, "doc_id")
    w = Window.partitionBy("component").orderBy(F.desc("uniq"), "doc_id")
    cw = Window.partitionBy("component")
    return (
        scored.select(
            "component",
            "doc_id",
            "uniq",
            F.row_number().over(w).alias("rn"),
            F.count("*").over(cw).cast("long").alias("cluster_size"),
        )
        .filter(F.col("rn") == 1)
        .select(
            "component",
            F.col("doc_id").alias("rep_doc_id"),
            F.round("uniq", 6).alias("rep_unique_ratio"),
            "cluster_size",
        )
    )


# ---------------------------------------------------------------------------
# Content-identity ingest dedup (round-11): the batch audit twin of
# streaming/router.py content_dedup_stream
# ---------------------------------------------------------------------------


def content_fingerprint(*cols) -> F.Column:
    """sha256 over '|'-joined canonical column strings — THE content
    identity shared by the streaming ingest dedup
    (``content_dedup_stream``) and the batch audit below. Callers pass
    already-canonicalized columns (floats as floor-micro integers, not raw
    doubles: double→string formatting differs across engines, integer
    strings don't)."""
    return F.sha2(F.concat_ws("|", *cols), 256)


#: the events-table content identity: payload = (user, type, value) — the
#: event_id is deliberately NOT part of it (a re-keyed retransmit of the
#: same payload IS the duplicate this audit exists to find). value enters
#: as floor(value*1e6) micro-units (integer string — engine-stable).
_CONTENT_COLS_SQL = (
    "concat_ws('|', CAST(user_id AS VARCHAR), event_type, "
    "CAST(CAST(floor(value * 1000000) AS BIGINT) AS VARCHAR))"
)

ingest_content_dedup_oracle = f"""
WITH h AS (
  SELECT sha256({_CONTENT_COLS_SQL}) AS content_hash, event_id
  FROM events
), g AS (
  SELECT content_hash, min(event_id) AS kept, count(*) AS n
  FROM h GROUP BY content_hash
)
SELECT CAST(count(*) AS BIGINT) AS n_distinct_contents,
       CAST(sum(n) AS BIGINT) AS n_rows,
       CAST(sum(n) - count(*) AS BIGINT) AS n_dup_rows,
       CAST(max(n) AS BIGINT) AS max_copies,
       CAST(sum(CASE WHEN n > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_groups
FROM g
"""


@register("ingest_content_dedup", ingest_content_dedup_oracle)
def ingest_content_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-identity dedup audit over the events table (L1 at the
    ingest boundary): fingerprint each event's PAYLOAD — (user, type,
    value), NOT the event_id — and measure how much of the stream is
    re-keyed retransmission. The streaming twin
    (``streaming/router.py content_dedup_stream``) drops these rows AS
    THEY ARRIVE with watermark-bounded state; this batch form audits the
    same fingerprint over the landed table (one combinable hash-keyed
    groupBy, then a 1-row reduce — the dedup_exact scale shape, reference
    lens consumer.scala:61-91 which can only ever see the KEY duplicate).

    Determinism: value enters the fingerprint as floor(value·1e6)
    micro-units — integer-string canonicalization, since double→string
    formatting differs between engines."""
    ev = load_table(spark, sf_dir, "events")
    fp = content_fingerprint(
        F.col("user_id").cast("string"),
        F.col("event_type"),
        F.floor(F.col("value") * 1000000).cast("long").cast("string"),
    )
    per = (
        ev.select(fp.alias("content_hash"), "event_id")
        .groupBy("content_hash")
        .agg(F.min("event_id").alias("kept"), F.count("*").alias("n"))
    )
    return per.agg(
        F.count("*").cast("long").alias("n_distinct_contents"),
        F.sum("n").cast("long").alias("n_rows"),
        (F.sum("n") - F.count("*")).cast("long").alias("n_dup_rows"),
        F.max("n").cast("long").alias("max_copies"),
        F.sum((F.col("n") > 1).cast("long")).cast("long").alias("n_dup_groups"),
    )


# ---------------------------------------------------------------------------
# MinHash estimator calibration against exact Jaccard (sketch evaluation)
# ---------------------------------------------------------------------------

_MH_EQ_SUM = " + ".join(
    f"CASE WHEN sa.mh_{i} = sb.mh_{i} THEN 1 ELSE 0 END"
    for i in range(N_MINHASH)
)

minhash_calibration_oracle = f"""
WITH {_sql_minhash_cte()}, bands AS (
  {" UNION ALL ".join(
      f"SELECT doc_id, {b} AS band_id, {expr} AS band_key FROM sigs"
      for b, expr in enumerate(_band_exprs())
  )}
), counted AS (
  SELECT doc_id, band_id, band_key,
         count(*) OVER (PARTITION BY band_id, band_key) AS bucket_n
  FROM bands
), cold AS (
  SELECT * FROM counted WHERE bucket_n <= {NEAR_DUP_MAX_BUCKET}
), hot AS (
  SELECT doc_id,
         min(doc_id) OVER (PARTITION BY band_id, band_key) AS hub
  FROM counted WHERE bucket_n > {NEAR_DUP_MAX_BUCKET}
), cand AS (
  SELECT DISTINCT doc_a, doc_b FROM (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM cold a JOIN cold b
      ON a.band_id = b.band_id AND a.band_key = b.band_key
     AND a.doc_id < b.doc_id
    UNION ALL
    SELECT hub AS doc_a, doc_id AS doc_b FROM hot WHERE doc_id <> hub
  )
), scored AS (
  SELECT ({_MH_EQ_SUM}) / {N_MINHASH}.0 AS est,
         len(list_intersect(sa.hs, sb.hs))::DOUBLE
           / len(list_distinct(list_concat(sa.hs, sb.hs))) AS truth
  FROM cand c
  JOIN sigs sa ON c.doc_a = sa.doc_id
  JOIN sigs sb ON c.doc_b = sb.doc_id
)
SELECT CAST(count(*) AS BIGINT) AS n_pairs,
       round(avg(abs(est - truth)), 6) AS mae,
       round(avg(est - truth), 6) AS bias,
       round(avg(CASE WHEN abs(est - truth) <= 0.25 THEN 1.0 ELSE 0.0 END),
             6) AS frac_within_025
FROM scored
"""


@register("minhash_jaccard_calibration", minhash_calibration_oracle)
def minhash_jaccard_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-quality evaluation: over the LSH candidate pairs the dedup
    pipeline actually verifies, compare the k=8 MinHash agreement fraction
    (the Jaccard ESTIMATOR the bands implicitly threshold on) against the
    exact shingle Jaccard — mean absolute error, signed bias, and the
    fraction of pairs inside the ±0.25 band one expects from k=8
    (σ = √(J(1−J)/k) ≤ 0.177). The number that tells a pipeline owner
    whether N_MINHASH is sized right BEFORE they raise it and pay 2× the
    signature shuffle — the dedup family's measurement face.

    Scale shape: identical stages to near_dup_pairs (same materialized shingle
    table, same capped band self-join, same join-count intersection) plus
    two doc-keyed signature joins; the calibration aggregate is 1-row
    combinable. The estimator arithmetic (matches/8, |∩|/|∪|) is exact
    integer division on both engines; only the final averages are
    accumulation-ordered floats (round-6 convention)."""
    ex = materialize(exploded_shingle_df(spark, sf_dir))
    # materialize the signature table ONCE: three consumers (banding, the
    # sa and sb signature joins) would otherwise each re-run the doc-keyed
    # min-aggregate over the shingle table — round-15 profile
    # showed three identical ~0.8 s aggregation jobs per run (guide §2.4).
    # Flat doc-sized rows (8 ints + size); the checkpoint truncates the
    # lineage so the three consumers plan over a leaf. Round-16 A/B
    # (VERDICT r15 item 1, interleaved, 6 reps/arm, same epoch): checkpoint
    # median cold/warm 6.19/3.09 s vs 7.37/3.23 unmaterialized (r14
    # spelling) vs 6.88/3.84 cache+count — the r15 driver cold regression
    # was the storm epoch, not the barrier; the checkpoint stays.
    sigs = materialize(minhash_signatures_of(ex, with_size=True))
    counted = counted_bands(signature_bands(sigs, keep=("n_sh",)))
    cand = lsh_candidate_pairs(counted, pre_counted=True, carry_sizes=True)

    # same stats-erased-side rationale as near_dup_pairs: pin partition-
    # local hash joins on the doc-key shuffle for the corpus-sized sides
    ex_a = ex.select(F.col("doc_id").alias("doc_a"), "h").hint("shuffle_hash")
    ex_b = ex.select(F.col("doc_id").alias("doc_b"), "h").hint("shuffle_hash")
    inter = (
        cand.join(ex_a, "doc_a")
        .join(ex_b, ["doc_b", "h"])
        .groupBy("doc_a", "doc_b", "n_a", "n_b")
        .agg(F.count_distinct(F.col("h")).alias("n_common"))
    )
    sa = sigs.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"mh_{i}").alias(f"a_{i}") for i in range(N_MINHASH)],
    )
    sb = sigs.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"mh_{i}").alias(f"b_{i}") for i in range(N_MINHASH)],
    )
    matches = sum(
        (F.col(f"a_{i}") == F.col(f"b_{i}")).cast("int")
        for i in range(N_MINHASH)
    )
    scored = (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            (matches / float(N_MINHASH)).alias("est"),
            (
                F.col("n_common").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common"))
            ).alias("truth"),
        )
    )
    diff = F.col("est") - F.col("truth")
    return scored.agg(
        F.count("*").alias("n_pairs"),
        F.round(F.avg(F.abs(diff)), 6).alias("mae"),
        F.round(F.avg(diff), 6).alias("bias"),
        F.round(F.avg((F.abs(diff) <= 0.25).cast("double")), 6).alias(
            "frac_within_025"
        ),
    )


# ---------------------------------------------------------------------------
# Per-document n-gram novelty against the doc_id-ordered corpus prefix
# ---------------------------------------------------------------------------

novelty_oracle = f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS toks, text FROM documents
), sh AS (
  SELECT DISTINCT doc_id, unnest({sql_shingles(SHINGLE_N)}) AS sh
  FROM toks
), owner AS (
  SELECT sh, min(doc_id) AS first_doc FROM sh GROUP BY sh
)
SELECT s.doc_id,
       CAST(count(*) AS BIGINT) AS n_shingles,
       CAST(sum(CASE WHEN o.first_doc = s.doc_id THEN 1 ELSE 0 END)
            AS BIGINT) AS n_novel,
       round(sum(CASE WHEN o.first_doc = s.doc_id THEN 1 ELSE 0 END)
             / CAST(count(*) AS DOUBLE), 6) AS novelty
FROM sh s JOIN owner o ON o.sh = s.sh
GROUP BY s.doc_id
"""


@register("ngram_novelty", novelty_oracle)
def ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document shingle novelty against the doc_id-ordered corpus: a
    document's 3-gram is NOVEL iff no lower-doc_id document contains it,
    and novelty = novel/total distinct shingles. The incremental-crawl
    question (`incremental_neardup_pairs` asks "which docs duplicate the
    index"; this asks "how much NEW text does each arriving doc add") and
    the aggregate complement of `contamination_trigrams`' benchmark
    overlap — low-novelty docs are what `near_dup_pairs` will catch, but
    novelty also exposes boilerplate mosaics no single pair shows.

    Shape: the codegen lead()-window shingle kernel (`exact_shingle_rows`
    — the measured-at-sf≈10 spelling), ONE combinable min(doc_id) per
    shingle, and one shingle-keyed join back — everything shuffles on the
    shingle hash, no pair stage at all. Integer counts; round-6 ratio."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    sh = exact_shingle_rows(docs, SHINGLE_N)
    owner = sh.groupBy("sh").agg(F.min("doc_id").alias("first_doc"))
    # shuffle_hash pin: the owner table is SHINGLE-VOCABULARY-sized and
    # grows with the corpus — AQE happily broadcast 320 MiB of it at sf≈1
    # (3.2 GB at sf≈10, an executor OOM at 100 TB); both sides are already
    # hash-partitioned on sh, so the shuffle join is the scale-safe shape
    j = sh.join(owner.hint("shuffle_hash"), "sh")
    return j.groupBy("doc_id").agg(
        F.count("*").alias("n_shingles"),
        F.sum((F.col("first_doc") == F.col("doc_id")).cast("long")).alias(
            "n_novel"
        ),
        F.round(
            F.sum((F.col("first_doc") == F.col("doc_id")).cast("long"))
            / F.count("*").cast("double"),
            6,
        ).alias("novelty"),
    )


# ---------------------------------------------------------------------------
# Exact substring-level dedup: maximal cross-doc duplicated regions (round 13)
# ---------------------------------------------------------------------------

#: minimum duplicated run length, in tokens — the "50-token" knob of the
#: published suffix-array pretraining-dedup protocol, scaled to the fixture
SUB_L = 6


def _substring_sql() -> str:
    l = SUB_L
    gram = " || '|' || ".join(["w"] + [f"w{j}" for j in range(1, l)])
    leads = ", ".join(
        f"lead(w, {j}) OVER win AS w{j}" for j in range(1, l)
    )
    return f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
), pos AS (
  SELECT doc_id, CAST(i AS INT) AS p, t[CAST(i + 1 AS INT)] AS w
  FROM toks, unnest(range(0, len(t))) AS u(i)
), led AS (
  SELECT doc_id, p, w, {leads}
  FROM pos WINDOW win AS (PARTITION BY doc_id ORDER BY p)
), grams AS (
  SELECT doc_id, p, {sql_hash64(f"({gram})")} AS gh
  FROM led WHERE w{l - 1} IS NOT NULL
), dup AS (
  SELECT gh FROM grams GROUP BY gh HAVING min(doc_id) <> max(doc_id)
), hits AS (
  SELECT g.doc_id, g.p FROM grams g JOIN dup USING (gh)
), isl AS (
  SELECT doc_id, p,
         p - row_number() OVER (PARTITION BY doc_id ORDER BY p) AS grp
  FROM hits
), spans AS (
  SELECT doc_id, min(p) AS s, max(p) + {l - 1} AS e
  FROM isl GROUP BY doc_id, grp
), marked AS (
  SELECT doc_id, s, e,
         CASE WHEN s > coalesce(max(e) OVER (
                PARTITION BY doc_id ORDER BY s
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
              THEN 1 ELSE 0 END AS new_region
  FROM spans
), regions AS (
  SELECT doc_id,
         sum(new_region) OVER (
           PARTITION BY doc_id ORDER BY s
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rid,
         s, e
  FROM marked
), runion AS (
  SELECT doc_id, rid, min(s) AS rs, max(e) AS re
  FROM regions GROUP BY doc_id, rid
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_regions,
       CAST(sum(re - rs + 1) AS BIGINT) AS dup_tokens,
       CAST(max(re - rs + 1) AS BIGINT) AS max_region_len
FROM runion GROUP BY doc_id
"""


@register("repeated_substring_spans", _substring_sql())
def repeated_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT substring-level dedup at ARBITRARY token alignment — the
    granularity between `block_dup_stats` (fixed non-overlapping
    BLOCK_K blocks: a duplicated run straddling a block boundary is
    invisible) and `winnowing_fingerprints` (sampled fingerprints:
    probabilistic recall). Per document, the maximal regions every one
    of whose SUB_L-token windows also occurs in ANOTHER document —
    exactly the duplicated text a suffix-array pretraining-dedup
    protocol (Lee et al. 2022, "Deduplicating Training Data") cuts at
    threshold L, computed WITHOUT any global suffix sort: a repeated
    substring of length ≥ L is precisely a run of duplicated L-grams at
    EVERY offset, so seed-and-extend (sliding L-gram match + two
    gaps-islands merges) reconstructs the identical maximal regions a
    suffix-array + LCP pass yields, and every stage is a keyed shuffle.

    Plan: posexplode + lead() builds the sliding grams inside
    whole-stage codegen (one (doc_id, pos) exchange — the
    exact_shingle_rows kernel, positions kept); ONE combinable
    min/max(doc_id) per gram hash marks cross-doc duplicates; a
    gh-keyed join back (hash rows, never text) restricts to duplicated
    positions; consecutive positions collapse via p − row_number
    (gaps-islands) into spans, and overlapping span extents merge with
    a per-doc running-max interval union. All windows are partitioned
    by doc_id; shuffle cost is corpus-token-linear rows of flat ints —
    no pair stage, no O(n²) anywhere. Output is integer-exact (counts
    and token extents only), so the DuckDB oracle hash-matches bitwise
    at any scale."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    toks = F.split("text", " ")
    tok = docs.filter(F.size(toks) >= SUB_L).select(
        "doc_id", F.posexplode(toks).alias("p", "w")
    )
    wl = Window.partitionBy("doc_id").orderBy("p")
    leads = [F.lead("w", j).over(wl) for j in range(1, SUB_L)]
    grams = (
        tok.select(
            "doc_id",
            "p",
            F.concat_ws("|", F.col("w"), *leads).alias("g"),
            leads[-1].isNotNull().alias("_full"),
        )
        .filter(F.col("_full"))
        .select("doc_id", "p", portable_hash64(F.col("g")).alias("gh"))
    )
    dup = grams.groupBy("gh").agg(
        (F.min("doc_id") != F.max("doc_id")).alias("_x")
    ).filter(F.col("_x")).select("gh")
    # gh-keyed join: both sides hash-partitioned on gh; the dup-key table
    # is gram-vocabulary-sized and grows with the corpus — same
    # shuffle_hash rationale as ngram_novelty's owner table
    hits = grams.join(dup.hint("shuffle_hash"), "gh").select("doc_id", "p")
    isl = hits.withColumn(
        "grp", F.col("p") - F.row_number().over(wl)
    )
    spans = isl.groupBy("doc_id", "grp").agg(
        F.min("p").alias("s"), (F.max("p") + SUB_L - 1).alias("e")
    )
    ws = Window.partitionBy("doc_id").orderBy("s")
    prev_max_e = F.max("e").over(
        ws.rowsBetween(Window.unboundedPreceding, -1)
    )
    marked = spans.withColumn(
        "new_region",
        (F.col("s") > F.coalesce(prev_max_e, F.lit(-1))).cast("long"),
    )
    regions = marked.withColumn(
        "rid",
        F.sum("new_region").over(ws.rowsBetween(Window.unboundedPreceding, 0)),
    )
    runion = regions.groupBy("doc_id", "rid").agg(
        F.min("s").alias("rs"), F.max("e").alias("re")
    )
    return runion.groupBy("doc_id").agg(
        F.count("*").alias("n_regions"),
        F.sum(F.col("re") - F.col("rs") + 1).alias("dup_tokens"),
        F.max(F.col("re") - F.col("rs") + 1).alias("max_region_len"),
    )
