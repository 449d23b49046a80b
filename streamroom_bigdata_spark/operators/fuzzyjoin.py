"""Fuzzy string-similarity self-join (typo-tolerant entity resolution).

All pairs of equal-length strings within Hamming distance k, without the
quadratic cross join: partition — by interleaving — each string's character
positions into k+1 bands (position p → band p mod (k+1)); by pigeonhole,
two equal-length strings with ≤ k mismatching positions agree EXACTLY on
at least one band, so a band-key equi-self-join generates a LOSSLESS
candidate superset, then an exact Hamming verify keeps true pairs.

Interleaving (p mod k+1), not contiguous segments, is the load-bearing
choice for ID-like strings ("Customer#000000042"): contiguous segment 0
would be the shared constant prefix — ONE bucket holding every string,
i.e. the cross join back again. Interleaved bands mix prefix characters
with the high-entropy digit positions, so bucket sizes track true
similarity rather than shared formatting.

Exactness is part of this module's contract (no hot-bucket caps): on
dense ID data the candidate volume is output-bound (measured ~3.6× the
true-pair count at sf0.1), and the true result is itself large.

Edit-distance variants need shift-tolerant blocking (PassJoin-style
positional segments) because insertions move characters across band
boundaries; for equal-length ID/typo workloads Hamming is the right
semantic and bands stay position-aligned.

Also here: the exact set-similarity join with AllPairs prefix filtering
(jaccard_prefix_pairs) — same family, token sets instead of character
positions.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..registry import register
from ..sources import load_table

HAMMING_K = 2  # max mismatching positions; bands = k + 1


def hamming_self_join(
    df: DataFrame, id_col: str, str_col: str, k: int = HAMMING_K
) -> DataFrame:
    """All (id_a < id_b) pairs of equal-length strings within Hamming
    distance ``k``: interleaved (k+1)-band blocking → DUPLICATE-FREE band
    self-join → JVM prefilter → exact verify. Returns (id_a, id_b, dist).

    Measured design points (sf0.1: 15k names, 3.75M true pairs):

    - **No distinct shuffle.** A pair agreeing on several bands would be
      emitted once per band; instead of deduping ~13M candidates with a
      full-width shuffle, the join emits a pair only on its FIRST
      agreeing band (predicate: all earlier band keys differ) — exactly
      one emission per pair, zero post-join dedup.
    - **The verify is pure codegen integer math, computed where the
      optimizer wants it.** A per-character lambda verify gets pushed by
      Catalyst INTO the join condition and runs interpreted over every
      enumerated match (measured 5× slower than the naive version).
      Instead, each band's characters are packed into a 64-bit integer
      ON THE LINEAR SIDE (hex/conv string ops once per string), and the
      pair's Hamming distance is Σ_bands nonzero-bytes(enc_a XOR enc_b)
      — shift/mask arithmetic that is cheap wherever the optimizer
      places it. Bands over 8 bytes (strings longer than 8·(k+1)) fall
      back per row to the interpreted char-zip inside a when() branch,
      so generality is kept off the hot path. Distances are byte-level —
      identical to character Hamming for single-byte (ASCII) content."""
    n_bands = k + 1
    named = df.select(
        F.col(id_col).alias("doc_id"), F.col(str_col).alias("s")
    )
    content = [
        F.expr(
            f"array_join(filter(split(s, ''), "
            f"(x, i) -> i % {n_bands} == {b}), '')"
        ).alias(f"c{b}")
        for b in range(n_bands)
    ]
    keyed = named.select("doc_id", "s", *content).select(
        "doc_id",
        "s",
        *[
            F.concat_ws(
                ":", F.length("s").cast("string"), F.col(f"c{b}")
            ).alias(f"k{b}")
            for b in range(n_bands)
        ],
        # 64-bit pack of the band's bytes; conv overflows (ANSI) past 8
        # bytes, so the pack itself is guarded, not just its consumer
        *[
            F.when(
                F.octet_length(F.col(f"c{b}")) <= 8,
                F.conv(F.hex(F.col(f"c{b}").cast("binary")), 16, 10).cast(
                    "bigint"
                ),
            )
            .otherwise(F.lit(0))
            .alias(f"e{b}")
            for b in range(n_bands)
        ],
        reduce(
            lambda x, y: x & y,
            [F.octet_length(F.col(f"c{b}")) <= 8 for b in range(n_bands)],
        ).alias("pk"),
    )
    bands = keyed.select(
        "*",
        F.explode(F.array(*[F.lit(b) for b in range(n_bands)])).alias(
            "band_id"
        ),
    ).withColumn(
        "band_key",
        F.element_at(
            F.array(*[F.col(f"k{b}") for b in range(n_bands)]),
            F.col("band_id") + 1,
        ),
    )
    a, b_ = bands.alias("a").hint("shuffle_hash"), bands.alias("b")
    cond = (
        (F.col("a.band_id") == F.col("b.band_id"))
        & (F.col("a.band_key") == F.col("b.band_key"))
        & (F.col("a.doc_id") < F.col("b.doc_id"))
    )
    for bb in range(n_bands - 1):  # first-agreeing-band: no duplicates
        cond = cond & ~(
            (F.col("a.band_id") >= bb + 1)
            & (F.col(f"a.k{bb}") == F.col(f"b.k{bb}"))
        )

    def _nonzero_bytes(x):  # differing byte positions of an XOR'd long
        return sum(
            F.when(F.shiftright(x, 8 * i).bitwiseAND(255) != 0, 1).otherwise(0)
            for i in range(8)
        )

    packed_dist = sum(
        _nonzero_bytes(F.col(f"a.e{bb}").bitwiseXOR(F.col(f"b.e{bb}")))
        for bb in range(n_bands)
    )
    hof_dist = F.size(
        F.filter(
            F.zip_with(
                F.split(F.col("a.s"), ""),
                F.split(F.col("b.s"), ""),
                lambda x, y: x != y,
            ),
            lambda v: v,
        )
    )
    dist = F.when(F.col("a.pk") & F.col("b.pk"), packed_dist).otherwise(
        hof_dist
    )
    return (
        a.join(b_, cond)
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            dist.alias("dist"),
        )
        .filter(F.col("dist") <= k)
    )


fuzzy_name_oracle = f"""
SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
       CAST(hamming(a.c_name, b.c_name) AS INT) AS dist
FROM customer a
JOIN customer b
  ON a.c_custkey < b.c_custkey
 AND length(a.c_name) = length(b.c_name)
 AND hamming(a.c_name, b.c_name) <= {HAMMING_K}
"""


@register("fuzzy_name_pairs", fuzzy_name_oracle)
def fuzzy_name_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typo-tolerant entity-matching join: every pair of customer names
    within Hamming distance 2 (≤ 2 substituted characters), found via
    interleaved-band blocking instead of the oracle's O(n²) cross join.

    100 TB note: the plan is three shuffle-keyed equi-joins (band
    self-join on (band_id, band_key), then two id-keyed name lookups) —
    no cross join, no driver state; candidate volume is bucket-bound, and
    buckets are keyed on character subsets that include the high-entropy
    positions. On dense ID-like data the TRUE result is itself large
    (every id differing in ≤2 digits), so output size, not the algorithm,
    is the floor. The Hamming verify is a per-candidate HOF — interpreted,
    but over the candidate set (≈2× output), not n²."""
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return hamming_self_join(cust, "c_custkey", "c_name", HAMMING_K)


# --- Exact set-similarity join with prefix filtering (AllPairs) -------------

# Threshold as an exact fraction: float ceil(0.6*n) can land on either side
# of an integer boundary per engine/build; integer arithmetic can't.
JAC_T_NUM, JAC_T_DEN = 3, 5  # Jaccard >= 0.6
JAC_NGRAM = 5

jaccard_prefix_oracle = f"""
WITH toks AS (
  SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents
), shingled AS (
  SELECT doc_id,
         CASE WHEN len(toks) >= {JAC_NGRAM} THEN
           list_distinct(list_transform(range(0, len(toks) - {JAC_NGRAM - 1}),
             i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3]
                  || ' ' || toks[i+4] || ' ' || toks[i+5]))
         ELSE [text] END AS sh
  FROM toks
), exploded AS (
  SELECT doc_id, unnest(sh) AS s FROM shingled
), inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
  FROM exploded a JOIN exploded b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT i.doc_a, i.doc_b,
       round(CAST(i.n_common AS DOUBLE)
             / (len(sa.sh) + len(sb.sh) - i.n_common), 6) AS jaccard
FROM inter i
JOIN shingled sa ON i.doc_a = sa.doc_id
JOIN shingled sb ON i.doc_b = sb.doc_id
WHERE i.n_common * {JAC_T_DEN}
      >= (len(sa.sh) + len(sb.sh) - i.n_common) * {JAC_T_NUM}
"""


def jaccard_prefix_self_join(
    tokens: DataFrame,
    t_num: int = JAC_T_NUM,
    t_den: int = JAC_T_DEN,
) -> DataFrame:
    """Exact Jaccard ≥ t_num/t_den self-join over DISTINCT (doc_id, s)
    token rows, using AllPairs PREFIX FILTERING — the refinement over the
    plain inverted-index join (ngram_jaccard_pairs): order all tokens by
    ascending document frequency (rare first) and pair only on tokens
    inside each document's prefix of length n − ⌈t·n⌉ + 1. Lossless: a
    qualifying pair shares ≥ ⌈t·n⌉ tokens, so the shared set cannot fit
    entirely in the (⌈t·n⌉ − 1)-sized suffix of either side — with one
    global order, the smallest shared token lies in BOTH prefixes.
    Rare-first ordering makes prefix buckets the SMALLEST buckets of the
    index, attacking exactly the hot-bucket quadratic term (a
    stopword-shingle bucket never generates candidates unless it is
    someone's rarest evidence).

    The interface is FLAT (exploded token rows, not per-doc arrays), and
    so is every stage: df counts and doc sizes are aggregates, the
    prefix is a doc-keyed row_number window (no collect_list /
    array_sort), and the verify is a join-count over the candidates'
    token rows (no array_intersect). An earlier array-based formulation
    spent 22 s warm at sf0.1 INSIDE the interpreted array lambdas and
    single-split shingle build; this one holds whole-stage codegen
    end-to-end. All shuffles are token- or doc-keyed; candidates are
    prefix-bucket-bound; verify work is Σ|candidate docs' tokens|."""
    ex = tokens  # distinct (doc_id, s) rows
    sizes = ex.groupBy("doc_id").agg(F.count("*").alias("n"))
    df_counts = ex.groupBy("s").agg(F.count("*").alias("df"))
    p_len = F.col("n") - F.floor(
        (F.lit(t_num) * F.col("n") + t_den - 1) / t_den
    ).cast("int") + 1
    ranked = (
        ex.join(df_counts, "s")
        .join(sizes, "doc_id")
        .withColumn(
            "r",
            F.row_number().over(
                Window.partitionBy("doc_id").orderBy("df", "s")
            ),
        )
    )
    prefix = ranked.filter(F.col("r") <= p_len).select("doc_id", "n", "s")
    a, b = prefix.alias("a"), prefix.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.s") == F.col("b.s"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            # length filter: compatible sizes can't differ by more than t
            & (F.col("b.n") * t_den >= F.col("a.n") * t_num)
            & (F.col("a.n") * t_den >= F.col("b.n") * t_num),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .distinct()
    )
    # verify: |A∩B| as a join-count over the candidates' token rows
    ea = ex.select(F.col("doc_id").alias("doc_a"), "s")
    eb = ex.select(F.col("doc_id").alias("doc_b"), "s")
    inter = (
        cand.join(ea, "doc_a")
        .join(eb, ["doc_b", "s"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_common"))
    )
    na = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("n_a"))
    nb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("n_b"))
    union = F.col("n_a") + F.col("n_b") - F.col("n_common")
    return (
        inter.join(na, "doc_a")
        .join(nb, "doc_b")
        .filter(F.col("n_common") * t_den >= union * t_num)
        .select(
            "doc_a",
            "doc_b",
            F.round(
                F.col("n_common").cast("double") / union, 6
            ).alias("jaccard"),
        )
    )


@register("jaccard_prefix_pairs", jaccard_prefix_oracle)
def jaccard_prefix_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document pairs with exact 5-gram-shingle Jaccard ≥ 0.6 via AllPairs
    prefix filtering (see :func:`jaccard_prefix_self_join`). The exact
    high-threshold twin of the MinHash-LSH scale path (near_dup_pairs) and
    the prefix-filtered refinement of the full inverted-index join
    (ngram_jaccard_pairs).

    Shingles are built in the dedup module's explode-first codegen
    formulation (position explode + flat concat — HOF transform lambdas
    are interpreted per element), deduped per doc, with the same
    input-split parallelism guard (the fixture parquet is one row
    group)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    n_default = spark.sparkContext.defaultParallelism
    if docs.rdd.getNumPartitions() < n_default:
        docs = docs.repartition(n_default, "doc_id")
    toks = docs.select("doc_id", "text", F.split("text", " ").alias("toks"))
    n = JAC_NGRAM
    idx = F.when(
        F.size("toks") >= n, F.sequence(F.lit(0), F.size("toks") - n)
    ).otherwise(F.array(F.lit(-1)))
    s = F.when(
        F.col("i") >= 0,
        F.concat_ws(
            " ", *[F.element_at("toks", F.col("i") + j + 1) for j in range(n)]
        ),
    ).otherwise(F.col("text"))
    tokens = (
        toks.select("doc_id", "text", "toks", F.explode(idx).alias("i"))
        .select("doc_id", s.alias("s"))
        .distinct()
    )
    return jaccard_prefix_self_join(tokens)


# ---------------------------------------------------------------------------
# Edit-distance <= 1 self-join (FastSS deletion-neighborhood blocking)
# ---------------------------------------------------------------------------

edit_distance_oracle = """
SELECT a.c_name AS name_a, b.c_name AS name_b,
       CAST(levenshtein(a.c_name, b.c_name) AS INT) AS dist
FROM customer a, customer b
WHERE a.c_name < b.c_name AND levenshtein(a.c_name, b.c_name) <= 1
"""


@register("edit_distance_pairs", edit_distance_oracle)
def edit_distance_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All customer-name pairs within Levenshtein distance 1, WITHOUT the
    O(n²) cross join — FastSS deletion-neighborhood blocking (Bocek et al.
    2007): each string emits itself plus its n one-character-deletion
    variants; two strings with ED <= 1 ALWAYS share a variant
    (substitution: both delete the mismatched position; insert/delete: the
    shorter string IS a variant of the longer; pigeonhole makes the
    blocking lossless), so a variant-keyed equi-self-join yields a
    candidate superset and the built-in ``levenshtein`` verifies exactly.

    The Hamming join above needs equal lengths and position-aligned
    bands; deletion variants are the shift-tolerant blocking that covers
    insertions/deletions too (at k=1 the neighborhood is linear in string
    length — the reason k stays small).

    Scale: variant generation is a (len+1)-fold flatMap — linear;
    variants are near-unique on ID-like data (array_distinct collapses
    the repeated-character case, e.g. deleting any of six zeros), so the
    join buckets stay output-bound. The oracle is the brute-force
    quadratic — two genuinely different algorithms, one result."""
    cust = load_table(spark, sf_dir, "customer").select("c_name")
    return ed1_self_join(cust, "c_name")


def ed1_self_join(df: DataFrame, col: str) -> DataFrame:
    """Core FastSS ED<=1 self-join over ``df[col]`` (distinct non-null
    strings assumed unique): returns (name_a, name_b, dist) with
    name_a < name_b and levenshtein <= 1. See
    :func:`edit_distance_pairs` for the blocking argument."""
    name = F.col(col)
    n = F.length(name)
    variants = F.array_distinct(
        F.concat(
            F.array(name),
            F.transform(
                F.sequence(F.lit(1), n),
                lambda i: F.concat(
                    name.substr(F.lit(1), i - 1), name.substr(i + 1, n)
                ),
            ),
        )
    )
    # empty strings would make sequence(1, 0) count DOWN (Spark sequences
    # auto-negate the step) — excluded: the empty string gets no reported
    # partners, a documented non-goal for name-typo data
    v = df.filter(n >= 1).select(
        name.alias("_s"), F.explode(variants).alias("variant")
    )
    a, b = v.alias("a"), v.alias("b")
    # the variant table is (len+1)x the input — LINEAR in data, so a
    # broadcast (AQE chose one at 40 MiB on sf0.1) is a scale hazard;
    # pin the shuffle-hash join the 100 TB plan needs
    cand = (
        a.hint("shuffle_hash").join(b, "variant")
        .filter(F.col("a._s") < F.col("b._s"))
        .select(
            F.col("a._s").alias("name_a"),
            F.col("b._s").alias("name_b"),
        )
        .filter(F.levenshtein("name_a", "name_b") <= 1)
        .distinct()
    )
    return cand.select(
        "name_a",
        "name_b",
        F.levenshtein("name_a", "name_b").cast("int").alias("dist"),
    )


# ---------------------------------------------------------------------------
# Phonetic (soundex) blocking over part-name words
# ---------------------------------------------------------------------------

#: standard American-Soundex letter→digit map (a0 b1 c2 d3 e0 f1 g2 h0 i0
#: j2 k2 l4 m5 n5 o0 p1 q2 r6 s2 t3 u0 v1 w0 x2 y0 z2)
_SDX_FROM = "abcdefghijklmnopqrstuvwxyz"
_SDX_TO = "01230120022455012623010202"


def _sdx_sql(expr: str) -> str:
    """Simplified soundex as a DuckDB expression — identical chain to the
    Spark spelling below. RE2 has no backreferences, so adjacent-run
    collapse is a per-digit regexp chain (runs of '0' need no collapse:
    zeros are dropped afterwards). DEVIATION from full soundex, on BOTH
    engines identically: the H/W-transparency rule is omitted (adjacent
    equal codes separated by h/w stay separate)."""
    s = f"translate({expr}, '{_SDX_FROM}', '{_SDX_TO}')"
    for d in "123456":
        s = f"regexp_replace({s}, '{d}{d}+', '{d}', 'g')"
    return (
        f"upper(substr({expr}, 1, 1)) || "
        f"rpad(substr(replace(substr({s}, 2), '0', ''), 1, 3), 3, '0')"
    )


def _sdx_col(col):
    """The Spark twin of :func:`_sdx_sql` — same ops, same order."""
    s = F.translate(col, _SDX_FROM, _SDX_TO)
    for d in "123456":
        s = F.regexp_replace(s, f"{d}{d}+", d)
    return F.concat(
        F.upper(col.substr(1, 1)),
        F.rpad(
            F.substring(F.regexp_replace(F.substring(s, 2, 1000), "0", ""), 1, 3),
            3,
            "0",
        ),
    )


soundex_blocking_oracle = f"""
WITH names AS (
  SELECT DISTINCT p_name FROM part WHERE p_name IS NOT NULL
), coded AS (
  SELECT p_name,
         {_sdx_sql("string_split(p_name, ' ')[1]")} || '-' ||
         {_sdx_sql("string_split(p_name, ' ')[2]")} AS block_code
  FROM names
), pairs AS (
  SELECT a.block_code,
         CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS lev
  FROM coded a JOIN coded b
    ON a.block_code = b.block_code AND a.p_name < b.p_name
)
SELECT c.block_code,
       CAST(count(DISTINCT c.p_name) AS BIGINT) AS n_names,
       CAST(count(DISTINCT p.lev) AS BIGINT) AS n_distinct_dists,
       CAST(coalesce(sum_p.n_pairs, 0) AS BIGINT) AS n_pairs,
       CAST(coalesce(sum_p.sum_lev, 0) AS BIGINT) AS sum_lev,
       CAST(coalesce(sum_p.min_lev, 0) AS BIGINT) AS min_lev
FROM coded c
LEFT JOIN pairs p ON p.block_code = c.block_code
LEFT JOIN (
  SELECT block_code, count(*) AS n_pairs, sum(lev) AS sum_lev,
         min(lev) AS min_lev
  FROM pairs GROUP BY block_code
) sum_p ON sum_p.block_code = c.block_code
GROUP BY c.block_code, sum_p.n_pairs, sum_p.sum_lev, sum_p.min_lev
"""


@register("soundex_blocking_pairs", soundex_blocking_oracle)
def soundex_blocking_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Phonetic record-linkage blocking: every DISTINCT part name is coded
    by the word-wise simplified soundex of its two name words, candidate
    pairs form ONLY within a block (the classic blocking step that turns
    O(n²) linkage into Σ block²), and in-block pairs are scored with
    exact Levenshtein. Output is the per-block audit table (block size,
    pair count, distance mass) a linkage pipeline uses to tune its
    blocking key. Complements `fuzzy_name_pairs` (q-gram) and
    `edit_distance_pairs` (deletion-neighborhood): phonetic blocking
    catches sound-alike variants those misses.

    Soundex is spelled as the IDENTICAL translate + per-digit-collapse +
    zero-strip chain on both engines (see `_sdx_sql` for the documented
    H/W deviation) — never each engine's builtin, whose editions differ.

    Scale: names are deduped FIRST, so every later stage is bounded by
    the name VOCABULARY (colors × nouns), not the part count — the
    data-sized stage is one combinable distinct; in-block pairing is an
    equi-self-join on the block code."""
    names = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_name").isNotNull())
        .select("p_name")
        .distinct()
    )
    words = F.split("p_name", " ")
    coded = names.select(
        "p_name",
        F.concat(
            _sdx_col(F.element_at(words, 1)),
            F.lit("-"),
            _sdx_col(F.element_at(words, 2)),
        ).alias("block_code"),
    )
    a, b = coded.alias("a"), coded.alias("b")
    pairs = a.join(
        b,
        (F.col("a.block_code") == F.col("b.block_code"))
        & (F.col("a.p_name") < F.col("b.p_name")),
    ).select(
        F.col("a.block_code").alias("block_code"),
        F.levenshtein(F.col("a.p_name"), F.col("b.p_name"))
        .cast("long")
        .alias("lev"),
    )
    per_block = pairs.groupBy("block_code").agg(
        F.count("*").alias("n_pairs"),
        F.sum("lev").alias("sum_lev"),
        F.min("lev").alias("min_lev"),
        F.count_distinct("lev").alias("n_distinct_dists"),
    )
    sizes = coded.groupBy("block_code").agg(
        F.count_distinct("p_name").alias("n_names")
    )
    return sizes.join(per_block, "block_code", "left").select(
        "block_code",
        "n_names",
        F.coalesce("n_distinct_dists", F.lit(0)).alias("n_distinct_dists"),
        F.coalesce("n_pairs", F.lit(0)).alias("n_pairs"),
        F.coalesce("sum_lev", F.lit(0)).alias("sum_lev"),
        F.coalesce("min_lev", F.lit(0)).alias("min_lev"),
    )


# ---------------------------------------------------------------------------
# Entity resolution: phonetic blocking → edit-distance edges → components
# ---------------------------------------------------------------------------

ER_MAX_LEV = 2

er_oracle = f"""
WITH RECURSIVE names AS (
  SELECT p_name, CAST(min(p_partkey) AS BIGINT) AS name_id
  FROM part WHERE p_name IS NOT NULL
  GROUP BY p_name
), coded AS (
  SELECT p_name, name_id,
         {_sdx_sql("string_split(p_name, ' ')[1]")} || '-' ||
         {_sdx_sql("string_split(p_name, ' ')[2]")} AS block_code
  FROM names
), pairs AS (
  SELECT a.name_id AS a, b.name_id AS b
  FROM coded a JOIN coded b
    ON a.block_code = b.block_code AND a.p_name < b.p_name
  WHERE levenshtein(a.p_name, b.p_name) <= {ER_MAX_LEV}
), edges AS (
  SELECT a, b FROM pairs UNION SELECT b, a FROM pairs
), reach AS (
  SELECT name_id AS id, name_id AS r FROM names
  UNION
  SELECT reach.id, e.b AS r FROM reach JOIN edges e ON reach.r = e.a
), comp AS (
  SELECT id, min(r) AS component FROM reach GROUP BY id
)
SELECT n.p_name, n.name_id, c.component,
       (SELECT n2.p_name FROM names n2 WHERE n2.name_id = c.component)
         AS canonical_name
FROM names n JOIN comp c ON c.id = n.name_id
"""


@register("entity_resolution_names", er_oracle)
def entity_resolution_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end entity resolution over part names — the COMPOSITION the
    linkage pieces exist for: phonetic blocking (`soundex_blocking_pairs`'
    engine-identical code chain) → exact Levenshtein ≤ 2 match edges
    inside blocks → connected components (the `dedup_clusters` kernel) →
    one canonical name per entity cluster (the min-name_id member, with
    name_id = each name's min p_partkey — a deterministic integer
    identity the CC machinery and the oracle share). A catalog team runs
    exactly this to collapse "red widget"/"red widgett" listings.

    Scale: every stage is name-VOCABULARY-bounded after the one
    combinable distinct (names ≪ parts); blocking keeps the pair stage at
    Σ block² over phonetic buckets; components ride
    `connected_components`' union-find fast path at this graph size and
    its hash-min rounds beyond. Oracle = recursive transitive closure +
    brute in-block pairing — different algorithms, one result."""
    from .dedup import connected_components

    part = load_table(spark, sf_dir, "part").filter(
        F.col("p_name").isNotNull()
    )
    names = part.groupBy("p_name").agg(
        F.min("p_partkey").cast("bigint").alias("name_id")
    )
    words = F.split("p_name", " ")
    coded = names.select(
        "p_name",
        "name_id",
        F.concat(
            _sdx_col(F.element_at(words, 1)),
            F.lit("-"),
            _sdx_col(F.element_at(words, 2)),
        ).alias("block_code"),
    )
    a, b = coded.alias("a"), coded.alias("b")
    pairs = a.join(
        b,
        (F.col("a.block_code") == F.col("b.block_code"))
        & (F.col("a.p_name") < F.col("b.p_name")),
    ).filter(
        F.levenshtein(F.col("a.p_name"), F.col("b.p_name")) <= ER_MAX_LEV
    ).select(
        F.col("a.name_id").alias("src"), F.col("b.name_id").alias("dst")
    )
    comp = connected_components(pairs)  # (id, component) for linked names
    canon = names.select(
        F.col("name_id").alias("component"),
        F.col("p_name").alias("canonical_name"),
    )
    out = (
        names.join(comp, names.name_id == comp.id, "left")
        .select(
            "p_name",
            "name_id",
            # singletons (no edge) are their own component
            F.coalesce("component", "name_id").alias("component"),
        )
        .join(F.broadcast(canon), "component")
    )
    return out.select("p_name", "name_id", "component", "canonical_name")
