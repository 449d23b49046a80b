"""Training-data preparation operators (SURVEY.md §2.11/§2.12 extensions).

The ops a large-scale LLM pipeline runs between raw corpus and training
shards: sequence packing, repetition-quality signals, benchmark
contamination checks, embedding quantization, and deterministic train/val
splitting. All [EXT] — the reference has no counterpart (its surface is the
435-LoC SmartRoom pipeline); these follow the driver mandate that
training-data ops be first-class.

Scale design notes (100 TB):

- Every operator's only shuffles are hash shuffles on bounded keys
  (``doc_id`` / ``vec_id`` / pack-shard). No global sorts, no driver
  round-trips, no interpreted higher-order lambdas (the round-1 perf trap —
  n-grams are built with slice+arrays_zip, which stay inside whole-stage
  codegen, not ``F.transform`` lambdas).
- ``pack_sequences`` windows per (source, shard), never globally: packing
  parallelism is the shard count, and a window over an unbounded global
  order (single-partition exchange) never appears.
- ``contamination_trigrams`` keeps the benchmark side tiny by construction
  (real benchmark suites are ≪ corpus); the join is AQE-broadcastable
  without a forced hint.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.hashing import portable_hash_mod, sql_hash_mod
from ..functions.reliability import materialize
from ..registry import register
from ..sources import load_table

#: token budget per packed training sequence
PACK_BUDGET = 2048
#: shards per source for parallel packing (at 100 TB this is O(cores), not 8)
PACK_SHARDS = 8
#: every doc_id divisible by this is "benchmark" for the contamination check
BENCH_MOD = 97
#: train fraction (percent) for the deterministic split
TRAIN_PCT = 90

_DOC_KEY = "CAST(doc_id AS VARCHAR)"


# --------------------------------------------------------------------------
# sequence packing
# --------------------------------------------------------------------------

pack_sequences_oracle = f"""
WITH docs AS (
  SELECT source, doc_id,
         CAST({sql_hash_mod(_DOC_KEY, PACK_SHARDS)} AS INT) AS shard,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
  FROM documents
), packed AS (
  SELECT source, shard, doc_id, n_tokens,
         COALESCE(sum(n_tokens) OVER (
           PARTITION BY source, shard ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ), 0) // {PACK_BUDGET} AS seq_id
  FROM docs
)
SELECT source, shard, CAST(seq_id AS BIGINT) AS seq_id,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       min(doc_id) AS min_doc_id, max(doc_id) AS max_doc_id
FROM packed
GROUP BY source, shard, seq_id
"""


@register("pack_sequences", pack_sequences_oracle)
def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contiguous token-budget packing: assign documents (in deterministic
    doc_id order within a (source, shard) group) to training sequences of
    ~PACK_BUDGET tokens via an exclusive running sum. A sequence may overflow
    by at most its last document — the standard streaming-pack trade that
    needs one window pass instead of bin-packing's quadratic search.

    Shard-local packing keeps the window partitioned (no global order, no
    single-partition exchange); the shard key is the portable hash, so the
    layout is reproducible across engines and cluster sizes."""
    docs = load_table(spark, sf_dir, "documents").select(
        "source",
        "doc_id",
        portable_hash_mod(F.col("doc_id").cast("string"), PACK_SHARDS)
        .cast("int")
        .alias("shard"),
        F.size(F.split("text", " ")).cast("long").alias("n_tokens"),
    )
    w = (
        Window.partitionBy("source", "shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    packed = docs.withColumn(
        "cum_before", F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    ).withColumn("seq_id", F.expr(f"cum_before div {PACK_BUDGET}"))
    return packed.groupBy("source", "shard", "seq_id").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.min("doc_id").alias("min_doc_id"),
        F.max("doc_id").alias("max_doc_id"),
    )


# --------------------------------------------------------------------------
# repetition signals (Gopher-style duplicate n-gram quality filters)
# --------------------------------------------------------------------------

repetition_signals_oracle = """
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
         generate_subscripts(string_split(text, ' '), 1) AS pos
  FROM documents
), pairs AS (
  SELECT doc_id, tok,
         lead(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt
  FROM toks
), cnt AS (
  SELECT doc_id, tok || ' ' || nxt AS bigram, count(*) AS c
  FROM pairs WHERE nxt IS NOT NULL
  GROUP BY 1, 2
)
SELECT doc_id,
       CAST(sum(c) AS BIGINT) AS total_bigrams,
       CAST(max(c) AS BIGINT) AS top_bigram_count,
       CAST(count(*) AS BIGINT) AS distinct_bigrams,
       round(max(c)::DOUBLE / sum(c), 4) AS top_bigram_frac,
       round((sum(c) - count(*))::DOUBLE / sum(c), 4) AS dup_bigram_frac
FROM cnt
GROUP BY doc_id
"""


def _ngram_col(n: int) -> F.Column:
    """n-gram strings from a ``toks`` array column — slice+arrays_zip+explode
    (whole-stage codegen), NOT an ``F.transform`` index lambda (interpreted
    per element — the round-1 perf trap)."""
    # clamp: a doc with fewer than n tokens would give slice a negative
    # length (SparkRuntimeException INVALID_PARAMETER_VALUE.LENGTH); a
    # zero-length slice yields an empty array → arrays_zip/explode emit no
    # rows, matching the oracle's lead()+IS NOT NULL filter.
    length = F.greatest(F.lit(0), F.size("toks") - (n - 1))
    slices = [
        F.slice("toks", i + 1, length).alias(f"g{i}") for i in range(n)
    ]
    z = F.explode(F.arrays_zip(*slices)).alias("z")
    return z


@register("repetition_signals", repetition_signals_oracle)
def repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document repetition quality signals (Gopher-style): bigram total /
    top count / distinct count, plus top-bigram and duplicate-bigram
    fractions. High values on either fraction flag boilerplate or degenerate
    repetition — a standard pre-training quality gate.

    Plan: bigrams come from zipping the token array with its own offset-1
    slice (no window, no per-element lambda), so the only shuffle is the
    (doc_id, bigram) count aggregate, re-used by the per-doc rollup on the
    same doc_id key."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("toks")
    )
    grams = docs.select("doc_id", _ngram_col(2)).select(
        "doc_id", F.concat_ws(" ", "z.g0", "z.g1").alias("bigram")
    )
    cnt = grams.groupBy("doc_id", "bigram").agg(F.count("*").alias("c"))
    s, d = F.sum("c"), F.count("*")
    return cnt.groupBy("doc_id").agg(
        s.alias("total_bigrams"),
        F.max("c").alias("top_bigram_count"),
        d.alias("distinct_bigrams"),
        F.round(F.max("c").cast("double") / s, 4).alias("top_bigram_frac"),
        F.round((s - d).cast("double") / s, 4).alias("dup_bigram_frac"),
    )


# --------------------------------------------------------------------------
# benchmark contamination (n-gram overlap)
# --------------------------------------------------------------------------

contamination_trigrams_oracle = f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
         generate_subscripts(string_split(text, ' '), 1) AS pos
  FROM documents
), tri AS (
  SELECT doc_id,
         tok || ' ' || lead(tok, 1) OVER w || ' ' || lead(tok, 2) OVER w
           AS trigram
  FROM toks
  WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
), tri_ok AS (
  SELECT DISTINCT doc_id, trigram FROM tri WHERE trigram IS NOT NULL
), bench AS (
  SELECT DISTINCT trigram FROM tri_ok WHERE doc_id % {BENCH_MOD} = 0
)
SELECT t.doc_id,
       CAST(count(*) AS BIGINT) AS n_grams,
       CAST(count(b.trigram) AS BIGINT) AS n_contaminated,
       round(count(b.trigram)::DOUBLE / count(*), 4) AS contamination_frac
FROM tri_ok t LEFT JOIN bench b USING (trigram)
WHERE t.doc_id % {BENCH_MOD} != 0
GROUP BY t.doc_id
"""


@register("contamination_trigrams", contamination_trigrams_oracle)
def contamination_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination check: fraction of each training document's
    distinct token trigrams that also appear in the held-out "benchmark" set
    (here: doc_id ≡ 0 mod BENCH_MOD — a stand-in for a real eval suite).
    Documents scoring high would leak eval data into training.

    Scale: the benchmark trigram set is small by construction (eval suites
    are ≪ corpus), so AQE broadcasts it — no forced hint, no corpus-sized
    shuffle on the join; the per-doc rollup shuffles on doc_id only."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("toks")
    )
    tri = (
        docs.select("doc_id", _ngram_col(3))
        .select("doc_id", F.concat_ws(" ", "z.g0", "z.g1", "z.g2").alias("trigram"))
        .distinct()
    )
    bench = (
        tri.filter(F.col("doc_id") % BENCH_MOD == 0)
        .select("trigram")
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    corpus = tri.filter(F.col("doc_id") % BENCH_MOD != 0)
    joined = corpus.join(bench, "trigram", "left")
    return joined.groupBy("doc_id").agg(
        F.count("*").alias("n_grams"),
        F.count("hit").alias("n_contaminated"),
        F.round(F.count("hit").cast("double") / F.count("*"), 4).alias(
            "contamination_frac"
        ),
    )


# --------------------------------------------------------------------------
# embedding quantization (int8, symmetric per-vector scale)
# --------------------------------------------------------------------------

embedding_quantize_oracle = """
WITH vals AS (
  SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS v FROM embeddings
), scaled AS (
  SELECT vec_id, v,
         max(abs(v)) OVER (PARTITION BY vec_id) / 127 AS scale
  FROM vals
), q AS (
  SELECT vec_id, scale,
         CASE WHEN scale = 0 THEN 0 ELSE round(v / scale) END AS q,
         abs(v - CASE WHEN scale = 0 THEN 0 ELSE round(v / scale) END * scale)
           AS err
  FROM scaled
)
SELECT vec_id,
       round(min(scale), 6) AS scale,
       round(max(err), 6) AS max_abs_err,
       CAST(sum(CAST(abs(q) AS BIGINT)) AS BIGINT) AS sum_q_abs,
       CAST(count(*) FILTER (WHERE abs(q) = 127) AS INT) AS n_saturated
FROM q
GROUP BY vec_id
"""


@register("embedding_quantize", embedding_quantize_oracle)
def embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 symmetric quantization audit per embedding: scale = max|x|/127,
    q = round(x/scale), reporting the reconstruction-error bound and
    saturation stats a vector-store compaction job would gate on. |q| ≤ 127
    by construction (symmetric scale), so no clipping branch.

    All math is double-precision column algebra replayed bit-identically by
    the DuckDB oracle; the only shuffle is the vec_id hash for the window +
    final aggregate (same key, one exchange under AQE reuse)."""
    vals = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.posexplode("embedding").alias("pos", "v")
    ).select("vec_id", F.col("v").cast("double").alias("v"))
    w = Window.partitionBy("vec_id")
    scaled = vals.withColumn("scale", F.max(F.abs("v")).over(w) / 127)
    # all-zero vector → scale 0; Spark's non-ANSI x/0 is NULL (DuckDB: NaN),
    # so pin q = 0 for that case in BOTH engines (v is 0, err is 0)
    q = F.when(F.col("scale") == 0, F.lit(0.0)).otherwise(
        F.round(F.col("v") / F.col("scale"))
    )
    quant = scaled.select(
        "vec_id",
        "scale",
        q.alias("q"),
        F.abs(F.col("v") - q * F.col("scale")).alias("err"),
    )
    return quant.groupBy("vec_id").agg(
        F.round(F.min("scale"), 6).alias("scale"),
        F.round(F.max("err"), 6).alias("max_abs_err"),
        F.sum(F.abs("q").cast("bigint")).alias("sum_q_abs"),
        F.count(F.when(F.abs("q") == 127, 1)).cast("int").alias("n_saturated"),
    )


# --------------------------------------------------------------------------
# document chunking (RAG / context-window preparation)
# --------------------------------------------------------------------------

#: tokens per chunk and stride between chunk starts (overlap = CHUNK-STRIDE)
CHUNK_TOKENS = 16
CHUNK_STRIDE = 12

chunk_documents_oracle = f"""
WITH starts AS (
  SELECT doc_id, text,
         unnest(generate_series(
           1, len(string_split(text, ' ')), {CHUNK_STRIDE}
         )) AS start
  FROM documents
)
SELECT doc_id,
       CAST((start - 1) // {CHUNK_STRIDE} AS INT) AS chunk_id,
       array_to_string(
         string_split(text, ' ')[start : start + {CHUNK_TOKENS} - 1], ' '
       ) AS chunk_text,
       CAST(len(string_split(text, ' ')[start : start + {CHUNK_TOKENS} - 1])
            AS INT) AS n_tokens
FROM starts
"""


@register("chunk_documents", chunk_documents_oracle)
def chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping fixed-token chunks per document (CHUNK_TOKENS window,
    CHUNK_STRIDE stride) — the retrieval/context-window prep step between a
    curated corpus and an embedding or training job. The trailing chunk may
    be short (standard chunking semantics); overlap = CHUNK-STRIDE tokens.

    Plan: explode an in-plan ``sequence()`` of chunk starts, then
    ``slice``+``concat_ws`` — all codegen, no lambda, no shuffle at all
    (chunking is embarrassingly parallel; the scan partitioning IS the
    output partitioning)."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("toks")
    )
    exploded = docs.select(
        "doc_id",
        "toks",
        F.explode(
            F.sequence(F.lit(1), F.size("toks"), F.lit(CHUNK_STRIDE))
        ).alias("start"),
    )
    chunk = F.slice("toks", F.col("start"), F.lit(CHUNK_TOKENS))
    return exploded.select(
        "doc_id",
        ((F.col("start") - 1) / CHUNK_STRIDE).cast("int").alias("chunk_id"),
        F.concat_ws(" ", chunk).alias("chunk_text"),
        F.size(chunk).alias("n_tokens"),
    )


# --------------------------------------------------------------------------
# source mixing (per-source sampling rates — "data mixing weights")
# --------------------------------------------------------------------------

_MIX_KEY = "concat(CAST(doc_id AS VARCHAR), '|mix')"

source_mix_sample_oracle = f"""
SELECT doc_id, source
FROM documents
WHERE {sql_hash_mod(_MIX_KEY, 100)} < 20 + {sql_hash_mod('source', 81)}
"""


@register("source_mix_sample", source_mix_sample_oracle)
def source_mix_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source mixing-weight sampler: each source gets its own keep rate
    (here derived from the source name's hash, 20-100% — in production the
    rates come from a mixing table) applied as a deterministic salted-hash
    Bernoulli filter. Pure filter over the scan — no shuffle, reproducible
    at any cluster size; THE op behind 'sample web at 30%, books at 100%'
    dataset recipes."""
    docs = load_table(spark, sf_dir, "documents")
    pct = F.lit(20) + portable_hash_mod(F.col("source"), 81)
    keep = (
        portable_hash_mod(
            F.concat(F.col("doc_id").cast("string"), F.lit("|mix")), 100
        )
        < pct
    )
    return docs.filter(keep).select("doc_id", "source")


# --------------------------------------------------------------------------
# temperature-weighted source mixing (rates derived from corpus counts)
# --------------------------------------------------------------------------

#: target sample size — the epoch's document budget
MIX_TARGET = 300
#: temperature α=0.5 → weight per source ∝ sqrt(n_s): upweights small
#: sources relative to proportional sampling (the n^α mixing rule)

_TMIX_KEY = "concat(CAST(doc_id AS VARCHAR), '|tmix')"

temperature_mix_sample_oracle = f"""
WITH n AS (
  SELECT source, count(*)::DOUBLE AS n_s FROM documents GROUP BY source
), tot AS (
  SELECT sum(sqrt(n_s)) AS sw FROM n
), r AS (
  SELECT source,
         least(1.0, {MIX_TARGET} * sqrt(n_s) / (SELECT sw FROM tot) / n_s)
           AS rate
  FROM n
)
SELECT d.doc_id, d.source
FROM documents d JOIN r USING (source)
WHERE {sql_hash_mod(_TMIX_KEY, 1000000)} < floor(r.rate * 1000000)
"""


@register("temperature_mix_sample", temperature_mix_sample_oracle)
def temperature_mix_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-weighted source mixing: per-source keep rates are
    DERIVED IN-PLAN from the corpus itself — source s is sampled toward a
    share ∝ n_s^0.5 of a MIX_TARGET-document budget (the n^α mixing rule
    LLM pretraining recipes use to upweight small high-quality sources
    against proportional sampling), capped at keeping the whole source.
    Unlike :func:`source_mix_sample` (static rate table), the rates here
    track the corpus: re-running after ingest re-derives them.

    Plan: tiny per-source count agg → 1-row sqrt-sum → broadcast the
    source→rate table back onto the scan → deterministic salted-hash
    Bernoulli filter at floor(rate·1e6) precision. One data-sized scan,
    dimension-bounded aggregates, no data-sized shuffle — the derived-rate
    broadcast pattern scales to any corpus."""
    docs = load_table(spark, sf_dir, "documents")
    cnt = docs.groupBy("source").agg(
        F.count("*").cast("double").alias("n_s")
    )
    tot = cnt.agg(F.sum(F.sqrt("n_s")).alias("sw"))
    rates = cnt.crossJoin(F.broadcast(tot)).select(
        "source",
        F.least(
            F.lit(1.0),
            F.lit(MIX_TARGET) * F.sqrt("n_s") / F.col("sw") / F.col("n_s"),
        ).alias("rate"),
    )
    keep = portable_hash_mod(
        F.concat(F.col("doc_id").cast("string"), F.lit("|tmix")), 1_000_000
    ) < F.floor(F.col("rate") * 1_000_000)
    return (
        docs.join(F.broadcast(rates), "source")
        .filter(keep)
        .select("doc_id", "source")
    )


# --------------------------------------------------------------------------
# cross-source dedup with source priority
# --------------------------------------------------------------------------

dedup_source_priority_oracle = f"""
WITH ranked AS (
  SELECT doc_id, source, sha256(text) AS content_hash,
         row_number() OVER (
           PARTITION BY sha256(text)
           ORDER BY {sql_hash_mod('source', 1000)}, doc_id
         ) AS rn,
         count(*) OVER (PARTITION BY sha256(text)) AS n_copies
  FROM documents
)
SELECT content_hash, CAST(n_copies AS BIGINT) AS n_copies,
       doc_id AS keep_doc_id, source AS keep_source
FROM ranked WHERE rn = 1
"""


@register("dedup_source_priority", dedup_source_priority_oracle)
def dedup_source_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup that keeps the copy from the PREFERRED source (priority
    = source-name hash here; a curated-source ranking in production), tie
    broken by doc_id — the policy layer `dedup_exact`'s min-doc_id keep
    rule can't express. One window on the content-hash shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("content_hash")
    ranked = docs.select(
        "doc_id",
        "source",
        F.sha2("text", 256).alias("content_hash"),
    ).withColumns(
        {
            "rn": F.row_number().over(
                w.orderBy(portable_hash_mod(F.col("source"), 1000), "doc_id")
            ),
            "n_copies": F.count("*").over(w),
        }
    )
    return ranked.filter(F.col("rn") == 1).select(
        "content_hash",
        "n_copies",
        F.col("doc_id").alias("keep_doc_id"),
        F.col("source").alias("keep_source"),
    )


# --------------------------------------------------------------------------
# dynamic per-source quality gate
# --------------------------------------------------------------------------

quality_gate_dynamic_oracle = """
WITH scored AS (
  SELECT doc_id, source,
         round(len(list_distinct(string_split(text, ' ')))::DOUBLE
               / len(string_split(text, ' ')), 6) AS uniq_ratio
  FROM documents
), ranked AS (
  SELECT *, percent_rank() OVER (
    PARTITION BY source ORDER BY uniq_ratio
  ) AS pr
  FROM scored
)
SELECT doc_id, source, uniq_ratio, round(pr, 6) AS pr
FROM ranked WHERE pr >= 0.25
"""


@register("quality_gate_dynamic", quality_gate_dynamic_oracle)
def quality_gate_dynamic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percentile-relative quality gate: drop each source's bottom quartile
    by unique-token ratio. Absolute thresholds (text.py is_quality_col)
    misfire when sources have different baseline quality; ranking within
    the source adapts automatically. The score is rounded BEFORE ranking so
    the rank depends only on the value multiset — engine-portable. One
    source-key shuffle for the window."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    scored = docs.select(
        "doc_id",
        "source",
        F.round(
            F.size(F.array_distinct(toks)).cast("double") / F.size(toks), 6
        ).alias("uniq_ratio"),
    )
    pr = F.percent_rank().over(
        Window.partitionBy("source").orderBy("uniq_ratio")
    )
    # filter on the RAW rank (as the oracle does), round only for output —
    # rounding first would flip keep/drop at the quartile boundary
    return (
        scored.withColumn("pr_raw", pr)
        .filter(F.col("pr_raw") >= 0.25)
        .select("doc_id", "source", "uniq_ratio", F.round("pr_raw", 6).alias("pr"))
    )


# --------------------------------------------------------------------------
# composed corpus-to-chunks pipeline (the policy ops chained in ONE plan)
# --------------------------------------------------------------------------

curation_v2_oracle = f"""
WITH mixed AS (
  SELECT doc_id, source, text FROM documents
  WHERE {sql_hash_mod(_MIX_KEY, 100)} < 20 + {sql_hash_mod('source', 81)}
), ranked AS (
  SELECT doc_id, source, text,
         percent_rank() OVER (
           PARTITION BY source
           ORDER BY round(len(list_distinct(string_split(text, ' ')))::DOUBLE
                          / len(string_split(text, ' ')), 6)
         ) AS pr
  FROM mixed
), gated AS (
  SELECT doc_id, source, text FROM ranked WHERE pr >= 0.25
), deduped AS (
  SELECT doc_id, source, text FROM (
    SELECT *, row_number() OVER (
      PARTITION BY sha256(text)
      ORDER BY {sql_hash_mod('source', 1000)}, doc_id
    ) AS rn
    FROM gated
  ) WHERE rn = 1
), chunks AS (
  SELECT doc_id, source, string_split(text, ' ') AS toks,
         unnest(generate_series(
           1, len(string_split(text, ' ')), {CHUNK_STRIDE}
         )) AS start
  FROM deduped
)
SELECT source,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
       CAST(count(*) AS BIGINT) AS n_chunks,
       CAST(sum(len(toks[start : start + {CHUNK_TOKENS} - 1])) AS BIGINT)
         AS total_chunk_tokens
FROM chunks
GROUP BY source
"""


@register("curation_pipeline_v2", curation_v2_oracle)
def curation_pipeline_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The policy operators composed end to end in ONE declarative plan:
    source-mix sample → per-source dynamic quality gate (ranked within the
    SAMPLED population — the gate adapts to what mixing kept) → priority-
    keep exact dedup → overlapping chunking → per-source output stats.

    Plan shape: pushed-filter scan (mix), window on source (gate), window
    on content hash (dedup), shuffle-free chunk explode, final source
    aggregate — three hash shuffles for a five-stage pipeline, because
    chunking and mixing ride existing partitionings. Complements
    `curation_pipeline` (the near-dup/cluster path); together they are the
    corpus-to-training-chunks story."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    mixed = docs.filter(
        portable_hash_mod(
            F.concat(F.col("doc_id").cast("string"), F.lit("|mix")), 100
        )
        < F.lit(20) + portable_hash_mod(F.col("source"), 81)
    )
    toks = F.split("text", " ")
    uniq = F.round(
        F.size(F.array_distinct(toks)).cast("double") / F.size(toks), 6
    )
    pr = F.percent_rank().over(Window.partitionBy("source").orderBy(uniq))
    gated = (
        mixed.withColumn("pr", pr).filter(F.col("pr") >= 0.25).drop("pr")
    )
    rn = F.row_number().over(
        Window.partitionBy(F.sha2("text", 256)).orderBy(
            portable_hash_mod(F.col("source"), 1000), "doc_id"
        )
    )
    deduped = gated.withColumn("rn", rn).filter(F.col("rn") == 1).drop("rn")
    chunks = deduped.select(
        "doc_id",
        "source",
        toks.alias("toks"),
        F.explode(
            F.sequence(F.lit(1), F.size(toks), F.lit(CHUNK_STRIDE))
        ).alias("start"),
    )
    chunk = F.slice("toks", F.col("start"), F.lit(CHUNK_TOKENS))
    return chunks.groupBy("source").agg(
        F.count_distinct("doc_id").alias("n_docs"),
        F.count("*").alias("n_chunks"),
        F.sum(F.size(chunk).cast("long")).alias("total_chunk_tokens"),
    )


# --------------------------------------------------------------------------
# deterministic train/val split
# --------------------------------------------------------------------------

_SPLIT_KEY = "concat(CAST(doc_id AS VARCHAR), '|split')"

train_val_split_oracle = f"""
SELECT source,
       CASE WHEN {sql_hash_mod(_SPLIT_KEY, 100)} < {TRAIN_PCT}
            THEN 'train' ELSE 'val' END AS split,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM documents
GROUP BY 1, 2
"""


@register("train_val_split", train_val_split_oracle)
def train_val_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~TRAIN_PCT/remainder split keyed on a salted portable
    hash of doc_id — reproducible across runs, engines, and cluster sizes
    (``randomSplit`` is none of those). The salt decorrelates this split
    from every other hash-keyed sampler in the registry. Summary shape
    (per-source counts) keeps the oracle exact; the row-level assignment is
    the same filter expression."""
    docs = load_table(spark, sf_dir, "documents")
    split = F.when(
        portable_hash_mod(
            F.concat(F.col("doc_id").cast("string"), F.lit("|split")), 100
        )
        < TRAIN_PCT,
        "train",
    ).otherwise("val")
    return docs.groupBy("source", split.alias("split")).agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
    )


# ---------------------------------------------------------------------------
# Unigram log-probability quality scoring (round-7; the perplexity-proxy
# stage of corpus curation — a KenLM-shaped filter without the external LM:
# the corpus's own unigram MLE stands in for the language model)
# ---------------------------------------------------------------------------

unigram_logprob_oracle = """
WITH toks AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
), nonempty AS (
  SELECT doc_id, tok FROM toks WHERE tok <> ''
), vocab AS (
  SELECT tok, count(*) AS c FROM nonempty GROUP BY tok
), total AS (
  SELECT CAST(sum(c) AS DOUBLE) AS n FROM vocab
)
SELECT t.doc_id,
       CAST(count(*) AS BIGINT) AS n_tokens,
       round(CAST(sum(CAST(ln(v.c / tt.n) AS DECIMAL(18,9))) AS DOUBLE) / count(*), 6) AS avg_logprob
FROM nonempty t
JOIN vocab v USING (tok), total tt
GROUP BY t.doc_id
"""


@register("unigram_logprob_quality", unigram_logprob_oracle)
def unigram_logprob_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document mean unigram log-probability under the corpus's own
    MLE unigram model — the model-based quality score (low = rare-token
    soup / garbled text) that sits where a perplexity filter would in a
    real curation stack. Two passes over the token explode: vocabulary
    counts (vocab-sized shuffle with map-side partials), then a
    token-keyed join back and a doc-keyed aggregation. The 1-row total
    crosses via an AQE runtime broadcast; every unigram probability is
    count/N in exact doubles, so both engines log identical values."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("tok")
    ).filter(F.col("tok") != "")
    vocab = toks.groupBy("tok").agg(F.count("*").alias("c"))
    total = vocab.agg(F.sum("c").cast("double").alias("n"))
    return (
        toks.join(vocab, "tok")
        .join(total)
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            # each log term quantized to DECIMAL(18,9) before the sum: the
            # per-token log doubles are engine-identical, the SUM ORDER is
            # not — decimal accumulation makes it order-independent
            F.round(
                F.sum(
                    F.log(F.col("c") / F.col("n")).cast("decimal(18,9)")
                ).cast("double")
                / F.count("*"),
                6,
            ).alias("avg_logprob"),
        )
    )


# ---------------------------------------------------------------------------
# Integer token-budget apportionment (largest remainder / Hamilton)
# ---------------------------------------------------------------------------

#: total token budget to split across sources
APPORTION_BUDGET = 1_000_000

token_budget_oracle = f"""
WITH src AS (
  SELECT source, CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source
), tot AS (SELECT sum(n_tokens) AS t FROM src),
quota AS (
  SELECT source, n_tokens,
         CAST(({APPORTION_BUDGET} * n_tokens) // t AS BIGINT) AS floor_quota,
         CAST(({APPORTION_BUDGET} * n_tokens) % t AS BIGINT) AS remainder
  FROM src, tot
), leftover AS (
  SELECT {APPORTION_BUDGET} - sum(floor_quota) AS extra FROM quota
), ranked AS (
  SELECT source, n_tokens, floor_quota, remainder,
         CAST(row_number() OVER (ORDER BY remainder DESC, source) AS BIGINT)
           AS rk
  FROM quota
)
SELECT source, n_tokens, floor_quota, remainder,
       CAST(floor_quota + CASE WHEN rk <= extra THEN 1 ELSE 0 END AS BIGINT)
         AS allocated
FROM ranked, leftover
"""


@register("token_budget_apportion", token_budget_oracle)
def token_budget_apportion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split a fixed token budget across corpus sources proportionally to
    their token counts with EXACT integer quotas (largest-remainder /
    Hamilton apportionment): floor quotas first, then the leftover units go
    to the largest fractional remainders (source-name tiebreak). This is
    the "how many tokens may each source contribute to the training set"
    governance step that `temperature_mix_sample` samples against — rates
    there, exact integer quotas here, and Hamilton guarantees the quotas
    sum to the budget exactly (independent rounding does not).

    Every quantity is INTEGER arithmetic (budget·n < 2^63, DIV/MOD), so
    both engines agree bit-for-bit — no float apportionment boundary
    exists. Scale shape: the data-sized stage is one combinable per-source
    aggregate; everything after runs on the source-cardinality table (the
    one unpartitioned ranking window is over that ≤O(100)-row relation —
    allowlisted)."""
    docs = load_table(spark, sf_dir, "documents")
    src = docs.groupBy("source").agg(
        F.sum(F.size(F.split("text", " "))).cast("bigint").alias("n_tokens")
    )
    tot = src.agg(F.sum("n_tokens").alias("t"))
    quota = src.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_tokens",
        F.expr(f"({APPORTION_BUDGET}L * n_tokens) div t").alias("floor_quota"),
        F.pmod(F.lit(APPORTION_BUDGET) * F.col("n_tokens"), F.col("t")).alias(
            "remainder"
        ),
    )
    leftover = quota.agg(
        (F.lit(APPORTION_BUDGET) - F.sum("floor_quota")).alias("extra")
    )
    ranked = quota.withColumn(
        "rk",
        F.row_number().over(
            Window.orderBy(F.col("remainder").desc(), "source")
        ).cast("bigint"),
    )
    return ranked.crossJoin(F.broadcast(leftover)).select(
        "source",
        "n_tokens",
        "floor_quota",
        "remainder",
        (
            F.col("floor_quota")
            + F.when(F.col("rk") <= F.col("extra"), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("allocated"),
    )


# ---------------------------------------------------------------------------
# Bigram log-probability quality scoring (round-10): the context-aware
# upgrade of unigram_logprob_quality — word-salad that passes a unigram
# filter (common tokens, wrong order) scores low here
# ---------------------------------------------------------------------------

bigram_logprob_oracle = """
WITH raw AS (
  SELECT doc_id,
         CAST(generate_subscripts(string_split(text, ' '), 1) AS BIGINT)
           AS rawpos,
         unnest(string_split(text, ' ')) AS tok
  FROM documents
), toks AS (
  SELECT doc_id, tok,
         row_number() OVER (PARTITION BY doc_id ORDER BY rawpos) AS pos
  FROM raw WHERE tok <> ''
), grams AS (
  SELECT a.doc_id, a.tok AS prev, b.tok AS tok
  FROM toks a JOIN toks b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
), bi AS (
  SELECT prev, tok, count(*) AS c FROM grams GROUP BY prev, tok
), uni AS (
  SELECT prev, count(*) AS u FROM grams GROUP BY prev
), vocab AS (
  SELECT CAST(count(DISTINCT tok) AS DOUBLE) AS v FROM (
    SELECT tok FROM grams UNION ALL SELECT prev FROM grams)
)
SELECT g.doc_id,
       CAST(count(*) AS BIGINT) AS n_bigrams,
       round(CAST(sum(CAST(ln((b.c + 1) / (u.u + vb.v)) AS DECIMAL(18,9)))
                  AS DOUBLE) / count(*), 6) AS avg_logprob
FROM grams g
JOIN bi b ON b.prev = g.prev AND b.tok = g.tok
JOIN uni u ON u.prev = g.prev
CROSS JOIN vocab vb
GROUP BY g.doc_id
"""


@register("bigram_logprob_quality", bigram_logprob_oracle)
def bigram_logprob_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document mean bigram log-probability under the corpus's own
    add-one-smoothed bigram model P(tok|prev) — the context-aware stage
    of the perplexity-proxy ladder (`unigram_logprob_quality` scores
    WHICH tokens a document uses; this scores whether they appear in the
    ORDER the corpus uses them, which is what separates fluent text from
    shuffled-token soup at equal unigram mass).

    Scale shape: adjacent pairs come from one doc-keyed lag window (the
    positions never leave the partition); the model is two
    (vocab²/vocab)-bounded counts joined back onto the pair stream with
    map-side combine everywhere; the 1-row vocab size crosses as a
    broadcast. Same DECIMAL(18,9) quantized-log-sum discipline as the
    unigram scorer, so per-doc scores are order-independent exact."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "tok")
    ).filter(F.col("tok") != "")
    w = Window.partitionBy("doc_id").orderBy("pos")
    grams = (
        toks.select(
            "doc_id",
            F.lag("tok", 1).over(w).alias("prev"),
            "tok",
        )
        .filter(F.col("prev").isNotNull())
    )
    bi = grams.groupBy("prev", "tok").agg(F.count("*").alias("c"))
    uni = grams.groupBy("prev").agg(F.count("*").alias("u"))
    vocab = (
        grams.select("tok")
        .unionAll(grams.select(F.col("prev").alias("tok")))
        .agg(F.count_distinct("tok").cast("double").alias("v"))
    )
    return (
        grams.join(bi, ["prev", "tok"])
        .join(uni, "prev")
        .crossJoin(F.broadcast(vocab))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.round(
                F.sum(
                    F.log((F.col("c") + 1) / (F.col("u") + F.col("v")))
                    .cast("decimal(18,9)")
                ).cast("double")
                / F.count("*"),
                6,
            ).alias("avg_logprob"),
        )
    )


# ---------------------------------------------------------------------------
# BPE merge training (round-10): the tokenizer-training stage itself
# ---------------------------------------------------------------------------

BPE_ROUNDS = 5


def _bpe_round_sql(k: int) -> str:
    """One BPE round: count adjacent symbol pairs weighted by word
    frequency, pick the argmax (count DESC, pair ASC), merge its leftmost
    non-overlapping occurrences (gaps-islands parity — only reachable
    when left == right), re-number positions."""
    return f""", p{k} AS (
  SELECT sym AS a, lead(sym) OVER (PARTITION BY word ORDER BY pos) AS b, cnt
  FROM s{k}
), b{k} AS MATERIALIZED (
  SELECT a, b, CAST(sum(cnt) AS BIGINT) AS pair_count
  FROM p{k} WHERE b IS NOT NULL
  GROUP BY a, b
  ORDER BY pair_count DESC, a, b LIMIT 1
), m{k} AS (
  SELECT s.word, s.cnt, s.pos, s.sym,
         CASE WHEN s.sym = bb.a
              AND lead(s.sym) OVER (PARTITION BY s.word ORDER BY s.pos) = bb.b
              THEN 1 ELSE 0 END AS mt
  FROM s{k} s CROSS JOIN b{k} bb
), i{k} AS (
  SELECT word, cnt, pos, sym, mt,
         CASE WHEN mt = 1 THEN pos - row_number() OVER (
              PARTITION BY word, mt ORDER BY pos) END AS grp
  FROM m{k}
), k{k} AS (
  SELECT word, cnt, pos, sym, mt,
         CASE WHEN mt = 1 AND (row_number() OVER (
              PARTITION BY word, grp ORDER BY pos) % 2) = 1
              THEN 1 ELSE 0 END AS keep
  FROM i{k}
), f{k} AS (
  SELECT word, cnt, pos,
         CASE WHEN keep = 1
              THEN sym || lead(sym) OVER (PARTITION BY word ORDER BY pos)
              ELSE sym END AS sym,
         COALESCE(lag(keep) OVER (PARTITION BY word ORDER BY pos), 0)
           AS consumed
  FROM k{k}
), s{k + 1} AS MATERIALIZED (
  SELECT word, cnt,
         CAST(row_number() OVER (PARTITION BY word ORDER BY pos)
              AS BIGINT) - 1 AS pos,
         sym
  FROM f{k} WHERE consumed = 0
)"""


def _bpe_cte_chain() -> str:
    """The shared WITH-chain: word dictionary → s0 symbol table →
    BPE_ROUNDS unrolled merge rounds, ending at s{BPE_ROUNDS} — the
    final per-word symbol table both the training AND the encoding
    oracle read (train reports the b{k} argmaxes; encode reassembles
    documents from s{BPE_ROUNDS})."""
    parts = [
        """
WITH toks AS (
  SELECT tok FROM (
    SELECT unnest(string_split(text, ' ')) AS tok FROM documents
  ) WHERE tok <> ''
), words AS (
  SELECT tok AS word, CAST(count(*) AS BIGINT) AS cnt FROM toks GROUP BY tok
), s0 AS MATERIALIZED (
  SELECT word, cnt, CAST(i AS BIGINT) AS pos,
         substr(word, CAST(i AS INT) + 1, 1) AS sym
  FROM words, unnest(range(0, length(word))) AS u(i)
)"""
    ]
    for k in range(BPE_ROUNDS):
        parts.append(_bpe_round_sql(k))
    return "".join(parts)


def _bpe_oracle() -> str:
    union = "\nUNION ALL\n".join(
        f"SELECT {k + 1} AS merge_round, a AS left_sym, b AS right_sym, "
        f"pair_count FROM b{k}"
        for k in range(BPE_ROUNDS)
    )
    return f"{_bpe_cte_chain()}\nSELECT * FROM ({union})"


def _bpe_learn(docs: DataFrame) -> tuple[list[DataFrame], DataFrame]:
    """Run BPE_ROUNDS merge rounds over the corpus's distinct-word
    dictionary. Returns ``(merges, symbols)``: one 1-row merge frame per
    round, plus the FINAL per-word symbol table (word, cnt, pos, sym) —
    which IS the encoding of every distinct word under the learned
    merges (train and encode share this loop; see `bpe_encode_docs`).

    Scale shape (the classic tokenizer-training insight): the only
    data-sized stage is one combinable word count; every merge round
    runs on the vocabulary-bounded symbol table (Σ|word| over DISTINCT
    words). Per round: one pair count (map-side combinable), a 1-row
    argmax broadcast (count DESC, pair ASC — exact integer
    determinism), and greedy leftmost-non-overlapping merge spelled as
    gaps-islands parity (consecutive match runs only arise when
    left == right, e.g. 'aaaa' + merge 'aa': keep matches 1 and 3).
    The symbol table is checkpointed per round — vocabulary-sized,
    truncates the 5-round window-chain lineage."""
    from pyspark.sql import Window

    toks = docs.select(
        F.explode(F.split("text", " ")).alias("tok")
    ).filter(F.col("tok") != "")
    words = toks.groupBy(F.col("tok").alias("word")).agg(
        F.count("*").alias("cnt")
    )
    s = words.select(
        "word",
        "cnt",
        F.explode(
            F.sequence(F.lit(0).cast("bigint"), F.length("word") - 1)
        ).alias("pos"),
    ).select(
        "word",
        "cnt",
        "pos",
        F.col("word").substr(
            (F.col("pos") + 1).cast("int"), F.lit(1)
        ).alias("sym"),
    ).transform(materialize)

    wseq = Window.partitionBy("word").orderBy("pos")
    merges = []
    for k in range(BPE_ROUNDS):
        pairs = s.select(
            F.col("sym").alias("a"),
            F.lead("sym", 1).over(wseq).alias("b"),
            "cnt",
        ).filter(F.col("b").isNotNull())
        best = (
            pairs.groupBy("a", "b")
            .agg(F.sum("cnt").alias("pair_count"))
            .orderBy(F.col("pair_count").desc(), "a", "b")
            .limit(1)
            .transform(materialize)
        )
        merges.append(
            best.select(
                F.lit(k + 1).alias("merge_round"),
                F.col("a").alias("left_sym"),
                F.col("b").alias("right_sym"),
                "pair_count",
            )
        )
        m = s.crossJoin(F.broadcast(best)).select(
            "word",
            "cnt",
            "pos",
            "sym",
            F.when(
                (F.col("sym") == F.col("a"))
                & (F.lead("sym", 1).over(wseq) == F.col("b")),
                1,
            )
            .otherwise(0)
            .alias("mt"),
        )
        i = m.withColumn(
            "grp",
            F.when(
                F.col("mt") == 1,
                F.col("pos")
                - F.row_number().over(
                    Window.partitionBy("word", "mt").orderBy("pos")
                ),
            ),
        )
        keep = i.withColumn(
            "keep",
            F.when(
                (F.col("mt") == 1)
                & (
                    F.row_number().over(
                        Window.partitionBy("word", "grp").orderBy("pos")
                    )
                    % 2
                    == 1
                ),
                1,
            ).otherwise(0),
        )
        f = keep.select(
            "word",
            "cnt",
            "pos",
            F.when(
                F.col("keep") == 1,
                F.concat(F.col("sym"), F.lead("sym", 1).over(wseq)),
            )
            .otherwise(F.col("sym"))
            .alias("sym"),
            F.coalesce(F.lag("keep", 1).over(wseq), F.lit(0)).alias(
                "consumed"
            ),
        )
        s = (
            f.filter(F.col("consumed") == 0)
            .select(
                "word",
                "cnt",
                (
                    F.row_number().over(wseq).cast("bigint") - 1
                ).alias("pos"),
                "sym",
            )
            .transform(materialize)
        )
    return merges, s


@register("bpe_train_merges", _bpe_oracle())
def bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-pair-encoding tokenizer training (Sennrich et al. 2016),
    BPE_ROUNDS merge rounds: the learned merge table (round, left symbol,
    right symbol, weighted pair count) — the stage that PRODUCES the
    subword vocabulary `bpe_encode_docs` applies, run as a first-class
    distributed query. Scale shape in `_bpe_learn`."""
    docs = load_table(spark, sf_dir, "documents")
    merges, _ = _bpe_learn(docs)
    out = merges[0]
    for mdf in merges[1:]:
        out = out.unionByName(mdf)
    return out


def _bpe_encode_oracle() -> str:
    k = BPE_ROUNDS
    return f"""{_bpe_cte_chain()},
syms AS (SELECT DISTINCT sym FROM s{k}),
vocab AS (
  SELECT a.sym, CAST(1 + count(b.sym) AS BIGINT) AS id
  FROM syms a LEFT JOIN syms b ON b.sym < a.sym
  GROUP BY a.sym
),
wenc AS (
  SELECT s.word,
         array_to_string(list(CAST(v.id AS VARCHAR) ORDER BY s.pos), ' ')
           AS ids,
         CAST(count(*) AS BIGINT) AS n_syms
  FROM s{k} s JOIN vocab v ON v.sym = s.sym
  GROUP BY s.word
),
dtoks AS (
  SELECT doc_id,
         unnest(string_split(text, ' ')) AS tok,
         generate_subscripts(string_split(text, ' '), 1) AS pos
  FROM documents
)
SELECT t.doc_id,
       CAST(count(*) AS BIGINT) AS n_toks,
       CAST(sum(w.n_syms) AS BIGINT) AS n_syms,
       string_agg(w.ids, ' ' ORDER BY t.pos) AS ids
FROM dtoks t JOIN wenc w ON w.word = t.tok
WHERE t.tok <> ''
GROUP BY t.doc_id
"""


@register("bpe_encode_docs", _bpe_encode_oracle())
def bpe_encode_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE ENCODE — apply the merges `bpe_train_merges` learns to the
    corpus itself, closing the tokenizer train→apply loop: every
    document becomes its subword-id sequence (ids assigned by
    lexicographic rank over the final symbol vocabulary), the integer
    stream `pack_sequences` consumes. Also reports per-doc token and
    subword counts (n_syms/n_toks is the fertility a tokenizer eval
    tracks).

    The scale insight is the same one that makes training cheap: merges
    apply per DISTINCT WORD, so the iterative merge machinery never
    touches the corpus — `_bpe_learn`'s final symbol table IS the
    word→subwords dictionary, built on vocabulary-bounded data. The
    corpus is touched exactly twice, both embarrassingly parallel: the
    word-count explode inside `_bpe_learn`, and ONE dictionary join of
    the (doc, pos, token) stream against the word encodings — pinned
    shuffle_hash, NOT broadcast: the word dictionary (with its subword-id
    string payload) grows with the corpus vocabulary, and the round-13
    sf≈10 shuffle audit measured AQE auto-broadcasting 3,168 MiB of it
    (the executor-killer class the round-12 rake/ngram_novelty fix
    established; both sides hash-partition on the token, so the shuffle
    join is the scale-safe shape) — followed by ONE doc-keyed
    reassembly shuffle of integer ids
    (a fraction of the text bytes they replace). Symbol ids come from a
    V² triangular join over the symbol vocabulary (alphabet + BPE_ROUNDS
    merged symbols — tiny), never an unpartitioned window (the
    vocab_top_tokens pattern)."""
    docs = load_table(spark, sf_dir, "documents")
    _, s = _bpe_learn(docs)

    syms = s.select("sym").distinct()
    b = syms.select(F.col("sym").alias("b_sym"))
    vocab = (
        syms.join(b, F.col("b_sym") < F.col("sym"), "left")
        .groupBy("sym")
        .agg((1 + F.count("b_sym")).cast("long").alias("id"))
    )
    wenc = (
        s.join(vocab, "sym")
        .groupBy("word")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "id"))),
                    lambda st: st["id"].cast("string"),
                ),
                " ",
            ).alias("ids"),
            F.count("*").alias("n_syms"),
        )
    )
    tok_pos = docs.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "tok")
    ).filter(F.col("tok") != "")
    enc = tok_pos.join(
        wenc.hint("shuffle_hash"), tok_pos.tok == wenc.word
    )
    return enc.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_toks"),
        F.sum("n_syms").cast("long").alias("n_syms"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "ids"))),
                lambda st: st["ids"],
            ),
            " ",
        ).alias("ids"),
    )
