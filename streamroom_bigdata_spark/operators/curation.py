"""End-to-end corpus curation (the LLM-data flagship, SURVEY.md §2.11).

One composed plan — the pipeline every pretraining-data run executes:

1. quality gate      — Gopher-style ratio thresholds (operators/text.py)
2. exact dedup       — keep the min doc_id per content hash
3. near-dup dedup    — keep each MinHash-LSH cluster's representative
                       (min doc_id of its connected component)

Everything stays declarative: the three stages are semi/anti joins over the
existing operators' outputs, so Catalyst sees ONE plan — filters push into
the shared documents scan, and the only data-sized shuffles are the ones
the component operators already pay (content-hash aggregate, band
self-join, label propagation). The DuckDB oracle recomputes the identical
pipeline (including the connected components, via recursive CTE), so the
whole composition is hash-checked end to end — not just its pieces.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.reliability import materialize
from ..registry import register
from ..sources import load_table
from .dedup import dedup_clusters, near_dup_oracle
from .text import (
    _SW_LIST,
    QUALITY_MIN_TOKENS,
    QUALITY_MIN_UNIQUE,
    QUALITY_SW_RANGE,
    is_quality_col,
)

curation_pipeline_oracle = f"""
WITH RECURSIVE quality AS (
  SELECT doc_id FROM (
    SELECT doc_id,
           len(list_filter(toks, t -> t IN ({_SW_LIST})))::DOUBLE
             / len(toks) AS stopword_ratio,
           len(list_distinct(toks))::DOUBLE / len(toks) AS unique_ratio,
           len(toks) AS n_tokens
    FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
  )
  WHERE n_tokens >= {QUALITY_MIN_TOKENS}
        AND stopword_ratio BETWEEN {QUALITY_SW_RANGE[0]} AND {QUALITY_SW_RANGE[1]}
        AND unique_ratio >= {QUALITY_MIN_UNIQUE}
), exact_keep AS (
  SELECT min(doc_id) AS doc_id FROM documents GROUP BY sha256(text)
), pairs AS (
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
)
SELECT d.doc_id, d.lang, d.source
FROM documents d
JOIN quality USING (doc_id)
JOIN exact_keep USING (doc_id)
LEFT JOIN comp USING (doc_id)
WHERE comp.component IS NULL OR comp.component = d.doc_id
"""


@register("curation_pipeline", curation_pipeline_oracle)
def curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curated corpus: documents that pass the quality gate, represent
    their exact-duplicate group, and represent (or are outside) their
    near-duplicate cluster."""
    docs = load_table(spark, sf_dir, "documents")

    # the one shared gate definition (operators/text.is_quality_col) — the
    # Spark side can't drift from text_quality's thresholds
    quality = docs.filter(is_quality_col()).select("doc_id")

    exact_keep = (
        docs.groupBy(F.sha2("text", 256).alias("content_hash"))
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )

    clusters = dedup_clusters(spark, sf_dir)
    non_representatives = clusters.filter(
        F.col("doc_id") != F.col("component")
    ).select("doc_id")

    return (
        docs.join(quality, "doc_id", "left_semi")
        .join(exact_keep, "doc_id", "left_semi")
        .join(non_representatives, "doc_id", "left_anti")
        .select("doc_id", "lang", "source")
    )


# ---------------------------------------------------------------------------
# v3: + benchmark decontamination (winnowing fingerprints)
# ---------------------------------------------------------------------------

#: documents with doc_id < this bound stand in for the held-out benchmark
#: (eval) set the corpus must not leak.
BENCHMARK_MAX_ID = 20
#: shared-fingerprint threshold above which a corpus doc is contaminated.
CONTAM_MIN_SHARED = 3


def _v3_oracle() -> str:
    from .text import _FP_ROWS_SQL

    return f"""
WITH base AS (
  {curation_pipeline_oracle}
), fp_all AS (
  WITH {_FP_ROWS_SQL}
  SELECT doc_id, fp FROM fp
), bench AS (
  SELECT DISTINCT fp FROM fp_all WHERE doc_id < {BENCHMARK_MAX_ID}
), contaminated AS (
  SELECT f.doc_id
  FROM fp_all f JOIN bench USING (fp)
  WHERE f.doc_id >= {BENCHMARK_MAX_ID}
  GROUP BY f.doc_id
  HAVING count(*) >= {CONTAM_MIN_SHARED}
)
SELECT b.doc_id, b.lang, b.source
FROM base b
WHERE b.doc_id >= {BENCHMARK_MAX_ID}
  AND b.doc_id NOT IN (SELECT doc_id FROM contaminated)
"""


@register("curation_pipeline_v3", _v3_oracle())
def curation_pipeline_v3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curation flagship with the stage every pretraining run added
    after the benchmark-leak papers: quality gate → exact-dup
    representative → near-dup cluster representative → BENCHMARK
    DECONTAMINATION — corpus documents sharing >= CONTAM_MIN_SHARED
    winnowing fingerprints with any held-out benchmark document (here the
    doc_id < 20 set) are dropped, and the benchmark docs themselves never
    enter the corpus.

    Composition stays one declarative plan: the contamination stage is a
    fingerprint-keyed join of the SAME `_winnow_fp_rows` relation used by
    `winnow_overlap_pairs`, anti-joined back — at 100 TB it adds one
    shingle-sized exchange on top of the v1 pipeline, and the benchmark
    fingerprint side is tiny (eval sets are thousands of docs, so it
    broadcasts on measured size)."""
    from .text import _winnow_fp_rows

    docs = load_table(spark, sf_dir, "documents")
    base = curation_pipeline(spark, sf_dir).filter(
        F.col("doc_id") >= BENCHMARK_MAX_ID
    )
    fps = _winnow_fp_rows(docs)
    bench_fps = fps.filter(F.col("doc_id") < BENCHMARK_MAX_ID).select(
        "fp"
    ).distinct()
    contaminated = (
        fps.filter(F.col("doc_id") >= BENCHMARK_MAX_ID)
        .join(bench_fps, "fp")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= CONTAM_MIN_SHARED)
        .select("doc_id")
    )
    return base.join(contaminated, "doc_id", "left_anti")


# ---------------------------------------------------------------------------
# v4: + sub-document boilerplate gate + temperature-mix budget
# ---------------------------------------------------------------------------

#: drop survivors whose duplicated-block fraction exceeds this (docs with
#: no full block carry no signal and pass)
V4_MAX_DUP_BLOCK_FRAC = 0.5
#: document budget for the final temperature-mixed sample
V4_MIX_TARGET = 200

_V4_KEY = "concat(CAST(doc_id AS VARCHAR), '|tmix4')"


def _v4_oracle() -> str:
    from ..functions.hashing import sql_hash_mod
    from .dedup import block_dup_oracle

    return f"""
WITH v3 AS (
  {_v3_oracle()}
), bstats AS (
  {block_dup_oracle}
), surv AS (
  SELECT v3.doc_id, v3.lang, v3.source
  FROM v3 LEFT JOIN bstats b ON b.doc_id = v3.doc_id
  WHERE b.doc_id IS NULL OR b.dup_frac <= {V4_MAX_DUP_BLOCK_FRAC}
), n AS (
  SELECT source, count(*)::DOUBLE AS n_s FROM surv GROUP BY source
), tot AS (
  SELECT sum(sqrt(n_s)) AS sw FROM n
), r AS (
  SELECT source,
         least(1.0, {V4_MIX_TARGET} * sqrt(n_s) / (SELECT sw FROM tot) / n_s)
           AS rate
  FROM n
)
SELECT s.doc_id, s.lang, s.source
FROM surv s JOIN r USING (source)
WHERE {sql_hash_mod(_V4_KEY, 1000000)} < floor(r.rate * 1000000)
"""


@register("curation_pipeline_v4", _v4_oracle())
def curation_pipeline_v4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full-stack curation flagship, v3 plus the round-8 stages:

    5. sub-document boilerplate gate — survivors whose duplicated-BLOCK
       fraction (block_dup_stats, corpus-wide counts) exceeds
       V4_MAX_DUP_BLOCK_FRAC are dropped: a page can survive doc-level
       dedup while half its lines are nav/footer boilerplate.
    6. temperature-mix budget — the final training sample is drawn from
       the survivors with per-source rates derived from the SURVIVING
       counts via the n^0.5 mixing rule, so the mix reacts to what the
       earlier stages removed rather than to raw ingest proportions.

    Still one declarative composition: the block stats add the two
    16-byte-hash-shuffle stages of block_dup_stats; the mix adds only
    dimension-bounded aggregates broadcast back. The DuckDB oracle
    recomputes every stage (recursive-CTE components included), so the
    six-stage composition is hash-checked end to end."""
    from ..functions.hashing import portable_hash_mod
    from .dedup import block_dup_stats
    from .llmprep import temperature_mix_sample  # noqa: F401  (doc xref)

    surv = (
        curation_pipeline_v3(spark, sf_dir)
        .join(
            block_dup_stats(spark, sf_dir).select("doc_id", "dup_frac"),
            "doc_id",
            "left",
        )
        .filter(
            F.col("dup_frac").isNull()
            | (F.col("dup_frac") <= V4_MAX_DUP_BLOCK_FRAC)
        )
        .select("doc_id", "lang", "source")
    )
    # the survivor set feeds BOTH the rate derivation and the final join;
    # without materialization each consumer re-runs the whole 5-stage
    # pipeline above. Flat 3-column rows, survivor-sized at any scale.
    surv = materialize(surv)
    cnt = surv.groupBy("source").agg(F.count("*").cast("double").alias("n_s"))
    tot = cnt.agg(F.sum(F.sqrt("n_s")).alias("sw"))
    rates = cnt.crossJoin(F.broadcast(tot)).select(
        "source",
        F.least(
            F.lit(1.0),
            F.lit(V4_MIX_TARGET) * F.sqrt("n_s") / F.col("sw") / F.col("n_s"),
        ).alias("rate"),
    )
    keep = portable_hash_mod(
        F.concat(F.col("doc_id").cast("string"), F.lit("|tmix4")), 1_000_000
    ) < F.floor(F.col("rate") * 1_000_000)
    return (
        surv.join(F.broadcast(rates), "source")
        .filter(keep)
        .select("doc_id", "lang", "source")
    )
