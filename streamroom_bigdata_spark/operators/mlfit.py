"""Distributed model-fitting surface (round-10): classifiers and law fits.

The reference's analytics stop at descriptive aggregates (`processing.scala:
116-127` — mean usage, max-normalized scores); the natural next step for the
same corpus is FITTING: train a classifier on one split and score another,
fit a regression plane, fit the corpus-scale power laws (Zipf, Heaps) that
tell a pretraining-data team whether a crawl slice looks like natural text.
Every fit here is spelled as associative aggregates — the model itself is
never bigger than (vocab × labels) or a handful of second moments, so the
"train" stage is a count-shaped shuffle and the "score" stage is one
broadcast join, exactly the shape that survives a 1000-executor cluster.

Float discipline: per-token log-probabilities are quantized to
DECIMAL(18,9) before summation (the `unigram_logprob_quality` lesson —
decimal accumulation is order-independent, so the NB argmax compares EXACT
values on both engines); the OLS plane is solved from var_samp/covar_samp
ratios (centered sums — accumulation noise cancels) with coefficients
rounded one digit looser than their magnitude demands.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.hashing import portable_hash_mod, sql_hash_mod
from ..functions.ranking import range_partition_offsets
from ..functions.localdf import local_df
from ..functions.reliability import materialize
from ..registry import register
from ..session import shuffle_partition_count
from ..sources import load_table

# ---------------------------------------------------------------------------
# Multinomial naive Bayes language classifier (train/score, confusion matrix)
# ---------------------------------------------------------------------------

#: percent of documents held out for scoring (salted split, see train_val_split)
NB_TEST_PCT = 20
_NB_SPLIT_KEY = "concat(CAST(doc_id AS VARCHAR), '|nb')"

naive_bayes_oracle = f"""
WITH split AS (
  SELECT doc_id, lang, text,
         {sql_hash_mod(_NB_SPLIT_KEY, 100)} < {NB_TEST_PCT} AS is_test
  FROM documents
), train_toks AS (
  SELECT lang, tok FROM (
    SELECT lang, unnest(string_split(text, ' ')) AS tok
    FROM split WHERE NOT is_test
  ) WHERE tok <> ''
), cnt AS (
  SELECT lang, tok, count(*) AS c FROM train_toks GROUP BY lang, tok
), tot AS (
  SELECT lang, count(*) AS t FROM train_toks GROUP BY lang
), vocab AS (
  SELECT DISTINCT tok FROM train_toks
), vsize AS (
  SELECT count(*) AS v FROM vocab
), prior AS (
  SELECT lang, count(*) AS nd FROM split WHERE NOT is_test GROUP BY lang
), ntr AS (
  SELECT count(*) AS n FROM split WHERE NOT is_test
), model AS (
  SELECT t.lang, vb.tok,
         CAST(ln((COALESCE(c.c, 0) + 1) / CAST(t.t + vs.v AS DOUBLE))
              AS DECIMAL(18,9)) AS logp
  FROM tot t CROSS JOIN vocab vb CROSS JOIN vsize vs
  LEFT JOIN cnt c ON c.lang = t.lang AND c.tok = vb.tok
), test_toks AS (
  SELECT doc_id, true_lang, tok FROM (
    SELECT doc_id, lang AS true_lang, unnest(string_split(text, ' ')) AS tok
    FROM split WHERE is_test
  ) WHERE tok <> ''
), loglikes AS (
  SELECT tt.doc_id, tt.true_lang, m.lang, sum(m.logp) AS loglike
  FROM test_toks tt JOIN model m ON m.tok = tt.tok
  GROUP BY tt.doc_id, tt.true_lang, m.lang
), scored AS (
  SELECT l.doc_id, l.true_lang, l.lang,
         l.loglike + CAST(ln(p.nd / CAST(n.n AS DOUBLE)) AS DECIMAL(18,9))
           AS score
  FROM loglikes l JOIN prior p ON p.lang = l.lang CROSS JOIN ntr n
), pred AS (
  SELECT doc_id, true_lang, lang AS pred_lang FROM (
    SELECT doc_id, true_lang, lang,
           row_number() OVER (PARTITION BY doc_id
                              ORDER BY score DESC, lang) AS rn
    FROM scored
  ) WHERE rn = 1
)
SELECT true_lang, pred_lang, CAST(count(*) AS BIGINT) AS n_docs
FROM pred GROUP BY true_lang, pred_lang
"""


@register("naive_bayes_lang", naive_bayes_oracle)
def naive_bayes_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multinomial naive Bayes language classifier, trained and scored
    entirely in-plan: a deterministic {100-NB_TEST_PCT}/{NB_TEST_PCT}
    hash split (the salted-hash discipline of `train_val_split`), add-one
    smoothed token likelihoods per language, argmax over held-out
    documents, confusion matrix out — the classifier stage a curation
    stack runs where `lang_id_heuristic` runs its rule-based one.

    Determinism: every per-token log-likelihood and the prior are
    quantized to DECIMAL(18,9) BEFORE summation, so the per-(doc, lang)
    score is an exact decimal on both engines and the argmax has no
    float-noise ambiguity; residual exact ties break by language ASC.
    Test tokens outside the training vocabulary are dropped (inner join)
    — the standard multinomial-NB convention, and deterministic.

    Scale shape: training is one (lang, token)-keyed count with map-side
    combine (model rows = |langs| × |vocab|, NOT data-sized); the model
    and the |langs|-row prior cross the cluster as broadcasts; scoring is
    one token-keyed broadcast join and a (doc, lang)-keyed aggregate.
    Nothing data-sized shuffles twice."""
    docs = load_table(spark, sf_dir, "documents")
    is_test = (
        portable_hash_mod(
            F.concat(F.col("doc_id").cast("string"), F.lit("|nb")), 100
        )
        < NB_TEST_PCT
    )
    split = docs.select("doc_id", "lang", "text", is_test.alias("is_test"))
    train_toks = (
        split.filter(~F.col("is_test"))
        .select("lang", F.explode(F.split("text", " ")).alias("tok"))
        .filter(F.col("tok") != "")
    )
    cnt = train_toks.groupBy("lang", "tok").agg(F.count("*").alias("c"))
    tot = train_toks.groupBy("lang").agg(F.count("*").alias("t"))
    vocab = train_toks.select("tok").distinct()
    vsize = vocab.agg(F.count("*").alias("v"))
    prior = (
        split.filter(~F.col("is_test")).groupBy("lang").agg(
            F.count("*").alias("nd")
        )
    )
    ntr = split.filter(~F.col("is_test")).agg(F.count("*").alias("n"))
    # model = |langs| × |vocab| rows — bounded by construction, broadcast
    model = (
        tot.crossJoin(vocab)
        .crossJoin(F.broadcast(vsize))
        .join(cnt, ["lang", "tok"], "left")
        .select(
            "lang",
            "tok",
            F.log(
                (F.coalesce(F.col("c"), F.lit(0)) + 1)
                / (F.col("t") + F.col("v")).cast("double")
            )
            .cast("decimal(18,9)")
            .alias("logp"),
        )
    )
    test_toks = (
        split.filter(F.col("is_test"))
        .select(
            "doc_id",
            F.col("lang").alias("true_lang"),
            F.explode(F.split("text", " ")).alias("tok"),
        )
        .filter(F.col("tok") != "")
    )
    like = (
        test_toks.join(F.broadcast(model), "tok")
        .groupBy("doc_id", "true_lang", "lang")
        .agg(F.sum("logp").alias("loglike"))
    )
    scored = (
        like.join(F.broadcast(prior), "lang")
        .crossJoin(F.broadcast(ntr))
        .select(
            "doc_id",
            "true_lang",
            "lang",
            (
                F.col("loglike")
                + F.log(F.col("nd") / F.col("n").cast("double")).cast(
                    "decimal(18,9)"
                )
            ).alias("score"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), "lang")
    pred = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("true_lang", F.col("lang").alias("pred_lang"))
    )
    return pred.groupBy("true_lang", "pred_lang").agg(
        F.count("*").alias("n_docs")
    )


# ---------------------------------------------------------------------------
# Two-factor OLS plane via normal equations (closed-form 2×2 solve)
# ---------------------------------------------------------------------------

ols_two_factor_oracle = """
WITH m AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         avg(l_quantity) AS m1, avg(l_discount) AS m2,
         avg(l_extendedprice) AS my,
         var_samp(l_quantity) AS v11, var_samp(l_discount) AS v22,
         covar_samp(l_quantity, l_discount) AS v12,
         covar_samp(l_quantity, l_extendedprice) AS c1y,
         covar_samp(l_discount, l_extendedprice) AS c2y,
         var_samp(l_extendedprice) AS vy
  FROM lineitem
)
SELECT n,
       round((c1y * v22 - c2y * v12) / nullif(v11 * v22 - v12 * v12, 0), 3)
         AS b_quantity,
       round((c2y * v11 - c1y * v12) / nullif(v11 * v22 - v12 * v12, 0), 3)
         AS b_discount,
       round(my - (c1y * v22 - c2y * v12) / nullif(v11 * v22 - v12 * v12, 0) * m1
                - (c2y * v11 - c1y * v12) / nullif(v11 * v22 - v12 * v12, 0) * m2,
             3) AS intercept,
       round(((c1y * v22 - c2y * v12) / nullif(v11 * v22 - v12 * v12, 0) * c1y
            + (c2y * v11 - c1y * v12) / nullif(v11 * v22 - v12 * v12, 0) * c2y)
             / nullif(vy, 0),
             6) AS r2
FROM m
"""


@register("ols_two_factor", ols_two_factor_oracle)
def ols_two_factor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multivariate least squares — extendedprice regressed on quantity
    AND discount — solved in closed form from the 2×2 normal equations:
    one single-pass aggregate produces the centered second moments
    (var_samp/covar_samp), and Cramer's rule inverts the 2×2 covariance
    matrix inside the same projection. The multivariate extension of
    `regression_trend`: no gradient loop, no driver matrix solve, one
    1-row aggregate at ANY data scale.

    Float discipline: every coefficient is a ratio of centered sums
    (accumulation noise cancels to ~1e-12 relative); the intercept mixes
    means of ~1e4 magnitude, so coefficients round at 3 decimals (one
    digit looser than regression_trend's slope) and the scale-free R²
    at 6."""
    li = load_table(spark, sf_dir, "lineitem")
    m = li.agg(
        F.count("*").alias("n"),
        F.avg("l_quantity").alias("m1"),
        F.avg("l_discount").alias("m2"),
        F.avg("l_extendedprice").alias("my"),
        F.var_samp("l_quantity").alias("v11"),
        F.var_samp("l_discount").alias("v22"),
        F.covar_samp("l_quantity", "l_discount").alias("v12"),
        F.covar_samp("l_quantity", "l_extendedprice").alias("c1y"),
        F.covar_samp("l_discount", "l_extendedprice").alias("c2y"),
        F.var_samp("l_extendedprice").alias("vy"),
    )
    # nullif: collinear/constant regressors zero the determinant (and a
    # constant response zeroes vy) — NULL coefficients, not an ANSI abort
    det = F.nullif(
        F.col("v11") * F.col("v22") - F.col("v12") * F.col("v12"), F.lit(0.0)
    )
    b1 = (F.col("c1y") * F.col("v22") - F.col("c2y") * F.col("v12")) / det
    b2 = (F.col("c2y") * F.col("v11") - F.col("c1y") * F.col("v12")) / det
    return m.select(
        "n",
        F.round(b1, 3).alias("b_quantity"),
        F.round(b2, 3).alias("b_discount"),
        F.round(
            F.col("my") - b1 * F.col("m1") - b2 * F.col("m2"), 3
        ).alias("intercept"),
        F.round(
            (b1 * F.col("c1y") + b2 * F.col("c2y"))
            / F.nullif(F.col("vy"), F.lit(0.0)),
            6,
        ).alias("r2"),
    )


# ---------------------------------------------------------------------------
# Zipf's-law fit over the token rank-frequency curve
# ---------------------------------------------------------------------------

zipf_law_oracle = """
WITH toks AS (
  SELECT tok FROM (
    SELECT unnest(string_split(text, ' ')) AS tok FROM documents
  ) WHERE tok <> ''
), vocab AS (
  SELECT tok, count(*) AS c FROM toks GROUP BY tok
), ranked AS (
  SELECT c, row_number() OVER (ORDER BY c DESC, tok) AS rank FROM vocab
)
SELECT CAST(count(*) AS BIGINT) AS n_types,
       round(-regr_slope(ln(CAST(c AS DOUBLE)), ln(CAST(rank AS DOUBLE))), 6)
         AS zipf_exponent,
       round(regr_intercept(ln(CAST(c AS DOUBLE)), ln(CAST(rank AS DOUBLE))), 6)
         AS log_c0,
       round(regr_r2(ln(CAST(c AS DOUBLE)), ln(CAST(rank AS DOUBLE))), 6)
         AS r2
FROM ranked
"""


@register("zipf_law_fit", zipf_law_oracle)
def zipf_law_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law exponent of the corpus: regress log frequency on log
    rank over the token rank-frequency curve. Natural text sits near
    exponent 1; a flat or cliffed curve is the crawl-quality smell a
    pretraining team checks before anything else (Piantadosi 2014).

    Determinism: ranks are integers ordered by (count DESC, token ASC);
    both engines take ln of identical integer-valued doubles, and the fit
    is a vocab-sized regr_* aggregate — ratios of centered sums.

    Scale shape: one token-keyed count with map-side combine, then the
    `functions/ranking.py` range-partition kernel over the vocab relation
    — (count DESC, token) ranks via P range-ordered partitions + O(P)
    offsets, NO unpartitioned window (a web-scale vocabulary is hundreds
    of millions of types; a single-task rank sort over it is the
    driver-funnel class SURVEY §4.3 forbids) — then a 1-row regression.
    The only data-sized stage is the explode feeding the count."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(F.split("text", " ")).alias("tok")
    ).filter(F.col("tok") != "")
    vocab = toks.groupBy("tok").agg(F.count("*").alias("c"))
    # rank by (c DESC, tok ASC) == ascending (-c, tok); the composite key
    # is unique (tok is the group key), so row_number is reproduced
    # exactly as offset + local rank with no tie ambiguity
    ranged, _, offsets_df, _ = range_partition_offsets(
        vocab.withColumn("negc", -F.col("c")),
        ["negc", "tok"],
        [("cnt", F.count("*"))],
        shuffle_partition_count(spark),
    )
    lw = Window.partitionBy("pid").orderBy("negc", "tok")
    ranked = (
        ranged.withColumn("lr", F.row_number().over(lw))
        .join(F.broadcast(offsets_df), "pid")
        .select("c", (F.col("off_cnt") + F.col("lr")).alias("rank"))
    )
    ly = F.log(F.col("c").cast("double"))
    lx = F.log(F.col("rank").cast("double"))
    return ranked.select(ly.alias("ly"), lx.alias("lx")).agg(
        F.count("*").alias("n_types"),
        F.round(-F.regr_slope("ly", "lx"), 6).alias("zipf_exponent"),
        F.round(F.regr_intercept("ly", "lx"), 6).alias("log_c0"),
        F.round(F.regr_r2("ly", "lx"), 6).alias("r2"),
    )


# ---------------------------------------------------------------------------
# Heaps'-law fit: vocabulary growth vs document length
# ---------------------------------------------------------------------------

heaps_law_oracle = """
WITH toks AS (
  SELECT doc_id, tok FROM (
    SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
  ) WHERE tok <> ''
), per_doc AS (
  SELECT doc_id, count(*) AS nt, count(DISTINCT tok) AS nv
  FROM toks GROUP BY doc_id
)
SELECT CAST(count(*) AS BIGINT) AS n_docs,
       round(regr_slope(ln(CAST(nv AS DOUBLE)), ln(CAST(nt AS DOUBLE))), 6)
         AS heaps_beta,
       round(exp(regr_intercept(ln(CAST(nv AS DOUBLE)),
                                ln(CAST(nt AS DOUBLE)))), 4) AS heaps_k,
       round(regr_r2(ln(CAST(nv AS DOUBLE)), ln(CAST(nt AS DOUBLE))), 6)
         AS r2
FROM per_doc
"""


@register("heaps_law_fit", heaps_law_oracle)
def heaps_law_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law fit V = k·Nᵝ of vocabulary size against document length
    across the corpus: regress log distinct-token count on log token
    count per document. β near 0.5 is natural text; β near 0 means a
    closed template vocabulary, β near 1 means id-like noise — the
    companion diagnostic to `zipf_law_fit` on the same explode.

    Scale shape: one doc-keyed count/count-distinct (map-side combinable
    — the distinct is WITHIN a document, so a (doc, tok) pre-aggregate
    feeds it), then a 1-row regression over per-document points. Logs of
    integer-valued doubles; the fit is ratios of centered sums."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("tok")
    ).filter(F.col("tok") != "")
    per_doc = toks.groupBy("doc_id").agg(
        F.count("*").alias("nt"), F.count_distinct("tok").alias("nv")
    )
    ly = F.log(F.col("nv").cast("double"))
    lx = F.log(F.col("nt").cast("double"))
    return per_doc.select(ly.alias("ly"), lx.alias("lx")).agg(
        F.count("*").alias("n_docs"),
        F.round(F.regr_slope("ly", "lx"), 6).alias("heaps_beta"),
        F.round(F.exp(F.regr_intercept("ly", "lx")), 4).alias("heaps_k"),
        F.round(F.regr_r2("ly", "lx"), 6).alias("r2"),
    )


# ---------------------------------------------------------------------------
# Logistic regression by fixed-step in-plan gradient descent
# ---------------------------------------------------------------------------

LOGREG_STEPS = 3   # fixed GD steps — FIXED on both engines (unrollable)
LOGREG_LR = 0.5    # step size on standardized features

_LOGREG_FEATS_SQL = """
  SELECT (l_quantity - ms.m1) / ms.s1 AS x1,
         (l_discount - ms.m2) / ms.s2 AS x2,
         CASE WHEN l_returnflag = 'R' THEN 1.0 ELSE 0.0 END AS y
  FROM lineitem, ms
"""


def _logreg_oracle() -> str:
    parts = [
        f"""
WITH ms AS MATERIALIZED (
  SELECT round(avg(l_quantity), 6) AS m1,
         nullif(round(stddev_samp(l_quantity), 6), 0) AS s1,
         round(avg(l_discount), 6) AS m2,
         nullif(round(stddev_samp(l_discount), 6), 0) AS s2
  FROM lineitem
), f AS MATERIALIZED ({_LOGREG_FEATS_SQL}),
w0 AS MATERIALIZED (SELECT CAST(0.0 AS DOUBLE) AS b0,
              CAST(0.0 AS DOUBLE) AS b1,
              CAST(0.0 AS DOUBLE) AS b2)"""
    ]
    p = "1.0 / (1.0 + exp(-(w.b0 + w.b1 * f.x1 + w.b2 * f.x2)))"
    for k in range(LOGREG_STEPS):
        parts.append(
            f""", g{k} AS MATERIALIZED (
  SELECT CAST(count(*) AS BIGINT) AS n,
         sum(CAST(({p} - f.y) AS DECIMAL(18,9))) AS g0,
         sum(CAST(({p} - f.y) * f.x1 AS DECIMAL(18,9))) AS g1,
         sum(CAST(({p} - f.y) * f.x2 AS DECIMAL(18,9))) AS g2
  FROM f, w{k} w
), w{k + 1} AS MATERIALIZED (
  SELECT w.b0 - {LOGREG_LR!r} * (CAST(g.g0 AS DOUBLE) / nullif(g.n, 0)) AS b0,
         w.b1 - {LOGREG_LR!r} * (CAST(g.g1 AS DOUBLE) / nullif(g.n, 0)) AS b1,
         w.b2 - {LOGREG_LR!r} * (CAST(g.g2 AS DOUBLE) / nullif(g.n, 0)) AS b2
  FROM w{k} w, g{k} g
)"""
        )
    parts.append(
        f"""
SELECT CAST(count(*) AS BIGINT) AS n,
       round(any_value(w.b0), 6) AS w_intercept,
       round(any_value(w.b1), 6) AS w_quantity,
       round(any_value(w.b2), 6) AS w_discount,
       round(CAST(sum(CAST(-(f.y * ln({p}) + (1.0 - f.y) * ln(1.0 - {p}))
                           AS DECIMAL(18,9))) AS DOUBLE) / nullif(count(*), 0),
             6) AS log_loss
FROM f, w{LOGREG_STEPS} w"""
    )
    return "".join(parts)


@register("logreg_gd_returns", _logreg_oracle())
def logreg_gd_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Logistic regression (is the lineitem a return?) trained by
    LOGREG_STEPS fixed full-batch gradient-descent steps entirely
    in-plan, on standardized (quantity, discount): per step ONE
    data-sized aggregate produces the exact gradient, the 1-row weight
    state updates and broadcasts back — the iterative-optimizer shape
    next to `kmeans_clusters` (assignment EM) and `pca_power_iteration`
    (matvec), completing the training-loop triptych. Reports weights and
    training log-loss.

    Determinism: standardization constants are round-6 quantized first
    (the holt_linear_forecast discipline), so every engine computes
    bit-identical features and sigmoids; per-row gradient and loss terms
    are quantized to DECIMAL(18,9) before summation (order-independent —
    the naive Bayes discipline), so each step's weight vector is
    reproduced exactly; residual libm ULP noise in exp() is ~1e-10 on
    the final weights, far inside the round-6 outputs.

    Scale shape: one pass per step with map-side combine; the weight
    state is checkpointed per step (1 row — exact statistics, so
    the planner always broadcasts the WEIGHTS, never the feature table;
    the pca_power_iteration lesson)."""
    li = load_table(spark, sf_dir, "lineitem")
    # nullif: a zero-variance feature column yields NULL features (hence
    # NULL weights), not an ANSI DIVIDE_BY_ZERO abort in the first pass
    ms = li.agg(
        F.round(F.avg("l_quantity"), 6).alias("m1"),
        F.nullif(F.round(F.stddev_samp("l_quantity"), 6), F.lit(0.0)).alias(
            "s1"
        ),
        F.round(F.avg("l_discount"), 6).alias("m2"),
        F.nullif(F.round(F.stddev_samp("l_discount"), 6), F.lit(0.0)).alias(
            "s2"
        ),
    ).transform(materialize)
    feats = (
        li.crossJoin(ms)
        .select(
            ((F.col("l_quantity") - F.col("m1")) / F.col("s1")).alias("x1"),
            ((F.col("l_discount") - F.col("m2")) / F.col("s2")).alias("x2"),
            F.when(F.col("l_returnflag") == "R", 1.0)
            .otherwise(0.0)
            .alias("y"),
        )
        .transform(materialize)
    )
    w = local_df(
        spark, [(0.0, 0.0, 0.0)], "b0 double, b1 double, b2 double"
    )
    for _ in range(LOGREG_STEPS):
        z = F.col("b0") + F.col("b1") * F.col("x1") + F.col("b2") * F.col("x2")
        p = 1.0 / (1.0 + F.exp(-z))
        g = feats.crossJoin(F.broadcast(w)).agg(
            F.count("*").alias("n"),
            F.sum((p - F.col("y")).cast("decimal(18,9)")).alias("g0"),
            F.sum(((p - F.col("y")) * F.col("x1")).cast("decimal(18,9)")).alias(
                "g1"
            ),
            F.sum(((p - F.col("y")) * F.col("x2")).cast("decimal(18,9)")).alias(
                "g2"
            ),
        )
        w = (
            w.crossJoin(g)
            .select(
                (
                    F.col("b0")
                    - LOGREG_LR
                    * (
                        F.col("g0").cast("double")
                        / F.nullif(F.col("n"), F.lit(0))
                    )
                ).alias("b0"),
                (
                    F.col("b1")
                    - LOGREG_LR
                    * (
                        F.col("g1").cast("double")
                        / F.nullif(F.col("n"), F.lit(0))
                    )
                ).alias("b1"),
                (
                    F.col("b2")
                    - LOGREG_LR
                    * (
                        F.col("g2").cast("double")
                        / F.nullif(F.col("n"), F.lit(0))
                    )
                ).alias("b2"),
            )
            .transform(materialize)
        )
    z = F.col("b0") + F.col("b1") * F.col("x1") + F.col("b2") * F.col("x2")
    p = 1.0 / (1.0 + F.exp(-z))
    return feats.crossJoin(F.broadcast(w)).agg(
        F.count("*").alias("n"),
        F.round(F.any_value("b0"), 6).alias("w_intercept"),
        F.round(F.any_value("b1"), 6).alias("w_quantity"),
        F.round(F.any_value("b2"), 6).alias("w_discount"),
        F.round(
            F.sum(
                (
                    -(
                        F.col("y") * F.log(p)
                        + (1.0 - F.col("y")) * F.log(1.0 - p)
                    )
                ).cast("decimal(18,9)")
            ).cast("double")
            / F.nullif(F.count("*"), F.lit(0)),
            6,
        ).alias("log_loss"),
    )


# ---------------------------------------------------------------------------
# Two-component 1-D Gaussian mixture by fixed-step EM
# ---------------------------------------------------------------------------

GMM_STEPS = 3
_SQRT_2PI = 2.5066282746310002  # sqrt(2*pi), shared literal on both engines


def _gmm_density(mu: str, sig: str, x: str = "f.x") -> str:
    return (
        f"exp(-(({x} - {mu}) * ({x} - {mu})) / (2.0 * {sig} * {sig}))"
        f" / ({sig} * {_SQRT_2PI!r})"
    )


def _gmm_oracle() -> str:
    d1 = _gmm_density("p.mu1", "p.s1")
    d2 = _gmm_density("p.mu2", "p.s2")
    r2 = f"((1.0 - p.w1) * {d2}) / (p.w1 * {d1} + (1.0 - p.w1) * {d2})"
    parts = [
        f"""
WITH ms AS MATERIALIZED (
  SELECT round(avg(value), 6) AS m,
         nullif(round(stddev_samp(value), 6), 0) AS s
  FROM events
), f AS MATERIALIZED (
  SELECT value AS x FROM events
), p0 AS MATERIALIZED (
  SELECT 0.5 AS w1, m - s AS mu1, s AS s1, m + s AS mu2, s AS s2 FROM ms
)"""
    ]
    for k in range(GMM_STEPS):
        parts.append(
            f""", g{k} AS MATERIALIZED (
  SELECT CAST(count(*) AS BIGINT) AS n,
         sum(CAST({r2} AS DECIMAL(18,9))) AS n2,
         sum(CAST(({r2}) * f.x AS DECIMAL(18,9))) AS sx2,
         sum(CAST(({r2}) * f.x * f.x AS DECIMAL(18,9))) AS sxx2,
         sum(CAST((1.0 - ({r2})) * f.x AS DECIMAL(18,9))) AS sx1,
         sum(CAST((1.0 - ({r2})) * f.x * f.x AS DECIMAL(18,9))) AS sxx1
  FROM f, p{k} p
), p{k + 1} AS MATERIALIZED (
  SELECT (g.n - CAST(g.n2 AS DOUBLE)) / nullif(g.n, 0) AS w1,
         CAST(g.sx1 AS DOUBLE) / nullif(g.n - CAST(g.n2 AS DOUBLE), 0) AS mu1,
         nullif(sqrt(greatest(
           CAST(g.sxx1 AS DOUBLE) / nullif(g.n - CAST(g.n2 AS DOUBLE), 0)
           - (CAST(g.sx1 AS DOUBLE) / nullif(g.n - CAST(g.n2 AS DOUBLE), 0))
             * (CAST(g.sx1 AS DOUBLE)
                / nullif(g.n - CAST(g.n2 AS DOUBLE), 0)), 0.0)), 0) AS s1,
         CAST(g.sx2 AS DOUBLE) / nullif(CAST(g.n2 AS DOUBLE), 0) AS mu2,
         nullif(sqrt(greatest(
           CAST(g.sxx2 AS DOUBLE) / nullif(CAST(g.n2 AS DOUBLE), 0)
           - (CAST(g.sx2 AS DOUBLE) / nullif(CAST(g.n2 AS DOUBLE), 0))
             * (CAST(g.sx2 AS DOUBLE)
                / nullif(CAST(g.n2 AS DOUBLE), 0)), 0.0)), 0) AS s2
  FROM g{k} g
)"""
        )
    pf = f"p{GMM_STEPS}"
    d1f = _gmm_density("p.mu1", "p.s1")
    d2f = _gmm_density("p.mu2", "p.s2")
    parts.append(
        f"""
SELECT CAST(count(*) AS BIGINT) AS n,
       round(any_value(p.w1), 6) AS w1,
       round(any_value(p.mu1), 4) AS mu1,
       round(any_value(p.s1), 4) AS sigma1,
       round(any_value(p.mu2), 4) AS mu2,
       round(any_value(p.s2), 4) AS sigma2,
       round(CAST(sum(CAST(ln(p.w1 * {d1f} + (1.0 - p.w1) * {d2f})
                           AS DECIMAL(18,9))) AS DOUBLE) / nullif(count(*), 0),
             6) AS avg_loglik
FROM f, {pf} p"""
    )
    return "".join(parts)


@register("gmm_em_1d", _gmm_oracle())
def gmm_em_1d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-component 1-D Gaussian mixture over event values, fit by
    GMM_STEPS fixed EM steps from the deterministic moment init
    (μ = m ∓ s, σ = s, w = ½ on round-6-quantized m, s) — the
    soft-assignment member of the training-loop family (`kmeans_clusters`
    assigns hard, `logreg_gd_returns` follows a gradient, this one
    integrates responsibilities), and the model a curation team fits to
    SEPARATE a bimodal quality signal before thresholding it.

    Per step ONE data-sized aggregate computes the E-step responsibilities
    and all M-step moments fused (six decimal-quantized sums — the
    order-independence discipline); the 1-row parameter state
    checkpoints and broadcasts back. No per-row state, no second
    pass. Densities at these scales (σ ≈ 50) cannot underflow, so the
    responsibility ratio needs no epsilon. Output: weights, component
    means/sigmas, mean log-likelihood."""
    li = load_table(spark, sf_dir, "events")
    # nullif/greatest guards: constant values (σ = 0), a collapsing
    # component (n2 → 0 or n), or fp-negative variance degrade to NULL
    # params, never an ANSI DIVIDE_BY_ZERO abort or NaN σ
    ms = li.agg(
        F.round(F.avg("value"), 6).alias("m"),
        F.nullif(F.round(F.stddev_samp("value"), 6), F.lit(0.0)).alias("s"),
    ).transform(materialize)
    f = li.select(F.col("value").alias("x")).transform(materialize)
    p = ms.select(
        F.lit(0.5).alias("w1"),
        (F.col("m") - F.col("s")).alias("mu1"),
        F.col("s").alias("s1"),
        (F.col("m") + F.col("s")).alias("mu2"),
        F.col("s").alias("s2"),
    ).transform(materialize)

    def dens(mu, sig):
        return F.exp(
            -((F.col("x") - mu) * (F.col("x") - mu)) / (2.0 * sig * sig)
        ) / (sig * _SQRT_2PI)

    for _ in range(GMM_STEPS):
        d1 = dens(F.col("mu1"), F.col("s1"))
        d2 = dens(F.col("mu2"), F.col("s2"))
        r2 = ((1.0 - F.col("w1")) * d2) / (
            F.col("w1") * d1 + (1.0 - F.col("w1")) * d2
        )
        g = f.crossJoin(F.broadcast(p)).agg(
            F.count("*").alias("n"),
            F.sum(r2.cast("decimal(18,9)")).alias("n2"),
            F.sum((r2 * F.col("x")).cast("decimal(18,9)")).alias("sx2"),
            F.sum(
                (r2 * F.col("x") * F.col("x")).cast("decimal(18,9)")
            ).alias("sxx2"),
            F.sum(((1.0 - r2) * F.col("x")).cast("decimal(18,9)")).alias(
                "sx1"
            ),
            F.sum(
                ((1.0 - r2) * F.col("x") * F.col("x")).cast("decimal(18,9)")
            ).alias("sxx1"),
        )
        n1 = F.nullif(
            F.col("n") - F.col("n2").cast("double"), F.lit(0.0)
        )
        n2 = F.nullif(F.col("n2").cast("double"), F.lit(0.0))
        mu1 = F.col("sx1").cast("double") / n1
        mu2 = F.col("sx2").cast("double") / n2
        p = g.select(
            ((F.col("n") - F.col("n2").cast("double"))
             / F.nullif(F.col("n"), F.lit(0))).alias("w1"),
            mu1.alias("mu1"),
            F.nullif(
                F.sqrt(
                    F.greatest(
                        F.col("sxx1").cast("double") / n1 - mu1 * mu1,
                        F.lit(0.0),
                    )
                ),
                F.lit(0.0),
            ).alias("s1"),
            mu2.alias("mu2"),
            F.nullif(
                F.sqrt(
                    F.greatest(
                        F.col("sxx2").cast("double") / n2 - mu2 * mu2,
                        F.lit(0.0),
                    )
                ),
                F.lit(0.0),
            ).alias("s2"),
        ).transform(materialize)
    d1 = dens(F.col("mu1"), F.col("s1"))
    d2 = dens(F.col("mu2"), F.col("s2"))
    return f.crossJoin(F.broadcast(p)).agg(
        F.count("*").alias("n"),
        F.round(F.any_value("w1"), 6).alias("w1"),
        F.round(F.any_value("mu1"), 4).alias("mu1"),
        F.round(F.any_value("s1"), 4).alias("sigma1"),
        F.round(F.any_value("mu2"), 4).alias("mu2"),
        F.round(F.any_value("s2"), 4).alias("sigma2"),
        F.round(
            F.sum(
                F.log(F.col("w1") * d1 + (1.0 - F.col("w1")) * d2).cast(
                    "decimal(18,9)"
                )
            ).cast("double")
            / F.nullif(F.count("*"), F.lit(0)),
            6,
        ).alias("avg_loglik"),
    )


# ---------------------------------------------------------------------------
# Decision stump (round-11): best single Gini split, CART's inner loop
# ---------------------------------------------------------------------------

decision_stump_oracle = """
WITH cnt AS (
  SELECT CAST(l_quantity AS BIGINT) AS q,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
              AS BIGINT) AS pos
  FROM lineitem GROUP BY 1
), th AS (SELECT DISTINCT q AS t FROM cnt),
sides AS (
  SELECT t.t,
         CAST(sum(CASE WHEN c.q <= t.t THEN c.n ELSE 0 END) AS BIGINT)
           AS n_l,
         CAST(sum(CASE WHEN c.q <= t.t THEN c.pos ELSE 0 END) AS BIGINT)
           AS pos_l,
         CAST(sum(CASE WHEN c.q > t.t THEN c.n ELSE 0 END) AS BIGINT)
           AS n_r,
         CAST(sum(CASE WHEN c.q > t.t THEN c.pos ELSE 0 END) AS BIGINT)
           AS pos_r
  FROM th t CROSS JOIN cnt c GROUP BY t.t
)
SELECT CAST(t AS INT) AS threshold, n_l, pos_l, n_r, pos_r,
       round((n_l * 2.0 * (pos_l / CAST(n_l AS DOUBLE))
                    * (1 - pos_l / CAST(n_l AS DOUBLE))
              + n_r * 2.0 * (pos_r / CAST(n_r AS DOUBLE))
                    * (1 - pos_r / CAST(n_r AS DOUBLE)))
             / (n_l + n_r), 6) AS weighted_gini
FROM sides
WHERE n_l > 0 AND n_r > 0
"""


@register("decision_stump_returns", decision_stump_oracle)
def decision_stump_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CART's inner loop as a query: for every candidate split threshold t
    of l_quantity, the weighted Gini impurity of "quantity ≤ t" predicting
    a returned lineitem — the full split-quality curve a tree learner
    argmins (and the readout that tells a feature-engineering pass whether
    quantity carries ANY signal about returns; a flat curve is "no").
    Thresholds whose right side is empty are excluded (both sides must be
    non-empty for a split).

    Scale shape: ONE data-sized pass (quantity-keyed count with map-side
    combine — the quantity DOMAIN is ~50 integers); the threshold scan is
    a domain² (≤2500-row) product — deliberately a range cross join, not
    an unpartitioned cumulative window. Gini terms are ratios of exact
    integer counts, bit-identical cross-engine."""
    li = load_table(spark, sf_dir, "lineitem")
    cnt = li.groupBy(F.col("l_quantity").cast("bigint").alias("q")).agg(
        F.count("*").alias("n"),
        F.sum((F.col("l_returnflag") == "R").cast("long")).alias("pos"),
    )
    th = cnt.select(F.col("q").alias("t")).distinct()
    j = F.broadcast(th).crossJoin(cnt)
    sides = j.groupBy("t").agg(
        F.sum(F.when(F.col("q") <= F.col("t"), F.col("n")).otherwise(0))
        .cast("long").alias("n_l"),
        F.sum(F.when(F.col("q") <= F.col("t"), F.col("pos")).otherwise(0))
        .cast("long").alias("pos_l"),
        F.sum(F.when(F.col("q") > F.col("t"), F.col("n")).otherwise(0))
        .cast("long").alias("n_r"),
        F.sum(F.when(F.col("q") > F.col("t"), F.col("pos")).otherwise(0))
        .cast("long").alias("pos_r"),
    )
    p_l = F.col("pos_l") / F.col("n_l").cast("double")
    p_r = F.col("pos_r") / F.col("n_r").cast("double")
    gini = (
        F.col("n_l") * 2.0 * p_l * (1 - p_l)
        + F.col("n_r") * 2.0 * p_r * (1 - p_r)
    ) / (F.col("n_l") + F.col("n_r"))
    return (
        sides.filter((F.col("n_l") > 0) & (F.col("n_r") > 0))
        .select(
            F.col("t").cast("int").alias("threshold"),
            "n_l", "pos_l", "n_r", "pos_r",
            F.round(gini, 6).alias("weighted_gini"),
        )
    )


# ---------------------------------------------------------------------------
# Lognormal MLE fit of the document-length distribution
# ---------------------------------------------------------------------------

lognormal_fit_oracle = """
WITH ln AS (
  SELECT ln(CAST(n_chars AS DOUBLE)) AS lx, CAST(n_chars AS DOUBLE) AS x
  FROM documents WHERE n_chars > 0
), s AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         avg(lx) AS mu,
         stddev_samp(lx) AS sigma,
         avg(x) AS mean_obs
  FROM ln
)
SELECT n AS n_docs,
       round(mu, 6) AS mu,
       round(sigma, 6) AS sigma,
       round(exp(mu), 4) AS median_fit,
       round(exp(mu + sigma * sigma / 2), 4) AS mean_fit,
       round(mean_obs, 4) AS mean_obs,
       round(mean_obs / exp(mu + sigma * sigma / 2), 6) AS mean_ratio
FROM s
"""


@register("lognormal_fit_doclen", lognormal_fit_oracle)
def lognormal_fit_doclen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lognormal MLE fit of document lengths — μ̂ = mean(ln x), σ̂ =
    sample std of ln x (the exact closed-form MLE), plus the fitted
    median e^μ and mean e^(μ+σ²/2) against the observed mean. The
    mean/median GAP is the heavy-tail readout a curation pipeline uses
    to size `chunk_documents` / `pack_sequences` budgets (document
    lengths are canonically lognormal-ish; mean_ratio far from 1 flags a
    tail the fit misses — cf. `hill_tail_index` for the Pareto tail and
    `heaps_law_fit` for the vocabulary curve).

    One combinable aggregate over per-row projections — nothing but a
    1-row reduce crosses the shuffle at any scale. Cross-engine floats:
    ln/exp enter on identical double inputs; sums are sign-uniform, so
    round-6/4 is hash-stable (the heaps_law/zipf precedent)."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    ln = docs.select(
        F.log(F.col("n_chars").cast("double")).alias("lx"),
        F.col("n_chars").cast("double").alias("x"),
    )
    s = ln.agg(
        F.count("*").alias("n"),
        F.avg("lx").alias("mu"),
        F.stddev_samp("lx").alias("sigma"),
        F.avg("x").alias("mean_obs"),
    )
    mean_fit = F.exp(F.col("mu") + F.col("sigma") * F.col("sigma") / 2)
    return s.select(
        F.col("n").alias("n_docs"),
        F.round("mu", 6).alias("mu"),
        F.round("sigma", 6).alias("sigma"),
        F.round(F.exp("mu"), 4).alias("median_fit"),
        F.round(mean_fit, 4).alias("mean_fit"),
        F.round("mean_obs", 4).alias("mean_obs"),
        F.round(F.col("mean_obs") / mean_fit, 6).alias("mean_ratio"),
    )


# ---------------------------------------------------------------------------
# Round-14: closed-form ridge regression (the regularized OLS companion)
# ---------------------------------------------------------------------------

RIDGE_LAMBDA = 1000.0  # L2 penalty in raw (centered) second-moment units

ridge_regression_oracle = f"""
WITH m AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         avg(l_quantity) AS m1, avg(l_discount) AS m2,
         avg(l_extendedprice) AS my,
         var_samp(l_quantity) AS v11, var_samp(l_discount) AS v22,
         covar_samp(l_quantity, l_discount) AS v12,
         covar_samp(l_quantity, l_extendedprice) AS c1y,
         covar_samp(l_discount, l_extendedprice) AS c2y
  FROM lineitem
), s AS (
  SELECT n,
         m1, m2, my,
         v11 * (n - 1) + {RIDGE_LAMBDA} AS s11,
         v22 * (n - 1) + {RIDGE_LAMBDA} AS s22,
         v12 * (n - 1) AS s12,
         c1y * (n - 1) AS t1, c2y * (n - 1) AS t2
  FROM m
)
SELECT n, CAST({RIDGE_LAMBDA} AS DOUBLE) AS lambda,
       round((t1 * s22 - t2 * s12) / nullif(s11 * s22 - s12 * s12, 0), 3)
         AS b_quantity,
       round((t2 * s11 - t1 * s12) / nullif(s11 * s22 - s12 * s12, 0), 3)
         AS b_discount,
       round(my - (t1 * s22 - t2 * s12) / nullif(s11 * s22 - s12 * s12, 0)
                  * m1
                - (t2 * s11 - t1 * s12) / nullif(s11 * s22 - s12 * s12, 0)
                  * m2,
             3) AS intercept
FROM s
"""


@register("ridge_regression_price", ridge_regression_oracle)
def ridge_regression_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RIDGE (L2-penalized) two-factor least squares — the same
    price-on-(quantity, discount) model as ``ols_two_factor`` with λ
    added to the centered normal equations' diagonal (slopes penalized,
    intercept not — the standard centering trick makes that automatic).
    The production companion of OLS at 100 TB: with billions of rows the
    variance is gone but COLLINEAR feature pairs still blow up the OLS
    determinant; the ridge determinant (S₁₁+λ)(S₂₂+λ) − S₁₂² is bounded
    away from zero by construction, so the fit never degenerates.

    Shape: identical to OLS — ONE single-pass moment aggregate (map-side
    combinable var/covar), closed-form 2×2 solve inside the same 1-row
    projection; no gradient loop, no driver matrix, nothing data-sized
    after the scan. Coefficients are ratios of centered sums (the OLS
    float discipline), rounded at 3dp."""
    li = load_table(spark, sf_dir, "lineitem")
    m = li.agg(
        F.count("*").alias("n"),
        F.avg("l_quantity").alias("m1"),
        F.avg("l_discount").alias("m2"),
        F.avg("l_extendedprice").alias("my"),
        F.var_samp("l_quantity").alias("v11"),
        F.var_samp("l_discount").alias("v22"),
        F.covar_samp("l_quantity", "l_discount").alias("v12"),
        F.covar_samp("l_quantity", "l_extendedprice").alias("c1y"),
        F.covar_samp("l_discount", "l_extendedprice").alias("c2y"),
    )
    nm1 = F.col("n") - 1
    s11 = F.col("v11") * nm1 + F.lit(RIDGE_LAMBDA)
    s22 = F.col("v22") * nm1 + F.lit(RIDGE_LAMBDA)
    s12 = F.col("v12") * nm1
    t1 = F.col("c1y") * nm1
    t2 = F.col("c2y") * nm1
    det = F.nullif(s11 * s22 - s12 * s12, F.lit(0.0))
    b1 = (t1 * s22 - t2 * s12) / det
    b2 = (t2 * s11 - t1 * s12) / det
    return m.select(
        "n",
        F.lit(RIDGE_LAMBDA).alias("lambda"),
        F.round(b1, 3).alias("b_quantity"),
        F.round(b2, 3).alias("b_discount"),
        F.round(
            F.col("my") - b1 * F.col("m1") - b2 * F.col("m2"), 3
        ).alias("intercept"),
    )
