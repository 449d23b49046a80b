"""Dedup + text-analysis property tests (L1/L2/L4).

The fixture corpus has no true duplicates, so near-dup behavior is proven on
synthetic corpora with planted duplicates: exact copies, lightly-mutated
copies, and unrelated documents.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from streamroom_bigdata_spark.operators import dedup, text
from streamroom_bigdata_spark.sources import load_table

BASE = (
    "the quick brown fox jumps over the lazy dog while the cat watches "
    "from the warm window sill and the birds sing in the garden all day"
)
MUTATED = BASE.replace("warm window", "cold window")  # 2-token change
UNRELATED = (
    "spark executes distributed query plans with catalyst optimizing "
    "predicate pushdown column pruning and adaptive shuffle partitioning"
)


@pytest.fixture(scope="module")
def planted_docs(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("planted")
    rows = [
        (0, BASE, "en", "srcA", len(BASE)),
        (1, BASE, "en", "srcB", len(BASE)),          # exact dup of 0
        (2, MUTATED, "en", "srcC", len(MUTATED)),    # near dup of 0
        (3, UNRELATED, "en", "srcD", len(UNRELATED)),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    df.write.parquet(f"{d}/documents.parquet")
    return str(d)


def test_exact_dedup_groups_copies(spark, planted_docs):
    rows = dedup.dedup_exact(spark, planted_docs).collect()
    by_count = sorted(r.n_copies for r in rows)
    assert by_count == [1, 1, 2]
    dup_group = [r for r in rows if r.n_copies == 2][0]
    assert dup_group.keep_doc_id == 0


def test_minhash_identical_docs_identical_sigs(spark, planted_docs):
    sigs = {r.doc_id: tuple(r[i] for i in range(1, 9))
            for r in dedup.minhash_signatures(spark, planted_docs).collect()}
    assert sigs[0] == sigs[1]
    # near-dup shares most minhashes; unrelated shares none
    shared_near = sum(a == b for a, b in zip(sigs[0], sigs[2]))
    shared_far = sum(a == b for a, b in zip(sigs[0], sigs[3]))
    assert shared_near >= 4
    assert shared_far == 0


def test_lsh_finds_planted_pairs(spark, planted_docs):
    pairs = {(r.doc_a, r.doc_b): r.jaccard
             for r in dedup.near_dup_pairs(spark, planted_docs).collect()}
    assert (0, 1) in pairs and pairs[(0, 1)] == 1.0
    assert (0, 2) in pairs and 0.5 < pairs[(0, 2)] < 1.0
    assert (0, 3) not in pairs and (1, 3) not in pairs and (2, 3) not in pairs


def test_minhash_lsh_recall_vs_exact(spark, sf_dir):
    """On the real corpus, LSH candidates must recover a decent fraction of
    the exact high-Jaccard pairs (recall property for the approximate op)."""
    exact = {
        (r.doc_a, r.doc_b)
        for r in dedup.ngram_jaccard_pairs(spark, sf_dir).collect()
        if r.jaccard >= dedup.JACCARD_THRESHOLD
    }
    if not exact:
        pytest.skip("no high-jaccard pairs in fixture corpus")
    found = {
        (r.doc_a, r.doc_b) for r in dedup.near_dup_pairs(spark, sf_dir).collect()
    }
    assert len(found & exact) / len(exact) >= 0.5


def test_simhash_hamming_property(spark, planted_docs):
    fps = {r.doc_id: r.simhash
           for r in dedup.simhash_fingerprints(spark, planted_docs).collect()}

    def hamming(a: int, b: int) -> int:
        return bin(a ^ b).count("1")

    assert fps[0] == fps[1]                       # identical docs
    assert hamming(fps[0], fps[2]) <= 4           # near dup: few bits differ
    assert hamming(fps[0], fps[3]) >= hamming(fps[0], fps[2])


def test_text_stats_consistency(spark, sf_dir):
    joined = (
        text.text_stats(spark, sf_dir)
        .join(load_table(spark, sf_dir, "documents").select("doc_id", "text"), "doc_id")
        .collect()
    )
    for r in joined[:50]:
        assert r.n_tokens == len(r.text.split(" "))
        assert r.n_chars == len(r.text)
        assert r.n_unique_tokens <= r.n_tokens


def test_quality_flags_are_sane(spark, sf_dir):
    rows = text.text_quality(spark, sf_dir).collect()
    assert all(0.0 <= r.stopword_ratio <= 1.0 for r in rows)
    assert all(0.0 < r.unique_ratio <= 1.0 for r in rows)
    assert any(r.is_quality for r in rows)


def test_lang_id_deterministic(spark, sf_dir):
    a = {r.doc_id: r.detected_lang
         for r in text.lang_id_heuristic(spark, sf_dir).collect()}
    b = {r.doc_id: r.detected_lang
         for r in text.lang_id_heuristic(spark, sf_dir).collect()}
    assert a == b
    assert set(a.values()) <= {"en", "de", "fr", "es", "und"}


def test_lang_id_column_algebra_agrees_with_udf(spark, sf_dir):
    """The codegen'd replace-length scorer must reproduce the retired
    per-row Python scorer exactly — same hits, same threshold, same
    tie-break (VERDICT r2 #3)."""
    algebra = {r.doc_id: r.detected_lang
               for r in text.lang_id_heuristic(spark, sf_dir).collect()}
    udf = {r.doc_id: r.detected_lang
           for r in text.lang_id_udf(spark, sf_dir).collect()}
    assert algebra == udf


def test_lang_id_edge_cases(spark):
    """Empty / whitespace-only / single-char / null texts → 'und' in both
    scorer implementations."""
    rows = [(0, ""), (1, "   "), (2, "x"), (3, None),
            (4, "the then there other and running")]
    df = spark.createDataFrame(rows, "doc_id long, text string") \
        .withColumn("lang", F.lit("en")) \
        .withColumn("source", F.lit("s")) \
        .withColumn("n_chars", F.length("text"))
    import tempfile
    with tempfile.TemporaryDirectory() as d:
        df.write.mode("overwrite").parquet(f"{d}/documents.parquet")
        out_a = {r.doc_id: r.detected_lang
                 for r in text.lang_id_heuristic(spark, d).collect()}
        out_u = {r.doc_id: r.detected_lang
                 for r in text.lang_id_udf(spark, d).collect()}
    assert out_a == out_u
    assert out_a[0] == out_a[1] == out_a[3] == "und"
    assert out_a[4] == "en"


def test_fingerprint_order_sensitivity(spark, tmp_path):
    rows = [(0, "alpha beta gamma", "en", "s", 16),
            (1, "gamma beta alpha", "en", "s", 16),
            (2, "alpha beta gamma", "en", "s", 16)]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    df.write.parquet(f"{tmp_path}/documents.parquet")
    fps = {r.doc_id: r.fingerprint
           for r in text.doc_fingerprints(spark, str(tmp_path)).collect()}
    assert fps[0] == fps[2]       # same order, same fingerprint
    assert fps[0] != fps[1]       # permuted tokens change it


def test_hot_bucket_cap_stars_instead_of_quadratic(spark, caplog):
    """A band key shared by many docs (template mass-duplication or a
    stop-phrase bucket) must contribute its spanning STAR on the min doc_id
    above the cap — candidates linear in bucket size, bucket fully
    connected at diameter 2 so label propagation converges in ~2 rounds (a
    dropped bucket would let 2000-copy templates evade dedup entirely; a
    chain's diameter ≈ bucket size outruns the propagation round bound);
    non-hot buckets are unaffected (VERDICT r1 #5 + ADVICE r2)."""
    hot = [(i, 0, 777) for i in range(50)]         # 50 docs, one hot bucket
    cool = [(100, 1, 42), (101, 1, 42)]            # a genuine near-dup pair
    bands = spark.createDataFrame(
        hot + cool, "doc_id long, band_id int, band_key long"
    )
    uncapped = dedup.lsh_candidate_pairs(bands, max_bucket_size=None)
    assert uncapped.count() == 50 * 49 // 2 + 1
    with caplog.at_level("WARNING", logger="streamroom_bigdata_spark.operators.dedup"):
        capped = dedup.lsh_candidate_pairs(bands, max_bucket_size=10, log_dropped=True)
        rows = sorted((r.doc_a, r.doc_b) for r in capped.collect())
    # star: 49 hub links + the cool pair — linear, not 1225
    assert rows == [(0, i) for i in range(1, 50)] + [(100, 101)]
    # connectivity preserved at diameter 2: hub 0 reaches every hot doc
    linked = {a for a, _ in rows[:-1]} | {b for _, b in rows[:-1]}
    assert linked == set(range(50))
    assert any("hot band bucket" in m for m in caplog.messages)
    report = dedup.hot_bucket_report(bands, 10).collect()
    assert [(r.band_id, r.band_key, r.bucket_n) for r in report] == [(0, 777, 50)]


def test_fixture_has_no_hot_buckets(spark, sf_dir):
    """near_dup_pairs is oracle-checked against SQL that enumerates ALL
    bucket pairs; the Spark side star-links buckets over
    NEAR_DUP_MAX_BUCKET. The two agree exactly iff the fixture has no
    bucket above the cap — pin that precondition here so a fixture or cap
    change surfaces as THIS failure instead of a mystery oracle mismatch
    (ADVICE r2). Checked at both the smoke and the driver-gate sf."""
    for d in (sf_dir, "/root/testdata/sf0.01"):
        bands = dedup.signature_bands(dedup.minhash_signature_df(spark, d))
        assert dedup.hot_bucket_report(
            bands, dedup.NEAR_DUP_MAX_BUCKET
        ).count() == 0, f"hot bucket above cap in {d}: oracle would diverge"


def test_pii_redaction_semantics(spark):
    from streamroom_bigdata_spark.operators.text import redact_pii

    rows = [
        (1, "contact me at jane.doe+x@example.co.uk or 555-867-5309 today"),
        (2, "ssn-ish 123456789 and card 4111111111111111 end"),
        (3, "clean text with no identifiers at all"),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    got = {r.doc_id: r for r in redact_pii(df).collect()}
    assert "<EMAIL>" in got[1].redacted and "<PHONE>" in got[1].redacted
    assert got[1].n_emails == 1 and got[1].n_phones == 1
    assert got[2].redacted == "ssn-ish <ID> and card <ID> end"
    assert got[3].redacted == rows[2][1]
    assert got[3].n_emails == 0 and got[3].n_phones == 0


def test_heavy_hitters_match_exact_topk(spark, sf_dir):
    """Misra-Gries candidates must contain every true top-k token, and the
    recount pass must produce exactly the true top-k with exact counts."""
    from streamroom_bigdata_spark.operators.text import (
        HH_TOP_K,
        heavy_hitter_tokens,
        token_frequencies,
    )

    got = [(r.tok, r.n) for r in heavy_hitter_tokens(spark, sf_dir).collect()]
    exact = [
        (r.tok, r.n) for r in token_frequencies(spark, sf_dir).collect()
    ][:HH_TOP_K]
    assert got == exact


def test_udtf_tokenization_agrees_with_explode(spark, sf_dir):
    """D5: the Python UDTF form must produce exactly the explode+posexplode
    token stream (the codegen path it is the oracle for)."""
    from streamroom_bigdata_spark.operators.text import tokenize_udtf
    from streamroom_bigdata_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents").limit(50)
    tok = tokenize_udtf()
    via_udtf = {
        (r.doc_id, r.pos, r.tok)
        for r in docs.lateralJoin(
            tok(F.col("text").outer()).alias("t")
        ).select("doc_id", "t.pos", "t.tok").collect()
    }
    via_explode = {
        (r.doc_id, r.pos, r.tok)
        for r in docs.select(
            "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "tok")
        ).collect()
    }
    assert via_udtf == via_explode and len(via_udtf) > 0


def test_connected_components_chain_pointer_doubling(spark):
    """A 64-node path graph (diameter 63) must converge well inside the
    doubling bound — pointer doubling makes rounds O(log diameter), so 10
    rounds suffice where plain hash-min propagation would need 63.
    small_graph_threshold=0 forces the distributed path (the default would
    solve 63 edges on the driver)."""
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(63)], "doc_a long, doc_b long"
    )
    labels = dedup.connected_components(
        pairs, max_rounds=10, small_graph_threshold=0
    )
    rows = labels.collect()
    assert len(rows) == 64
    assert {r.component for r in rows} == {0}


def test_connected_components_driver_path_matches_distributed(spark):
    """The small-graph union-find fast path must produce EXACTLY the labels
    of the distributed propagation (component = min member id), on a graph
    mixing a chain, a clique, and an isolated pair."""
    edges = (
        [(i, i + 1) for i in range(20, 26)]  # chain 20..26
        + [(a, b) for a in range(5) for b in range(a + 1, 5)]  # clique 0-4
        + [(100, 101)]
    )
    pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
    via_driver = {
        (r.id, r.component)
        for r in dedup.connected_components(pairs).collect()
    }
    via_spark = {
        (r.id, r.component)
        for r in dedup.connected_components(
            pairs, small_graph_threshold=0
        ).collect()
    }
    assert via_driver == via_spark
    assert {c for _, c in via_driver} == {0, 20, 100}


def test_connected_components_reliable_checkpoint(spark, reliable_checkpoints):
    """A session checkpoint directory switches per-round materialization
    to reliable checkpoints (fault-tolerant storage) — same labels either
    way."""
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(10)], "doc_a long, doc_b long"
    )
    ckdir = reliable_checkpoints()
    got = {
        (r.id, r.component)
        for r in dedup.connected_components(
            pairs, small_graph_threshold=0
        ).collect()
    }
    assert got == {(i, 0) for i in range(11)}
    import os

    assert any(os.scandir(ckdir)), "reliable checkpoint dir is empty"


def test_connected_components_two_components(spark):
    """Disjoint components keep distinct min-id labels."""
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (10, 11), (11, 12), (12, 13)],
        "doc_a long, doc_b long",
    )
    got = {
        (r.id, r.component)
        for r in dedup.connected_components(pairs).collect()
    }
    assert got == {(0, 0), (1, 0), (2, 0), (10, 10), (11, 10), (12, 10), (13, 10)}


def test_counted_bands_reliable_checkpoint_matches_local(
    spark, reliable_checkpoints
):
    """counted_bands in reliable mode — the band-table half of the
    reliable-checkpoint policy — yields the same counted rows as the
    localCheckpoint path."""
    from streamroom_bigdata_spark.operators.dedup import (
        counted_bands,
        exploded_shingles_of,
        minhash_signatures_of,
        signature_bands,
    )
    from streamroom_bigdata_spark.sources import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").limit(50)
    bands = signature_bands(minhash_signatures_of(exploded_shingles_of(docs)))
    local = sorted(map(tuple, counted_bands(bands).collect()))
    reliable_checkpoints()
    reliable = sorted(map(tuple, counted_bands(bands).collect()))
    assert local == reliable and len(local) > 0


def test_containment_catches_subset_dup_jaccard_misses(spark, tmp_path):
    """A short doc quoted whole inside a long one: containment ≈ 1 while
    Jaccard sits far below the near-dup threshold — the regime this
    operator exists for. Build a tiny corpus parquet and run the
    registered query against it."""
    short = " ".join(f"tok{i}" for i in range(12))
    long_ = short + " " + " ".join(f"pad{i}" for i in range(80))
    other = " ".join(f"zzz{i}" for i in range(30))
    spark.createDataFrame(
        [(0, short, "en", "web"), (1, long_, "en", "web"), (2, other, "en", "web")],
        "doc_id long, text string, lang string, source string",
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))

    got = {
        (r.doc_a, r.doc_b): (r.containment, r.jaccard)
        for r in dedup.containment_dup_pairs(spark, str(tmp_path)).collect()
    }
    assert (0, 1) in got, got
    cont, jac = got[(0, 1)]
    assert cont == 1.0  # every shingle of the short doc is in the long one
    assert jac < 0.2    # symmetric jaccard would never flag this pair
    assert all(2 not in pair for pair in got)


def test_block_dup_stats_planted_blocks(spark, tmp_path):
    """Doc A and doc B share one block-ALIGNED 8-token run; doc C is unique;
    doc D is shorter than one block (excluded); doc E repeats a block within
    itself only (within-doc repeats are NOT cross-doc dups)."""
    common = " ".join(f"c{i}" for i in range(8))
    self_rep = " ".join(f"e{i}" for i in range(8))
    rows = [
        (0, common + " " + " ".join(f"a{i}" for i in range(8))),
        (1, " ".join(f"b{i}" for i in range(8)) + " " + common
            + " " + " ".join(f"b{i + 8}" for i in range(8))),
        (2, " ".join(f"u{i}" for i in range(16))),
        (3, " ".join(f"d{i}" for i in range(7))),          # no full block
        (4, self_rep + " " + self_rep),                     # within-doc only
    ]
    spark.createDataFrame(
        [(i, t, "en", "web", len(t)) for i, t in rows],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))

    got = {
        r.doc_id: (r.n_blocks, r.dup_blocks, r.dup_frac)
        for r in dedup.block_dup_stats(spark, str(tmp_path)).collect()
    }
    assert got[0] == (2, 1, 0.5)
    assert got[1] == (3, 1, round(1 / 3, 6))
    assert got[2] == (2, 0, 0.0)
    assert 3 not in got
    assert got[4] == (2, 0, 0.0)


def test_block_dup_stats_unaligned_share_not_flagged(spark, tmp_path):
    """The same 8 tokens at a NON-block-aligned offset hash into different
    blocks — the documented fixed-grid tradeoff (winnowing fingerprints are
    the shift-robust alternative)."""
    common = " ".join(f"c{i}" for i in range(8))
    rows = [
        (0, common + " " + " ".join(f"a{i}" for i in range(8))),
        (1, "shift " + common + " " + " ".join(f"b{i}" for i in range(7))),
    ]
    spark.createDataFrame(
        [(i, t, "en", "web", len(t)) for i, t in rows],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    got = {
        r.doc_id: r.dup_blocks
        for r in dedup.block_dup_stats(spark, str(tmp_path)).collect()
    }
    assert got == {0: 0, 1: 0}


def test_quality_percentile_keep_is_per_language(spark, tmp_path):
    """The 30% cut applies WITHIN each language: a low-diversity language
    still keeps its top docs even when every score is below the other
    language's floor — the property a global threshold lacks."""
    # lang 'hi' docs: all-distinct tokens (uniq = 1.0); lang 'lo': heavy
    # repetition (uniq ~ 0.2) — 10 docs each => 3 kept per language
    rows = []
    for i in range(10):
        rows.append((i, " ".join(f"a{i}_{j}" for j in range(10)), "hi", "s", 10))
    for i in range(10):
        toks = [f"b{i}"] * 8 + [f"c{i}", f"d{i}"]
        rows.append((100 + i, " ".join(toks), "lo", "s", 10))
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))

    out = text.quality_percentile_keep(spark, str(tmp_path)).collect()
    by_lang = {}
    for r in out:
        by_lang.setdefault(r.lang, []).append(r)
    assert len(by_lang["hi"]) == 3 and len(by_lang["lo"]) == 3
    assert all(r.q_rank <= 3 for r in out)
    # ties in 'hi' (all uniq=1.0) broke on doc_id: lowest three ids kept
    assert sorted(r.doc_id for r in by_lang["hi"]) == [0, 1, 2]


def test_kmv_source_overlap_estimates_jaccard(spark, tmp_path):
    """Planted overlap: sources A and B share half their docs; C is
    disjoint. The KMV estimate must approximate the exact shingle-set
    Jaccard (computed brute-force here), and pairs with a union smaller
    than K are EXACT by construction."""
    from streamroom_bigdata_spark.operators.profile import kmv_source_overlap
    from streamroom_bigdata_spark.operators.dedup import SHINGLE_N

    import random
    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(200)]

    def doc(seed):
        r = random.Random(seed)
        return " ".join(r.choice(vocab) for _ in range(40))

    shared = [doc(1000 + i) for i in range(30)]
    rows = []
    did = 0
    for t in shared + [doc(i) for i in range(30)]:          # A: 30 shared + 30 own
        rows.append((did, t, "en", "A", len(t))); did += 1
    for t in shared + [doc(500 + i) for i in range(30)]:    # B: 30 shared + 30 own
        rows.append((did, t, "en", "B", len(t))); did += 1
    for t in [doc(9000 + i) for i in range(20)]:            # C: disjoint docs
        rows.append((did, t, "en", "C", len(t))); did += 1
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))

    est = {
        (r.source_a, r.source_b): r.jaccard_est
        for r in kmv_source_overlap(spark, str(tmp_path)).collect()
    }
    assert set(est) == {("A", "B"), ("A", "C"), ("B", "C")}

    # brute-force exact shingle-set jaccard per source
    def shingles(text):
        toks = text.split(" ")
        return {
            " ".join(toks[i:i + SHINGLE_N])
            for i in range(len(toks) - SHINGLE_N + 1)
        }
    sets = {}
    for _, t, _, s, _ in rows:
        sets.setdefault(s, set()).update(shingles(t))
    for (a, b), e in est.items():
        true = len(sets[a] & sets[b]) / len(sets[a] | sets[b])
        assert abs(e - true) < 0.08, (a, b, e, true)


def test_cluster_representatives_pick_best_quality_not_min_id(spark, tmp_path):
    """Doc 0 is the min-id member but a degraded copy (repeated filler
    tokens lower its vocabulary diversity); doc 1 is the clean copy. The
    representative must be doc 1 — quality-driven, not min-id."""
    degraded = BASE + " the the the the the the"
    rows = [
        (0, degraded, "en", "srcA", len(degraded)),
        (1, BASE, "en", "srcB", len(BASE)),
        (3, UNRELATED, "en", "srcD", len(UNRELATED)),
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))

    reps = dedup.cluster_representatives(spark, str(tmp_path)).collect()
    assert len(reps) == 1  # one near-dup cluster; the unrelated doc is no cluster
    r = reps[0]
    assert r.component == 0          # labeled by min doc_id
    assert r.rep_doc_id == 1         # but represented by the CLEAN copy
    assert r.cluster_size == 2


def test_vocab_build_and_encode_roundtrip(spark, tmp_path):
    """Vocab: most frequent token gets id 1, frequency ties break
    lexicographically; encode: ids preserve token order and tokens beyond
    the VOCAB_MAX cut map to OOV id 0."""
    from streamroom_bigdata_spark.operators.text import (
        VOCAB_MAX,
        vocab_encode_docs,
        vocab_top_tokens,
    )

    # 300 distinct rare tokens (freq 1 each) + 'bb' x5 + 'aa'/'ab' x3 each
    rare = [f"r{i:03d}" for i in range(300)]
    texts = {
        0: "bb bb bb aa ab",
        1: "bb bb aa ab " + " ".join(rare[:150]),
        2: "aa ab " + " ".join(rare[150:]),
    }
    spark.createDataFrame(
        [(i, t, "en", "s", len(t)) for i, t in texts.items()],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))

    vocab = {r.tok: (r.id, r.freq) for r in vocab_top_tokens(spark, str(tmp_path)).collect()}
    assert len(vocab) == VOCAB_MAX  # 303 distinct tokens -> top 256 kept
    assert vocab["bb"][0] == 1                      # freq 5
    assert vocab["aa"][0] == 2 and vocab["ab"][0] == 3  # freq-3 tie, lex order
    in_vocab_rare = [t for t in rare if t in vocab]
    assert len(in_vocab_rare) == VOCAB_MAX - 3      # freq-1 tie, lex order
    assert in_vocab_rare == sorted(rare)[: VOCAB_MAX - 3]

    enc = {
        r.doc_id: [int(x) for x in r.ids.split(" ")]
        for r in vocab_encode_docs(spark, str(tmp_path)).collect()
    }
    assert enc[0] == [1, 1, 1, 2, 3]
    # doc 2's tail contains the lexicographically-last rare tokens -> OOV 0
    assert enc[2][0] == 2 and enc[2][1] == 3
    assert enc[2][-1] == 0  # 'r299' is past the cut
    assert len(enc[2]) == 2 + 150


def test_bigram_collocations_rank_true_phrases_first(spark, tmp_path):
    """'aa bb' always adjacent (high PMI) vs 'xx yy' co-occurring only as
    often as chance — the glued pair must rank first and score higher."""
    from streamroom_bigdata_spark.operators.text import bigram_collocations

    # 10 docs: 'aa bb' glued; filler tokens f0..f9 vary; 'xx'/'yy' appear
    # often but adjacent only sometimes
    texts = []
    for i in range(10):
        texts.append(f"aa bb f{i} xx f{(i+1) % 10} yy xx yy")
    docs = [(i, t, "en", "s", len(t)) for i, t in enumerate(texts)]
    spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    out = bigram_collocations(spark, str(tmp_path)).collect()
    assert out, "expected at least one collocation"
    scores = {(r.tok1, r.tok2): r.pmi for r in out}
    assert ("aa", "bb") in scores
    assert scores[("aa", "bb")] == max(scores.values())
    if ("xx", "yy") in scores:
        assert scores[("aa", "bb")] > scores[("xx", "yy")]
