"""LLM-pipeline operators: SemDeDup semantic dedup,
train/test n-gram contamination, Gopher repetition profiling.

Each operator also has a driver-checked DuckDB oracle pair
(q_semantic_dedup / q_contamination_ngram / q_repetition_profile);
these tests pin the operator-level contracts the oracle can't see —
subset/consistency invariants against the exact all-pairs baseline,
crafted-fixture edge cases, and tie-break determinism.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from rusty_timeseries_db_spark.functions.vectors import cosine
from rusty_timeseries_db_spark.operators.contamination import ngram_contamination
from rusty_timeseries_db_spark.operators.dedup import (
    semantic_dedup_decisions,
    semantic_dedup_pairs,
)
from rusty_timeseries_db_spark.operators.profile import repetition_profile
from rusty_timeseries_db_spark.queries import T
from tests.conftest import SF_DIR


# ------------------------------------------------------ semantic dedup

def _exact_pairs(emb, threshold):
    a = emb.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("_ea"))
    b = emb.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("_eb"))
    return (
        a.join(F.broadcast(b), F.col("id_a") < F.col("id_b"))
        .withColumn("cs", cosine(F.col("_ea"), F.col("_eb")))
        .filter(F.col("cs") >= threshold)
    )


def test_semantic_dedup_pairs_subset_of_exact(spark):
    """Every cluster-bounded pair is a true near-dup pair (precision
    1.0 by construction): the cluster step only PRUNES candidates —
    scores and the threshold are identical to the exact baseline."""
    emb = T(spark, SF_DIR, "embeddings")
    sem = {
        (r.id_a, r.id_b): r.cos_sim
        for r in semantic_dedup_pairs(emb, n_seeds=8, threshold=0.4).collect()
    }
    exact = {
        (r.id_a, r.id_b): r.cs for r in _exact_pairs(emb, 0.4).collect()
    }
    assert sem, "fixture should produce within-cluster near-dup pairs"
    assert set(sem) <= set(exact)
    for k, v in sem.items():
        assert v == pytest.approx(exact[k], abs=1e-12)


def test_semantic_dedup_equals_exact_within_cluster(spark):
    """The operator finds EXACTLY the near-dup pairs whose endpoints
    share a cluster — nothing within a cluster is missed."""
    from rusty_timeseries_db_spark.operators.clustering import assign_nearest

    emb = T(spark, SF_DIR, "embeddings")
    seeds = emb.filter(F.col("vec_id") < 8)
    centroids = seeds.select(
        F.col("vec_id").alias("cluster_id"),
        F.transform("embedding", lambda x: x.cast("double")).alias("centroid"),
    )
    assign = {
        r.vec_id: r.assigned_label
        for r in assign_nearest(
            emb.select("vec_id", "embedding"), centroids,
            centroid_label_col="cluster_id",
        ).collect()
    }
    exact_same_cluster = {
        (r.id_a, r.id_b)
        for r in _exact_pairs(emb, 0.4).collect()
        if assign[r.id_a] == assign[r.id_b]
    }
    sem = {
        (r.id_a, r.id_b)
        for r in semantic_dedup_pairs(emb, seeds=seeds, threshold=0.4).collect()
    }
    assert sem == exact_same_cluster


def test_semantic_dedup_default_seeds_match_explicit(spark):
    """Default seed selection (lowest n_seeds ids) is identical to
    passing the same seeds explicitly — and never collects to the
    driver (the limit feeds the broadcast build side lazily)."""
    emb = T(spark, SF_DIR, "embeddings")
    explicit = semantic_dedup_pairs(
        emb, seeds=emb.filter(F.col("vec_id") < 8), threshold=0.4
    )
    default = semantic_dedup_pairs(emb, n_seeds=8, threshold=0.4)
    assert sorted(map(tuple, default.collect())) == sorted(
        map(tuple, explicit.collect())
    )


def test_semantic_dedup_decisions_greedy_min_id(spark):
    """Crafted graph: pairs (1,5) (2,5) (1,9) in one cluster →
    drop 5 keeping 1 (min id_a, 2 links), drop 9 keeping 1."""
    pairs = spark.createDataFrame(
        [(0, 1, 5, 0.97), (0, 2, 5, 0.91), (0, 1, 9, 0.88)],
        "cluster_id long, id_a long, id_b long, cos_sim double",
    )
    dec = {
        r.drop_id: (r.keep_id, r.cos_sim, r.n_links)
        for r in semantic_dedup_decisions(pairs).collect()
    }
    assert dec == {5: (1, 0.97, 2), 9: (1, 0.88, 1)}
    # every dropped vector keeps a strictly lower id — the greedy
    # canonical order can never drop the minimum of a component
    assert all(keep < drop for drop, (keep, _, _) in dec.items())


# ------------------------------------------------------- contamination

def test_contamination_fractions(spark):
    """Fully-leaked doc → 1.0 + flagged; disjoint doc → 0.0; partial
    overlap → the exact shingle fraction."""
    train = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog")],
        "doc_id long, text string",
    )
    test = spark.createDataFrame(
        [
            # identical text: every 5-gram hits
            (0, "the quick brown fox jumps over the lazy dog"),
            # disjoint vocabulary: zero hits
            (1, "alpha beta gamma delta epsilon zeta eta theta iota"),
            # 6 words -> two 5-grams, exactly one in train
            (2, "the quick brown fox jumps far"),
        ],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: r
        for r in ngram_contamination(test, train, n=5, flag_threshold=0.5)
        .collect()
    }
    assert out[0].contamination == 1.0 and out[0].flagged
    assert out[1].contamination == 0.0 and not out[1].flagged
    assert out[2].n_grams == 2 and out[2].n_hit == 1
    assert out[2].contamination == 0.5 and out[2].flagged


def test_contamination_short_doc_truncated_shingle(spark):
    """A test doc shorter than n contributes its single truncated
    shingle (word_shingles convention) and still gets a report row."""
    train = spark.createDataFrame(
        [(100, "tiny doc words here")], "doc_id long, text string"
    )
    test = spark.createDataFrame(
        [(0, "tiny doc"), (1, "unseen pair")], "doc_id long, text string"
    )
    out = {
        r.doc_id: r
        for r in ngram_contamination(test, train, n=5).collect()
    }
    # "tiny doc" is a prefix-shingle of train's truncated 4-word
    # shingle? No: train's single truncated shingle is the full 4-word
    # text, so the 2-word test shingle does NOT match it.
    assert out[0].n_grams == 1 and out[0].n_hit == 0
    assert out[1].n_grams == 1 and out[1].n_hit == 0


def test_contamination_testdata_bounds(spark):
    """On the real documents table: fractions in [0,1], every test doc
    reported, flagged ⇔ contamination >= threshold."""
    d = T(spark, SF_DIR, "documents")
    test = d.filter(F.col("doc_id") % 10 == 0)
    n_test = test.count()
    rows = ngram_contamination(
        test, d.filter(F.col("doc_id") % 10 != 0), n=5, flag_threshold=0.5
    ).collect()
    assert len(rows) == n_test
    for r in rows:
        assert 0 <= r.n_hit <= r.n_grams
        assert 0.0 <= r.contamination <= 1.0
        assert r.flagged == (r.n_hit / r.n_grams >= 0.5)


# --------------------------------------------------------- repetition

def test_repetition_profile_crafted(spark):
    df = spark.createDataFrame(
        [(0, "a a a a"), (1, "b c b c c b"), (2, "solo")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in repetition_profile(df).collect()}
    assert 2 not in out  # one-word docs excluded (no bigram exists)
    r0 = out[0]
    assert (r0.n_words, r0.n_distinct_words) == (4, 1)
    assert r0.dup_word_frac == 0.75
    assert (r0.top_bigram, r0.top_bigram_n, r0.top_bigram_frac) == ("a a", 3, 1.0)
    # tie: "b c" and "c b" both occur twice -> lexicographic min wins
    r1 = out[1]
    assert (r1.top_bigram, r1.top_bigram_n) == ("b c", 2)
    assert r1.dup_word_frac == round(1 - 2 / 6, 6)  # operator rounds to 6dp


def test_repetition_profile_case_normalized(spark):
    """Tokens lowercase before counting — 'The the' is a duplicate."""
    df = spark.createDataFrame(
        [(0, "The the THE")], "doc_id long, text string"
    )
    r = repetition_profile(df).collect()[0]
    assert (r.n_words, r.n_distinct_words) == (3, 1)
    assert r.top_bigram == "the the" and r.top_bigram_n == 2


def test_contamination_monotone_in_train_corpus(spark):
    """Growing the train corpus can only raise (never lower) each test
    doc's contamination — the report is a containment fraction against
    the train shingle UNION, so it is monotone in train. Checked on
    the real table with nested train splits."""
    d = T(spark, SF_DIR, "documents")
    test = d.filter(F.col("doc_id") % 10 == 0)
    train_small = d.filter(F.col("doc_id") % 10 == 1)
    train_big = d.filter(F.col("doc_id") % 10 != 0)  # superset of small
    small = {
        r.doc_id: r.n_hit
        for r in ngram_contamination(test, train_small, n=5).collect()
    }
    big = {
        r.doc_id: r.n_hit
        for r in ngram_contamination(test, train_big, n=5).collect()
    }
    assert set(small) == set(big)
    assert all(big[k] >= v for k, v in small.items())
    assert any(big[k] > v for k, v in small.items())


# ----------------------------------------------------- duplicate spans

def test_duplicate_spans_maximal_run(spark):
    """A 10-token span shared at different offsets collapses to ONE
    maximal row with exact 0-based starts and length."""
    from rusty_timeseries_db_spark.operators.dedup import duplicate_spans

    shared = " ".join(f"s{i}" for i in range(10))
    df = spark.createDataFrame(
        [
            (1, "x1 x2 x3 x4 x5 " + shared + " y1 y2"),
            (2, "z1 " + shared + " z2 z3"),
        ],
        "doc_id long, text string",
    )
    rows = duplicate_spans(df, k=5, min_span_tokens=10).collect()
    assert [(r.id_a, r.id_b, r.start_a, r.start_b, r.span_tokens) for r in rows] == [
        (1, 2, 5, 1, 10)
    ]


def test_duplicate_spans_min_length_and_multiple_runs(spark):
    """Two disjoint shared runs in one doc pair yield two rows; runs
    below min_span_tokens are dropped."""
    from rusty_timeseries_db_spark.operators.dedup import duplicate_spans

    run1 = " ".join(f"a{i}" for i in range(8))
    run2 = " ".join(f"b{i}" for i in range(6))
    df = spark.createDataFrame(
        [
            (1, run1 + " gap1 gap2 " + run2),
            (2, "pre " + run1 + " mid1 mid2 mid3 " + run2 + " post"),
        ],
        "doc_id long, text string",
    )
    got = {
        (r.start_a, r.start_b, r.span_tokens)
        for r in duplicate_spans(df, k=4, min_span_tokens=6).collect()
    }
    assert got == {(0, 1, 8), (10, 12, 6)}
    only_long = duplicate_spans(df, k=4, min_span_tokens=7).collect()
    assert {(r.start_a, r.span_tokens) for r in only_long} == {(0, 8)}


def test_duplicate_spans_df_cap_drops_boilerplate(spark):
    """A phrase present in MORE than max_gram_df docs is boilerplate:
    excluded from matching under the cap, found without it."""
    from rusty_timeseries_db_spark.operators.dedup import duplicate_spans

    phrase = " ".join(f"p{i}" for i in range(6))
    docs = [(i, f"u{i}a u{i}b " + phrase + f" v{i}") for i in range(5)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    capped = duplicate_spans(df, k=5, min_span_tokens=6, max_gram_df=3)
    assert capped.count() == 0
    uncapped = duplicate_spans(df, k=5, min_span_tokens=6, max_gram_df=None)
    assert uncapped.count() == 10  # C(5,2) pairs, one span each
    r = uncapped.filter((F.col("id_a") == 0) & (F.col("id_b") == 1)).collect()[0]
    assert (r.start_a, r.start_b, r.span_tokens) == (2, 2, 6)


def test_duplicate_spans_short_docs_excluded(spark):
    """Docs shorter than k emit no grams and can never pair."""
    from rusty_timeseries_db_spark.operators.dedup import duplicate_spans

    df = spark.createDataFrame(
        [(1, "a b c"), (2, "a b c")], "doc_id long, text string"
    )
    assert duplicate_spans(df, k=5, min_span_tokens=5).count() == 0


# -------------------------------------------------------- boilerplate

def test_boilerplate_grams_and_profile(spark):
    from rusty_timeseries_db_spark.operators.contamination import (
        boilerplate_grams,
        boilerplate_profile,
    )

    phrase = " ".join(f"p{i}" for i in range(6))  # two distinct 5-grams
    docs = [(i, phrase + f" u{i}a u{i}b u{i}c u{i}d") for i in range(5)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    vocab = {r.gram: r.gram_df for r in boilerplate_grams(df, min_df=4).collect()}
    # the two full-phrase 5-grams appear in all 5 docs; every gram
    # touching the unique u-suffix tokens is below min_df
    assert set(vocab.values()) == {5} and len(vocab) == 2
    prof = {r.doc_id: r for r in boilerplate_profile(df, min_df=4).collect()}
    for r in prof.values():
        # 10 tokens -> 6 distinct 5-grams, 2 of them boilerplate
        assert (r.n_grams, r.n_boiler) == (6, 2)
        assert r.boilerplate_frac == round(2 / 6, 6)


def test_boilerplate_profile_all_unique_corpus(spark):
    from rusty_timeseries_db_spark.operators.contamination import (
        boilerplate_profile,
    )

    df = spark.createDataFrame(
        [(i, " ".join(f"w{i}_{j}" for j in range(8))) for i in range(4)],
        "doc_id long, text string",
    )
    rows = boilerplate_profile(df, min_df=2).collect()
    assert len(rows) == 4
    assert all(r.n_boiler == 0 and r.boilerplate_frac == 0.0 for r in rows)


def test_semantic_dedup_over_ivf_centroids(spark, tmp_path):
    """One trained quantizer serves both surfaces: semantic dedup over
    IvfIndex.centroids_df() produces a valid pair set — still a subset
    of the exact all-pairs baseline with identical scores, and every
    pair's endpoints share the index's own cell assignment."""
    from rusty_timeseries_db_spark.operators.similarity import IvfIndex

    emb = T(spark, SF_DIR, "embeddings").select("vec_id", "embedding")
    idx = IvfIndex(spark, str(tmp_path / "ivf")).build(
        emb, n_clusters=6, seed=7
    )
    cents = idx.centroids_df()
    assert cents.count() == 6
    pairs = semantic_dedup_pairs(
        emb, centroids=cents, threshold=0.4
    ).collect()
    assert pairs, "clusters should contain near-dup pairs"
    exact = {
        (r.id_a, r.id_b): r.cs for r in _exact_pairs(emb, 0.4).collect()
    }
    for r in pairs:
        assert (r.id_a, r.id_b) in exact
        assert r.cos_sim == pytest.approx(exact[(r.id_a, r.id_b)], abs=1e-9)
    with pytest.raises(ValueError, match="not both"):
        semantic_dedup_pairs(
            emb, seeds=emb.limit(2), centroids=cents
        )


# --------------------------------------- CCNet paragraph-level dedup

def _para_fixture(spark):
    # W=3 paragraphs: A="pa pb pc", B="qa qb qc", C="ra rb rc".
    # doc1=A+B (canonical holder of both), doc2=A+C, doc3=B+B
    # (a WITHIN-doc repeat whose canonical lives in doc1).
    return spark.createDataFrame(
        [
            (1, "pa pb pc qa qb qc"),
            (2, "pa pb pc ra rb rc"),
            (3, "qa qb qc qa qb qc"),
        ],
        "doc_id long, text string",
    )


def test_paragraph_dedup_keep_canonical(spark):
    from rusty_timeseries_db_spark.operators.dedup import (
        duplicated_paragraph_removal,
    )

    out = {
        r.doc_id: r
        for r in duplicated_paragraph_removal(
            _para_fixture(spark), window_tokens=3
        ).collect()
    }
    assert out[1].clean_text == "pa pb pc qa qb qc"  # first occurrences
    assert (out[1].n_paras, out[1].n_removed) == (2, 0)
    assert out[2].clean_text == "ra rb rc"  # A's copy removed
    assert (out[2].n_paras, out[2].n_removed) == (2, 1)
    assert out[3].clean_text == ""  # both B copies lose to doc1
    assert (out[3].n_paras, out[3].n_removed) == (2, 2)


def test_paragraph_dedup_drop_all_mode(spark):
    """keep_canonical=False deletes EVERY copy of a duplicated
    paragraph — the eval-set-cleaning mode: doc1's own A and B
    disappear because copies exist elsewhere."""
    from rusty_timeseries_db_spark.operators.dedup import (
        duplicated_paragraph_removal,
    )

    out = {
        r.doc_id: r
        for r in duplicated_paragraph_removal(
            _para_fixture(spark), window_tokens=3, keep_canonical=False
        ).collect()
    }
    assert out[1].clean_text == "" and out[1].n_removed == 2
    assert out[2].clean_text == "ra rb rc" and out[2].n_removed == 1
    assert out[3].clean_text == "" and out[3].n_removed == 2


def test_paragraph_dedup_identity_on_unique_corpus(spark):
    """With no duplicated paragraph anywhere, clean_text reconstructs
    the whitespace-normalized original exactly — including a tail
    paragraph shorter than the window."""
    from rusty_timeseries_db_spark.operators.dedup import (
        duplicated_paragraph_removal,
    )

    df = spark.createDataFrame(
        [(1, "One  two THREE four five six seven")],  # 7 toks, W=3
        "doc_id long, text string",
    )
    row = duplicated_paragraph_removal(df, window_tokens=3).collect()[0]
    assert row.clean_text == "one two three four five six seven"
    assert (row.n_paras, row.n_removed) == (3, 0)


def test_paragraph_dedup_testdata_nontrivial(spark):
    """The synthetic corpus carries real cross-doc duplication at
    W=20 (same signal q_duplicate_spans sees), and removal only ever
    shrinks: n_removed >= 0, kept tokens <= original tokens."""
    from rusty_timeseries_db_spark.operators.dedup import (
        duplicated_paragraph_removal,
    )

    d = T(spark, SF_DIR, "documents")
    out = duplicated_paragraph_removal(d, window_tokens=20)
    agg = out.agg(
        F.sum("n_removed").alias("removed"),
        F.count(F.lit(1)).alias("docs"),
        F.min("n_removed").alias("min_removed"),
    ).collect()[0]
    assert agg.docs == d.count()  # one row per input doc, always
    assert agg.removed > 0
    assert agg.min_removed >= 0


# ------------------------------------------- DSIR importance weights

def test_dsir_separates_target_like_raw_docs(spark):
    """A raw doc written in the target's bigram distribution must
    outscore a raw doc written in a disjoint distribution — the whole
    point of the importance weight."""
    from rusty_timeseries_db_spark.operators.sampling import dsir_weights

    rows = [(i, "x y x y x y x y", True) for i in range(3)]
    rows += [(10, "x y x y x y", False), (11, "a b a b a b", False)]
    df = spark.createDataFrame(rows, "doc_id long, text string, is_t boolean")
    w = {
        r.doc_id: r.dsir_weight
        for r in dsir_weights(
            df, id_col="doc_id", text_col="text", target_col="is_t"
        ).collect()
    }
    assert w[10] > w[11]


def test_dsir_zero_bigram_doc(spark):
    """Docs too short for any bigram get weight 0 and n_bigrams 0 but
    still appear in the output (one row per input doc)."""
    from rusty_timeseries_db_spark.operators.sampling import dsir_weights

    df = spark.createDataFrame(
        [(1, "lonely", False), (2, "two tokens here", True)],
        "doc_id long, text string, is_t boolean",
    )
    out = {r.doc_id: r for r in dsir_weights(
        df, id_col="doc_id", text_col="text", target_col="is_t"
    ).collect()}
    assert out[1].n_bigrams == 0 and out[1].dsir_weight == 0.0
    assert out[2].n_bigrams == 2


def test_dsir_testdata_target_scores_higher(spark):
    """On the synthetic corpus with source='src0' as target, target
    docs' mean weight exceeds the raw pool's (they ARE the target
    distribution)."""
    from rusty_timeseries_db_spark.operators.sampling import dsir_weights

    d = T(spark, SF_DIR, "documents").withColumn(
        "is_t", F.col("source") == "src0"
    )
    out = dsir_weights(d, id_col="doc_id", text_col="text", target_col="is_t")
    m = (
        out.groupBy("is_target")
        .agg(F.avg("dsir_weight").alias("mw"))
        .collect()
    )
    means = {r.is_target: r.mw for r in m}
    assert means[True] > means[False]


def test_dsir_select_gumbel_topk(spark):
    """Gumbel-top-k selection: k rows come back, the set is
    deterministic and partitioning-independent, a different seed
    draws a different sample, and an overwhelming weight is always
    selected (Gumbel noise is O(1); a huge log-weight dominates)."""
    from rusty_timeseries_db_spark.operators.sampling import dsir_select

    rows = [(i, float(-i % 7)) for i in range(200)] + [(999, 1e6)]
    df = spark.createDataFrame(rows, "doc_id long, dsir_weight double")
    a = dsir_select(df, id_col="doc_id", k=20, seed="s1")
    b = dsir_select(df.repartition(13), id_col="doc_id", k=20, seed="s1")
    ids_a = sorted(r.doc_id for r in a.collect())
    ids_b = sorted(r.doc_id for r in b.collect())
    assert len(ids_a) == 20 and ids_a == ids_b
    assert 999 in ids_a
    c = sorted(
        r.doc_id
        for r in dsir_select(df, id_col="doc_id", k=20, seed="s2").collect()
    )
    assert c != ids_a  # seed moves the sample
    assert 999 in c    # ...but never the dominating weight


def test_dsir_select_temperature_flattens(spark):
    """At a huge temperature the weight term vanishes and selection is
    pure (seeded) Gumbel order — identical for ANY weight vector; at
    tiny temperature it is argmax-by-weight."""
    from rusty_timeseries_db_spark.operators.sampling import dsir_select

    w1 = spark.createDataFrame(
        [(i, float(i)) for i in range(50)], "doc_id long, dsir_weight double"
    )
    w2 = spark.createDataFrame(
        [(i, float(-i)) for i in range(50)], "doc_id long, dsir_weight double"
    )
    hot = lambda d: sorted(  # noqa: E731
        r.doc_id
        for r in dsir_select(d, id_col="doc_id", k=10, temperature=1e12).collect()
    )
    assert hot(w1) == hot(w2)
    cold = dsir_select(w1, id_col="doc_id", k=3, temperature=1e-9).collect()
    assert sorted(r.doc_id for r in cold) == [47, 48, 49]


# ------------------------------------ span removal rewrite

def test_remove_duplicate_spans_keeps_canonical(spark):
    """The lowest-id document keeps the span; every other holder is
    cut; untouched docs round-trip to word_tokens' normal form."""
    from rusty_timeseries_db_spark.operators.dedup import (
        duplicate_spans,
        remove_duplicate_spans,
    )

    common = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    df = spark.createDataFrame(
        [
            (1, "unique one two three " + common + " tail here"),
            (2, "start " + common + " other words follow now ok"),
            (3, common + " totally different ending text here"),
            (4, "no duplicated content at all in this doc"),
        ],
        "doc_id long, text string",
    )
    spans = duplicate_spans(df, k=5, min_span_tokens=8, max_gram_df=50)
    out = {
        r.doc_id: r
        for r in remove_duplicate_spans(df, spans).collect()
    }
    assert common in out[1].clean_text and out[1].n_tokens_removed == 0
    assert "alpha" not in out[2].clean_text
    assert out[2].clean_text == "start other words follow now ok"
    assert out[2].n_tokens_removed == 10 and out[2].n_spans == 1
    assert out[3].clean_text == "totally different ending text here"
    assert out[4].n_tokens_removed == 0 and out[4].n_spans == 0


def test_remove_duplicate_spans_merges_overlapping_intervals(spark):
    """Two spans from DIFFERENT partners overlapping in one doc merge
    into a single removal interval — tokens are never double-counted
    and the splice is contiguous."""
    from rusty_timeseries_db_spark.operators.dedup import (
        remove_duplicate_spans,
    )

    df = spark.createDataFrame(
        [(9, "t0 t1 t2 t3 t4 t5 t6 t7 t8 t9")],
        "doc_id long, text string",
    )
    spans = spark.createDataFrame(
        # [2,7) from partner 1, [5,9) from partner 2 -> merged [2,9)
        [(1, 9, 0, 2, 5), (2, 9, 0, 5, 4)],
        "id_a long, id_b long, start_a int, start_b int, "
        "span_tokens long",
    )
    r = remove_duplicate_spans(df, spans).collect()[0]
    assert r.clean_text == "t0 t1 t9"
    assert r.n_tokens_removed == 7
    assert r.n_spans == 1


def test_remove_duplicate_spans_idempotent(spark):
    """Rewriting twice equals rewriting once: the cleaned corpus
    reports no spans, and a second removal pass is the identity."""
    from rusty_timeseries_db_spark.operators.dedup import (
        duplicate_spans,
        remove_duplicate_spans,
    )
    from pyspark.sql import functions as F

    common = (
        "one two three four five six seven eight nine ten "
        "eleven twelve"
    )
    df = spark.createDataFrame(
        [
            (1, "intro " + common + " outro words distinct a"),
            (2, "other " + common + " closing words distinct b"),
            (3, common + " and a third holder of the span"),
        ],
        "doc_id long, text string",
    )

    def clean(frame):
        spans = duplicate_spans(
            frame, k=5, min_span_tokens=8, max_gram_df=50
        )
        return remove_duplicate_spans(frame, spans).select(
            "doc_id", F.col("clean_text").alias("text")
        )

    once = clean(df)
    twice = clean(once)
    assert {tuple(r) for r in once.collect()} == {
        tuple(r) for r in twice.collect()
    }


# ------------------------------------------- BM25 retrieval

def test_bm25_rare_term_outranks_common(spark):
    """A doc matching the RARE query term scores above docs matching
    only the ubiquitous one (idf); more matched terms beat fewer at
    comparable tf; non-matching docs return no row."""
    from rusty_timeseries_db_spark.operators.retrieval import bm25_topk

    rows = [(i, "common filler words appear here often") for i in range(8)]
    rows += [
        (100, "common words plus the rare zebra appears once"),
        (101, "zebra zebra zebra dense rare doc"),
        (102, "totally unrelated content nothing matches"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = bm25_topk(df, ["common", "zebra"], k=20)
    got = {r.doc_id: r for r in out.collect()}
    assert 102 not in got
    assert got[100].n_terms_hit == 2
    # rare-term docs rank above common-only docs
    common_only_best = max(got[i].bm25 for i in range(8))
    assert got[101].bm25 > common_only_best
    assert got[100].bm25 > common_only_best


def test_bm25_length_normalization_and_determinism(spark):
    """Same tf in a shorter doc scores higher (b-normalization); the
    top-k SET and order are stable across runs."""
    from rusty_timeseries_db_spark.operators.retrieval import bm25_topk

    df = spark.createDataFrame(
        [
            (1, "target word short"),
            (2, "target word inside a much longer document with many "
                "extra tokens diluting the match strength overall"),
            (3, "no match at all here"),
        ],
        "doc_id long, text string",
    )
    out = bm25_topk(df, ["target"], k=10)
    rows = out.collect()
    assert [r.doc_id for r in rows][:2] == [1, 2]
    assert rows[0].bm25 > rows[1].bm25
    again = bm25_topk(df, ["target"], k=10).collect()
    assert [tuple(r) for r in rows] == [tuple(r) for r in again]


def test_bm25_empty_query_raises(spark):
    import pytest

    from rusty_timeseries_db_spark.operators.retrieval import bm25_topk

    df = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    with pytest.raises(ValueError, match="non-empty"):
        bm25_topk(df, [])


# -------------------------------- span decontamination

def test_cross_duplicate_spans_sides_and_id_collisions(spark):
    """Cross-corpus spans pair (a-side, b-side) only — identical ids
    in the two frames are DIFFERENT documents and never suppress a
    match; within-side duplicates are not reported."""
    from rusty_timeseries_db_spark.operators.dedup import (
        cross_duplicate_spans,
    )

    leak = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    test = spark.createDataFrame(
        [(1, "eval question " + leak + " answer here")],
        "doc_id long, text string",
    )
    train = spark.createDataFrame(
        [
            (1, "train doc same id " + leak + " trailing words"),
            (2, leak + " another train holder of the leak"),
            (3, "clean train doc with no overlap at all"),
        ],
        "doc_id long, text string",
    )
    rows = cross_duplicate_spans(
        test, train, k=5, min_span_tokens=8, max_gram_df=50
    ).collect()
    got = {(r.id_a, r.id_b) for r in rows}
    # test doc 1 vs train docs 1 and 2 — including the id collision
    assert got == {(1, 1), (1, 2)}
    assert all(r.span_tokens == 10 for r in rows)


def test_span_decontamination_cuts_train_side_only(spark):
    from rusty_timeseries_db_spark.operators.dedup import (
        cross_duplicate_spans,
        remove_duplicate_spans,
    )

    leak = "one two three four five six seven eight nine ten"
    test = spark.createDataFrame(
        [(100, "held out " + leak + " eval tail")],
        "doc_id long, text string",
    )
    train = spark.createDataFrame(
        [
            (1, "intro " + leak + " outro"),
            (2, "untouched training document stays whole"),
        ],
        "doc_id long, text string",
    )
    spans = cross_duplicate_spans(
        test, train, k=5, min_span_tokens=8, max_gram_df=50
    )
    out = {r.doc_id: r for r in
           remove_duplicate_spans(train, spans).collect()}
    assert out[1].clean_text == "intro outro"
    assert out[1].n_tokens_removed == 10
    assert out[2].n_tokens_removed == 0
    # the held-out frame is never rewritten (only train rows return)
    assert set(out) == {1, 2}


# --------------------------------------- soft dedup weights

def test_soft_dedup_duplicated_doc_downweighted(spark):
    """A doc duplicated k times weighs ~1/k; unique docs weigh 1; the
    weight never exceeds 1."""
    from rusty_timeseries_db_spark.operators.dedup import (
        soft_dedup_weights,
    )

    dup = "this exact content repeats across several documents verbatim"
    rows = [(i, dup) for i in range(4)]
    # truly unique docs share NO 3-shingles: disjoint word sets
    rows += [
        (100 + i,
         " ".join(f"w{i}x{j}" for j in range(8)))
        for i in range(6)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in soft_dedup_weights(df).collect()}
    for i in range(4):
        assert abs(got[i].soft_weight - 0.25) < 1e-6      # 1/k, k=4
    for i in range(6):
        assert got[100 + i].soft_weight == 1.0
    assert all(r.soft_weight <= 1.0 for r in got.values())


def test_soft_dedup_boilerplate_partial_downweight(spark):
    """A doc that is half boilerplate lands strictly between the
    duplicated and unique extremes — the soft gradation hard dedup
    cannot express."""
    from rusty_timeseries_db_spark.operators.dedup import (
        soft_dedup_weights,
    )

    boiler = "standard footer text appears on every single page here"
    rows = [(i, f"unique body {i} content words {i * 7} " + boiler)
            for i in range(5)]
    rows.append((99, "totally unique document with no footer at all ok"))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in soft_dedup_weights(df).collect()}
    assert got[99].soft_weight == 1.0
    for i in range(5):
        assert 1 / 5 < got[i].soft_weight < 1.0


def test_bigram_surprisal_semantics(spark):
    """Gibberish (unique transitions) scores a higher mean
    inverse conditional probability and rare fraction than text made
    of the corpus's dominant transitions; 1-token docs drop."""
    from rusty_timeseries_db_spark.operators.contamination import (
        bigram_surprisal,
    )

    common = "the cat sat on the mat"
    rows = [(i, common) for i in range(10)] + [
        (100, "zq xv wk jm pn bt"),   # transitions seen once
        (101, "solo"),                # 1 token -> excluded
        # ambiguous head: "the" continues two ways -> inv_cp > 1
        (102, "the dog sat on the mat"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in bigram_surprisal(df).collect()}
    assert 101 not in out
    # hand-computed: c1("the")=22, "the cat" c12=10 -> 2.2;
    # "the dog"=1 -> 22; "the mat"=11 -> 2.0; "dog sat"=1 -> 1;
    # "cat sat" = c1("cat")/c12 = 10/10 -> 1.0;
    # "sat on"/"on the" = 11/11 -> 1.0 each
    assert out[0].n_bigrams == 5
    assert out[0].mean_inv_cond_prob == round(
        (2.2 + 1.0 + 1.0 + 1.0 + 2.0) / 5, 6
    )
    assert out[102].mean_inv_cond_prob == round(
        (22.0 + 1.0 + 1.0 + 1.0 + 2.0) / 5, 6
    )
    # inverse CONDITIONAL probability: unique heads give p(w2|w1)=1 —
    # the gibberish doc's novelty shows in rare_bigram_frac instead
    assert out[100].mean_inv_cond_prob == 1.0
    assert out[100].rare_bigram_frac == 1.0
    assert out[0].rare_bigram_frac == 0.0
    # the rare-transition doc ("the dog", "dog sat") flags partially
    assert out[102].rare_bigram_frac == round(2 / 5, 6)


def test_word_dispersion_extremes(spark):
    """Gries' DP: a word spread exactly like the corpus scores 0; a
    word clumped in one source scores 1 - that source's share."""
    from rusty_timeseries_db_spark.queries import (
        all_queries,  # noqa: F401 — ensures registry imports cleanly
    )
    from pyspark.sql import functions as F
    from rusty_timeseries_db_spark.operators.dedup import word_tokens
    from rusty_timeseries_db_spark.queries import attach_scalar
    from rusty_timeseries_db_spark.operators.topk import topk

    # two sources, equal sizes; "even" appears once per source,
    # "clump" twice in s1 only; filler balances sizes
    docs = spark.createDataFrame(
        [
            ("s1", "even clump clump f1"),
            ("s2", "even f2 f3 f4"),
        ],
        "source string, text string",
    )
    toks = docs.select("source", F.explode(word_tokens("text")).alias("w"))
    per_sw = toks.groupBy("source", "w").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    word_tot = per_sw.groupBy("w").agg(F.sum("c").cast("long").alias("cw"))
    src_tot = per_sw.groupBy("source").agg(
        F.sum("c").cast("long").alias("cs")
    )
    corpus = src_tot.agg(F.sum("cs").cast("long").alias("n"))
    top = topk(word_tot, order=[F.col("cw").desc(), F.col("w")], k=10)
    grid = (
        top.crossJoin(src_tot)
        .join(per_sw, on=["w", "source"], how="left")
        .withColumn("c", F.coalesce(F.col("c"), F.lit(0)))
    )
    got = {
        r.w: r.dp
        for r in attach_scalar(grid, corpus)
        .groupBy("w")
        .agg(
            F.round(
                0.5
                * F.sum(
                    F.abs(
                        F.col("c").cast("double") / F.col("cw")
                        - F.col("cs").cast("double") / F.col("n")
                    )
                ),
                6,
            ).alias("dp")
        )
        .collect()
    }
    assert got["even"] == 0.0          # spread exactly like the corpus
    assert got["clump"] == 0.5         # all mass in s1, which is 1/2
