"""fastText-style linear quality gate (operators/quality.py):
hand-computed scores on tiny docs, the empty-document bias contract,
the quantized-score keep boundary, missing-bucket zero weights, the
deterministic weight stand-in, and the opt-in pipeline stage (CCNet
ordering, default off). Oracle parity at 3 SFs rides
q_quality_classifier."""

from __future__ import annotations

import hashlib
import math

import pytest
from pyspark.sql import functions as F

from rusty_timeseries_db_spark.operators.quality import (
    WEIGHT_SCALE,
    hashed_linear_weights,
    quality_classifier_score,
)

N_BUCKETS = 4096


def _bucket(feat: str) -> int:
    return int(hashlib.md5(feat.encode()).hexdigest()[:8], 16) % N_BUCKETS


def _feats(text: str) -> list[str]:
    ws = [t for t in text.lower().split(" ") if t]
    grams = [f"{a} {b}" for a, b in zip(ws, ws[1:])] if len(ws) >= 2 else []
    return ws + grams


def _py_score(text: str, wmap: dict[int, int], bias_micro: int = 0) -> float:
    fs = _feats(text)
    if not fs:
        return round(1.0 / (1.0 + math.exp(-bias_micro / WEIGHT_SCALE)), 9)
    dot = sum(wmap.get(_bucket(f), 0) for f in fs)
    logit = (dot + bias_micro * len(fs)) / (len(fs) * WEIGHT_SCALE)
    return round(1.0 / (1.0 + math.exp(-logit)), 9)


DOCS = [
    (1, "good clean prose flows here"),
    (2, "spam spam spam spam"),
    (3, "a"),          # single token: no bigrams
    (4, ""),           # no tokens at all: bias-only score
]


def _weights_df(spark, wmap):
    return spark.createDataFrame(
        [(b, w) for b, w in wmap.items()], "bucket long, weight_micro long"
    )


def test_hand_computed_scores_and_gate(spark):
    # weights chosen by FEATURE so doc 1 scores high, doc 2 low
    wmap = {}
    for f in _feats(DOCS[0][1]):
        wmap[_bucket(f)] = 800_000
    for f in _feats(DOCS[1][1]):
        wmap[_bucket(f)] = -900_000
    df = spark.createDataFrame(DOCS, "doc_id int, text string")
    got = {
        r.doc_id: r
        for r in quality_classifier_score(
            df, "doc_id", "text", _weights_df(spark, wmap),
            n_buckets=N_BUCKETS,
        ).collect()
    }
    assert set(got) == {1, 2, 3, 4}
    for doc_id, text in DOCS:
        want = _py_score(text, wmap)
        assert abs(got[doc_id].quality_score - want) <= 1e-9, (doc_id, text)
        assert got[doc_id].keep == (got[doc_id].quality_score >= 0.5)
    assert got[1].keep and not got[2].keep
    # feature accounting: n tokens + max(n-1, 0) bigrams
    assert got[1].n_feats == 5 + 4
    assert got[3].n_feats == 1  # no bigram from a 1-token doc
    assert got[4].n_feats == 0 and got[4].quality_score == 0.5


def test_empty_doc_scores_bias_alone(spark):
    df = spark.createDataFrame([(4, "")], "doc_id int, text string")
    row = quality_classifier_score(
        df, "doc_id", "text", _weights_df(spark, {0: 1}),
        n_buckets=N_BUCKETS, bias_micro=2_000_000,
    ).collect()[0]
    assert row.quality_score == round(1 / (1 + math.exp(-2.0)), 9)
    assert row.keep


def test_missing_buckets_weigh_zero(spark):
    # an empty weight table: every doc's dot is 0 -> sigmoid(0) = 0.5
    df = spark.createDataFrame(DOCS[:2], "doc_id int, text string")
    got = quality_classifier_score(
        df, "doc_id", "text",
        _weights_df(spark, {N_BUCKETS - 1: 123}), n_buckets=N_BUCKETS,
    ).collect()
    assert all(r.quality_score == 0.5 and r.keep for r in got)


def test_weight_standin_deterministic_and_bounded(spark):
    w = hashed_linear_weights(spark, n_buckets=64, salt="qw").collect()
    assert len(w) == 64
    assert all(abs(r.weight_micro) <= WEIGHT_SCALE for r in w)
    again = hashed_linear_weights(spark, n_buckets=64, salt="qw").collect()
    assert sorted(map(tuple, w)) == sorted(map(tuple, again))
    other = {
        r.bucket: r.weight_micro
        for r in hashed_linear_weights(spark, 64, salt="zz").collect()
    }
    assert any(other[r.bucket] != r.weight_micro for r in w)


def test_pipeline_quality_gate_optional_stage(spark):
    from rusty_timeseries_db_spark.pipelines import (
        CorpusPipelineConfig,
        build_training_corpus,
    )
    from rusty_timeseries_db_spark.queries import T
    from tests.conftest import SF_DIR

    docs = T(spark, SF_DIR, "documents")
    weights = hashed_linear_weights(spark, n_buckets=1024, salt="qw")
    scored = quality_classifier_score(
        docs, "doc_id", "text", weights, n_buckets=1024,
    )
    # pick the median score as threshold so the gate genuinely splits
    thr = scored.approxQuantile("quality_score", [0.5], 0.0)[0]
    kept_ids = {
        r.doc_id
        for r in scored.filter(F.col("quality_score") >= thr).collect()
    }
    assert 0 < len(kept_ids) < scored.count()

    base_cfg = CorpusPipelineConfig(min_tokens=1, near_dup_threshold=0.99)
    gated_cfg = CorpusPipelineConfig(
        min_tokens=1, near_dup_threshold=0.99,
        quality_weights=weights, quality_threshold=thr,
        quality_n_buckets=1024,
    )
    base = build_training_corpus(docs, base_cfg)
    gated = build_training_corpus(docs, gated_cfg)
    got_ids = {r.doc_id for r in gated.select("doc_id").collect()}
    # every survivor passed the gate, and the gate actually dropped
    # docs the ungated pipeline kept
    assert got_ids <= kept_ids
    base_ids = {r.doc_id for r in base.select("doc_id").collect()}
    assert (base_ids - kept_ids) & base_ids  # some base docs score low
    assert got_ids <= base_ids
    # default-off: the documented pipeline is untouched
    assert base_ids == {
        r.doc_id
        for r in build_training_corpus(docs, base_cfg).collect()
    }


def test_trained_weights_separate_the_classes(spark):
    """Naive-Bayes log-odds training on a toy labeled corpus: docs
    from the positive vocabulary score > 0.5, negative-vocabulary
    docs < 0.5, and a vocabulary-disjoint doc sits at the smoothed
    prior; the trained table is model-sized (one row per bucket)."""
    from rusty_timeseries_db_spark.operators.quality import (
        train_quality_weights,
    )

    rows = [
        (1, "good clean prose flows here", True),
        (2, "good clean text reads well", True),
        (3, "spam junk noise garbage spam", False),
        (4, "junk noise spam garbage junk", False),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string, pos boolean")
    w = train_quality_weights(
        df, text_col="text", label_col="pos", n_buckets=512,
    )
    assert w.count() == 512  # full spine, absent buckets included
    wmap = {r.bucket: r.weight_micro for r in w.collect()}
    # positive-vocab features weigh positive, negative-vocab negative
    assert wmap[_feat_bucket("good", 512)] > 0
    assert wmap[_feat_bucket("spam", 512)] < 0

    scored = {
        r.doc_id: r
        for r in quality_classifier_score(
            df, "doc_id", "text", w, n_buckets=512,
        ).collect()
    }
    assert scored[1].quality_score > 0.5 and scored[1].keep
    assert scored[2].quality_score > 0.5 and scored[2].keep
    assert scored[3].quality_score < 0.5 and not scored[3].keep
    assert scored[4].quality_score < 0.5 and not scored[4].keep


def _feat_bucket(feat: str, n_buckets: int) -> int:
    return int(hashlib.md5(feat.encode()).hexdigest()[:8], 16) % n_buckets


def test_binary_auc_hand_computed_with_ties(spark):
    from rusty_timeseries_db_spark.operators.quality import binary_auc

    rows = [
        ("g", 0.9, True), ("g", 0.7, True), ("g", 0.5, True),
        ("g", 0.5, False), ("g", 0.3, False),
        # a second group, perfectly separated -> AUC exactly 1.0
        ("h", 0.8, True), ("h", 0.2, False),
        # degenerate: one class only -> NULL auc, not a 0/0 abort
        ("k", 0.6, True), ("k", 0.4, True),
    ]
    df = spark.createDataFrame(rows, "lang string, s double, pos boolean")
    got = {
        r.lang: r
        for r in binary_auc(df, "s", "pos", group_col="lang").collect()
    }
    # pairs: 0.9 and 0.7 beat both negs; 0.5 beats 0.3 and ties 0.5
    # -> (2 + 2 + 1.5) / 6
    assert got["g"].auc == round(5.5 / 6, 9)
    assert (got["g"].n_pos, got["g"].n_neg) == (3, 2)
    assert got["h"].auc == 1.0
    assert got["k"].auc is None
    # ungrouped form over the same rows (documented global-sort shape)
    whole = binary_auc(df, "s", "pos").collect()[0]
    assert (whole.n_pos, whole.n_neg) == (6, 3)


def test_per_group_heads_equal_solo_training(spark):
    """train_quality_weights(group_col=)
    produces, for every group, EXACTLY the table the ungrouped
    trainer produces on that group's rows alone — counts, spine,
    smoothing totals, and quantization all carry the group key."""
    from pyspark.sql import functions as F

    from rusty_timeseries_db_spark.operators.quality import (
        train_quality_weights,
    )

    rows = [
        ("d1", "en", True, "good clean prose here"),
        ("d2", "en", False, "spam spam buy now"),
        ("d3", "fr", True, "spam spam buy now"),
        ("d4", "fr", False, "good clean prose here and more"),
    ]
    df = spark.createDataFrame(
        rows, "doc_id string, lang string, pos boolean, text string"
    )
    grouped = train_quality_weights(
        df, "text", "pos", n_buckets=64, group_col="lang"
    )
    for lang in ("en", "fr"):
        solo = {
            r.bucket: r.weight_micro
            for r in train_quality_weights(
                df.filter(F.col("lang") == lang), "text", "pos",
                n_buckets=64,
            ).collect()
        }
        via_group = {
            r.bucket: r.weight_micro
            for r in grouped.filter(F.col("lang") == lang).collect()
        }
        assert solo == via_group and len(solo) == 64


def test_per_group_heads_separate_where_global_cannot(spark):
    """The same text carries OPPOSITE labels in two languages: the
    per-lang heads score it on opposite sides of the gate, which one
    global weight table provably cannot do (a single w[f] gives one
    sign per bucket)."""
    from rusty_timeseries_db_spark.operators.quality import (
        quality_classifier_score,
        train_quality_weights,
    )

    rows = [
        ("d1", "en", True, "good clean prose here"),
        ("d2", "en", False, "spam spam buy now"),
        ("d3", "fr", True, "spam spam buy now"),
        ("d4", "fr", False, "good clean prose here"),
    ]
    df = spark.createDataFrame(
        rows, "doc_id string, lang string, pos boolean, text string"
    )
    w = train_quality_weights(
        df, "text", "pos", n_buckets=64, group_col="lang"
    )
    got = {
        r.doc_id: r
        for r in quality_classifier_score(
            df, "doc_id", "text", w, n_buckets=64, group_col="lang"
        ).collect()
    }
    # identical feature multiset, opposite per-lang verdicts — and
    # exactly mirrored scores (the heads are label-swapped twins)
    assert got["d2"].quality_score < 0.5 < got["d3"].quality_score
    assert not got["d2"].keep and got["d3"].keep
    assert got["d4"].quality_score < 0.5 < got["d1"].quality_score
    # a global table scores equal text equally — pin the contrast
    wg = train_quality_weights(df, "text", "pos", n_buckets=64)
    flat = {
        r.doc_id: r.quality_score
        for r in quality_classifier_score(
            df, "doc_id", "text", wg, n_buckets=64
        ).collect()
    }
    assert flat["d2"] == flat["d3"]  # same text, same global score


def test_unseen_group_scores_at_bias(spark):
    """A document whose group has no trained head joins nothing:
    every feature weighs 0, so the score lands at the bias sigmoid
    (0.5) — the documented absent-bucket rule, not a crash."""
    from rusty_timeseries_db_spark.operators.quality import (
        quality_classifier_score,
        train_quality_weights,
    )

    train = spark.createDataFrame(
        [("d1", "en", True, "alpha beta"), ("d2", "en", False, "gamma")],
        "doc_id string, lang string, pos boolean, text string",
    )
    w = train_quality_weights(
        train, "text", "pos", n_buckets=32, group_col="lang"
    )
    score = spark.createDataFrame(
        [("x1", "de", "alpha beta gamma")],
        "doc_id string, lang string, text string",
    )
    row = quality_classifier_score(
        score, "doc_id", "text", w, n_buckets=32, group_col="lang"
    ).collect()[0]
    assert row.quality_score == 0.5 and row.n_feats == 5


# ---------------------------------------------------------------------------
# Multi-class head
# ---------------------------------------------------------------------------


def _mc_docs(spark):
    rows = [
        (0, "code", "def parse tokens into ast nodes"),
        (1, "code", "parse ast nodes def tokens compile"),
        (2, "code", "compile tokens ast def parse"),
        (3, "news", "market rally lifts shares today"),
        (4, "news", "shares slip as market rally fades"),
        (5, "news", "market shares rally again today"),
        (6, "chat", "lol ok brb see you soon"),
        (7, "chat", "ok lol soon brb see you"),
    ]
    return spark.createDataFrame(rows, "doc_id long, cls string, text string")


def test_multiclass_rows_equal_one_vs_rest_binary(spark):
    """Each class's weight rows are EXACTLY train_quality_weights on
    the binary label class==c — the one-vs-rest identity that makes
    the k-pass and one-pass trainings interchangeable."""
    from rusty_timeseries_db_spark.operators.quality import (
        train_multiclass_weights, train_quality_weights,
    )

    d = _mc_docs(spark)
    multi = train_multiclass_weights(
        d, text_col="text", class_col="cls", n_buckets=64
    )
    got = {
        (r.cls, r.bucket): r.weight_micro for r in multi.collect()
    }
    assert len(got) == 3 * 64
    for c in ("code", "news", "chat"):
        solo = {
            r.bucket: r.weight_micro
            for r in train_quality_weights(
                d.withColumn("_pos", F.col("cls") == c),
                text_col="text", label_col="_pos", n_buckets=64,
            ).collect()
        }
        assert {b: got[(c, b)] for _, b in
                [(c, b) for b in range(64)]} == solo, c


def test_multiclass_routes_and_calibrates(spark):
    """Held-in docs route to their own class; the probabilities are
    a softmax (sum to ~1 across classes is implicit — the winner's
    prob exceeds 1/k); ties in logit break to the smallest class
    name."""
    from rusty_timeseries_db_spark.operators.quality import (
        multiclass_classify, train_multiclass_weights,
    )

    d = _mc_docs(spark)
    w = train_multiclass_weights(
        d, text_col="text", class_col="cls", n_buckets=64
    )
    out = {
        r.doc_id: r
        for r in multiclass_classify(
            d, id_col="doc_id", text_col="text", weights=w,
            class_col="cls", n_buckets=64,
        ).collect()
    }
    truth = {0: "code", 1: "code", 2: "code", 3: "news", 4: "news",
             5: "news", 6: "chat", 7: "chat"}
    for doc, cls in truth.items():
        assert out[doc].pred_class == cls, (doc, out[doc])
        assert out[doc].prob > 1 / 3
        assert out[doc].n_feats > 0


def test_multiclass_separates_where_binary_cannot(spark):
    """The acceptance example: a binary gate trained
    positive='code' REJECTS both a news doc and a chat doc — it
    cannot tell them apart — while the k-class head routes each to
    its own class."""
    from rusty_timeseries_db_spark.operators.quality import (
        multiclass_classify, quality_classifier_score,
        train_multiclass_weights, train_quality_weights,
    )

    d = _mc_docs(spark)
    probe = spark.createDataFrame(
        [(100, "market shares rally"), (101, "lol brb see you")],
        "doc_id long, text string",
    )
    wb = train_quality_weights(
        d.withColumn("_pos", F.col("cls") == "code"),
        text_col="text", label_col="_pos", n_buckets=64,
    )
    binary = {
        r.doc_id: r.keep
        for r in quality_classifier_score(
            probe, id_col="doc_id", text_col="text", weights=wb,
            n_buckets=64,
        ).collect()
    }
    # the binary gate's whole answer: both are 'not code'
    assert binary == {100: False, 101: False}
    wm = train_multiclass_weights(
        d, text_col="text", class_col="cls", n_buckets=64
    )
    multi = {
        r.doc_id: r.pred_class
        for r in multiclass_classify(
            probe, id_col="doc_id", text_col="text", weights=wm,
            class_col="cls", n_buckets=64,
        ).collect()
    }
    assert multi == {100: "news", 101: "chat"}


def test_multiclass_empty_doc_routes_on_priors(spark):
    """A featureless document classifies on the document-count
    priors alone: the majority class wins; ties break to the
    lexicographically smallest name."""
    from rusty_timeseries_db_spark.operators.quality import (
        multiclass_classify, train_multiclass_weights,
    )

    rows = [(i, "big", f"alpha beta w{i}") for i in range(4)] + [
        (9, "small", "gamma delta"),
    ]
    d = spark.createDataFrame(rows, "doc_id long, cls string, text string")
    w = train_multiclass_weights(
        d, text_col="text", class_col="cls", n_buckets=32
    )
    probe = spark.createDataFrame([(50, "")], "doc_id long, text string")
    (row,) = multiclass_classify(
        probe, id_col="doc_id", text_col="text", weights=w,
        class_col="cls", n_buckets=32,
    ).collect()
    assert row.pred_class == "big" and row.n_feats == 0
    # equal priors: the smallest class name wins the tie
    d2 = spark.createDataFrame(
        [(0, "zz", "alpha"), (1, "aa", "beta")],
        "doc_id long, cls string, text string",
    )
    w2 = train_multiclass_weights(
        d2, text_col="text", class_col="cls", n_buckets=32
    )
    (row2,) = multiclass_classify(
        probe, id_col="doc_id", text_col="text", weights=w2,
        class_col="cls", n_buckets=32,
    ).collect()
    assert row2.pred_class == "aa"


def test_multiclass_python_reference_probs(spark):
    """Softmax probabilities match a pure-python replay of the exact
    quantization pipeline (12dp logits, max-shift, 12dp exp, 9dp
    ratio)."""
    from rusty_timeseries_db_spark.operators.quality import (
        multiclass_classify, train_multiclass_weights,
    )

    d = _mc_docs(spark)
    nb = 64
    w = train_multiclass_weights(
        d, text_col="text", class_col="cls", n_buckets=nb
    )
    wrows = w.collect()
    wmap = {(r.cls, r.bucket): r.weight_micro for r in wrows}
    bias = {r.cls: r.bias_micro for r in wrows}
    out = {
        r.doc_id: r
        for r in multiclass_classify(
            d, id_col="doc_id", text_col="text", weights=w,
            class_col="cls", n_buckets=nb,
        ).collect()
    }
    from decimal import Decimal

    for doc_id, _, text in _mc_docs(spark).collect():
        fs = _feats(text)
        buckets = [
            int(hashlib.md5(f.encode()).hexdigest()[:8], 16) % nb
            for f in fs
        ]
        logits = {}
        for c in ("chat", "code", "news"):
            dot = sum(wmap[(c, b)] for b in buckets)
            nf = len(fs)
            logits[c] = round(
                (bias[c] * nf + dot) / (nf * WEIGHT_SCALE), 12
            )
        m = max(logits.values())
        z = {
            c: Decimal(str(round(math.exp(v - m), 12)))
            for c, v in logits.items()
        }
        zs = sum(z.values())
        best = max(logits.values())
        pred = sorted(c for c, v in logits.items() if v == best)[0]
        assert out[doc_id].pred_class == pred
        assert out[doc_id].prob == round(float(z[pred] / zs), 9)
