"""Train/test contamination detection — the word-n-gram overlap check
an LLM eval pipeline runs before trusting a benchmark number: how much
of each *test* document's shingle set already appears anywhere in the
*training* corpus. The reference has no text surface at all
(main.rs:92-406 is numeric telemetry); this extends the repo's
LLM-data-pipeline family (dedup, quality scoring, sampling) with the
cross-corpus leakage side of dedup.

Spark-first shape, and why it survives 100 TB:

- Shingling is the zero-shuffle ``word_shingles`` HOF pipeline from
  :mod:`.dedup` — per-row ``transform``/``slice``/``array_distinct``
  inside codegen; nothing leaves the JVM.
- The train side collapses to its DISTINCT shingle set FIRST (one
  hash aggregate keyed on the shingle, map-side partial combine), so
  the join's build input is ``|unique train shingles|`` rows of one
  string column — never the full exploded train stream.
- The hit test is a single shingle-keyed LEFT equi-join (test side
  exploded), then one per-doc aggregate. Both shuffles key on the
  shingle / doc id — no all-pairs step anywhere, the same
  inverted-index shape as ``ngram_jaccard_pairs``. For a petabyte
  train corpus, swap the join key for ``xxhash64(gram)`` (8-byte
  shuffle rows, the MinHash family's trick) — kept as the raw string
  here so the whole operator stays DuckDB-oracle-checkable.
- ``flagged`` uses an IEEE double compare mirrored verbatim in the
  oracle SQL, so the boolean hash-matches too.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dedup import word_shingles, word_tokens


def ngram_contamination(
    test: DataFrame,
    train: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
    flag_threshold: float = 0.5,
) -> DataFrame:
    """Per-test-document contamination report against ``train``.

    Returns one row per ``test`` document: ``(id_col, n_grams,
    n_hit, contamination, flagged)`` where ``contamination`` is the
    fraction of the document's DISTINCT word ``n``-grams that occur
    anywhere in ``train``, and ``flagged`` is
    ``contamination >= flag_threshold``.

    Documents shorter than ``n`` words contribute their single
    truncated shingle (the ``word_shingles`` convention), so every
    test doc with at least one token gets a row.
    """
    test_grams = test.select(
        F.col(id_col),
        F.explode(word_shingles(word_tokens(text_col), k=n)).alias("gram"),
    )
    # reduce the big side before shuffling it: only train grams that
    # ALSO occur in the test set can ever hit, so the train stream is
    # semi-joined against the test gram set BEFORE the corpus-sized
    # distinct aggregate — output-invariant (the left join below
    # scores exactly the same test grams), and the train-side shuffle
    # shrinks from |unique train shingles| to |matching shingles|. No
    # broadcast hint: the join strategy is left to
    # ``autoBroadcastJoinThreshold`` and AQE, so an eval set larger
    # than the threshold shuffles instead of flooding every executor.
    test_gram_set = test.select(
        F.explode(word_shingles(word_tokens(text_col), k=n)).alias("gram")
    ).distinct()
    train_grams = (
        train.select(
            F.explode(word_shingles(word_tokens(text_col), k=n)).alias("gram")
        )
        .join(test_gram_set, "gram", "left_semi")
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    joined = test_grams.join(train_grams, "gram", "left")
    report = joined.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_grams"),
        F.count("_hit").alias("n_hit"),
    )
    frac = F.col("n_hit").cast("double") / F.col("n_grams")
    return report.select(
        id_col,
        "n_grams",
        "n_hit",
        F.round(frac, 6).alias("contamination"),
        (frac >= F.lit(float(flag_threshold))).alias("flagged"),
    )


def boilerplate_grams(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
    min_df: int = 10,
) -> DataFrame:
    """The corpus's boilerplate vocabulary: word ``n``-grams occurring
    in at least ``min_df`` distinct documents, with their document
    frequencies — ``(gram, gram_df)``. Headers, footers, license
    blurbs and navigation chrome surface here; span-level dedup
    (:func:`..dedup.duplicate_spans`) deliberately EXCLUDES these via
    its ``max_gram_df`` cap, so this is the report that covers what
    the cap skipped. One doc-distinct aggregate + one gram-keyed
    count — both combine map-side."""
    return (
        df.select(
            F.col(id_col),
            F.explode(word_shingles(word_tokens(text_col), k=n)).alias("gram"),
        )
        .groupBy("gram")
        .agg(F.count(F.lit(1)).alias("gram_df"))
        .filter(F.col("gram_df") >= min_df)
    )


def boilerplate_profile(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
    min_df: int = 10,
) -> DataFrame:
    """Per-document boilerplate saturation: what fraction of each
    doc's distinct ``n``-grams are corpus boilerplate (document
    frequency >= ``min_df``). Docs that are MOSTLY boilerplate
    (templated pages) score near 1.0 and are prime removal
    candidates that near-dup pipelines miss when the template is
    interleaved with unique snippets. Returns ``(id_col, n_grams,
    n_boiler, boilerplate_frac)``.

    Scale shape: the gram-frequency side is
    :func:`boilerplate_grams` (already collapsed to one row per
    boilerplate gram) joined back on the gram key; per-doc totals
    are one doc-keyed aggregate. Same inverted-index shape as
    :func:`ngram_contamination` — no all-pairs step. Note
    ``word_shingles`` dedups per doc, so the fraction is over
    DISTINCT shingles (a doc repeating its own boilerplate 50×
    counts it once — within-doc repetition is
    ``repetition_profile``'s job)."""
    grams = df.select(
        F.col(id_col),
        F.explode(word_shingles(word_tokens(text_col), k=n)).alias("gram"),
    )
    boiler = boilerplate_grams(df, id_col, text_col, n=n, min_df=min_df
                               ).select("gram").withColumn("_b", F.lit(1))
    return (
        grams.join(boiler, "gram", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.count("_b").alias("n_boiler"),
        )
        .select(
            id_col,
            "n_grams",
            "n_boiler",
            F.round(
                F.col("n_boiler").cast("double") / F.col("n_grams"), 6
            ).alias("boilerplate_frac"),
        )
    )


def bigram_surprisal(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    rare_max_count: int = 2,
) -> DataFrame:
    """Bigram-LM quality scoring — the perplexity-style
    filter CCNet applies with a wiki LM, expressed against the
    corpus's OWN bigram statistics and kept cross-engine
    deterministic by the q_unigram_surprisal discipline: no ``ln()``
    (engines differ in the last ulp), the per-position score is the
    inverse CONDITIONAL probability ``c(w1) / c(w1 w2)`` — an exact
    rational of corpus counts, IEEE-divided identically everywhere,
    rounded to 9 dp and summed as exact decimal so per-doc sums are
    order-INDEPENDENT. High mean ⇒ the doc's word transitions are
    improbable under the corpus model (gibberish/shuffled text);
    ``rare_bigram_frac`` (share of positions whose bigram occurs ≤
    ``rare_max_count`` times corpus-wide) is the companion
    novelty-rate signal.

    Only docs with ≥ 2 tokens participate — in the model counts AND
    the output (a 1-token doc has no transitions; including its
    unigram in the model would make the score depend on docs that
    can never be scored).

    Scale shape: bigram model = one gram-keyed count aggregate
    (map-side combine eats boilerplate skew), unigram model = one
    term-keyed count; scoring = the exploded positional bigrams
    joined to both models (content-keyed shuffles, never all-pairs —
    the inverted-index shape of every corpus-statistics operator
    here) + one doc-keyed aggregate. Returns ``(id, n_bigrams,
    mean_inv_cond_prob, rare_bigram_frac)``.
    """
    from .dedup import word_grams

    toks = df.select(
        F.col(id_col), word_tokens(text_col).alias("_ws")
    ).filter(F.size("_ws") >= 2)
    uni = (
        toks.select(F.explode("_ws").alias("_w"))
        .groupBy("_w")
        .agg(F.count(F.lit(1)).alias("_c1"))
    )
    bi = toks.select(
        id_col, F.explode(word_grams(F.col("_ws"), 2)).alias("_g")
    )
    c12 = bi.groupBy("_g").agg(F.count(F.lit(1)).alias("_c12"))
    scored = (
        bi.join(c12, "_g")
        .withColumn("_w", F.substring_index(F.col("_g"), " ", 1))
        .join(uni, "_w")
        .withColumn(
            "_inv_cp",
            F.round(
                F.col("_c1").cast("double") / F.col("_c12").cast("double"),
                9,
            ).cast("decimal(28,9)"),
        )
    )
    return scored.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
        F.round(
            F.sum("_inv_cp").cast("double") / F.count(F.lit(1)), 6
        ).alias("mean_inv_cond_prob"),
        F.round(
            F.sum(
                F.when(F.col("_c12") <= rare_max_count, 1).otherwise(0)
            ).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("rare_bigram_frac"),
    )
