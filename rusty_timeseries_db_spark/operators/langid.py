"""Character-trigram language identification (Cavnar & Trenkle 1994,
"N-Gram-Based Text Categorization") — the per-document classifier the
CCNet-style corpus pipeline was missing as its stage 0: paragraph dedup,
LM-quality scoring and dedup all
existed, but nothing assigned a language before them.

Method, deliberately EXACT-integer so DuckDB can recompute it (the
q_unigram_surprisal determinism discipline): each language carries a
pinned profile of padded character trigrams with small integer
weights, derived at import time from a pinned list of that language's
most common function words — the Cavnar-Trenkle observation is that a
language's top character n-grams are dominated by exactly these words.
A document's score for a language is the integer sum of profile
weights over every trigram OCCURRENCE of its normalized text; the
label is the argmax (ties broken by language code ascending), or
``und`` when no profile trigram occurs at all.

This replaces nothing: ``functions/text.py detect_language`` (the
stopword-ratio heuristic) remains as the cheap gate-input variant;
this operator is the per-doc classifier with a real profile model.

Scale shape (100 TB story): normalization + trigram explode are
O(total corpus chars), narrow until the explode; the profile table is
a few hundred literal rows joined BROADCAST; scoring is two hash
aggregates — (doc, lang) then (doc) — both map-side combining on
content keys, no window, no skew hazard beyond ordinary doc ids. The
argmax uses a struct-max aggregate, not a row_number window, so there
is no per-doc sort.

Latin-alphabet scope: normalization keeps [a-z] only (both engines
agree byte-for-byte on that class), so non-Latin scripts normalize to
whitespace and fall out as ``und`` — the honest contract for a
trigram model with Latin profiles; a CJK-capable model needs different
profiles, not different plumbing.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: Pinned per-language seed words (20 each, [a-z]-only so they survive
#: the normalizer; standard public top-frequency function words). The
#: profile derives deterministically from these at import — edit the
#: seeds, and the Spark expressions AND the DuckDB oracle move in
#: lockstep because both render from the same dict.
LANGID_SEED_WORDS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "it", "was",
           "for", "on", "are", "with", "as", "his", "they", "at", "be",
           "this", "have"],
    "de": ["der", "die", "und", "in", "den", "von", "zu", "das", "mit",
           "sich", "des", "auf", "ist", "im", "dem", "nicht", "ein",
           "eine", "als", "auch"],
    "fr": ["le", "la", "les", "de", "des", "et", "en", "un", "une",
           "du", "que", "est", "dans", "qui", "pour", "pas", "sur",
           "plus", "par", "avec"],
    "es": ["el", "la", "los", "las", "de", "que", "y", "en", "un",
           "una", "es", "se", "no", "por", "con", "para", "su", "al",
           "lo", "como"],
    "it": ["il", "la", "di", "che", "e", "in", "un", "una", "per",
           "non", "sono", "con", "si", "da", "come", "le", "del",
           "della", "al", "anche"],
    "pt": ["o", "a", "os", "as", "de", "que", "e", "em", "um", "uma",
           "para", "com", "por", "se", "do", "da", "no", "na", "mais",
           "uns"],
}


def langid_profiles() -> dict[str, dict[str, int]]:
    """lang → {padded trigram: integer weight}. Each seed word of rank
    r (0-based) contributes weight ``len(seeds) - r`` to every trigram
    of its padded form ``' word '``; a trigram fed by several words
    sums their weights. Pure deterministic arithmetic over the pinned
    seeds — no corpus, no floats, no randomness."""
    out: dict[str, dict[str, int]] = {}
    for lang, words in LANGID_SEED_WORDS.items():
        prof: dict[str, int] = {}
        n = len(words)
        for r, w in enumerate(words):
            padded = f" {w} "
            for i in range(len(padded) - 2):
                tg = padded[i:i + 3]
                prof[tg] = prof.get(tg, 0) + (n - r)
        out[lang] = prof
    return out


def langid_profile_rows() -> list[tuple[str, str, int]]:
    """The profiles flattened to sorted ``(trigram, lang, weight)``
    rows — the literal table both the Spark join and the DuckDB
    oracle's VALUES list are built from."""
    rows = [
        (tg, lang, w)
        for lang, prof in sorted(langid_profiles().items())
        for tg, w in sorted(prof.items())
    ]
    return rows


def normalized_text(col: Column | str) -> Column:
    """The classifier's text normalization: lowercase, collapse every
    non-[a-z] run to one space, trim, pad one space each side (so
    word-boundary trigrams like ``' th'`` exist). IDENTICAL semantics
    in DuckDB: ``' ' || trim(regexp_replace(lower(x), '[^a-z]+', ' ',
    'g')) || ' '`` — parity-pinned by the q_language_id oracle."""
    c = F.col(col) if isinstance(col, str) else col
    return F.concat(
        F.lit(" "),
        F.trim(F.regexp_replace(F.lower(F.coalesce(c, F.lit(""))),
                                "[^a-z]+", " ")),
        F.lit(" "),
    )


def _trigrams(s: Column) -> Column:
    """All overlapping char trigrams of ``s``, in ONE regex pass:
    ``(?=(...)).`` captures 3 chars under a lookahead while consuming
    1, so every start offset yields its trigram and the scan is O(n).
    The naive ``transform(sequence(1, n-2), i -> substr(s, i, 3))``
    is O(n²) per document — ``substr`` on a UTF8String walks from the
    start to find the character offset, so every trigram pays
    O(position); measured 26 s for q_language_id at sf0.1 vs ~3 s for
    this builder, identical output strings (hash-neutral, re-verified
    by the 3-sf parity sweep; also verified element-equal to a
    zip_with shifted-slices build). A string shorter than 3 chars has
    no lookahead match and yields an empty array, matching the
    oracle's ``generate_series(1, length-2)``."""
    return F.regexp_extract_all(s, F.lit(r"(?=(...))."), 1)


def language_id(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Classify every document: returns ``(id_col, lang_id,
    lang_score)`` with one row per input row — ``lang_id`` the
    best-scoring profile language (ties → language code ascending),
    ``und`` with score 0 when no profile trigram occurs. Scores are
    exact integer sums, so the whole operator is DuckDB-recomputable
    and hash-parity-checkable."""
    spark = df.sparkSession
    langs = sorted(LANGID_SEED_WORDS)
    prof = spark.createDataFrame(
        langid_profile_rows(), "tg string, lang string, w bigint"
    )
    # the per-char work (normalize + trigram regex) is CPU-bound: when
    # the input arrives under-split (one small parquet file = one
    # task — the local-fixture shape), fan it out to the cluster's
    # parallelism first; a well-split 100 TB scan (partitions >= half
    # the default parallelism) skips the shuffle entirely
    base = df
    try:
        n_parts = df.rdd.getNumPartitions()
        want = spark.sparkContext.defaultParallelism
        if n_parts < max(want // 2, 1):
            base = df.repartition(want, id_col)
    except Exception:
        pass  # planning-only heuristic: never fail the operator for it
    tris = base.select(
        F.col(id_col),
        F.explode(_trigrams(normalized_text(text_col))).alias("tg"),
    )
    scores = (
        tris.join(F.broadcast(prof), "tg")
        .groupBy(id_col, "lang")
        .agg(F.sum("w").alias("score"))
    )
    # argmax via struct-max: (score, -lang_index, lang) — max score
    # first, then max(-index) == lexicographically smallest language
    neg_idx = F.lit(None).cast("int")
    for i, lang in enumerate(langs):
        neg_idx = F.when(F.col("lang") == lang, F.lit(-i)).otherwise(neg_idx)
    best = (
        scores.withColumn("_ni", neg_idx)
        .groupBy(id_col)
        .agg(F.max(F.struct("score", "_ni", "lang")).alias("_b"))
        .select(
            id_col,
            F.col("_b.lang").alias("lang_id"),
            F.col("_b.score").alias("lang_score"),
        )
    )
    return df.select(id_col).join(best, id_col, "left").select(
        id_col,
        F.coalesce(F.col("lang_id"), F.lit("und")).alias("lang_id"),
        F.coalesce(F.col("lang_score"), F.lit(0).cast("bigint")).alias(
            "lang_score"
        ),
    )


def langid_oracle_sql(table: str = "documents", id_col: str = "doc_id",
                      text_col: str = "text") -> str:
    """The DuckDB recomputation of :func:`language_id` over ``table``
    — rendered from the SAME pinned profiles, so the two engines
    cannot drift apart silently. Used by queries.py's q_language_id
    declaration (and handy for ad-hoc audits)."""
    values = ",\n      ".join(
        "('" + tg.replace("'", "''") + "', '" + lang + "', " + str(w) + ")"
        for tg, lang, w in langid_profile_rows()
    )
    return f"""
    WITH prof(tg, lang, w) AS (VALUES
      {values}
    ),
    norm AS (
      SELECT {id_col},
             ' ' || trim(regexp_replace(lower(coalesce({text_col}, '')),
                                        '[^a-z]+', ' ', 'g')) || ' ' AS s
      FROM {table}
    ),
    tri AS (
      -- list-form generate_series + unnest (the table-function form
      -- rejects lateral column parameters); an s shorter than 3 chars
      -- yields an empty list and the row simply drops
      SELECT {id_col}, substr(s, CAST(i AS INT), 3) AS tg
      FROM (
        SELECT {id_col}, s,
               unnest(generate_series(1, length(s) - 2)) AS i
        FROM norm
      )
    ),
    scores AS (
      SELECT {id_col}, lang, CAST(SUM(w) AS BIGINT) AS score
      FROM tri JOIN prof USING (tg)
      GROUP BY 1, 2
    ),
    best AS (
      SELECT {id_col}, lang, score,
             row_number() OVER (PARTITION BY {id_col}
                                ORDER BY score DESC, lang) AS rn
      FROM scores
    )
    SELECT d.{id_col},
           coalesce(b.lang, 'und') AS lang_id,
           coalesce(b.score, 0) AS lang_score
    FROM {table} d
    LEFT JOIN (SELECT * FROM best WHERE rn = 1) b USING ({id_col})
    """
