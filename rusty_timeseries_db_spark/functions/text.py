"""Text-analysis expressions for training-data pipelines: language ID,
quality scoring, token counting, fingerprinting. All built-in-function
compositions (regexp/length/aggregate) — JVM-side, oracle-checkable in
SQL where the same functions exist in DuckDB.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Tiny per-language stopword lists for the n-gram/stopword-ratio
# language-ID heuristic. Deliberately minimal + deterministic.
STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "a", "and", "of", "to", "in", "is", "that", "for", "it"],
    "fr": ["le", "la", "et", "de", "un", "une", "est", "que", "pour", "dans"],
    "de": ["der", "die", "das", "und", "ist", "von", "zu", "mit", "den", "ein"],
    "es": ["el", "la", "y", "de", "que", "en", "un", "una", "es", "por"],
    "zh": ["的", "了", "是", "在", "我", "有", "和", "就", "不", "人"],
}


def token_array(col: Column | str, delimiter: str = " ") -> Column:
    """Non-empty lowercased tokens; literal-space split by default (see
    operators/dedup.py word_tokens for the rationale)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.filter(F.split(F.lower(c), delimiter), lambda t: F.length(t) > 0)


def bpe_ish_token_count(col: Column | str) -> Column:
    """BPE-ish subword proxy: count word chunks + digits + punctuation
    runs, the standard ~heuristic for LLM token estimation when no real
    tokenizer is available. Regex split keeps it JVM-side."""
    c = F.col(col) if isinstance(col, str) else col
    pieces = F.split(c, r"(?=[^A-Za-z0-9])|(?<=[^A-Za-z0-9])")
    return F.size(F.filter(pieces, lambda t: F.trim(t) != ""))


def stopword_ratio(col: Column | str, lang: str) -> Column:
    """Fraction of tokens that are stopwords of ``lang``."""
    toks = token_array(col)
    sw = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
    hits = F.size(F.filter(toks, lambda t: F.array_contains(sw, t)))
    return F.when(F.size(toks) > 0, hits / F.size(toks)).otherwise(F.lit(0.0))


def detect_language(col: Column | str) -> Column:
    """Argmax of stopword ratios over known languages; 'und' when no
    stopword hits at all. Deterministic tie-break: language order."""
    ratios = [(lang, stopword_ratio(col, lang)) for lang in STOPWORDS]
    best_lang = F.lit("und")
    best_ratio = F.lit(0.0)
    # fold right-to-left so earlier languages win ties
    for lang, ratio in reversed(ratios):
        cond = ratio > best_ratio
        best_lang = F.when(cond, F.lit(lang)).otherwise(best_lang)
        best_ratio = F.when(cond, ratio).otherwise(best_ratio)
    return best_lang


def quality_score(col: Column | str) -> Column:
    """[0,1] document-quality heuristic: mean of
    - length score: min(1, n_chars / 200)
    - word-length sanity: 1 if mean token length in [3, 12] else 0
    - alpha ratio: letters / chars
    All pure expressions; mirrors the usual Gopher/C4-style filters."""
    c = F.col(col) if isinstance(col, str) else col
    n_chars = F.length(c)
    toks = token_array(c)
    mean_tok = F.when(
        F.size(toks) > 0,
        F.aggregate(
            F.transform(toks, lambda t: F.length(t).cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        / F.size(toks),
    ).otherwise(F.lit(0.0))
    len_score = F.least(F.lit(1.0), n_chars / F.lit(200.0))
    tok_score = F.when((mean_tok >= 3) & (mean_tok <= 12), F.lit(1.0)).otherwise(
        F.lit(0.0)
    )
    alpha_ratio = F.when(
        n_chars > 0,
        F.length(F.regexp_replace(c, r"[^A-Za-z]", "")) / n_chars.cast("double"),
    ).otherwise(F.lit(0.0))
    return (len_score + tok_score + alpha_ratio) / F.lit(3.0)


def fingerprint(col: Column | str) -> Column:
    """Stable document fingerprint: md5 over normalized text (md5 exists
    in both Spark and DuckDB → oracle-checkable)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.md5(F.lower(F.trim(F.regexp_replace(c, r"\s+", " "))))


def rolling_hash_fingerprint(col: Column | str) -> Column:
    """Order-sensitive rolling document fingerprint: left fold of the
    token stream through ``xxhash64(acc, token)`` (hash chaining). Same
    text → same fp; any reorder/edit → different fp (unlike the
    set-based md5/MinHash fingerprints). Pure bitwise hashing — no
    arithmetic, so it is ANSI-overflow-proof by construction."""
    toks = token_array(col)
    return F.aggregate(
        toks,
        F.lit(0).cast("long"),
        lambda acc, t: F.xxhash64(acc, t),
    )


# ---------------------------------------------------------------- PII scrub

#: PII regexes shared VERBATIM by the Spark expressions below and the
#: DuckDB oracle (queries.py embeds these same strings), so a parity
#: match proves the patterns behave identically under Java regex and
#: RE2. Deliberately restricted to syntax both dialects agree on
#: (classes, bounded repeats, \b, \d — no lookaround, no backrefs).
PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ssn": r"\b\d{3}-\d{2}-\d{4}\b",
    "phone": r"\b\d{3}[-.]\d{3}[-.]\d{4}\b",
    "ipv4": r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b",
}

#: Scrub order matters where patterns could overlap: the 3-2-4 SSN
#: shape must be consumed before the 3-3-4 phone shape, and both
#: before the digit-hungry ipv4; email first because its local part
#: may contain digits-and-dots runs the later patterns would chew on.
PII_SCRUB_ORDER: list[str] = ["email", "ssn", "phone", "ipv4"]


#: Candidate pattern for payment-card numbers: a standalone 13-19
#: digit run (ISO/IEC 7812 lengths). Like PII_PATTERNS, the string is
#: shared VERBATIM with the DuckDB oracle — \b/\d only, both dialects
#: agree. A CANDIDATE is not a card: Luhn-validate with
#: :func:`luhn_valid` before treating it as one (that is the whole
#: point — timestamps and ids are 13-19 digit runs too).
CARD_CANDIDATE_PATTERN: str = r"\b\d{13,19}\b"


def card_candidates(col: Column | str) -> Column:
    """All standalone 13-19-digit runs in the text, as an array —
    JVM regexp_extract_all, vectorized, no UDF."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_extract_all(c, F.lit(CARD_CANDIDATE_PATTERN), 0)


def luhn_valid(col: Column | str) -> Column:
    """True when a digit string passes the Luhn check (ISO/IEC 7812
    check digit — the public card-number checksum): from the RIGHT,
    double every second digit, subtract 9 when the double exceeds 9,
    and the total must be divisible by 10. Pure integer expression
    arithmetic (``transform`` + ``aggregate`` over the digit
    positions), so DuckDB recomputes it verbatim and q_pii_luhn_cards
    hash-matches. Assumes an all-digit input (the candidate regex
    guarantees it); NULL in → NULL out."""
    c = F.col(col) if isinstance(col, str) else col
    n = F.length(c)

    def term(i):
        d = F.substr(c, n - i + F.lit(1), F.lit(1)).cast("int")
        dbl = d * 2
        return F.when(
            i % 2 == 0, F.when(dbl > 9, dbl - 9).otherwise(dbl)
        ).otherwise(d)

    total = F.aggregate(
        F.transform(F.sequence(F.lit(1), n), term),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    return total % 10 == 0


def pii_count(col: Column | str, kind: str) -> Column:
    """Occurrences of one PII pattern (``PII_PATTERNS`` key) in the
    ORIGINAL text — JVM regexp_count, vectorized, no UDF."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_count(c, F.lit(PII_PATTERNS[kind]))


def scrub_pii(col: Column | str) -> Column:
    """Redact every PII match with its ``[KIND]`` token (the standard
    pre-training privacy pass: emails/SSNs/phones/IPs must not reach
    the training corpus). A chain of regexp_replace expressions —
    whole-stage-codegen'd, order pinned by ``PII_SCRUB_ORDER``.
    Replacement tokens contain no digits or '@', so a later pattern
    can never re-match inside an earlier redaction."""
    c = F.col(col) if isinstance(col, str) else col
    for kind in PII_SCRUB_ORDER:
        c = F.regexp_replace(c, PII_PATTERNS[kind], f"[{kind.upper()}]")
    return c
