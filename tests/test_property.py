"""Property-based tests (hypothesis): random telemetry batches — engine
query == brute-force Python filter; dedup idempotence (SURVEY §5.3 #4).
"""

from __future__ import annotations

from datetime import datetime, timedelta, timezone

import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from rusty_timeseries_db_spark.operators.dedup import exact_dedup

_BASE = datetime(2024, 8, 28, 12, 0, 0, tzinfo=timezone.utc)

_row = st.fixed_dictionaries(
    {
        "sensor_name": st.sampled_from(["s1", "s2", "s3"]),
        "offset_min": st.integers(min_value=0, max_value=300),
        "value": st.floats(
            min_value=0.0, max_value=2.0, allow_nan=False, allow_infinity=False
        ),
        "fc1_flag": st.sampled_from([None, 1, 2]),
        "timeseries_id": st.sampled_from(["id-a", "id-b", "id-c"]),
    }
)


def _iso(minutes: int) -> str:
    return (_BASE + timedelta(minutes=minutes)).strftime("%Y-%m-%dT%H:%M:%SZ")


@settings(max_examples=8, deadline=None)
@given(rows=st.lists(_row, min_size=1, max_size=40), lo=st.integers(0, 300), hi=st.integers(0, 300))
def test_range_query_matches_bruteforce(spark, rows, lo, hi):
    """filter(id == ? AND ts BETWEEN lo AND hi) over a random batch must
    equal the brute-force Python filter (R3 semantics: inclusive)."""
    lo, hi = min(lo, hi), max(lo, hi)
    payload = [
        (r["sensor_name"], _iso(r["offset_min"]), r["value"], r["fc1_flag"], r["timeseries_id"])
        for r in rows
    ]
    df = spark.createDataFrame(
        payload,
        "sensor_name string, ts_raw string, value double, fc1_flag tinyint, timeseries_id string",
    )
    target = rows[0]["timeseries_id"]
    got = (
        df.filter(
            (F.col("timeseries_id") == target)
            & (F.col("ts_raw") >= _iso(lo))
            & (F.col("ts_raw") <= _iso(hi))
        )
        .count()
    )
    expected = sum(
        1
        for r in rows
        if r["timeseries_id"] == target and lo <= r["offset_min"] <= hi
    )
    assert got == expected


@settings(max_examples=8, deadline=None)
@given(rows=st.lists(_row, min_size=1, max_size=40))
def test_exact_dedup_idempotent(spark, rows):
    payload = [
        (r["sensor_name"], _iso(r["offset_min"]), r["value"], r["timeseries_id"])
        for r in rows
    ]
    df = spark.createDataFrame(
        payload, "sensor_name string, ts_raw string, value double, timeseries_id string"
    )
    once = exact_dedup(df, ["timeseries_id", "ts_raw"])
    twice = exact_dedup(once, ["timeseries_id", "ts_raw"])
    n_once, n_twice = once.count(), twice.count()
    assert n_once == n_twice
    expected_keys = {(r["timeseries_id"], _iso(r["offset_min"])) for r in rows}
    assert n_once == len(expected_keys)


@settings(max_examples=5, deadline=None)
@given(
    updates=st.lists(
        st.tuples(st.integers(0, 3), st.floats(1.0, 9.0, allow_nan=False)),
        min_size=1,
        max_size=6,
    )
)
def test_overlay_updates_match_dict_replay(spark, tmp_path_factory, updates):
    """Random sequences of point updates must equal a dict-replay oracle
    (last write wins per key, first-match row semantics)."""
    from rusty_timeseries_db_spark.api import TimeseriesEngine

    eng = TimeseriesEngine(
        spark, str(tmp_path_factory.mktemp("ov") / "wh")
    )
    base_rows = [
        {
            "sensor_name": "s",
            "timestamp": _iso(m),
            "value": float(m),
            "fc1_flag": None,
            "timeseries_id": "k1",
        }
        for m in range(4)
    ]
    eng.ingest_rows(base_rows)
    expected = {m: float(m) for m in range(4)}
    for key_minute, new_value in updates:
        eng.update_rows(
            [
                {
                    "sensor_name": "s",
                    "timestamp": _iso(key_minute),
                    "value": new_value,
                    "fc1_flag": None,
                    "timeseries_id": "k1",
                }
            ]
        )
        expected[key_minute] = new_value
    got = {
        r.ts_raw: r.value
        for r in eng.query_by_id("k1", _iso(0), _iso(10)).collect()
    }
    assert got == {_iso(m): v for m, v in expected.items()}


# ---- pure-Python packing assignment model (no Spark in the loop) ----

@given(
    toks=st.lists(st.integers(1, 300), min_size=1, max_size=200),
    budget=st.integers(16, 512),
)
@settings(max_examples=200, deadline=None)
def test_packing_closed_form_matches_sequential_model(toks, budget):
    """The window closed form pack = floor((cumsum - tok)/budget) must
    equal the sequential greedy-with-spillover walk for ANY token
    sequence and budget — the property that lets the operator run as
    one cumsum instead of stateful iteration."""
    # sequential model: open a new pack when the running total has
    # crossed a budget boundary before this doc arrives
    packs_model = []
    total = 0
    for t in toks:
        packs_model.append(total // budget)
        total += t
    # closed form
    cum = 0
    packs_closed = []
    for t in toks:
        cum += t
        packs_closed.append((cum - t) // budget)
    assert packs_closed == packs_model
    # spillover bound: dropping each pack's last doc leaves it under
    # budget
    by_pack = {}
    for t, p in zip(toks, packs_closed):
        by_pack.setdefault(p, []).append(t)
    for p, members in by_pack.items():
        assert sum(members[:-1]) < budget


# ---------------------------------------------------------------- sql_ext
# pure-Python parsing helpers: no Spark session needed, so hypothesis
# can hammer them cheaply

@given(st.text(alphabet=st.characters(codec="ascii"), max_size=200))
@settings(max_examples=300, deadline=None)
def test_mask_string_literals_properties(s):
    from rusty_timeseries_db_spark.sql_ext import _mask_string_literals

    masked = _mask_string_literals(s)
    # same length — match positions on the mask slice the original
    assert len(masked) == len(s)
    # quotes survive in place; everything outside literals is unchanged
    for i, (a, b) in enumerate(zip(s, masked)):
        if a == "'":
            assert b == "'"
    # idempotent: masking a mask changes nothing
    assert _mask_string_literals(masked) == masked
    # no keyword can survive INSIDE a literal region
    import re
    in_str = False
    for i, ch in enumerate(s):
        if ch == "'":
            in_str = not in_str
        elif in_str:
            assert masked[i] == " "


@given(
    st.lists(
        st.sampled_from(
            list("abc()'") + [" ORDER BY ", " LIMIT ", " OVER (", ")"]
        ),
        max_size=20,
    ).map("".join)
)
@settings(max_examples=300, deadline=None)
def test_split_qualify_pred_partitions_input(rest):
    from rusty_timeseries_db_spark.sql_ext import _split_qualify_pred

    pred, tail = _split_qualify_pred(rest)
    # exact partition of the input, no loss or duplication
    assert pred + tail == rest
    # a returned tail always starts at a trailing-clause keyword
    if tail:
        import re
        assert re.match(r"(?:ORDER\s+BY|LIMIT|WINDOW)\b", tail, re.I)


def test_split_qualify_pred_ignores_keywords_in_parens_and_strings():
    from rusty_timeseries_db_spark.sql_ext import _split_qualify_pred

    pred, tail = _split_qualify_pred(
        " rank() OVER (ORDER BY v) = 1 ORDER BY x LIMIT 2"
    )
    assert pred.strip() == "rank() OVER (ORDER BY v) = 1"
    assert tail == "ORDER BY x LIMIT 2"
    pred2, tail2 = _split_qualify_pred(" note = 'ORDER BY nothing' LIMIT 5")
    assert "ORDER BY nothing" in pred2 and tail2 == "LIMIT 5"


_doc_text = st.lists(
    st.sampled_from(["alpha", "bb", "c", "dddd", "", " "]),
    min_size=0, max_size=60,
).map(lambda ws: " ".join(ws))


@settings(max_examples=8, deadline=None)
@given(
    texts=st.lists(_doc_text, min_size=1, max_size=10),
    chunk=st.integers(2, 12),
    overlap=st.integers(0, 11),
)
def test_chunk_documents_matches_python_model(spark, texts, chunk, overlap):
    """chunk_documents == a straight-line Python chunker on random
    docs: same chunk ids, texts, and token counts; every doc survives."""
    from rusty_timeseries_db_spark.operators.chunking import chunk_documents

    overlap = min(overlap, chunk - 1)
    stride = chunk - overlap
    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    got = sorted(
        (r.doc_id, r.chunk_id, r.chunk_text, r.n_tokens)
        for r in chunk_documents(
            df, ["doc_id"], chunk_tokens=chunk, overlap=overlap
        ).collect()
    )

    want = []
    for i, text in enumerate(texts):
        toks = [t for t in text.split(" ") if t]
        n = len(toks)
        nc = 1 if n <= chunk else -(-(n - chunk) // stride) + 1
        for c in range(nc):
            w = toks[c * stride: c * stride + chunk]
            want.append((i, c, " ".join(w), len(w)))
    assert got == sorted(want)


_ident = st.from_regex(r"[a-z][a-z0-9_]{0,8}", fullmatch=True)


@settings(max_examples=30, deadline=None)
@given(
    col=_ident,
    lit=st.text(
        alphabet=st.characters(
            # no quote chars and no backslash: a trailing backslash
            # makes the literal unterminated in Spark itself, so the
            # gate's classification of it is unspecified
            blacklist_categories=("Cs",),
            blacklist_characters="'\\`\"",
        ),
        max_size=30,
    ),
    tail=st.sampled_from(
        ["", " ORDER BY 1", " LIMIT 5", " GROUP BY 1", ";"]
    ),
)
def test_query_gate_properties(col, lit, tail):
    """is_query_statement: any generated SELECT (with arbitrary
    literal content) passes; prefixing DML or suffixing a second
    statement always fails — independent of identifiers/literals."""
    from rusty_timeseries_db_spark.sql_ext import is_query_statement

    q = f"SELECT {col}, '{lit}' AS s FROM t WHERE {col} > 0{tail}"
    assert is_query_statement(q)
    assert not is_query_statement(f"DROP TABLE {col}")
    assert not is_query_statement(
        f"WITH x AS (SELECT {col} FROM t) INSERT INTO u SELECT * FROM x"
    )
    assert not is_query_statement(q.rstrip(";") + f"; DROP TABLE {col}")


@settings(max_examples=8, deadline=None)
@given(
    texts=st.lists(
        st.text(alphabet=" abcxyz0123456789.-@[]_%+", max_size=60),
        min_size=1,
        max_size=25,
    )
)
def test_scrub_pii_reaches_fixed_point(spark, texts):
    """Property: after one scrub pass,
    NO pattern matches remain — replacement tokens carry no digits or
    '@', so removal cannot splice new PII into existence — which also
    makes scrub idempotent (scrub∘scrub == scrub) on arbitrary text."""
    from pyspark.sql import functions as F

    from rusty_timeseries_db_spark.functions.text import (
        PII_SCRUB_ORDER,
        pii_count,
        scrub_pii,
    )

    df = spark.createDataFrame([(t,) for t in texts], "t string")
    once = df.select(scrub_pii("t").alias("s"))
    residue = once.agg(
        *[F.sum(pii_count("s", k)).alias(k) for k in PII_SCRUB_ORDER]
    ).collect()[0]
    assert all((residue[k] or 0) == 0 for k in PII_SCRUB_ORDER), residue
    twice = once.select(scrub_pii("s").alias("s2"), "s")
    assert twice.filter(F.col("s2") != F.col("s")).count() == 0


@given(
    st.lists(
        st.sampled_from(
            ["(", ")", " QUALIFY ", "SELECT x", " FROM t ", "'QUALIFY'"]
        ),
        max_size=24,
    ).map("".join)
)
@settings(max_examples=300, deadline=None)
def test_find_deepest_nested_qualify_span_properties(s):
    """The nested-QUALIFY locator either returns a valid
    enclosing-paren span containing a QUALIFY keyword, None (no
    nested occurrence), or raises the documented unbalanced-parens
    error — never a bogus span."""
    from rusty_timeseries_db_spark.sql_ext import (
        _find_deepest_nested_qualify,
        _mask_string_literals,
    )

    masked = _mask_string_literals(s)
    try:
        span = _find_deepest_nested_qualify(masked)
    except ValueError as e:
        assert "unbalanced" in str(e)
        return
    if span is None:
        # every QUALIFY (if any) sits at depth <= 0 positions
        depth = 0
        for i, c in enumerate(masked):
            if c == "(":
                depth += 1
            elif c == ")":
                depth -= 1
        return
    o, c = span
    assert masked[o] == "(" and masked[c] == ")" and o < c
    assert "QUALIFY" in masked[o + 1: c]
    # the span's parens balance
    body = masked[o: c + 1]
    assert body.count("(") == body.count(")")


@given(
    pred=st.lists(
        st.sampled_from(
            ["row_number()", " OVER (", "ORDER BY v", ")", " = 1",
             " rn", " <= 3", "sum(v)"]
        ),
        min_size=1, max_size=8,
    ).map("".join).filter(lambda p: p.count("(") == p.count(")")),
    tail=st.sampled_from(["", " ORDER BY k", " LIMIT 5"]),
)
@settings(max_examples=200, deadline=None)
def test_textual_qualify_rewrite_structure(pred, tail):
    """The one-shot textual rewrite of a QUALIFY block must
    eliminate the QUALIFY keyword, preserve the head and predicate
    text, keep parens balanced, and exclude the __qualify helper from
    the final projection."""
    from rusty_timeseries_db_spark.sql_ext import (
        _mask_string_literals,
        _textual_qualify_rewrite,
    )

    from rusty_timeseries_db_spark.sql_ext import _split_qualify_pred

    block = f"SELECT k, v FROM t QUALIFY {pred}{tail}"
    try:
        out = _textual_qualify_rewrite(block)
    except ValueError:
        # empty/degenerate predicate fragments may be rejected — fine
        return
    masked = _mask_string_literals(out)
    assert "QUALIFY " not in masked.replace("__qualify", "")
    assert out.count("(") == out.count(")") + (
        pred.count("(") - pred.count(")")
    )
    # the rewrite embeds exactly the splitter's predicate partition (a
    # depth-0 ORDER BY/LIMIT inside the fragment legitimately ends the
    # predicate and becomes trailing-clause text)
    exp_pred, _exp_tail = _split_qualify_pred(f" {pred}{tail}")
    assert exp_pred.strip() in out and "FROM t" in out
    assert "EXCEPT (__qualify)" in out


# ------------------------------------------------- word_grams builder

@settings(max_examples=8, deadline=None)
@given(
    docs=st.lists(
        st.lists(
            st.text(alphabet="abcxyz", min_size=1, max_size=4),
            min_size=0, max_size=30,
        ),
        min_size=1, max_size=12,
    ),
    k=st.integers(2, 6),
)
def test_word_grams_matches_python_reference(spark, docs, k):
    """dedup.word_grams == the straightforward Python n-gram builder
    for every token array: n-k+1 positional grams when n >= k, one
    truncated gram when 0 < n < k, none when n == 0. This is the
    contract every shingle-consuming operator (minhash, jaccard,
    contamination, boilerplate, spans, DSIR) now rides on."""
    from rusty_timeseries_db_spark.operators.dedup import word_grams

    def ref(toks, k):
        if not toks:
            return []
        if len(toks) < k:
            return [" ".join(toks)]
        return [" ".join(toks[i:i + k]) for i in range(len(toks) - k + 1)]

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(docs)], "id long, toks array<string>"
    )
    got = {
        r.id: r.g
        for r in df.select("id", word_grams(F.col("toks"), k).alias("g")).collect()
    }
    for i, toks in enumerate(docs):
        assert got[i] == ref(toks, k), (toks, k)


@settings(max_examples=10, deadline=None)
@given(
    spans=st.lists(
        st.tuples(st.integers(0, 25), st.integers(1, 8)),  # (start, len)
        min_size=0,
        max_size=8,
    ),
    n_tok=st.integers(1, 40),
)
def test_remove_duplicate_spans_matches_python_interval_model(
    spark, spans, n_tok
):
    """Property: for ANY span set — overlapping, nested,
    duplicated, beyond-the-end — remove_duplicate_spans' splice equals
    a plain Python interval-merge reference on the same token list:
    same kept tokens, same removed count, same merged-interval
    count."""
    from rusty_timeseries_db_spark.operators.dedup import (
        remove_duplicate_spans,
    )

    toks = [f"t{i}" for i in range(n_tok)]
    df = spark.createDataFrame(
        [(7, " ".join(toks))], "doc_id long, text string"
    )
    span_rows = [(1, 7, 0, s, ln) for s, ln in spans]
    sdf = spark.createDataFrame(
        span_rows,
        "id_a long, id_b long, start_a int, start_b int, span_tokens long",
    ) if span_rows else spark.createDataFrame(
        [],
        "id_a long, id_b long, start_a int, start_b int, span_tokens long",
    )
    r = remove_duplicate_spans(df, sdf).collect()[0]

    # python reference: merge intervals, splice
    ivs = sorted((s, s + ln) for s, ln in spans)
    merged = []
    for s, e in ivs:
        if merged and s <= merged[-1][1]:
            merged[-1] = (merged[-1][0], max(merged[-1][1], e))
        else:
            merged.append((s, e))
    kept = [
        t for i, t in enumerate(toks)
        if not any(s <= i < e for s, e in merged)
    ]
    assert r.clean_text == " ".join(kept)
    assert r.n_tokens_removed == n_tok - len(kept)
    assert r.n_spans == len(merged)


@settings(max_examples=8, deadline=None)
@given(
    target=st.lists(
        st.tuples(st.integers(0, 15), st.floats(-5, 5, allow_nan=False),
                  st.integers(0, 9)),
        min_size=1, max_size=20, unique_by=lambda t: t[0],
    ),
    source=st.lists(
        st.tuples(st.integers(0, 25),
                  st.one_of(st.none(), st.floats(-5, 5, allow_nan=False))),
        min_size=0, max_size=12, unique_by=lambda t: t[0],
    ),
)
def test_merge_upsert_matches_dict_model(spark, target, source):
    """Property: merge_upsert equals the obvious Python
    dict replay — update matched keys (source NULL wins), insert the
    rest with NULL fill — for any unique-keyed target/source pair."""
    from rusty_timeseries_db_spark.operators.scd2 import merge_upsert

    tdf = spark.createDataFrame(target, "id long, v double, keep long")
    sdf = (
        spark.createDataFrame(source, "id long, v double")
        if source
        else spark.createDataFrame([], "id long, v double")
    )
    got = {
        r.id: (r.v, r.keep)
        for r in merge_upsert(tdf, sdf, keys=["id"]).collect()
    }
    model = {k: (v, keep) for k, v, keep in target}
    for k, v in source:
        model[k] = (v, model[k][1]) if k in model else (v, None)
    assert got == model


@settings(max_examples=8, deadline=None)
@given(
    spine=st.lists(st.integers(0, 1000), min_size=1, max_size=15),
    fa=st.lists(st.tuples(st.integers(0, 1000), st.integers(0, 99)),
                min_size=0, max_size=10, unique_by=lambda t: t[0]),
    fb=st.lists(st.tuples(st.integers(0, 1000), st.integers(100, 199)),
                min_size=0, max_size=10, unique_by=lambda t: t[0]),
)
def test_pit_join_matches_python_model(spark, spine, fa, fb):
    """Property: pit_join over two feature tables equals
    the per-row Python model 'latest feature at or before the spine
    ts, independently per table' — one key, integer timestamps."""
    from pyspark.sql import functions as F

    from rusty_timeseries_db_spark.operators.asof import pit_join

    sdf = spark.createDataFrame(
        [("k", t, i) for i, t in enumerate(spine)],
        "k string, ts long, sid long",
    )
    fadf = spark.createDataFrame(
        [("k", t, float(v)) for t, v in fa] or [],
        "k string, ts long, v double",
    )
    fbdf = spark.createDataFrame(
        [("k", t, float(v)) for t, v in fb] or [],
        "k string, ts long, v double",
    )
    out = {r.sid: (r.v_a, r.v_b) for r in pit_join(
        sdf, {"a": fadf, "b": fbdf}, on=["k"]
    ).collect()}

    def latest(feats, ts):
        past = [(t, v) for t, v in feats if t <= ts]
        return float(max(past)[1]) if past else None

    for i, t in enumerate(spine):
        assert out[i] == (latest(fa, t), latest(fb, t)), (i, t)


@given(
    st.lists(
        st.sampled_from(
            ["SELECT ", "a", "b", ", ", " * ", "(", ")", "'x'",
             " FROM t ", " WHERE ", " replace(s, 'a', 'b') ",
             " + 1 ", " ORDER BY a "]
        ),
        min_size=1,
        max_size=12,
    ).map("".join)
)
@settings(max_examples=200, deadline=None)
def test_new_rewrites_identity_on_nonmatching_statements(q):
    """Property: statements carrying NONE of the new
    dialect keywords pass the purely-textual rewrites through by
    IDENTITY (the `is`-level contract the dialect entry documents) —
    including ones full of stars, parens, and plain replace() calls.
    Statements that DO trip a guard may raise ValueError (honest
    raise), but must never silently mutate."""
    from rusty_timeseries_db_spark.sql_ext import (
        _rewrite_distinct_on_nested,
        _rewrite_exclude,
        _rewrite_star_replace,
    )

    for fn in (_rewrite_star_replace, _rewrite_exclude,
               _rewrite_distinct_on_nested):
        try:
            out = fn(q)
        except ValueError:
            continue
        assert out is q or out == q
        if fn is _rewrite_star_replace and "REPLACE" not in q.upper():
            assert out is q


@settings(max_examples=6, deadline=None)
@given(
    docs=st.lists(
        st.lists(st.sampled_from(["apple", "banana", "cherry", "date",
                                  "fig", "grape"]),
                 min_size=1, max_size=12),
        min_size=2, max_size=10,
    ),
)
def test_bm25_matches_python_reference(spark, docs):
    """Property: bm25_topk equals a direct Python Okapi
    BM25 implementation (Lucene +1 idf, k1=1.2, b=0.75) on arbitrary
    small corpora — scores to 6 decimals, identical ranking under the
    (score desc, id) total order."""
    import math

    from rusty_timeseries_db_spark.operators.retrieval import bm25_topk

    terms = ["apple", "cherry"]
    rows = [(i, " ".join(words)) for i, words in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = [
        (r.doc_id, r.n_terms_hit, r.bm25)
        for r in bm25_topk(df, terms, k=50).collect()
    ]

    n = float(len(docs))
    avgdl = sum(len(w) for w in docs) / n
    tf = {
        i: {t: words.count(t) for t in terms if t in words}
        for i, words in enumerate(docs)
    }
    dfreq = {t: float(sum(1 for d in tf.values() if t in d))
             for t in terms}
    expected = []
    for i, words in enumerate(docs):
        if not tf[i]:
            continue
        dl = float(len(words))
        s = sum(
            math.log(1 + (n - dfreq[t] + 0.5) / (dfreq[t] + 0.5))
            * c * 2.2 / (c + 1.2 * (0.25 + 0.75 * dl / avgdl))
            for t, c in tf[i].items()
        )
        expected.append((i, len(tf[i]), round(s, 6)))
    expected.sort(key=lambda x: (-x[2], x[0]))
    assert got == expected, (got, expected)


@settings(max_examples=10, deadline=None)
@given(
    vec=st.lists(
        st.floats(-1e3, 1e3, allow_nan=False, allow_infinity=False,
                  width=32),
        min_size=1, max_size=24,
    ),
    bits=st.sampled_from([2, 4, 8, 16]),
)
def test_quantize_roundtrip_bound_property(spark, vec, bits):
    """Property: for ANY float vector and bit width, every
    dequantized coordinate is within scale/2 of the original, codes
    fit the signed range, and the all-zero edge keeps scale 0."""
    from pyspark.sql import functions as F

    from rusty_timeseries_db_spark.functions.vectors import (
        dequantize,
        quantize_symmetric,
    )

    df = spark.createDataFrame(
        [(1, [float(x) for x in vec])], "id long, v array<float>"
    )
    row = df.select(
        quantize_symmetric("v", bits=bits).alias("z"),
        F.zip_with(
            "v",
            dequantize(
                quantize_symmetric("v", bits=bits)["q"],
                quantize_symmetric("v", bits=bits)["scale"],
            ),
            lambda a, b: F.abs(a.cast("double") - b),
        ).alias("err"),
    ).collect()[0]
    qmax = 2 ** (bits - 1) - 1
    assert all(-qmax <= c <= qmax for c in row.z.q)
    bound = row.z.scale / 2 + 1e-9
    assert all(e <= bound for e in row.err)


# -------------------------------------- operators (property)

@settings(max_examples=6, deadline=None)
@given(
    edges=st.lists(
        st.tuples(st.integers(0, 6), st.integers(0, 6)),
        min_size=1, max_size=20,
    ),
    iters=st.integers(1, 3),
)
def test_pagerank_matches_python_reference(spark, edges, iters):
    """Integer PageRank == a direct Python implementation of the same
    integer recurrence on arbitrary small digraphs (dangling mass
    dropped, no-inlink nodes at base)."""
    from rusty_timeseries_db_spark.operators.graph import SCALE, pagerank

    e = sorted({(f"n{a}", f"n{b}") for a, b in edges})
    nodes = sorted({x for p in e for x in p})
    outdeg = {}
    for s, _ in e:
        outdeg[s] = outdeg.get(s, 0) + 1
    r = {n: SCALE for n in nodes}
    base = (1000 - 850) * SCALE // 1000
    for _ in range(iters):
        contrib = {n: 0 for n in nodes}
        for s, d in e:
            contrib[d] += r[s] // outdeg[s]
        r = {n: base + (850 * contrib[n]) // 1000 for n in nodes}

    df = spark.createDataFrame(e, "src string, dst string")
    got = {
        row.node: row.rank_micro
        for row in pagerank(df, iterations=iters).collect()
    }
    assert got == r


@settings(max_examples=6, deadline=None)
@given(
    old_rows=st.lists(
        st.tuples(st.integers(0, 8), st.sampled_from(["a", "b", None]),
                  st.sampled_from([1.0, 2.0, None])),
        max_size=12, unique_by=lambda t: t[0],
    ),
    new_rows=st.lists(
        st.tuples(st.integers(0, 8), st.sampled_from(["a", "b", None]),
                  st.sampled_from([1.0, 2.0, None])),
        max_size=12, unique_by=lambda t: t[0],
    ),
)
def test_table_diff_matches_python_reference(spark, old_rows, new_rows):
    """table_diff == a direct dict-based diff with NULL-safe compares
    on arbitrary snapshots (unique keys per side)."""
    from rusty_timeseries_db_spark.operators.scd2 import table_diff

    schema = "k long, s string, v double"
    old = spark.createDataFrame(old_rows, schema)
    new = spark.createDataFrame(new_rows, schema)
    od = {t[0]: (t[1], t[2]) for t in old_rows}
    nd = {t[0]: (t[1], t[2]) for t in new_rows}
    want = {}
    for k in set(od) | set(nd):
        if k not in od:
            want[k] = ("added", "")
        elif k not in nd:
            want[k] = ("removed", "")
        else:
            changed = [
                name for name, i in (("s", 0), ("v", 1))
                if od[k][i] != nd[k][i]
            ]
            if changed:
                want[k] = ("changed", ",".join(sorted(changed)))
    got = {
        r.k: (r.change_type, r.changed_cols)
        for r in table_diff(old, new, keys=["k"]).collect()
    }
    assert got == want


@settings(max_examples=6, deadline=None)
@given(
    lists=st.dictionaries(
        st.sampled_from(["a", "b", "c"]),
        st.lists(
            st.tuples(st.integers(0, 10), st.integers(0, 5)),
            min_size=1, max_size=8, unique_by=lambda t: t[0],
        ),
        min_size=1, max_size=3,
    ),
    k=st.integers(1, 8),
)
def test_rrf_fuse_matches_python_reference(spark, lists, k):
    """rrf_fuse == direct Python RRF with (score desc, id asc) ranks
    and (rrf desc, id asc) final ordering on arbitrary bounded lists."""
    from rusty_timeseries_db_spark.operators.retrieval import rrf_fuse

    scores = {}
    nlists = {}
    for name, rows in lists.items():
        ranked = sorted(rows, key=lambda t: (-t[1], t[0]))
        for rank, (doc, _s) in enumerate(ranked, start=1):
            scores[doc] = scores.get(doc, 0.0) + 1.0 / (60 + rank)
            nlists[doc] = nlists.get(doc, 0) + 1
    want = sorted(
        ((doc, nlists[doc], round(s, 6)) for doc, s in scores.items()),
        key=lambda t: (-t[2], t[0]),
    )[:k]

    rankings = {
        name: (
            spark.createDataFrame(
                [(d, float(s)) for d, s in rows], "doc_id long, s double"
            ),
            "s",
        )
        for name, rows in lists.items()
    }
    got = [
        (r.doc_id, r.n_lists, r.rrf)
        for r in rrf_fuse(rankings, id_col="doc_id", k=k).collect()
    ]
    # compare as SETS keyed by doc: ties at the k-cut may order
    # differently between the reference sort and Spark's limit ONLY
    # when rrf scores tie at the boundary — both break on doc id, so
    # the selected set and every (n_lists, rrf) value must agree
    assert got == want


@settings(max_examples=6, deadline=None)
@given(
    docs=st.lists(
        st.tuples(
            st.integers(0, 30),
            st.sampled_from(["d1", "d2"]),
            st.integers(0, 6),   # token count
        ),
        min_size=1, max_size=15, unique_by=lambda t: t[0],
    ),
    budget=st.integers(1, 40),
)
def test_token_budget_sample_matches_python_reference(spark, docs, budget):
    """token_budget_sample == a direct Python fill over the md5-key
    order (the crossing doc kept, exhausted domains fully kept)."""
    import hashlib

    from rusty_timeseries_db_spark.operators.sampling import (
        token_budget_sample,
    )

    rows = [(i, dom, "w " * n) for i, dom, n in docs]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")

    def hk(i):
        return hashlib.md5(f"budget{i}".encode()).hexdigest()

    want = {}
    for dom in ("d1", "d2"):
        run = 0
        for i, _, n in sorted(
            (d for d in docs if d[1] == dom), key=lambda d: (hk(d[0]), d[0])
        ):
            if run < budget:
                want[i] = (n, run)
            run += n

    got = {
        r.doc_id: (r.n_tok, r.tokens_before)
        for r in token_budget_sample(
            df, {"d1": budget, "d2": budget}, domain_col="source"
        ).collect()
    }
    assert got == want


# -------------------------------------- operators (property)

@settings(max_examples=6, deadline=None)
@given(
    digits=st.lists(
        st.text(alphabet="0123456789", min_size=13, max_size=19),
        min_size=1, max_size=12,
    ),
)
def test_luhn_matches_python_reference(spark, digits):
    """luhn_valid == a direct Python Luhn on arbitrary 13-19-digit
    strings (one createDataFrame per example, all rows checked)."""
    from pyspark.sql import functions as F

    from rusty_timeseries_db_spark.functions.text import luhn_valid

    def py_luhn(s: str) -> bool:
        total = 0
        for i, ch in enumerate(reversed(s), start=1):
            d = int(ch)
            if i % 2 == 0:
                d *= 2
                if d > 9:
                    d -= 9
            total += d
        return total % 10 == 0

    df = spark.createDataFrame([(s,) for s in digits], "s string")
    got = {r.s: r.ok for r in df.select("s", luhn_valid("s").alias("ok")).collect()}
    for s in digits:
        assert got[s] == py_luhn(s), s


@settings(max_examples=6, deadline=None)
@given(
    texts=st.lists(
        st.text(
            alphabet=st.characters(codec="ascii",
                                   exclude_categories=("Cc", "Cs")),
            max_size=60,
        ),
        min_size=1, max_size=10,
    ),
)
def test_char_entropy_matches_python_reference(spark, texts):
    """char_entropy == a Counter-based Python Shannon entropy on
    arbitrary ASCII strings (lowercased, 6-dp rounding on both
    sides)."""
    import math
    from collections import Counter

    from rusty_timeseries_db_spark.operators.profile import char_entropy

    def py_entropy(t: str) -> tuple[int, float]:
        t = (t or "").lower()
        if not t:
            return 0, 0.0
        n = len(t)
        clogc = sum(c * math.log2(c) for c in Counter(t).values())
        return n, round(math.log2(n) - clogc / n, 6)

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id bigint, text string"
    )
    got = {r.doc_id: (r.n_chars, r.entropy_bits)
           for r in char_entropy(df).collect()}
    for i, t in enumerate(texts):
        n, h = py_entropy(t)
        gn, gh = got[i]
        assert gn == n, (t, gn, n)
        assert abs(gh - h) <= 1e-6, (t, gh, h)


@settings(max_examples=6, deadline=None)
@given(
    docs=st.lists(
        st.text(alphabet="abcdefghijklmnopqrstuvwxyz ,.!?0123456789",
                max_size=80),
        min_size=1, max_size=8,
    ),
)
def test_language_id_matches_python_reference(spark, docs):
    """language_id == a direct Python implementation of the pinned
    trigram scoring (same normalization, same profiles, same
    argmax/tie-break) on arbitrary texts."""
    import re

    from rusty_timeseries_db_spark.operators.langid import (
        LANGID_SEED_WORDS,
        langid_profiles,
        language_id,
    )

    profs = langid_profiles()
    langs = sorted(LANGID_SEED_WORDS)

    def py_classify(t: str) -> tuple[str, int]:
        s = " " + re.sub(r"[^a-z]+", " ", (t or "").lower()).strip() + " "
        scores = dict.fromkeys(langs, 0)
        for i in range(max(len(s) - 2, 0)):
            tg = s[i:i + 3]
            for lang in langs:
                w = profs[lang].get(tg)
                if w:
                    scores[lang] += w
        best = max(langs, key=lambda lang: (scores[lang], ) + (tuple(
            -ord(c) for c in lang),))
        if scores[best] == 0:
            return "und", 0
        return best, scores[best]

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(docs)], "doc_id bigint, text string"
    )
    got = {r.doc_id: (r.lang_id, r.lang_score)
           for r in language_id(df).collect()}
    for i, t in enumerate(docs):
        assert got[i] == py_classify(t), (t, got[i], py_classify(t))


@settings(max_examples=10, deadline=None)
@given(
    w=st.integers(1, 4000), h=st.integers(1, 3000),
    dur=st.integers(0, 10**7), ts=st.integers(1, 90000),
    version=st.integers(0, 1),
)
def test_mp4_meta_roundtrip(w, h, dur, ts, version):
    """decode_mp4_meta inverts a synthesized box tree for arbitrary
    dims/duration/timescale in both mvhd/tkhd versions."""
    from rusty_timeseries_db_spark.operators.multimodal import decode_mp4_meta

    def box(t, payload):
        return (8 + len(payload)).to_bytes(4, "big") + t + payload

    ftyp = box(b"ftyp", b"isom" + bytes(4))
    if version == 0:
        mvhd = box(b"mvhd", bytes(12) + ts.to_bytes(4, "big")
                   + dur.to_bytes(4, "big"))
        tk = bytearray(84)
        tk[76:80] = (w << 16).to_bytes(4, "big")
        tk[80:84] = (h << 16).to_bytes(4, "big")
    else:
        mvhd = box(b"mvhd", b"\x01" + bytes(19) + ts.to_bytes(4, "big")
                   + dur.to_bytes(8, "big"))
        tk = bytearray(96)
        tk[0] = 1
        tk[88:92] = (w << 16).to_bytes(4, "big")
        tk[92:96] = (h << 16).to_bytes(4, "big")
    data = ftyp + box(b"moov", mvhd + box(b"trak", box(b"tkhd", bytes(tk))))
    brand, got_dur, got_w, got_h = decode_mp4_meta(data)
    assert brand == "isom"
    assert got_dur == dur * 1000 // ts
    assert (got_w, got_h) == (w, h)


# ------------------------------------------------- AUC / KM

@settings(max_examples=8, deadline=None)
@given(
    rows=st.lists(
        st.tuples(
            st.sampled_from([0.1, 0.25, 0.5, 0.5, 0.75, 0.9]),  # ties likely
            st.booleans(),
        ),
        min_size=2,
        max_size=30,
    )
)
def test_binary_auc_matches_pairwise_bruteforce(spark, rows):
    """binary_auc's rank identity must equal the O(n^2) pairwise
    definition P(s+ > s-) + 0.5*P(s+ = s-) on random tied data."""
    from rusty_timeseries_db_spark.operators.quality import binary_auc

    df = spark.createDataFrame(
        [(s, p) for s, p in rows], "s double, pos boolean"
    )
    got = binary_auc(df, "s", "pos").collect()[0]
    pos = [s for s, p in rows if p]
    neg = [s for s, p in rows if not p]
    assert (got.n_pos, got.n_neg) == (len(pos), len(neg))
    if not pos or not neg:
        assert got.auc is None
        return
    wins = sum(
        1.0 if sp > sn else (0.5 if sp == sn else 0.0)
        for sp in pos
        for sn in neg
    )
    assert got.auc == round(wins / (len(pos) * len(neg)), 9)


@settings(max_examples=8, deadline=None)
@given(
    users=st.lists(
        st.tuples(
            st.integers(0, 6),   # first-activity day offset
            st.integers(0, 20),  # lifetime span in days
        ),
        min_size=1,
        max_size=25,
    )
)
def test_kaplan_meier_matches_reference_estimator(spark, users):
    """kaplan_meier vs a direct python KM over random lifetimes with a
    single cohort (granularity='day' pins every user to their first
    day; unit_days=1): risk sets, exits, censoring, and the quantized
    survival product all match."""
    import datetime as dt
    import math

    from rusty_timeseries_db_spark.operators.funnel import kaplan_meier

    base = dt.datetime(2024, 1, 1, 8)
    rows = []
    for i, (start, span) in enumerate(users):
        rows.append((f"u{i}", base + dt.timedelta(days=start)))
        rows.append((f"u{i}", base + dt.timedelta(days=start + span)))
    df = spark.createDataFrame(rows, "user_id string, ts timestamp")
    got = {
        (r.cohort, r.t): r
        for r in kaplan_meier(
            df, "user_id", "ts", granularity="day", unit_days=1
        ).collect()
    }

    obs_end = max(start + span for start, span in users)
    # python reference per cohort (= first day)
    from collections import defaultdict

    cohorts = defaultdict(list)
    for start, span in users:
        cohorts[start].append((span, span < obs_end - start))
    for start, members in cohorts.items():
        cohort = (base + dt.timedelta(days=start)).strftime("%Y-%m-%d")
        steps = sorted({t for t, _ in members})
        at_risk = len(members)
        logsum = 0.0
        extinct = False
        for t in steps:
            d = sum(1 for tt, ev in members if tt == t and ev)
            c = sum(1 for tt, ev in members if tt == t and not ev)
            row = got[(cohort, t)]
            assert (row.n_at_risk, row.churned, row.censored) == (
                at_risk, d, c,
            )
            if d == at_risk:
                extinct = True
            elif d > 0:
                logsum += round(math.log((at_risk - d) / at_risk), 12)
            want = 0.0 if extinct else round(math.exp(logsum), 9)
            assert row.survival == want, (cohort, t)
            at_risk -= d + c


@settings(max_examples=8, deadline=None)
@given(
    docs=st.lists(
        st.sampled_from([
            "good clean prose", "spam spam spam", "a", "",
            "mixed good spam text", "one two three four five",
        ]),
        min_size=1,
        max_size=12,
    ),
    weights=st.dictionaries(
        st.integers(0, 255), st.integers(-1_000_000, 1_000_000),
        max_size=20,
    ),
    bias=st.integers(-500_000, 500_000),
)
def test_quality_score_matches_reference(spark, docs, weights, bias):
    """quality_classifier_score vs the direct python computation on
    random weight maps, biases, and degenerate docs."""
    import hashlib
    import math

    from rusty_timeseries_db_spark.operators.quality import (
        WEIGHT_SCALE,
        quality_classifier_score,
    )

    n_buckets = 256
    df = spark.createDataFrame(
        list(enumerate(docs)), "doc_id int, text string"
    )
    wdf = spark.createDataFrame(
        list(weights.items()) or [(0, 0)],
        "bucket long, weight_micro long",
    )
    got = {
        r.doc_id: r
        for r in quality_classifier_score(
            df, "doc_id", "text", wdf, n_buckets=n_buckets,
            bias_micro=bias,
        ).collect()
    }
    wmap = dict(weights.items()) or {0: 0}
    for i, text in enumerate(docs):
        ws = [t for t in text.lower().split(" ") if t]
        feats = ws + (
            [f"{a} {b}" for a, b in zip(ws, ws[1:])] if len(ws) >= 2 else []
        )
        if not feats:
            want = round(1 / (1 + math.exp(-bias / WEIGHT_SCALE)), 9)
        else:
            dot = sum(
                wmap.get(
                    int(hashlib.md5(f.encode()).hexdigest()[:8], 16)
                    % n_buckets,
                    0,
                )
                for f in feats
            )
            logit = (dot + bias * len(feats)) / (len(feats) * WEIGHT_SCALE)
            want = round(1 / (1 + math.exp(-logit)), 9)
        assert got[i].quality_score == want, (i, text)
        assert got[i].keep == (want >= 0.5)


@settings(max_examples=8, deadline=None)
@given(
    subjects=st.lists(
        st.tuples(
            st.integers(0, 2),    # group index
            st.integers(1, 15),   # event/censor time
            st.booleans(),        # churned?
        ),
        min_size=4,
        max_size=40,
    )
)
def test_logrank_matches_reference_statistic(spark, subjects):
    """logrank vs the direct textbook computation (group-vs-rest,
    hypergeometric E/V per pooled churn time) over random multi-group
    lifetimes — observed exactly, expected/variance to the 12dp
    quantization, chi2 to the rounding of the final division."""
    from rusty_timeseries_db_spark.operators.funnel import logrank

    rows = [(f"g{g}", t, int(c)) for g, t, c in subjects]
    df = spark.createDataFrame(rows, "grp string, t long, churned int")
    got = {
        r.grp: r
        for r in logrank(
            df, group_col="grp", t_col="t", churned_col="churned"
        ).collect()
    }
    groups = sorted({g for g, _, _ in rows})
    n0 = {g: sum(1 for gg, _, _ in rows if gg == g) for g in groups}
    churn_times = sorted({t for _, t, c in rows if c == 1})
    if not churn_times:
        # no churn anywhere: no pooled churn times survive the grid,
        # so there is nothing to test a difference ON — zero rows
        # (pinned in test_logrank_degenerate_cases)
        assert got == {}
        return
    for g1 in groups:
        O = 0
        E = V = 0.0
        for t in churn_times:
            n = {
                g: n0[g]
                - sum(1 for gg, tt, _ in rows if gg == g and tt < t)
                for g in groups
            }
            d = {
                g: sum(
                    1 for gg, tt, c in rows if gg == g and tt == t and c
                )
                for g in groups
            }
            n_all, d_all = sum(n.values()), sum(d.values())
            n1 = n.get(g1, 0)
            O += d.get(g1, 0)
            E += round(d_all * n1 / n_all, 12)
            if n_all > 1:
                V += round(
                    d_all * n1 * (n_all - n1) * (n_all - d_all)
                    / (n_all * n_all * (n_all - 1)),
                    12,
                )
        row = got[g1]
        assert row.n_subjects == n0[g1] and row.observed == O
        assert row.expected == pytest.approx(E, abs=1e-9)
        assert row.variance == pytest.approx(V, abs=1e-9)
        if V <= 0:
            assert row.chi2 is None and row.p_class == "undefined"
        else:
            assert row.chi2 == pytest.approx(
                (O - E) ** 2 / V, abs=1e-4
            )


@settings(max_examples=6, deadline=None)
@given(
    docs=st.lists(
        st.tuples(
            st.sampled_from(["en", "fr", "de"]),
            st.booleans(),
            st.sampled_from([
                "good clean prose", "spam spam spam", "alpha beta gamma",
                "buy now cheap", "the quick brown fox", "x",
            ]),
        ),
        min_size=2,
        max_size=20,
    )
)
def test_grouped_weights_equal_solo_training_random(spark, docs):
    """Property form of the per-group-head contract: for EVERY group
    present, train_quality_weights(group_col=) equals the ungrouped
    trainer on that group's rows alone — over random multi-lang
    labeled corpora (including single-class groups, where both forms
    smooth against the same empty side)."""
    from rusty_timeseries_db_spark.operators.quality import (
        train_quality_weights,
    )

    rows = [
        (f"d{i}", lang, pos, text)
        for i, (lang, pos, text) in enumerate(docs)
    ]
    df = spark.createDataFrame(
        rows, "doc_id string, lang string, pos boolean, text string"
    )
    grouped = {
        (r.lang, r.bucket): r.weight_micro
        for r in train_quality_weights(
            df, "text", "pos", n_buckets=16, group_col="lang"
        ).collect()
    }
    langs = {lang for _, lang, _, _ in rows}
    assert len(grouped) == 16 * len(langs)
    for lang in langs:
        solo = {
            r.bucket: r.weight_micro
            for r in train_quality_weights(
                df.filter(F.col("lang") == lang), "text", "pos",
                n_buckets=16,
            ).collect()
        }
        assert solo == {
            b: w for (lg, b), w in grouped.items() if lg == lang
        }


@settings(max_examples=6, deadline=None)
@given(
    subjects=st.lists(
        st.tuples(
            st.integers(0, 2),    # group index
            st.integers(1, 15),   # event/censor time
            st.booleans(),        # churned?
        ),
        min_size=2,
        max_size=40,
    )
)
def test_nelson_aalen_matches_reference(spark, subjects):
    """nelson_aalen vs the direct textbook pass over random
    multi-group lifetimes: exact risk sets, 12dp per-step d/n
    quantization, exact-decimal cumulative hazard, 9dp exp(-H)."""
    import math
    from decimal import Decimal

    from rusty_timeseries_db_spark.operators.funnel import nelson_aalen

    rows = [(f"g{g}", t, int(c)) for g, t, c in subjects]
    df = spark.createDataFrame(rows, "grp string, t long, churned int")
    got = {
        (r.grp, r.t): r
        for r in nelson_aalen(
            df, group_col="grp", t_col="t", churned_col="churned"
        ).collect()
    }
    seen = set()
    for g in sorted({g for g, _, _ in rows}):
        mine = [(t, c) for gg, t, c in rows if gg == g]
        n = len(mine)
        cum = Decimal(0)
        for t in sorted({t for t, _ in mine}):
            d = sum(1 for tt, c in mine if tt == t and c)
            x = sum(1 for tt, _ in mine if tt == t)
            if d:
                cum += Decimal(str(round(d / n, 12)))
            row = got[(g, t)]
            seen.add((g, t))
            assert row.n_at_risk == n
            assert (row.churned, row.censored) == (d, x - d)
            assert row.cum_hazard == pytest.approx(float(cum), abs=1e-12)
            assert row.fh_survival == round(math.exp(-float(cum)), 9)
            n -= x
    assert seen == set(got)


@settings(max_examples=6, deadline=None)
@given(
    groups=st.lists(
        st.lists(
            st.tuples(
                st.integers(0, 20),                    # step time
                st.integers(0, 1000),                  # survival milli
            ),
            min_size=1,
            max_size=8,
        ),
        min_size=1,
        max_size=3,
    ),
    horizon=st.integers(1, 25),
)
def test_rmst_matches_step_integral(spark, groups, horizon):
    """rmst vs the direct right-continuous step integral over random
    step tables (arbitrary survival values — the integral does not
    assume monotonicity)."""
    from decimal import Decimal

    rows = []
    ref = {}
    for gi, steps in enumerate(groups):
        g = f"g{gi}"
        uniq = sorted({t for t, _ in steps})
        vals = {t: s for t, s in steps}          # last wins per t
        table = [(t, vals[t] / 1000.0) for t in uniq]
        for t, s in table:
            rows.append((g, t, 1, 0, s))
        area = Decimal(min(table[0][0], horizon))
        for i, (t, s) in enumerate(table):
            nxt = table[i + 1][0] if i + 1 < len(table) else horizon
            w = max(0, min(nxt, horizon) - min(t, horizon))
            area += Decimal(str(round(s, 9))) * w
        ref[g] = (float(area), len(table))
    from rusty_timeseries_db_spark.operators.funnel import rmst

    df = spark.createDataFrame(
        rows, "cohort string, t long, churned long, censored long, "
        "survival double"
    )
    got = {r.cohort: r for r in rmst(df, horizon=horizon).collect()}
    for g, (area, n) in ref.items():
        assert got[g].rmst == pytest.approx(area, abs=1e-9), g
        assert got[g].n_subjects == n and got[g].horizon == horizon


@settings(max_examples=6, deadline=None)
@given(
    subjects=st.lists(
        st.tuples(
            st.integers(0, 3),
            st.integers(1, 12),
            st.booleans(),
        ),
        min_size=4,
        max_size=40,
    )
)
def test_logrank_omnibus_matches_reference(spark, subjects):
    """omnibus chi2 equals sum_g (O_g - E_g)^2 / E_g with E from the
    quantized textbook pass; k/df/n bookkeeping exact."""
    from rusty_timeseries_db_spark.operators.funnel import logrank_omnibus

    rows = [(f"g{g}", t, int(c)) for g, t, c in subjects]
    df = spark.createDataFrame(rows, "grp string, t long, churned int")
    (row,) = logrank_omnibus(
        df, group_col="grp", t_col="t", churned_col="churned"
    ).collect()
    groups = sorted({g for g, _, _ in rows})
    n0 = {g: sum(1 for gg, _, _ in rows if gg == g) for g in groups}
    churn_times = sorted({t for _, t, c in rows if c == 1})
    if not churn_times:
        assert row.k_groups == 0 and row.p_class == "undefined"
        return
    ss = 0.0
    for g1 in groups:
        O, E = 0, 0.0
        for t in churn_times:
            n = {
                g: n0[g]
                - sum(1 for gg, tt, _ in rows if gg == g and tt < t)
                for g in groups
            }
            d = {
                g: sum(
                    1 for gg, tt, c in rows if gg == g and tt == t and c
                )
                for g in groups
            }
            n_all, d_all = sum(n.values()), sum(d.values())
            O += d.get(g1, 0)
            E += round(d_all * n.get(g1, 0) / n_all, 12)
        if E > 0:
            ss += round((O - E) ** 2 / E, 12)
    assert row.k_groups == len(groups)
    assert row.n_subjects == sum(n0.values())
    if len(groups) < 2:
        assert row.chi2 is None and row.p_class == "undefined"
    else:
        assert row.df == len(groups) - 1
        assert row.chi2 == pytest.approx(ss, abs=1e-6)


@settings(max_examples=4, deadline=None)
@given(
    docs=st.lists(
        st.tuples(
            st.sampled_from(["a", "b", "c"]),
            st.sampled_from([
                "alpha beta", "beta gamma delta", "spam spam",
                "quick brown fox", "x", "",
            ]),
        ),
        min_size=2,
        max_size=12,
    )
)
def test_multiclass_classify_matches_reference(spark, docs):
    """multiclass_classify vs a pure-python replay of the quantized
    argmax + max-shift softmax over the Spark-trained weight table,
    for random multi-class corpora (featureless docs included)."""
    import hashlib
    import math
    from decimal import Decimal

    from rusty_timeseries_db_spark.operators.quality import (
        WEIGHT_SCALE,
        multiclass_classify,
        train_multiclass_weights,
    )

    nb = 32
    rows = [(i, c, t) for i, (c, t) in enumerate(docs)]
    d = spark.createDataFrame(rows, "doc_id long, cls string, text string")
    w = train_multiclass_weights(
        d, text_col="text", class_col="cls", n_buckets=nb
    )
    wrows = w.collect()
    wmap = {(r.cls, r.bucket): r.weight_micro for r in wrows}
    bias = {r.cls: r.bias_micro for r in wrows}
    classes = sorted(bias)
    got = {
        r.doc_id: r
        for r in multiclass_classify(
            d, id_col="doc_id", text_col="text", weights=w,
            class_col="cls", n_buckets=nb,
        ).collect()
    }
    for i, _, text in rows:
        ws = [t for t in text.lower().split(" ") if t]
        grams = (
            [f"{a} {b}" for a, b in zip(ws, ws[1:])] if len(ws) >= 2 else []
        )
        buckets = [
            int(hashlib.md5(f.encode()).hexdigest()[:8], 16) % nb
            for f in ws + grams
        ]
        nf = len(buckets)
        logits = {}
        for c in classes:
            if nf:
                dot = sum(wmap[(c, b)] for b in buckets)
                logits[c] = round(
                    (bias[c] * nf + dot) / (nf * WEIGHT_SCALE), 12
                )
            else:
                logits[c] = round(bias[c] / WEIGHT_SCALE, 12)
        m = max(logits.values())
        z = {
            c: Decimal(str(round(math.exp(v - m), 12)))
            for c, v in logits.items()
        }
        zs = sum(z.values())
        best = max(logits.values())
        pred = sorted(c for c, v in logits.items() if v == best)[0]
        assert got[i].pred_class == pred, (i, text)
        assert got[i].n_feats == nf
        assert got[i].prob == round(float(z[pred] / zs), 9)
