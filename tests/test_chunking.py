"""Document chunking (operators/chunking.py) invariants: window/
overlap arithmetic, tail handling, empty docs, zero-shuffle plan."""

from __future__ import annotations

import pytest

from rusty_timeseries_db_spark.operators.chunking import chunk_documents


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_chunk_windows_and_overlap(spark):
    words = [f"w{i}" for i in range(10)]
    df = _docs(spark, [(1, " ".join(words))])
    out = sorted(
        (r.chunk_id, r.chunk_text, r.n_tokens)
        for r in chunk_documents(
            df, ["doc_id"], chunk_tokens=4, overlap=1
        ).collect()
    )
    # stride 3: ceil((10-4)/3)+1 = 3 windows — token starts 0,3,6 and
    # the last window reaches w9, so coverage is complete with no
    # degenerate tail chunk
    assert out == [
        (0, "w0 w1 w2 w3", 4),
        (1, "w3 w4 w5 w6", 4),
        (2, "w6 w7 w8 w9", 4),
    ]
    # consecutive chunks share exactly `overlap` tokens
    for (_, a, _), (_, b, _) in zip(out, out[1:]):
        assert a.split()[-1:] == b.split()[:1]


def test_chunk_boundaries_and_empty(spark):
    df = _docs(spark, [
        (1, " ".join(f"w{i}" for i in range(4))),   # exactly one window
        (2, "one two"),                              # under budget
        (3, ""),                                     # empty
        (4, "   "),                                  # whitespace only
    ])
    out = chunk_documents(df, ["doc_id"], chunk_tokens=4, overlap=1)
    by_doc = {}
    for r in out.collect():
        by_doc.setdefault(r.doc_id, []).append(r)
    assert {k: len(v) for k, v in by_doc.items()} == {1: 1, 2: 1, 3: 1, 4: 1}
    assert by_doc[3][0].chunk_text == "" and by_doc[3][0].n_tokens == 0
    assert by_doc[4][0].n_tokens == 0
    # every input row survives — anti-join loses nothing
    assert out.select("doc_id").distinct().count() == 4

    with pytest.raises(ValueError, match="overlap"):
        chunk_documents(df, ["doc_id"], chunk_tokens=4, overlap=4)


def test_chunking_plan_has_no_shuffle(spark):
    df = _docs(spark, [(1, "a b c")])
    plan = (
        chunk_documents(df, ["doc_id"])
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan  # row-local: explode pipelines in-stage


def test_counter_rate_resets_and_single_sample(spark):
    from pyspark.sql import functions as F

    from rusty_timeseries_db_spark.operators.resample import counter_rate

    rows = [
        # series a: 10 -> 15 -> 3 (reset) -> 7 over 100 seconds
        ("a", "2024-01-01 00:00:00", 10.0, 1),
        ("a", "2024-01-01 00:00:40", 15.0, 2),
        ("a", "2024-01-01 00:01:00", 3.0, 3),
        ("a", "2024-01-01 00:01:40", 7.0, 4),
        # series b: one sample — no rate
        ("b", "2024-01-01 00:00:00", 5.0, 5),
    ]
    df = spark.createDataFrame(
        rows, "k string, ts_raw string, value double, eid int"
    ).select("k", F.to_timestamp("ts_raw").alias("ts"), "value", "eid")
    got = {
        r.k: r
        for r in counter_rate(
            df, key="k", ts="ts", value="value", order_tiebreak="eid"
        ).collect()
    }
    a = got["a"]
    # increase = 5 + 3 (post-reset absolute) + 4 = 12 over 100 s
    assert a.total_increase == 12.0 and a.n_resets == 1
    assert a.rate_per_second == pytest.approx(0.12)
    assert a.span_us == 100_000_000
    b = got["b"]
    assert b.rate_per_second is None and b.n_samples == 1


def test_chunk_null_text_yields_one_empty_chunk(spark):
    """NULL text must behave like the empty doc — one
    chunk, n_tokens 0 (size(NULL) would otherwise leak -1 into token
    sums)."""
    df = spark.createDataFrame([(1, None), (2, "a b")],
                               "doc_id long, text string")
    out = {r.doc_id: r for r in chunk_documents(df, ["doc_id"]).collect()}
    assert out[1].n_tokens == 0 and out[1].chunk_text == ""
    assert out[2].n_tokens == 2


def test_moving_median_null_frame_returns_null(spark):
    """An all-NULL leading frame must yield
    med7 NULL (DuckDB median-over-empty semantics), not an
    element_at(arr, 0) runtime error."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    rows = [(1, "t", "2024-01-01 00:00:00", None),
            (2, "t", "2024-01-01 00:00:01", None),
            (3, "t", "2024-01-01 00:00:02", 4.0)]
    df = spark.createDataFrame(
        rows, "event_id long, event_type string, ts_raw string, value double"
    ).select("event_id", "event_type",
             F.to_timestamp("ts_raw").alias("ts"), "value")
    w = (
        Window.partitionBy("event_type").orderBy("ts", "event_id")
        .rowsBetween(-6, 0)
    )
    arr = F.sort_array(F.collect_list("value").over(w))
    n = F.size(arr)
    lo = F.element_at(arr, ((n + 1) / 2).cast("int"))
    hi = F.element_at(arr, (n / 2 + 1).cast("int"))
    med = F.when(n > 0, (lo + hi) / 2)
    out = {r.event_id: r.med for r in
           df.select("event_id", med.alias("med")).collect()}
    assert out[1] is None and out[2] is None and out[3] == 4.0
