"""Downsampling operators (operators/downsample.py): LTTB invariants
(endpoints kept, spikes survive, size bound, determinism) and min-max
decimation extrema preservation."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from rusty_timeseries_db_spark.operators.downsample import lttb, minmax_decimate


def _series(spark, rows):
    return spark.createDataFrame(
        rows, "k string, ts_raw string, value double, rid int"
    ).select("k", F.to_timestamp("ts_raw").alias("ts"), "value", "rid")


def _wave(k, n, spike_at=None):
    rows = []
    for i in range(n):
        v = math.sin(i / 7.0) * 10.0
        if spike_at is not None and i == spike_at:
            v = 500.0
        rows.append(
            (k, f"2024-01-01 {i // 3600:02d}:{(i // 60) % 60:02d}:{i % 60:02d}",
             v, i)
        )
    return rows


def test_lttb_size_endpoints_and_spike(spark):
    df = _series(spark, _wave("a", 2000, spike_at=777))
    out = lttb(df, ["k"], n_out=50).orderBy("ts").collect()
    assert len(out) == 50
    src = sorted(_wave("a", 2000, spike_at=777), key=lambda r: r[1])
    assert str(out[0].ts) == src[0][1] and str(out[-1].ts) == src[-1][1]
    # the 500.0 spike dominates every triangle in its bucket
    assert any(r.value == 500.0 for r in out)


def test_lttb_passthrough_and_determinism(spark):
    small = _series(spark, _wave("a", 40))
    assert lttb(small, ["k"], n_out=200).count() == 40

    big = _series(spark, _wave("a", 1500) + _wave("b", 900))
    a = sorted(map(tuple, lttb(big, ["k"], n_out=64).collect()))
    b = sorted(map(tuple, lttb(big.repartition(7), ["k"], n_out=64).collect()))
    assert a == b
    # per-series cap applies independently
    per_k = {r[0] for r in a}
    assert per_k == {"a", "b"}

    with pytest.raises(ValueError):
        lttb(big, ["k"], n_out=2)


def test_minmax_decimate_preserves_extrema(spark):
    df = _series(spark, _wave("a", 7200, spike_at=4000))
    out = minmax_decimate(
        df, ["k"], id_col="rid", bucket_seconds=1800
    )
    vals = [r.value for r in out.collect()]
    # global extrema survive any bucketing
    assert max(vals) == 500.0
    assert min(vals) == min(v for _, _, v, _ in _wave("a", 7200, spike_at=4000))
    # ≤ 2 rows per (series, bucket)
    counts = (
        out.groupBy("k", "bucket_start").count().agg(F.max("count")).collect()
    )
    assert counts[0][0] <= 2


def test_lttb_deterministic_with_duplicate_timestamps(spark):
    rows = _wave("a", 600)
    # duplicate every 10th timestamp with a different value
    dups = [(k, ts, v + 37.0, rid + 10_000)
            for (k, ts, v, rid) in rows[::10]]
    df = _series(spark, rows + dups)
    a = sorted(map(tuple, lttb(df, ["k"], n_out=40).collect()))
    b = sorted(map(tuple, lttb(df.repartition(11), ["k"], n_out=40).collect()))
    assert a == b


def test_minmax_decimate_requires_id_col(spark):
    """The deterministic tie-break cannot be silently
    omitted — absent id_col raises; an EXPLICIT None is an opt-out
    that warns."""
    import warnings

    df = _series(spark, _wave("a", 100))
    with pytest.raises(TypeError, match="id_col is required"):
        minmax_decimate(df, ["k"], bucket_seconds=60)
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        minmax_decimate(df, ["k"], id_col=None, bucket_seconds=60)
    assert any("nondeterministic" in str(x.message) for x in w)


def test_lttb_memory_guard_bounds_group_size(spark):
    """A series over max_group_rows is
    pre-decimated JVM-side so the pandas group is bounded BY
    CONSTRUCTION — and the guard keeps endpoints and extremes."""
    from rusty_timeseries_db_spark.operators.downsample import (
        _bound_series_rows,
    )

    df = _series(spark, _wave("a", 5000, spike_at=3333) + _wave("b", 80))
    capped = _bound_series_rows(df, ["k"], "ts", "value", 200)
    per_series = {
        r.k: r["count"] for r in capped.groupBy("k").count().collect()
    }
    assert per_series["a"] <= 200          # oversized series bounded...
    assert per_series["b"] == 80           # ...in-cap series untouched
    vals_a = [r.value for r in capped.filter("k = 'a'").collect()]
    assert max(vals_a) == 500.0            # bucket extremes survive
    src = sorted(_wave("a", 5000, spike_at=3333), key=lambda r: r[1])
    ts_a = {str(r.ts) for r in capped.filter("k = 'a'").collect()}
    assert src[0][1] in ts_a and src[-1][1] in ts_a  # endpoints kept


def test_lttb_guard_end_to_end_and_noop_on_small(spark):
    big = _series(spark, _wave("a", 4000, spike_at=2222))
    out = lttb(big, ["k"], n_out=50, max_group_rows=200).orderBy("ts").collect()
    assert len(out) == 50
    src = sorted(_wave("a", 4000, spike_at=2222), key=lambda r: r[1])
    assert str(out[0].ts) == src[0][1] and str(out[-1].ts) == src[-1][1]
    assert any(r.value == 500.0 for r in out)  # spike survives the guard

    # a series inside the cap: guarded output == unguarded output
    small = _series(spark, _wave("c", 150))
    a = sorted(map(tuple, lttb(small, ["k"], n_out=60,
                               max_group_rows=500).collect()))
    b = sorted(map(tuple, lttb(small, ["k"], n_out=60,
                               max_group_rows=None).collect()))
    assert a == b

    with pytest.raises(ValueError, match="2\\*n_out"):
        lttb(big, ["k"], n_out=50, max_group_rows=60)


def test_minmax_decimate_null_values_never_win(spark):
    """A NULL reading is a missing measurement, not an
    extreme — nulls order LAST on both legs, so the picked min/max
    rows are always real values; an all-NULL bucket degenerates to
    one (honest) NULL row."""
    from datetime import datetime

    from rusty_timeseries_db_spark.operators.downsample import (
        minmax_decimate,
    )

    t0 = datetime(2024, 1, 1, 0, 0, 0)
    rows = [
        # bucket 1: NULL beside real values — NULL must not be picked
        ("a", t0.replace(minute=1), None, 1),
        ("a", t0.replace(minute=2), 5.0, 2),
        ("a", t0.replace(minute=3), 1.0, 3),
        # bucket 2 (next hour): all NULL — one degenerate row kept
        ("a", t0.replace(hour=1, minute=1), None, 4),
        ("a", t0.replace(hour=1, minute=2), None, 5),
    ]
    df = spark.createDataFrame(
        rows, "k string, ts timestamp, value double, id int"
    )
    got = minmax_decimate(
        df, ["k"], id_col="id", bucket_seconds=3600
    ).collect()
    b1 = sorted(r.id for r in got if r.ts.hour == 0)
    assert b1 == [2, 3]  # the real min and max rows, never the NULL
    b2 = [r for r in got if r.ts.hour == 1]
    assert len(b2) == 1 and b2[0].value is None and b2[0].id == 4


def test_m4_decimate_pixel_contract(spark):
    """Every bucket keeps its min, max, first and last rows
    (<= 4 rows, multi-role rows once); NULL values never win a value
    leg."""
    from datetime import datetime

    from rusty_timeseries_db_spark.operators.downsample import m4_decimate

    t0 = datetime(2024, 1, 1, 0, 0, 0)
    rows = [
        # one bucket: first(id 1), max(id 2), min(id 3), last(id 5);
        # id 4 is interior and must be dropped; a NULL value rides in
        # the middle and must never win min/max
        ("a", t0.replace(minute=1), 5.0, 1),
        ("a", t0.replace(minute=2), 9.0, 2),
        ("a", t0.replace(minute=3), 1.0, 3),
        ("a", t0.replace(minute=4), 6.0, 4),
        ("a", t0.replace(minute=5), None, 6),
        ("a", t0.replace(minute=6), 5.5, 5),
        # single-row bucket: the row fills all four roles, appears once
        ("a", t0.replace(hour=1, minute=1), 7.0, 7),
    ]
    df = spark.createDataFrame(
        rows, "k string, ts timestamp, value double, id int"
    )
    got = m4_decimate(df, ["k"], id_col="id", bucket_seconds=3600).collect()
    b1 = sorted(r.id for r in got if r.ts.hour == 0)
    # note id 6 (NULL value, minute 5) is neither first nor last nor
    # an extreme — dropped; id 5 (minute 6) is the last row
    assert b1 == [1, 2, 3, 5]
    b2 = [r.id for r in got if r.ts.hour == 1]
    assert b2 == [7]
