"""Trend statistics (Mann-Kendall, Theil-Sen) and state residence
durations — hand-computed semantics, guard behavior, and a
property-check against pure-Python references."""

from __future__ import annotations

import math
from datetime import datetime, timedelta
from decimal import Decimal

import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from rusty_timeseries_db_spark.operators.resample import state_durations
from rusty_timeseries_db_spark.operators.trend import mann_kendall, theil_sen

T0 = datetime(2024, 1, 1, 0, 0, 0)


def _daily(spark, rows):
    """rows: (key, day_index:int, value)"""
    return spark.createDataFrame(
        [(k, d, Decimal(str(v))) for k, d, v in rows],
        "k string, d int, v decimal(18,2)",
    )


def _mk_reference(values):
    """Pure-Python Mann-Kendall on an already-ordered value list."""
    n = len(values)
    s = 0
    for i in range(n):
        for j in range(i + 1, n):
            s += (values[j] > values[i]) - (values[j] < values[i])
    counts = {}
    for v in values:
        counts[v] = counts.get(v, 0) + 1
    tie = sum(t * (t - 1) * (2 * t + 5) for t in counts.values())
    var_num = n * (n - 1) * (2 * n + 5) - tie
    var_s = var_num / 18.0
    if var_num <= 0:
        z = None
    elif s > 0:
        z = (s - 1) / math.sqrt(var_s)
    elif s < 0:
        z = (s + 1) / math.sqrt(var_s)
    else:
        z = 0.0
    return s, var_s, z


def test_mann_kendall_hand_computed(spark):
    df = _daily(spark, [
        ("a", 1, 1), ("a", 2, 3), ("a", 3, 2), ("a", 4, 4),  # S=4, no tie
        ("b", 1, 1), ("b", 2, 1), ("b", 3, 2),               # tie pair
        ("c", 1, 5), ("c", 2, 5),                            # all tied
    ])
    got = {r.k: r for r in mann_kendall(df, "k", "d", "v").collect()}

    assert got["a"].n == 4 and got["a"].s_stat == 4
    s, var_s, z = _mk_reference([1, 3, 2, 4])
    assert got["a"].var_s == round(var_s, 6)
    assert got["a"].z_score == round(z, 6)

    assert got["b"].s_stat == 2
    s, var_s, z = _mk_reference([1, 1, 2])
    assert got["b"].var_s == round(var_s, 6)
    assert got["b"].z_score == round(z, 6)

    # every pair tied -> var 0 -> z undefined
    assert got["c"].s_stat == 0
    assert got["c"].var_s == 0.0
    assert got["c"].z_score is None


def test_theil_sen_lower_median(spark):
    # slopes: 1, 1, 0.3, 1, 2/9, 1/8 -> sorted lower median (rank 3
    # of 6) = 0.3
    df = _daily(spark, [("a", 0, 0), ("a", 1, 1), ("a", 2, 2), ("a", 10, 3)])
    row = theil_sen(df, "k", "d", "v").collect()[0]
    assert row.n_pairs == 6
    assert row.slope == 0.3


def test_theil_sen_odd_pair_count_and_single_point(spark):
    df = _daily(spark, [
        ("a", 0, 0), ("a", 1, 2), ("a", 2, 2),  # slopes 2, 1, 0 -> median 1
        ("solo", 0, 7),                          # <2 points -> no row
    ])
    rows = {r.k: r for r in theil_sen(df, "k", "d", "v").collect()}
    assert set(rows) == {"a"}
    assert rows["a"].n_pairs == 3
    assert rows["a"].slope == 1.0


def test_max_points_guard_raises(spark):
    df = _daily(spark, [("a", i, i) for i in range(12)])
    with pytest.raises(ValueError, match="max_points"):
        mann_kendall(df, "k", "d", "v", max_points=10)
    with pytest.raises(ValueError, match="max_points"):
        theil_sen(df, "k", "d", "v", max_points=10)
    # at the bound it runs
    assert mann_kendall(df, "k", "d", "v", max_points=12).count() == 1


def test_guard_reject_leaks_no_cache_and_caller_frame_unpersisted(spark):
    """A guard-rejected call must
    unpersist before raising (no leaked cache entry), and the persist
    must target an INTERNAL projection — the caller's frame is never
    marked persisted as a side effect."""
    spark.catalog.clearCache()
    jsc = spark.sparkContext._jsc.sc()
    n0 = jsc.getPersistentRDDs().size()
    df = _daily(spark, [("a", i, i) for i in range(12)])
    with pytest.raises(ValueError, match="max_points"):
        mann_kendall(df, "k", "d", "v", max_points=10)
    with pytest.raises(ValueError, match="max_points"):
        theil_sen(df, "k", "d", "v", max_points=10)
    assert jsc.getPersistentRDDs().size() == n0
    # a SUCCESSFUL call caches its internal projection, not the input
    # (the extra column keeps the caller's plan distinct from the
    # projection under CacheManager plan-canonicalization)
    wide = df.withColumn("extra", F.lit(1))
    out = mann_kendall(wide, "k", "d", "v", max_points=100)
    assert out.count() == 1
    assert wide.storageLevel.useMemory is False  # caller frame untouched
    spark.catalog.clearCache()


def test_max_points_guard_is_on_by_default(spark):
    """The guard defaults ON (5000) — a caller
    who passes raw ticks instead of bucketed series raises instead of
    silently exploding quadratically; ``max_points=None`` opts out."""
    df = _daily(spark, [("a", i, i % 7) for i in range(5001)])
    with pytest.raises(ValueError, match="max_points"):
        mann_kendall(df, "k", "d", "v")
    with pytest.raises(ValueError, match="max_points"):
        theil_sen(df, "k", "d", "v")
    # explicit opt-out still runs (bounded here to keep the test fast)
    small = _daily(spark, [("a", i, i) for i in range(5)])
    assert mann_kendall(small, "k", "d", "v", max_points=None).count() == 1


@settings(max_examples=6, deadline=None)
@given(values=st.lists(st.integers(-5, 5), min_size=2, max_size=20))
def test_mann_kendall_matches_python_reference(spark, values):
    df = _daily(spark, [("k", i, v) for i, v in enumerate(values)])
    row = mann_kendall(df, "k", "d", "v").collect()[0]
    s, var_s, z = _mk_reference(values)
    assert row.s_stat == s
    assert row.var_s == round(var_s, 6)
    assert row.z_score == (None if z is None else round(z, 6))


def _events(spark, rows):
    """rows: (user, state, seconds_offset, event_id)"""
    return spark.createDataFrame(
        [(u, s, T0 + timedelta(seconds=off), e) for u, s, off, e in rows],
        "user_id bigint, state string, ts timestamp, event_id bigint",
    )


def test_state_durations_hand_computed(spark):
    df = _events(spark, [
        (1, "A", 0, 1),    # A held 10s
        (1, "B", 10, 2),   # B held 20s
        (1, "A", 30, 3),   # A held 30s more -> A total 40s
        (1, "C", 60, 4),   # final obs: C contributes NO interval
    ])
    got = {
        (r.user_id, r.state): r
        for r in state_durations(
            df, key="user_id", state="state", order_tiebreak="event_id"
        ).collect()
    }
    assert set(got) == {(1, "A"), (1, "B")}
    assert got[(1, "A")].state_us == 40_000_000
    assert got[(1, "A")].n_intervals == 2
    assert got[(1, "B")].state_us == 20_000_000
    assert got[(1, "A")].frac == round(40 / 60, 6)
    assert got[(1, "B")].frac == round(20 / 60, 6)


def test_state_durations_zero_span_series_null_frac(spark):
    # both observations at the same timestamp: one 0-us interval,
    # zero covered span -> frac NULL (no defensible share)
    df = _events(spark, [(7, "A", 0, 1), (7, "B", 0, 2)])
    rows = state_durations(
        df, key="user_id", state="state", order_tiebreak="event_id"
    ).collect()
    assert len(rows) == 1
    assert rows[0].state == "A"
    assert rows[0].state_us == 0
    assert rows[0].frac is None


def test_state_durations_fracs_sum_to_one(spark):
    df = _events(spark, [
        (1, "A", 0, 1), (1, "B", 7, 2), (1, "A", 11, 3), (1, "D", 100, 4),
        (2, "X", 0, 1), (2, "Y", 3, 2), (2, "X", 9, 3),
    ])
    out = state_durations(
        df, key="user_id", state="state", order_tiebreak="event_id"
    )
    sums = {
        r.user_id: r.s
        for r in out.groupBy("user_id").agg(F.sum("frac").alias("s")).collect()
    }
    for v in sums.values():
        assert abs(v - 1.0) < 1e-5


def test_mann_kendall_single_point_series_emits(spark):
    """A 1-point series must emit (n=1, S=0, var 0,
    z NULL), not silently vanish from the output."""
    df = _daily(spark, [("solo", 0, 7), ("pair", 0, 1), ("pair", 1, 2)])
    got = {r.k: r for r in mann_kendall(df, "k", "d", "v").collect()}
    assert set(got) == {"solo", "pair"}
    assert (got["solo"].n, got["solo"].s_stat, got["solo"].var_s,
            got["solo"].z_score) == (1, 0, 0.0, None)
