"""Time-weighted average, counter increase (reset semantics), and
duplicate clustering — hand-computed semantics on tiny fixtures plus
convergence behavior."""

from __future__ import annotations

from pyspark.sql import functions as F

from rusty_timeseries_db_spark.operators.dedup import dedup_clusters
from rusty_timeseries_db_spark.operators.resample import (
    counter_increase,
    time_weighted_avg,
)


def _series(spark, rows):
    return spark.createDataFrame(
        rows, "k string, ts_s string, value double, seq long"
    ).select(
        "k", F.to_timestamp("ts_s").alias("ts"), "value", "seq"
    )


def test_time_weighted_avg_hand_computed(spark):
    df = _series(spark, [
        ("a", "2024-01-01 00:00:00", 10.0, 0),
        ("a", "2024-01-01 00:00:01", 20.0, 1),   # 10 held 1s
        ("a", "2024-01-01 00:00:04", 99.0, 2),   # 20 held 3s; 99 unweighted
        ("b", "2024-01-01 00:00:00", 5.0, 0),    # single obs -> dropped
    ])
    out = {r.k: (r.twa, r.total_us) for r in time_weighted_avg(
        df, key="k", ts="ts", value="value", order_tiebreak="seq"
    ).collect()}
    assert set(out) == {"a"}
    twa, total = out["a"]
    assert abs(twa - (10 * 1 + 20 * 3) / 4) < 1e-9  # 17.5, not mean 43
    assert total == 4_000_000


def test_time_weighted_avg_zero_span_series_dropped(spark):
    df = _series(spark, [
        ("z", "2024-01-01 00:00:00", 1.0, 0),
        ("z", "2024-01-01 00:00:00", 2.0, 1),  # same instant: weight 0
    ])
    assert time_weighted_avg(
        df, key="k", ts="ts", value="value", order_tiebreak="seq"
    ).count() == 0


def test_counter_increase_with_reset(spark):
    df = _series(spark, [
        ("c", "2024-01-01 00:00:00", 0.0, 0),
        ("c", "2024-01-01 00:00:01", 5.0, 1),    # +5
        ("c", "2024-01-01 00:00:02", 10.0, 2),   # +5
        ("c", "2024-01-01 00:00:03", 2.0, 3),    # reset -> +2
        ("c", "2024-01-01 00:00:04", 4.0, 4),    # +2
    ])
    (r,) = counter_increase(
        df, key="k", ts="ts", value="value", order_tiebreak="seq"
    ).collect()
    assert (r.total_increase, r.n_resets, r.n_samples) == (14.0, 1, 5)


def test_counter_increase_single_sample_is_zero(spark):
    df = _series(spark, [("s", "2024-01-01 00:00:00", 7.0, 0)])
    (r,) = counter_increase(
        df, key="k", ts="ts", value="value", order_tiebreak="seq"
    ).collect()
    assert (r.total_increase, r.n_resets, r.n_samples) == (0.0, 0, 1)


def _pairs(spark, edges):
    return spark.createDataFrame(edges, "id_a long, id_b long")


def test_dedup_clusters_transitive(spark):
    # 1-2, 2-3 chain plus separate 5-6: {1,2,3} and {5,6}
    out = {r.doc_id: r.cluster_id for r in dedup_clusters(
        _pairs(spark, [(1, 2), (2, 3), (5, 6)])
    ).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 5: 5, 6: 5}


def test_dedup_clusters_long_chain_converges(spark):
    # a path graph exercises multi-round propagation (diameter 9)
    chain = [(i, i + 1) for i in range(10)]
    out = {r.doc_id: r.cluster_id for r in dedup_clusters(
        _pairs(spark, chain)
    ).collect()}
    assert set(out.values()) == {0} and len(out) == 11


def test_dedup_clusters_deep_chain_pointer_jump(spark):
    """Pointer jumping converges in O(log diameter) rounds,
    so a diameter-64 path graph now resolves WITHIN the default
    max_iter=25 (the 1-hop loop needed ~64 rounds and silently
    returned partial labels at the bound)."""
    chain = [(i, i + 1) for i in range(64)]
    out = {r.doc_id: r.cluster_id for r in dedup_clusters(
        _pairs(spark, chain)
    ).collect()}
    assert set(out.values()) == {0} and len(out) == 65


def test_dedup_clusters_max_iter_bounds_total_rounds(spark):
    """max_iter bounds the TOTAL round count —
    the fused init is round 1, so max_iter=1 returns exactly the
    init labels (min over self and direct neighbors)."""
    out = {r.doc_id: r.cluster_id for r in dedup_clusters(
        _pairs(spark, [(1, 2), (2, 3), (3, 4)]), max_iter=1
    ).collect()}
    # one round: each node has min(self, neighbors); 3 -> 2 not yet 1
    assert out == {1: 1, 2: 1, 3: 2, 4: 3}


def test_dedup_clusters_two_components_meet(spark):
    # two components merged by one bridging pair
    out = {r.doc_id: r.cluster_id for r in dedup_clusters(
        _pairs(spark, [(10, 11), (20, 21), (11, 20)])
    ).collect()}
    assert set(out.values()) == {10} and len(out) == 4


def test_dedup_clusters_reliable_checkpoint(spark, tmp_path):
    """use_reliable_checkpoint=True: same result via checkpoint(dir)
    (fault-tolerant lineage cut); raises without a checkpoint dir."""
    import pytest

    prev = spark.sparkContext.getCheckpointDir()
    if prev is None:
        with pytest.raises(ValueError, match="setCheckpointDir"):
            dedup_clusters(
                _pairs(spark, [(1, 2)]), use_reliable_checkpoint=True
            ).collect()
    spark.sparkContext.setCheckpointDir(str(tmp_path / "ckpt"))
    out = {r.doc_id: r.cluster_id for r in dedup_clusters(
        _pairs(spark, [(1, 2), (2, 3), (5, 6)]),
        use_reliable_checkpoint=True,
    ).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 5: 5, 6: 5}


def test_dedup_clusters_auto_reliable_checkpoint(spark, tmp_path):
    """Default (None) auto-detects: with a checkpoint dir configured the
    loop uses reliable checkpoint() — observable as RDD checkpoint data
    written under the dir; forcing False stays local."""
    import os

    ckpt = str(tmp_path / "auto_ckpt")
    spark.sparkContext.setCheckpointDir(ckpt)
    out = {r.doc_id: r.cluster_id for r in dedup_clusters(
        _pairs(spark, [(1, 2), (2, 3)])
    ).collect()}
    assert out == {1: 1, 2: 1, 3: 1}
    written = [fs for _, _, fs in os.walk(ckpt) for fs in fs]
    assert written, "auto mode did not write reliable checkpoint data"

    # forcing local still works with a dir configured
    out2 = {r.doc_id: r.cluster_id for r in dedup_clusters(
        _pairs(spark, [(1, 2), (2, 3)]), use_reliable_checkpoint=False
    ).collect()}
    assert out2 == out


def test_linear_interp_hand_computed(spark):
    from rusty_timeseries_db_spark.operators.resample import linear_interp_fill

    df = _series(spark, [
        ("a", "2024-01-01 00:00:00", 10.0, 0),
        ("a", "2024-01-03 00:00:00", 30.0, 1),  # 2-day gap
        ("a", "2024-01-04 00:00:00", 10.0, 2),
    ])
    out = {
        (r.k, str(r.ts)): r.value_interp
        for r in linear_interp_fill(
            df, key="k", ts="ts", value="value", step="1 day"
        ).collect()
    }
    # grid: Jan1 (exact hit), Jan2 (midpoint 20), Jan3 (hit), Jan4 (hit)
    assert out[("a", "2024-01-01 00:00:00")] == 10.0
    assert out[("a", "2024-01-02 00:00:00")] == 20.0
    assert out[("a", "2024-01-03 00:00:00")] == 30.0
    assert out[("a", "2024-01-04 00:00:00")] == 10.0


def test_linear_interp_no_extrapolation(spark):
    from rusty_timeseries_db_spark.operators.resample import linear_interp_fill

    # single observation: the spine collapses to one exact-hit point
    df = _series(spark, [("s", "2024-01-01 00:00:00", 5.0, 0)])
    out = linear_interp_fill(df, key="k", ts="ts", value="value").collect()
    assert [(r.value_interp) for r in out] == [5.0]


def test_predict_linear_exact_trend_and_degenerates(spark):
    """A perfectly linear gauge predicts exactly on the line; a
    single-sample series and a constant-timestamp series answer NULL
    (PromQL's no-answer); the horizon lands at last_ts + 300 s."""
    from datetime import datetime

    from rusty_timeseries_db_spark.operators.resample import predict_linear

    t0 = 1704067200  # the anchor; x starts at 0
    rows = [
        # series 'lin': value = 10 + 2*t over 5 samples, 1 s apart
        *[("lin", datetime.fromtimestamp(t0 + i), 10.0 + 2.0 * i)
          for i in range(5)],
        ("single", datetime.fromtimestamp(t0), 7.0),
        ("same_ts", datetime.fromtimestamp(t0 + 9), 1.0),
        ("same_ts", datetime.fromtimestamp(t0 + 9), 5.0),
    ]
    df = spark.createDataFrame(rows, "k string, ts timestamp, value double")
    out = {
        r.k: r
        for r in predict_linear(
            df, key="k", ts="ts", value="value", horizon_seconds=300
        ).collect()
    }
    lin = out["lin"]
    assert lin.slope_per_second == 2.0
    # last sample at x=4, prediction at x=304: 10 + 2*304
    assert lin.predicted_value == 618.0
    assert int(lin.at_ts.timestamp()) == t0 + 4 + 300
    assert out["single"].slope_per_second is None
    assert out["single"].predicted_value is None
    assert out["same_ts"].slope_per_second is None  # den = 0


# ------------------------------------------- PromQL irate

def test_counter_irate_last_pair_and_reset(spark):
    from rusty_timeseries_db_spark.operators.resample import counter_irate

    df = _series(spark, [
        ("c", "2024-01-01 00:00:00", 0.0, 0),
        ("c", "2024-01-01 00:00:01", 5.0, 1),
        ("c", "2024-01-01 00:00:03", 9.0, 2),    # last pair: +4 over 2s
        ("r", "2024-01-01 00:00:00", 10.0, 0),
        ("r", "2024-01-01 00:00:02", 3.0, 1),    # reset: iinc = 3 over 2s
        ("s", "2024-01-01 00:00:00", 7.0, 0),    # single sample -> NULLs
    ])
    got = {r.k: r for r in counter_irate(
        df, key="k", ts="ts", value="value", order_tiebreak="seq"
    ).collect()}
    assert (got["c"].idelta, got["c"].iinc) == (4.0, 4.0)
    assert got["c"].irate_per_second == 2.0 and got["c"].gap_us == 2_000_000
    assert (got["r"].idelta, got["r"].iinc) == (-7.0, 3.0)
    assert got["r"].irate_per_second == 1.5
    assert got["s"].idelta is None and got["s"].irate_per_second is None
    assert got["s"].iinc is None  # single sample: NO phantom increase


def test_counter_irate_tiebreak_and_zero_gap(spark):
    from rusty_timeseries_db_spark.operators.resample import counter_irate

    df = _series(spark, [
        ("t", "2024-01-01 00:00:00", 1.0, 0),
        ("t", "2024-01-01 00:00:01", 2.0, 1),
        ("t", "2024-01-01 00:00:01", 6.0, 2),  # same ts: seq picks last
    ])
    (r,) = counter_irate(
        df, key="k", ts="ts", value="value", order_tiebreak="seq"
    ).collect()
    # last two rows share the timestamp: idelta from (seq1, seq2),
    # gap 0 -> irate NULL (PromQL returns nothing on a zero gap)
    assert r.idelta == 4.0 and r.gap_us == 0
    assert r.irate_per_second is None


def test_counter_irate_plans_window_group_limit(spark):
    from rusty_timeseries_db_spark.operators.resample import counter_irate

    df = _series(spark, [("c", "2024-01-01 00:00:00", 1.0, 0)])
    plan = counter_irate(
        df, key="k", ts="ts", value="value", order_tiebreak="seq"
    )._jdf.queryExecution().optimizedPlan().toString()
    assert "WindowGroupLimit" in plan


def test_gauge_changes_promql_parity(spark):
    """changes() counts consecutive-sample transitions —
    first sample free, NULL-safe compare, tie-broken sample order."""
    from pyspark.sql import functions as F

    from rusty_timeseries_db_spark.operators.resample import gauge_changes

    rows = [
        # series a: 1 -> 1 -> 2 -> NULL -> NULL -> 2  = 3 changes
        ("a", 1, 1.0), ("a", 2, 1.0), ("a", 3, 2.0),
        ("a", 4, None), ("a", 5, None), ("a", 6, 2.0),
        # series b: single sample = 0 changes
        ("b", 1, 7.0),
    ]
    df = spark.createDataFrame(rows, "k string, seq int, value double") \
        .select("k", F.col("seq").cast("timestamp").alias("ts"),
                "value", F.col("seq").alias("event_id"))
    got = {
        r.k: (r.n_samples, r.n_changes)
        for r in gauge_changes(
            df, key="k", ts="ts", value="value", order_tiebreak="event_id"
        ).collect()
    }
    assert got == {"a": (6, 3), "b": (1, 0)}


def test_gauge_changes_sees_sub_cent_transitions(spark):
    """A change detector must not quantize away
    sub-0.01 transitions (the counter_irate precision contract)."""
    from pyspark.sql import functions as F

    from rusty_timeseries_db_spark.operators.resample import gauge_changes

    df = spark.createDataFrame(
        [("a", 1, 10.001), ("a", 2, 10.004), ("a", 3, 10.001)],
        "k string, seq int, value double",
    ).select("k", F.col("seq").cast("timestamp").alias("ts"), "value")
    got = gauge_changes(df, key="k", ts="ts", value="value").collect()[0]
    assert (got.n_samples, got.n_changes) == (3, 2)
