"""Continuous aggregate (operators/rollup.py): incremental refresh via
dynamic partition overwrite must equal a full recompute; the read()
union view must be complete BETWEEN refreshes; refresh is idempotent."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from rusty_timeseries_db_spark.operators.rollup import ContinuousRollup


def _write_batch(spark, path, rows):
    df = spark.createDataFrame(
        rows, "series string, ts_raw string, value double"
    ).select("series", F.to_timestamp("ts_raw").alias("ts"), "value")
    df.write.mode("append").parquet(path)


def _rows(day, series, minutes_values):
    return [
        (series, f"2024-03-{day:02d} 12:{mm:02d}:00", v)
        for mm, v in minutes_values
    ]


@pytest.fixture()
def paths(tmp_path):
    return str(tmp_path / "base"), str(tmp_path / "rollup")


def _full_recompute(roll):
    return roll._aggregate(roll._base())


def _as_set(df):
    return {
        (r.series, str(r.window_start), r.n, r.sum_value, r.min_value,
         r.max_value)
        for r in df.collect()
    }


def test_refresh_then_read_equals_full_recompute(spark, paths):
    base, rollup = paths
    _write_batch(spark, base, _rows(1, "a", [(0, 1.0), (2, 3.0), (7, 5.0)]))
    _write_batch(spark, base, _rows(2, "a", [(0, 2.0)]) +
                 _rows(2, "b", [(1, 4.0)]))
    _write_batch(spark, base, _rows(5, "a", [(0, 9.0)]))

    roll = ContinuousRollup(spark, base, rollup, ["series"])
    n = roll.refresh()
    assert n > 0
    # materialized-final days exist on disk, partitioned by window_day
    assert any(
        d.startswith("window_day=") for d in os.listdir(rollup)
    )
    assert _as_set(roll.read()) == _as_set(_full_recompute(roll))


def test_incremental_append_and_idempotent_refresh(spark, paths):
    base, rollup = paths
    _write_batch(spark, base, _rows(1, "a", [(0, 1.0), (6, 2.0)]))
    roll = ContinuousRollup(spark, base, rollup, ["series"])
    roll.refresh()

    # append rows for a LATER day and a row in the current hot day
    _write_batch(spark, base, _rows(3, "a", [(0, 7.0)]) +
                 _rows(4, "b", [(2, 8.0)]))
    # read() is already complete BEFORE the refresh (tail aggregation)
    assert _as_set(roll.read()) == _as_set(_full_recompute(roll))

    roll.refresh()
    after_once = _as_set(roll.read())
    assert after_once == _as_set(_full_recompute(roll))

    # re-running refresh rewrites the same partitions with the same
    # content — byte-level idempotency observable as identical results
    roll.refresh()
    assert _as_set(roll.read()) == after_once


def test_full_refresh_folds_late_data(spark, paths):
    base, rollup = paths
    _write_batch(spark, base, _rows(1, "a", [(0, 1.0)]) +
                 _rows(5, "a", [(0, 2.0)]))
    roll = ContinuousRollup(spark, base, rollup, ["series"])
    roll.refresh()

    # late row for the long-materialized day 1: invisible to an
    # incremental refresh (documented), folded in by full=True
    _write_batch(spark, base, _rows(1, "a", [(1, 100.0)]))
    roll.refresh()
    full = _as_set(_full_recompute(roll))
    assert _as_set(roll.read()) != full
    roll.refresh(full=True)
    assert _as_set(roll.read()) == full


def test_window_must_divide_day(spark, paths):
    base, rollup = paths
    with pytest.raises(ValueError, match="divide 24 hours"):
        ContinuousRollup(spark, base, rollup, ["series"], window="7 minutes")
    with pytest.raises(ValueError, match="seconds|minutes|hours"):
        ContinuousRollup(spark, base, rollup, ["series"], window="1 day")


def test_engine_continuous_rollup_sees_overlay_updates(spark, tmp_path):
    """The engine facade's rollup aggregates the CANONICAL view: a
    point update through the overlay changes the affected window after
    a full refresh."""
    from rusty_timeseries_db_spark.api import TimeseriesEngine
    from tests.conftest import CANONICAL_ROWS

    eng = TimeseriesEngine(spark, str(tmp_path / "wh"))
    eng.ingest_rows(CANONICAL_ROWS)
    roll = eng.continuous_rollup(window="1 minute")
    roll.refresh()
    before = {
        (r.timeseries_id, str(r.window_start)): r.sum_value
        for r in roll.read().collect()
    }
    assert before  # the fixture rows all aggregate into live-tail windows

    # overlay-update the first row's value and fully refresh
    eng.update_rows([{**CANONICAL_ROWS[0], "value": 99.0}])
    roll.refresh(full=True)
    after = {
        (r.timeseries_id, str(r.window_start)): r.sum_value
        for r in roll.read().collect()
    }
    assert before != after
    diff = [k for k in after if after[k] != before.get(k)]
    assert len(diff) == 1  # exactly the updated row's window moved


def test_streaming_sink_maintains_rollup(spark, tmp_path):
    """The streaming continuous aggregate: a sink started with a
    rollup refreshes it per micro-batch, and read() equals the batch
    aggregation of everything ingested."""
    import json as _json
    import os as _os

    from rusty_timeseries_db_spark.api import TimeseriesEngine
    from rusty_timeseries_db_spark.streaming.ingest import (
        read_telemetry_stream,
        start_telemetry_sink,
    )

    wh = str(tmp_path / "wh")
    src = str(tmp_path / "drop")
    _os.makedirs(src)
    rows = [
        {"sensor_name": "x", "timestamp": f"2024-08-28T12:{mm:02d}:00Z",
         "value": float(mm), "fc1_flag": None, "timeseries_id": "s1"}
        for mm in (0, 1, 6, 7, 12)
    ]
    for b in range(2):
        with open(_os.path.join(src, f"b{b}.jsonl"), "w") as f:
            for r in rows[b::2]:
                f.write(_json.dumps(r) + "\n")

    eng = TimeseriesEngine(spark, wh)
    roll = eng.continuous_rollup(window="5 minutes")
    q = start_telemetry_sink(
        read_telemetry_stream(spark, src), wh,
        available_now=True, rollup=roll,
    )
    q.awaitTermination(120)

    got = {
        (r.timeseries_id, str(r.window_start)): (r.n, r.sum_value)
        for r in roll.read().collect()
    }
    # 5-minute windows: {0,1} -> 12:00, {6,7} -> 12:05, {12} -> 12:10
    assert got[("s1", "2024-08-28 12:00:00")] == (2, 1.0)
    assert got[("s1", "2024-08-28 12:05:00")] == (2, 13.0)
    assert got[("s1", "2024-08-28 12:10:00")] == (1, 12.0)


def test_window_must_align_with_session_timezone(spark, paths):
    """F.window buckets are epoch(UTC)-aligned but
    window_day / hwm casts use the session zone — a zone offset that is
    not a multiple of the window puts local midnight INSIDE a window
    and read() could double-count it. The constructor must reject the
    combination, and accept offsets the window divides."""
    base, rollup = paths
    orig = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "Asia/Kolkata")  # +05:30
        with pytest.raises(ValueError, match="not a multiple of the window"):
            ContinuousRollup(spark, base, rollup, ["series"], window="1 hour")
        # 30 minutes divides +05:30 — allowed
        ContinuousRollup(spark, base, rollup, ["series"], window="30 minutes")
        spark.conf.set("spark.sql.session.timeZone", "+01:00")
        with pytest.raises(ValueError, match="not a multiple of the window"):
            ContinuousRollup(spark, base, rollup, ["series"], window="3 hours")
        ContinuousRollup(spark, base, rollup, ["series"], window="1 hour")
    finally:
        spark.conf.set("spark.sql.session.timeZone", orig)


def test_manifest_and_probe_use_hadoop_fs_scheme_paths(spark, tmp_path):
    """Storage-agnostic manifest: with an explicit
    'file:/...' URI — the scheme-qualified form every non-local store
    uses — os.path.exists()/os.walk() see NOTHING, so this test fails
    if the implementation regresses to driver-local I/O: the hwm would
    read back None and read() would silently skip the materialization."""
    import os as _os

    base = str(tmp_path / "base")
    rollup_fs = "file:" + str(tmp_path / "rollup")
    _write_batch(spark, base, _rows(1, "a", [(0, 1.0), (2, 3.0)]))
    _write_batch(spark, base, _rows(4, "a", [(0, 2.0)]))

    roll = ContinuousRollup(spark, base, rollup_fs, ["series"])
    assert roll._read_hwm() is None
    n = roll.refresh()
    assert n > 0
    # the manifest went through the Hadoop FS API (scheme-resolved)...
    assert not _os.path.exists(roll.manifest_path)       # os.path can't see it
    assert roll._read_hwm() == "2024-03-04"              # but the FS API can
    assert roll._has_data_files()
    # ...and read() serves the materialized side + live tail correctly
    assert _as_set(roll.read()) == _as_set(_full_recompute(roll))
    # the materialized day-1 windows really come from the parquet side:
    mat = spark.read.parquet(rollup_fs)
    assert mat.count() == 1  # one 5-minute window fully materialized


def test_streaming_maintenance_hash_equals_batch_formulation(spark, tmp_path):
    """Stream/batch parity for the rollup:
    after N micro-batches through the foreachBatch maintenance sink,
    rollup.read() must be ROW-IDENTICAL to the pure batch aggregation
    of the same ingested rows — the ST1 parity pattern applied to the
    continuous aggregate."""
    import json as _json
    import os as _os

    from rusty_timeseries_db_spark.api import TimeseriesEngine
    from rusty_timeseries_db_spark.streaming.ingest import (
        read_telemetry_stream,
        start_telemetry_sink,
    )

    wh = str(tmp_path / "wh")
    src = str(tmp_path / "drop")
    _os.makedirs(src)
    rows = [
        {"sensor_name": "x", "timestamp": f"2024-08-{dd:02d}T12:{mm:02d}:00Z",
         "value": float(dd * 10 + mm), "fc1_flag": None,
         "timeseries_id": f"s{mm % 2}"}
        for dd in (1, 2, 5) for mm in (0, 1, 6, 7, 12)
    ]
    for b in range(3):  # three deterministic micro-batch files
        with open(_os.path.join(src, f"b{b}.jsonl"), "w") as f:
            for r in rows[b::3]:
                f.write(_json.dumps(r) + "\n")

    eng = TimeseriesEngine(spark, wh)
    roll = eng.continuous_rollup(window="5 minutes")
    q = start_telemetry_sink(
        read_telemetry_stream(spark, src), wh,
        available_now=True, rollup=roll,
    )
    q.awaitTermination(120)

    got = sorted(map(tuple, roll.read().collect()))
    want = sorted(map(tuple, _full_recompute(roll).collect()))
    assert got == want and len(got) >= 9
    # and the materialized side is actually serving rows (days 1,2 are
    # final once day 5 advanced the hwm)
    assert roll._read_hwm() == "2024-08-05"
    assert roll._has_data_files()


def test_distinct_sketch_cells_union_across_materialized_and_tail(
    spark, paths
):
    """distinct_col stores an HLL sketch per cell; distinct_estimate
    unions across the materialized/live-tail boundary — the mergeable
    COUNT DISTINCT. Small cardinalities keep HLL in exact (sparse)
    range, so the estimate must EQUAL the exact distinct count."""
    base, rollup = paths
    rows = []
    # day 1-2 (will materialize) + day 5 (hot tail); user ids overlap
    # across days so per-day exact counts cannot be summed
    for day, users in ((1, [1, 2, 3]), (2, [2, 3, 4]), (5, [3, 4, 5])):
        for mm, u in enumerate(users):
            rows.append(("a", f"2024-03-{day:02d} 12:{mm:02d}:00", float(u), u))
    df = spark.createDataFrame(
        rows, "series string, ts_raw string, value double, user_id int"
    ).select(
        "series", F.to_timestamp("ts_raw").alias("ts"), "value", "user_id"
    )
    df.write.mode("append").parquet(base)

    roll = ContinuousRollup(
        spark, base, rollup, ["series"], distinct_col="user_id"
    )
    roll.refresh()
    # materialized parquet really carries the sketch column
    mat = spark.read.parquet(rollup)
    assert "distinct_sketch" in mat.columns and mat.count() > 0

    est = roll.distinct_estimate().collect()
    assert len(est) == 1
    assert est[0].distinct_est == 5     # exact in sparse range
    assert est[0].n_rows == 9

    # per-(series, day) grouping also works, and the boundary day is
    # served from the tail while days 1-2 come from parquet
    by_day = {
        (r.series, str(r.window_day)): r.distinct_est
        for r in roll.distinct_estimate(
            ["series", "window_day"]
        ).collect()
    }
    assert by_day == {
        ("a", "2024-03-01"): 3,
        ("a", "2024-03-02"): 3,
        ("a", "2024-03-05"): 3,
    }

    # a rollup without distinct_col refuses
    import pytest

    plain = ContinuousRollup(spark, base, rollup + "2", ["series"])
    with pytest.raises(ValueError, match="distinct_col"):
        plain.distinct_estimate()


def test_engine_rollup_forwards_distinct_col(spark, tmp_path):
    from rusty_timeseries_db_spark.api import TimeseriesEngine
    from tests.conftest import CANONICAL_ROWS

    eng = TimeseriesEngine(spark, str(tmp_path / "wh"))
    eng.ingest_rows(CANONICAL_ROWS)
    roll = eng.continuous_rollup(
        window="1 minute", distinct_col="sensor_name"
    )
    roll.refresh()
    est = roll.distinct_estimate().collect()
    assert est and all(r.distinct_est >= 1 for r in est)


def test_tz_offsets_accept_short_fixed_forms():
    """Spark accepts 'GMT+8' / '+8' / 'UTC+1' — the
    guard must resolve them instead of raising."""
    from rusty_timeseries_db_spark.operators.rollup import (
        _tz_offsets_seconds,
    )

    assert _tz_offsets_seconds("GMT+8") == [8 * 3600]
    assert _tz_offsets_seconds("+8") == [8 * 3600]
    assert _tz_offsets_seconds("UTC+1") == [3600]
    assert _tz_offsets_seconds("-0330") == [-(3 * 3600 + 30 * 60)]


def test_streaming_sink_maintains_sketch_rollup(spark, tmp_path):
    """The sketch-bearing rollup survives the streaming maintenance
    path: binary HLL cells round-trip through the dynamic partition
    overwrite inside foreachBatch, and distinct_estimate unions
    materialized + tail correctly after the stream drains."""
    import json as _json
    import os as _os

    from rusty_timeseries_db_spark.api import TimeseriesEngine
    from rusty_timeseries_db_spark.streaming.ingest import (
        read_telemetry_stream,
        start_telemetry_sink,
    )

    wh = str(tmp_path / "wh")
    src = str(tmp_path / "drop")
    _os.makedirs(src)
    rows = [
        {"sensor_name": f"sensor{i % 3}",
         "timestamp": f"2024-08-{dd:02d}T12:{i:02d}:00Z",
         "value": float(i), "fc1_flag": None, "timeseries_id": "s1"}
        for dd in (1, 2, 6) for i in range(4)
    ]
    for b in range(2):
        with open(_os.path.join(src, f"b{b}.jsonl"), "w") as f:
            for r in rows[b::2]:
                f.write(_json.dumps(r) + "\n")

    eng = TimeseriesEngine(spark, wh)
    roll = eng.continuous_rollup(
        window="5 minutes", distinct_col="sensor_name"
    )
    q = start_telemetry_sink(
        read_telemetry_stream(spark, src), wh,
        available_now=True, rollup=roll,
    )
    q.awaitTermination(120)

    assert roll._read_hwm() == "2024-08-06"  # days 1-2 materialized
    est = {
        r.timeseries_id: r.distinct_est
        for r in roll.distinct_estimate().collect()
    }
    # 3 distinct sensors across materialized days AND the live tail —
    # sparse-range HLL is exact here
    assert est == {"s1": 3}
    per_day = {
        str(r.window_day): r.distinct_est
        for r in roll.distinct_estimate(
            ["timeseries_id", "window_day"]
        ).collect()
    }
    assert per_day == {
        "2024-08-01": 3, "2024-08-02": 3, "2024-08-06": 3
    }


def test_scheduler_advances_hwm_on_cadence(spark, paths):
    """The RollupScheduler re-arms like the
    FDD loop (R5/R6) — two scheduled refreshes, with an append in
    between, advance the high-water mark twice with no manual
    refresh() call."""
    from rusty_timeseries_db_spark.operators.rollup import RollupScheduler

    base, rollup = paths
    _write_batch(spark, base, _rows(1, "a", [(0, 1.0)]) +
                 _rows(2, "a", [(0, 2.0)]))
    roll = ContinuousRollup(spark, base, rollup, ["series"])
    sched = RollupScheduler(roll, interval_seconds=0.3).start()
    try:
        assert sched.wait_for(1, timeout=60)
        assert roll._read_hwm() == "2024-03-02"

        # new data lands; the NEXT tick must fold it in unattended
        _write_batch(spark, base, _rows(4, "a", [(0, 4.0)]))
        first = sched.refresh_count
        assert sched.wait_for(first + 2, timeout=60)
        assert roll._read_hwm() == "2024-03-04"
        assert _as_set(roll.read()) == _as_set(_full_recompute(roll))

        # re-arm semantics: a new interval keeps ticking (R6 parity —
        # the reference's set_interval fires once and dies)
        sched.set_interval(0.2)
        base_count = sched.refresh_count
        assert sched.wait_for(base_count + 2, timeout=60)
    finally:
        sched.stop()


def test_scheduler_stop_cancels_pending_tick(spark, paths):
    import time

    from rusty_timeseries_db_spark.operators.rollup import RollupScheduler

    base, rollup = paths
    _write_batch(spark, base, _rows(1, "a", [(0, 1.0)]))
    roll = ContinuousRollup(spark, base, rollup, ["series"])
    sched = RollupScheduler(roll, interval_seconds=0.2).start()
    assert sched.wait_for(1, timeout=60)
    sched.stop()
    n = sched.refresh_count
    time.sleep(0.6)
    assert sched.refresh_count == n


def test_scheduler_survives_refresh_errors(spark, paths):
    """A transient refresh failure must not kill the
    cadence (that would be the reference's never-re-arms R6 bug via
    the error path) — the scheduler records it and keeps ticking."""
    from rusty_timeseries_db_spark.operators.rollup import RollupScheduler

    base, rollup = paths
    _write_batch(spark, base, _rows(1, "a", [(0, 1.0)]) +
                 _rows(2, "a", [(0, 2.0)]))
    roll = ContinuousRollup(spark, base, rollup, ["series"])
    boom = {"left": 2}
    real_refresh = roll.refresh

    def flaky(full: bool = False):
        if boom["left"] > 0:
            boom["left"] -= 1
            raise RuntimeError("transient FS hiccup")
        return real_refresh(full)

    roll.refresh = flaky
    sched = RollupScheduler(roll, interval_seconds=0.2).start()
    try:
        assert sched.wait_for(1, timeout=60)  # ticked THROUGH 2 errors
        assert sched.error_count == 2
        assert isinstance(sched.last_error, RuntimeError)
        assert roll._read_hwm() == "2024-03-02"
    finally:
        sched.stop()


def test_distinct_sketch_value_idempotent_across_refresh_orders(
    spark, tmp_path
):
    """Next-round #9 (pins rollup.py's documented contract):
    HLL cells are VALUE-level idempotent — the sketch BYTES may differ
    across refresh orders (coupon order in sparse mode), but
    ``distinct_estimate`` must be identical whether the rollup was
    built by one refresh over the full base or by per-batch
    incremental refreshes that re-aggregate days from
    differently-split files. Also: re-refreshing an already-current
    rollup must not move any estimate."""
    def _mk(day, users):
        return [
            ("a", f"2024-03-{day:02d} 12:{mm:02d}:00", float(u), u)
            for mm, u in enumerate(users)
        ]

    def _write(path, rows):
        spark.createDataFrame(
            rows, "series string, ts_raw string, value double, user_id int"
        ).select(
            "series", F.to_timestamp("ts_raw").alias("ts"), "value",
            "user_id",
        ).write.mode("append").parquet(path)

    batches = [
        _mk(1, [1, 2, 3]),
        _mk(2, [2, 3]) + _mk(1, [3, 4]),   # day-1 data split across files
        _mk(5, [3, 4, 5]) + _mk(2, [4]),
    ]

    # order A: everything lands, then ONE refresh
    base_a, roll_a_path = str(tmp_path / "ba"), str(tmp_path / "ra")
    for b in batches:
        _write(base_a, b)
    roll_a = ContinuousRollup(
        spark, base_a, roll_a_path, ["series"], distinct_col="user_id"
    )
    roll_a.refresh()

    # order B: refresh after every batch (incremental re-aggregation)
    base_b, roll_b_path = str(tmp_path / "bb"), str(tmp_path / "rb")
    roll_b = ContinuousRollup(
        spark, base_b, roll_b_path, ["series"], distinct_col="user_id"
    )
    for b in batches:
        _write(base_b, b)
        roll_b.refresh()

    def _est(roll):
        per_day = {
            (r.series, str(r.window_day)): (r.distinct_est, r.n_rows)
            for r in roll.distinct_estimate(["series", "window_day"]).collect()
        }
        total = {
            r.series: (r.distinct_est, r.n_rows)
            for r in roll.distinct_estimate().collect()
        }
        return per_day, total

    assert _est(roll_a) == _est(roll_b)
    per_day, total = _est(roll_a)
    assert total == {"a": (5, 11)}
    assert per_day[("a", "2024-03-01")] == (4, 5)

    # idempotent re-refresh: values pinned
    before = _est(roll_b)
    roll_b.refresh()
    assert _est(roll_b) == before


def test_invalidate_days_repairs_late_rows(spark, paths):
    """The targeted late-data repair — invalidate exactly
    the touched day instead of refresh(full=True)'s whole-rollup
    rebuild; other materialized days' files are not rewritten."""
    base, rollup = paths
    _write_batch(spark, base, _rows(1, "a", [(0, 1.0)]) +
                 _rows(2, "a", [(0, 7.0)]) +
                 _rows(5, "a", [(0, 2.0)]))
    roll = ContinuousRollup(spark, base, rollup, ["series"])
    roll.refresh()

    import glob
    import os

    d2_files_before = set(
        glob.glob(os.path.join(rollup, "window_day=2024-03-02", "*"))
    )
    # late row into materialized day 1
    _write_batch(spark, base, _rows(1, "a", [(1, 100.0)]))
    full = _as_set(_full_recompute(roll))
    assert _as_set(roll.read()) != full  # stale (documented)
    assert roll.invalidate_days(["2024-03-01"]) > 0
    assert _as_set(roll.read()) == full  # repaired, no full rebuild
    # the untouched day's partition was NOT rewritten
    assert set(
        glob.glob(os.path.join(rollup, "window_day=2024-03-02", "*"))
    ) == d2_files_before
    # idempotent; days >= hwm and unknown days are no-ops
    assert roll.invalidate_days(["2024-03-01"]) > 0
    assert _as_set(roll.read()) == full
    assert roll.invalidate_days(["2024-03-05"]) == 0  # hwm day (tail)
    assert roll.invalidate_days(["2030-01-01"]) == 0
    assert roll.invalidate_days([]) == 0


def test_theta_cells_segment_overlap_estimate(spark, tmp_path):
    """Theta sketch cells complete the sketch-cell family —
    segment_overlap_estimate intersects segment member populations
    across MATERIALIZED days and the LIVE tail (the set operation HLL
    cells cannot do), within ~5% of the exact overlap, for pairwise
    and 3-way grids; estimates identical whether the rollup was built
    in one refresh or incrementally."""
    def _write(path, rows):
        spark.createDataFrame(
            rows, "series string, ts_raw string, user_id int"
        ).select(
            "series", F.to_timestamp("ts_raw").alias("ts"),
            F.lit(1.0).alias("value"), "user_id",
        ).write.mode("append").parquet(path)

    def _mk(day, series, users):
        return [
            (series, f"2024-03-{day:02d} 12:{mm:02d}:00", u)
            for mm, u in enumerate(users)
        ]

    # segments: a = {1..6}, b = {4..9}, c = {1,2,8,9}; a∩b = {4,5,6},
    # a∩c = {1,2}, b∩c = {8,9}, a∩b∩c = {} — split across days so the
    # final day stays in the live tail
    rows = (
        _mk(1, "a", [1, 2, 3]) + _mk(2, "a", [4, 5]) + _mk(5, "a", [6])
        + _mk(1, "b", [4, 5, 6]) + _mk(2, "b", [7]) + _mk(5, "b", [8, 9])
        + _mk(1, "c", [1, 2]) + _mk(5, "c", [8, 9])
    )
    exact = {}
    for s, _, u in rows:
        exact.setdefault(s, set()).add(u)

    base, rollup = str(tmp_path / "base"), str(tmp_path / "roll")
    _write(base, rows)
    roll = ContinuousRollup(
        spark, base, rollup, ["series"], theta_col="user_id"
    )
    roll.refresh()  # day 5 (hwm day) stays in the live tail

    pairs = {
        (r.seg_a, r.seg_b): r
        for r in roll.segment_overlap_estimate("series").collect()
    }
    assert set(pairs) == {("a", "b"), ("a", "c"), ("b", "c")}
    for (x, y), r in pairs.items():
        ti, tu = len(exact[x] & exact[y]), len(exact[x] | exact[y])
        assert abs(r.inter_est - ti) <= max(1, 0.05 * ti), (x, y)
        assert abs(r.union_est - tu) <= max(1, 0.05 * tu), (x, y)
    # the tail contributed: b∩c = {8, 9} lives ENTIRELY on the
    # unmaterialized hwm day
    assert pairs[("b", "c")].inter_est == 2

    triple = roll.segment_overlap_estimate("series", k=3).collect()
    assert len(triple) == 1 and triple[0].inter_est == 0  # a∩b∩c = {}

    # incremental build serves identical estimates (value idempotency)
    base2, rollup2 = str(tmp_path / "base2"), str(tmp_path / "roll2")
    roll2 = ContinuousRollup(
        spark, base2, rollup2, ["series"], theta_col="user_id"
    )
    for day in (1, 2, 5):
        _write(base2, [r for r in rows if f"2024-03-{day:02d}" in r[1]])
        roll2.refresh()
    pairs2 = {
        (r.seg_a, r.seg_b): (r.inter_est, r.union_est)
        for r in roll2.segment_overlap_estimate("series").collect()
    }
    assert pairs2 == {
        k: (r.inter_est, r.union_est) for k, r in pairs.items()
    }
    # guards
    import pytest as _pytest

    with _pytest.raises(ValueError, match="theta_col"):
        ContinuousRollup(
            spark, base, str(tmp_path / "r3"), ["series"]
        ).segment_overlap_estimate("series")
    with _pytest.raises(ValueError, match="rollup keys"):
        roll.segment_overlap_estimate("user_id")


def test_invalidate_days_prunes_ds_partitions(spark, tmp_path):
    """On a date-partitioned warehouse the
    late-day repair's base scan carries the named days as PARTITION
    filters (``ds IN (...)`` reaches PartitionFilters, pruning whole
    ``ds=<day>`` directories) instead of leaning on row-group ts
    stats — and the repair itself stays correct end-to-end."""
    from rusty_timeseries_db_spark.api import TimeseriesEngine
    from rusty_timeseries_db_spark.plans.explain import formatted_plan

    eng = TimeseriesEngine(
        spark, str(tmp_path / "wh"), partition_by_date=True
    )

    def _r(dd, hh, v):
        return {
            "sensor_name": "x", "timestamp": f"2024-03-{dd:02d}T{hh:02d}:00:00Z",
            "value": v, "fc1_flag": None, "timeseries_id": "s1",
        }

    eng.ingest_rows([_r(1, 12, 1.0), _r(2, 12, 7.0), _r(5, 12, 2.0)])
    roll = eng.continuous_rollup(window="1 hour", name="r16")
    assert roll.partition_day_col == "ds"  # facade wired it
    roll.refresh()

    # the repair scan's plan: the ds partition column carries the
    # day list (partition pruning), alongside the row-level ts filter
    plan = formatted_plan(roll._invalidation_base(["2024-03-01"]))
    assert "PartitionFilters" in plan
    assert "ds" in plan.split("PartitionFilters", 1)[1].split("\n", 1)[0]

    # late row into materialized day 1 → targeted repair still works
    eng.ingest_rows([_r(1, 13, 100.0)])
    assert roll.invalidate_days(["2024-03-01"]) > 0
    got = {
        (str(r.window_start), r.n, r.sum_value)
        for r in roll.read().filter(
            F.col("window_day") == "2024-03-01"
        ).collect()
    }
    assert got == {
        ("2024-03-01 12:00:00", 1, 1.0),
        ("2024-03-01 13:00:00", 1, 100.0),
    }


def test_keep_ds_survives_overlay_and_repair_stays_correct(spark, tmp_path):
    """The facade rollup's keep_ds base view must
    retain the ds partition column THROUGH the overlay merge
    (apply_overlay passes non-payload base columns), and
    invalidate_days on that view must fold an overlay point-update
    into the repaired day."""
    from rusty_timeseries_db_spark.api import TimeseriesEngine

    eng = TimeseriesEngine(
        spark, str(tmp_path / "wh"), partition_by_date=True
    )

    def _r(dd, hh, v):
        return {
            "sensor_name": "x",
            "timestamp": f"2024-03-{dd:02d}T{hh:02d}:00:00Z",
            "value": v, "fc1_flag": None, "timeseries_id": "s1",
        }

    eng.ingest_rows([_r(1, 12, 1.0), _r(2, 12, 7.0), _r(5, 12, 2.0)])
    roll = eng.continuous_rollup(window="1 hour", name="r16ov")
    roll.refresh()
    # overlay point-update on the materialized day 1 (same-day ts, so
    # the write-time ds still equals the merged to_date(ts) — the
    # documented partition_day_col contract)
    assert eng.update_rows([_r(1, 12, 50.0)]) == 1
    # the keep_ds view carries ds for every row incl. the updated one
    t = eng.telemetry(keep_ds=True)
    assert "ds" in t.columns
    got = {
        (str(r.ds), r.value) for r in t.select("ds", "value").collect()
    }
    assert ("2024-03-01", 50.0) in got and ("2024-03-01", 1.0) not in got
    # targeted repair folds the overlay value into the rollup
    assert roll.invalidate_days(["2024-03-01"]) > 0
    day1 = {
        (str(r.window_start), r.sum_value)
        for r in roll.read()
        .filter(F.col("window_day") == "2024-03-01")
        .collect()
    }
    assert day1 == {("2024-03-01 12:00:00", 50.0)}


def test_streaming_sink_repairs_late_days(spark, tmp_path):
    """The sink's writer-side invalidation — a micro-batch
    carrying a row for an already-materialized day triggers
    invalidate_days automatically; rollup.read() equals the batch
    recompute with no manual full refresh."""
    import glob
    import json as _json
    import os

    from rusty_timeseries_db_spark.streaming.ingest import (
        read_telemetry_stream,
        start_telemetry_sink,
    )

    src = str(tmp_path / "drop")
    os.makedirs(src)
    wh = str(tmp_path / "wh")

    def _line(ts, v, sid="s1"):
        return _json.dumps({
            "sensor_name": sid, "timestamp": ts, "value": v,
            "fc1_flag": None, "timeseries_id": sid,
        }) + "\n"

    # batch 0: days 1 and 3 -> refresh materializes day 1 + day 2(empty)
    with open(os.path.join(src, "a_batch0.json"), "w") as f:
        f.write(_line("2024-03-01 12:00:00", 1.0))
        f.write(_line("2024-03-03 12:00:00", 2.0))
    # batch 1: a LATE row into materialized day 1, plus a fresh day-3 row
    with open(os.path.join(src, "b_batch1.json"), "w") as f:
        f.write(_line("2024-03-01 12:30:00", 100.0))
        f.write(_line("2024-03-03 13:00:00", 3.0))
    os.utime(
        os.path.join(src, "b_batch1.json"),
        (os.path.getmtime(os.path.join(src, "a_batch0.json")) + 10,) * 2,
    )

    stream = (
        spark.readStream.schema(
            "sensor_name string, timestamp string, value double, "
            "fc1_flag tinyint, timeseries_id string"
        )
        .option("maxFilesPerTrigger", "1")
        .json(src)
    )
    from rusty_timeseries_db_spark.operators.rollup import ContinuousRollup

    tele = os.path.join(wh, "telemetry")
    roll = ContinuousRollup(
        spark, tele, str(tmp_path / "roll"), ["timeseries_id"],
        window="1 hour",
    )
    q = start_telemetry_sink(
        stream, wh, rollup=roll, available_now=True
    )
    assert q.awaitTermination(180)

    got = {
        (r.timeseries_id, str(r.window_start), r.n, r.sum_value)
        for r in roll.read().collect()
    }
    want = {
        (r.timeseries_id, str(r.window_start), r.n, r.sum_value)
        for r in roll._aggregate(roll._base()).collect()
    }
    assert got == want
    # the late day really is served from the MATERIALIZED side (it is
    # below the hwm), proving the repair rewrote the partition rather
    # than the tail covering for it
    hwm = roll._read_hwm()
    assert hwm is not None and "2024-03-01" < hwm
    mat = spark.read.parquet(str(tmp_path / "roll")).filter(
        "window_day = '2024-03-01'"
    )
    assert mat.agg(F.sum("n")).first()[0] == 2  # both day-1 rows folded


def test_engine_rollup_forwards_theta_col(spark, tmp_path):
    """continuous_rollup(theta_col=...) must include
    the sketch column in the facade's base-view selection — before the
    fix the ContinuousRollup's base view lacked the column and
    refresh() failed with AnalysisException for any theta_col outside
    (timeseries_id, ts, value)."""
    from rusty_timeseries_db_spark.api import TimeseriesEngine
    from tests.conftest import CANONICAL_ROWS

    eng = TimeseriesEngine(spark, str(tmp_path / "wh"))
    eng.ingest_rows(CANONICAL_ROWS)
    roll = eng.continuous_rollup(
        window="1 minute", theta_col="sensor_name"
    )
    roll.refresh()
    ov = roll.segment_overlap_estimate("timeseries_id").collect()
    # CANONICAL_ROWS is a single series: no pair rows, but the serve
    # path proves the sketch column flowed through the facade view
    est = roll.read().collect()
    assert est and all(r["theta_sketch"] is not None for r in est)
    assert ov == []
