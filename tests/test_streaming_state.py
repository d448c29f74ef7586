"""Streaming state-residence durations (round 14 —
streaming/state.py): exact stream==batch parity across micro-batch
boundaries, replay convergence from every crash point, late-row
policy, and the real-sink end-to-end run."""

from __future__ import annotations

from datetime import datetime, timedelta

import pytest
from pyspark.sql import functions as F

from rusty_timeseries_db_spark.operators.resample import state_durations
from rusty_timeseries_db_spark.streaming.state import (
    apply_state_durations_batch,
    serve_state_durations,
    start_state_durations_sink,
)

T0 = datetime(2024, 1, 1, 0, 0, 0)

ROWS = [
    # (user, state, seconds, event_id)
    (1, "A", 0, 1), (1, "B", 10, 2), (1, "A", 30, 3),
    (1, "C", 60, 4), (1, "A", 100, 5),
    (2, "X", 5, 1), (2, "Y", 6, 2), (2, "X", 50, 3),
]


def _df(spark, rows):
    return spark.createDataFrame(
        [(u, s, T0 + timedelta(seconds=off), e) for u, s, off, e in rows],
        "user_id bigint, state string, ts timestamp, event_id bigint",
    )


def _served(spark, store):
    return {
        (r.user_id, r.state): (r.state_us, r.n_intervals, r.frac)
        for r in serve_state_durations(spark, store).collect()
    }


def _batch_ref(spark, rows):
    return {
        (r.user_id, r.state): (r.state_us, r.n_intervals, r.frac)
        for r in state_durations(
            _df(spark, rows), key="user_id", state="state",
            order_tiebreak="event_id",
        ).collect()
    }


def test_stream_equals_batch_across_boundaries(spark, tmp_path):
    """Split so that intervals SPAN the batch boundary (user 1's C->A
    and user 2's Y->X land in different batches) — served totals must
    equal the batch operator on the full data EXACTLY."""
    store = str(tmp_path / "sd")
    b0 = [r for r in ROWS if r[2] <= 30]
    b1 = [r for r in ROWS if r[2] > 30]
    r0 = apply_state_durations_batch(
        spark, store, _df(spark, b0), 0, "user_id", "state",
        order_tiebreak="event_id",
    )
    r1 = apply_state_durations_batch(
        spark, store, _df(spark, b1), 1, "user_id", "state",
        order_tiebreak="event_id",
    )
    assert r0["late"] == 0 and r1["late"] == 0
    assert _served(spark, store) == _batch_ref(spark, ROWS)


def test_replay_converges_from_every_crash_point(spark, tmp_path):
    """Re-applying a batch after ANY subset of its outputs landed
    (deltas only / both, manifest not bumped) must converge to the
    same served totals — the versioned-overwrite contract."""
    import shutil

    from rusty_timeseries_db_spark.streaming.store_common import (
        update_store_manifest,
    )

    def _rollback_to_batch0(m):
        m["last_applied_batch"] = 0

    store = str(tmp_path / "sd")
    b0 = [r for r in ROWS if r[2] <= 30]
    b1 = [r for r in ROWS if r[2] > 30]
    apply_state_durations_batch(
        spark, store, _df(spark, b0), 0, "user_id", "state",
        order_tiebreak="event_id",
    )
    apply_state_durations_batch(
        spark, store, _df(spark, b1), 1, "user_id", "state",
        order_tiebreak="event_id",
    )
    want = _served(spark, store)
    # crash simulation: roll the manifest back to batch 0 (outputs of
    # batch 1 remain on disk = crash after writes, before the bump)
    update_store_manifest(spark, store, "state", _rollback_to_batch0)
    # serving now excludes the uncommitted batch-1 deltas
    assert _served(spark, store) == _batch_ref(spark, b0)
    # replay converges to identical totals
    apply_state_durations_batch(
        spark, store, _df(spark, b1), 1, "user_id", "state",
        order_tiebreak="event_id",
    )
    assert _served(spark, store) == want
    # and a FULL replay of an already-committed batch is a no-op
    out = apply_state_durations_batch(
        spark, store, _df(spark, b1), 1, "user_id", "state",
        order_tiebreak="event_id",
    )
    assert out == {"intervals": 0, "late": 0}
    assert _served(spark, store) == want
    # crash before ANY output: delete batch-1 dirs, roll back, replay
    shutil.rmtree(f"{store}/deltas/batch=1")
    shutil.rmtree(f"{store}/last_obs/batch=1")
    update_store_manifest(spark, store, "state", _rollback_to_batch0)
    apply_state_durations_batch(
        spark, store, _df(spark, b1), 1, "user_id", "state",
        order_tiebreak="event_id",
    )
    assert _served(spark, store) == want


def test_late_rows_dropped_and_counted(spark, tmp_path):
    store = str(tmp_path / "sd")
    apply_state_durations_batch(
        spark, store, _df(spark, [(1, "A", 0, 1), (1, "B", 10, 2)]),
        0, "user_id", "state", order_tiebreak="event_id",
    )
    # one row older than the carryover, one genuinely new
    out = apply_state_durations_batch(
        spark, store, _df(spark, [(1, "Z", 5, 9), (1, "C", 20, 3)]),
        1, "user_id", "state", order_tiebreak="event_id",
    )
    assert out["late"] == 1
    got = _served(spark, store)
    # A 10s, B 10s (bridge 10->20); Z never lands
    assert got[(1, "A")][0] == 10_000_000
    assert got[(1, "B")][0] == 10_000_000
    assert (1, "Z") not in got


def test_schema_guard_and_serve_before_start(spark, tmp_path):
    store = str(tmp_path / "sd")
    with pytest.raises(FileNotFoundError, match="start the sink"):
        serve_state_durations(spark, store)
    apply_state_durations_batch(
        spark, store, _df(spark, ROWS), 0, "user_id", "state",
        order_tiebreak="event_id",
    )
    with pytest.raises(ValueError, match="schema mismatch"):
        apply_state_durations_batch(
            spark, store, _df(spark, ROWS), 1, "state", "user_id",
        )


def test_streaming_sink_end_to_end(spark, tmp_path):
    import glob
    import json as _json
    import os

    src = str(tmp_path / "drop")
    df = _df(spark, ROWS).withColumn(
        "ts_s", F.date_format("ts", "yyyy-MM-dd HH:mm:ss")
    )
    df.filter(F.col("event_id") <= 2).select(
        "user_id", "state", "ts_s", "event_id"
    ).coalesce(1).write.mode("overwrite").json(src)
    p2 = os.path.join(src, "zz_batch2.json")
    with open(p2, "w") as f:
        for r in df.filter(F.col("event_id") > 2).collect():
            f.write(_json.dumps({
                "user_id": r.user_id, "state": r.state,
                "ts_s": r.ts_s, "event_id": r.event_id,
            }) + "\n")
    latest = max(
        os.path.getmtime(p) for p in glob.glob(os.path.join(src, "part-*"))
    )
    os.utime(p2, (latest + 10, latest + 10))

    stream = (
        spark.readStream.schema(
            "user_id bigint, state string, ts_s string, event_id bigint"
        )
        .option("maxFilesPerTrigger", "1")
        .json(src)
        .withColumn("ts", F.to_timestamp("ts_s"))
        .drop("ts_s")
    )
    store = str(tmp_path / "sd")
    q = start_state_durations_sink(
        stream, store, str(tmp_path / "ckpt"), "user_id", "state",
        order_tiebreak="event_id", available_now=True,
    )
    assert q.awaitTermination(180)
    assert _served(spark, store) == _batch_ref(spark, ROWS)


def test_tied_timestamp_without_tiebreak_is_kept(spark, tmp_path):
    """Review round 14: with no tiebreak column, a new event tied with
    the carryover timestamp is KEPT (zero-length interval), preserving
    stream==batch parity."""
    store = str(tmp_path / "sd")

    def _nt(rows):
        return _df(spark, rows).drop("event_id")

    b0 = [(1, "A", 0, 0), (1, "B", 100, 0)]
    b1 = [(1, "C", 100, 0), (1, "D", 160, 0)]  # C ties B's timestamp
    apply_state_durations_batch(
        spark, store, _nt(b0), 0, "user_id", "state"
    )
    out = apply_state_durations_batch(
        spark, store, _nt(b1), 1, "user_id", "state"
    )
    assert out["late"] == 0
    got = _served(spark, store)
    # A 100s; B->C zero-length; C holds 100->160
    assert got[(1, "A")][0] == 100_000_000
    assert got[(1, "C")][0] == 60_000_000
    assert (1, "B") in got and got[(1, "B")][0] == 0


def test_last_obs_versions_pruned(spark, tmp_path):
    import os

    store = str(tmp_path / "sd")
    for i, sec in enumerate([0, 50, 100]):
        apply_state_durations_batch(
            spark, store,
            _df(spark, [(1, "A", sec, i)]), i, "user_id", "state",
            order_tiebreak="event_id",
        )
    vers = sorted(os.listdir(f"{store}/last_obs"))
    # only the replay window (current + predecessor) survives
    assert vers == ["batch=1", "batch=2"]
    # deltas (the serving model) are all retained
    assert sorted(os.listdir(f"{store}/deltas")) == [
        "batch=0", "batch=1", "batch=2"
    ]


def test_compact_preserves_served_totals_and_prunes(spark, tmp_path):
    import os

    from rusty_timeseries_db_spark.streaming.state import (
        compact_state_durations,
    )

    store = str(tmp_path / "sd")
    b0 = [r for r in ROWS if r[2] <= 10]
    b1 = [r for r in ROWS if 10 < r[2] <= 50]
    b2 = [r for r in ROWS if r[2] > 50]
    for i, b in enumerate([b0, b1, b2]):
        apply_state_durations_batch(
            spark, store, _df(spark, b), i, "user_id", "state",
            order_tiebreak="event_id",
        )
    want = _served(spark, store)
    assert compact_state_durations(spark, store) == 3
    assert _served(spark, store) == want
    # folded delta dirs gone, one base snapshot
    assert os.listdir(f"{store}/deltas") == [] or not os.path.exists(
        f"{store}/deltas/batch=0"
    )
    assert sorted(os.listdir(f"{store}/base")) == ["upto=2"]
    # nothing new: compact is a no-op
    assert compact_state_durations(spark, store) == 0
    # the sink keeps working after compaction, serving base + new
    apply_state_durations_batch(
        spark, store,
        _df(spark, [(1, "Z", 200, 9)]), 3, "user_id", "state",
        order_tiebreak="event_id",
    )
    got = _served(spark, store)
    # user 1's last pre-compact obs (A at 100s) now holds 100s more
    assert got[(1, "A")][0] == want[(1, "A")][0] + 100_000_000
    # recompact folds the new delta into a fresh base
    assert compact_state_durations(spark, store) == 1
    assert _served(spark, store) == got
    assert sorted(os.listdir(f"{store}/base")) == ["upto=3"]


def test_compact_crash_between_base_and_cleanup_is_invisible(
    spark, tmp_path
):
    """Folded delta dirs left behind by a crash mid-cleanup are
    excluded by the read filter and swept by the next compact."""
    import shutil

    from rusty_timeseries_db_spark.streaming.state import (
        compact_state_durations,
    )

    store = str(tmp_path / "sd")
    b0 = [r for r in ROWS if r[2] <= 30]
    b1 = [r for r in ROWS if r[2] > 30]
    for i, b in enumerate([b0, b1]):
        apply_state_durations_batch(
            spark, store, _df(spark, b), i, "user_id", "state",
            order_tiebreak="event_id",
        )
    want = _served(spark, store)
    compact_state_durations(spark, store)
    # resurrect a folded delta dir (= crash before its deletion)
    src = f"{store}/base/upto=1"
    shutil.copytree(src, f"{store}/deltas/batch=0")
    # double-count would show immediately if the filter were wrong
    assert _served(spark, store) == want
    # the next compact sweeps it (nothing new to fold -> 0)
    assert compact_state_durations(spark, store) == 0
    import os

    assert not os.path.exists(f"{store}/deltas/batch=0")


def test_compact_interleaved_sink_commit_not_rolled_back(spark, tmp_path):
    """ADVICE r14 low: a sink micro-batch committing between compact's
    opening manifest read and its commit write must not get its
    last_applied_batch rolled back (the checkpoint has advanced — the
    batch would be lost forever). compact now merges base_upto into a
    FRESH manifest re-read."""
    import rusty_timeseries_db_spark.streaming.store_common as sc
    from rusty_timeseries_db_spark.streaming.state import (
        compact_state_durations,
    )

    store = str(tmp_path / "sd")
    b0 = [r for r in ROWS if r[2] <= 30]
    b1 = [r for r in ROWS if r[2] > 30]
    apply_state_durations_batch(
        spark, store, _df(spark, b0), 0, "user_id", "state",
        order_tiebreak="event_id",
    )

    real_read = sc.read_store_manifest
    fired = {"done": False}

    def hooked_read(spark_, store_, kind_):
        man = real_read(spark_, store_, kind_)
        if not fired["done"] and man is not None:
            fired["done"] = True
            # interleave batch 1's commit between compact's opening
            # read and its manifest write (real read/write inside)
            sc.read_store_manifest = real_read
            apply_state_durations_batch(
                spark, store, _df(spark, b1), 1, "user_id", "state",
                order_tiebreak="event_id",
            )
        return man

    sc.read_store_manifest = hooked_read
    try:
        compact_state_durations(spark, store)
    finally:
        sc.read_store_manifest = real_read

    man = real_read(spark, store, "state")
    # batch 1's commit survived compact's write; only batch 0 folded
    assert man["last_applied_batch"] == 1
    assert man["base_upto"] == 0
    # served = base(batch 0) + delta(batch 1) = the exact batch truth
    assert _served(spark, store) == _batch_ref(spark, ROWS)
