"""Streaming heavy-hitter sketch sink (rounds 14-15 —
streaming/sketch.py): replay idempotence (versioned-dir overwrite
convergence from the crash window), schema/k guards, bound containment
for batch-split data, the real-sink end-to-end run, and the round-15
compaction: served results bit-identical before/after a fold, crash
recovery at every protocol step, and the interleaved sink-commit
manifest merge."""

from __future__ import annotations

from collections import Counter

import pytest
from pyspark.sql import functions as F

import rusty_timeseries_db_spark.streaming.store_common as sc
from rusty_timeseries_db_spark.streaming.sketch import (
    apply_topk_sketch_batch,
    compact_topk_sketch,
    serve_topk,
    start_topk_sketch_sink,
)

ROWS = [
    ("a", d, v)
    for d, vals in enumerate(
        [[1, 1, 1, 2, 2, 3], [1, 4, 4, 4, 2], [5, 5, 1, 1]]
    )
    for v in vals
]


def _df(spark, rows):
    return spark.createDataFrame(rows, "g string, day int, v int")


def _served(spark, store, keys=("g",)):
    return sorted(
        (tuple(r[k] for k in keys), r.value, r.count_lo, r.err_ub, r.n_rows)
        for r in serve_topk(spark, store, list(keys)).collect()
    )


def test_apply_idempotent_and_guards(spark, tmp_path):
    store = str(tmp_path / "hh")
    df = _df(spark, ROWS)
    n = apply_topk_sketch_batch(
        spark, store, df, 0, ["g", "day"], "v", k=2
    )
    assert n == 3  # one summary row per (g, day) cell
    # replay: no-op
    assert (
        apply_topk_sketch_batch(spark, store, df, 0, ["g", "day"], "v", k=2)
        == 0
    )
    assert spark.read.parquet(store + "/summaries").count() == 3
    # schema/k drift refused
    with pytest.raises(ValueError, match="k="):
        apply_topk_sketch_batch(spark, store, df, 1, ["g", "day"], "v", k=3)
    with pytest.raises(ValueError, match="schema mismatch"):
        apply_topk_sketch_batch(spark, store, df, 1, ["g"], "v", k=2)
    # empty new batch: watermark still advances
    assert (
        apply_topk_sketch_batch(
            spark, store, df.limit(0), 1, ["g", "day"], "v", k=2
        )
        == 0
    )
    assert (
        apply_topk_sketch_batch(spark, store, df, 1, ["g", "day"], "v", k=2)
        == 0
    )
    # serving keys must be a subset of the stored cell keys
    with pytest.raises(ValueError, match="subset"):
        serve_topk(spark, store, ["g", "nope"])


def test_crash_between_summary_write_and_manifest_bump(spark, tmp_path):
    """The ADVICE r14 medium: a crash after the summary write but
    before the manifest bump replays the batch. The versioned-dir
    overwrite must CONVERGE (identical store) instead of appending the
    batch's summaries a second time."""
    store = str(tmp_path / "hh")
    df = _df(spark, ROWS)
    apply_topk_sketch_batch(spark, store, df, 0, ["g", "day"], "v", k=2)
    before = _served(spark, store)

    # crash window: batch 1's summaries land, manifest commit dies
    real_write = sc.update_store_manifest

    def dying_write(*args, **kwargs):
        raise RuntimeError("injected crash before manifest bump")

    sc.update_store_manifest = dying_write
    try:
        with pytest.raises(RuntimeError, match="injected"):
            apply_topk_sketch_batch(
                spark, store, df, 1, ["g", "day"], "v", k=2
            )
    finally:
        sc.update_store_manifest = real_write

    # the half-applied batch is invisible to serving (watermark filter)
    assert _served(spark, store) == before
    # replay (the stream checkpoint re-delivers batch 1): overwrites
    # the same dir, manifest advances — applied exactly once
    n = apply_topk_sketch_batch(spark, store, df, 1, ["g", "day"], "v", k=2)
    assert n == 3
    served = {r.value: r for r in serve_topk(spark, store, ["g"]).collect()}
    truth = Counter(v for _, _, v in ROWS * 2)  # batches 0 and 1 = df twice
    for v, r in served.items():
        assert r.count_lo <= truth[v] <= r.count_lo + r.err_ub
    assert all(r.n_rows == 2 * len(ROWS) for r in served.values())


def test_split_across_batches_bound_holds(spark, tmp_path):
    """The same cell arriving over several batches yields several
    summary rows; the served merge's [count_lo, count_lo + err_ub]
    must still contain the exact truth."""
    store = str(tmp_path / "hh")
    # split every cell's rows across two batches
    b0, b1 = ROWS[::2], ROWS[1::2]
    apply_topk_sketch_batch(spark, store, _df(spark, b0), 0, ["g"], "v", k=2)
    apply_topk_sketch_batch(spark, store, _df(spark, b1), 1, ["g"], "v", k=2)
    truth = Counter(v for _, _, v in ROWS)
    served = serve_topk(spark, store, ["g"]).collect()
    assert all(r.n_rows == len(ROWS) for r in served)
    for r in served:
        assert r.count_lo <= truth[r.value] <= r.count_lo + r.err_ub
    # the global heavy hitter (value 1, count 6) must survive with a
    # bound that pins it above every other value's upper bound... at
    # least its lower bound is the largest
    top = max(served, key=lambda r: r.count_lo)
    assert top.value == 1


def test_compact_served_identical_and_cost_flat(spark, tmp_path):
    """The round-15 fold: served results BIT-IDENTICAL before/after,
    at both the stored and a coarsened key granularity, with the
    folded summary dirs gone (serve cost no longer O(batches)); later
    batches keep landing and merge on top of the base."""
    store = str(tmp_path / "hh")
    b0, b1, b2 = ROWS[::3], ROWS[1::3], ROWS[2::3]
    apply_topk_sketch_batch(spark, store, _df(spark, b0), 0, ["g", "day"], "v", k=2)
    apply_topk_sketch_batch(spark, store, _df(spark, b1), 1, ["g", "day"], "v", k=2)
    before_fine = _served(spark, store, ("g", "day"))
    before_coarse = _served(spark, store, ("g",))
    before_topk = sorted(
        (r.value, r.count_lo)
        for r in serve_topk(spark, store, ["g"], k=2).collect()
    )

    assert compact_topk_sketch(spark, store) == 2
    assert _served(spark, store, ("g", "day")) == before_fine
    assert _served(spark, store, ("g",)) == before_coarse
    assert before_topk == sorted(
        (r.value, r.count_lo)
        for r in serve_topk(spark, store, ["g"], k=2).collect()
    )
    # folded summary dirs are gone — the serve input is the base alone
    import os

    assert not any(
        n.startswith("batch=")
        for n in (
            os.listdir(store + "/summaries")
            if os.path.isdir(store + "/summaries")
            else []
        )
    )
    # idempotent: nothing new to fold
    assert compact_topk_sketch(spark, store) == 0

    # a later batch lands above the base and merges on top of it —
    # equal to the never-compacted three-batch store
    apply_topk_sketch_batch(spark, store, _df(spark, b2), 2, ["g", "day"], "v", k=2)
    ref_store = str(tmp_path / "ref")
    for i, b in enumerate((b0, b1, b2)):
        apply_topk_sketch_batch(
            spark, ref_store, _df(spark, b), i, ["g", "day"], "v", k=2
        )
    assert _served(spark, store, ("g",)) == _served(spark, ref_store, ("g",))
    # containment against the exact truth still holds post-compact
    truth = Counter(v for _, _, v in ROWS)
    for r in serve_topk(spark, store, ["g"]).collect():
        assert r.count_lo <= truth[r.value] <= r.count_lo + r.err_ub
    # fold the rest too: base-on-base fold stays identical (one
    # version above upto=1 → n_folded = wm - old_base = 1)
    three = _served(spark, store, ("g",))
    assert compact_topk_sketch(spark, store) == 1
    assert _served(spark, store, ("g",)) == three


def _topk_kind():
    def apply(spark, store, rows, i):
        apply_topk_sketch_batch(
            spark, store, _df(spark, rows), i, ["g"], "v", k=2
        )

    def check(spark, store, before, rows):
        assert _served(spark, store) == before  # bit-identical

    return apply, _served, compact_topk_sketch, check, (
        ROWS[::2], ROWS[1::2], ROWS,
    )


def _quantile_kind():
    import bisect

    from rusty_timeseries_db_spark.streaming.quantile import (
        apply_quantile_sketch_batch,
        compact_quantile_sketch,
        serve_quantiles,
    )

    rows_q = [
        ("g", d, float(v)) for d in range(3)
        for v in range(d * 40, d * 40 + 40)
    ]

    def apply(spark, store, rows, i):
        df = spark.createDataFrame(rows, "g string, day int, v double")
        apply_quantile_sketch_batch(spark, store, df, i, ["g"], "v")

    def served(spark, store):
        return serve_quantiles(spark, store, ["g"], (0.5,)).collect()

    def check(spark, store, before, rows):
        # exact n_rows accounting; p50 inside the suite's post-compact
        # rank bound (test_streaming_quantile.py)
        (row,) = served(spark, store)
        assert row.n_rows == before[0].n_rows == len(rows)
        vals = sorted(v for _, _, v in rows)
        rank = bisect.bisect_right(vals, row.p50) / len(vals)
        assert abs(rank - 0.5) <= 0.07

    extra = [("g", 3, float(v)) for v in range(120, 160)]
    return apply, served, compact_quantile_sketch, check, (
        rows_q[::2], rows_q[1::2], extra,
    )


def _theta_kind():
    from rusty_timeseries_db_spark.streaming.theta import (
        apply_theta_sketch_batch,
        compact_theta_sketch,
        serve_theta,
    )

    rows_t = (
        [("A", u) for u in range(0, 40)] + [("B", u) for u in range(20, 60)]
    )

    def apply(spark, store, rows, i):
        df = spark.createDataFrame(rows, "g string, u long")
        apply_theta_sketch_batch(spark, store, df, i, ["g"], "u")

    def served(spark, store):
        return {r.g: r for r in serve_theta(spark, store, ["g"]).collect()}

    def check(spark, store, before, rows):
        # exact n_rows accounting; distinct estimates within the suite's
        # 5% of exact (test_streaming_theta.py)
        got = served(spark, store)
        assert {g: r.n_rows for g, r in got.items()} == {
            g: r.n_rows for g, r in before.items()
        } == {g: sum(1 for s, _ in rows if s == g) for g in got}
        for g, r in got.items():
            truth = len({u for s, u in rows if s == g})
            assert abs(r.distinct_est - truth) <= max(1, 0.05 * truth), g

    extra = [("C", u) for u in range(40, 80)]
    return apply, served, compact_theta_sketch, check, (
        rows_t[::2], rows_t[1::2], extra,
    )


def _state_kind():
    from datetime import datetime, timedelta

    from rusty_timeseries_db_spark.streaming.state import (
        apply_state_durations_batch,
        compact_state_durations,
        serve_state_durations,
    )

    t0 = datetime(2024, 1, 1)

    def apply(spark, store, rows, i):
        df = spark.createDataFrame(
            [
                (u, st, t0 + timedelta(seconds=off), e)
                for u, st, off, e in rows
            ],
            "user_id bigint, state string, ts timestamp, event_id bigint",
        )
        apply_state_durations_batch(
            spark, store, df, i, "user_id", "state",
            order_tiebreak="event_id",
        )

    def served(spark, store):
        return sorted(
            tuple(r) for r in serve_state_durations(spark, store).collect()
        )

    def check(spark, store, before, rows):
        assert served(spark, store) == before  # exact totals

    return apply, served, compact_state_durations, check, (
        [(1, "A", 0, 1), (1, "B", 10, 2), (2, "X", 5, 1)],
        [(1, "A", 30, 3), (2, "Y", 50, 2)],
        [(1, "C", 60, 4), (2, "X", 90, 3)],
    )


@pytest.mark.parametrize(
    "kind", [_topk_kind, _quantile_kind, _theta_kind, _state_kind],
    ids=["topk", "quantile", "theta", "state"],
)
def test_compact_crash_points_recover(spark, tmp_path, kind):
    """For every store kind: crash (a) after the base write but before
    the manifest bump — serving still reads the old state and a re-run
    converges; crash (b) after the bump but before cleanup — dead dirs
    are invisible and the next compact sweeps them."""
    apply, served, compact, check, (b0, b1, b2) = kind()
    store = str(tmp_path / "st")
    apply(spark, store, b0, 0)
    apply(spark, store, b1, 1)
    before = served(spark, store)

    # (a) die on the manifest commit: base/upto=1 is on disk, invisible
    real_write = sc.update_store_manifest

    def dying_write(*args, **kwargs):
        raise RuntimeError("injected crash before base commit")

    sc.update_store_manifest = dying_write
    try:
        with pytest.raises(RuntimeError, match="injected"):
            compact(spark, store)
    finally:
        sc.update_store_manifest = real_write
    import os

    assert os.path.isdir(store + "/base/upto=1")
    check(spark, store, before, b0 + b1)  # old state still served
    # re-run converges: overwrites the base, commits, cleans up
    assert compact(spark, store) == 2
    check(spark, store, before, b0 + b1)

    # (b) die after the bump, before cleanup: land a new batch, then
    # crash the second compact's cleanup by injecting into delete_path
    apply(spark, store, b2, 2)
    after_b2 = served(spark, store)
    import rusty_timeseries_db_spark.fsutil as fsutil

    real_dp = fsutil.delete_path

    def dying_delete(spark_, path):
        raise RuntimeError("injected crash mid-cleanup")

    # patch the module attribute the store's sweep calls at run time
    fsutil.delete_path = dying_delete
    try:
        with pytest.raises(RuntimeError, match="mid-cleanup"):
            compact(spark, store)
    finally:
        fsutil.delete_path = real_dp
    # manifest committed upto=2; stale dirs (old base, folded summary)
    # are invisible to serving
    check(spark, store, after_b2, b0 + b1 + b2)
    # next compact sweeps the dead dirs
    assert compact(spark, store) == 0
    check(spark, store, after_b2, b0 + b1 + b2)
    assert not os.path.isdir(store + "/base/upto=1")


def test_compact_interleaved_sink_commit_not_rolled_back(spark, tmp_path):
    """A sink micro-batch committing between compact's opening
    manifest read and its base-commit write must survive: compact
    merges base_upto into a FRESH manifest read (the streaming/state.py
    ADVICE r14 fix, applied here symmetrically)."""
    store = str(tmp_path / "hh")
    b0, b1 = ROWS[::2], ROWS[1::2]
    apply_topk_sketch_batch(spark, store, _df(spark, b0), 0, ["g"], "v", k=2)

    real_read = sc.read_store_manifest
    fired = {"done": False}

    def hooked_read(spark_, store_, kind_):
        man = real_read(spark_, store_, kind_)
        if not fired["done"] and man is not None:
            fired["done"] = True
            # interleave a sink commit between compact's opening read
            # and everything after (runs with the real read/write)
            sc.read_store_manifest = real_read
            apply_topk_sketch_batch(
                spark, store, _df(spark, b1), 1, ["g"], "v", k=2
            )
        return man

    sc.read_store_manifest = hooked_read
    try:
        compact_topk_sketch(spark, store)
    finally:
        sc.read_store_manifest = real_read

    man = real_read(spark, store, "sketch")
    # batch 1's commit survived compact's manifest write...
    assert man["last_applied_batch"] == 1
    # ...and only batch 0 was folded (the fold snapshot predates it)
    assert man["base_upto"] == 0
    # served = base(batch 0) + delta(batch 1) = full truth containment
    truth = Counter(v for _, _, v in ROWS)
    served = serve_topk(spark, store, ["g"]).collect()
    assert all(r.n_rows == len(ROWS) for r in served)
    for r in served:
        assert r.count_lo <= truth[r.value] <= r.count_lo + r.err_ub


def test_streaming_sink_end_to_end(spark, tmp_path):
    """Two real micro-batches through the REAL sink; served merge ==
    the batch-side merge over identically-split summaries."""
    import glob
    import json as _json
    import os

    from rusty_timeseries_db_spark.functions.sketches import (
        merge_topk_sketch,
        topk_sketch,
    )

    src = str(tmp_path / "drop")
    df = _df(spark, ROWS)
    df.filter(F.col("day") < 2).coalesce(1).write.mode("overwrite").json(src)
    p2 = os.path.join(src, "zz_batch2.json")
    with open(p2, "w") as f:
        for r in df.filter(F.col("day") >= 2).collect():
            f.write(_json.dumps({"g": r.g, "day": r.day, "v": r.v}) + "\n")
    latest = max(
        os.path.getmtime(p) for p in glob.glob(os.path.join(src, "part-*"))
    )
    os.utime(p2, (latest + 10, latest + 10))

    stream = (
        spark.readStream.schema("g string, day int, v int")
        .option("maxFilesPerTrigger", "1")
        .json(src)
    )
    store = str(tmp_path / "hh")
    q = start_topk_sketch_sink(
        stream, store, str(tmp_path / "ckpt"), ["g", "day"], "v", k=2,
        available_now=True,
    )
    assert q.awaitTermination(180)

    served = {
        (r.g, r.value): (r.count_lo, r.err_ub)
        for r in serve_topk(spark, store, ["g"]).collect()
    }
    # cells (g, day) arrive whole (the batch split is by day), so the
    # served merge equals the one-shot batch pipeline exactly
    want = {
        (r.g, r.value): (r.count_lo, r.err_ub)
        for r in merge_topk_sketch(
            topk_sketch(df, ["g", "day"], "v", k=2), ["g"]
        ).collect()
    }
    assert served == want
    # compact the landed store: the served merge is still identical
    assert compact_topk_sketch(spark, store) > 0
    assert served == {
        (r.g, r.value): (r.count_lo, r.err_ub)
        for r in serve_topk(spark, store, ["g"]).collect()
    }


def test_serve_before_any_summary_raises_honestly(spark, tmp_path):
    store = str(tmp_path / "hh")
    with pytest.raises(FileNotFoundError, match="start the sink"):
        serve_topk(spark, store, ["g"])
    # manifest exists but only an empty batch was applied
    apply_topk_sketch_batch(
        spark, store, _df(spark, ROWS).limit(0), 0, ["g"], "v", k=2
    )
    with pytest.raises(ValueError, match="every applied batch was empty"):
        serve_topk(spark, store, ["g"])
    # compacting the empty store is a no-op, not a crash
    assert compact_topk_sketch(spark, store) == 0
    with pytest.raises(ValueError, match="every applied batch was empty"):
        serve_topk(spark, store, ["g"])
