"""Streaming Theta segment store (streaming/theta.py): replay idempotence in
EFFECT (exact
n_rows accounting at every crash/replay point, estimates ≤5% vs the
exact distinct), compaction folding to a merged-sketch base with
accounting preserved, the interleaved sink-commit CAS survival, the
real-sink end-to-end run, and overlap serving (pairwise + k-way) vs
the exact set algebra."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

import rusty_timeseries_db_spark.streaming.store_common as sc
from rusty_timeseries_db_spark.streaming.theta import (
    apply_theta_sketch_batch,
    compact_theta_sketch,
    serve_theta,
    serve_theta_overlap,
    start_theta_sketch_sink,
)

# segments with known membership: A = users 0..39, B = 20..59 (overlap
# 20), C = 40..79 (disjoint from A, overlap 20 with B); A∩B∩C = {}
# plus D = 30..49 so a 3-way B∩C∩D = 40..49 is non-empty
ROWS = (
    [("A", u) for u in range(0, 40)]
    + [("B", u) for u in range(20, 60)]
    + [("C", u) for u in range(40, 80)]
    + [("D", u) for u in range(30, 50)]
)


def _df(spark, rows):
    return spark.createDataFrame(rows, "g string, u long")


def _exact(rows):
    segs = {}
    for g, u in rows:
        segs.setdefault(g, set()).add(u)
    return segs


def _assert_est_close(served, exact_sets, tol=0.05):
    for r in served:
        truth = len(exact_sets[r["g"]])
        assert abs(r["distinct_est"] - truth) <= max(1, tol * truth), (
            r["g"], r["distinct_est"], truth,
        )


def test_apply_idempotent_guards_and_accounting(spark, tmp_path):
    store = str(tmp_path / "th")
    df = _df(spark, ROWS)
    n = apply_theta_sketch_batch(spark, store, df, 0, ["g"], "u")
    assert n == 4  # one summary row per segment
    # replay: no-op
    assert apply_theta_sketch_batch(spark, store, df, 0, ["g"], "u") == 0
    # schema drift refused
    with pytest.raises(ValueError, match="schema mismatch"):
        apply_theta_sketch_batch(spark, store, df, 1, ["g", "u"], "u")
    served = {r.g: r for r in serve_theta(spark, store, ["g"]).collect()}
    exact = _exact(ROWS)
    assert {g: r.n_rows for g, r in served.items()} == {
        g: len([1 for s, _ in ROWS if s == g]) for g in exact
    }
    _assert_est_close(served.values(), exact)
    # serving keys must be a subset of stored cell keys
    with pytest.raises(ValueError, match="subset"):
        serve_theta(spark, store, ["nope"])


def test_crash_window_replay_converges_in_effect(spark, tmp_path):
    """A crash between the summary write and the manifest bump replays
    the batch: exactly one summary per (cell, batch) serves, n_rows
    accounting exact and estimates in tolerance at EVERY point."""
    store = str(tmp_path / "th")
    b0, b1 = ROWS[::2], ROWS[1::2]
    apply_theta_sketch_batch(spark, store, _df(spark, b0), 0, ["g"], "u")

    real_write = sc.update_store_manifest

    def dying(*args, **kwargs):
        raise RuntimeError("injected crash")

    sc.update_store_manifest = dying
    try:
        with pytest.raises(RuntimeError, match="injected"):
            apply_theta_sketch_batch(spark, store, _df(spark, b1), 1, ["g"], "u")
    finally:
        sc.update_store_manifest = real_write

    # half-applied batch invisible: accounting reflects batch 0 only
    served = {r.g: r for r in serve_theta(spark, store, ["g"]).collect()}
    exact0 = _exact(b0)
    assert {g: r.n_rows for g, r in served.items()} == {
        g: len([1 for s, _ in b0 if s == g]) for g in exact0
    }
    _assert_est_close(served.values(), exact0)
    # replay applies exactly once
    apply_theta_sketch_batch(spark, store, _df(spark, b1), 1, ["g"], "u")
    served = {r.g: r for r in serve_theta(spark, store, ["g"]).collect()}
    assert {g: r.n_rows for g, r in served.items()} == {
        g: len([1 for s, _ in ROWS if s == g]) for g in _exact(ROWS)
    }
    _assert_est_close(served.values(), _exact(ROWS))


def test_compact_preserves_accounting_and_estimates(spark, tmp_path):
    store = str(tmp_path / "th")
    b0, b1, b2 = ROWS[::3], ROWS[1::3], ROWS[2::3]
    for i, b in enumerate((b0, b1)):
        apply_theta_sketch_batch(spark, store, _df(spark, b), i, ["g"], "u")

    assert compact_theta_sketch(spark, store) == 2
    served = {r.g: r for r in serve_theta(spark, store, ["g"]).collect()}
    two = b0 + b1
    assert {g: r.n_rows for g, r in served.items()} == {
        g: len([1 for s, _ in two if s == g]) for g in _exact(two)
    }
    _assert_est_close(served.values(), _exact(two))
    # folded dirs gone; idempotent re-compact
    import os

    assert not any(
        n.startswith("batch=")
        for n in (
            os.listdir(store + "/summaries")
            if os.path.isdir(store + "/summaries")
            else []
        )
    )
    assert compact_theta_sketch(spark, store) == 0
    # later batches merge on top of the base; base-on-base refold
    apply_theta_sketch_batch(spark, store, _df(spark, b2), 2, ["g"], "u")
    assert compact_theta_sketch(spark, store) == 1
    served = {r.g: r for r in serve_theta(spark, store, ["g"]).collect()}
    assert {g: r.n_rows for g, r in served.items()} == {
        g: len([1 for s, _ in ROWS if s == g]) for g in _exact(ROWS)
    }
    _assert_est_close(served.values(), _exact(ROWS))


def test_compact_interleaved_sink_commit_not_rolled_back(spark, tmp_path):
    store = str(tmp_path / "th")
    b0, b1 = ROWS[::2], ROWS[1::2]
    apply_theta_sketch_batch(spark, store, _df(spark, b0), 0, ["g"], "u")

    real_read = sc.read_store_manifest
    fired = {"done": False}

    def hooked(spark_, store_, kind_):
        man = real_read(spark_, store_, kind_)
        if not fired["done"] and man is not None:
            fired["done"] = True
            sc.read_store_manifest = real_read
            apply_theta_sketch_batch(spark, store, _df(spark, b1), 1, ["g"], "u")
        return man

    sc.read_store_manifest = hooked
    try:
        compact_theta_sketch(spark, store)
    finally:
        sc.read_store_manifest = real_read

    man = real_read(spark, store, "theta")
    assert man["last_applied_batch"] == 1  # survived compact's commit
    assert man["base_upto"] == 0
    served = {r.g: r for r in serve_theta(spark, store, ["g"]).collect()}
    assert {g: r.n_rows for g, r in served.items()} == {
        g: len([1 for s, _ in ROWS if s == g]) for g in _exact(ROWS)
    }


def test_overlap_serving_vs_exact_sets(spark, tmp_path):
    """Pairwise and k-way overlaps served from the store match the
    exact set algebra within tolerance — including the empty A∩C and
    the non-empty 3-way B∩C∩D."""
    store = str(tmp_path / "th")
    b0, b1 = ROWS[::2], ROWS[1::2]
    for i, b in enumerate((b0, b1)):
        apply_theta_sketch_batch(spark, store, _df(spark, b), i, ["g"], "u")
    exact = _exact(ROWS)

    pairs = {
        (r.seg_a, r.seg_b): r
        for r in serve_theta_overlap(spark, store, "g").collect()
    }
    assert set(pairs) == {
        ("A", "B"), ("A", "C"), ("A", "D"), ("B", "C"), ("B", "D"),
        ("C", "D"),
    }
    for (a, b), r in pairs.items():
        ti = len(exact[a] & exact[b])
        tu = len(exact[a] | exact[b])
        assert abs(r.inter_est - ti) <= max(1, 0.05 * ti), (a, b)
        assert abs(r.union_est - tu) <= max(1, 0.05 * tu), (a, b)
    assert pairs[("A", "C")].inter_est == 0  # disjoint stays disjoint

    triples = {
        (r.seg_1, r.seg_2, r.seg_3): r.inter_est
        for r in serve_theta_overlap(spark, store, "g", k=3).collect()
    }
    assert len(triples) == 4  # C(4,3)
    for (a, b, c), est in triples.items():
        truth = len(exact[a] & exact[b] & exact[c])
        assert abs(est - truth) <= max(1, 0.05 * truth), (a, b, c)
    assert triples[("B", "C", "D")] > 0
    assert triples[("A", "B", "C")] == 0


def test_streaming_sink_end_to_end(spark, tmp_path):
    """Two real micro-batches through the REAL sink; served accounting
    and estimates equal the one-shot batch rollup."""
    import glob
    import json as _json
    import os

    src = str(tmp_path / "drop")
    df = _df(spark, ROWS)
    df.filter(F.col("u") % 2 == 0).coalesce(1).write.mode("overwrite").json(src)
    p2 = os.path.join(src, "zz_batch2.json")
    with open(p2, "w") as f:
        for r in df.filter(F.col("u") % 2 != 0).collect():
            f.write(_json.dumps({"g": r.g, "u": r.u}) + "\n")
    latest = max(
        os.path.getmtime(p) for p in glob.glob(os.path.join(src, "part-*"))
    )
    os.utime(p2, (latest + 10, latest + 10))

    stream = (
        spark.readStream.schema("g string, u long")
        .option("maxFilesPerTrigger", "1")
        .json(src)
    )
    store = str(tmp_path / "th")
    q = start_theta_sketch_sink(
        stream, store, str(tmp_path / "ckpt"), ["g"], "u",
        available_now=True,
    )
    assert q.awaitTermination(180)

    served = {r.g: r for r in serve_theta(spark, store, ["g"]).collect()}
    exact = _exact(ROWS)
    assert {g: r.n_rows for g, r in served.items()} == {
        g: len([1 for s, _ in ROWS if s == g]) for g in exact
    }
    _assert_est_close(served.values(), exact)
    # post-compact: identical accounting, estimates still in tolerance
    assert compact_theta_sketch(spark, store) > 0
    served2 = {r.g: r for r in serve_theta(spark, store, ["g"]).collect()}
    assert {g: r.n_rows for g, r in served2.items()} == {
        g: r.n_rows for g, r in served.items()
    }
    _assert_est_close(served2.values(), exact)
