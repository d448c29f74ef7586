"""Streaming KLL quantile store (round 15 — streaming/quantile.py):
replay idempotence in effect (exact n_rows, rank-error containment),
schema/k guards, compaction (exact accounting preserved, dirs pruned,
containment holds), the interleaved-commit manifest merge, and the
real-sink end-to-end run."""

from __future__ import annotations

import bisect

import pytest
from pyspark.sql import functions as F

import rusty_timeseries_db_spark.streaming.store_common as sc
from rusty_timeseries_db_spark.streaming.quantile import (
    apply_quantile_sketch_batch,
    compact_quantile_sketch,
    serve_quantiles,
    start_quantile_sketch_sink,
)

ROWS = [("g", d, float(v)) for d in range(3) for v in range(d * 40, d * 40 + 40)]


def _df(spark, rows):
    return spark.createDataFrame(rows, "g string, day int, v double")


def _rank(vals, v):
    return bisect.bisect_right(sorted(vals), v) / len(vals)


def test_apply_replay_and_guards(spark, tmp_path):
    store = str(tmp_path / "qs")
    df = _df(spark, ROWS)
    n = apply_quantile_sketch_batch(spark, store, df, 0, ["g", "day"], "v")
    assert n == 3  # one cell per (g, day)
    assert apply_quantile_sketch_batch(
        spark, store, df, 0, ["g", "day"], "v"
    ) == 0  # watermark skip
    with pytest.raises(ValueError, match="k="):
        apply_quantile_sketch_batch(
            spark, store, df, 1, ["g", "day"], "v", k=100
        )
    with pytest.raises(ValueError, match="schema mismatch"):
        apply_quantile_sketch_batch(spark, store, df, 1, ["g"], "v")
    with pytest.raises(ValueError, match="subset"):
        serve_quantiles(spark, store, ["nope"])

    served = serve_quantiles(spark, store, ["g"], (0.5,)).collect()
    assert len(served) == 1 and served[0].n_rows == len(ROWS)
    vals = [v for _, _, v in ROWS]
    assert abs(_rank(vals, served[0].p50) - 0.5) <= 0.05


def test_crash_window_replay_converges_in_effect(spark, tmp_path):
    """A crash between the summary write and the manifest bump
    replays the batch: the overwrite leaves EXACTLY one summary per
    (cell, batch) — n_rows accounting is exact, estimates stay in
    the rank bound (byte identity is not the KLL contract)."""
    store = str(tmp_path / "qs")
    df = _df(spark, ROWS)
    apply_quantile_sketch_batch(spark, store, df, 0, ["g"], "v")

    real_write = sc.update_store_manifest

    def dying(*args, **kwargs):
        raise RuntimeError("injected crash")

    sc.update_store_manifest = dying
    try:
        with pytest.raises(RuntimeError, match="injected"):
            apply_quantile_sketch_batch(spark, store, df, 1, ["g"], "v")
    finally:
        sc.update_store_manifest = real_write
    # half-applied batch invisible
    assert serve_quantiles(spark, store, ["g"], (0.5,)).collect()[0].n_rows \
        == len(ROWS)
    # replay applies exactly once
    apply_quantile_sketch_batch(spark, store, df, 1, ["g"], "v")
    row = serve_quantiles(spark, store, ["g"], (0.5,)).collect()[0]
    assert row.n_rows == 2 * len(ROWS)
    vals = [v for _, _, v in ROWS] * 2
    assert abs(_rank(vals, row.p50) - 0.5) <= 0.05


def test_compact_preserves_accounting_and_containment(spark, tmp_path):
    store = str(tmp_path / "qs")
    b0, b1, b2 = ROWS[::3], ROWS[1::3], ROWS[2::3]
    for i, b in enumerate((b0, b1)):
        apply_quantile_sketch_batch(spark, store, _df(spark, b), i, ["g"], "v")
    before = serve_quantiles(spark, store, ["g"], (0.5, 0.95)).collect()[0]

    assert compact_quantile_sketch(spark, store) == 2
    after = serve_quantiles(spark, store, ["g"], (0.5, 0.95)).collect()[0]
    assert after.n_rows == before.n_rows  # exact accounting preserved
    vals = [v for _, _, v in b0 + b1]
    for q, v in ((0.5, after.p50), (0.95, after.p95)):
        assert abs(_rank(vals, v) - q) <= 0.07, (q, v)
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
    assert compact_quantile_sketch(spark, store) == 0
    # later batches merge on top of the base
    apply_quantile_sketch_batch(spark, store, _df(spark, b2), 2, ["g"], "v")
    row = serve_quantiles(spark, store, ["g"], (0.5,)).collect()[0]
    assert row.n_rows == len(ROWS)
    vals = [v for _, _, v in ROWS]
    assert abs(_rank(vals, row.p50) - 0.5) <= 0.07
    # base-on-base refold
    assert compact_quantile_sketch(spark, store) == 1
    row2 = serve_quantiles(spark, store, ["g"], (0.5,)).collect()[0]
    assert row2.n_rows == len(ROWS)


def test_compact_interleaved_sink_commit_not_rolled_back(spark, tmp_path):
    store = str(tmp_path / "qs")
    b0, b1 = ROWS[::2], ROWS[1::2]
    apply_quantile_sketch_batch(spark, store, _df(spark, b0), 0, ["g"], "v")

    real_read = sc.read_store_manifest
    fired = {"done": False}

    def hooked(spark_, store_, kind_):
        man = real_read(spark_, store_, kind_)
        if not fired["done"] and man is not None:
            fired["done"] = True
            sc.read_store_manifest = real_read
            apply_quantile_sketch_batch(
                spark, store, _df(spark, b1), 1, ["g"], "v"
            )
        return man

    sc.read_store_manifest = hooked
    try:
        compact_quantile_sketch(spark, store)
    finally:
        sc.read_store_manifest = real_read

    man = real_read(spark, store, "quantile")
    assert man["last_applied_batch"] == 1  # survived compact's write
    assert man["base_upto"] == 0
    row = serve_quantiles(spark, store, ["g"], (0.5,)).collect()[0]
    assert row.n_rows == len(ROWS)


def test_streaming_sink_end_to_end(spark, tmp_path):
    import glob
    import json as _json
    import os

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
        spark.readStream.schema("g string, day int, v double")
        .option("maxFilesPerTrigger", "1")
        .json(src)
    )
    store = str(tmp_path / "qs")
    q = start_quantile_sketch_sink(
        stream, store, str(tmp_path / "ckpt"), ["g", "day"], "v",
        available_now=True,
    )
    assert q.awaitTermination(180)
    row = serve_quantiles(spark, store, ["g"], (0.5, 0.99)).collect()[0]
    assert row.n_rows == len(ROWS)
    vals = [v for _, _, v in ROWS]
    assert abs(_rank(vals, row.p50) - 0.5) <= 0.05
    # compact and serve again — accounting identical
    assert compact_quantile_sketch(spark, store) > 0
    assert serve_quantiles(spark, store, ["g"], (0.5,)).collect()[0].n_rows \
        == len(ROWS)


def test_serve_before_any_summary_raises_honestly(spark, tmp_path):
    store = str(tmp_path / "qs")
    with pytest.raises(FileNotFoundError, match="start the sink"):
        serve_quantiles(spark, store, ["g"])
    apply_quantile_sketch_batch(
        spark, store, _df(spark, ROWS).limit(0), 0, ["g"], "v"
    )
    with pytest.raises(ValueError, match="every applied batch was empty"):
        serve_quantiles(spark, store, ["g"])
    assert compact_quantile_sketch(spark, store) == 0
