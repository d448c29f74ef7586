"""Structured-streaming tests: JSON drop-dir ingest → parquet sink,
FDD foreachBatch flagging, windowed aggregation (SURVEY §5.3 #3)."""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

from rusty_timeseries_db_spark.streaming.fdd import (
    consecutive_faults,
    flag_faults,
    start_fdd_stream,
)
from rusty_timeseries_db_spark.streaming.ingest import (
    commit_batch_exactly_once,
    committed_batch_ids,
    compact_exactly_once,
    normalize_batch,
    read_committed_telemetry,
    read_telemetry_stream,
    start_telemetry_sink,
    start_telemetry_sink_exactly_once,
    visible_batch_dirs,
)
from tests.conftest import CANONICAL_ROWS


def _write_batch(src_dir: str, rows, name: str) -> None:
    os.makedirs(src_dir, exist_ok=True)
    with open(os.path.join(src_dir, name), "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")


def test_stream_ingest_to_parquet(spark, tmp_path):
    src = str(tmp_path / "drop")
    wh = str(tmp_path / "wh")
    _write_batch(src, CANONICAL_ROWS[:2], "b1.jsonl")
    _write_batch(src, CANONICAL_ROWS[2:], "b2.jsonl")

    stream = read_telemetry_stream(spark, src)
    q = start_telemetry_sink(stream, wh, available_now=True)
    q.awaitTermination(120)

    got = spark.read.parquet(os.path.join(wh, "telemetry"))
    assert got.count() == 3
    assert set(got.columns) >= {
        "sensor_name", "ts", "ts_raw", "value", "fc1_flag", "timeseries_id",
    }
    # normalization applied on the stream path too
    assert got.filter(F.col("fc1_flag").isNotNull()).count() == 0


def test_exactly_once_sink_end_to_end(spark, tmp_path):
    src = str(tmp_path / "drop")
    wh = str(tmp_path / "wh")
    _write_batch(src, CANONICAL_ROWS[:2], "b1.jsonl")
    _write_batch(src, CANONICAL_ROWS[2:], "b2.jsonl")

    stream = read_telemetry_stream(spark, src)
    q = start_telemetry_sink_exactly_once(stream, wh, available_now=True)
    q.awaitTermination(120)

    got = read_committed_telemetry(spark, wh)
    assert got is not None and got.count() == 3
    assert "batch_id" not in got.columns
    assert set(got.columns) >= {
        "sensor_name", "ts", "ts_raw", "value", "fc1_flag", "timeseries_id",
    }


def test_exactly_once_replay_writes_zero_duplicates(spark, tmp_path):
    """Crash-replay simulation: re-delivering the same micro-batch (same
    batch_id — Spark's checkpointed offsets make the id stable across
    restarts) must leave ZERO duplicate rows, with NO reader-side
    ingest_seq dedup."""
    wh = str(tmp_path / "wh")
    path = os.path.join(wh, "telemetry_eo")
    raw = spark.createDataFrame(
        [(r["sensor_name"], r["timestamp"], r["value"], r.get("fc1_flag"),
          r["timeseries_id"]) for r in CANONICAL_ROWS],
        "sensor_name string, timestamp string, value double, "
        "fc1_flag int, timeseries_id string",
    )

    # batch 0 commits; a full replay of batch 0 must be a no-op
    assert commit_batch_exactly_once(normalize_batch(raw, 0), 0, path) is True
    assert commit_batch_exactly_once(normalize_batch(raw, 0), 0, path) is False
    got = read_committed_telemetry(spark, wh)
    assert got.count() == len(CANONICAL_ROWS)
    assert (
        got.select("timeseries_id", "ts", "ingest_seq").distinct().count()
        == len(CANONICAL_ROWS)
    )

    # crash-between-write-and-manifest window: an orphan (uncommitted)
    # batch dir is invisible to readers, and the replay overwrites it
    orphan = os.path.join(path, "batch_id=1")
    normalize_batch(raw, 1).write.mode("overwrite").partitionBy(
        "series_bucket"
    ).parquet(orphan)
    assert committed_batch_ids(path) == [0]
    assert read_committed_telemetry(spark, wh).count() == len(CANONICAL_ROWS)
    assert commit_batch_exactly_once(normalize_batch(raw, 1), 1, path) is True
    assert read_committed_telemetry(spark, wh).count() == 2 * len(CANONICAL_ROWS)
    # still no (timeseries_id, ts, ingest_seq) duplicates: batch 1 rows
    # carry a distinct batch-id-prefixed sequence range
    n = read_committed_telemetry(spark, wh).select(
        "timeseries_id", "ts", "ingest_seq"
    ).distinct().count()
    assert n == 2 * len(CANONICAL_ROWS)


def test_exactly_once_compaction_preserves_guarantee(spark, tmp_path):
    """Compaction folds batch dirs into one (small-files control at
    scale) WITHOUT weakening exactly-once: committed ids survive, so a
    replay of an already-folded batch is still skipped."""
    wh = str(tmp_path / "wh")
    path = os.path.join(wh, "telemetry_eo")
    raw = spark.createDataFrame(
        [(r["sensor_name"], r["timestamp"], r["value"], r.get("fc1_flag"),
          r["timeseries_id"]) for r in CANONICAL_ROWS],
        "sensor_name string, timestamp string, value double, "
        "fc1_flag int, timeseries_id string",
    )
    n = len(CANONICAL_ROWS)
    assert commit_batch_exactly_once(normalize_batch(raw, 0), 0, path)
    assert commit_batch_exactly_once(normalize_batch(raw, 1), 1, path)

    assert compact_exactly_once(spark, wh) == 2
    assert visible_batch_dirs(path) == ["compact=0"]
    assert not os.path.exists(os.path.join(path, "batch_id=0"))
    assert read_committed_telemetry(spark, wh).count() == 2 * n

    # replay of a folded batch: still a no-op, zero duplicates
    assert commit_batch_exactly_once(normalize_batch(raw, 0), 0, path) is False
    assert read_committed_telemetry(spark, wh).count() == 2 * n

    # new batches land beside the compacted dir; a second compaction
    # folds the mix (compact= + batch_id= dirs) correctly
    assert commit_batch_exactly_once(normalize_batch(raw, 2), 2, path)
    assert read_committed_telemetry(spark, wh).count() == 3 * n
    assert compact_exactly_once(spark, wh) == 2
    assert visible_batch_dirs(path) == ["compact=1"]
    got = read_committed_telemetry(spark, wh)
    assert got.count() == 3 * n
    assert (
        got.select("timeseries_id", "ts", "ingest_seq").distinct().count()
        == 3 * n
    )
    assert committed_batch_ids(path) == [0, 1, 2]
    # nothing left to fold
    assert compact_exactly_once(spark, wh) == 0


def test_stream_fdd_foreachbatch(spark, tmp_path):
    src = str(tmp_path / "drop")
    wh = str(tmp_path / "wh")
    _write_batch(src, CANONICAL_ROWS, "b1.jsonl")

    stream = read_telemetry_stream(spark, src)
    q = start_fdd_stream(stream, wh, threshold=0.95, available_now=True)
    q.awaitTermination(120)

    flagged = spark.read.parquet(os.path.join(wh, "telemetry_flagged"))
    assert flagged.count() == 3
    hits = flagged.filter(F.col("fc1_flag") == 1).collect()
    assert len(hits) == 1 and hits[0].value == 1.0


def test_flag_faults_preserves_existing(spark):
    df = spark.createDataFrame(
        [(0.5, 7), (0.99, None)], "value double, fc1_flag tinyint"
    )
    out = {r.value: r.fc1_flag for r in flag_faults(df).collect()}
    assert out[0.5] == 7  # untouched below threshold
    assert out[0.99] == 1


def test_consecutive_faults_runs(spark):
    rows = []
    for i, v in enumerate([0.99, 0.99, 0.99, 0.5, 0.99, 0.99]):
        rows.append(("s1", f"2024-01-01 00:0{i}:00", v, i))
    df = spark.createDataFrame(
        rows, "timeseries_id string, ts_s string, value double, ingest_seq long"
    ).select("timeseries_id", F.to_timestamp("ts_s").alias("ts"), "value", "ingest_seq")
    runs = consecutive_faults(df, min_run=3).collect()
    assert len(runs) == 1
    assert runs[0].run_length == 3


def test_corrupt_json_lines_are_quarantined(spark, tmp_path):
    """Garbage lines in the drop dir land verbatim in the
    quarantine dir; the valid lines of the SAME file still ingest —
    neither silent all-NULL rows nor a failed stream."""
    import json as _json
    import os as _os

    from rusty_timeseries_db_spark.streaming.ingest import (
        read_telemetry_stream,
        start_telemetry_sink,
    )

    wh = str(tmp_path / "wh")
    src = str(tmp_path / "drop")
    quarantine = str(tmp_path / "bad")
    _os.makedirs(src)
    good = [
        {"sensor_name": "x", "timestamp": f"2024-08-28T12:00:0{i}Z",
         "value": float(i), "fc1_flag": None, "timeseries_id": "s1"}
        for i in range(3)
    ]
    with open(_os.path.join(src, "b1.jsonl"), "w") as f:
        f.write(_json.dumps(good[0]) + "\n")
        f.write("{this is not json\n")
        f.write(_json.dumps(good[1]) + "\n")
        f.write("<xml>nope</xml>\n")
        f.write(_json.dumps(good[2]) + "\n")

    q = start_telemetry_sink(
        read_telemetry_stream(spark, src, with_corrupt_record=True),
        wh,
        available_now=True,
        quarantine_dir=quarantine,
    )
    q.awaitTermination(120)

    tel = spark.read.parquet(_os.path.join(wh, "telemetry"))
    assert tel.count() == 3
    assert tel.filter("timeseries_id IS NULL").count() == 0
    bad = spark.read.text(quarantine)
    got_bad = sorted(r.value for r in bad.collect())
    assert got_bad == ["<xml>nope</xml>", "{this is not json"]


def test_streaming_dedup_on_rocksdb_state_store(spark, tmp_path):
    """Large-state scale path: the same watermarked dedup runs on the
    RocksDB state store provider (bundled with Spark 4) — the provider
    that keeps big streaming state off-heap/on-disk instead of in the
    HDFS-backed in-memory map. Set per-session, verified by the state
    operator's actual provider in the query's lastProgress."""
    import json as _json
    import os as _os

    from rusty_timeseries_db_spark.streaming.ingest import (
        normalized_stream,
        read_telemetry_stream,
        streaming_dedup,
    )

    src = str(tmp_path / "drop")
    _os.makedirs(src)
    rows = [
        {"sensor_name": "x", "timestamp": "2024-08-28T12:00:10Z",
         "value": 1.0, "fc1_flag": None, "timeseries_id": "s1"},
        {"sensor_name": "x", "timestamp": "2024-08-28T12:00:10Z",
         "value": 9.9, "fc1_flag": None, "timeseries_id": "s1"},
        {"sensor_name": "x", "timestamp": "2024-08-28T12:01:10Z",
         "value": 3.0, "fc1_flag": None, "timeseries_id": "s1"},
    ]
    with open(_os.path.join(src, "b1.jsonl"), "w") as f:
        for r in rows:
            f.write(_json.dumps(r) + "\n")

    key = "spark.sql.streaming.stateStore.providerClass"
    orig = spark.conf.get(key, None)
    spark.conf.set(
        key,
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        dd = streaming_dedup(
            normalized_stream(read_telemetry_stream(spark, src)),
            watermark="10 minutes",
        )
        q = (
            dd.writeStream.format("memory")
            .queryName("rocksdb_dedup")
            .outputMode("append")
            .option(
                "checkpointLocation", str(tmp_path / "ckpt")
            )
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        out = spark.sql("SELECT * FROM rocksdb_dedup").collect()
        assert len(out) == 2  # duplicate (s1, 12:00:10) collapsed
        progress = q.lastProgress
        ops = progress["stateOperators"]
        assert ops and "rocksdb" in ops[0].get(
            "customMetrics", {}
        ).__str__().lower() or "RocksDB" in _json.dumps(progress)
    finally:
        if orig is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, orig)


def test_exactly_once_checkpoint_reset_new_content_not_dropped(
    spark, tmp_path
):
    """A committed
    batch id replayed with IDENTICAL content skips (fingerprint
    match); the same id delivering NEW content — checkpoint loss/reset
    renumbering new source files into old ids — lands in a fresh
    content-addressed directory with a warning instead of being
    silently dropped; re-replaying either case is idempotent; and the
    fingerprints survive compaction."""
    import warnings as _warnings

    wh = str(tmp_path / "wh")
    path = os.path.join(wh, "telemetry_eo")

    def _df(rows):
        return spark.createDataFrame(
            rows,
            "sensor_name string, timestamp string, value double, "
            "fc1_flag int, timeseries_id string",
        )

    a = _df([("x", "2024-08-28T12:00:00Z", 1.0, None, "s1")])
    b = _df([("x", "2024-08-28T12:05:00Z", 9.0, None, "s1")])

    assert commit_batch_exactly_once(normalize_batch(a, 0), 0, path) is True
    # identical content under the committed id: fingerprint-verified skip
    assert commit_batch_exactly_once(normalize_batch(a, 0), 0, path) is False
    assert read_committed_telemetry(spark, wh).count() == 1

    # NEW content under the committed id: must be written, with warning
    with _warnings.catch_warnings(record=True) as caught:
        _warnings.simplefilter("always")
        assert commit_batch_exactly_once(
            normalize_batch(b, 0), 0, path
        ) is True
    assert any("NEW content" in str(w.message) for w in caught)
    got = read_committed_telemetry(spark, wh)
    assert got.count() == 2
    assert {r.value for r in got.collect()} == {1.0, 9.0}
    # the fresh directory is content-addressed beside the original
    dirs = committed_batch_ids(path, spark), sorted(
        d for d in os.listdir(path) if d.startswith("batch_id=")
    )
    assert dirs[0] == [0]
    assert len(dirs[1]) == 2 and any("_h" in d for d in dirs[1])

    # re-replay of BOTH contents now skips (both fingerprints stored)
    assert commit_batch_exactly_once(normalize_batch(a, 0), 0, path) is False
    assert commit_batch_exactly_once(normalize_batch(b, 0), 0, path) is False
    assert read_committed_telemetry(spark, wh).count() == 2

    # compaction folds both dirs and KEEPS the fingerprints: replays
    # of folded content still skip
    assert compact_exactly_once(spark, wh) == 2
    assert read_committed_telemetry(spark, wh).count() == 2
    assert commit_batch_exactly_once(normalize_batch(a, 0), 0, path) is False
    assert commit_batch_exactly_once(normalize_batch(b, 0), 0, path) is False
    assert read_committed_telemetry(spark, wh).count() == 2


def test_exactly_once_compaction_folds_ledger(spark, tmp_path):
    """Compaction collapses the per-batch
    ids/fingerprint dict into (hwm, folded_fps) so the manifest the
    sink rewrites every micro-batch stops growing one entry per batch
    forever — while keeping every replay semantic: folded-content
    replays skip, new content under a folded id content-addresses with
    a warning, and committed_batch_ids still materializes the implied
    id set."""
    import warnings as _warnings

    from rusty_timeseries_db_spark.streaming.ingest import _read_manifest

    wh = str(tmp_path / "wh")
    path = os.path.join(wh, "telemetry_eo")

    def _df(rows):
        return spark.createDataFrame(
            rows,
            "sensor_name string, timestamp string, value double, "
            "fc1_flag int, timeseries_id string",
        )

    a = _df([("x", "2024-08-28T12:00:00Z", 1.0, None, "s1")])
    b = _df([("x", "2024-08-28T12:01:00Z", 2.0, None, "s1")])
    c = _df([("x", "2024-08-28T12:02:00Z", 3.0, None, "s1")])
    assert commit_batch_exactly_once(normalize_batch(a, 0), 0, path)
    assert commit_batch_exactly_once(normalize_batch(b, 1), 1, path)
    assert compact_exactly_once(spark, wh) == 2

    man = _read_manifest(path, spark)
    assert man["hwm"] == 1
    assert man["committed_ids"] == [] and man["fingerprints"] == {}
    assert len(man["folded_fps"]) == 2
    assert committed_batch_ids(path, spark) == [0, 1]

    # a post-fold commit adds exactly ONE per-id entry; a second
    # compaction folds it into the pool without re-growing the dict
    assert commit_batch_exactly_once(normalize_batch(c, 2), 2, path)
    man = _read_manifest(path, spark)
    assert man["committed_ids"] == [2]
    assert list(man["fingerprints"]) == ["2"]
    assert compact_exactly_once(spark, wh) == 2
    man = _read_manifest(path, spark)
    assert man["hwm"] == 2 and man["committed_ids"] == []
    assert len(man["folded_fps"]) == 3

    # folded-content replay skips; new content under a folded id is
    # content-addressed and warned — never dropped, never duplicated
    assert commit_batch_exactly_once(normalize_batch(a, 0), 0, path) is False
    d = _df([("x", "2024-08-28T12:09:00Z", 9.0, None, "s1")])
    with _warnings.catch_warnings(record=True) as caught:
        _warnings.simplefilter("always")
        assert commit_batch_exactly_once(
            normalize_batch(d, 1), 1, path
        ) is True
    assert any("NEW content" in str(w.message) for w in caught)
    got = read_committed_telemetry(spark, wh)
    assert got.count() == 4
    assert commit_batch_exactly_once(normalize_batch(d, 1), 1, path) is False
    assert read_committed_telemetry(spark, wh).count() == 4


def test_exactly_once_legacy_manifest_skips_on_id(spark, tmp_path):
    """Legacy manifests carry no fingerprints: a committed id
    replay cannot be content-verified, so the old skip-on-id behavior
    is preserved (never a crash, never a duplicate)."""
    import json as _json

    wh = str(tmp_path / "wh")
    path = os.path.join(wh, "telemetry_eo")
    raw = _df_rows = spark.createDataFrame(
        [("x", "2024-08-28T12:00:00Z", 1.0, None, "s1")],
        "sensor_name string, timestamp string, value double, "
        "fc1_flag int, timeseries_id string",
    )
    assert commit_batch_exactly_once(normalize_batch(raw, 0), 0, path)
    # strip fingerprints, simulating a legacy manifest (single-file form)
    from rusty_timeseries_db_spark.streaming.ingest import _read_manifest

    man = _read_manifest(path, spark)
    for f in os.listdir(path):
        if f.startswith("_manifest.v"):
            os.remove(os.path.join(path, f))
    with open(os.path.join(path, "_manifest.json"), "w") as f:
        _json.dump(
            {"dirs": man["dirs"], "committed_ids": man["committed_ids"],
             "compact_seq": man["compact_seq"]}, f,
        )
    assert commit_batch_exactly_once(normalize_batch(raw, 0), 0, path) is False
    assert read_committed_telemetry(spark, wh).count() == 1


def test_batch_fingerprint_order_and_partitioning_independent(spark):
    """The exactly-once fingerprint must be invariant to row order and
    read partitioning (a replay may re-split the same files), and
    sensitive to any payload change — including duplicate-row
    multiplicity (sum, not xor)."""
    from rusty_timeseries_db_spark.streaming.ingest import (
        _batch_fingerprint,
    )

    rows = [
        ("a", "2024-08-28T12:00:00Z", 1.0, None, "s1"),
        ("b", "2024-08-28T12:01:00Z", 2.0, 1, "s2"),
        ("c", "2024-08-28T12:02:00Z", 3.0, None, "s3"),
    ]
    schema = (
        "sensor_name string, timestamp string, value double, "
        "fc1_flag int, timeseries_id string"
    )

    def fp(rws, parts):
        return _batch_fingerprint(
            normalize_batch(
                spark.createDataFrame(rws, schema).repartition(parts), 0
            )
        )

    base = fp(rows, 1)
    assert fp(list(reversed(rows)), 1) == base       # order
    assert fp(rows, 7) == base                        # partitioning
    assert fp(rows[:2], 1) != base                    # subset differs
    changed = [rows[0], ("b", "2024-08-28T12:01:00Z", 2.5, 1, "s2"),
               rows[2]]
    assert fp(changed, 1) != base                     # value change
    # duplicate multiplicity: {r0, r0} != {r0} (xor would collapse)
    assert fp([rows[0], rows[0]], 1) != fp([rows[0]], 1)
    assert base.split(":")[0] == "3"                  # count prefix


def test_versioned_manifest_protocol(spark, tmp_path):
    """fsutil versioned manifests: each write commits a fresh vN file,
    reads return the highest, GC keeps exactly one predecessor, a
    stale .tmp is ignored, and a 'file:' URI works (scheme-resolved)."""
    import os

    from rusty_timeseries_db_spark.fsutil import (
        read_versioned_manifest,
        write_versioned_manifest,
    )

    d = "file:" + str(tmp_path / "man")
    assert read_versioned_manifest(spark, d, "_m") is None
    for i in range(4):
        n = write_versioned_manifest(spark, d, "_m", {"i": i})
        assert n == i + 1
        assert read_versioned_manifest(spark, d, "_m") == {"i": i}
    names = sorted(
        n for n in os.listdir(str(tmp_path / "man"))
        if not n.endswith(".crc")  # Hadoop local-FS checksum sidecars
    )
    # GC keeps the live version + one predecessor, nothing older
    assert names == ["_m.v3.json", "_m.v4.json"]
    # stale tmp residue is invisible to readers
    with open(str(tmp_path / "man" / "_m.v9.json.tmp"), "w") as f:
        f.write("{torn")
    assert read_versioned_manifest(spark, d, "_m") == {"i": 3}


def test_eo_new_content_warning_latched_per_sink_run(spark, tmp_path):
    """After a checkpoint reset on a
    compacted warehouse, EVERY renumbered batch with new content sits
    below the fold indefinitely — the 'replayed with NEW content'
    warning must fire once per sink run (warn_state latch), not per
    micro-batch, or steady-state noise drowns the one real reset
    signal. The content-addressed writes themselves still all happen.
    Standalone calls (warn_state=None) keep warning every time."""
    import warnings as _warnings

    wh = str(tmp_path / "wh")
    path = os.path.join(wh, "telemetry_eo")

    def _df(v):
        return spark.createDataFrame(
            [("x", "2024-08-28T12:00:00Z", v, None, "s1")],
            "sensor_name string, timestamp string, value double, "
            "fc1_flag int, timeseries_id string",
        )

    assert commit_batch_exactly_once(normalize_batch(_df(1.0), 0), 0, path)
    assert commit_batch_exactly_once(normalize_batch(_df(2.0), 1), 1, path)
    assert compact_exactly_once(spark, wh) == 2  # hwm=1: ids 0,1 folded

    # one sink run's latch: two renumbered batches with NEW content
    # below the fold -> both written, ONE warning
    ws: dict = {}
    with _warnings.catch_warnings(record=True) as caught:
        _warnings.simplefilter("always")
        assert commit_batch_exactly_once(
            normalize_batch(_df(10.0), 0), 0, path, warn_state=ws
        ) is True
        assert commit_batch_exactly_once(
            normalize_batch(_df(11.0), 1), 1, path, warn_state=ws
        ) is True
    hits = [w for w in caught if "NEW content" in str(w.message)]
    assert len(hits) == 1
    assert "once per sink run" in str(hits[0].message)
    got = read_committed_telemetry(spark, wh)
    assert {r.value for r in got.collect()} == {1.0, 2.0, 10.0, 11.0}

    # a NEW sink run (fresh latch) warns once again
    with _warnings.catch_warnings(record=True) as caught:
        _warnings.simplefilter("always")
        assert commit_batch_exactly_once(
            normalize_batch(_df(12.0), 0), 0, path, warn_state={}
        ) is True
    assert len([w for w in caught if "NEW content" in str(w.message)]) == 1

    # standalone (no warn_state): unlatched, warns every time
    with _warnings.catch_warnings(record=True) as caught:
        _warnings.simplefilter("always")
        assert commit_batch_exactly_once(
            normalize_batch(_df(13.0), 0), 0, path
        ) is True
        assert commit_batch_exactly_once(
            normalize_batch(_df(14.0), 0), 0, path
        ) is True
    assert len([w for w in caught if "NEW content" in str(w.message)]) == 2


def test_eo_sink_commit_cas_merges_with_concurrent_writer(
    spark, tmp_path, monkeypatch
):
    """The sink's manifest commit is a CAS merge — a
    concurrent writer (retention, compaction, or as here another
    commit) bumping the version between the sink's read and write
    must not be clobbered: the sink re-reads and re-applies its
    append-only delta, and BOTH commits survive."""
    import rusty_timeseries_db_spark.streaming.ingest as SI

    wh = str(tmp_path / "wh")
    path = os.path.join(wh, "telemetry_eo")

    def _df(v):
        return spark.createDataFrame(
            [("x", "2024-08-28T12:00:00Z", v, None, "s1")],
            "sensor_name string, timestamp string, value double, "
            "fc1_flag int, timeseries_id string",
        )

    assert commit_batch_exactly_once(normalize_batch(_df(0.0), 0), 0, path)

    real_write = SI._write_manifest
    state = {"injected": False}

    def wrapped(p, manifest, spark_=None, expected_version=...):
        if not state["injected"]:
            state["injected"] = True
            # another writer commits BETWEEN this commit's read and
            # its write (goes through this wrapper too — state latch
            # prevents recursion)
            SI.commit_batch_exactly_once(
                SI.normalize_batch(_df(5.0), 5), 5, path
            )
        return real_write(
            p, manifest, spark_, expected_version=expected_version
        )

    monkeypatch.setattr(SI, "_write_manifest", wrapped)
    assert SI.commit_batch_exactly_once(
        SI.normalize_batch(_df(1.0), 1), 1, path
    ) is True
    monkeypatch.undo()

    assert state["injected"]
    man = SI._read_manifest(path, spark)
    assert man["dirs"] == ["batch_id=0", "batch_id=1", "batch_id=5"]
    assert man["committed_ids"] == [0, 1, 5]
    got = SI.read_committed_telemetry(spark, wh)
    assert {r.value for r in got.collect()} == {0.0, 1.0, 5.0}
    # both racing commits replay-skip afterward (fingerprints merged)
    assert SI.commit_batch_exactly_once(
        SI.normalize_batch(_df(1.0), 1), 1, path
    ) is False
    assert SI.commit_batch_exactly_once(
        SI.normalize_batch(_df(5.0), 5), 5, path
    ) is False


def test_eo_compaction_cas_carries_concurrent_commit(
    spark, tmp_path, monkeypatch
):
    """A live sink committing DURING the compaction fold is
    carried forward by the swap's CAS merge — its dir, id and
    fingerprint survive beside the compacted generation instead of
    being delisted (the long fold job is the widest clobber window
    the old single-writer contract papered over)."""
    import rusty_timeseries_db_spark.streaming.ingest as SI

    wh = str(tmp_path / "wh")
    path = os.path.join(wh, "telemetry_eo")

    def _df(v):
        return spark.createDataFrame(
            [("x", "2024-08-28T12:00:00Z", v, None, "s1")],
            "sensor_name string, timestamp string, value double, "
            "fc1_flag int, timeseries_id string",
        )

    assert commit_batch_exactly_once(normalize_batch(_df(0.0), 0), 0, path)
    assert commit_batch_exactly_once(normalize_batch(_df(1.0), 1), 1, path)

    real_write = SI._write_manifest
    state = {"injected": False}

    def wrapped(p, manifest, spark_=None, expected_version=...):
        if not state["injected"]:
            state["injected"] = True
            SI.commit_batch_exactly_once(
                SI.normalize_batch(_df(7.0), 7), 7, path
            )
        return real_write(
            p, manifest, spark_, expected_version=expected_version
        )

    monkeypatch.setattr(SI, "_write_manifest", wrapped)
    assert compact_exactly_once(spark, wh) == 2
    monkeypatch.undo()

    assert state["injected"]
    man = SI._read_manifest(path, spark)
    assert man["dirs"] == ["batch_id=7", "compact=0"]
    assert man["hwm"] == 1 and man["committed_ids"] == [7]
    assert "7" in man["fingerprints"]
    got = SI.read_committed_telemetry(spark, wh)
    assert {r.value for r in got.collect()} == {0.0, 1.0, 7.0}
    # replay semantics intact on every lineage: folded content skips
    # via the pooled fps, the carried commit via its per-id entry
    assert SI.commit_batch_exactly_once(
        SI.normalize_batch(_df(0.0), 0), 0, path
    ) is False
    assert SI.commit_batch_exactly_once(
        SI.normalize_batch(_df(7.0), 7), 7, path
    ) is False
    # a second compaction folds the carried dir too
    assert compact_exactly_once(spark, wh) == 2
    man = SI._read_manifest(path, spark)
    assert man["dirs"] == ["compact=1"] and man["hwm"] == 7
    assert SI.read_committed_telemetry(spark, wh).count() == 3


def test_eo_cas_randomized_interleavings(spark, tmp_path, monkeypatch):
    """Protocol stress: a seeded random schedule of sink
    commits, same-content replays, new-content replays, compactions
    and retentions, where a fraction of CAS manifest writes get a
    concurrent commit injected between read and write. Invariants
    checked after EVERY op against a Python-side model:

    1. served rows == the model's multiset (no loss, no duplication,
       retired dirs subtracted exactly);
    2. every dir the manifest lists exists on disk (no resurrection
       of deleted dirs — the cross-writer clobber CAS exists to stop);
    3. at the end, a replay of every batch's content skips.

    The model maps each manifest dir to its row multiset by diffing
    the manifest around each op, so compaction folds and
    content-addressed replay dirs are tracked without re-implementing
    the protocol."""
    import random

    import rusty_timeseries_db_spark.streaming.ingest as SI

    wh = str(tmp_path / "wh")
    path = os.path.join(wh, "telemetry_eo")

    def _df(rows):
        return spark.createDataFrame(
            rows,
            "sensor_name string, timestamp string, value double, "
            "fc1_flag int, timeseries_id string",
        )

    def _rows_for(batch_id, salt, old):
        ts = "2024-01-01T00:00:00Z" if old else "2024-06-01T00:00:00Z"
        return [("x", ts, float(batch_id * 1000 + salt), None, "s1")]

    dir_rows: dict[str, tuple] = {}  # dir name -> sorted row values
    batch_content: dict[int, list] = {}  # batch id -> last rows payload

    def _manifest_dirs():
        return set(SI._read_manifest(path, spark)["dirs"])

    def _tracked_commit(batch_id, rows):
        before = _manifest_dirs()
        wrote = SI.commit_batch_exactly_once(
            SI.normalize_batch(_df(rows), batch_id), batch_id, path
        )
        if wrote:
            # an injected commit mid-write already tracked its own dir
            # (the nested _tracked_commit ran first) — this commit's
            # dir is the one the model has not seen yet
            added = [
                d for d in _manifest_dirs() - before if d not in dir_rows
            ]
            assert len(added) == 1, f"commit added {added}"
            dir_rows[added[0]] = tuple(sorted(r[2] for r in rows))
            batch_content.setdefault(batch_id, []).append(rows)
        return wrote

    rng = random.Random(1107)
    inject_ids = iter(range(900, 999))

    real_write = SI._write_manifest
    state = {"arm": False}

    def wrapped(p, manifest, spark_=None, expected_version=...):
        if state["arm"] and rng.random() < 0.5:
            state["arm"] = False  # one injection per armed op, no recursion
            nid = next(inject_ids)
            _tracked_commit(nid, _rows_for(nid, 0, old=False))
        return real_write(
            p, manifest, spark_, expected_version=expected_version
        )

    monkeypatch.setattr(SI, "_write_manifest", wrapped)

    next_id = 0
    for step in range(14):
        op = rng.choice(["commit", "commit", "replay_same",
                         "replay_new", "compact", "retention"])
        state["arm"] = True
        if op == "commit":
            bid, next_id = next_id, next_id + 1
            assert _tracked_commit(bid, _rows_for(bid, 0, old=bool(bid % 2)))
        elif op == "replay_same" and batch_content:
            bid = rng.choice(sorted(batch_content))
            assert SI.commit_batch_exactly_once(
                SI.normalize_batch(_df(batch_content[bid][-1]), bid),
                bid, path,
            ) is False
        elif op == "replay_new" and batch_content:
            bid = rng.choice(sorted(batch_content))
            salt = len(batch_content[bid])
            with __import__("warnings").catch_warnings():
                __import__("warnings").simplefilter("ignore")
                assert _tracked_commit(
                    bid, _rows_for(bid, salt, old=False)
                )
        elif op == "compact":
            before = _manifest_dirs()
            n = SI.compact_exactly_once(spark, wh)
            if n:
                after = _manifest_dirs()
                folded = before - after
                # an injected commit mid-compaction adds ITS dir to
                # (after - before) too; the fold target is the one new
                # compact= dir the model has not tracked yet
                new_compact = [
                    d for d in (after - before)
                    if d.startswith("compact=") and d not in dir_rows
                ]
                assert len(new_compact) == 1, f"compact made {after - before}"
                merged = tuple(sorted(
                    v for d in folded for v in dir_rows.pop(d)
                ))
                dir_rows[new_compact[0]] = merged
        elif op == "retention":
            dropped = SI.drop_exactly_once_older_than(
                spark, wh, "2024-03-01"
            )
            for d in dropped:
                dir_rows.pop(d)
        state["arm"] = False

        # invariant 1: served rows == model multiset
        got = SI.read_committed_telemetry(spark, wh)
        served = sorted(r.value for r in got.collect()) if got is not None else []
        expect = sorted(v for vals in dir_rows.values() for v in vals)
        assert served == expect, f"step {step} op {op}: {served} != {expect}"
        # invariant 2: every listed dir exists on disk
        for d in _manifest_dirs():
            assert os.path.isdir(os.path.join(path, d)), (
                f"step {step} op {op}: manifest lists deleted dir {d}"
            )

    # the schedule must not be vacuous: at least one concurrent commit
    # was injected into a CAS write window (seed-pinned)
    assert next(inject_ids) > 900, "no conflict was ever injected"

    # invariant 3: every batch's every content replays to a skip
    # (retired batches included — retention preserves the ledger)
    for bid, contents in batch_content.items():
        for rows in contents:
            assert SI.commit_batch_exactly_once(
                SI.normalize_batch(_df(rows), bid), bid, path
            ) is False


def test_eo_sink_quarantine_requires_corrupt_column(spark, tmp_path):
    """The misconfiguration guard applies to the exactly-once sink
    too: quarantine without the corrupt-record column would
    silently commit garbage lines as all-NULL rows."""
    import pytest

    os.makedirs(str(tmp_path / "drop"))
    stream = read_telemetry_stream(spark, str(tmp_path / "drop"))
    with pytest.raises(ValueError, match="with_corrupt_record"):
        start_telemetry_sink_exactly_once(
            stream, str(tmp_path / "wh"),
            quarantine_dir=str(tmp_path / "q"),
        )
