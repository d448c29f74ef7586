"""Hypertable maintenance (operators/maintenance.py): retention drops
whole partition directories as a metadata op; compaction rewrites only
over-fragmented partitions, preserving rows and partition values."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from rusty_timeseries_db_spark.operators.maintenance import (
    compact_partitions,
    drop_partitions_older_than,
)


def _write_days(spark, path, days, rows_per_day=20, batches=1):
    for b in range(batches):
        df = spark.createDataFrame(
            [
                (d, i + b * rows_per_day, float(i))
                for d in days
                for i in range(rows_per_day)
            ],
            "day string, rid int, value double",
        )
        # one write per batch → one file set per batch per partition
        df.repartition(1).write.mode("append").partitionBy("day").parquet(path)


def test_retention_drops_only_older_partitions(spark, tmp_path):
    path = "file:" + str(tmp_path / "t")  # scheme URI: must go via Hadoop FS
    days = ["2024-03-01", "2024-03-02", "2024-03-05", "2024-03-09"]
    _write_days(spark, path, days)
    dropped = drop_partitions_older_than(spark, path, "day", "2024-03-05")
    assert dropped == ["2024-03-01", "2024-03-02"]
    left = spark.read.parquet(path)
    # (Spark's partition discovery types day= values as DATE — compare
    # their string form)
    assert sorted(
        str(r.day) for r in left.select("day").distinct().collect()
    ) == ["2024-03-05", "2024-03-09"]
    assert left.count() == 2 * 20
    # idempotent: nothing older remains
    assert drop_partitions_older_than(spark, path, "day", "2024-03-05") == []


def test_compaction_reduces_files_and_preserves_rows(spark, tmp_path):
    path = str(tmp_path / "t")
    # 6 append batches → 6+ files in each partition
    _write_days(spark, path, ["2024-03-01", "2024-03-02"], batches=6)
    # one healthy partition written once → stays untouched
    _write_days(spark, path, ["2024-03-03"], batches=1)

    before = spark.read.parquet(path)
    before_rows = sorted(map(tuple, before.collect()))

    stats = compact_partitions(
        spark, path, "day", target_file_mb=128, min_files=4
    )
    assert set(stats) == {"2024-03-01", "2024-03-02"}
    for value, (n_before, n_after) in stats.items():
        assert n_before >= 6 and n_after == 1, (value, n_before, n_after)
    # untouched partition keeps its original single file
    p3 = os.path.join(str(tmp_path / "t"), "day=2024-03-03")
    assert sum(f.endswith(".parquet") for f in os.listdir(p3)) == 1
    # rows identical after the swap (values AND partition column)
    after = spark.read.parquet(path)
    assert sorted(map(tuple, after.collect())) == before_rows
    # no tmp/bak residue
    names = os.listdir(str(tmp_path / "t"))
    assert not any(n.endswith((".bak", ".compact_tmp")) for n in names)


def test_compaction_noop_below_threshold(spark, tmp_path):
    path = str(tmp_path / "t")
    _write_days(spark, path, ["2024-03-01"], batches=2)
    assert compact_partitions(spark, path, "day", min_files=4) == {}


def test_nested_layout_depth_one(spark, tmp_path):
    """depth=1 matches the engine's series_bucket=*/ds=* layout:
    retention drops ds leaves under every bucket; labels are relative
    paths so identical ds values under different buckets stay
    distinct."""
    path = str(tmp_path / "t")
    df = spark.createDataFrame(
        [
            (b, d, i, float(i))
            for b in (0, 1)
            for d in ("2024-03-01", "2024-03-05")
            for i in range(10)
        ],
        "bucket int, ds string, rid int, value double",
    )
    df.repartition(1).write.mode("append").partitionBy(
        "bucket", "ds"
    ).parquet(path)

    dropped = drop_partitions_older_than(
        spark, path, "ds", "2024-03-02", depth=1
    )
    assert dropped == ["bucket=0/ds=2024-03-01", "bucket=1/ds=2024-03-01"]
    left = spark.read.parquet(path)
    assert left.count() == 2 * 10
    assert {str(r.ds) for r in left.select("ds").distinct().collect()} == {
        "2024-03-05"
    }


def test_engine_facade_retention_and_compaction(spark, tmp_path):
    """TimeseriesEngine.drop_chunks_before / compact_small_files wire
    the maintenance ops onto the live telemetry layout."""
    import pytest

    from rusty_timeseries_db_spark.api import TimeseriesEngine

    eng = TimeseriesEngine(
        spark, str(tmp_path / "wh"), partition_by_date=True
    )
    rows = [
        {"sensor_name": "x", "timestamp": f"2024-08-{dd:02d}T12:00:0{i}Z",
         "value": float(i), "fc1_flag": None, "timeseries_id": "s1"}
        for dd in (1, 2, 9) for i in range(3)
    ]
    # several ingests → several file sets per partition
    for r in rows:
        eng.ingest_rows([r])
    assert eng.count() == 9

    stats = eng.compact_small_files(min_files=1)
    assert stats  # the fragmented ds partitions got rewritten
    assert eng.count() == 9  # rows preserved

    dropped = eng.drop_chunks_before("2024-08-05")
    assert len(dropped) == 2 and all("ds=2024-08-0" in d for d in dropped)
    assert eng.count() == 3  # only the 2024-08-09 chunk remains

    # without date partitions the facade refuses
    eng2 = TimeseriesEngine(spark, str(tmp_path / "wh2"))
    with pytest.raises(ValueError, match="partition_by_date"):
        eng2.drop_chunks_before("2024-01-01")


def test_repl_maintenance_verbs(spark, tmp_path):
    """REPL verbs compact_files / retention map onto the engine
    facades and reply with plain operator summaries."""
    from rusty_timeseries_db_spark.api import TimeseriesEngine
    from rusty_timeseries_db_spark.repl import Repl

    eng = TimeseriesEngine(
        spark, str(tmp_path / "wh"), partition_by_date=True
    )
    for dd in (1, 2, 9):
        eng.ingest_rows([
            {"sensor_name": "x", "timestamp": f"2024-08-{dd:02d}T12:00:00Z",
             "value": 1.0, "fc1_flag": None, "timeseries_id": "s1"},
            {"sensor_name": "x", "timestamp": f"2024-08-{dd:02d}T12:00:01Z",
             "value": 2.0, "fc1_flag": None, "timeseries_id": "s1"},
        ])
    repl = Repl(eng)
    out = repl.execute("compact_files")
    assert out.startswith("Compacted") or out == "Compaction: nothing to do."
    out = repl.execute("retention 2024-08-05")
    assert out.startswith("Dropped 2 chunk(s):")
    assert eng.count() == 2
    assert repl.execute("retention 2024-08-05") == (
        "Retention: nothing older than 2024-08-05."
    )

    # without the date layout the verb reports the constraint
    eng2 = TimeseriesEngine(spark, str(tmp_path / "wh2"))
    assert Repl(eng2).execute("retention 2024-01-01").startswith("Error:")


def test_repl_retention_eo_verb(spark, tmp_path):
    """The retention_eo verb maps onto
    drop_exactly_once_before with the same plain-summary replies."""
    from rusty_timeseries_db_spark.api import TimeseriesEngine
    from rusty_timeseries_db_spark.repl import Repl
    from rusty_timeseries_db_spark.streaming.ingest import (
        commit_batch_exactly_once,
        normalize_batch,
    )

    wh = str(tmp_path / "wh")
    raw = spark.createDataFrame(
        [("x", "2024-01-01T00:00:00Z", 1.0, None, "s1")],
        "sensor_name string, timestamp string, value double, "
        "fc1_flag int, timeseries_id string",
    )
    commit_batch_exactly_once(
        normalize_batch(raw, 0), 0, os.path.join(wh, "telemetry_eo")
    )
    repl = Repl(TimeseriesEngine(spark, wh))
    assert repl.execute("retention_eo nonsense").startswith("Error:")
    assert repl.execute("retention_eo 2023-01-01") == (
        "Retention: nothing fully older than 2023-01-01."
    )
    assert repl.execute("retention_eo 2024-06-01") == (
        "Dropped 1 committed dir(s): batch_id=0."
    )


def test_sweep_residue_removes_only_crash_leftovers(spark, tmp_path):
    from rusty_timeseries_db_spark.operators.maintenance import sweep_residue

    path = str(tmp_path / "t")
    _write_days(spark, path, ["2024-03-01", "2024-03-02"])
    # simulate a crashed compaction: strand a .bak and a .compact_tmp
    os.makedirs(os.path.join(path, "day=2024-03-01.bak"))
    os.makedirs(os.path.join(path, "day=2024-03-02.compact_tmp"))
    removed = sweep_residue(spark, path)
    assert removed == [
        "day=2024-03-01.bak", "day=2024-03-02.compact_tmp"
    ]
    assert spark.read.parquet(path).count() == 40  # data untouched
    assert sweep_residue(spark, path) == []


def test_drop_chunks_before_validates_cutoff_format(spark, tmp_path):
    """A malformed cutoff ('tomorrow') sorts above
    every ISO date and would drop EVERYTHING — rejected hard."""
    import pytest

    from rusty_timeseries_db_spark.api import TimeseriesEngine

    eng = TimeseriesEngine(
        spark, str(tmp_path / "wh"), partition_by_date=True
    )
    eng.ingest_rows([
        {"sensor_name": "x", "timestamp": "2024-08-01T12:00:00Z",
         "value": 1.0, "fc1_flag": None, "timeseries_id": "s1"},
    ])
    for bad in ("tomorrow", "3", "20240-01-01", "2024-8-1", ""):
        with pytest.raises(ValueError, match="ISO"):
            eng.drop_chunks_before(bad)
    assert eng.count() == 1  # nothing was deleted


def test_compaction_skips_partition_changed_mid_rewrite(spark, tmp_path, monkeypatch):
    """A file appended between the rewrite's read and
    the swap must NOT be lost — the partition is skipped and reported
    (files_before, -1), with the original directory intact."""
    import rusty_timeseries_db_spark.operators.maintenance as M

    path = str(tmp_path / "t")
    _write_days(spark, path, ["2024-03-01"], batches=5)
    pdir = os.path.join(path, "day=2024-03-01")
    before_rows = sorted(map(tuple, spark.read.parquet(path).collect()))

    # inject a concurrent append: the first read.parquet() of the
    # partition (the rewrite job) triggers a new file landing in it
    real_read = spark.read.parquet
    injected = {"done": False}

    class _Reader:
        def parquet(self, p):
            df = real_read(p)
            # compact passes the Hadoop Path's string form
            # (file:/...), not the local os.path form — match by suffix
            if p.endswith("day=2024-03-01") and not injected["done"]:
                injected["done"] = True
                extra = spark.createDataFrame(
                    [("2024-03-01", 999, 9.9)],
                    "day string, rid int, value double",
                ).drop("day")
                extra.repartition(1).write.mode("append").parquet(pdir)
            return df

    monkeypatch.setattr(
        type(spark), "read", property(lambda self: _Reader())
    )
    try:
        stats = M.compact_partitions(spark, path, "day", min_files=2)
    finally:
        monkeypatch.undo()
    assert stats == {"2024-03-01": (5, -1)}  # skipped, not swapped
    after = spark.read.parquet(path)
    # every original row AND the concurrently appended one survive
    assert after.filter("rid = 999").count() == 1
    assert sorted(
        map(tuple, after.filter("rid != 999").collect())
    ) == before_rows
    # no tmp residue
    assert not any(
        n.endswith(".compact_tmp") for n in os.listdir(path)
    )

def test_exactly_once_retention_drops_aged_dirs(spark, tmp_path):
    """Retention on the
    exactly-once batch_id=N/compact=N layout — whole committed dirs
    fully older than the cutoff are dropped manifest-atomically;
    partially-new dirs survive whole; replays of retired batches
    still skip (committed ids/fingerprints preserved)."""
    import pytest

    from rusty_timeseries_db_spark.api import TimeseriesEngine
    from rusty_timeseries_db_spark.streaming.ingest import (
        _read_manifest,
        commit_batch_exactly_once,
        compact_exactly_once,
        drop_exactly_once_older_than,
        normalize_batch,
        read_committed_telemetry,
    )

    wh = str(tmp_path / "wh")
    path = os.path.join(wh, "telemetry_eo")

    def _df(rows):
        return spark.createDataFrame(
            rows,
            "sensor_name string, timestamp string, value double, "
            "fc1_flag int, timeseries_id string",
        )

    old = _df([("x", "2024-01-01T00:00:00Z", 1.0, None, "s1"),
               ("x", "2024-01-02T00:00:00Z", 2.0, None, "s1")])
    mid = _df([("x", "2024-02-01T00:00:00Z", 3.0, None, "s1")])
    mixed = _df([("x", "2024-01-15T00:00:00Z", 4.0, None, "s1"),
                 ("x", "2024-06-01T00:00:00Z", 5.0, None, "s1")])
    assert commit_batch_exactly_once(normalize_batch(old, 0), 0, path)
    assert commit_batch_exactly_once(normalize_batch(mid, 1), 1, path)
    assert commit_batch_exactly_once(normalize_batch(mixed, 2), 2, path)

    # malformed cutoff fails loudly before touching anything
    with pytest.raises(ValueError, match="ISO"):
        drop_exactly_once_older_than(spark, wh, "tomorrow")
    # ISO-BASIC form ('20240101'): Python >= 3.11 parses it (3.10
    # rejects it at validation, which is also fine — loud either way)
    # but Spark's to_timestamp does not — the canonicalization must
    # make it behave identically to '2024-01-01' (passed raw, it NULLed the
    # cutoff on ANSI-off sessions and aged
    # out every dir)
    import sys

    if sys.version_info >= (3, 11):
        assert drop_exactly_once_older_than(spark, wh, "20240101") == []

    # batch 0 is fully pre-cutoff; batch 2 has one newer row -> kept
    dropped = drop_exactly_once_older_than(spark, wh, "2024-01-20")
    assert dropped == ["batch_id=0"]
    assert not os.path.exists(os.path.join(path, "batch_id=0"))
    got = read_committed_telemetry(spark, wh)
    assert {r.value for r in got.collect()} == {3.0, 4.0, 5.0}

    # a replay of the RETIRED batch must skip: retention is not undone
    assert commit_batch_exactly_once(normalize_batch(old, 0), 0, path) is False
    assert read_committed_telemetry(spark, wh).count() == 3

    # idempotent; and the engine facade routes to the same op
    assert drop_exactly_once_older_than(spark, wh, "2024-01-20") == []
    eng = TimeseriesEngine(spark, wh)
    assert eng.drop_exactly_once_before("2024-02-02") == ["batch_id=1"]
    assert eng.telemetry().count() == 2  # EO serving sees the drop

    # compaction + retention compose: with one dir left compaction is
    # a no-op (returns 0), and retention can then retire the surviving
    # generation once it ages out entirely
    assert compact_exactly_once(spark, wh) == 0
    man = _read_manifest(path, spark)
    assert man["dirs"] == ["batch_id=2"]
    assert drop_exactly_once_older_than(spark, wh, "2030-01-01") == [
        "batch_id=2"
    ]
    assert read_committed_telemetry(spark, wh) is None


def test_eo_retention_cas_preserves_interleaved_commit(
    spark, tmp_path, monkeypatch
):
    """A live
    sink's commit landing between retention's manifest read and its
    write must NOT be delisted — the versioned compare-and-swap
    detects the moved version, retention re-reads, age-scans only the
    new dir, and retries. The injected commit rides the
    test_compaction_skips_partition_changed_mid_rewrite pattern:
    monkeypatch the module's manifest writer so the FIRST CAS-bearing
    write is preceded by a real interleaved commit."""
    import rusty_timeseries_db_spark.streaming.ingest as SI

    wh = str(tmp_path / "wh")
    path = os.path.join(wh, "telemetry_eo")

    def _df(rows):
        return spark.createDataFrame(
            rows,
            "sensor_name string, timestamp string, value double, "
            "fc1_flag int, timeseries_id string",
        )

    old0 = _df([("x", "2024-01-01T00:00:00Z", 1.0, None, "s1")])
    old1 = _df([("x", "2024-01-02T00:00:00Z", 2.0, None, "s1")])
    live = _df([("x", "2024-06-01T00:00:00Z", 9.0, None, "s1")])
    assert SI.commit_batch_exactly_once(SI.normalize_batch(old0, 0), 0, path)
    assert SI.commit_batch_exactly_once(SI.normalize_batch(old1, 1), 1, path)

    real_write = SI._write_manifest
    state = {"injected": False}

    def wrapped(p, manifest, spark_=None, expected_version=...):
        # inject exactly once, and only on retention's CAS write —
        # the interleaved commit below goes through this wrapper too
        # (expected_version absent) and must pass straight through
        if expected_version is not ... and not state["injected"]:
            state["injected"] = True
            SI.commit_batch_exactly_once(
                SI.normalize_batch(live, 7), 7, path
            )
        return real_write(
            p, manifest, spark_, expected_version=expected_version
        )

    monkeypatch.setattr(SI, "_write_manifest", wrapped)
    dropped = SI.drop_exactly_once_older_than(spark, wh, "2024-02-01")
    monkeypatch.undo()

    assert state["injected"], "the interleaved commit never ran"
    assert dropped == ["batch_id=0", "batch_id=1"]
    # the interleaved commit SURVIVED: still listed, rows served
    man = SI._read_manifest(path, spark)
    assert man["dirs"] == ["batch_id=7"]
    got = SI.read_committed_telemetry(spark, wh)
    assert [r.value for r in got.collect()] == [9.0]
    # and its replay still skips (ledger intact through retention)
    assert SI.commit_batch_exactly_once(
        SI.normalize_batch(live, 7), 7, path
    ) is False


def test_eo_retention_survives_empty_committed_dir(spark, tmp_path):
    """A committed zero-row batch writes a dir with no
    part files; schema inference over it would raise and break
    retention for the whole table. The known-schema read makes it an
    empty frame — no group row, dir kept, everything else retires
    normally. The committed reader shares the fix."""
    import rusty_timeseries_db_spark.streaming.ingest as SI

    wh = str(tmp_path / "wh")
    path = os.path.join(wh, "telemetry_eo")
    empty = spark.createDataFrame(
        [],
        "sensor_name string, timestamp string, value double, "
        "fc1_flag int, timeseries_id string",
    )
    old = spark.createDataFrame(
        [("x", "2024-01-01T00:00:00Z", 1.0, None, "s1")],
        "sensor_name string, timestamp string, value double, "
        "fc1_flag int, timeseries_id string",
    )
    assert SI.commit_batch_exactly_once(SI.normalize_batch(empty, 0), 0, path)
    assert SI.commit_batch_exactly_once(SI.normalize_batch(old, 1), 1, path)

    # the committed reader tolerates the empty dir (same schema'd read)
    assert SI.read_committed_telemetry(spark, wh).count() == 1

    dropped = SI.drop_exactly_once_older_than(spark, wh, "2030-01-01")
    assert dropped == ["batch_id=1"]
    # the empty dir is KEPT (no rows -> no defined age), not crashed on
    man = SI._read_manifest(path, spark)
    assert man["dirs"] == ["batch_id=0"]
    assert SI.read_committed_telemetry(spark, wh).count() == 0


def test_committed_batch_summary_and_ids_cap(spark, tmp_path):
    """The public diagnostic
    must not allocate O(hwm) ints on a long-lived folded stream —
    committed_batch_summary returns the compact (hwm, sparse_ids)
    form; committed_batch_ids caps its materialized list with a
    warning."""
    import warnings

    import rusty_timeseries_db_spark.streaming.ingest as SI

    path = os.path.join(str(tmp_path / "wh"), "telemetry_eo")
    big_hwm = SI._COMMITTED_IDS_CAP + 50
    SI._write_manifest(
        path,
        {"dirs": ["compact=0"], "committed_ids": [big_hwm + 10],
         "compact_seq": 1, "fingerprints": {}, "hwm": big_hwm,
         "folded_fps": ["1:deadbeef00000000"]},
        spark,
    )
    assert SI.committed_batch_summary(path, spark) == {
        "hwm": big_hwm, "sparse_ids": [big_hwm + 10],
    }
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        ids = SI.committed_batch_ids(path, spark)
    assert len(ids) == SI._COMMITTED_IDS_CAP
    assert ids[0] == 0 and ids[-1] == SI._COMMITTED_IDS_CAP - 1
    assert any("committed_batch_summary" in str(x.message) for x in w)

    # small manifests: exact, uncapped, unwarned
    small = os.path.join(str(tmp_path / "wh2"), "telemetry_eo")
    SI._write_manifest(
        small,
        {"dirs": ["batch_id=0"], "committed_ids": [0, 5],
         "compact_seq": 0, "fingerprints": {}, "hwm": 2,
         "folded_fps": []},
        spark,
    )
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        assert SI.committed_batch_ids(small, spark) == [0, 1, 2, 5]
    assert not w
    assert SI.committed_batch_summary(small, spark) == {
        "hwm": 2, "sparse_ids": [5],
    }


def test_eo_cas_exhaustion_raises_without_damage(
    spark, tmp_path, monkeypatch
):
    """When every CAS attempt loses (a pathologically hot
    writer), retention and the sink commit give up LOUDLY — retention
    with nothing deleted and the manifest unchanged; the commit with
    its data directory written so a stream retry is safe."""
    import pytest

    import rusty_timeseries_db_spark.streaming.ingest as SI
    from rusty_timeseries_db_spark.fsutil import ManifestVersionConflict

    wh = str(tmp_path / "wh")
    path = os.path.join(wh, "telemetry_eo")
    old = spark.createDataFrame(
        [("x", "2024-01-01T00:00:00Z", 1.0, None, "s1")],
        "sensor_name string, timestamp string, value double, "
        "fc1_flag int, timeseries_id string",
    )
    assert SI.commit_batch_exactly_once(SI.normalize_batch(old, 0), 0, path)
    man_before = SI._read_manifest(path, spark)

    real_write = SI._write_manifest

    def always_conflict(p, manifest, spark_=None, expected_version=...):
        if expected_version is not ...:
            raise ManifestVersionConflict("injected: version moved")
        return real_write(
            p, manifest, spark_, expected_version=expected_version
        )

    # retention: loud IOError, nothing deleted, manifest unchanged
    monkeypatch.setattr(SI, "_write_manifest", always_conflict)
    with pytest.raises(IOError, match="compare-and-swap"):
        SI.drop_exactly_once_older_than(spark, wh, "2030-01-01")
    assert SI._read_manifest(path, spark) == man_before
    assert os.path.isdir(os.path.join(path, "batch_id=0"))

    # sink commit: loud IOError, data dir written (retry-safe), the
    # manifest does not list the unfinished batch
    new = spark.createDataFrame(
        [("x", "2024-06-01T00:00:00Z", 2.0, None, "s1")],
        "sensor_name string, timestamp string, value double, "
        "fc1_flag int, timeseries_id string",
    )

    def conflict_all(p, manifest, spark_=None, expected_version=...):
        raise ManifestVersionConflict("injected: version moved")

    monkeypatch.setattr(SI, "_write_manifest", conflict_all)
    with pytest.raises(IOError, match="compare-and-swap"):
        SI.commit_batch_exactly_once(SI.normalize_batch(new, 1), 1, path)
    monkeypatch.undo()
    assert os.path.isdir(os.path.join(path, "batch_id=1"))
    assert SI._read_manifest(path, spark) == man_before
    assert SI.read_committed_telemetry(spark, wh).count() == 1
    # the retry (a restarted stream re-delivering the batch) succeeds
    assert SI.commit_batch_exactly_once(
        SI.normalize_batch(new, 1), 1, path
    ) is True
    assert SI.read_committed_telemetry(spark, wh).count() == 2


def test_repl_compact_eo_verb_and_engine_facade(spark, tmp_path):
    """compact_eo folds the exactly-once dirs through the
    engine facade (api.compact_exactly_once) — the small-files
    counterpart of retention_eo. Replays of folded batches
    still skip through the folded ledger."""
    from rusty_timeseries_db_spark.api import TimeseriesEngine
    from rusty_timeseries_db_spark.repl import Repl
    from rusty_timeseries_db_spark.streaming.ingest import (
        commit_batch_exactly_once,
        normalize_batch,
        visible_batch_dirs,
    )

    wh = str(tmp_path / "wh")
    path = os.path.join(wh, "telemetry_eo")
    raw = spark.createDataFrame(
        [("x", "2024-01-01T00:00:00Z", 1.0, None, "s1"),
         ("x", "2024-01-02T00:00:00Z", 2.0, None, "s1")],
        "sensor_name string, timestamp string, value double, "
        "fc1_flag int, timeseries_id string",
    )
    eng = TimeseriesEngine(spark, wh)
    repl = Repl(eng)
    assert repl.execute("compact_eo") == "Compaction: nothing to fold."
    commit_batch_exactly_once(normalize_batch(raw, 0), 0, path)
    commit_batch_exactly_once(normalize_batch(raw, 1), 1, path)
    assert repl.execute("compact_eo") == (
        "Folded 2 committed dir(s) into one generation."
    )
    assert visible_batch_dirs(path, spark) == ["compact=0"]
    assert eng.telemetry().count() == 4
    assert commit_batch_exactly_once(
        normalize_batch(raw, 0), 0, path
    ) is False
