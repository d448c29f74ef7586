"""The serving path's fixed Spark cost, and the write-side identity of
its rows.

- Over a warehouse with all 64 ``series_bucket=`` dirs, building
  ``query_by_id``, ``latest(timeseries_id=)`` and ``telemetry()`` runs no
  Spark job (the listing stays on the driver, the overlay is read with
  its schema), and a warm one-row ``ingest_rows`` runs exactly one (the
  write).
- Pulling a bounded ``query_by_id`` or a ``latest(timeseries_id=)``
  with ``toLocalIterator`` runs one Spark job (a top-k plan), and an
  ordered ``sql(limit=)`` plans as a top-k.
- ``latest(timeseries_id=)`` reads one bucket and answers as ``latest()``
  filtered to that series and as the ``max_by`` argmax do, overlay
  updates included.
- ``ingest_seq`` stays unique across engine instances and across
  concurrent inserts into one engine.
"""

from __future__ import annotations

import os
import shutil
import sys
import threading
import uuid

import pytest
from pyspark.sql import functions as F

from rusty_timeseries_db_spark.api import TimeseriesEngine
from rusty_timeseries_db_spark.schema import N_SERIES_BUCKETS

N_SERIES, N_POINTS = 400, 3


def _row(sid, k, value=None, sensor="AHU"):
    return {
        "sensor_name": sensor,
        "timestamp": f"2024-08-28T12:{k:02d}:00Z",
        "value": float(k) if value is None else value,
        "fc1_flag": None,
        "timeseries_id": sid,
    }


def _sid(i):
    return f"series-{i:04d}"


def _jobs(spark, fn):
    """``(fn(), Spark jobs fn ran in this thread)``."""
    sc = spark.sparkContext
    group = f"serving-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture(scope="module")
def warehouse(spark, tmp_path_factory):
    """1,200 rows in 400 series, every bucket dir present, no
    overlay."""
    wh = str(tmp_path_factory.mktemp("serving") / "wh")
    rows = [_row(_sid(i), k) for i in range(N_SERIES) for k in range(N_POINTS)]
    TimeseriesEngine(spark, wh).ingest_rows(rows)
    buckets = [d for d in os.listdir(os.path.join(wh, "telemetry"))
               if d.startswith("series_bucket=")]
    assert len(buckets) == N_SERIES_BUCKETS
    return wh


def _copy(warehouse, tmp_path):
    dst = str(tmp_path / "wh")
    shutil.copytree(warehouse, dst)
    return dst


def _assert_builds_run_no_job(spark, warehouse):
    eng = TimeseriesEngine(spark, warehouse)
    sid = _sid(7)
    for build in (
        lambda: eng.query_by_id(sid, "2024-08-28T12:00:00Z", "2024-08-28T12:59:00Z"),
        lambda: eng.latest(timeseries_id=sid),
        eng.telemetry,
    ):
        _, jobs = _jobs(spark, build)
        assert jobs == 0


def test_building_serving_reads_runs_no_job(spark, warehouse):
    _assert_builds_run_no_job(spark, warehouse)


def test_building_reads_over_an_overlay_runs_no_job(spark, warehouse,
                                                    tmp_path):
    wh = _copy(warehouse, tmp_path)
    assert TimeseriesEngine(spark, wh).update_rows(
        [_row(_sid(3), 1, value=7.5)]) == 1
    _assert_builds_run_no_job(spark, wh)


def test_latest_point_read_prunes_to_one_bucket(spark, warehouse):
    eng = TimeseriesEngine(spark, warehouse)
    df = eng.latest(timeseries_id=_sid(7))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan
    part_filters = plan.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
    assert "series_bucket" in part_filters and "=" in part_filters
    row = df.collect()
    assert [(r.timeseries_id, r.ts_raw) for r in row] == [
        (_sid(7), f"2024-08-28T12:{N_POINTS - 1:02d}:00Z")
    ]


def _pulled(df):
    return [r.asDict() for r in df.toLocalIterator()]


def test_serving_reads_pull_in_one_job(spark, warehouse):
    eng = TimeseriesEngine(spark, warehouse)
    sid = _sid(7)
    start, end = "2024-08-28T12:00:00Z", "2024-08-28T12:59:00Z"
    rows, jobs = _jobs(spark, lambda: _pulled(
        eng.query_by_id(sid, start, end, limit=N_POINTS + 1)))
    assert jobs == 1
    assert rows == _pulled(eng.query_by_id(sid, start, end))
    assert [r["ts_raw"] for r in rows] == [
        _row(sid, k)["timestamp"] for k in range(N_POINTS)]
    rows, jobs = _jobs(spark, lambda: _pulled(
        eng.query_by_id(sid, start, end, limit=2)))
    assert (len(rows), jobs) == (2, 1)
    rows, jobs = _jobs(spark, lambda: _pulled(eng.latest(timeseries_id=sid)))
    assert (len(rows), jobs) == (1, 1)


def _max_by_latest(eng, sid):
    """The argmax form the one-series ``latest`` replaced."""
    t = eng._series_rows(sid)
    return (
        t.groupBy("timeseries_id")
        .agg(F.max_by(
            F.struct(*[c for c in t.columns if c != "timeseries_id"]),
            F.struct("ts", "ingest_seq"),
        ).alias("_r"))
        .select("timeseries_id", "_r.*")
    )


def test_top1_latest_equals_max_by(spark, warehouse, tmp_path):
    wh = _copy(warehouse, tmp_path)
    eng = TimeseriesEngine(spark, wh)
    eng.ingest_rows([
        # an unparseable timestamp stores ts = null: it is never latest
        _row(_sid(1), 30) | {"timestamp": "not-a-time"},
        # a tie on ts: the later ingest_seq wins
        _row(_sid(2), N_POINTS - 1, value=-1.0),
        # only null ts: the highest ingest_seq wins
        _row("only-null-ts", 0) | {"timestamp": "bad-1"},
        _row("only-null-ts", 0) | {"timestamp": "bad-2"},
    ])
    # an overlay row that moves series 3's first row past its last
    seq = eng.query_by_id(_sid(3), "2024", "2025").first().ingest_seq
    spark.createDataFrame(
        [("AHU", "2024-08-28T13:00:00Z", 5.5, None, _sid(3), seq, 1)],
        "sensor_name string, ts_raw string, value double, "
        "fc1_flag tinyint, timeseries_id string, ingest_seq long, "
        "overlay_version int",
    ).withColumn("ts", F.to_timestamp("ts_raw")).select(
        "sensor_name", "ts", "ts_raw", "value", "fc1_flag",
        "timeseries_id", "ingest_seq", "overlay_version",
    ).write.mode("append").parquet(eng.overlay_path)
    want = {
        _sid(1): f"2024-08-28T12:{N_POINTS - 1:02d}:00Z",
        _sid(2): f"2024-08-28T12:{N_POINTS - 1:02d}:00Z",
        _sid(3): "2024-08-28T13:00:00Z",
        "only-null-ts": "bad-2",
        "absent-series": None,
    }
    for sid, ts_raw in want.items():
        top1 = [r.asDict() for r in eng.latest(timeseries_id=sid).collect()]
        assert top1 == [r.asDict() for r in _max_by_latest(eng, sid).collect()]
        assert [r["ts_raw"] for r in top1] == ([] if ts_raw is None
                                              else [ts_raw])
    assert eng.latest(timeseries_id=_sid(2)).first().value == -1.0
    assert eng.latest(timeseries_id=_sid(3)).first().value == 5.5


def test_overlay_file_without_version_still_applies(spark, warehouse,
                                                    tmp_path):
    """An overlay file written before ``overlay_version`` existed reads
    its version as null: its row still substitutes, a versioned row for
    the same seq wins over it, and a fresh engine numbers its update
    above the stored versions, so that update wins too."""
    eng = TimeseriesEngine(spark, _copy(warehouse, tmp_path))
    day = ("2024", "2025")
    first = {sid: eng.query_by_id(sid, *day).first()
             for sid in (_sid(5), _sid(6))}
    legacy = [(r.sensor_name, r.ts, r.ts_raw, 40.0 + i, r.fc1_flag,
               r.timeseries_id, r.ingest_seq)
              for i, r in enumerate(first.values())]
    # eight identical legacy files: a version seed read through a schema
    # inferred from whichever file lists first would mostly see one
    for _ in range(8):
        spark.createDataFrame(
            legacy, eng.telemetry().schema
        ).coalesce(1).write.mode("append").parquet(eng.overlay_path)
    assert eng.update_rows([_row(_sid(6), 0, value=66.0)]) == 1
    eng = TimeseriesEngine(spark, eng.warehouse_dir)
    assert eng.query_by_id(_sid(5), *day).first().value == 40.0
    assert eng.query_by_id(_sid(6), *day).first().value == 66.0
    assert eng.latest(timeseries_id=_sid(5)).first().value == float(
        N_POINTS - 1)
    eng = TimeseriesEngine(spark, eng.warehouse_dir)
    assert eng.update_rows([_row(_sid(6), 0, value=77.0)]) == 1
    assert eng.query_by_id(_sid(6), *day).first().value == 77.0


def test_sql_limit_plans_ordered_result_as_top_k(spark, warehouse):
    eng = TimeseriesEngine(spark, warehouse)

    def node(df):
        return df._jdf.queryExecution().sparkPlan().nodeName()

    ordered = eng.sql(
        "SELECT timeseries_id, count(*) AS n FROM telemetry "
        "GROUP BY timeseries_id ORDER BY timeseries_id", limit=5)
    assert node(ordered) == "TakeOrderedAndProject"
    rows, jobs = _jobs(spark, lambda: _pulled(ordered))
    assert [r["timeseries_id"] for r in rows] == [_sid(i) for i in range(5)]
    assert jobs <= 2


def test_warm_single_row_insert_runs_one_job(spark, warehouse, tmp_path):
    eng = TimeseriesEngine(spark, _copy(warehouse, tmp_path))
    eng.current_seq()  # seeds the seq counter (its own job)
    n, jobs = _jobs(spark, lambda: eng.ingest_rows([_row("new-series", 5)]))
    assert (n, jobs) == (1, 1)


def test_latest_point_read_equals_filtered_latest_with_overlay(
    spark, warehouse, tmp_path
):
    eng = TimeseriesEngine(spark, _copy(warehouse, tmp_path))
    sid = _sid(11)
    last = _row(sid, N_POINTS - 1, value=99.5, sensor="AHU_fixed")
    assert eng.update_rows([last]) == 1
    for probe in (sid, _sid(12), "absent-series"):
        point = eng.latest(timeseries_id=probe).collect()
        whole = eng.latest().filter(F.col("timeseries_id") == probe).collect()
        assert point == whole
    (got,) = eng.latest(timeseries_id=sid).collect()
    assert (got.value, got.sensor_name) == (99.5, "AHU_fixed")


def test_fresh_engines_continue_ingest_seq(spark, warehouse, tmp_path):
    """A fresh engine numbers its rows above the warehouse's, so an
    update keyed on one engine's new row leaves every other row alone."""
    wh = _copy(warehouse, tmp_path)
    a_before = {
        (r.ingest_seq, r.value)
        for r in TimeseriesEngine(spark, wh).telemetry().collect()
    }
    eng_a = TimeseriesEngine(spark, wh)
    eng_a.ingest_rows([_row("writer-a", 1, value=1.0)])
    eng_b = TimeseriesEngine(spark, wh)
    eng_b.ingest_rows([_row("writer-b", 1, value=2.0)])
    assert eng_b.update_rows([_row("writer-b", 1, value=3.0)]) == 1

    rows = TimeseriesEngine(spark, wh).telemetry().collect()
    seqs = [r.ingest_seq for r in rows]
    assert len(seqs) == len(set(seqs)) == N_SERIES * N_POINTS + 2
    by_id = {r.timeseries_id: r for r in rows}
    assert by_id["writer-a"].value == 1.0
    assert by_id["writer-b"].value == 3.0
    untouched = {
        (r.ingest_seq, r.value)
        for r in rows
        if r.timeseries_id not in ("writer-a", "writer-b")
    }
    assert untouched == a_before
    assert eng_b.current_seq() == max(seqs)


def test_fresh_engine_over_empty_dir_seeds_without_a_job(spark, tmp_path):
    eng = TimeseriesEngine(spark, str(tmp_path / "wh"))
    seq, jobs = _jobs(spark, eng.current_seq)
    assert (seq, jobs) == (-1, 0)


def test_concurrent_inserts_into_one_engine(spark, tmp_path):
    """More writer threads than cores, with a short switch interval:
    every insert lands and the seqs stay dense and unique."""
    eng = TimeseriesEngine(spark, str(tmp_path / "wh"))
    eng.ingest_rows([_row("seed", 0)])
    errors = []

    def writer(w):
        for k in range(2):
            try:
                eng.ingest_rows([_row(f"w{w}", k + 1)])
            except Exception as e:  # the failure mode this pins
                errors.append(e)

    threads = [threading.Thread(target=writer, args=(w,)) for w in range(6)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=300)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert errors == []
    rows = eng.telemetry().collect()
    assert len(rows) == 13
    assert sorted(r.ingest_seq for r in rows) == list(range(13))
