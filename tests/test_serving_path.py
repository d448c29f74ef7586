"""The serving path's fixed Spark cost, and the write-side identity of
its rows.

- Over a warehouse with all 64 ``series_bucket=`` dirs, building
  ``query_by_id``, ``latest(timeseries_id=)`` and ``telemetry()`` runs no
  Spark job (the listing stays on the driver), and a warm one-row
  ``ingest_rows`` runs exactly one (the write).
- ``latest(timeseries_id=)`` reads one bucket and answers as ``latest()``
  filtered to that series does, overlay updates included.
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


def test_building_serving_reads_runs_no_job(spark, warehouse):
    eng = TimeseriesEngine(spark, warehouse)
    sid = _sid(7)
    for build in (
        lambda: eng.query_by_id(sid, "2024-08-28T12:00:00Z", "2024-08-28T12:59:00Z"),
        lambda: eng.latest(timeseries_id=sid),
        eng.telemetry,
    ):
        _, jobs = _jobs(spark, build)
        assert jobs == 0


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
