"""Serving reads open only the ``series_bucket`` dirs of the series they
name.

- ``series_bucket_of`` computes the bucket on the driver and equals
  ``schema.series_bucket`` (Spark's ``pmod(xxhash64(id), 64)``).
- ``query_by_id``/``latest(timeseries_id=)`` read one bucket dir: a
  bucket without a dir reads as empty, the date layout still prunes
  ``ds``, and rows another engine writes are seen on the next read.
- ``engine.sql`` plans in a cloned session and, when every file scan
  filters ``timeseries_id`` to literals, registers its views over the
  named buckets only; the answer equals ``register_views()`` plus
  ``spark.sql``, and the caller's views are left alone.
- ``compact``/``optimize_storage`` hold the write lock, so an insert
  running beside them is never lost.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import sys
import threading
import urllib.request
import uuid

import pytest
from pyspark.sql import functions as F

from rusty_timeseries_db_spark.api import TimeseriesEngine
from rusty_timeseries_db_spark.schema import (
    N_SERIES_BUCKETS,
    series_bucket,
    series_bucket_of,
)
from rusty_timeseries_db_spark.server import TelemetryHttpServer

N_SERIES, N_POINTS = 400, 3


def _row(sid, k, value=None, day=28):
    return {
        "sensor_name": "AHU",
        "timestamp": f"2024-08-{day:02d}T12:{k:02d}:00Z",
        "value": float(k) if value is None else value,
        "fc1_flag": None,
        "timeseries_id": sid,
    }


def _sid(i):
    return f"series-{i:04d}"


def _jobs(spark, fn):
    """``(fn(), Spark jobs fn ran in this thread)``."""
    sc = spark.sparkContext
    group = f"bucket-reads-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture(scope="module")
def warehouse(spark, tmp_path_factory):
    """1,200 rows in 400 series, every bucket dir present."""
    wh = str(tmp_path_factory.mktemp("bucket_reads") / "wh")
    TimeseriesEngine(spark, wh).ingest_rows(
        [_row(_sid(i), k) for i in range(N_SERIES) for k in range(N_POINTS)]
    )
    return wh


def _copy(warehouse, tmp_path):
    dst = str(tmp_path / "wh")
    shutil.copytree(warehouse, dst)
    return dst


def _buckets_read(df):
    """The ``series_bucket`` values of the files ``df`` scans."""
    return {
        int(part.split("=", 1)[1])
        for f in df.inputFiles()
        for part in f.split("/")
        if part.startswith("series_bucket=")
    }


def test_series_bucket_of_matches_spark(spark):
    rng = random.Random(7)
    ascii_chars = "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789-_:."
    ids = ["", "a", "é", "x" * 40, ("x" * 40)[:32]]
    ids += ["".join(rng.choice(ascii_chars) for _ in range(rng.randrange(1, 72)))
            for _ in range(3500)]
    ids += [str(uuid.UUID(int=rng.getrandbits(128)))[:32] for _ in range(3500)]
    ids += ["".join(chr(rng.choice((rng.randrange(0xA0, 0x800),
                                    rng.randrange(0x800, 0xD800),
                                    rng.randrange(0x10000, 0x110000),
                                    rng.randrange(0x20, 0x7F))))
                    for _ in range(rng.randrange(1, 40)))
            for _ in range(3000)]
    spark_buckets = dict(
        spark.createDataFrame(list(enumerate(ids)), "k int, id string")
        .select("k", series_bucket(F.col("id")))
        .collect()
    )
    mismatches = [(i, series_bucket_of(i), spark_buckets[k])
                  for k, i in enumerate(ids)
                  if series_bucket_of(i) != spark_buckets[k]]
    assert mismatches == []
    assert {series_bucket_of(i) for i in ids} == set(range(N_SERIES_BUCKETS))


def test_missing_bucket_dir_reads_empty_without_a_job(spark, tmp_path):
    eng = TimeseriesEngine(spark, str(tmp_path / "wh"))
    eng.ingest_rows([_row("present", k) for k in range(3)])
    present = series_bucket_of("present")
    absent = next(f"absent-{n}" for n in range(1000)
                  if series_bucket_of(f"absent-{n}") != present)
    assert not os.path.isdir(os.path.join(
        eng.telemetry_path, f"series_bucket={series_bucket_of(absent)}"))
    for build in (lambda: eng.query_by_id(absent, "2024", "2025"),
                  lambda: eng.latest(timeseries_id=absent)):
        df, jobs = _jobs(spark, build)
        assert jobs == 0
        assert df.collect() == []
    assert len(eng.query_by_id("present", "2024", "2025").collect()) == 3


def test_date_partitioned_window_reads_one_bucket(spark, tmp_path):
    eng = TimeseriesEngine(spark, str(tmp_path / "wh"), partition_by_date=True)
    rows = [_row(_sid(i), k, day=d) for i in range(6) for d in (27, 28, 29)
            for k in range(2)]
    # an unparseable timestamp lands in the 9999-12-31 ds partition but
    # still matches the range as a string
    rows.append(_row(_sid(2), 0) | {"timestamp": "2024-08-28-bad"})
    eng.ingest_rows(rows)
    start, end = "2024-08-28", "2024-08-28T23:59:59Z"
    df = eng.query_by_id(_sid(2), start, end)
    assert _buckets_read(df) == {series_bucket_of(_sid(2))}
    got = [r.asDict() for r in df.collect()]
    want = [r.asDict() for r in eng.telemetry().filter(
        (F.col("timeseries_id") == _sid(2)) & F.col("ts_raw").between(start, end)
    ).orderBy("ingest_seq").collect()]
    assert got == want
    assert [r["ts_raw"] for r in got] == [
        "2024-08-28T12:00:00Z", "2024-08-28T12:01:00Z", "2024-08-28-bad"]
    plan = df._jdf.queryExecution().executedPlan().toString()
    part_filters = plan.split("PartitionFilters: [", 1)[1].split("]", 1)[0]
    assert "ds" in part_filters and "series_bucket" in part_filters


def test_rows_from_a_second_engine_are_read_next_time(spark, tmp_path):
    wh = str(tmp_path / "wh")
    TimeseriesEngine(spark, wh).ingest_rows(
        [_row(_sid(i), k) for i in range(8) for k in range(N_POINTS)])
    reader = TimeseriesEngine(spark, wh)
    new_sid = next(f"fresh-{n}" for n in range(1000)
                   if not os.path.isdir(os.path.join(
                       reader.telemetry_path,
                       f"series_bucket={series_bucket_of(f'fresh-{n}')}")))
    assert reader.latest(timeseries_id=new_sid).collect() == []
    assert reader.query_by_id(_sid(5), "2024", "2025").count() == N_POINTS
    writer = TimeseriesEngine(spark, wh)
    writer.ingest_rows([_row(_sid(5), 30, value=-5.0), _row(new_sid, 1)])
    assert reader.query_by_id(_sid(5), "2024", "2025").count() == N_POINTS + 1
    assert reader.latest(timeseries_id=_sid(5)).first().value == -5.0
    assert reader.latest(timeseries_id=new_sid).first().ts_raw == (
        "2024-08-28T12:01:00Z")
    (row,) = reader.sql(
        f"SELECT count(*) AS n FROM telemetry WHERE timeseries_id = '{new_sid}'"
    ).collect()
    assert row.n == 1


_IDS = ", ".join(f"'{_sid(i)}'" for i in range(12))
#: (statement, series it names — None when it must read every bucket)
SHAPES = {
    "eq": ("SELECT * FROM telemetry WHERE timeseries_id = 'series-0003'",
           {"series-0003"}),
    "in": ("SELECT timeseries_id, count(*) AS n, round(sum(value), 3) AS total, "
           "max(value) AS hi FROM telemetry "
           "WHERE timeseries_id IN ('series-0001', 'series-0007', 'series-0042') "
           "AND ts_raw BETWEEN '2024-08-28T12:00:00Z' AND '2024-08-28T12:01:00Z' "
           "GROUP BY timeseries_id ORDER BY timeseries_id",
           {"series-0001", "series-0007", "series-0042"}),
    "inset": (f"SELECT * FROM telemetry WHERE timeseries_id IN ({_IDS})",
              {_sid(i) for i in range(12)}),
    "join": ("SELECT a.ingest_seq, b.value FROM telemetry a JOIN telemetry b "
             "ON a.timeseries_id = b.timeseries_id "
             "WHERE a.timeseries_id = 'series-0009'", {"series-0009"}),
    "left_join": ("SELECT a.ingest_seq, b.value FROM telemetry a LEFT JOIN "
                  "telemetry b ON a.timeseries_id = b.timeseries_id "
                  "AND a.ingest_seq = b.ingest_seq "
                  "AND b.timeseries_id = 'series-0011' "
                  "WHERE a.timeseries_id IN ('series-0011', 'series-0012')",
                  {"series-0011", "series-0012"}),
    "catalog": ("SELECT * FROM telemetry_series_catalog "
                "WHERE timeseries_id = 'series-0020'", {"series-0020"}),
    "unknown_id": ("SELECT count(*) AS n FROM telemetry "
                   "WHERE timeseries_id = 'no-such-series'", {"no-such-series"}),
    "or_non_id": ("SELECT * FROM telemetry "
                  "WHERE timeseries_id = 'series-0003' OR value > 1.5", None),
    "self_join_one_side": ("SELECT count(*) AS n FROM telemetry a JOIN telemetry b "
                           "ON a.ingest_seq = b.ingest_seq "
                           "WHERE a.timeseries_id = 'series-0003'", None),
    "count": ("SELECT count(*) AS n FROM telemetry", None),
    "scalar_subquery": ("SELECT * FROM telemetry WHERE timeseries_id = 'series-0003' "
                        "AND value > (SELECT avg(value) FROM telemetry)", None),
}


def _rows(df):
    return sorted(json.dumps(r.asDict(recursive=True), sort_keys=True, default=str)
                  for r in df.collect())


@pytest.mark.parametrize("shape", sorted(SHAPES))
def test_pruned_sql_equals_registered_views(spark, warehouse, shape):
    query, named = SHAPES[shape]
    eng = TimeseriesEngine(spark, warehouse)
    df = eng.sql(query)
    got = _rows(df)
    eng.register_views()
    assert got == _rows(spark.sql(query))
    if named is None:
        assert _buckets_read(df) == set(range(N_SERIES_BUCKETS))
    else:
        assert _buckets_read(df) <= {series_bucket_of(i) for i in named}


def _moving_overlay_row(spark, eng, sid, new_sid):
    """Overlay row that rewrites ``sid``'s first row's id to ``new_sid``."""
    first = eng.query_by_id(sid, "2024", "2025").first()
    spark.createDataFrame(
        [(first.sensor_name, first.ts_raw, 55.5, None, new_sid,
          first.ingest_seq, 1)],
        "sensor_name string, ts_raw string, value double, fc1_flag tinyint, "
        "timeseries_id string, ingest_seq long, overlay_version int",
    ).withColumn("ts", F.to_timestamp("ts_raw")).select(
        "sensor_name", "ts", "ts_raw", "value", "fc1_flag", "timeseries_id",
        "ingest_seq", "overlay_version",
    ).write.mode("append").parquet(eng.overlay_path)


def test_sql_over_an_overlay_reads_every_bucket(spark, warehouse, tmp_path):
    eng = TimeseriesEngine(spark, _copy(warehouse, tmp_path))
    moved_to = next(f"moved-{n}" for n in range(1000)
                    if series_bucket_of(f"moved-{n}") != series_bucket_of(_sid(4)))
    _moving_overlay_row(spark, eng, _sid(4), moved_to)
    query = ("SELECT timeseries_id, count(*) AS n, sum(value) AS total "
             f"FROM telemetry WHERE timeseries_id IN ('{moved_to}', '{_sid(4)}') "
             "GROUP BY timeseries_id ORDER BY timeseries_id")
    df = eng.sql(query)
    got = _rows(df)
    assert _buckets_read(df) == set(range(N_SERIES_BUCKETS))
    eng.register_views()
    assert got == _rows(spark.sql(query))
    assert [(r.timeseries_id, r.n) for r in df.collect()] == [
        (moved_to, 1), (_sid(4), N_POINTS - 1)]


def test_sql_over_exactly_once_rows_reads_every_bucket(spark, warehouse, tmp_path):
    from rusty_timeseries_db_spark.streaming.ingest import (
        commit_batch_exactly_once,
        normalize_batch,
    )

    wh = _copy(warehouse, tmp_path)
    raw = spark.createDataFrame(
        [("eo", "2024-08-28T13:00:00Z", 9.0, None, _sid(6)),
         ("eo", "2024-08-28T13:00:00Z", 8.0, None, "eo-only")],
        "sensor_name string, timestamp string, value double, "
        "fc1_flag int, timeseries_id string",
    )
    commit_batch_exactly_once(normalize_batch(raw, 0), 0,
                              os.path.join(wh, "telemetry_eo"))
    eng = TimeseriesEngine(spark, wh)
    query = ("SELECT timeseries_id, count(*) AS n, max(value) AS hi FROM telemetry "
             f"WHERE timeseries_id IN ('{_sid(6)}', 'eo-only') "
             "GROUP BY timeseries_id ORDER BY timeseries_id")
    df = eng.sql(query)
    assert [(r.timeseries_id, r.n, r.hi) for r in df.collect()] == [
        ("eo-only", 1, 8.0), (_sid(6), N_POINTS + 1, 9.0)]
    eng.register_views()
    assert _rows(df) == _rows(spark.sql(query))


def test_sql_leaves_the_callers_views_alone(spark, warehouse):
    spark.createDataFrame([("mine", 1)], "timeseries_id string, n int") \
        .createOrReplaceTempView("telemetry")
    spark.createDataFrame([("a",)], "k string") \
        .createOrReplaceTempView("bucket_reads_caller_view")
    try:
        eng = TimeseriesEngine(spark, warehouse)
        (row,) = eng.sql(
            "SELECT count(*) AS n FROM telemetry WHERE timeseries_id = 'series-0001'"
        ).collect()
        assert row.n == N_POINTS
        # the clone sees the caller's other temp views
        assert eng.sql("SELECT k FROM bucket_reads_caller_view").first().k == "a"
        assert [tuple(r) for r in spark.table("telemetry").collect()] == [("mine", 1)]
    finally:
        spark.catalog.dropTempView("telemetry")
        spark.catalog.dropTempView("bucket_reads_caller_view")


def test_concurrent_sql_posts_get_their_own_rows(spark, warehouse):
    srv = TelemetryHttpServer(TimeseriesEngine(spark, warehouse), port=0).start()
    errors, answers = [], {}

    def reader(i):
        sid = _sid(i)
        body = json.dumps({"query": (
            "SELECT timeseries_id, count(*) AS n FROM telemetry "
            f"WHERE timeseries_id = '{sid}' GROUP BY timeseries_id")}).encode()
        try:
            for _ in range(3):
                req = urllib.request.Request(
                    f"{srv.base_url}/sql", data=body,
                    headers={"Content-Type": "application/json"})
                with urllib.request.urlopen(req, timeout=120) as r:
                    answers.setdefault(sid, []).append(json.loads(r.read()))
        except Exception as e:  # reported below
            errors.append(e)

    threads = [threading.Thread(target=reader, args=(i,)) for i in (2, 3)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=300)
    finally:
        sys.setswitchinterval(interval)
        srv.stop()
    assert errors == []
    assert answers == {
        sid: [[{"timeseries_id": sid, "n": N_POINTS}]] * 3
        for sid in (_sid(2), _sid(3))
    }


@pytest.mark.parametrize("method", ["compact", "optimize_storage"])
def test_inserts_beside_a_base_rewrite_survive(spark, warehouse, tmp_path,
                                               monkeypatch, method):
    """Inserts started between the new base's write and the pointer swap
    wait for the rewrite, then land in the new base."""
    eng = TimeseriesEngine(spark, _copy(warehouse, tmp_path))
    if method == "compact":
        eng.update_rows([_row(_sid(1), 1, value=10.5)])  # so it rewrites
    eng.current_seq()
    returned = []
    first_returned = threading.Event()

    def inserter():
        for k in range(2):
            eng.ingest_rows([_row("beside-rewrite", k)])
            returned.append(k)
            first_returned.set()

    thread = threading.Thread(target=inserter)
    real_replace = os.replace

    def replace(src, dst):
        if dst == eng._version_file and thread.ident is None:
            thread.start()
            # without the lock an insert returns well inside this wait
            first_returned.wait(timeout=5)
        return real_replace(src, dst)

    monkeypatch.setattr(os, "replace", replace)
    getattr(eng, method)()
    thread.join(timeout=300)
    assert returned == [0, 1]
    got = eng.query_by_id("beside-rewrite", "2024", "2025").collect()
    assert [r.ts_raw for r in got] == [_row("x", k)["timestamp"] for k in (0, 1)]
    assert eng.telemetry().count() == N_SERIES * N_POINTS + 2
