"""REPL verb parsing fidelity (R7/R8, main.rs:244-315), series catalog,
and overlay compaction."""

from __future__ import annotations

import pytest
from pyspark.sql import DataFrame

from rusty_timeseries_db_spark.api import TimeseriesEngine
from rusty_timeseries_db_spark.repl import Repl, parse_insert
from tests.conftest import CANONICAL_ROWS, SERIES_ID


@pytest.fixture()
def repl(spark, tmp_path) -> Repl:
    return Repl(TimeseriesEngine(spark, str(tmp_path / "wh")))


def test_parse_insert_defaults():
    # unparseable value -> 0.0 (main.rs:263); unparseable flag -> 0 (main.rs:266)
    row = parse_insert("insert s1 2024-08-28T12:00:00Z not_a_number id1 junk")
    assert row["value"] == 0.0
    assert row["fc1_flag"] == 0
    # absent flag -> None
    row2 = parse_insert("insert s1 2024-08-28T12:00:00Z 1.5 id1")
    assert row2["fc1_flag"] is None and row2["value"] == 1.5
    # arity error
    assert parse_insert("insert s1 2024-08-28T12:00:00Z 1.5") is None


def test_repl_insert_select_roundtrip(repl):
    assert (
        repl.execute("insert Sa_FanSpeed 2024-08-28T12:00:00Z 0.8 s-1")
        == "Inserted successfully"
    )
    out = repl.execute("select s-1 2024-08-28T12:00:00Z 2024-08-28T12:01:00Z")
    assert isinstance(out, DataFrame)
    rows = out.collect()
    assert len(rows) == 1 and rows[0].value == 0.8
    # select arity check (main.rs:301-305)
    assert "Usage" in repl.execute("select s-1 2024-08-28T12:00:00Z")
    # flag parsed as junk -> 0 -> erased to NULL by the codec rule
    repl.execute("insert s2 2024-08-28T12:00:00Z 1.0 s-1 junkflag")
    rows = repl.execute(
        "select s-1 2024-08-28T12:00:00Z 2024-08-28T12:01:00Z"
    ).collect()
    assert rows[1].fc1_flag is None


def test_set_interval(repl):
    # no FDD stream attached -> the reply says so instead of claiming
    # a cadence change that never happened
    out = repl.execute("set_interval 60")
    assert out.startswith("Interval set to 60 seconds.")
    assert "no FDD stream attached" in out
    assert repl.execute("set_interval x") == "Invalid interval value."


def test_set_interval_rearms_live_stream(spark, tmp_path):
    """R6 for real: set_interval on a live FDD stream restarts it with
    the new processing-time trigger — observed as multiple micro-batches
    landing within a window far shorter than the original cadence."""
    import time

    from rusty_timeseries_db_spark.streaming.fdd import FddScheduler

    src = str(tmp_path / "drop")
    wh = str(tmp_path / "wh")
    import json
    import os

    os.makedirs(src, exist_ok=True)

    def drop(name, n):
        with open(os.path.join(src, name), "w") as f:
            for i in range(n):
                f.write(json.dumps({
                    "sensor_name": "Sa_FanSpeed",
                    "timestamp": f"2024-08-28T12:00:{i:02d}Z",
                    "value": 0.99,
                    "fc1_flag": None,
                    "timeseries_id": "s-1",
                }) + "\n")

    from rusty_timeseries_db_spark.streaming.ingest import (
        read_telemetry_stream,
    )

    drop("a.jsonl", 3)
    batches = []
    sched = FddScheduler(
        read_telemetry_stream(spark, src),
        wh,
        trigger_seconds=3600,  # absurdly slow original cadence
        sink=lambda df, bid: batches.append((time.monotonic(), df.count())),
    )
    q1 = sched.start()
    # first batch fires immediately regardless of trigger; wait for it
    deadline = time.monotonic() + 30
    while not batches and time.monotonic() < deadline:
        time.sleep(0.2)
    assert batches, "initial micro-batch never fired"
    n_before = len(batches)

    q2 = sched.set_interval(1)
    assert sched.trigger_seconds == 1
    # same query id (checkpoint identity carries over), new run
    assert not q1.isActive and q2.isActive
    assert q2.id == q1.id and q2.runId != q1.runId

    # at 1 s cadence, newly dropped files are picked up within seconds;
    # at the old 3600 s cadence nothing further would fire this decade
    drop("b.jsonl", 2)
    deadline = time.monotonic() + 30
    while time.monotonic() < deadline:
        if sum(n for _, n in batches[n_before:]) >= 2:
            break
        time.sleep(0.2)
    sched.stop()
    assert sum(n for _, n in batches[n_before:]) >= 2, batches


def test_series_catalog(spark, tmp_path):
    eng = TimeseriesEngine(spark, str(tmp_path / "wh"))
    eng.ingest_rows(CANONICAL_ROWS)
    eng.ingest_rows(
        [dict(CANONICAL_ROWS[0], timeseries_id="other-series", sensor_name="Oa_Temp")]
    )
    cat = {r.timeseries_id: r for r in eng.build_series_catalog().collect()}
    assert len(cat) == 2
    assert cat[SERIES_ID[:32]].n_rows == 3
    assert cat[SERIES_ID[:32]].sensor_name == "Sa_FanSpeed"
    assert cat["other-series"].sensor_name == "Oa_Temp"


def test_compact_folds_overlay(spark, tmp_path):
    eng = TimeseriesEngine(spark, str(tmp_path / "wh"))
    eng.ingest_rows(CANONICAL_ROWS)
    eng.run_fault_detection(
        SERIES_ID, "2024-08-28T12:00:00Z", "2024-08-28T12:03:00Z"
    )
    assert eng._read_overlay() is not None
    n = eng.compact()
    assert n == 3
    assert eng._read_overlay() is None
    # flags survive compaction; order preserved
    rows = eng.query_by_id(
        SERIES_ID, "2024-08-28T12:00:00Z", "2024-08-28T12:03:00Z"
    ).collect()
    assert [(r.value, r.fc1_flag) for r in rows] == [
        (0.8, None), (0.9, None), (1.0, 1),
    ]


EXPECTED_AFTER_FDD = [(0.8, None), (0.9, None), (1.0, 1)]


def _flagged_rows(eng):
    return [
        (r.value, r.fc1_flag)
        for r in eng.query_by_id(
            SERIES_ID, "2024-08-28T12:00:00Z", "2024-08-28T12:03:00Z"
        ).collect()
    ]


def test_compact_crash_never_loses_table(spark, tmp_path, monkeypatch):
    """Crash injection at every dangerous point of compact(): the table
    must read back complete and correct afterwards, every time."""
    import os as _os

    eng = TimeseriesEngine(spark, str(tmp_path / "wh"))
    eng.ingest_rows(CANONICAL_ROWS)
    eng.run_fault_detection(
        SERIES_ID, "2024-08-28T12:00:00Z", "2024-08-28T12:03:00Z"
    )

    # crash 1: during the pointer swap (before it takes effect)
    def boom(*a, **k):
        raise OSError("injected crash before pointer swap")

    monkeypatch.setattr(_os, "replace", boom)
    try:
        eng.compact()
        raise AssertionError("injected crash did not fire")
    except OSError:
        pass
    monkeypatch.undo()
    # old base + overlay still live -> full correct view
    assert _flagged_rows(eng) == EXPECTED_AFTER_FDD

    # crash 2: after the pointer swap, before overlay/old-base cleanup
    import shutil as _shutil

    def boom2(*a, **k):
        raise OSError("injected crash after pointer swap")

    monkeypatch.setattr(_shutil, "rmtree", boom2)
    try:
        eng.compact()
        raise AssertionError("injected crash did not fire")
    except OSError:
        pass
    monkeypatch.undo()
    # new base is live; stale overlay re-applies idempotently
    assert _flagged_rows(eng) == EXPECTED_AFTER_FDD

    # recovery: a clean compact finishes the job and reclaims old dirs
    assert eng.compact() == 3
    assert eng._read_overlay() is None
    assert _flagged_rows(eng) == EXPECTED_AFTER_FDD
    leftovers = [
        d
        for d in _os.listdir(str(tmp_path / "wh"))
        if d.startswith("telemetry")
        and d not in (_os.path.basename(eng.telemetry_path),
                      "telemetry.version", "telemetry_overlay")
    ]
    assert leftovers == [], leftovers
    # appends after compaction land in the active versioned dir
    eng.ingest_rows([dict(CANONICAL_ROWS[0], timestamp="2024-08-28T12:09:00Z")])
    assert eng.telemetry().count() == 4


def test_snapshot_read_as_of_seq(spark, tmp_path):
    """Append-only storage makes time travel a filter: reads at an old
    ingest_seq see only the rows that existed then."""
    eng = TimeseriesEngine(spark, str(tmp_path / "wh"))
    eng.ingest_rows(CANONICAL_ROWS[:2])
    snap = eng.current_seq()
    assert snap == 1
    eng.ingest_rows(CANONICAL_ROWS[2:])
    assert eng.telemetry().count() == 3
    old = eng.telemetry(as_of_seq=snap)
    assert old.count() == 2
    assert {r.value for r in old.collect()} == {0.8, 0.9}
    # snapshot ignores later overlay mutations
    eng.run_fault_detection(
        SERIES_ID, "2024-08-28T12:00:00Z", "2024-08-28T12:03:00Z"
    )
    assert eng.telemetry(as_of_seq=snap).filter("fc1_flag = 1").count() == 0
    assert eng.telemetry().filter("fc1_flag = 1").count() == 1


def test_py_client_scenario_end_to_end(spark, tmp_path):
    """SURVEY §7.2 exit criterion — the reference's own demo script
    (py_client.py:52-65) replayed verbatim against the client facade."""
    from rusty_timeseries_db_spark.client import TelemetryClient

    c = TelemetryClient(TimeseriesEngine(spark, str(tmp_path / "wh")))
    sid = "8f541ba4-c437-43ba-ba1d-5c946583fe54"
    assert c.insert_telemetry("Sa_FanSpeed", "2024-08-28T12:00:00Z", 0.8, sid)
    assert c.insert_telemetry("Sa_FanSpeed", "2024-08-28T12:01:00Z", 0.9, sid)
    assert c.insert_telemetry("Sa_FanSpeed", "2024-08-28T12:02:00Z", 1.0, sid)
    data = c.query_telemetry(sid, "2024-08-28T12:00:00Z", "2024-08-28T12:03:00Z")
    assert [d["value"] for d in data] == [0.8, 0.9, 1.0]  # insertion order
    assert data[0]["timestamp"] == "2024-08-28T12:00:00Z"  # JSON field shape
    assert c.check_for_fault(data, fault_threshold=0.95) == 1


def test_repl_exit(repl):
    assert repl.execute(".exit") == "Exiting..."


def test_date_partitioned_layout(spark, tmp_path):
    """Production layout: series_bucket + ds partitions; date pruning in
    query_by_id; garbage-timestamp rows stay reachable (sentinel ds)."""
    import os as _os

    eng = TimeseriesEngine(
        spark, str(tmp_path / "wh"), partition_by_date=True
    )
    eng.ingest_rows(CANONICAL_ROWS)
    eng.ingest_rows(
        [dict(CANONICAL_ROWS[0], timestamp="2024-09-15T08:00:00Z", value=2.0)]
    )
    eng.ingest_rows(
        [dict(CANONICAL_ROWS[0], timestamp="zzz-garbage", value=3.0)]
    )
    # physical layout has nested ds= dirs
    bucket_dirs = [
        d for d in _os.listdir(eng.telemetry_path) if d.startswith("series_bucket=")
    ]
    assert bucket_dirs
    assert any(
        x.startswith("ds=")
        for x in _os.listdir(_os.path.join(eng.telemetry_path, bucket_dirs[0]))
    )
    # pruned query: only the August day
    aug = eng.query_by_id(SERIES_ID, "2024-08-28T00:00:00Z", "2024-08-28T23:59:59Z")
    assert [r.value for r in aug.collect()] == [0.8, 0.9, 1.0]
    from rusty_timeseries_db_spark.plans.explain import formatted_plan

    assert "ds" in formatted_plan(aug)
    # lexicographic catch-all range still reaches the garbage row
    allr = eng.query_by_id(SERIES_ID, "2", "{").collect()
    assert 3.0 in {r.value for r in allr}
    # full view + compaction keep all rows
    assert eng.telemetry().count() == 5
    eng.run_fault_detection(SERIES_ID, "2024-08-28T12:00:00Z", "2024-08-28T12:03:00Z")
    assert eng.compact() == 5
    assert eng.query_by_id(
        SERIES_ID, "2024-08-28T12:02:00Z", "2024-08-28T12:02:00Z"
    ).collect()[0].fc1_flag == 1


def test_repl_sql_verb_with_qualify(repl):
    """The `sql` verb (capability extension) runs dialect SQL: plain
    statements, and QUALIFY via the sql_ext rewriter."""
    out = repl.execute("sql SELECT 1 AS one")
    assert isinstance(out, DataFrame) and out.collect()[0].one == 1

    repl.engine.spark.createDataFrame(
        [("a", 1.0), ("a", 3.0), ("b", 2.0)], "k string, v double"
    ).createOrReplaceTempView("repl_sql_t")
    top = repl.execute(
        "sql SELECT k, v FROM repl_sql_t "
        "QUALIFY row_number() OVER (PARTITION BY k ORDER BY v DESC) = 1"
    )
    assert {(r.k, r.v) for r in top.collect()} == {("a", 3.0), ("b", 2.0)}


def test_repl_explain_verb(repl):
    out = repl.execute("explain SELECT 1 AS one")
    assert isinstance(out, str) and "Physical Plan" in out


def test_repl_sql_and_explain_verbs_see_new_rows(repl, tmp_path):
    """The `sql` and `explain` verbs run over freshly registered views:
    a row inserted after ``register_views()`` is counted, and the plan
    reads this engine's warehouse."""
    repl.execute("insert s 2024-08-28T12:00:00Z 0.5 old")
    repl.engine.register_views()
    repl.execute("insert s 2024-08-28T12:01:00Z 0.6 newid")
    out = repl.execute(
        "sql SELECT count(*) AS n FROM telemetry WHERE timeseries_id = 'newid'"
    )
    assert out.collect()[0].n == 1
    plan = repl.execute("explain SELECT * FROM telemetry_series_catalog")
    assert str(tmp_path / "wh") in plan


def test_engine_sql_facade(spark, tmp_path):
    """engine.sql(): dialect SQL over the live views — sees overlay
    updates, supports QUALIFY."""
    from rusty_timeseries_db_spark.api import TimeseriesEngine
    from tests.conftest import CANONICAL_ROWS

    eng = TimeseriesEngine(spark, str(tmp_path / "wh"))
    eng.ingest_rows(CANONICAL_ROWS)
    n = eng.sql("SELECT COUNT(*) AS n FROM telemetry").collect()[0].n
    assert n == len(CANONICAL_ROWS)

    latest = eng.sql(
        "SELECT timeseries_id, value FROM telemetry "
        "QUALIFY row_number() OVER (PARTITION BY timeseries_id "
        "ORDER BY ts DESC) = 1"
    ).collect()
    assert len(latest) == len({r["timeseries_id"] for r in CANONICAL_ROWS})

    # a point update through the overlay is visible on the next call
    eng.update_rows([{**CANONICAL_ROWS[0], "value": 123.0}])
    vals = {
        r.value
        for r in eng.sql("SELECT value FROM telemetry").collect()
    }
    assert 123.0 in vals


def test_repl_profile_verb(repl):
    """The `profile` verb returns the one-pass column profile
    of the live telemetry view (nulls/distincts/ranges), overlay-aware
    like every other read."""
    repl.execute("insert Sa_FanSpeed 2024-08-28T12:00:00Z 0.8 s-1")
    repl.execute("insert Sa_FanSpeed 2024-08-28T12:00:10Z 0.9 s-1 1")
    repl.execute("insert Sb_Temp 2024-08-28T12:00:20Z 0.4 s-2")
    out = repl.execute("profile")
    rows = {r.column_name: r for r in out.collect()}
    assert rows["value"].n == 3 and rows["value"].n_nulls == 0
    assert rows["value"].min_num == 0.4 and rows["value"].max_num == 0.9
    assert rows["timeseries_id"].n_distinct == 2
    # fc1_flag: unset -> NULL (codec rule), one real flag
    assert rows["fc1_flag"].n_nulls == 2 and rows["fc1_flag"].n_distinct == 1
    assert rows["ts"].min_num is not None  # unix_micros numeric view


def test_repl_latest_verb_sees_overlay(repl):
    """`latest` returns the current row per series and must
    reflect overlay point-updates (live view), plus ingest-order
    tie-break on duplicate timestamps."""
    repl.execute("insert Sa 2024-08-28T12:00:00Z 0.5 s-1")
    repl.execute("insert Sa 2024-08-28T12:05:00Z 0.7 s-1")
    repl.execute("insert Sb 2024-08-28T12:01:00Z 0.2 s-2")
    # duplicate timestamp, later ingest wins
    repl.execute("insert Sa 2024-08-28T12:05:00Z 0.9 s-1")
    out = repl.execute("latest")
    rows = {r.timeseries_id: r.value for r in out.collect()}
    assert rows == {"s-1": 0.9, "s-2": 0.2}
    # a point UPDATE to the latest row must be visible (overlay-aware).
    # s-2's 12:01 row is unambiguous; s-1's 12:05 pair would hit R2's
    # FIRST-match rule (the 0.7 row, not the 0.9 latest) by design.
    repl.engine.update_rows([{
        "sensor_name": "Sb", "timestamp": "2024-08-28T12:01:00Z",
        "value": 1.5, "timeseries_id": "s-2",
    }])
    rows = {r.timeseries_id: r.value
            for r in repl.execute("latest").collect()}
    assert rows["s-2"] == 1.5 and rows["s-1"] == 0.9


def test_repl_latest_point_read_verb(repl):
    """`latest <timeseries_id>` narrows to one series — the
    REPL twin of GET /latest?timeseries_id=."""
    repl.execute("insert Sa 2024-08-28T12:00:00Z 0.5 s-1")
    repl.execute("insert Sa 2024-08-28T12:05:00Z 0.7 s-1")
    repl.execute("insert Sb 2024-08-28T12:01:00Z 0.2 s-2")
    out = repl.execute("latest s-1").collect()
    assert len(out) == 1
    assert (out[0].timeseries_id, out[0].value) == ("s-1", 0.7)
    assert repl.execute("latest nope").collect() == []
