"""HTTP surface parity: the reference's py_client.py flows (insert →
query_by_id → client-side fault check, py_client.py:8-49) run verbatim
against the stdlib adapter — same routes, same row shape, same status
codes (main.rs:325-375)."""

from __future__ import annotations

import json
import urllib.parse
import urllib.request

import pytest

from rusty_timeseries_db_spark.api import TimeseriesEngine
from rusty_timeseries_db_spark.server import TelemetryHttpServer

SID = "8f541ba4-c437-43ba-ba1d-5c946583fe54"


@pytest.fixture()
def server(spark, tmp_path):
    eng = TimeseriesEngine(spark, str(tmp_path / "wh"), max_rows=5)
    srv = TelemetryHttpServer(eng, port=0).start()
    yield srv
    srv.stop()


def _insert(base, sensor, ts, value, sid, flag=None):
    """py_client.insert_telemetry, requests swapped for urllib."""
    body = json.dumps(
        {
            "sensor_name": sensor,
            "timestamp": ts,
            "value": value,
            "fc1_flag": flag,
            "timeseries_id": sid,
        }
    ).encode()
    req = urllib.request.Request(
        f"{base}/telemetry", data=body,
        headers={"Content-Type": "application/json"}, method="POST",
    )
    try:
        with urllib.request.urlopen(req) as resp:
            return resp.status, resp.read().decode()
    except urllib.error.HTTPError as e:
        return e.code, e.read().decode()


def _query(base, sid, start, end):
    """py_client.query_telemetry."""
    qs = urllib.parse.urlencode(
        {"timeseries_id": sid, "start_time": start, "end_time": end}
    )
    with urllib.request.urlopen(f"{base}/query_by_id?{qs}") as resp:
        assert resp.status == 200
        return json.loads(resp.read())


def test_py_client_flow(server):
    base = server.base_url
    for ts, v in (
        ("2024-08-28T12:00:00Z", 0.8),
        ("2024-08-28T12:01:00Z", 0.9),
        ("2024-08-28T12:02:00Z", 1.0),
    ):
        code, text = _insert(base, "Sa_FanSpeed", ts, v, SID)
        assert (code, text) == (200, "Inserted")

    data = _query(base, SID, "2024-08-28T12:00:00Z", "2024-08-28T12:03:00Z")
    assert [e["value"] for e in data] == [0.8, 0.9, 1.0]
    assert data[0]["timestamp"] == "2024-08-28T12:00:00Z"
    assert all(e["sensor_name"] == "Sa_FanSpeed" for e in data)
    # stored ids are 32-char truncated (main.rs:179) and the probe is
    # normalized identically, so the 36-char UUID round-trips
    assert all(e["timeseries_id"] == SID[:32] for e in data)

    # py_client.check_for_fault at threshold 0.95: exactly one fault
    faults = [e for e in data if e["value"] > 0.95]
    assert len(faults) == 1 and faults[0]["timestamp"] == "2024-08-28T12:02:00Z"


def test_table_full_maps_to_500(server):
    base = server.base_url
    for i in range(5):
        code, _ = _insert(
            base, "s", f"2024-08-28T12:00:0{i}Z", 0.1, SID
        )
        assert code == 200
    code, text = _insert(base, "s", "2024-08-28T12:00:09Z", 0.1, SID)
    assert (code, text) == (500, "Table Full")


def _post_json(base, path, body):
    req = urllib.request.Request(
        f"{base}{path}", data=json.dumps(body).encode(),
        headers={"Content-Type": "application/json"}, method="POST",
    )
    try:
        with urllib.request.urlopen(req) as resp:
            return resp.status, resp.read().decode()
    except urllib.error.HTTPError as e:
        return e.code, e.read().decode()


def test_malformed_telemetry_row_maps_to_400(server):
    """A row the ingest schema rejects gets 400, not a dropped socket;
    nothing lands, and the route keeps serving."""
    base = server.base_url
    good = {"sensor_name": "s", "timestamp": "2024-08-28T12:00:00Z",
            "value": 0.5, "fc1_flag": None, "timeseries_id": "s-1"}
    no_id = {k: v for k, v in good.items() if k != "timeseries_id"}
    for body in (no_id, {**good, "value": None}, {**good, "fc1_flag": 300}):
        code, text = _post_json(base, "/telemetry", body)
        assert code == 400 and text.startswith("Bad Request"), (body, text)
    assert server.engine.telemetry().count() == 0
    assert _post_json(base, "/telemetry", good) == (200, "Inserted")
    assert _query(base, "s-1", "2024", "2025")[0]["value"] == 0.5


def test_sql_route_sees_rows_inserted_after_start(spark, tmp_path):
    """POST /sql re-registers the telemetry views per request: a row
    inserted after the server registered them is counted, in the
    telemetry view and in the series-catalog view."""
    eng = TimeseriesEngine(spark, str(tmp_path / "wh"))
    eng.ingest_rows([{"sensor_name": "s", "timestamp": "2024-08-28T12:00:00Z",
                      "value": 0.1, "fc1_flag": None, "timeseries_id": "old"}])
    eng.register_views()
    srv = TelemetryHttpServer(eng, port=0).start()
    try:
        base = srv.base_url
        assert _insert(base, "s", "2024-08-28T12:01:00Z", 0.2, "new") == (
            200, "Inserted")
        code, text = _post_json(base, "/sql", {"query": (
            "SELECT timeseries_id, count(*) AS n FROM telemetry "
            "GROUP BY timeseries_id ORDER BY timeseries_id")})
        assert code == 200
        assert json.loads(text) == [{"timeseries_id": "new", "n": 1},
                                    {"timeseries_id": "old", "n": 1}]
        code, text = _post_json(base, "/sql", {"query": (
            "SELECT timeseries_id, n_rows FROM telemetry_series_catalog "
            "ORDER BY timeseries_id")})
        assert code == 200
        assert json.loads(text) == [{"timeseries_id": "new", "n_rows": 1},
                                    {"timeseries_id": "old", "n_rows": 1}]
    finally:
        srv.stop()


def test_sql_row_cap_on_ordered_results(spark, tmp_path):
    """/sql carries the row cap in its plan (a limit of cap + 1 rows, a
    top-k over an ordered result): over the cap is still a 413, exactly
    the cap a 200 with every row, ordered or not."""
    eng = TimeseriesEngine(spark, str(tmp_path / "wh"))
    srv = TelemetryHttpServer(eng, port=0, max_query_rows=10).start()
    try:
        base = srv.base_url
        for n, order in ((11, "ORDER BY id DESC"), (11, "")):
            code, text = _post_json(base, "/sql", {
                "query": f"SELECT id FROM range({n}) {order}"})
            assert (code, text) == (
                413, "Result Too Large: > 10 rows; add a LIMIT")
        code, text = _post_json(base, "/sql", {
            "query": "SELECT id FROM range(10) ORDER BY id DESC"})
        assert code == 200
        assert json.loads(text) == [{"id": i} for i in range(9, -1, -1)]
        code, text = _post_json(base, "/sql", {
            "query": "SELECT id FROM range(10)"})
        assert code == 200
        assert sorted(r["id"] for r in json.loads(text)) == list(range(10))
    finally:
        srv.stop()


def test_concurrent_posts_all_land_with_unique_seqs(spark, tmp_path):
    """8 concurrent POST /telemetry into one engine: every insert
    succeeds, every row reads back, and no two rows share a seq."""
    import threading

    eng = TimeseriesEngine(spark, str(tmp_path / "wh"))
    srv = TelemetryHttpServer(eng, port=0).start()
    try:
        base = srv.base_url
        codes = [None] * 8

        def post(i):
            codes[i] = _insert(
                base, "s", f"2024-08-28T12:00:0{i}Z", float(i), f"w{i}")

        threads = [threading.Thread(target=post, args=(i,)) for i in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=300)
        assert not any(t.is_alive() for t in threads)
        assert codes == [(200, "Inserted")] * 8
        for i in range(8):
            got = _query(base, f"w{i}", "2024", "2025")
            assert [r["value"] for r in got] == [float(i)]
    finally:
        srv.stop()
    seqs = [r.ingest_seq for r in eng.telemetry().collect()]
    assert sorted(seqs) == list(range(8))


def test_reference_client_end_to_end(spark, tmp_path):
    """Run the reference's OWN client file, unmodified, as a subprocess
    against the adapter (py_client.py:52-65). BASE_URL is hardcoded to
    localhost:8000 in the artifact, so the server must bind that exact
    port — skip (never fail) if something else holds it."""
    import os
    import socket
    import subprocess
    import sys

    client = "/root/reference/py_client.py"
    if not os.path.exists(client):
        pytest.skip("reference client not present")
    pytest.importorskip("requests")
    with socket.socket() as s:
        if s.connect_ex(("127.0.0.1", 8000)) == 0:
            pytest.skip("port 8000 already in use")

    eng = TimeseriesEngine(spark, str(tmp_path / "wh_refclient"))
    srv = TelemetryHttpServer(eng, port=8000).start()
    try:
        proc = subprocess.run(
            [sys.executable, client],
            capture_output=True,
            text=True,
            timeout=300,
        )
    finally:
        srv.stop()

    assert proc.returncode == 0, proc.stderr
    out = proc.stdout
    # three inserts (main flow lines 54-56), each acknowledged
    assert out.count("Data inserted successfully") == 3
    assert "Query successful. Data received:" in out
    # check_for_fault at threshold 0.95: exactly the 12:02 value (1.0)
    assert (
        "Fault detected at timestamp 2024-08-28T12:02:00Z with value 1.0"
        in out
    )
    assert "Total faults detected: 1" in out
    assert "Failed to" not in out


def test_query_row_cap_413(spark, tmp_path):
    """server.py bounds driver memory: ranges wider than max_query_rows
    get a 413, not an unbounded collect."""
    eng = TimeseriesEngine(spark, str(tmp_path / "wh_cap"))
    eng.ingest_rows(
        [
            {
                "sensor_name": "s",
                "timestamp": f"2024-08-28T12:00:{i:02d}Z",
                "value": 0.1,
                "timeseries_id": SID,
            }
            for i in range(20)
        ]
    )
    srv = TelemetryHttpServer(eng, port=0, max_query_rows=10).start()
    try:
        base = srv.base_url
        with pytest.raises(urllib.error.HTTPError) as e:
            qs = urllib.parse.urlencode(
                {
                    "timeseries_id": SID,
                    "start_time": "2024-08-28T12:00:00Z",
                    "end_time": "2024-08-28T12:01:00Z",
                }
            )
            urllib.request.urlopen(f"{base}/query_by_id?{qs}")
        assert e.value.code == 413
        assert b"Result Too Large" in e.value.read()
        # a range under the cap still succeeds
        data = _query(
            base, SID, "2024-08-28T12:00:00Z", "2024-08-28T12:00:04Z"
        )
        assert len(data) == 5
    finally:
        srv.stop()


def test_unknown_routes_and_bad_requests(server):
    base = server.base_url
    with pytest.raises(urllib.error.HTTPError) as e1:
        urllib.request.urlopen(f"{base}/nope")
    assert e1.value.code == 404
    with pytest.raises(urllib.error.HTTPError) as e2:
        urllib.request.urlopen(f"{base}/query_by_id?timeseries_id=x")
    assert e2.value.code == 400


def test_sql_route(server):
    """POST /sql (capability extension): dialect SQL over HTTP with the
    same bounded-output discipline; bad SQL → 400, not a 500 stack."""
    base = server.base_url

    def post_sql(query):
        req = urllib.request.Request(
            f"{base}/sql",
            data=json.dumps({"query": query}).encode(),
            headers={"Content-Type": "application/json"},
            method="POST",
        )
        try:
            with urllib.request.urlopen(req) as resp:
                return resp.status, json.loads(resp.read())
        except urllib.error.HTTPError as e:
            return e.code, e.read().decode()

    code, rows = post_sql("SELECT 1 AS one, 'a' AS s")
    assert code == 200 and rows == [{"one": 1, "s": "a"}]

    # QUALIFY goes through the dialect rewriter
    code, rows = post_sql(
        "SELECT * FROM (VALUES ('a', 1.0), ('a', 3.0), ('b', 2.0)) "
        "AS t(k, v) "
        "QUALIFY row_number() OVER (PARTITION BY k ORDER BY v DESC) = 1"
    )
    assert code == 200
    assert {(r["k"], r["v"]) for r in rows} == {("a", 3.0), ("b", 2.0)}

    code, err = post_sql("SELEC nonsense")
    assert code == 400 and "SQL Error" in err

    # malformed body
    req = urllib.request.Request(
        f"{base}/sql", data=b"{not json", method="POST"
    )
    with pytest.raises(urllib.error.HTTPError) as e:
        urllib.request.urlopen(req)
    assert e.value.code == 400


def test_sql_route_execution_time_error_maps_to_400(server):
    """Failures surfacing at EXECUTION (not analysis) must still reply
    400, never drop the socket."""
    req = urllib.request.Request(
        f"{server.base_url}/sql",
        data=json.dumps(
            {"query": "SELECT assert_true(1 = 0) AS boom"}
        ).encode(),
        headers={"Content-Type": "application/json"},
        method="POST",
    )
    with pytest.raises(urllib.error.HTTPError) as e:
        urllib.request.urlopen(req)
    assert e.value.code == 400
    assert b"SQL Error" in e.value.read()


def test_sql_route_rejects_non_query_statements(server):
    """ADVICE r7: POST /sql must be read-only — DDL/DML would run with
    the server's privileges. The gate is textual and sits BEFORE the
    dialect entry point because spark.sql executes DDL eagerly."""
    base = server.base_url

    def post_sql(query):
        req = urllib.request.Request(
            f"{base}/sql",
            data=json.dumps({"query": query}).encode(),
            headers={"Content-Type": "application/json"},
            method="POST",
        )
        try:
            with urllib.request.urlopen(req) as resp:
                return resp.status, json.loads(resp.read())
        except urllib.error.HTTPError as e:
            return e.code, e.read().decode()

    for stmt in (
        "DROP TABLE telemetry",
        "CREATE TABLE x (a INT) USING parquet LOCATION '/tmp/evil'",
        "INSERT OVERWRITE DIRECTORY '/tmp/evil' SELECT 1",
        "SET spark.sql.ansi.enabled=false",
        "SELECT 1; DROP TABLE telemetry",   # multi-statement smuggling
    ):
        code, err = post_sql(stmt)
        assert code == 400 and "only query statements" in err, stmt

    # read-only forms still pass: leading comment, parens, WITH, VALUES
    for stmt in (
        "-- a comment\nSELECT 1 AS x",
        "/* c */ WITH t AS (SELECT 1 AS x) SELECT * FROM t",
        "(SELECT 1 AS x)",
        "VALUES (1)",
        "SELECT 1 AS x;",                   # trailing semicolon is fine
    ):
        code, _ = post_sql(stmt)
        assert code == 200, stmt

    # a literal containing 'DROP' or ';' is data, not syntax
    code, rows = post_sql("SELECT 'DROP TABLE t; x' AS s")
    assert code == 200 and rows == [{"s": "DROP TABLE t; x"}]


def test_sql_gate_rejects_cte_prefixed_dml(server):
    """Code-review r8: Spark's grammar allows 'WITH ... INSERT/MERGE',
    so a leading WITH is not proof of read-only — depth-0 write
    keywords are rejected; function-call REPLACE() and backquoted
    identifiers are not."""
    base = server.base_url

    def post_sql(query):
        req = urllib.request.Request(
            f"{base}/sql",
            data=json.dumps({"query": query}).encode(),
            headers={"Content-Type": "application/json"},
            method="POST",
        )
        try:
            with urllib.request.urlopen(req) as resp:
                return resp.status, json.loads(resp.read())
        except urllib.error.HTTPError as e:
            return e.code, e.read().decode()

    for stmt in (
        "WITH x AS (SELECT 1 AS a) INSERT OVERWRITE DIRECTORY '/tmp/p' "
        "USING parquet SELECT * FROM x",
        "WITH x AS (SELECT 1 AS a) DELETE FROM telemetry",
        "WITH x AS (SELECT 1 AS a) MERGE INTO t USING x ON t.a = x.a "
        "WHEN MATCHED THEN DELETE",
    ):
        code, err = post_sql(stmt)
        assert code == 400 and "only query statements" in err, stmt

    # read-only statements with keyword-LOOKALIKES still pass
    code, rows = post_sql("SELECT REPLACE('abc', 'b', 'd') AS s")
    assert code == 200 and rows == [{"s": "adc"}]
    code, rows = post_sql(
        "WITH `update` AS (SELECT 2 AS x) SELECT x FROM `update`"
    )
    assert code == 200 and rows == [{"x": 2}]
    # a write keyword inside a string literal stays data
    code, rows = post_sql("SELECT 'DROP TABLE x' AS s")
    assert code == 200


def test_sql_gate_quote_masking_cannot_be_derailed(server):
    """Code-review r8 (2nd pass): a single quote INSIDE a double-quoted
    literal or backquoted identifier must not derail the masking scan
    and hide DML; keyword-NAMED columns must still be accepted."""
    base = server.base_url

    def post_sql(query):
        req = urllib.request.Request(
            f"{base}/sql",
            data=json.dumps({"query": query}).encode(),
            headers={"Content-Type": "application/json"},
            method="POST",
        )
        try:
            with urllib.request.urlopen(req) as resp:
                return resp.status, json.loads(resp.read())
        except urllib.error.HTTPError as e:
            return e.code, e.read().decode()

    # the bypass shapes: stray ' inside "..." / `...` before DML
    for stmt in (
        "WITH x AS (SELECT \"'\" AS c) INSERT INTO tbl "
        "SELECT * FROM x -- '",
        "WITH x AS (SELECT 1 AS `'`) INSERT INTO tbl SELECT * FROM x",
    ):
        code, err = post_sql(stmt)
        assert code == 400 and "only query statements" in err, stmt

    # keyword-named columns and double-quoted keyword literals pass
    code, rows = post_sql(
        "WITH t AS (SELECT 1 AS set, 2 AS update) "
        "SELECT set, update FROM t"
    )
    assert code == 200 and rows == [{"set": 1, "update": 2}]
    code, rows = post_sql('SELECT "DROP TABLE x" AS s')
    assert code == 200 and rows == [{"s": "DROP TABLE x"}]


def test_get_latest_route(server):
    """round 8: GET /latest serves the current row per series (the
    last-value answer) as JSON — one row per series, bounded by the
    same row cap as /query_by_id."""
    base = server.base_url
    _insert(base, "Sa", "2024-08-28T12:00:00Z", 0.5, "s-1")
    _insert(base, "Sa", "2024-08-28T12:05:00Z", 0.9, "s-1")
    _insert(base, "Sb", "2024-08-28T12:01:00Z", 0.2, "s-2")
    with urllib.request.urlopen(f"{base}/latest") as resp:
        assert resp.status == 200
        rows = {r["timeseries_id"]: r for r in json.loads(resp.read())}
    assert set(rows) == {"s-1", "s-2"}
    assert rows["s-1"]["value"] == 0.9
    assert rows["s-1"]["timestamp"] == "2024-08-28T12:05:00Z"
    assert rows["s-2"]["value"] == 0.2


def test_get_latest_route_serves_committed_snapshot(spark, tmp_path):
    """round 9 (VERDICT r8 what's-wrong #1 fixed): when a last-value
    sink has committed into the engine's warehouse, GET /latest serves
    the O(#series) snapshot — same answer shape, and the engine-side
    plan reads only the snapshot directory (asserted at the engine
    level in test_streaming_windows; here: the route's JSON equals the
    snapshot contents, proving the route consults it)."""
    import os

    from pyspark.sql import functions as F

    from rusty_timeseries_db_spark.streaming.ingest import (
        _write_latest_manifest_atomic,
    )

    wh = str(tmp_path / "wh")
    snap = spark.createDataFrame(
        [
            ("Sa", "2024-08-28T12:05:00Z", 0.9, None, "s-1", 11),
            ("Sb", "2024-08-28T12:01:00Z", 0.2, None, "s-2", 12),
        ],
        "sensor_name string, ts_raw string, value double, "
        "fc1_flag tinyint, timeseries_id string, ingest_seq long",
    ).withColumn("ts", F.to_timestamp("ts_raw")).select(
        "sensor_name", "ts", "ts_raw", "value", "fc1_flag",
        "timeseries_id", "ingest_seq",
    )
    snap.write.parquet(os.path.join(wh, "latest", "snap=4"))
    _write_latest_manifest_atomic(
        os.path.join(wh, "latest"), {"dir": "snap=4", "batch_id": 4}, spark
    )

    eng = TimeseriesEngine(spark, wh)  # NO telemetry table at all:
    srv = TelemetryHttpServer(eng, port=0).start()
    try:
        with urllib.request.urlopen(f"{srv.base_url}/latest") as resp:
            assert resp.status == 200
            rows = {r["timeseries_id"]: r for r in json.loads(resp.read())}
    finally:
        srv.stop()
    # ...so these rows can ONLY have come from the snapshot
    assert set(rows) == {"s-1", "s-2"}
    assert rows["s-1"]["value"] == 0.9
    assert rows["s-1"]["timestamp"] == "2024-08-28T12:05:00Z"
    assert rows["s-2"]["value"] == 0.2


def test_get_latest_prefer_snapshot_false_param(spark, tmp_path):
    """ADVICE r9 #2: the _batch_ingested guard is per-engine-instance,
    so a warehouse that a DIFFERENT process batch-appends into can be
    served a stale snapshot with no HTTP remediation —
    ?prefer_snapshot=false must forward to engine.latest's batch-face
    scan so mixed-path deployments can opt into the correct-anywhere
    read without code changes."""
    import os

    from pyspark.sql import functions as F

    from rusty_timeseries_db_spark.streaming.ingest import (
        _write_latest_manifest_atomic,
    )

    wh = str(tmp_path / "wh")
    # another process batch-appends a newer row for s-1...
    writer_eng = TimeseriesEngine(spark, wh)
    writer_eng.ingest_rows([
        {"sensor_name": "Sa", "timestamp": "2024-08-28T13:00:00Z",
         "value": 5.0, "fc1_flag": None, "timeseries_id": "s-1"},
    ])
    # ...while the warehouse still carries an older committed snapshot
    snap = spark.createDataFrame(
        [("Sa", "2024-08-28T12:05:00Z", 0.9, None, "s-1", 11)],
        "sensor_name string, ts_raw string, value double, "
        "fc1_flag tinyint, timeseries_id string, ingest_seq long",
    ).withColumn("ts", F.to_timestamp("ts_raw")).select(
        "sensor_name", "ts", "ts_raw", "value", "fc1_flag",
        "timeseries_id", "ingest_seq",
    )
    snap.write.parquet(os.path.join(wh, "latest", "snap=4"))
    _write_latest_manifest_atomic(
        os.path.join(wh, "latest"), {"dir": "snap=4", "batch_id": 4}, spark
    )

    # the SERVING engine is a fresh instance: its per-instance guard
    # cannot know about the other process's append
    srv = TelemetryHttpServer(TimeseriesEngine(spark, wh), port=0).start()
    try:
        with urllib.request.urlopen(f"{srv.base_url}/latest") as resp:
            stale = json.loads(resp.read())
        with urllib.request.urlopen(
            f"{srv.base_url}/latest?prefer_snapshot=false"
        ) as resp:
            fresh = json.loads(resp.read())
        # garbage values keep the snapshot-preferring default
        with urllib.request.urlopen(
            f"{srv.base_url}/latest?prefer_snapshot=maybe"
        ) as resp:
            dflt = json.loads(resp.read())
    finally:
        srv.stop()
    assert [r["value"] for r in stale] == [0.9]  # the documented trap
    assert [r["value"] for r in fresh] == [5.0]  # the opt-out sees it
    assert [r["value"] for r in dflt] == [0.9]


def test_get_latest_execution_error_maps_to_400(spark, tmp_path):
    """ADVICE r8 #3: an execution-time failure inside GET /latest must
    reply 400 with the error text — not drop the socket."""
    eng = TimeseriesEngine(spark, str(tmp_path / "wh"))

    def _boom(prefer_snapshot=True, timeseries_id=None):
        raise RuntimeError("kaboom at execution time")

    eng.latest = _boom
    srv = TelemetryHttpServer(eng, port=0).start()
    try:
        try:
            urllib.request.urlopen(f"{srv.base_url}/latest")
            assert False, "expected HTTPError"
        except urllib.error.HTTPError as e:
            assert e.code == 400
            assert "kaboom" in e.read().decode()
    finally:
        srv.stop()


def _get(base, path):
    try:
        with urllib.request.urlopen(f"{base}{path}") as resp:
            return resp.status, resp.read().decode()
    except urllib.error.HTTPError as e:
        return e.code, e.read().decode()


def test_get_summary_route(spark, tmp_path):
    """Round 18 (VERDICT r17 #5): the four facade-startable summary
    stores are servable over HTTP — GET /summary?kind=... returns the
    merged estimates as JSON, named stores via &name=, kind knobs map
    1:1, and both kind-inapplicable knobs and a not-started store map
    to 400 (the /sql error contract)."""
    import os

    eng = TimeseriesEngine(spark, str(tmp_path / "wh"))
    src = str(tmp_path / "drop")
    os.makedirs(src)
    rows = [
        {"sensor_name": "s1", "timestamp": "2024-08-28T12:00:00Z",
         "value": 1.0, "fc1_flag": 1, "timeseries_id": "ahu1/sat"},
        {"sensor_name": "s1", "timestamp": "2024-08-28T12:00:10Z",
         "value": 1.0, "fc1_flag": 1, "timeseries_id": "ahu1/sat"},
        {"sensor_name": "s2", "timestamp": "2024-08-28T12:00:20Z",
         "value": 7.0, "fc1_flag": 1, "timeseries_id": "ahu1/sat"},
    ]
    with open(os.path.join(src, "b1.jsonl"), "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")
    eng.start_summary_store(
        src, "topk", name="hot", available_now=True
    ).awaitTermination(180)
    srv = TelemetryHttpServer(eng, port=0).start()
    try:
        base = srv.base_url
        code, body = _get(base, "/summary?kind=topk&name=hot")
        assert code == 200
        cells = json.loads(body)
        got = {(c["timeseries_id"], c["value"]): c["count_lo"]
               for c in cells}
        assert got[("ahu1/sat", 1.0)] == 2 and got[("ahu1/sat", 7.0)] == 1
        # k caps the served list per cell
        code, body = _get(base, "/summary?kind=topk&name=hot&k=1")
        assert code == 200 and len(json.loads(body)) == 1
        # missing kind
        code, body = _get(base, "/summary")
        assert code == 400 and "kind is required" in body
        # unknown kind and not-started store both map to 400
        code, body = _get(base, "/summary?kind=hll")
        assert code == 400 and "unknown summary-store kind" in body
        code, body = _get(base, "/summary?kind=quantile")
        assert code == 400 and "start the sink" in body
        # kind-inapplicable knob (ADVICE r17 raise surfaces as 400)
        code, body = _get(
            base, "/summary?kind=topk&name=hot&quantiles=0.5"
        )
        assert code == 400 and "cannot honor" in body
        # degenerate knob values (ADVICE r18) surface as 400 too:
        # overlap_k without overlap_key, and overlap_k below pairwise
        code, body = _get(base, "/summary?kind=theta&overlap_k=3")
        assert code == 400 and "only applies with" in body
        code, body = _get(
            base, "/summary?kind=theta&overlap_key=timeseries_id"
            "&overlap_k=1"
        )
        assert code == 400 and ">= 2" in body
    finally:
        srv.stop()


def test_get_summary_route_quantile_params(spark, tmp_path):
    """/summary param plumbing beyond topk: &quantiles= parses a float
    list into per-cell percentile columns, and malformed numeric
    params map to 400 rather than a dropped socket."""
    import os

    eng = TimeseriesEngine(spark, str(tmp_path / "wh"))
    src = str(tmp_path / "drop")
    os.makedirs(src)
    rows = [
        {"sensor_name": "s1", "timestamp": f"2024-08-28T12:00:{i:02d}Z",
         "value": float(i), "fc1_flag": 1, "timeseries_id": "ahu1/sat"}
        for i in range(5)
    ]
    with open(os.path.join(src, "b1.jsonl"), "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")
    eng.start_summary_store(
        src, "quantile", available_now=True
    ).awaitTermination(180)
    srv = TelemetryHttpServer(eng, port=0).start()
    try:
        base = srv.base_url
        code, body = _get(base, "/summary?kind=quantile&quantiles=0.5")
        assert code == 200
        cells = json.loads(body)
        assert len(cells) == 1 and cells[0]["n_rows"] == 5
        assert "p50" in cells[0]
        # malformed float / int params -> 400, not a handler crash
        code, _ = _get(base, "/summary?kind=quantile&quantiles=half")
        assert code == 400
        code, _ = _get(base, "/summary?kind=topk&k=abc")
        assert code == 400
    finally:
        srv.stop()
