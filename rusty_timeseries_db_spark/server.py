"""HTTP surface analog: the reference's warp routes (main.rs:325-375)
served by a stdlib ``http.server`` adapter over ``TimeseriesEngine``,
so the reference's own client (``py_client.py:8-37``) runs unmodified
against this engine (pointed at the adapter's base URL).

Routes, matching the reference exactly:

- ``POST /telemetry`` — JSON body ``{sensor_name, timestamp, value,
  fc1_flag, timeseries_id}`` → ingest one row; replies ``200
  "Inserted"`` (log_and_store_telemetry, main.rs:347-363) or ``500
  "Table Full"`` when the quota guard trips (main.rs:353-356). A row
  the ingest schema rejects (no ``timeseries_id``, ``value: null``, a
  flag past 255) gets ``400 "Bad Request: ..."``. Concurrent inserts
  are serialized by the engine's write lock.
- ``GET /query_by_id?timeseries_id=&start_time=&end_time=`` — R3 range
  scan; replies a JSON array of rows in the POST body shape, with
  ``timestamp`` carrying the stored raw string (query_telemetry_by_id,
  main.rs:365-375). The engine frame carries the row cap as
  ``limit=max_query_rows + 1`` over its ``ingest_seq`` order, which
  Spark plans as one top-k pass: one Spark job per request, over the
  series' own ``series_bucket`` dir only (as ``/latest?timeseries_id=``).

Capability extension beyond the reference's two routes:

- ``POST /sql`` — JSON body ``{"query": "..."}`` → run a dialect SQL
  statement (sql_ext: plain Spark SQL plus the ASOF JOIN / QUALIFY
  rewrites) and reply a JSON array of row objects. Same bounded-output
  discipline as /query_by_id: ``toLocalIterator`` + row cap + 413, with
  the cap in the plan as ``limit=max_query_rows + 1`` (over an ORDER BY
  a top-k pass). It runs through ``engine.sql``, which registers the
  ``telemetry`` views per request in a session cloned from the
  server's, so a row inserted a moment ago is counted and concurrent
  requests never share a view. A statement whose every file scan
  filters ``timeseries_id`` to literals (``=``/``IN``), over a
  warehouse with no overlay and no exactly-once rows, reads only those
  series' bucket dirs; any other reads the whole warehouse. Building
  the views lists bucket dirs on the driver: no Spark job.
- ``GET /latest`` — current state: the latest row per series
  (engine.latest, the batch face of the streaming last-value cache).
  One row per series, same row cap. ``?prefer_snapshot=false`` opts into the
  correct-anywhere batch scan for
  warehouses that another process batch-appends into (the mixed-path
  guard is per-engine-instance and cannot see cross-process appends).
- ``GET /summary?kind=topk|quantile|state|theta[&name=][&keys=a,b]
  [&quantiles=0.5,0.95][&k=][&overlap_key=][&overlap_k=]``: serve a
  facade-managed streaming summary store's
  merged estimates over HTTP — kind-inapplicable knobs and
  store-not-started errors map to 400 like /sql.

Implementation notes: ``ThreadingHTTPServer`` on a daemon thread; the
Spark driver is shared (py4j is thread-safe) and every request funnels
into the same engine the REPL/batch surfaces use — one storage, many
protocols. No third-party web framework (stdlib only, like the rest of
the repo's non-Spark surface).
"""

from __future__ import annotations

import json
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlparse

from .api import TimeseriesEngine

_ROW_FIELDS = ("sensor_name", "timestamp", "value", "fc1_flag", "timeseries_id")


def _json_default(o):
    """JSON fallback for /sql results: exact SQL DECIMALs surface as
    numbers, everything else non-native (timestamps, dates, bytes)
    as its string form."""
    import decimal

    if isinstance(o, decimal.Decimal):
        return float(o)
    return str(o)


class TelemetryHttpServer:
    """Serve the reference's two warp routes over a TimeseriesEngine.

    ``port=0`` binds an ephemeral port; read ``self.port`` after
    ``start()`` (tests). ``base_url`` is what the reference client's
    ``BASE_URL`` should be set to.
    """

    def __init__(
        self,
        engine: TimeseriesEngine,
        host: str = "127.0.0.1",
        port: int = 8000,
        max_query_rows: int = 100_000,
    ) -> None:
        self.engine = engine
        self.host = host
        self.port = port
        #: Row cap of every read route. The reference serializes its whole
        #: result Vec (main.rs:374) but its storage is hard-capped at 3,900
        #: rows (main.rs:21), so an unbounded reply is safe *there*; this
        #: engine has no storage cap, so the routes bound driver memory:
        #: rows are pulled via ``toLocalIterator()`` (one partition at a
        #: time, never a full collect) and a result wider than the cap
        #: gets a 413 instead of an OOM. /query_by_id and /sql also put
        #: the bound into the plan (a limit of cap + 1 rows, a top-k over
        #: an ordered result), so Spark never sorts or ships more than
        #: the 413 check reads.
        self.max_query_rows = max_query_rows
        self._httpd: ThreadingHTTPServer | None = None
        self._thread: threading.Thread | None = None

    @property
    def base_url(self) -> str:
        return f"http://{self.host}:{self.port}"

    def start(self) -> "TelemetryHttpServer":
        engine = self.engine
        max_query_rows = self.max_query_rows

        class Handler(BaseHTTPRequestHandler):
            def log_message(self, *a):  # quiet test output
                pass

            def _reply(self, code: int, body: bytes, ctype: str) -> None:
                self.send_response(code)
                self.send_header("Content-Type", ctype)
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

            def do_POST(self) -> None:
                path = urlparse(self.path).path
                if path == "/sql":
                    self._do_sql()
                    return
                if path != "/telemetry":
                    self._reply(404, b"Not Found", "text/plain")
                    return
                length = int(self.headers.get("Content-Length", 0))
                try:
                    data = json.loads(self.rfile.read(length))
                    row = {k: data.get(k) for k in _ROW_FIELDS}
                except (json.JSONDecodeError, AttributeError):
                    self._reply(400, b"Bad Request", "text/plain")
                    return
                try:
                    engine.ingest_rows([row])
                except RuntimeError:
                    # quota guard ≙ the reference's fixed-capacity table
                    # (main.rs:353-356)
                    self._reply(500, b"Table Full", "text/plain")
                    return
                except (ValueError, TypeError) as e:
                    # a row the ingest schema rejects
                    self._reply(
                        400,
                        f"Bad Request: {type(e).__name__}: {e}"[:2000].encode(),
                        "text/plain",
                    )
                    return
                self._reply(200, b"Inserted", "text/plain")

            def _reply_rows(self, build, too_large: str, shape,
                            error: str) -> None:
                """Reply the rows of the frame ``build()`` returns as a
                JSON array, each shaped by ``shape``. Rows are pulled
                with ``toLocalIterator`` (one partition at a time,
                never a full collect); past ``max_query_rows`` rows the
                reply is ``413 too_large``. A failure while building
                the frame or executing it (analysis errors, ANSI
                runtime errors, corrupt files) replies ``400
                "<error>: <type>: <message>"``, never a dropped socket
                from an uncaught handler exception."""
                payload = []
                try:
                    for r in build().toLocalIterator():
                        if len(payload) >= max_query_rows:
                            self._reply(
                                413, too_large.encode(), "text/plain"
                            )
                            return
                        payload.append(shape(r))
                except Exception as e:
                    self._reply(
                        400,
                        f"{error}: {type(e).__name__}: {e}"[:2000].encode(),
                        "text/plain",
                    )
                    return
                self._reply(
                    200,
                    json.dumps(payload, default=_json_default).encode(),
                    "application/json",
                )

            def _do_sql(self) -> None:
                from .sql_ext import is_query_statement

                length = int(self.headers.get("Content-Length", 0))
                try:
                    body = json.loads(self.rfile.read(length))
                    query = body["query"]
                    assert isinstance(query, str) and query.strip()
                except (json.JSONDecodeError, AssertionError, KeyError,
                        TypeError, AttributeError):
                    self._reply(400, b"Bad Request", "text/plain")
                    return
                # read-only gate BEFORE the dialect sees the text:
                # spark.sql executes DDL/DML eagerly, so DROP/INSERT/
                # CREATE must never reach it from the network surface
                # (a far larger write surface than the
                # reference's insert+bounded-read routes)
                if not is_query_statement(query):
                    self._reply(
                        400,
                        b"SQL Error: only query statements "
                        b"(SELECT/WITH/VALUES) are accepted",
                        "text/plain",
                    )
                    return
                self._reply_rows(
                    lambda: engine.sql(query, limit=max_query_rows + 1),
                    f"Result Too Large: > {max_query_rows} rows; add a LIMIT",
                    lambda r: r.asDict(recursive=True),
                    "SQL Error",
                )

            def do_GET(self) -> None:
                url = urlparse(self.path)
                qs = parse_qs(url.query)
                if url.path == "/summary":
                    # capability extension: serve a facade-managed summary
                    # store over HTTP, so the four streaming stores
                    # the facade can START (start_summary_store) are
                    # also READABLE without Python access — the
                    # /latest pattern applied to the merged-sketch
                    # estimates. ?kind= selects the store
                    # (topk|quantile|state|theta), optional ?name=
                    # the named instance; kind-specific knobs map
                    # 1:1 onto engine.serve_summary, which RAISES on
                    # knobs the kind cannot honor — that,
                    # a malformed knob and the store's own
                    # not-started-yet errors map to 400 like /sql.
                    # Output is O(stored cells).
                    kind = qs.get("kind", [None])[0]
                    if not kind:
                        self._reply(
                            400, b"Bad Request: kind is required",
                            "text/plain",
                        )
                        return

                    def summary():
                        kwargs = {}
                        if "keys" in qs:
                            kwargs["keys"] = [
                                c for c in qs["keys"][0].split(",") if c
                            ]
                        if "quantiles" in qs:
                            kwargs["quantiles"] = tuple(
                                float(x)
                                for x in qs["quantiles"][0].split(",")
                            )
                        if "k" in qs:
                            kwargs["k"] = int(qs["k"][0])
                        if "overlap_key" in qs:
                            kwargs["overlap_key"] = qs["overlap_key"][0]
                        if "overlap_k" in qs:
                            kwargs["overlap_k"] = int(qs["overlap_k"][0])
                        return engine.serve_summary(
                            kind, name=qs.get("name", [None])[0], **kwargs
                        )

                    self._reply_rows(
                        summary,
                        f"Result Too Large: > {max_query_rows} cells",
                        lambda r: r.asDict(recursive=True),
                        "Query Error",
                    )
                    return
                if url.path == "/latest":
                    # capability extension: current state —
                    # latest row per series. engine.latest()
                    # serves the streaming last-value SNAPSHOT when one
                    # is committed (O(#series), no history scan — the
                    # route a dashboard polls must not pay the
                    # full-scan anti-query), falling back to the batch
                    # argmax otherwise. Optional ?timeseries_id=
                    # narrows to one series (the "what is sensor X
                    # now" point read, a one-job top-1). Output is one
                    # row per series, so the row cap bounds driver
                    # memory.
                    sid = qs.get("timeseries_id", [None])[0]
                    # ?prefer_snapshot=false: the
                    # _batch_ingested mixed-path guard is per-engine-
                    # instance, so a warehouse some OTHER process
                    # batch-appends into can serve a stale streaming
                    # snapshot with no HTTP-reachable remediation —
                    # this opt-in forwards the correct-anywhere batch
                    # scan to such deployments without code changes.
                    # Anything except an explicit false/0/no keeps the
                    # snapshot-preferring default.
                    prefer = qs.get("prefer_snapshot", ["true"])[0]
                    prefer_snapshot = prefer.strip().lower() not in (
                        "false", "0", "no",
                    )
                    self._reply_rows(
                        lambda: engine.latest(
                            prefer_snapshot=prefer_snapshot,
                            timeseries_id=sid,
                        ),
                        f"Result Too Large: > {max_query_rows} series",
                        lambda r: {
                            "timeseries_id": r.timeseries_id,
                            "sensor_name": r.sensor_name,
                            "timestamp": r.ts_raw,
                            "value": r.value,
                            "fc1_flag": r.fc1_flag,
                        },
                        "Query Error",
                    )
                    return
                if url.path != "/query_by_id":
                    self._reply(404, b"Not Found", "text/plain")
                    return
                try:
                    sid = qs["timeseries_id"][0]
                    start, end = qs["start_time"][0], qs["end_time"][0]
                except (KeyError, IndexError):
                    self._reply(400, b"Bad Request", "text/plain")
                    return
                self._reply_rows(
                    lambda: engine.query_by_id(
                        sid, start, end, limit=max_query_rows + 1
                    ),
                    f"Result Too Large: > {max_query_rows} rows; "
                    "narrow the time range",
                    lambda r: {
                        "sensor_name": r.sensor_name,
                        # the reference serializes the stored raw string
                        "timestamp": r.ts_raw,
                        "value": r.value,
                        "fc1_flag": r.fc1_flag,
                        "timeseries_id": r.timeseries_id,
                    },
                    "Query Error",
                )

        self._httpd = ThreadingHTTPServer((self.host, self.port), Handler)
        self.port = self._httpd.server_address[1]
        self._thread = threading.Thread(
            target=self._httpd.serve_forever, daemon=True
        )
        self._thread.start()
        return self

    def stop(self) -> None:
        if self._httpd is not None:
            self._httpd.shutdown()
            self._httpd.server_close()
            self._httpd = None
        if self._thread is not None:
            self._thread.join(timeout=5)
            self._thread = None
