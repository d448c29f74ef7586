"""The benchmark's workloads.

Each workload is a function of a ``Run``: it sets up (several times, for
a median ``setup_s``), warms up untimed, then calls ``run.measure`` with
a function that drives closed-loop clients (each waits for its reply)
until the phase's deadline and minimum op count. Every op is checked;
see ``timed``.

- ``analytic_suite``: one in-process client. Headline queries from
  ``bench.py`` are built through ``queries`` and run to the noop sink in
  a seed-permuted order. After each query the client appends one
  six-hour slice of the seeded ``events`` table to an engine warehouse
  with ``ingest_df(dense_seq=False)``, the bulk path ``bench.py``'s
  serving entries use, so that the run has writes to time.
- ``serve_reads``: ``TelemetryHttpServer`` over a seeded warehouse of
  ``SERVE_SERIES`` x ``SERVE_POINTS`` rows, served by a fresh engine as a
  server process would be. One reader client sends seeded one-day
  ``/query_by_id`` windows, ``/latest?timeseries_id=`` point reads and
  ``POST /sql`` aggregates, each checked against the generator. Beside
  it one writer client inserts single rows into its own series with
  ``POST /telemetry``; at the end every written row is read back.
"""

from __future__ import annotations

import itertools
import json
import os
import random
import shutil
import threading
import time
import urllib.error
import urllib.parse
import urllib.request

import datagen
from tracing import dir_stats

#: Headline queries timed by ``analytic_suite``: one or two per operator
#: family (aggregate, join, TPC-H shapes, windows, time-series, SQL
#: dialect, text, vectors), all with a DuckDB oracle, all well under a
#: second once warm.
QUERY_SET = [
    "q_agg_pricing_summary",
    "q_tpch_q3_shipping_priority",
    "q_tumbling_window",
    "q_session_window",
    "q_asof_sql",
    "q_ohlc_bars",
    "q_tfidf_top_terms",
    "q_similarity_bruteforce",
]
#: Whole passes over ``QUERY_SET`` a phase runs at least, so every run
#: times the same op mix: 24 queries and 24 writes.
MIN_PASSES = 3
#: Untimed ``ingest_df`` writes after the oracle checks, before timing.
WARM_INGESTS = 2

#: ``serve_reads`` warehouse: 500 series of 7 days of 5-minute points,
#: 1,008,000 rows. Bulk-loaded it is about 12.7 MB of parquet for 53 MB
#: of user rows.
SERVE_SERIES, SERVE_POINTS = 500, 7 * 288
SERVE_READERS = 1
#: Readers during the untimed warm-up, which lasts while the writer makes
#: ``WARM_WRITES`` inserts. More readers than in the measured phase warm
#: the read path with more requests in the same time.
WARM_READERS, WARM_WRITES = 2, 2
#: Inserts a phase makes at least. An insert takes about 1.5 s, so the
#: 21 a write tail needs would take 30 s, more than the run budget
#: allows; the phase's length is ``--seconds`` and the write tail is
#: reported as the median, marked ``enough: false``.
MIN_WRITES = 10
#: The traffic parameters below are assumptions, not measurements of this
#: engine's users. Series popularity is Zipfian with YCSB's default
#: constant 0.99, and the day a window reads is Zipfian over recency
#: (newest day most likely), like YCSB's "latest" distribution (Cooper et
#: al., SoCC 2010). The read mix follows the ordering the benchmark's
#: design asks for (mostly windows, some point reads, some SQL): the
#: reader deals its ops from seed-shuffled decks of ``READ_MIX``, so any
#: nine reads in a row hold every kind.
ZIPF_S = 0.99
READ_MIX = {"window": 3, "latest": 1, "sql": 1}


def timed(ops: list, kind: str, cls: str, fn, rid=None, user_bytes: int = 0, **attrs) -> bool:
    """Run ``fn()`` (which returns whether the output checked out), time
    it and append the op ``{kind, cls: read|write, lat, ok, rid,
    user_bytes, ...}``. An exception counts as a failed op."""
    t = time.perf_counter()
    try:
        ok = bool(fn())
        err = None
    except Exception as e:  # a failing op is a measurement, not a crash
        ok, err = False, f"{type(e).__name__}: {str(e)[:300]}"
    op = dict(kind=kind, cls=cls, lat=time.perf_counter() - t, ok=ok, rid=rid,
              user_bytes=user_bytes, **attrs)
    if err:
        op["error"] = err
    ops.append(op)
    return ok


# ------------------------------------------------------------ analytic_suite

def analytic_suite(run) -> None:
    from pyspark.sql import functions as F

    import bench
    from rusty_timeseries_db_spark import oracle, queries
    from rusty_timeseries_db_spark.api import TimeseriesEngine

    qset = QUERY_SET[:3] if run.tiny else QUERY_SET
    missing = set(qset) - set(bench.HEADLINE)
    if missing:
        raise ValueError(f"not headline queries: {sorted(missing)}")
    sf = 0.001 if run.tiny else 0.002
    data = os.path.join(run.work, "data")
    wh = os.path.join(run.work, "warehouse")

    def setup_once():
        run.start_session()
        shutil.rmtree(data, ignore_errors=True)
        datagen.write_analytic_tables(data, run.seed, sf)
        shutil.rmtree(wh, ignore_errors=True)
        return run.traced_engine(TimeseriesEngine(run.spark, wh))

    engine = run.setup(setup_once)
    spark = run.spark
    fns, oracles = queries.all_queries(), queries.all_oracles()

    # one six-hour events slice per write, in the payload shape bench.py ingests
    import pyarrow.parquet as pq

    ev = pq.read_table(os.path.join(data, "events.parquet"), columns=["ts", "user_id", "event_type"]).to_pydict()
    slice_rows: dict[tuple, int] = {}
    slice_bytes: dict[tuple, int] = {}
    for ts, uid, et in zip(ev["ts"], ev["user_id"], ev["event_type"]):
        key = (ts.day, ts.hour // 6)
        slice_rows[key] = slice_rows.get(key, 0) + 1
        slice_bytes[key] = slice_bytes.get(key, 0) + len(et) + 20 + 9 + len(f"series-{uid}")
    events = spark.read.parquet(os.path.join(data, "events.parquet"))

    def events_slice(key):
        day, quarter = key
        return events.filter(
            (F.dayofmonth("ts") == day) & ((F.hour("ts") / 6).cast("int") == quarter)
        ).select(
            F.col("event_type").alias("sensor_name"),
            F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss'Z'").alias("timestamp"),
            F.col("value").cast("double").alias("value"),
            F.lit(None).cast("tinyint").alias("fc1_flag"),
            F.concat(F.lit("series-"), F.col("user_id").cast("string")).alias("timeseries_id"),
        )

    tracer = run.tracer
    ingested = {"bytes": 0}

    def run_query(ops, name):
        rid = f"q{len(ops)}"

        def go():
            with tracer.span("query.build", rid=rid, group=tracer.new_group("query.build"), query=name):
                df = fns[name](spark, data)
            with tracer.span("query.exec", rid=rid, group=tracer.new_group("query.exec"), query=name):
                df.write.format("noop").mode("overwrite").save()
            return True

        timed(ops, "query", "read", go, rid=rid, query=name)

    def run_write(ops, key):
        ok = timed(ops, "ingest_df", "write",
                   lambda: engine.ingest_df(events_slice(key), dense_seq=False) == slice_rows[key],
                   user_bytes=slice_bytes[key], slice=key)
        if ok:
            ingested["bytes"] += slice_bytes[key]

    slices = sorted(slice_rows)
    rng = random.Random(f"{run.seed}-analytic")

    def one_pass(ops):
        for name in rng.sample(qset, len(qset)):
            run_query(ops, name)
            run_write(ops, rng.choice(slices))

    # warm-up: every query checked against its DuckDB oracle on the same
    # tables, then run once to the noop sink, then a few writes. Without
    # the noop runs, queries in the first half of the measured phase ran
    # 20-40% slower than in the second half.
    def warm():
        for name in qset:
            run.check(f"oracle:{name}", lambda: oracle.compare(fns[name](spark, data), oracles[name], data))
        for name in qset:
            run_query(run.warm_ops, name)
        for key in rng.sample(slices, 1 if run.tiny else WARM_INGESTS):
            run_write(run.warm_ops, key)

    run.warm_up(warm)

    def phase(deadline, ops):
        passes = 0
        while passes < run.floor(MIN_PASSES) or time.perf_counter() < deadline:
            one_pass(ops)
            passes += 1

    run.measure(phase, space=lambda: dir_stats(wh)[1] / ingested["bytes"])


# ------------------------------------------------------------- serve_reads

def _zipf_weights(n: int) -> list[float]:
    return [1 / (r + 1) ** ZIPF_S for r in range(n)]


class ServeClients:
    """The clients of ``serve_reads``: ``SERVE_READERS`` readers and one
    writer. Each reader's op sequence is a function of the seed; how many
    ops it gets through in a phase depends on the server's speed."""

    def __init__(self, run, base_url, n_series, n_points) -> None:
        self.run = run
        self.base_url = base_url
        self.seed = run.seed
        self.ns, self.np = n_series, n_points
        self.user_bytes = datagen.base_bytes(n_series, n_points)
        order = list(range(n_series))
        random.Random(f"{run.seed}-popularity").shuffle(order)
        self.series_by_rank = order
        self.series_weights = _zipf_weights(n_series)
        self.n_days = n_points // 288
        self.day_weights = _zipf_weights(self.n_days)  # rank 0 is the newest day
        # (rng, deck) per reader; they carry over from one phase to the next
        self.readers = [(random.Random(f"{run.seed}-reader{i}"), []) for i in range(SERVE_READERS)]
        self.writer_rng = random.Random(f"{run.seed}-writer")
        self.writer_sid = f"bench-writer-{run.seed}"
        self.written: list[dict] = []
        self._rids = itertools.count(1)
        self._rid_lock = threading.Lock()

    # -------------------------------------------------------------- http
    def _next_rid(self) -> str:
        with self._rid_lock:
            return f"r{next(self._rids)}"

    def _http(self, rid, path, body=None):
        req = urllib.request.Request(
            self.base_url + path,
            data=None if body is None else json.dumps(body).encode(),
            headers={"X-Request-Id": rid, "Content-Type": "application/json"},
        )
        try:
            with urllib.request.urlopen(req, timeout=120) as r:
                return r.status, r.read()
        except urllib.error.HTTPError as e:
            return e.code, e.read()

    def _request_checked(self, rid, path, expected, body=None) -> bool:
        code, raw = self._http(rid, path, body)
        if code != 200:
            raise AssertionError(f"HTTP {code}: {raw[:200]!r}")
        got = json.loads(raw)
        if got != expected:
            diff = next((i for i, (a, b) in enumerate(zip(got, expected)) if a != b),
                        min(len(got), len(expected)))
            raise AssertionError(
                f"{len(got)} rows, expected {len(expected)}; first difference at {diff}: "
                f"{got[diff:diff + 1]} != {expected[diff:diff + 1]}")
        return True

    def _read(self, ops, kind, path, expected, body=None):
        rid = self._next_rid()
        timed(ops, kind, "read", lambda: self._request_checked(rid, path, expected, body), rid=rid, path=path)

    @staticmethod
    def _qbid_path(sid, start, end):
        q = urllib.parse.urlencode({"timeseries_id": sid, "start_time": start, "end_time": end})
        return f"/query_by_id?{q}"

    @staticmethod
    def _latest_row(row):
        return {k: row[k] for k in ("timeseries_id", "sensor_name", "timestamp", "value", "fc1_flag")}

    # ------------------------------------------------------------- reads
    def _series(self, rng) -> int:
        return rng.choices(self.series_by_rank, self.series_weights)[0]

    def _day(self, rng) -> int:
        return self.n_days - 1 - rng.choices(range(self.n_days), self.day_weights)[0]

    def _window(self, rng, ops):
        s, d = self._series(rng), self._day(rng)
        date = datagen.iso(d * 288)[:10]
        expected = [datagen.base_row(self.seed, s, k) for k in range(d * 288, (d + 1) * 288)]
        path = self._qbid_path(datagen.series_id(s), f"{date}T00:00:00Z", f"{date}T23:59:59Z")
        self._read(ops, "query_by_id", path, expected)

    def _latest(self, rng, ops):
        s = self._series(rng)
        expected = [self._latest_row(datagen.base_row(self.seed, s, self.np - 1))]
        self._read(ops, "latest", f"/latest?timeseries_id={datagen.series_id(s)}", expected)

    def _sql(self, rng, ops):
        picked = set()
        while len(picked) < min(3, self.ns):
            picked.add(self._series(rng))
        d = self._day(rng)
        k0 = d * 288 + rng.randrange(288 - 72)
        k1 = k0 + 72
        ids = ", ".join(f"'{datagen.series_id(s)}'" for s in sorted(picked))
        query = (
            "SELECT timeseries_id, count(*) AS n, round(sum(value), 3) AS total, "
            f"max(value) AS hi FROM telemetry WHERE timeseries_id IN ({ids}) "
            f"AND ts_raw BETWEEN '{datagen.iso(k0)}' AND '{datagen.iso(k1)}' "
            "GROUP BY timeseries_id ORDER BY timeseries_id"
        )
        expected = []
        for s in sorted(picked):
            vals = [datagen.base_value(self.seed, s, k) for k in range(k0, k1 + 1)]
            expected.append({"timeseries_id": datagen.series_id(s), "n": len(vals),
                             "total": round(sum(vals), 3), "hi": max(vals)})
        self._read(ops, "sql", "/sql", expected, body={"query": query})

    def _reader(self, rng, deck, ops, stop) -> None:
        kinds = {"window": self._window, "latest": self._latest, "sql": self._sql}
        while not stop.is_set():
            if not deck:
                deck += [k for k, n in READ_MIX.items() for _ in range(n)]
                rng.shuffle(deck)
            kinds[deck.pop()](rng, ops)

    # ------------------------------------------------------------ writes
    def _write(self, ops) -> None:
        row = {"sensor_name": "AHU_bench_writer",
               "timestamp": datagen.iso(self.np + len(self.written)),
               "value": round(self.writer_rng.uniform(0, 100), 3), "fc1_flag": None,
               "timeseries_id": self.writer_sid}
        rid = self._next_rid()
        if timed(ops, "telemetry", "write",
                 lambda: self._http(rid, "/telemetry", row) == (200, b"Inserted"),
                 rid=rid, user_bytes=datagen.row_bytes(row)):
            self.written.append(row)
            self.user_bytes += datagen.row_bytes(row)

    def run_phase(self, deadline, ops) -> None:
        """The readers run while the writer makes at least ``MIN_WRITES``
        inserts and the deadline passes."""
        self._run(deadline, ops, self.run.floor(MIN_WRITES), self.readers)

    def warm_up(self, ops) -> None:
        """Untimed: ``WARM_READERS`` readers on every route while the
        writer makes ``WARM_WRITES`` inserts."""
        readers = [(random.Random(f"{self.seed}-warm{i}"), []) for i in range(WARM_READERS)]
        self._run(0, ops, 1 if self.run.tiny else WARM_WRITES, readers)

    def _run(self, deadline, ops, min_writes, readers) -> None:
        stop = threading.Event()
        threads = [threading.Thread(target=self._reader, args=(rng, deck, ops, stop), daemon=True)
                   for rng, deck in readers]
        for t in threads:
            t.start()
        try:
            writes = 0
            while writes < min_writes or time.perf_counter() < deadline:
                self._write(ops)
                writes += 1
        finally:
            stop.set()
            for t in threads:
                t.join()

    def check_written(self) -> None:
        """Every row the writer inserted reads back, in order."""
        rows = self.written
        if not rows:
            self.run.check("readback", lambda: (False, "no row was written"))
            return
        path = self._qbid_path(self.writer_sid, rows[0]["timestamp"], rows[-1]["timestamp"])
        self.run.check("readback:query_by_id",
                       lambda: (self._request_checked(self._next_rid(), path, rows), ""))
        self.run.check("readback:latest", lambda: (self._request_checked(
            self._next_rid(), f"/latest?timeseries_id={self.writer_sid}",
            [self._latest_row(rows[-1])]), ""))


def serve_reads(run) -> None:
    from rusty_timeseries_db_spark.api import TimeseriesEngine
    from rusty_timeseries_db_spark.server import TelemetryHttpServer

    n_series, n_points = (8, 2 * 288) if run.tiny else (SERVE_SERIES, SERVE_POINTS)
    wh = os.path.join(run.work, "warehouse")

    def setup_once():
        run.start_session()
        shutil.rmtree(wh, ignore_errors=True)
        loader = run.traced_engine(TimeseriesEngine(run.spark, wh))
        base = datagen.telemetry_base(run.spark, run.seed, n_series, n_points)
        n = loader.ingest_df(base, dense_seq=False)
        run.check("setup:ingest_df", lambda: (n == n_series * n_points, f"{n} rows"))
        # a fresh engine serves the warehouse, as a server process would
        engine = run.traced_engine(TimeseriesEngine(run.spark, wh))
        engine.register_views()
        return engine

    engine = run.setup(setup_once)
    server = TelemetryHttpServer(engine, port=0).start()
    try:
        clients = ServeClients(run, server.base_url, n_series, n_points)
        run.warm_up(lambda: clients.warm_up(run.warm_ops))

        def space():
            return dir_stats(wh)[1] / clients.user_bytes

        run.measure(clients.run_phase, space=space)
        clients.check_written()
    finally:
        server.stop()


WORKLOADS = {
    "analytic_suite": analytic_suite,
    "serve_reads": serve_reads,
}
