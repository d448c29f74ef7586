"""In-memory tracing for the benchmark's traced run (``--trace 1``).

The program is not changed: spans are recorded around the calls the
benchmark makes into each layer's public functions.

- ``EngineProxy`` stands in for the ``TimeseriesEngine`` that the HTTP
  server and the in-process clients call. Each call gets a span and its
  own Spark job group, set in the calling thread, so the jobs a server
  handler runs while it iterates the returned frame count against it.
- ``wrap_module_function`` wraps ``queries.T`` and ``sql_ext.sql`` the
  same way.
- ``Tracer.group_counters`` reads job, stage, task, shuffle and spill
  totals per job group from Spark's status store, which exists with the
  UI off. The session must retain every job of the run
  (``spark.ui.retainedJobs``/``retainedStages``).

A span is ``{id, name, start, end, parent, rid, group, ...attrs}``. The
spans of one client request share its ``rid``, which the client sends as
the ``X-Request-Id`` header; the engine-side span's ``parent`` is that id.
Work the benchmark itself does inside a span (counting files, listing a
plan's inputs) is timed as the span's ``probe_s``, which ``layers.py``
subtracts from the engine's time.
"""

from __future__ import annotations

import contextlib
import itertools
import os
import sys
import threading
import time
from http.server import BaseHTTPRequestHandler

JOB_GROUP_PROP = "spark.jobGroup.id"


class Tracer:
    def __init__(self, spark, enabled: bool = False) -> None:
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._open = threading.local()  # this thread's stack of open span ids

    def new_group(self, name: str) -> str:
        return f"{name}#{next(self._ids)}"

    # ------------------------------------------------------------ spans
    def begin(self, name: str, parent=None, rid=None, group: str | None = None, **attrs) -> dict:
        """Open a span; its parent defaults to the innermost span open in
        this thread. With ``group``, jobs this thread starts until ``end``
        run in that Spark job group."""
        stack = self._open.__dict__.setdefault("ids", [])
        if parent is None and stack:
            parent = stack[-1]
        rec = {"id": next(self._ids), "name": name, "parent": parent,
               "rid": rid, "group": group, **attrs}
        stack.append(rec["id"])
        if group:
            rec["_prev_group"] = self.sc.getLocalProperty(JOB_GROUP_PROP)
            self.sc.setJobGroup(group, name)
        rec["start"] = time.perf_counter()
        return rec

    def end(self, rec: dict) -> None:
        rec["end"] = time.perf_counter()
        stack = self._open.__dict__.get("ids", [])
        if rec["id"] in stack:
            stack.remove(rec["id"])
        if "_prev_group" in rec:
            self.sc.setLocalProperty(JOB_GROUP_PROP, rec.pop("_prev_group"))
        with self._lock:
            self.spans.append(rec)

    @contextlib.contextmanager
    def span(self, name: str, **kw):
        if not self.enabled:
            yield {}
            return
        rec = self.begin(name, **kw)
        try:
            yield rec
        finally:
            self.end(rec)

    # ---------------------------------------------------- Spark counters
    def group_counters(self, groups) -> dict[str, dict]:
        """Per job group: jobs, stages run (skipped ones excluded), tasks,
        shuffle read/write bytes and bytes spilled to disk."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty(30_000)
        stages = {}
        no_quantiles = self.sc._gateway.new_array(self.sc._jvm.double, 0)
        it = jsc.statusStore().stageList(None, False, False, no_quantiles, None).iterator()
        while it.hasNext():
            sd = it.next()
            if str(sd.status()) == "SKIPPED":
                continue
            stages[sd.stageId()] = (
                sd.numCompleteTasks(), sd.shuffleReadBytes(),
                sd.shuffleWriteBytes(), sd.diskBytesSpilled(),
            )
        tracker = self.sc.statusTracker()
        out = {}
        for g in groups:
            jobs = tracker.getJobIdsForGroup(g)
            stage_ids = set()
            for j in jobs:
                info = tracker.getJobInfo(j)
                if info is not None:
                    stage_ids.update(info.stageIds)
            rows = [stages[s] for s in stage_ids if s in stages]
            out[g] = {
                "jobs": len(jobs),
                "stages": len(rows),
                "tasks": sum(r[0] for r in rows),
                "shuffle_read_bytes": sum(r[1] for r in rows),
                "shuffle_write_bytes": sum(r[2] for r in rows),
                "spill_bytes": sum(r[3] for r in rows),
            }
        return out


def request_id():
    """The ``X-Request-Id`` of the HTTP request this thread is serving,
    read from the handler frame that called into the engine."""
    f = sys._getframe(1)
    while f is not None:
        h = f.f_locals.get("self")
        if isinstance(h, BaseHTTPRequestHandler):
            return h.headers.get("X-Request-Id")
        f = f.f_back
    return None


def dir_stats(path: str) -> tuple[int, int]:
    """(parquet files, bytes of every file) under ``path``."""
    files = size = 0
    for root, _, names in os.walk(path):
        for n in names:
            files += n.endswith(".parquet")
            size += os.path.getsize(os.path.join(root, n))
    return files, size


class _TracedFrame:
    """A DataFrame whose ``toLocalIterator`` calls ``on_done`` once the
    caller has consumed or abandoned the rows."""

    def __init__(self, df, on_done) -> None:
        self._df = df
        self._on_done = on_done

    def __getattr__(self, name):
        return getattr(self._df, name)

    def toLocalIterator(self, *a, **kw):
        try:
            yield from self._df.toLocalIterator(*a, **kw)
        finally:
            self._on_done()


class EngineProxy:
    """Traces calls into a ``TimeseriesEngine``; every other attribute
    passes through. A ``query_by_id`` plan's input files are counted on
    every ``FILES_SAMPLE_EVERY``-th call."""

    _FRAME_METHODS = ("query_by_id", "latest")
    _WRITE_METHODS = ("ingest_rows", "ingest_df")

    FILES_SAMPLE_EVERY = 4

    def __init__(self, engine, tracer: Tracer) -> None:
        self._engine = engine
        self._tracer = tracer
        self._reads = itertools.count()

    def __getattr__(self, name):
        attr = getattr(self._engine, name)
        if not self._tracer.enabled:
            return attr
        if name in self._FRAME_METHODS:
            return lambda *a, **kw: self._frame_call(name, attr, a, kw)
        if name in self._WRITE_METHODS:
            return lambda *a, **kw: self._write_call(name, attr, a, kw)
        return attr

    def _frame_call(self, name, fn, a, kw):
        tr = self._tracer
        rid = request_id()
        rec = tr.begin(f"api.{name}", parent=rid, rid=rid, group=tr.new_group(f"api.{name}"))
        try:
            df = fn(*a, **kw)
            if name == "query_by_id" and next(self._reads) % self.FILES_SAMPLE_EVERY == 0:
                t = time.perf_counter()
                rec["files_scanned"] = len(df.inputFiles())
                rec["probe_s"] = time.perf_counter() - t
        except BaseException:
            tr.end(rec)
            raise
        return _TracedFrame(df, lambda: tr.end(rec))

    def _write_call(self, name, fn, a, kw):
        tr = self._tracer
        rid = request_id()
        wh = self._engine.warehouse_dir
        with tr.span(f"api.{name}", parent=rid, rid=rid, group=tr.new_group(f"api.{name}")) as rec:
            t = time.perf_counter()
            before = dir_stats(wh)
            probe = time.perf_counter() - t
            out = fn(*a, **kw)
            t = time.perf_counter()
            after = dir_stats(wh)
            rec["probe_s"] = probe + time.perf_counter() - t
        rec["files_added"] = after[0] - before[0]
        rec["bytes_added"] = after[1] - before[1]
        return out


def wrap_module_function(module, name: str, tracer: Tracer, frame_result: bool = False):
    """Replace ``module.<name>`` with a traced wrapper; returns a callable
    that restores it. Callers that look the name up at call time
    (``queries.T`` inside ``queries``, ``sql_ext.sql`` in the server's
    ``/sql`` handler) go through the wrapper. With ``frame_result`` the
    returned frame's iteration is traced as ``<span>.exec`` in the same
    job group, so the handler's execution jobs count against the call."""
    orig = getattr(module, name)
    span_name = f"{module.__name__.rsplit('.', 1)[-1]}.{name}"

    def wrapper(*a, **kw):
        if not tracer.enabled:
            return orig(*a, **kw)
        rid = request_id()
        group = tracer.new_group(span_name)
        rec = tracer.begin(span_name, parent=rid, rid=rid, group=group)
        try:
            out = orig(*a, **kw)
        except BaseException:
            tracer.end(rec)
            raise
        if not frame_result:
            tracer.end(rec)
            return out
        rec.pop("_prev_group")  # the group stays set until the exec span ends
        tracer.end(rec)
        exec_rec = tracer.begin(f"{span_name}.exec", parent=rid, rid=rid)
        exec_rec["group"] = group

        def done():
            tracer.end(exec_rec)
            tracer.sc.setLocalProperty(JOB_GROUP_PROP, None)

        return _TracedFrame(out, done)

    setattr(module, name, wrapper)
    return lambda: setattr(module, name, orig)
