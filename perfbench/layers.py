"""Per-layer metrics of a traced phase (``--trace 1``).

Each metric is a per-op mean over the traced phase unless its unit says
otherwise; a layer a workload does not call reads 0. The spans come from
``tracing``; Spark job/stage/task/shuffle/spill counts come from the job
group each span set.
"""

from __future__ import annotations

from metrics import mean, median, tail

HTTP_KINDS = ("query_by_id", "latest", "sql", "telemetry")


def _dur(s) -> float:
    """The engine's time in a span: its duration less the benchmark's own
    probing inside it."""
    return s["end"] - s["start"] - s.get("probe_s", 0.0)


def per_layer(run, untraced: list[dict], traced: dict) -> tuple[dict, dict]:
    """Per-layer metrics of the ``traced`` phase. ``untraced`` are the
    phases run just before and after it, for ``trace.overhead_frac``."""
    tr = run.tracer
    t0, t1 = traced["t0"], traced["t0"] + traced["wall"]
    spans = [s for s in tr.spans if t0 <= s["start"] <= t1]
    counters = tr.group_counters({s["group"] for s in spans if s.get("group")})

    def named(name):
        return [s for s in spans if s["name"] == name]

    def count(ss, key="jobs"):
        return [counters[s["group"]][key] for s in ss if s.get("group") in counters]

    def per_op(values, n):
        return sum(values) / n if n else 0.0

    v: dict[str, float] = {"session.start_s": median(run.session_starts)}

    builds, execs, ts = named("query.build"), named("query.exec"), named("queries.T")
    nq = len(builds)
    v["queries.build_s"] = mean([_dur(s) for s in builds])
    v["queries.build_jobs"] = per_op(count(builds) + count(ts), nq)
    v["queries.T.calls"] = per_op([1] * len(ts), nq)
    v["queries.T.s"] = per_op([_dur(s) for s in ts], nq)
    v["queries.T.jobs"] = per_op(count(ts), nq)
    v["operators.exec_s"] = mean([_dur(s) for s in execs])
    for key in ("jobs", "stages", "tasks"):
        v[f"operators.exec_{key}"] = mean(count(execs, key))
    for key in ("shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes"):
        v[f"operators.{key}"] = mean(count(execs, key))

    v["sql_ext.sql.s"] = mean([_dur(s) for s in named("sql_ext.sql")])
    for m in ("query_by_id", "latest", "ingest_rows"):
        ss = named(f"api.{m}")
        v[f"api.{m}.s"] = mean([_dur(s) for s in ss])
        v[f"api.{m}.jobs"] = mean(count(ss))
    v["api.files_per_insert"] = mean([s["files_added"] for s in named("api.ingest_rows")])
    written = sum(s["bytes_added"] for m in ("ingest_rows", "ingest_df") for s in named(f"api.{m}"))
    user = sum(o["user_bytes"] for o in traced["ops"] if o["ok"])
    v["api.bytes_written_per_user_byte"] = written / user if user else 0.0
    v["api.files_scanned_per_read"] = mean(
        [s["files_scanned"] for s in named("api.query_by_id") if "files_scanned" in s]
    )
    # setup's bulk loads are traced too, so this covers serve_reads' setup
    v["api.ingest_df.s"] = mean([_dur(s) for s in tr.spans if s["name"] == "api.ingest_df"])

    ops = traced["ops"]
    tails = {}
    for kind in HTTP_KINDS:
        lat = [o["lat"] for o in ops if o["kind"] == kind and o["ok"]]
        tails[kind] = tail(lat)
        v[f"server.{kind}.p50_s"] = median(lat)
        v[f"server.{kind}.tail_s"] = tails[kind]["value"]
        v[f"server.{kind}.n"] = len(lat)

    # client latency less the whole engine spans, probes included: what
    # is left is the server's parsing, JSON, socket and GIL time
    engine_s: dict[str, float] = {}
    for s in spans:
        if s.get("rid") and (s["name"].startswith("api.") or s["name"].startswith("sql_ext.")):
            engine_s[s["rid"]] = engine_s.get(s["rid"], 0.0) + s["end"] - s["start"]
    overhead = [o["lat"] - engine_s[o["rid"]] for o in ops
                if o["kind"] in HTTP_KINDS and o["ok"] and o.get("rid") in engine_s]
    v["server.overhead_s"] = mean(overhead)

    def tput(phase):
        return sum(1 for o in phase["ops"] if o["ok"]) / phase["wall"]

    base = mean([tput(p) for p in untraced])
    v["trace.overhead_frac"] = 1 - tput(traced) / base if base else 0.0

    t_jobs: dict = {}  # T() jobs per enclosing build span
    for s in ts:
        t_jobs[s["parent"]] = t_jobs.get(s["parent"], 0) + counters[s["group"]]["jobs"]
    detail = {
        "untraced_throughput_per_s": [tput(p) for p in untraced],
        "traced_throughput_per_s": tput(traced),
        "server_tails": tails,
        "spans": len(spans),
        # per op, in order: identical at one seed and commit when the
        # program's plans are deterministic
        "query_counts": [
            {"query": b["query"], "build_s": _dur(b), "exec_s": _dur(e),
             "build_jobs": counters[b["group"]]["jobs"] + t_jobs.get(b["id"], 0),
             "exec_jobs": counters[e["group"]]["jobs"],
             "exec_stages": counters[e["group"]]["stages"]}
            for b, e in zip(builds, execs)
        ],
        "api_counts": {
            m: sorted({(counters[s["group"]]["jobs"], counters[s["group"]]["stages"])
                       for s in named(f"api.{m}")})
            for m in ("query_by_id", "latest", "ingest_rows", "ingest_df")
        },
    }
    return v, detail
