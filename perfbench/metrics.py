"""Reductions from recorded ops to the end-to-end metrics.

The metric names and units are those ``BENCHMARK.json`` lists; ``run.py``
prints the values computed here under those names.
"""

from __future__ import annotations

import statistics

#: Per op kind, the latency above which a passing op still counts as a
#: stall for ``ok_within_limit_frac``. Set well above the steady tail
#: measured on 4 cores, so jitter does not count, stalls do.
LATENCY_LIMIT_S = {
    "query": 10.0,
    "ingest_df": 10.0,
    "query_by_id": 5.0,
    "latest": 5.0,
    "sql": 5.0,
    "telemetry": 6.0,
}

#: The tail is the highest percentile with at least this many samples
#: beyond it.
TAIL_MIN_BEYOND = 10


def median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def mean(xs) -> float:
    return sum(xs) / len(xs) if xs else 0.0


def tail(xs) -> dict:
    """The highest percentile with ``TAIL_MIN_BEYOND`` samples beyond it:
    the 11th-largest sample, at percentile ``100 * (n - 10) / n``. With
    fewer than 21 samples that would not be above the median, so the
    median is given instead, marked ``enough: false``."""
    xs = sorted(xs)
    n = len(xs)
    if not n:
        return {"value": 0.0, "pct": None, "n": 0, "enough": False}
    if n > 2 * TAIL_MIN_BEYOND:
        return {"value": xs[n - 1 - TAIL_MIN_BEYOND],
                "pct": 100 * (n - TAIL_MIN_BEYOND) / n, "n": n, "enough": True}
    return {"value": median(xs), "pct": 50, "n": n, "enough": False}


def end_to_end(ops: list[dict], wall_s: float, setup_s: float, space_amp: float,
               attempted: int, failed: int) -> tuple[dict, dict]:
    """(metric values, detail) from the measured phase's ops. An op is
    ``{kind, cls: read|write, lat, ok}``; latencies count passing ops.
    ``attempted``/``failed`` count every output check of the run (setup
    and warm-up too), so ``success_frac`` includes the oracle checks."""
    lat = {c: [o["lat"] for o in ops if o["cls"] == c and o["ok"]] for c in ("read", "write")}
    ok = [o for o in ops if o["ok"]]
    within = [o for o in ok if o["lat"] <= LATENCY_LIMIT_S[o["kind"]]]
    tails = {c: tail(lat[c]) for c in lat}
    values = {
        "setup_s": setup_s,
        "read_p50_s": median(lat["read"]),
        "read_tail_s": tails["read"]["value"],
        "write_p50_s": median(lat["write"]),
        "write_tail_s": tails["write"]["value"],
        "throughput_per_s": len(ok) / wall_s if wall_s > 0 else 0.0,
        "success_frac": (attempted - failed) / attempted if attempted else 0.0,
        "ok_within_limit_frac": len(within) / len(ops) if ops else 0.0,
        "space_amp": space_amp,
    }
    kinds = sorted({o["kind"] for o in ops})
    detail = {
        "wall_s": wall_s,
        "tails": tails,
        "by_kind": {
            k: {
                "n": sum(1 for o in ops if o["kind"] == k),
                "ok": sum(1 for o in ok if o["kind"] == k),
                "p50_s": median([o["lat"] for o in ok if o["kind"] == k]),
                "lat_s": [round(o["lat"], 4) for o in ops if o["kind"] == k],
            }
            for k in kinds
        },
    }
    return values, detail
