"""Engine-facade doors for the four streaming summary stores:
``api.TimeseriesEngine`` can start,
serve, and compact the topk / quantile / state-duration / Theta
stores from the telemetry drop directory without importing streaming
modules — one start→serve→compact cycle per kind, values checked
against the raw rows. The store PROTOCOLS themselves (CAS manifests,
replay idempotence, fold semantics) are pinned in the per-store
suites (tests/test_streaming_{sketch,quantile,state,theta}.py and
test_store_cas.py); this file covers only the facade wiring."""

from __future__ import annotations

import json
import os

import pytest

from rusty_timeseries_db_spark.api import TimeseriesEngine

SERIES = "ahu1/sat"
OTHER = "ahu2/sat"

#: telemetry rows shaped for every store kind at once: repeated
#: values (topk), a numeric spread (quantile), fc1_flag transitions
#: over increasing timestamps (state — flags 1/2 only: flag 0
#: normalizes to NULL by the reference's Some(0)==None contract),
#: and two sensor names per series (theta membership).
ROWS = [
    # series a: flag 1 for 10s, then flag 2 for 20s
    {"sensor_name": "s1", "timestamp": "2024-08-28T12:00:00Z",
     "value": 1.0, "fc1_flag": 1, "timeseries_id": SERIES},
    {"sensor_name": "s2", "timestamp": "2024-08-28T12:00:10Z",
     "value": 2.0, "fc1_flag": 2, "timeseries_id": SERIES},
    {"sensor_name": "s1", "timestamp": "2024-08-28T12:00:30Z",
     "value": 2.0, "fc1_flag": 2, "timeseries_id": SERIES},
    # series b: flag 1 throughout (one 20s interval)
    {"sensor_name": "s3", "timestamp": "2024-08-28T12:00:00Z",
     "value": 5.0, "fc1_flag": 1, "timeseries_id": OTHER},
    {"sensor_name": "s3", "timestamp": "2024-08-28T12:00:20Z",
     "value": 5.0, "fc1_flag": 1, "timeseries_id": OTHER},
]


def _drop_dir(tmp_path) -> str:
    src = str(tmp_path / "drop")
    os.makedirs(src, exist_ok=True)
    with open(os.path.join(src, "b1.jsonl"), "w") as f:
        for r in ROWS[:3]:
            f.write(json.dumps(r) + "\n")
    with open(os.path.join(src, "b2.jsonl"), "w") as f:
        for r in ROWS[3:]:
            f.write(json.dumps(r) + "\n")
    return src


def _engine(spark, tmp_path) -> TimeseriesEngine:
    return TimeseriesEngine(spark, str(tmp_path / "wh"))


def _run(q):
    q.awaitTermination(180)


def test_topk_store_cycle(spark, tmp_path):
    eng = _engine(spark, tmp_path)
    src = _drop_dir(tmp_path)
    _run(eng.start_summary_store(src, "topk", available_now=True))
    got = {
        (r.timeseries_id, r.value): r.count_lo
        for r in eng.serve_summary("topk").collect()
    }
    # exact integer heavy hitters (k far above the value cardinality)
    assert got == {
        (SERIES, 1.0): 1, (SERIES, 2.0): 2, (OTHER, 5.0): 2,
    }
    assert eng.compact_summary_store("topk") >= 1
    after = {
        (r.timeseries_id, r.value): r.count_lo
        for r in eng.serve_summary("topk").collect()
    }
    assert after == got  # fold is exact — served table bit-identical


def test_quantile_store_cycle(spark, tmp_path):
    eng = _engine(spark, tmp_path)
    src = _drop_dir(tmp_path)
    _run(eng.start_summary_store(src, "quantile", available_now=True))
    rows = {
        r.timeseries_id: r
        for r in eng.serve_summary(
            "quantile", quantiles=(0.5,)
        ).collect()
    }
    assert rows[SERIES].n_rows == 3 and rows[OTHER].n_rows == 2
    assert rows[SERIES].p50 in (1.0, 2.0)  # tiny KLL: exact members
    assert rows[OTHER].p50 == 5.0
    assert eng.compact_summary_store("quantile") >= 1
    after = {
        r.timeseries_id: r
        for r in eng.serve_summary(
            "quantile", quantiles=(0.5,)
        ).collect()
    }
    assert {k: v.n_rows for k, v in after.items()} == {
        k: v.n_rows for k, v in rows.items()
    }


def test_state_store_cycle(spark, tmp_path):
    eng = _engine(spark, tmp_path)
    src = _drop_dir(tmp_path)
    _run(
        eng.start_summary_store(
            src, "state", keys=["timeseries_id"], value_col="fc1_flag",
            available_now=True,
        )
    )
    got = {
        (r.timeseries_id, r.state): (r.state_us, r.n_intervals)
        for r in eng.serve_summary("state").collect()
    }
    # hand-computed residence: a = 10s in flag 1 + 20s in flag 2;
    # b = 20s in flag 1 (each from consecutive-event intervals)
    assert got == {
        (SERIES, "1"): (10_000_000, 1),
        (SERIES, "2"): (20_000_000, 1),
        (OTHER, "1"): (20_000_000, 1),
    } or got == {
        (SERIES, 1): (10_000_000, 1),
        (SERIES, 2): (20_000_000, 1),
        (OTHER, 1): (20_000_000, 1),
    }
    eng.compact_summary_store("state")
    after = {
        (r.timeseries_id, r.state): (r.state_us, r.n_intervals)
        for r in eng.serve_summary("state").collect()
    }
    assert after == got


def test_theta_store_cycle_and_overlap(spark, tmp_path):
    eng = _engine(spark, tmp_path)
    src = _drop_dir(tmp_path)
    _run(
        eng.start_summary_store(
            src, "theta", value_col="sensor_name", available_now=True,
        )
    )
    got = {
        r.timeseries_id: (r.n_rows, r.distinct_est)
        for r in eng.serve_summary("theta").collect()
    }
    # tiny sets: Theta estimates are exact — a has sensors {s1, s2},
    # b has {s3}
    assert got == {SERIES: (3, 2), OTHER: (2, 1)}
    ov = eng.serve_summary(
        "theta", overlap_key="timeseries_id"
    ).collect()
    assert len(ov) == 1  # one unordered pair of segments
    assert eng.compact_summary_store("theta") >= 1
    after = {
        r.timeseries_id: (r.n_rows, r.distinct_est)
        for r in eng.serve_summary("theta").collect()
    }
    assert after == got


def test_facade_guards(spark, tmp_path):
    eng = _engine(spark, tmp_path)
    with pytest.raises(ValueError, match="unknown summary-store kind"):
        eng.summary_store_path("hll")
    with pytest.raises(ValueError, match="ONE key column"):
        eng.start_summary_store(
            str(tmp_path / "nope"), "state",
            keys=["timeseries_id", "sensor_name"],
        )
    with pytest.raises(FileNotFoundError, match="start the sink"):
        eng.serve_summary("topk")
    # named stores land at the documented module-reachable path
    assert eng.summary_store_path("topk", "foo").endswith("summary_topk_foo")


def test_named_store_reachable_from_module_api(spark, tmp_path):
    """The docstring's interop claim: a facade-started NAMED store is
    the same on-disk layout the raw streaming-module functions accept,
    so module-level serve/compact work on the facade's path (and the
    facade can serve stores the module created there)."""
    from rusty_timeseries_db_spark.streaming.sketch import (
        compact_topk_sketch,
        serve_topk,
    )

    eng = _engine(spark, tmp_path)
    src = _drop_dir(tmp_path)
    _run(
        eng.start_summary_store(src, "topk", name="hot", available_now=True)
    )
    path = eng.summary_store_path("topk", "hot")
    via_module = {
        (r.timeseries_id, r.value): r.count_lo
        for r in serve_topk(spark, path, ["timeseries_id"]).collect()
    }
    via_facade = {
        (r.timeseries_id, r.value): r.count_lo
        for r in eng.serve_summary("topk", name="hot").collect()
    }
    assert via_module == via_facade and via_module
    # module-level compact on the facade path, facade serve unchanged
    assert compact_topk_sketch(spark, path) >= 1
    assert {
        (r.timeseries_id, r.value): r.count_lo
        for r in eng.serve_summary("topk", name="hot").collect()
    } == via_facade
    # the default-name store was never created — honest error
    import pytest as _pytest

    with _pytest.raises(FileNotFoundError, match="start the sink"):
        eng.serve_summary("topk")


def test_same_name_across_kinds_no_collision(spark, tmp_path):
    """The store path and the streaming checkpoint both
    key on kind + name, so a topk store and a quantile store sharing
    a name neither share a directory nor — the silent killer — a
    checkpoint whose source offsets would make the second sink skip
    every file the first already processed (serving then fails with
    'every applied batch was empty' despite a healthy-looking run)."""
    eng = _engine(spark, tmp_path)
    src = _drop_dir(tmp_path)
    assert eng.summary_store_path("topk", "x") != eng.summary_store_path(
        "quantile", "x"
    )
    _run(eng.start_summary_store(src, "topk", name="x", available_now=True))
    # second kind, same name, same source files: must process them all
    _run(
        eng.start_summary_store(
            src, "quantile", name="x", available_now=True
        )
    )
    topk = {
        (r.timeseries_id, r.value): r.count_lo
        for r in eng.serve_summary("topk", name="x").collect()
    }
    quant = {
        r.timeseries_id: r.n_rows
        for r in eng.serve_summary(
            "quantile", name="x", quantiles=(0.5,)
        ).collect()
    }
    assert topk and quant[SERIES] == 3 and quant[OTHER] == 2


def test_serve_summary_rejects_inapplicable_knobs(spark, tmp_path):
    """A knob the selected kind cannot honor raises
    instead of silently returning differently-shaped output."""
    eng = _engine(spark, tmp_path)
    for kind, kwargs in [
        ("state", {"keys": ["timeseries_id"]}),
        ("state", {"quantiles": (0.5,)}),
        ("topk", {"quantiles": (0.5,)}),
        ("topk", {"overlap_key": "timeseries_id"}),
        ("quantile", {"k": 4}),
        ("quantile", {"overlap_k": 3}),
        ("theta", {"quantiles": (0.5,)}),
        ("theta", {"k": 4}),
    ]:
        with pytest.raises(ValueError, match="cannot honor"):
            eng.serve_summary(kind, **kwargs)
    # keys + overlap_key together on theta: overlap mode ignores keys
    with pytest.raises(ValueError, match="one or the other"):
        eng.serve_summary(
            "theta", keys=["timeseries_id"], overlap_key="timeseries_id"
        )


def test_serve_summary_rejects_degenerate_knob_values(spark, tmp_path):
    """overlap_k without overlap_key is the same
    silent-drop class the knob validation exists to stop (it only
    means anything in overlap mode), and falsy-but-explicit values
    (quantiles=(), overlap_k=0) must not silently fall through an
    ``or``-default into the defaults the caller did not ask for."""
    eng = _engine(spark, tmp_path)
    # overlap_k alone on theta: would be silently ignored by the
    # plain serve_theta branch
    with pytest.raises(ValueError, match="only applies with"):
        eng.serve_summary("theta", overlap_k=3)
    # explicit empty quantiles: previously served (0.5, 0.95, 0.99)
    with pytest.raises(ValueError, match="non-empty"):
        eng.serve_summary("quantile", quantiles=())
    # overlap_k below the pairwise floor: previously became 2 via
    # `overlap_k or 2`
    for bad_k in (0, 1):
        with pytest.raises(ValueError, match=">= 2"):
            eng.serve_summary(
                "theta", overlap_key="timeseries_id", overlap_k=bad_k
            )
