"""Streaming windowed aggregation, watermark late-data drop, and
streaming dedup via the memory sink."""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

from rusty_timeseries_db_spark.streaming.ingest import (
    normalized_stream,
    read_telemetry_stream,
    streaming_dedup,
    windowed_series_stats,
)

ROWS = [
    # two 5-min buckets for series s1
    {"sensor_name": "x", "timestamp": "2024-08-28T12:00:10Z", "value": 1.0,
     "fc1_flag": None, "timeseries_id": "s1"},
    {"sensor_name": "x", "timestamp": "2024-08-28T12:01:10Z", "value": 3.0,
     "fc1_flag": None, "timeseries_id": "s1"},
    {"sensor_name": "x", "timestamp": "2024-08-28T12:06:00Z", "value": 5.0,
     "fc1_flag": None, "timeseries_id": "s1"},
]


def _drop(src_dir: str, rows, name: str) -> None:
    os.makedirs(src_dir, exist_ok=True)
    with open(os.path.join(src_dir, name), "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")


def _run_to_memory(spark, df, name: str, mode: str = "append"):
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.sql(f"SELECT * FROM {name}")


def test_windowed_series_stats(spark, tmp_path):
    src = str(tmp_path / "drop")
    _drop(src, ROWS, "b1.jsonl")
    stream = normalized_stream(read_telemetry_stream(spark, src))
    agg = windowed_series_stats(stream, window="5 minutes", watermark="10 minutes")
    # append mode would wait for the watermark to close windows — with
    # availableNow the final watermark (max ts - 10 min) closes none, so
    # assert on the complete-mode result instead
    out = _run_to_memory(spark, agg, "win_stats", mode="complete").collect()
    got = {
        (r.timeseries_id, r.window_start.strftime("%H:%M")): (r.n, r.avg_value)
        for r in out
    }
    assert got[("s1", "12:00")] == (2, 2.0)
    assert got[("s1", "12:05")] == (1, 5.0)


def test_streaming_dedup_drops_duplicate_keys(spark, tmp_path):
    src = str(tmp_path / "drop")
    dup = [ROWS[0], dict(ROWS[0], value=9.9), ROWS[1]]  # same (id, ts) twice
    _drop(src, dup, "b1.jsonl")
    stream = normalized_stream(read_telemetry_stream(spark, src))
    dd = streaming_dedup(stream, watermark="10 minutes")
    out = _run_to_memory(spark, dd, "dedup_out").collect()
    assert len(out) == 2  # duplicate (s1, 12:00:10) collapsed


def test_sliding_window(spark, tmp_path):
    src = str(tmp_path / "drop")
    _drop(src, ROWS, "b1.jsonl")
    stream = normalized_stream(read_telemetry_stream(spark, src))
    agg = windowed_series_stats(
        stream, window="10 minutes", slide="5 minutes", watermark="10 minutes"
    )
    out = _run_to_memory(spark, agg, "slide_stats", mode="complete").collect()
    # row at 12:06 belongs to [12:00,12:10) and [12:05,12:15) — sliding
    # windows overlap
    windows_for_s1 = {r.window_start.strftime("%H:%M") for r in out}
    assert {"12:00", "12:05"} <= windows_for_s1


def test_stream_stream_join(spark, tmp_path):
    """Two live streams (telemetry + 'commands') joined on series with a
    bounded time-range condition."""
    from rusty_timeseries_db_spark.streaming.ingest import stream_stream_join

    src_a = str(tmp_path / "a")
    src_b = str(tmp_path / "b")
    _drop(src_a, ROWS, "a1.jsonl")  # readings at 12:00:10, 12:01:10, 12:06
    _drop(src_b, [
        {"sensor_name": "cmd", "timestamp": "2024-08-28T12:00:00Z", "value": 0.0,
         "fc1_flag": None, "timeseries_id": "s1"},
        {"sensor_name": "cmd", "timestamp": "2024-08-28T11:30:00Z", "value": 0.0,
         "fc1_flag": None, "timeseries_id": "s1"},  # too old for any reading
    ], "b1.jsonl")

    a = normalized_stream(read_telemetry_stream(spark, src_a)).select(
        "timeseries_id", "ts", "value"
    )
    b = normalized_stream(read_telemetry_stream(spark, src_b)).select(
        F.col("timeseries_id").alias("timeseries_id_r"),
        F.col("ts").alias("cmd_ts"),
    ).withColumnRenamed("timeseries_id_r", "timeseries_id")
    joined = stream_stream_join(
        a, b, key="timeseries_id", left_ts="ts", right_ts="cmd_ts",
        watermark="30 minutes", max_lag="5 minutes",
    )
    out = _run_to_memory(spark, joined.select("l.ts", "value", "cmd_ts"), "ss_join")
    rows = out.collect()
    # readings at 12:00:10 and 12:01:10 match the 12:00 command (within
    # 5 min); 12:06 does not; the 11:30 command matches nothing
    assert len(rows) == 2
    assert {r.value for r in rows} == {1.0, 3.0}


def test_streaming_session_window(spark, tmp_path):
    """session_window() on a live stream (not just batch)."""
    from pyspark.sql import functions as FF

    src = str(tmp_path / "drop")
    _drop(src, ROWS, "b1.jsonl")  # 12:00:10, 12:01:10 (one session), 12:06 (next)
    stream = normalized_stream(read_telemetry_stream(spark, src))
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy("timeseries_id", FF.session_window("ts", "3 minutes").alias("sw"))
        .agg(FF.count("*").alias("n"))
        .select("timeseries_id", FF.col("sw.start").alias("s"), "n")
    )
    out = _run_to_memory(spark, agg, "sess_stream", mode="complete").collect()
    got = {(r.s.strftime("%H:%M:%S"), r.n) for r in out}
    assert got == {("12:00:10", 2), ("12:06:00", 1)}


def test_streaming_tumbling_matches_batch_oracle(spark, tmp_path):
    """Batch/stream semantic loop for ST1: the same rows, replayed as
    MULTIPLE micro-batches (maxFilesPerTrigger=1), must produce exactly
    the tumbling-window aggregate the batch engine computes with
    F.window over one DataFrame — window boundaries, counts, and
    extrema all identical."""
    import itertools

    from rusty_timeseries_db_spark.schema import TELEMETRY_INGEST_SCHEMA

    rows = [
        {
            "sensor_name": "x",
            "timestamp": f"2024-08-28T12:{mm:02d}:{ss:02d}Z",
            "value": float(i % 7) + 0.25,
            "fc1_flag": None,
            "timeseries_id": sid,
        }
        for i, (sid, (mm, ss)) in enumerate(
            itertools.product(
                ["s1", "s2", "s3"],
                [(0, 10), (1, 40), (4, 59), (5, 0), (7, 30), (12, 5)],
            )
        )
    ]
    src = str(tmp_path / "drop")
    # four files → four micro-batches at maxFilesPerTrigger=1
    for b in range(4):
        _drop(src, rows[b::4], f"b{b}.jsonl")

    raw = (
        spark.readStream.schema(TELEMETRY_INGEST_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .json(src)
    )
    agg = windowed_series_stats(
        normalized_stream(raw), window="5 minutes", watermark="10 minutes"
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("stream_vs_batch")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert len(q.recentProgress) >= 4, "expected one progress per file"
    got = {
        (r.timeseries_id, str(r.window_start), str(r.window_end)):
        (r.n, r.avg_value, r.min_value, r.max_value)
        for r in spark.sql("SELECT * FROM stream_vs_batch").collect()
    }

    from rusty_timeseries_db_spark.streaming.ingest import normalize_payload

    batch = normalize_payload(
        spark.read.schema(TELEMETRY_INGEST_SCHEMA).json(src)
    )
    expect = {
        (r.timeseries_id, str(r.w.start), str(r.w.end)):
        (r.n, r.avg_value, r.min_value, r.max_value)
        for r in batch.groupBy(
            "timeseries_id", F.window("ts", "5 minutes").alias("w")
        )
        .agg(
            F.count("*").alias("n"),
            F.avg("value").alias("avg_value"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
        )
        .collect()
    }
    assert got == expect


def test_streaming_sliding_matches_batch_oracle(spark, tmp_path):
    """ST2's batch/stream loop: multi-micro-batch replay of a SLIDING
    window (10 min window, 5 min slide — each row lands in two windows)
    equals the batch F.window(slide) aggregate."""
    from rusty_timeseries_db_spark.schema import TELEMETRY_INGEST_SCHEMA

    rows = [
        {
            "sensor_name": "x",
            "timestamp": f"2024-08-28T12:{mm:02d}:{ss:02d}Z",
            "value": float((mm * 7 + ss) % 11) + 0.5,
            "fc1_flag": None,
            "timeseries_id": sid,
        }
        for sid in ["s1", "s2"]
        for (mm, ss) in [(0, 5), (2, 30), (6, 0), (9, 59), (11, 11), (14, 0)]
    ]
    src = str(tmp_path / "drop")
    for b in range(3):
        _drop(src, rows[b::3], f"b{b}.jsonl")

    raw = (
        spark.readStream.schema(TELEMETRY_INGEST_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .json(src)
    )
    agg = windowed_series_stats(
        normalized_stream(raw),
        window="10 minutes", slide="5 minutes", watermark="10 minutes",
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("slide_vs_batch")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.timeseries_id, str(r.window_start), str(r.window_end)):
        (r.n, r.avg_value, r.min_value, r.max_value)
        for r in spark.sql("SELECT * FROM slide_vs_batch").collect()
    }

    from rusty_timeseries_db_spark.streaming.ingest import normalize_payload

    batch = normalize_payload(
        spark.read.schema(TELEMETRY_INGEST_SCHEMA).json(src)
    )
    expect = {
        (r.timeseries_id, str(r.w.start), str(r.w.end)):
        (r.n, r.avg_value, r.min_value, r.max_value)
        for r in batch.groupBy(
            "timeseries_id",
            F.window("ts", "10 minutes", "5 minutes").alias("w"),
        )
        .agg(
            F.count("*").alias("n"),
            F.avg("value").alias("avg_value"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
        )
        .collect()
    }
    assert got == expect
    # every row appears in exactly two sliding windows
    assert sum(v[0] for v in expect.values()) == 2 * len(rows)


def test_stream_stream_left_outer_join_emits_unmatched(spark, tmp_path):
    """leftOuter stream-stream join: unmatched readings emit
    with null right columns once the watermark proves no match can
    still arrive. A far-future flush row advances the watermark so the
    availableNow run actually closes the outer state."""
    from rusty_timeseries_db_spark.streaming.ingest import stream_stream_join

    src_a = str(tmp_path / "a")
    src_b = str(tmp_path / "b")
    flush = {"sensor_name": "x", "timestamp": "2024-08-28T14:00:00Z",
             "value": -1.0, "fc1_flag": None, "timeseries_id": "s_flush"}
    _drop(src_a, ROWS + [flush], "a1.jsonl")
    _drop(src_b, [
        {"sensor_name": "cmd", "timestamp": "2024-08-28T12:00:00Z",
         "value": 0.0, "fc1_flag": None, "timeseries_id": "s1"},
        dict(flush, timeseries_id="s_flush_b"),
    ], "b1.jsonl")

    a = normalized_stream(read_telemetry_stream(spark, src_a)).select(
        "timeseries_id", "ts", "value"
    )
    b = normalized_stream(read_telemetry_stream(spark, src_b)).select(
        F.col("timeseries_id").alias("timeseries_id"),
        F.col("ts").alias("cmd_ts"),
    )
    joined = stream_stream_join(
        a, b, key="timeseries_id", left_ts="ts", right_ts="cmd_ts",
        watermark="5 minutes", max_lag="5 minutes", how="leftOuter",
    )
    out = _run_to_memory(
        spark, joined.select("l.ts", "value", "cmd_ts"), "ss_louter"
    ).collect()
    matched = {r.value for r in out if r.cmd_ts is not None}
    unmatched = {r.value for r in out if r.cmd_ts is None}
    assert matched == {1.0, 3.0}          # within 5 min of the command
    # the 12:06 reading emits null-matched once the 14:00 flush rows
    # push the watermark past it; the flush rows THEMSELVES stay in
    # state (no later event proves their no-match) — exactly the
    # trailing-emission contract
    assert unmatched == {5.0}

    import pytest

    with pytest.raises(ValueError, match="inner"):
        stream_stream_join(a, b, key="timeseries_id", how="fullOuter")


def test_stream_stream_join_matches_batch_formulation(spark, tmp_path):
    """Stream/batch parity (the ST1 pattern applied to the join): the
    streamed inner join over all micro-batches equals the same join
    expressed on batch DataFrames of the same rows."""
    from rusty_timeseries_db_spark.streaming.ingest import stream_stream_join

    src_a = str(tmp_path / "a")
    src_b = str(tmp_path / "b")
    cmds = [
        {"sensor_name": "cmd", "timestamp": "2024-08-28T12:00:00Z",
         "value": 0.0, "fc1_flag": None, "timeseries_id": "s1"},
        {"sensor_name": "cmd", "timestamp": "2024-08-28T12:04:30Z",
         "value": 0.0, "fc1_flag": None, "timeseries_id": "s1"},
    ]
    # two micro-batch files per side
    _drop(src_a, ROWS[:2], "a1.jsonl")
    _drop(src_a, ROWS[2:], "a2.jsonl")
    _drop(src_b, cmds[:1], "b1.jsonl")
    _drop(src_b, cmds[1:], "b2.jsonl")

    def sides(reader_a, reader_b):
        a = reader_a.select("timeseries_id", "ts", "value")
        b = reader_b.select(
            "timeseries_id", F.col("ts").alias("cmd_ts")
        )
        return a, b

    sa, sb = sides(
        normalized_stream(read_telemetry_stream(spark, src_a)),
        normalized_stream(read_telemetry_stream(spark, src_b)),
    )
    streamed = _run_to_memory(
        spark,
        stream_stream_join(
            sa, sb, key="timeseries_id", right_ts="cmd_ts",
            watermark="30 minutes", max_lag="5 minutes",
        ).select("l.timeseries_id", "l.ts", "value", "cmd_ts"),
        "ss_parity",
    ).collect()

    ba, bb = sides(
        spark.read.json(src_a).select(
            "timeseries_id", F.to_timestamp("timestamp").alias("ts"), "value"
        ),
        spark.read.json(src_b).select(
            "timeseries_id", F.to_timestamp("timestamp").alias("ts"), "value"
        ),
    )
    batch = (
        ba.alias("l").join(
            bb.alias("r"),
            F.expr(
                "l.timeseries_id = r.timeseries_id "
                "AND r.cmd_ts >= l.ts - INTERVAL 5 minutes "
                "AND r.cmd_ts <= l.ts"
            ),
        ).select("l.timeseries_id", "l.ts", "value", "cmd_ts").collect()
    )
    key = lambda r: (r.timeseries_id, r.ts, r.value, r.cmd_ts)  # noqa: E731
    assert sorted(map(key, streamed)) == sorted(map(key, batch))
    assert len(batch) >= 3  # both commands matched something


def test_stream_batch_ohlc_parity(spark, tmp_path):
    """The streaming OHLC bars (min_by/max_by running argmins)
    replayed over multiple micro-batches equal the batch formulation on
    the same rows — including open/close picks under duplicate
    timestamps (tie broken by value on both sides)."""
    import itertools

    from rusty_timeseries_db_spark.schema import TELEMETRY_INGEST_SCHEMA
    from rusty_timeseries_db_spark.streaming.ingest import (
        normalize_payload,
        windowed_ohlc,
    )

    rows = [
        {
            "sensor_name": "x",
            "timestamp": f"2024-08-28T12:{mm:02d}:{ss:02d}Z",
            "value": float((i * 7) % 11) + 0.5,
            "fc1_flag": None,
            "timeseries_id": sid,
        }
        for i, (sid, (mm, ss)) in enumerate(
            itertools.product(
                ["s1", "s2"],
                # includes a duplicate timestamp (4,59) twice -> the
                # ingest_seq tiebreak decides open/close deterministically
                [(0, 10), (1, 40), (4, 59), (4, 59), (7, 30), (12, 5)],
            )
        )
    ]
    src = str(tmp_path / "drop")
    for b in range(3):
        _drop(src, rows[b::3], f"b{b}.jsonl")

    raw = (
        spark.readStream.schema(TELEMETRY_INGEST_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .json(src)
    )
    agg = windowed_ohlc(normalized_stream(raw), window="5 minutes")
    q = (
        agg.writeStream.format("memory")
        .queryName("ohlc_parity")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.timeseries_id, str(r.window_start)):
        (r.open, r.high, r.low, r.close, r.n)
        for r in spark.sql("SELECT * FROM ohlc_parity").collect()
    }

    batch = normalize_payload(
        spark.read.schema(TELEMETRY_INGEST_SCHEMA).json(src)
    )
    order = F.struct(F.col("ts"), F.col("value"))
    want = {
        (r.timeseries_id, str(r.window_start)):
        (r.open, r.high, r.low, r.close, r.n)
        for r in (
            batch.groupBy(
                "timeseries_id", F.window("ts", "5 minutes").alias("w")
            )
            .agg(
                F.min_by("value", order).alias("open"),
                F.max("value").alias("high"),
                F.min("value").alias("low"),
                F.max_by("value", order).alias("close"),
                F.count("*").alias("n"),
            )
            .select(
                "timeseries_id",
                F.col("w.start").alias("window_start"),
                "open", "high", "low", "close", "n",
            )
        ).collect()
    }
    assert got == want and len(got) >= 6


def test_stream_ohlc_tie_parity_with_batch_q_ohlc_bars(spark, tmp_path):
    """When the stream carries an
    identity column, windowed_ohlc orders its argmins by (ts, id) and
    the streamed bars equal batch q_ohlc_bars ITSELF — not the
    (ts, value) reformulation — including open/close picks on
    duplicate timestamps where the two tie policies used to diverge."""
    from rusty_timeseries_db_spark.queries import T, q_ohlc_bars
    from rusty_timeseries_db_spark.streaming.ingest import windowed_ohlc
    from tests.conftest import SF_DIR

    # real events (duplicate-prone) PLUS a planted duplicate-ts pair
    # whose (ts, value) pick differs from its (ts, event_id) pick:
    # event_id order 9000001->9000002 carries values 5.0->1.0, so the
    # value tiebreak would open at 1.0 while event_id opens at 5.0
    ev = T(spark, SF_DIR, "events")  # full schema: T()'s column set
    planted = spark.createDataFrame(
        [
            (9000001, "2030-01-01 00:10:00", 1, "purchase", 5.0),
            (9000002, "2030-01-01 00:10:00", 1, "purchase", 1.0),
            (9000003, "2030-01-01 00:10:00", 1, "purchase", 3.0),
        ],
        "event_id long, ts_s string, user_id long, event_type string, "
        "value double",
    ).select(
        "event_id", F.to_timestamp("ts_s").alias("ts"), "user_id",
        "event_type", "value", F.lit(None).cast("string").alias("props"),
    )
    # q_ohlc_bars reads via T(), which expects the full events column
    # set — write the proxy table with T()'s own schema
    planted = planted.select(
        *[F.col(c).cast(dict(ev.dtypes)[c]).alias(c) for c in ev.columns]
    )
    src = str(tmp_path / "sf_proxy" / "events.parquet")
    ev.unionByName(planted).write.parquet(src)

    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
        .select(
            F.col("event_type").alias("timeseries_id"), "ts", "value",
            "event_id",
        )
    )
    agg = windowed_ohlc(stream, window="1 hour", watermark="100000 days")
    q = (
        agg.writeStream.format("memory")
        .queryName("ohlc_tie_parity")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        (r.timeseries_id,
         r.window_start.strftime("%Y-%m-%d %H:00")):
        (r.open, r.high, r.low, r.close, r.n)
        for r in spark.sql("SELECT * FROM ohlc_tie_parity").collect()
    }

    # batch q_ohlc_bars over the SAME written files (its own code path)
    sf_proxy = str(tmp_path / "sf_proxy")
    want = {
        (r.event_type, r.bar): (r.open, r.high, r.low, r.close, r.n)
        for r in q_ohlc_bars(spark, sf_proxy).collect()
    }
    assert got == want and len(got) > 5
    # the planted bar proves the event_id tiebreak was exercised
    assert got[("purchase", "2030-01-01 00:00")][0] == 5.0
    assert got[("purchase", "2030-01-01 00:00")][3] == 3.0


def test_latest_value_sink_stream_batch_parity(spark, tmp_path):
    """The last-value cache replayed over multiple
    micro-batches equals the batch last-row-per-series computation,
    including ties (ingest_seq breaks same-ts rows by arrival order);
    the snapshot read is O(#series) and survives the manifest repoint."""
    from rusty_timeseries_db_spark.schema import TELEMETRY_INGEST_SCHEMA
    from rusty_timeseries_db_spark.streaming.ingest import (
        read_latest_values,
        start_latest_value_sink,
    )

    wh = str(tmp_path / "wh")
    assert read_latest_values(spark, wh) is None  # pre-first-batch

    rows = [
        {"sensor_name": "x", "timestamp": f"2024-08-28T12:{mm:02d}:00Z",
         "value": float(v), "fc1_flag": None, "timeseries_id": sid}
        for sid, mm, v in [
            ("s1", 0, 1.0), ("s2", 1, 9.0), ("s1", 5, 2.0),
            ("s2", 3, 8.0), ("s1", 5, 3.0),  # dup ts for s1: later
                                             # batch wins by ingest_seq
            ("s3", 2, 7.0),
        ]
    ]
    src = str(tmp_path / "drop")
    for b in range(3):
        _drop(src, rows[b::3], f"b{b}.jsonl")

    raw = (
        spark.readStream.schema(TELEMETRY_INGEST_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .json(src)
    )
    q = start_latest_value_sink(raw, wh, available_now=True)
    q.awaitTermination(120)

    got = {
        r.timeseries_id: (str(r.ts), r.value)
        for r in read_latest_values(spark, wh).collect()
    }
    assert set(got) == {"s1", "s2", "s3"}
    assert got["s2"] == ("2024-08-28 12:03:00", 8.0)  # later ts wins
    assert got["s3"] == ("2024-08-28 12:02:00", 7.0)
    # s1 has two rows at 12:05 in different micro-batches: the higher
    # ingest_seq (later batch) must win deterministically
    assert got["s1"][0] == "2024-08-28 12:05:00"
    b_of = {}  # which micro-batch each 12:05 row landed in
    for b in range(3):
        for r in rows[b::3]:
            if r["timeseries_id"] == "s1" and r["timestamp"].startswith(
                "2024-08-28T12:05"
            ):
                b_of[r["value"]] = b
    assert got["s1"][1] == max(b_of, key=lambda v: b_of[v])


def test_latest_value_snapshot_sweeper(spark, tmp_path):
    """Superseded snap dirs are residue: the sweeper removes all but
    the manifest-pointed one, and the read is unaffected."""
    import os

    from rusty_timeseries_db_spark.schema import TELEMETRY_INGEST_SCHEMA
    from rusty_timeseries_db_spark.streaming.ingest import (
        read_latest_values,
        start_latest_value_sink,
        sweep_latest_snapshots,
    )

    wh = str(tmp_path / "wh")
    src = str(tmp_path / "drop")
    rows = [
        {"sensor_name": "x", "timestamp": f"2024-08-28T12:0{i}:00Z",
         "value": float(i), "fc1_flag": None, "timeseries_id": "s1"}
        for i in range(4)
    ]
    for b in range(4):
        _drop(src, rows[b::4], f"b{b}.jsonl")
    raw = (
        spark.readStream.schema(TELEMETRY_INGEST_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .json(src)
    )
    q = start_latest_value_sink(raw, wh, available_now=True)
    q.awaitTermination(120)

    latest_dir = os.path.join(wh, "latest")
    before = [d for d in os.listdir(latest_dir) if d.startswith("snap=")]
    assert len(before) == 4  # one per micro-batch
    # default grace=1 spares the newest superseded dir as a reader
    # window; grace=0 reclaims everything below the manifest pointer
    removed = sweep_latest_snapshots(wh)
    assert len(removed) == 2
    removed += sweep_latest_snapshots(wh, grace=0)
    assert len(removed) == 3
    after = [d for d in os.listdir(latest_dir) if d.startswith("snap=")]
    assert len(after) == 1
    got = {r.timeseries_id: r.value
           for r in read_latest_values(spark, wh).collect()}
    assert got == {"s1": 3.0}


def test_latest_value_sink_survives_checkpoint_replay(spark, tmp_path):
    """Replay-wedge guard, narrowed:
    when the checkpoint is lost, already-recorded batch ids replay —
    an id EQUAL to the manifest's is skipped (crash between repoint
    and checkpoint commit: same id ⇒ same data, already committed);
    ids strictly BELOW it are processed with a loud warning (they may
    carry new source files after a checkpoint reset), idempotently
    (running argmax), never reading snap=<id> while overwriting it
    (replays merge into fresh higher-numbered snap dirs)."""
    import shutil
    import warnings as _warnings

    from rusty_timeseries_db_spark.schema import TELEMETRY_INGEST_SCHEMA
    from rusty_timeseries_db_spark.streaming.ingest import (
        _read_latest_manifest,
        read_latest_values,
        start_latest_value_sink,
    )

    wh = str(tmp_path / "wh")
    src = str(tmp_path / "drop")
    rows = [
        {"sensor_name": "x", "timestamp": f"2024-08-28T12:0{i}:00Z",
         "value": float(i), "fc1_flag": None, "timeseries_id": "s1"}
        for i in range(2)
    ]
    _drop(src, rows[:1], "b0.jsonl")
    _drop(src, rows[1:], "b1.jsonl")

    def run():
        raw = (
            spark.readStream.schema(TELEMETRY_INGEST_SCHEMA)
            .option("maxFilesPerTrigger", "1")
            .json(src)
        )
        q = start_latest_value_sink(raw, wh, available_now=True)
        q.awaitTermination(120)

    run()
    man = _read_latest_manifest(str(tmp_path / "wh" / "latest"))
    assert man["batch_id"] == 1

    # checkpoint loss → both files replay as batches 0 and 1 against a
    # manifest already at batch_id=1: batch 0 is processed (below the
    # manifest — warned, merged idempotently into a FRESH snap dir);
    # the answer is unchanged and the stream never wedges
    shutil.rmtree(str(tmp_path / "wh" / "_checkpoints" / "latest"))
    with _warnings.catch_warnings(record=True) as caught:
        _warnings.simplefilter("always")
        run()  # would raise 'Cannot overwrite a path being read' unguarded
    assert any("checkpoint loss" in str(w.message) for w in caught)
    got = {r.timeseries_id: r.value
           for r in read_latest_values(spark, wh).collect()}
    assert got == {"s1": 1.0}
    # the manifest never points backward: replayed low ids commit to
    # fresh ids ABOVE the pre-loss high-water mark
    assert _read_latest_manifest(
        str(tmp_path / "wh" / "latest")
    )["batch_id"] >= 1


def test_latest_value_sink_checkpoint_reset_keeps_new_data(spark, tmp_path):
    """The data-loss scenario: after checkpoint loss the
    source re-delivers under LOW batch ids — but with genuinely NEW
    files. The old `>=` skip silently dropped those rows until batch
    ids caught up; the narrowed guard must ingest them."""
    import shutil

    from rusty_timeseries_db_spark.schema import TELEMETRY_INGEST_SCHEMA
    from rusty_timeseries_db_spark.streaming.ingest import (
        read_latest_values,
        start_latest_value_sink,
    )

    wh = str(tmp_path / "wh")
    src = str(tmp_path / "drop")
    _drop(src, [
        {"sensor_name": "x", "timestamp": "2024-08-28T12:00:00Z",
         "value": 1.0, "fc1_flag": None, "timeseries_id": "s1"},
    ], "b0.jsonl")
    _drop(src, [
        {"sensor_name": "x", "timestamp": "2024-08-28T12:01:00Z",
         "value": 2.0, "fc1_flag": None, "timeseries_id": "s1"},
    ], "b1.jsonl")

    def run():
        raw = (
            spark.readStream.schema(TELEMETRY_INGEST_SCHEMA)
            .option("maxFilesPerTrigger", "1")
            .json(src)
        )
        q = start_latest_value_sink(raw, wh, available_now=True)
        q.awaitTermination(120)

    run()  # manifest now at batch_id=1

    # checkpoint reset: source dir now holds ONLY a new file, so the
    # new row replays as batch_id=0 — strictly below the manifest's 1
    shutil.rmtree(str(tmp_path / "wh" / "_checkpoints" / "latest"))
    shutil.rmtree(src)
    _drop(src, [
        {"sensor_name": "x", "timestamp": "2024-08-28T12:05:00Z",
         "value": 9.0, "fc1_flag": None, "timeseries_id": "s1"},
    ], "c0.jsonl")
    run()
    got = {r.timeseries_id: (str(r.ts), r.value)
           for r in read_latest_values(spark, wh).collect()}
    # the new 12:05 row must win — with the old guard it was dropped
    # and this read still said ('...12:01:00', 2.0)
    assert got == {"s1": ("2024-08-28 12:05:00", 9.0)}


def test_latest_value_sink_reset_warns_once_per_run(spark, tmp_path):
    """After a checkpoint reset, EVERY batch of the
    renumbered stream sits below the bumped manifest id — the warning
    must fire once per sink run, not once per micro-batch, or the
    perpetual noise drowns the one genuine reset signal. A fresh sink
    START warns again (new run, new latch)."""
    import shutil
    import warnings as _warnings

    from rusty_timeseries_db_spark.schema import TELEMETRY_INGEST_SCHEMA
    from rusty_timeseries_db_spark.streaming.ingest import (
        read_latest_values,
        start_latest_value_sink,
    )

    wh = str(tmp_path / "wh")
    src = str(tmp_path / "drop")
    for i in range(3):
        _drop(src, [
            {"sensor_name": "x", "timestamp": f"2024-08-28T12:0{i}:00Z",
             "value": float(i), "fc1_flag": None, "timeseries_id": "s1"},
        ], f"b{i}.jsonl")

    def run():
        raw = (
            spark.readStream.schema(TELEMETRY_INGEST_SCHEMA)
            .option("maxFilesPerTrigger", "1")
            .json(src)
        )
        q = start_latest_value_sink(raw, wh, available_now=True)
        q.awaitTermination(120)

    run()  # manifest now at batch_id=2

    # reset with THREE genuinely-new files: they replay as batches
    # 0/1/2, all below the (progressively re-bumped) manifest id
    shutil.rmtree(str(tmp_path / "wh" / "_checkpoints" / "latest"))
    shutil.rmtree(src)
    for i in range(3):
        _drop(src, [
            {"sensor_name": "x", "timestamp": f"2024-08-28T13:0{i}:00Z",
             "value": 10.0 + i, "fc1_flag": None, "timeseries_id": "s1"},
        ], f"c{i}.jsonl")
    with _warnings.catch_warnings(record=True) as caught:
        _warnings.simplefilter("always")
        run()
    resets = [w for w in caught if "checkpoint loss" in str(w.message)]
    assert len(resets) == 1, [str(w.message) for w in resets]
    # all three new rows still merged (warn-once must not skip-once)
    got = {r.timeseries_id: r.value
           for r in read_latest_values(spark, wh).collect()}
    assert got == {"s1": 12.0}


# ---------------------------------------------------------------------------
# Snapshot-backed serving + storage-agnostic streaming manifests
# ---------------------------------------------------------------------------

def test_engine_latest_serves_snapshot_and_matches_batch_face(
    spark, tmp_path
):
    """Done criteria: with a committed
    last-value sink in the warehouse, engine.latest() (and therefore
    GET /latest and the REPL verb) must (a) answer row-identically to
    the batch argmax over the same ingested rows, and (b) plan a read
    over ONLY the snapshot directory — no history scan."""
    from rusty_timeseries_db_spark.api import TimeseriesEngine
    from rusty_timeseries_db_spark.schema import TELEMETRY_INGEST_SCHEMA
    from rusty_timeseries_db_spark.streaming.ingest import (
        start_latest_value_sink,
        start_telemetry_sink,
    )

    wh = str(tmp_path / "wh")
    src = str(tmp_path / "drop")
    rows = [
        {"sensor_name": f"sensor_{sid}",
         "timestamp": f"2024-08-28T12:{mm:02d}:00Z",
         "value": float(v), "fc1_flag": None, "timeseries_id": sid}
        for sid, mm, v in [
            ("s1", 0, 1.0), ("s2", 1, 9.0), ("s1", 5, 2.0),
            ("s2", 3, 8.0), ("s3", 2, 7.0), ("s1", 4, 4.0),
        ]
    ]
    for b in range(3):
        _drop(src, rows[b::3], f"b{b}.jsonl")

    def stream():
        return (
            spark.readStream.schema(TELEMETRY_INGEST_SCHEMA)
            .option("maxFilesPerTrigger", "1")
            .json(src)
        )

    # the production wiring: telemetry table AND last-value cache fed
    # from the same source — normalize_batch gives both the same
    # (batch_id-embedded) ingest_seq per row
    q1 = start_telemetry_sink(stream(), wh, available_now=True)
    q1.awaitTermination(120)
    q2 = start_latest_value_sink(stream(), wh, available_now=True)
    q2.awaitTermination(120)

    eng = TimeseriesEngine(spark, wh)
    snap_face = eng.latest()                        # snapshot path
    scan_face = eng.latest(prefer_snapshot=False)   # batch argmax
    assert snap_face.columns == scan_face.columns
    key = lambda r: r["timeseries_id"]  # noqa: E731
    got = sorted((r.asDict() for r in snap_face.collect()), key=key)
    want = sorted((r.asDict() for r in scan_face.collect()), key=key)
    assert got == want and len(got) == 3

    # (b) the snapshot plan touches only wh/latest/snap=* files
    files = snap_face.inputFiles()
    latest_root = os.path.join(wh, "latest")
    assert files and all(latest_root in f and "/snap=" in f for f in files)
    assert not any("/telemetry" in f for f in files)


def test_engine_latest_snapshot_merges_flag_overlay(spark, tmp_path):
    """The snapshot face must reflect flag-overlay updates (R2/FDD
    write-back) on current-latest rows — merged on the <= #series
    snapshot rows, not via any history scan."""
    from rusty_timeseries_db_spark.api import TimeseriesEngine
    from rusty_timeseries_db_spark.streaming.ingest import (
        _write_latest_manifest_atomic,
    )

    wh = str(tmp_path / "wh")
    snap_dir = os.path.join(wh, "latest", "snap=0")
    snap = spark.createDataFrame(
        [
            ("a", "2024-08-28T12:05:00Z", 1.0, None, "s1", 7),
            ("b", "2024-08-28T12:06:00Z", 2.0, None, "s2", 9),
        ],
        "sensor_name string, ts_raw string, value double, "
        "fc1_flag tinyint, timeseries_id string, ingest_seq long",
    ).withColumn("ts", F.to_timestamp("ts_raw")).select(
        "sensor_name", "ts", "ts_raw", "value", "fc1_flag",
        "timeseries_id", "ingest_seq",
    )
    snap.write.parquet(snap_dir)
    _write_latest_manifest_atomic(
        os.path.join(wh, "latest"), {"dir": "snap=0", "batch_id": 0}, spark
    )
    # an FDD-style flag overlay keyed to s1's latest row (ingest_seq=7)
    overlay = spark.createDataFrame(
        [("a", "2024-08-28T12:05:00Z", 1.0, 1, "s1", 7, 1)],
        "sensor_name string, ts_raw string, value double, "
        "fc1_flag tinyint, timeseries_id string, ingest_seq long, "
        "overlay_version int",
    ).withColumn("ts", F.to_timestamp("ts_raw")).select(
        "sensor_name", "ts", "ts_raw", "value", "fc1_flag",
        "timeseries_id", "ingest_seq", "overlay_version",
    )
    overlay.write.parquet(os.path.join(wh, "telemetry_overlay"))

    eng = TimeseriesEngine(spark, wh)
    got = {r.timeseries_id: r.fc1_flag for r in eng.latest().collect()}
    assert got == {"s1": 1, "s2": None}


def test_streaming_manifests_use_hadoop_fs_scheme_paths(spark, tmp_path):
    """Done criterion (the rollup
    scheme-path test pattern, test_rollup.py): with an explicit
    'file:/...' URI — the scheme-qualified form every non-local store
    uses — driver-local os.path sees NOTHING, so this test fails if
    exactly-once commit, snapshot read, or the sweeper regress to
    driver-local I/O."""
    import os as _os

    from rusty_timeseries_db_spark.schema import TELEMETRY_INGEST_SCHEMA
    from rusty_timeseries_db_spark.streaming.ingest import (
        committed_batch_ids,
        read_committed_telemetry,
        read_latest_values,
        start_latest_value_sink,
        start_telemetry_sink_exactly_once,
        sweep_latest_snapshots,
    )

    wh = "file:" + str(tmp_path / "wh")
    src = str(tmp_path / "drop")
    rows = [
        {"sensor_name": "x", "timestamp": f"2024-08-28T12:0{i}:00Z",
         "value": float(i), "fc1_flag": None, "timeseries_id": "s1"}
        for i in range(3)
    ]
    for b in range(3):
        _drop(src, rows[b::3], f"b{b}.jsonl")

    def stream():
        return (
            spark.readStream.schema(TELEMETRY_INGEST_SCHEMA)
            .option("maxFilesPerTrigger", "1")
            .json(src)
        )

    # exactly-once sink: manifest committed through the FS API
    q = start_telemetry_sink_exactly_once(stream(), wh, available_now=True)
    q.awaitTermination(120)
    assert committed_batch_ids(
        _os.path.join(wh, "telemetry_eo"), spark
    ) == [0, 1, 2]
    eo = read_committed_telemetry(spark, wh)
    assert eo is not None and eo.count() == 3
    # ...and never touched a driver-local relative path
    assert not _os.path.exists(str(tmp_path / "wh" / "telemetry_eo"
                                   ) + ".tmp")

    # last-value sink + snapshot read + sweeper, all through the FS API
    q = start_latest_value_sink(stream(), wh, available_now=True)
    q.awaitTermination(120)
    got = {r.timeseries_id: r.value
           for r in read_latest_values(spark, wh).collect()}
    assert got == {"s1": 2.0}
    # the old os.listdir sweeper returned [] on any URI — silently
    # sweeping nothing was the one SILENT failure in this family
    removed = sweep_latest_snapshots(wh, grace=0, spark=spark)
    assert removed == ["snap=0", "snap=1"]
    assert {r.timeseries_id: r.value
            for r in read_latest_values(spark, wh).collect()} == {"s1": 2.0}


def test_manifest_legacy_single_file_fallback(spark, tmp_path):
    """Warehouses written by older code carry single-file
    ``_manifest.json`` / ``_latest.json`` manifests: the versioned
    reader must fall back to them, and the next write must upgrade to
    the versioned protocol (which then takes precedence)."""
    import json as _json

    from rusty_timeseries_db_spark.streaming.ingest import (
        _read_latest_manifest,
        _read_manifest,
        _write_manifest,
        committed_batch_ids,
    )

    eo = str(tmp_path / "telemetry_eo")
    os.makedirs(eo)
    with open(os.path.join(eo, "_manifest.json"), "w") as f:
        _json.dump(
            {"dirs": ["batch_id=0"], "committed_ids": [0],
             "compact_seq": 2}, f,
        )
    man = _read_manifest(eo, spark)
    assert man == {
        "dirs": ["batch_id=0"], "committed_ids": [0], "compact_seq": 2,
        "fingerprints": {},  # legacy manifests carry none
        "hwm": -1, "folded_fps": [],  # ...nor a ledger fold
    }
    assert committed_batch_ids(eo, spark) == [0]

    # a write upgrades to the versioned layout; reads prefer it even
    # with the stale legacy file still present
    man["committed_ids"] = [0, 1]
    _write_manifest(eo, man, spark)
    assert any(
        n.startswith("_manifest.v") for n in os.listdir(eo)
    ) and os.path.exists(os.path.join(eo, "_manifest.json"))
    assert committed_batch_ids(eo, spark) == [0, 1]

    lat = str(tmp_path / "latest")
    os.makedirs(lat)
    with open(os.path.join(lat, "_latest.json"), "w") as f:
        _json.dump({"dir": "snap=3", "batch_id": 3}, f)
    assert _read_latest_manifest(lat, spark) == {
        "dir": "snap=3", "batch_id": 3
    }


def test_engine_start_streaming_ingest_wires_both_sinks(spark, tmp_path):
    """One engine call starts the live ingest path — telemetry
    sink + last-value cache — and the serving surface then answers
    from the snapshot while query_by_id scans the streamed table."""
    from rusty_timeseries_db_spark.api import TimeseriesEngine

    wh = str(tmp_path / "wh")
    src = str(tmp_path / "drop")
    rows = [
        {"sensor_name": "Sa", "timestamp": f"2024-08-28T12:0{i}:00Z",
         "value": float(i), "fc1_flag": None, "timeseries_id": "s1"}
        for i in range(3)
    ]
    for b in range(3):
        _drop(src, rows[b::3], f"b{b}.jsonl")

    eng = TimeseriesEngine(spark, wh)
    queries = eng.start_streaming_ingest(
        src, latest_cache=True, available_now=True
    )
    assert len(queries) == 2
    for q in queries:
        q.awaitTermination(120)

    # the streamed table serves R3 reads...
    got = eng.query_by_id(
        "s1", "2024-08-28T12:00:00Z", "2024-08-28T12:02:00Z"
    ).collect()
    assert [r.value for r in got] == [0.0, 1.0, 2.0]
    # ...and latest() answers from the snapshot (plan check: only the
    # snap dir is read)
    latest = eng.latest()
    assert {(r.timeseries_id, r.value) for r in latest.collect()} == {
        ("s1", 2.0)
    }
    files = latest.inputFiles()
    assert files and all("/snap=" in f for f in files)


def test_latest_value_sink_auto_sweep(spark, tmp_path):
    """sweep_grace bounds snapshot storage from inside the
    sink — after N micro-batches only the live dir + grace superseded
    dirs remain, and the read is unaffected."""
    from rusty_timeseries_db_spark.schema import TELEMETRY_INGEST_SCHEMA
    from rusty_timeseries_db_spark.streaming.ingest import (
        read_latest_values,
        start_latest_value_sink,
    )

    wh = str(tmp_path / "wh")
    src = str(tmp_path / "drop")
    rows = [
        {"sensor_name": "x", "timestamp": f"2024-08-28T12:0{i}:00Z",
         "value": float(i), "fc1_flag": None, "timeseries_id": "s1"}
        for i in range(5)
    ]
    for b in range(5):
        _drop(src, rows[b::5], f"b{b}.jsonl")
    raw = (
        spark.readStream.schema(TELEMETRY_INGEST_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .json(src)
    )
    q = start_latest_value_sink(raw, wh, available_now=True, sweep_grace=1)
    q.awaitTermination(120)

    snaps = [
        d for d in os.listdir(os.path.join(wh, "latest"))
        if d.startswith("snap=")
    ]
    assert sorted(snaps) == ["snap=3", "snap=4"]  # live + grace=1
    got = {r.timeseries_id: r.value
           for r in read_latest_values(spark, wh).collect()}
    assert got == {"s1": 4.0}

    import pytest

    with pytest.raises(ValueError, match="sweep_grace"):
        start_latest_value_sink(raw, wh, sweep_grace=0)


def test_get_latest_route_point_read(spark, tmp_path):
    """GET /latest?timeseries_id= returns only that series —
    the 'what is sensor X now' point read; unknown series -> []."""
    import json as _json
    import urllib.request

    from rusty_timeseries_db_spark.api import TimeseriesEngine
    from rusty_timeseries_db_spark.server import TelemetryHttpServer

    eng = TimeseriesEngine(spark, str(tmp_path / "wh"))
    eng.ingest_rows([
        {"sensor_name": "Sa", "timestamp": "2024-08-28T12:00:00Z",
         "value": 0.5, "fc1_flag": None, "timeseries_id": "s-1"},
        {"sensor_name": "Sa", "timestamp": "2024-08-28T12:05:00Z",
         "value": 0.9, "fc1_flag": None, "timeseries_id": "s-1"},
        {"sensor_name": "Sb", "timestamp": "2024-08-28T12:01:00Z",
         "value": 0.2, "fc1_flag": None, "timeseries_id": "s-2"},
    ])
    srv = TelemetryHttpServer(eng, port=0).start()
    try:
        with urllib.request.urlopen(
            f"{srv.base_url}/latest?timeseries_id=s-1"
        ) as resp:
            rows = _json.loads(resp.read())
        assert len(rows) == 1
        assert rows[0]["timeseries_id"] == "s-1"
        assert rows[0]["value"] == 0.9
        with urllib.request.urlopen(
            f"{srv.base_url}/latest?timeseries_id=nope"
        ) as resp:
            assert _json.loads(resp.read()) == []
        with urllib.request.urlopen(f"{srv.base_url}/latest") as resp:
            assert len(_json.loads(resp.read())) == 2
    finally:
        srv.stop()


def test_latest_point_read_probe_truncation_on_snapshot(spark, tmp_path):
    """latest(timeseries_id=...) truncates the probe to 32 chars like
    query_by_id (stored ids are truncated on ingest, main.rs:179), on
    BOTH faces — a 36-char UUID probe must hit its 32-char stored row."""
    from rusty_timeseries_db_spark.api import TimeseriesEngine
    from rusty_timeseries_db_spark.streaming.ingest import (
        _write_latest_manifest_atomic,
    )

    uuid36 = "8f541ba4-c437-43ba-ba1d-5c946583fe54"
    wh = str(tmp_path / "wh")
    snap = spark.createDataFrame(
        [("Sa", "2024-08-28T12:05:00Z", 0.9, None, uuid36[:32], 3)],
        "sensor_name string, ts_raw string, value double, "
        "fc1_flag tinyint, timeseries_id string, ingest_seq long",
    ).withColumn("ts", F.to_timestamp("ts_raw")).select(
        "sensor_name", "ts", "ts_raw", "value", "fc1_flag",
        "timeseries_id", "ingest_seq",
    )
    snap.write.parquet(os.path.join(wh, "latest", "snap=0"))
    _write_latest_manifest_atomic(
        os.path.join(wh, "latest"), {"dir": "snap=0", "batch_id": 0}, spark
    )
    eng = TimeseriesEngine(spark, wh)
    got = eng.latest(timeseries_id=uuid36).collect()  # full 36-char probe
    assert len(got) == 1 and got[0].value == 0.9
    # batch face (no snapshot consulted) truncates identically
    eng2 = TimeseriesEngine(spark, str(tmp_path / "wh2"))
    eng2.ingest_rows([
        {"sensor_name": "Sa", "timestamp": "2024-08-28T12:05:00Z",
         "value": 0.7, "fc1_flag": None, "timeseries_id": uuid36},
    ])
    got2 = eng2.latest(timeseries_id=uuid36).collect()
    assert len(got2) == 1 and got2[0].value == 0.7


def test_latest_snapshot_ts_moving_update_divergence_is_as_documented(
    spark, tmp_path
):
    """Pins api.latest()'s documented contract edge: an overlay update
    that MOVES a row's ts (changing which row is latest) is reflected
    by the batch face but NOT by the snapshot face — the snapshot only
    substitutes payload on rows that are already per-series latest.
    Reference-shaped updates (R2 value/flag rewrites, FDD flag
    write-back) never move ts, so the faces agree for every
    reference workload; this test pins the one divergence so a future
    refactor cannot silently change the contract undocumented."""
    from rusty_timeseries_db_spark.api import TimeseriesEngine
    from rusty_timeseries_db_spark.streaming.ingest import (
        _write_latest_manifest_atomic,
    )

    wh = str(tmp_path / "wh")
    eng = TimeseriesEngine(spark, wh)
    eng.ingest_rows([
        {"sensor_name": "Sa", "timestamp": "2024-08-28T12:00:00Z",
         "value": 1.0, "fc1_flag": None, "timeseries_id": "s1"},
        {"sensor_name": "Sa", "timestamp": "2024-08-28T12:05:00Z",
         "value": 2.0, "fc1_flag": None, "timeseries_id": "s1"},
    ])
    # snapshot of the pre-update state: latest = the 12:05 row (seq 1)
    eng.latest(prefer_snapshot=False).write.parquet(
        os.path.join(wh, "latest", "snap=0")
    )
    _write_latest_manifest_atomic(
        os.path.join(wh, "latest"), {"dir": "snap=0", "batch_id": 0}, spark
    )
    # ts-moving update: rewrite the OLD 12:00 row to 12:30 (update_rows
    # keys on the original (timestamp, timeseries_id))
    assert eng.update_rows([
        {"sensor_name": "Sa", "timestamp": "2024-08-28T12:00:00Z",
         "value": 9.0, "fc1_flag": None, "timeseries_id": "s1"},
    ]) == 1
    # ...but update_rows preserves ts_raw by design; move ts via a raw
    # overlay append instead (the only way a ts can move)
    import shutil
    shutil.rmtree(eng.overlay_path)
    overlay = spark.createDataFrame(
        [("Sa", "2024-08-28T12:30:00Z", 9.0, None, "s1", 0, 1)],
        "sensor_name string, ts_raw string, value double, "
        "fc1_flag tinyint, timeseries_id string, ingest_seq long, "
        "overlay_version int",
    ).withColumn("ts", F.to_timestamp("ts_raw")).select(
        "sensor_name", "ts", "ts_raw", "value", "fc1_flag",
        "timeseries_id", "ingest_seq", "overlay_version",
    )
    overlay.write.parquet(eng.overlay_path)

    batch = eng.latest(prefer_snapshot=False).collect()[0]
    # eng itself batch-ingested, so ITS latest() now refuses the
    # snapshot (mixed-path guard); the snapshot face belongs to a
    # serving-process engine that did no batch writes — a fresh object
    assert eng.latest().collect()[0].asDict() == batch.asDict()
    snap = TimeseriesEngine(spark, wh).latest().collect()[0]
    assert batch.ts_raw == "2024-08-28T12:30:00Z" and batch.value == 9.0
    # snapshot face still serves the pre-move latest (12:05): the
    # overlay keys on seq 0, which is not in the snapshot's rows
    assert snap.ts_raw == "2024-08-28T12:05:00Z" and snap.value == 2.0


def test_retrofitted_snapshot_with_overlay_warns_once(spark, tmp_path):
    """The retrofitted-sink stale-flag case
    must be an operational signal, not just documentation — a
    last-value sink attached to a warehouse whose telemetry checkpoint
    already advanced serves a snapshot whose ingest_seq lineage cannot
    match overlay keys, so serving the snapshot face with an overlay
    present warns (once per engine instance)."""
    import warnings as _warnings

    from rusty_timeseries_db_spark.api import TimeseriesEngine
    from rusty_timeseries_db_spark.schema import TELEMETRY_INGEST_SCHEMA
    from rusty_timeseries_db_spark.streaming.ingest import (
        start_latest_value_sink,
        start_telemetry_sink,
    )

    wh = str(tmp_path / "wh")
    src = str(tmp_path / "drop")
    for i in range(3):
        _drop(src, [
            {"sensor_name": "Sa", "timestamp": f"2024-08-28T12:0{i}:00Z",
             "value": 0.96 + i / 100, "fc1_flag": None,
             "timeseries_id": "s1"},
        ], f"b{i}.jsonl")

    def _stream(files_per_trigger):
        return (
            spark.readStream.schema(TELEMETRY_INGEST_SCHEMA)
            .option("maxFilesPerTrigger", str(files_per_trigger))
            .json(src)
        )

    # telemetry sink runs FIRST and advances its checkpoint to epoch 2
    start_telemetry_sink(
        _stream(1), wh, available_now=True
    ).awaitTermination(120)
    # ...then the last-value sink is retrofitted (fresh checkpoint:
    # the whole backlog lands in its epoch 0)
    start_latest_value_sink(
        _stream(16), wh, available_now=True
    ).awaitTermination(120)

    # FDD write-back creates overlay rows keyed by the TELEMETRY
    # face's ingest_seq — the keys the snapshot rows cannot carry
    writer = TimeseriesEngine(spark, wh)
    assert writer.run_fault_detection(
        "s1", "2024-08-28T12:00:00Z", "2024-08-28T12:03:00Z"
    ) == 3

    serving = TimeseriesEngine(spark, wh)
    with _warnings.catch_warnings(record=True) as caught:
        _warnings.simplefilter("always")
        serving.latest().collect()
        serving.latest().collect()  # second serve: latch, no re-warn
    hits = [w for w in caught if "retrofitted" in str(w.message)]
    assert len(hits) == 1, [str(w.message) for w in caught]


def test_mixed_lineage_checkpoints_warn_on_snapshot_serve(spark, tmp_path):
    """A warehouse carrying BOTH at-least-once and
    exactly-once ingest checkpoints has an unknowable snapshot seq
    lineage — serving the snapshot face with an overlay present must
    warn on the ambiguity itself (the epoch comparison alone stayed
    quiet and flags could vanish silently)."""
    import warnings as _warnings

    from rusty_timeseries_db_spark.api import TimeseriesEngine

    wh = str(tmp_path / "wh")
    src = str(tmp_path / "drop")
    _drop(src, [
        {"sensor_name": "Sa", "timestamp": "2024-08-28T12:00:00Z",
         "value": 0.99, "fc1_flag": None, "timeseries_id": "s1"},
    ], "b0.jsonl")
    eng = TimeseriesEngine(spark, wh)
    # first wiring: at-least-once + latest cache
    for q in eng.start_streaming_ingest(
        src, latest_cache=True, available_now=True
    ):
        q.awaitTermination(120)
    # re-wired later: exactly-once over the same warehouse
    _drop(src, [
        {"sensor_name": "Sa", "timestamp": "2024-08-28T12:05:00Z",
         "value": 0.98, "fc1_flag": None, "timeseries_id": "s1"},
    ], "b1.jsonl")
    eng.start_streaming_ingest(
        src, exactly_once=True, available_now=True
    )[0].awaitTermination(120)
    assert eng.run_fault_detection(
        "s1", "2024-08-28T12:00:00Z", "2024-08-28T12:06:00Z"
    ) >= 1
    serving = TimeseriesEngine(spark, wh)
    with _warnings.catch_warnings(record=True) as caught:
        _warnings.simplefilter("always")
        serving.latest().collect()
    assert [w for w in caught if "ambiguous" in str(w.message)]


def test_supported_dual_sink_wiring_does_not_warn(spark, tmp_path):
    """The supported wiring (start_streaming_ingest starting BOTH
    sinks over one source with fresh checkpoints) numbers both
    checkpoints together — no retrofit warning on the snapshot face
    even with an overlay present."""
    import warnings as _warnings

    from rusty_timeseries_db_spark.api import TimeseriesEngine

    wh = str(tmp_path / "wh")
    src = str(tmp_path / "drop")
    _drop(src, [
        {"sensor_name": "Sa", "timestamp": "2024-08-28T12:00:00Z",
         "value": 0.99, "fc1_flag": None, "timeseries_id": "s1"},
    ], "b0.jsonl")
    eng = TimeseriesEngine(spark, wh)
    for q in eng.start_streaming_ingest(
        src, latest_cache=True, available_now=True
    ):
        q.awaitTermination(120)
    assert eng.run_fault_detection(
        "s1", "2024-08-28T12:00:00Z", "2024-08-28T12:01:00Z"
    ) == 1
    serving = TimeseriesEngine(spark, wh)
    with _warnings.catch_warnings(record=True) as caught:
        _warnings.simplefilter("always")
        got = serving.latest().collect()
    assert not [w for w in caught if "retrofitted" in str(w.message)]
    # and the supported wiring's overlay keys DO match: flag visible
    assert got[0].fc1_flag == 1


def test_eo_sink_quarantine_idempotent_and_rollup(spark, tmp_path):
    """The exactly-once sink
    supports quarantine_dir and rollup. Quarantine writes bad lines to
    {quarantine_dir}/batch_id=<id> with OVERWRITE, so re-delivering
    the same batches after a checkpoint loss rewrites the same dirs
    instead of duplicating every bad line — while the data table's
    content-verified skip keeps zero duplicate rows. The rollup
    refreshes on batches that wrote and serves the streamed rows."""
    import glob as _glob
    import shutil

    from rusty_timeseries_db_spark.api import TimeseriesEngine

    wh = str(tmp_path / "wh")
    src = str(tmp_path / "drop")
    qdir = str(tmp_path / "quarantine")
    good = [
        {"sensor_name": "S", "timestamp": f"2024-08-28T12:0{i}:00Z",
         "value": float(i), "fc1_flag": None, "timeseries_id": "s1"}
        for i in range(3)
    ]
    os.makedirs(src, exist_ok=True)
    with open(os.path.join(src, "b0.jsonl"), "w") as f:
        f.write(json.dumps(good[0]) + "\n")
        f.write("{this is not json\n")
    with open(os.path.join(src, "b1.jsonl"), "w") as f:
        for r in good[1:]:
            f.write(json.dumps(r) + "\n")
        f.write("also garbage\n")

    eng = TimeseriesEngine(spark, wh)
    rollup = eng.continuous_rollup(window="5 minutes")
    eng.start_streaming_ingest(
        src, exactly_once=True, available_now=True,
        quarantine_dir=qdir, rollup=rollup,
    )[0].awaitTermination(120)

    def _qlines():
        out = []
        for fp in _glob.glob(os.path.join(qdir, "batch_id=*", "part-*")):
            with open(fp) as f:
                out += [ln for ln in f.read().splitlines() if ln]
        return sorted(out)

    assert eng.telemetry().count() == 3  # garbage not committed
    first = _qlines()
    assert first == ["also garbage", "{this is not json"]
    assert rollup.read().agg(F.sum("n")).collect()[0][0] == 3

    # checkpoint loss: same files re-delivered under the same batch
    # ids — data skips (content-verified), quarantine dirs are
    # OVERWRITTEN, not appended beside
    shutil.rmtree(os.path.join(wh, "_checkpoints/ingest_eo"))
    eng.start_streaming_ingest(
        src, exactly_once=True, available_now=True,
        quarantine_dir=qdir, rollup=rollup,
    )[0].awaitTermination(120)
    assert eng.telemetry().count() == 3
    assert _qlines() == first


def test_latest_stops_preferring_snapshot_after_batch_ingest(
    spark, tmp_path
):
    """Rows appended through the BATCH path are
    invisible to the streaming snapshot — after ingest_rows on this
    engine instance, latest() must serve the live view, not the stale
    snapshot."""
    from rusty_timeseries_db_spark.api import TimeseriesEngine
    from rusty_timeseries_db_spark.streaming.ingest import (
        _write_latest_manifest_atomic,
    )

    wh = str(tmp_path / "wh")
    snap = spark.createDataFrame(
        [("Sa", "2024-08-28T12:05:00Z", 1.0, None, "s1", 3)],
        "sensor_name string, ts_raw string, value double, "
        "fc1_flag tinyint, timeseries_id string, ingest_seq long",
    ).withColumn("ts", F.to_timestamp("ts_raw")).select(
        "sensor_name", "ts", "ts_raw", "value", "fc1_flag",
        "timeseries_id", "ingest_seq",
    )
    snap.write.parquet(os.path.join(wh, "latest", "snap=0"))
    _write_latest_manifest_atomic(
        os.path.join(wh, "latest"), {"dir": "snap=0", "batch_id": 0}, spark
    )
    eng = TimeseriesEngine(spark, wh)
    assert eng.latest().collect()[0].value == 1.0  # snapshot served
    # a REPL-style batch insert lands a NEWER row for s1
    eng.ingest_rows([
        {"sensor_name": "Sa", "timestamp": "2024-08-28T12:30:00Z",
         "value": 9.0, "fc1_flag": None, "timeseries_id": "s1"},
    ])
    got = eng.latest().collect()[0]
    assert (got.ts_raw, got.value) == ("2024-08-28T12:30:00Z", 9.0)


def test_latest_value_sink_same_id_new_content_not_dropped(
    spark, tmp_path
):
    """Checkpoint loss where the FIRST replayed id
    EQUALS the committed manifest id (the id-0 single-batch case) —
    the stored batch fingerprint distinguishes the true crash-window
    replay (skip) from new content under the same id (merge)."""
    import shutil
    import warnings as _warnings

    from rusty_timeseries_db_spark.schema import TELEMETRY_INGEST_SCHEMA
    from rusty_timeseries_db_spark.streaming.ingest import (
        read_latest_values,
        start_latest_value_sink,
    )

    wh = str(tmp_path / "wh")
    src = str(tmp_path / "drop")
    _drop(src, [
        {"sensor_name": "x", "timestamp": "2024-08-28T12:00:00Z",
         "value": 1.0, "fc1_flag": None, "timeseries_id": "s1"},
    ], "b0.jsonl")

    def run():
        raw = (
            spark.readStream.schema(TELEMETRY_INGEST_SCHEMA)
            .option("maxFilesPerTrigger", "4")
            .json(src)
        )
        q = start_latest_value_sink(raw, wh, available_now=True)
        q.awaitTermination(120)

    run()  # single batch 0 commits; manifest batch_id=0 with its fp

    # identical replay (checkpoint loss, same file): fp matches → skip
    shutil.rmtree(os.path.join(wh, "_checkpoints", "latest"))
    run()
    got = {r.timeseries_id: r.value
           for r in read_latest_values(spark, wh).collect()}
    assert got == {"s1": 1.0}

    # checkpoint loss + ONLY a new file: replays as batch 0 again but
    # with NEW content — must merge, not skip (the old equality check
    # dropped this)
    shutil.rmtree(os.path.join(wh, "_checkpoints", "latest"))
    shutil.rmtree(src)
    _drop(src, [
        {"sensor_name": "x", "timestamp": "2024-08-28T12:09:00Z",
         "value": 9.0, "fc1_flag": None, "timeseries_id": "s1"},
    ], "c0.jsonl")
    with _warnings.catch_warnings(record=True) as caught:
        _warnings.simplefilter("always")
        run()
    assert any("NEW content" in str(w.message) for w in caught)
    got = {r.timeseries_id: (str(r.ts), r.value)
           for r in read_latest_values(spark, wh).collect()}
    assert got == {"s1": ("2024-08-28 12:09:00", 9.0)}


def test_damaged_manifests_raise_instead_of_wiping(spark, tmp_path):
    """A manifest/pointer that EXISTS but
    cannot be read must RAISE — degrading it to 'absent' would let the
    next commit rebuild over it, silently discarding the exactly-once
    ledger (→ hidden data + replay duplicates) or the last-value
    snapshot history (→ evicted series). Absent manifests still mean
    cold start."""
    import pytest

    from rusty_timeseries_db_spark.fsutil import (
        read_versioned_manifest,
        write_versioned_manifest,
    )
    from rusty_timeseries_db_spark.streaming.ingest import (
        _read_latest_manifest,
        _read_manifest,
    )

    # absent: cold start, no error
    eo = str(tmp_path / "eo")
    assert _read_manifest(eo, spark)["committed_ids"] == []
    assert _read_latest_manifest(str(tmp_path / "lat"), spark) is None

    # torn legacy files: raise with an actionable message
    os.makedirs(eo)
    with open(os.path.join(eo, "_manifest.json"), "w") as f:
        f.write('{"dirs": ["batch_id=0"], "committed')  # truncated
    with pytest.raises(IOError, match="refusing to treat it as empty"):
        _read_manifest(eo, spark)
    lat = str(tmp_path / "lat")
    os.makedirs(lat)
    with open(os.path.join(lat, "_latest.json"), "w") as f:
        f.write("{torn")
    with pytest.raises(IOError, match="refusing to treat it as absent"):
        _read_latest_manifest(lat, spark)

    # versioned: torn top version falls back to the predecessor...
    vd = str(tmp_path / "vd")
    write_versioned_manifest(spark, vd, "_m", {"i": 1})
    write_versioned_manifest(spark, vd, "_m", {"i": 2})
    with open(os.path.join(vd, "_m.v2.json"), "w") as f:
        f.write("{torn")
    os.remove(os.path.join(vd, "._m.v2.json.crc"))
    assert read_versioned_manifest(spark, vd, "_m") == {"i": 1}
    # ...but when EVERY version is unreadable, raise (never cold-start
    # over a damaged-but-present manifest)
    with open(os.path.join(vd, "_m.v1.json"), "w") as f:
        f.write("{torn too")
    os.remove(os.path.join(vd, "._m.v1.json.crc"))
    with pytest.raises(IOError, match="unreadable"):
        read_versioned_manifest(spark, vd, "_m")


def test_versioned_manifest_infra_errors_propagate(spark, tmp_path, monkeypatch):
    """A transient ENVIRONMENT failure (JVM/Py4J hiccup,
    FS connectivity) that persists across the relist attempts must
    propagate with its own message — not be misreported as 'every
    committed version is unreadable' damage directing the operator to
    repair healthy manifest files. Decode/missing-file errors keep the
    damage path."""
    import pytest

    from rusty_timeseries_db_spark import fsutil
    from rusty_timeseries_db_spark.fsutil import (
        read_versioned_manifest,
        write_versioned_manifest,
    )

    vd = str(tmp_path / "vd")
    write_versioned_manifest(spark, vd, "_m", {"i": 1})

    def _infra_boom(spark_, path):
        raise RuntimeError("Py4J connection dropped")

    monkeypatch.setattr(fsutil, "read_json_manifest", _infra_boom)
    with pytest.raises(RuntimeError, match="Py4J connection dropped"):
        read_versioned_manifest(spark, vd, "_m")

    def _damage_boom(spark_, path):
        raise ValueError("torn bytes")

    monkeypatch.setattr(fsutil, "read_json_manifest", _damage_boom)
    with pytest.raises(IOError, match="unreadable"):
        read_versioned_manifest(spark, vd, "_m")


def test_engine_start_streaming_ingest_exactly_once_path(spark, tmp_path):
    """The exactly_once=True wiring lands batches in the
    manifest-committed telemetry_eo table, readable via
    read_committed_telemetry (ALSO served through the
    engine surface — covered by the serving tests below)."""
    from rusty_timeseries_db_spark.api import TimeseriesEngine
    from rusty_timeseries_db_spark.streaming.ingest import (
        committed_batch_ids,
        read_committed_telemetry,
    )

    wh = str(tmp_path / "wh")
    src = str(tmp_path / "drop")
    rows = [
        {"sensor_name": "Sa", "timestamp": f"2024-08-28T12:0{i}:00Z",
         "value": float(i), "fc1_flag": None, "timeseries_id": "s1"}
        for i in range(2)
    ]
    _drop(src, rows[:1], "b0.jsonl")
    _drop(src, rows[1:], "b1.jsonl")

    eng = TimeseriesEngine(spark, wh)
    queries = eng.start_streaming_ingest(
        src, exactly_once=True, available_now=True
    )
    assert len(queries) == 1
    queries[0].awaitTermination(120)
    got = read_committed_telemetry(spark, wh)
    assert got is not None and got.count() == 2
    # availableNow without a files-per-trigger cap may fold both files
    # into one micro-batch — the guarantee is committed ids exist and
    # every row is committed-visible, not a particular batch split
    assert committed_batch_ids(
        os.path.join(wh, "telemetry_eo"), spark
    ) != []


def test_exactly_once_table_served_through_engine_surface(spark, tmp_path):
    """With
    start_streaming_ingest(exactly_once=True), the committed rows are
    visible through engine.telemetry() / query_by_id / latest — the
    stronger-guarantee wiring keeps the full query surface. A replayed
    batch stays invisible through the same surface (the manifest skip),
    and mixed batch+exactly-once warehouses serve the union."""
    from rusty_timeseries_db_spark.api import TimeseriesEngine
    from rusty_timeseries_db_spark.streaming.ingest import (
        commit_batch_exactly_once,
        normalize_batch,
    )
    from rusty_timeseries_db_spark.schema import TELEMETRY_INGEST_SCHEMA

    wh = str(tmp_path / "wh")
    src = str(tmp_path / "drop")
    rows = [
        {"sensor_name": "Sa", "timestamp": f"2024-08-28T12:0{i}:00Z",
         "value": float(i), "fc1_flag": None, "timeseries_id": "s1"}
        for i in range(3)
    ]
    _drop(src, rows, "b0.jsonl")
    eng = TimeseriesEngine(spark, wh)
    eng.start_streaming_ingest(
        src, exactly_once=True, available_now=True
    )[0].awaitTermination(120)

    # full surface, auto-detected: telemetry / query_by_id / latest
    assert eng.telemetry().count() == 3
    got = eng.query_by_id(
        "s1", "2024-08-28T12:00:00Z", "2024-08-28T12:01:00Z"
    ).collect()
    assert [r.value for r in got] == [0.0, 1.0]
    lat = eng.latest(prefer_snapshot=False).collect()
    assert [(r.timeseries_id, r.value) for r in lat] == [("s1", 2.0)]

    # a crash-replay of an already-committed batch is skipped by the
    # manifest — and therefore invisible through the engine surface
    path = os.path.join(wh, "telemetry_eo")
    replay = spark.createDataFrame(
        [(r["sensor_name"], r["timestamp"], r["value"], None,
          r["timeseries_id"]) for r in rows],
        TELEMETRY_INGEST_SCHEMA,
    )
    assert commit_batch_exactly_once(
        normalize_batch(replay, 0), 0, path
    ) is False
    assert eng.telemetry().count() == 3

    # mixed warehouse: a batch append lands beside the committed rows
    # and the surface serves the union of the two disjoint stores
    eng.ingest_rows([
        {"sensor_name": "Sb", "timestamp": "2024-08-28T13:00:00Z",
         "value": 9.0, "fc1_flag": None, "timeseries_id": "s2"},
    ])
    assert eng.telemetry().count() == 4
    assert {r.timeseries_id for r in eng.latest().collect()} == {"s1", "s2"}

    # mode pins: False ignores the EO rows; True serves an
    # empty (not missing) table when nothing has committed yet
    assert TimeseriesEngine(
        spark, wh, exactly_once=False
    ).telemetry().count() == 1
    empty_wh = str(tmp_path / "wh_empty")
    assert TimeseriesEngine(
        spark, empty_wh, exactly_once=True
    ).telemetry().count() == 0


def test_eo_overlay_seq_remap_prevents_cross_store_corruption(
    spark, tmp_path
):
    """The EO sink and the batch path assign
    ingest_seq from unrelated lineages, and the overlay merge keys on
    ingest_seq alone — without the read-time remap, a flag update
    targeting a batch row would wholesale-substitute an unrelated EO
    row's payload. Pins: (a) updates to a batch row leave colliding-seq
    EO rows untouched; (b) FDD flags ON EO rows work and survive
    compact() (which must retain, not delete, EO-targeting overlay
    rows); (c) as_of_seq snapshots exclude the EO store entirely."""
    from rusty_timeseries_db_spark.api import TimeseriesEngine
    from rusty_timeseries_db_spark.schema import TELEMETRY_INGEST_SCHEMA
    from rusty_timeseries_db_spark.streaming.ingest import (
        commit_batch_exactly_once,
        normalize_batch,
    )

    wh = str(tmp_path / "wh")
    path = os.path.join(wh, "telemetry_eo")
    # EO batch 0 → raw seqs 0..1 — the exact values the batch path
    # will also assign below
    eo_raw = spark.createDataFrame(
        [("eo", "2024-08-28T10:00:00Z", 0.99, None, "se"),
         ("eo", "2024-08-28T10:01:00Z", 0.98, None, "se")],
        TELEMETRY_INGEST_SCHEMA,
    )
    assert commit_batch_exactly_once(normalize_batch(eo_raw, 0), 0, path)

    eng = TimeseriesEngine(spark, wh)
    eng.ingest_rows([
        {"sensor_name": "b", "timestamp": "2024-08-28T12:00:00Z",
         "value": 1.0, "fc1_flag": None, "timeseries_id": "sb"},
        {"sensor_name": "b", "timestamp": "2024-08-28T12:01:00Z",
         "value": 2.0, "fc1_flag": None, "timeseries_id": "sb"},
    ])  # batch seqs 0..1 — collide with EO raw seqs

    # (a) update the batch row keyed (timestamp, timeseries_id):
    # overlay seq 0 must bind ONLY the batch store's row 0
    assert eng.update_rows([
        {"sensor_name": "b", "timestamp": "2024-08-28T12:00:00Z",
         "value": 7.0, "fc1_flag": None, "timeseries_id": "sb"},
    ]) == 1
    t = {(r.timeseries_id, r.ts_raw): r.value
         for r in eng.telemetry().collect()}
    assert t[("sb", "2024-08-28T12:00:00Z")] == 7.0
    assert t[("se", "2024-08-28T10:00:00Z")] == 0.99  # EO row untouched
    assert len(t) == 4

    # (b) FDD flags on EO rows bind the EO store and survive compact()
    assert eng.run_fault_detection(
        "se", "2024-08-28T10:00:00Z", "2024-08-28T10:02:00Z"
    ) == 2
    flagged = {r.ts_raw for r in eng.telemetry()
               .filter("fc1_flag = 1").collect()}
    assert flagged == {"2024-08-28T10:00:00Z", "2024-08-28T10:01:00Z"}
    eng.compact()  # folds the batch-row update, must RETAIN EO flags
    after = {(r.timeseries_id, r.ts_raw): (r.value, r.fc1_flag)
             for r in eng.telemetry().collect()}
    assert after[("sb", "2024-08-28T12:00:00Z")] == (7.0, None)
    assert after[("se", "2024-08-28T10:00:00Z")][1] == 1
    assert after[("se", "2024-08-28T10:01:00Z")][1] == 1

    # (c) time travel stays a batch-lineage feature: EO rows excluded
    snap = eng.telemetry(as_of_seq=eng.current_seq())
    assert {r.timeseries_id for r in snap.collect()} == {"sb"}

    # (d) R2 point update against an EO row binds the EO store (built from
    # the batch base it was a silent no-op)
    assert eng.update_rows([
        {"sensor_name": "eo", "timestamp": "2024-08-28T10:01:00Z",
         "value": 5.5, "fc1_flag": None, "timeseries_id": "se"},
    ]) == 1
    t2 = {(r.timeseries_id, r.ts_raw): r.value
          for r in eng.telemetry().collect()}
    assert t2[("se", "2024-08-28T10:01:00Z")] == 5.5
    assert t2[("sb", "2024-08-28T12:00:00Z")] == 7.0  # batch untouched

    # (e) a FRESH instance's overlay-version counter seeds from disk
    # (retained rows survive compaction indefinitely now): its update
    # to the same EO row must win last-write-wins, not lose to the
    # retained higher-versioned entry
    eng.compact()
    eng2 = TimeseriesEngine(spark, wh)
    assert eng2.update_rows([
        {"sensor_name": "eo", "timestamp": "2024-08-28T10:01:00Z",
         "value": 6.6, "fc1_flag": None, "timeseries_id": "se"},
    ]) == 1
    t3 = {(r.timeseries_id, r.ts_raw): r.value
          for r in eng2.telemetry().collect()}
    assert t3[("se", "2024-08-28T10:01:00Z")] == 6.6


def test_eo_wiring_snapshot_face_sees_overlay_flags(spark, tmp_path):
    """Under start_streaming_ingest(exactly_once=True,
    latest_cache=True), overlay rows carry remapped (negative) EO seqs
    while the snapshot stores raw stream seqs — the snapshot face must
    remap its seqs before the overlay merge, or FDD flags silently
    vanish from the dashboard route while telemetry() shows them."""
    from rusty_timeseries_db_spark.api import TimeseriesEngine

    wh = str(tmp_path / "wh")
    src = str(tmp_path / "drop")
    _drop(src, [
        {"sensor_name": "Sa", "timestamp": "2024-08-28T12:00:00Z",
         "value": 0.99, "fc1_flag": None, "timeseries_id": "s1"},
    ], "b0.jsonl")
    eng = TimeseriesEngine(spark, wh)
    for q in eng.start_streaming_ingest(
        src, exactly_once=True, latest_cache=True, available_now=True
    ):
        q.awaitTermination(120)
    assert eng.run_fault_detection(
        "s1", "2024-08-28T12:00:00Z", "2024-08-28T12:01:00Z"
    ) == 1
    serving = TimeseriesEngine(spark, wh)  # fresh: snapshot-preferring
    got = serving.latest().collect()
    assert [(r.timeseries_id, r.value, r.fc1_flag) for r in got] == [
        ("s1", 0.99, 1)
    ]
    # and the batch face agrees (the two faces may not diverge here)
    batch = serving.latest(prefer_snapshot=False).collect()
    assert [(r.timeseries_id, r.fc1_flag) for r in batch] == [("s1", 1)]


def test_compact_recovery_merges_stranded_retained_overlay(
    spark, tmp_path
):
    """If compact() crashed in its one-rename window
    and a later update RECREATED the overlay dir, the next compact()
    must MERGE the stranded retained rows back instead of deleting
    them as residue."""
    from rusty_timeseries_db_spark.api import TimeseriesEngine
    from rusty_timeseries_db_spark.schema import TELEMETRY_INGEST_SCHEMA
    from rusty_timeseries_db_spark.streaming.ingest import (
        commit_batch_exactly_once,
        normalize_batch,
    )

    wh = str(tmp_path / "wh")
    eo_raw = spark.createDataFrame(
        [("eo", "2024-08-28T10:00:00Z", 0.99, None, "se")],
        TELEMETRY_INGEST_SCHEMA,
    )
    commit_batch_exactly_once(
        normalize_batch(eo_raw, 0), 0, os.path.join(wh, "telemetry_eo")
    )
    eng = TimeseriesEngine(spark, wh)
    eng.ingest_rows([
        {"sensor_name": "b", "timestamp": "2024-08-28T12:00:00Z",
         "value": 1.0, "fc1_flag": None, "timeseries_id": "sb"},
    ])
    # flag the EO row, then simulate the crash window: the EO-targeting
    # overlay rows sit ONLY in the stranded sibling dir
    assert eng.run_fault_detection(
        "se", "2024-08-28T10:00:00Z", "2024-08-28T10:01:00Z"
    ) == 1
    import shutil

    shutil.move(eng.overlay_path, eng.overlay_path + "__retained")
    # an intervening update recreates the overlay dir
    assert eng.update_rows([
        {"sensor_name": "b", "timestamp": "2024-08-28T12:00:00Z",
         "value": 9.0, "fc1_flag": None, "timeseries_id": "sb"},
    ]) == 1
    eng.compact()  # must merge the stranded rows, not rmtree them
    t = {(r.timeseries_id, r.ts_raw): (r.value, r.fc1_flag)
         for r in eng.telemetry().collect()}
    assert t[("se", "2024-08-28T10:00:00Z")][1] == 1  # flag recovered
    assert t[("sb", "2024-08-28T12:00:00Z")][0] == 9.0
    assert not os.path.isdir(eng.overlay_path + "__retained")

    # a fresh instance seeds its version counter from the overlay AND
    # any stranded sibling: its update must outrank
    # everything recovered, never lose to a resurrected stale row
    eng3 = TimeseriesEngine(spark, wh)
    assert eng3.update_rows([
        {"sensor_name": "eo", "timestamp": "2024-08-28T10:00:00Z",
         "value": 4.2, "fc1_flag": None, "timeseries_id": "se"},
    ]) == 1
    shutil.move(eng3.overlay_path, eng3.overlay_path + "__retained")
    eng4 = TimeseriesEngine(spark, wh)
    assert eng4._next_overlay_version() > 1  # saw the stranded rows

    # an EMPTY stranded sibling (crash before part files landed) must
    # not block compaction forever — swallowed with cleanup
    shutil.rmtree(eng3.overlay_path + "__retained")
    os.makedirs(eng3.overlay_path + "__retained")
    eng3.ingest_rows([
        {"sensor_name": "b", "timestamp": "2024-08-28T13:00:00Z",
         "value": 1.0, "fc1_flag": None, "timeseries_id": "sb"},
    ])
    eng3.update_rows([
        {"sensor_name": "b", "timestamp": "2024-08-28T13:00:00Z",
         "value": 2.0, "fc1_flag": None, "timeseries_id": "sb"},
    ])
    eng3.compact()  # would raise 'Unable to infer schema' unguarded
    assert not os.path.isdir(eng3.overlay_path + "__retained")


def test_exactly_once_damaged_manifest_propagates_to_reads(spark, tmp_path):
    """The EO serving reader has no correct fallback (committed rows
    exist nowhere else), so a damaged manifest RAISES through
    engine.telemetry() — unlike the last-value snapshot reader, which
    degrades to the batch argmax it can compute anyway."""
    import pytest

    from rusty_timeseries_db_spark.api import TimeseriesEngine

    wh = str(tmp_path / "wh")
    eo = os.path.join(wh, "telemetry_eo")
    os.makedirs(eo)
    with open(os.path.join(eo, "_manifest.json"), "w") as f:
        f.write("{torn")
    eng = TimeseriesEngine(spark, wh)
    with pytest.raises(IOError):
        eng.telemetry().count()
    # an explicit opt-out still serves the (empty) batch face
    assert TimeseriesEngine(
        spark, wh, exactly_once=False
    ).telemetry().count() == 0


def test_damaged_pointer_reader_falls_back_writer_raises(spark, tmp_path):
    """The damage contract is role-aware —
    the READER (engine.latest / GET /latest) degrades to the correct
    batch-argmax fallback with a warning when the snapshot pointer is
    damaged (no serving outage); direct read_latest_values (and the
    sink) still raise. Wrong-SHAPE manifests get the same actionable
    IOError as torn ones, not a bare KeyError."""
    import json as _json
    import warnings as _warnings

    import pytest

    from rusty_timeseries_db_spark.api import TimeseriesEngine
    from rusty_timeseries_db_spark.streaming.ingest import (
        _read_latest_manifest,
        _read_manifest,
        read_latest_values,
    )

    wh = str(tmp_path / "wh")
    eng = TimeseriesEngine(spark, wh)
    eng.ingest_rows([
        {"sensor_name": "Sa", "timestamp": "2024-08-28T12:00:00Z",
         "value": 0.5, "fc1_flag": None, "timeseries_id": "s1"},
    ])
    eng2 = TimeseriesEngine(spark, wh)  # fresh: would prefer a snapshot
    lat = os.path.join(wh, "latest")
    os.makedirs(lat)
    with open(os.path.join(lat, "_latest.json"), "w") as f:
        f.write("{torn")
    with pytest.raises(IOError):
        read_latest_values(spark, wh)  # the raw reader keeps the raise
    with _warnings.catch_warnings(record=True) as caught:
        _warnings.simplefilter("always")
        got = eng2.latest().collect()  # the serving wrapper falls back
    assert any("snapshot unreadable" in str(w.message) for w in caught)
    assert [(r.timeseries_id, r.value) for r in got] == [("s1", 0.5)]

    # wrong-shape (valid JSON, missing keys): actionable IOError
    with open(os.path.join(lat, "_latest.json"), "w") as f:
        _json.dump({"nope": 1}, f)
    with pytest.raises(IOError, match="unexpected shape"):
        _read_latest_manifest(lat, spark)
    eo = str(tmp_path / "eo")
    os.makedirs(eo)
    with open(os.path.join(eo, "_manifest.json"), "w") as f:
        _json.dump([1, 2], f)
    with pytest.raises(IOError, match="unexpected shape"):
        _read_manifest(eo, spark)


def test_eo_time_travel_as_of_hwm(spark, tmp_path):
    """The exactly-once lineage
    gets its own snapshot cursor — telemetry(as_of_eo_hwm=N) reads
    exactly the rows of committed micro-batches with id <= N (the
    consistent cut the EO manifest's hwm defines), survives
    compaction via the seq-embedded batch id, excludes overlay
    mutations like as_of_seq does, and composes with the batch cursor
    for a two-lineage snapshot."""
    import pytest

    from rusty_timeseries_db_spark.api import TimeseriesEngine
    from rusty_timeseries_db_spark.streaming.ingest import (
        commit_batch_exactly_once,
        compact_exactly_once,
        normalize_batch,
    )

    wh = str(tmp_path / "wh")
    path = os.path.join(wh, "telemetry_eo")

    def _batch(k):
        return spark.createDataFrame(
            [("S", f"2024-01-0{k + 1}T00:00:00Z", float(k), None, "s1")],
            "sensor_name string, timestamp string, value double, "
            "fc1_flag int, timeseries_id string",
        )

    for k in range(3):
        assert commit_batch_exactly_once(normalize_batch(_batch(k), k), k, path)

    eng = TimeseriesEngine(spark, wh)
    assert eng.current_eo_hwm() == 2
    assert {r.value for r in eng.telemetry(as_of_eo_hwm=1).collect()} == {0.0, 1.0}
    assert eng.telemetry(as_of_eo_hwm=-1).count() == 0
    assert {r.value for r in eng.telemetry(as_of_eo_hwm=2).collect()} == {0.0, 1.0, 2.0}

    # overlay mutations are LATER than any committed cut — excluded
    # from snapshots (same contract as as_of_seq), served live
    eng.update_rows([
        {"sensor_name": "S", "timestamp": "2024-01-01T00:00:00Z",
         "value": 100.0, "fc1_flag": None, "timeseries_id": "s1"},
    ])
    assert 100.0 in {r.value for r in eng.telemetry().collect()}
    assert {r.value for r in eng.telemetry(as_of_eo_hwm=2).collect()} == {0.0, 1.0, 2.0}

    # the cut SURVIVES compaction: batch dirs fold into compact=0, and
    # the row filter on ingest_seq's embedded batch id still selects
    # exactly batches <= N
    assert compact_exactly_once(spark, wh) == 3
    assert {r.value for r in eng.telemetry(as_of_eo_hwm=1).collect()} == {0.0, 1.0}
    assert eng.current_eo_hwm() == 2
    # a post-compaction commit advances the cursor; old cuts unchanged
    assert commit_batch_exactly_once(normalize_batch(_batch(3), 3), 3, path)
    assert eng.current_eo_hwm() == 3
    assert {r.value for r in eng.telemetry(as_of_eo_hwm=1).collect()} == {0.0, 1.0}

    # two-cursor snapshot: batch lineage + EO lineage, each cut by its
    # own counter; one cursor alone reads the other lineage as empty
    eng.ingest_rows([
        {"sensor_name": "B", "timestamp": "2024-02-01T00:00:00Z",
         "value": 50.0, "fc1_flag": None, "timeseries_id": "s2"},
    ])
    seq = eng.current_seq()
    both = eng.telemetry(as_of_seq=seq, as_of_eo_hwm=1)
    assert {r.value for r in both.collect()} == {50.0, 0.0, 1.0}
    assert {r.value for r in eng.telemetry(as_of_seq=seq).collect()} == {50.0}

    # an engine pinned exactly_once=False has no EO lineage to cut
    with pytest.raises(ValueError, match="as_of_eo_hwm"):
        TimeseriesEngine(spark, wh, exactly_once=False).telemetry(
            as_of_eo_hwm=1
        )
    # nothing committed yet: the explicit EO cut is the EMPTY cut
    empty = TimeseriesEngine(spark, str(tmp_path / "wh_empty"))
    assert empty.telemetry(as_of_eo_hwm=5).count() == 0
    assert empty.current_eo_hwm() == -1


def test_batch_ingest_into_eo_wired_warehouse_warns(spark, tmp_path):
    """Batch ingest into a
    warehouse whose streaming lineage is purely exactly-once creates
    the dual-lineage ambiguity AT WRITE TIME — warn there (once per
    engine instance), not only when latest() later serves a
    snapshot. A plain warehouse stays silent."""
    import warnings

    from rusty_timeseries_db_spark.api import TimeseriesEngine

    row = {"sensor_name": "S", "timestamp": "2024-03-01T00:00:00Z",
           "value": 1.0, "fc1_flag": None, "timeseries_id": "s1"}

    eo_wh = str(tmp_path / "eo_wh")
    os.makedirs(os.path.join(eo_wh, "_checkpoints/ingest_eo/offsets"))
    with open(
        os.path.join(eo_wh, "_checkpoints/ingest_eo/offsets/0"), "w"
    ) as f:
        f.write("{}")
    eng = TimeseriesEngine(spark, eo_wh)
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        eng.ingest_rows([row])
        eng.ingest_rows([row])  # once per engine instance
    hits = [x for x in w if "mixed-lineage" in str(x.message)]
    assert len(hits) == 1

    plain_wh = str(tmp_path / "plain_wh")
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        TimeseriesEngine(spark, plain_wh).ingest_rows([row])
    assert not [x for x in w if "mixed-lineage" in str(x.message)]
