"""Streaming corpus ingest (streaming/corpus.py): quality gate, dedup,
quarantine, and stream/batch parity for continuously-arriving docs."""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

from rusty_timeseries_db_spark.operators.dedup import content_hash
from rusty_timeseries_db_spark.streaming.corpus import (
    read_document_stream,
    start_corpus_sink,
)


def _write_jsonl(path, rows, raw_lines=()):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")
        for line in raw_lines:
            f.write(line + "\n")


_TS = "2026-01-01T00:{m:02d}:00"


def _doc(i, text, source="srcA", minute=0):
    return {
        "doc_id": i,
        "text": text,
        "lang": "en",
        "source": source,
        "ingest_ts": _TS.format(m=minute),
    }


GOOD = "a fine document with plenty of reasonable tokens inside it"
DUP = "this exact document text arrives twice within the watermark"


def test_corpus_sink_end_to_end(spark, tmp_path):
    """One availableNow pass over two drop files: good docs land
    partitioned by source with stage-1 columns, the too-short doc is
    rejected with a reason, the corrupt line is quarantined verbatim,
    and the within-watermark duplicate content lands exactly once."""
    src = str(tmp_path / "drop")
    wh = str(tmp_path / "wh")
    quarantine = str(tmp_path / "quarantine")
    rejects = str(tmp_path / "rejects")
    _write_jsonl(
        os.path.join(src, "f1.json"),
        [
            _doc(1, GOOD, source="srcA", minute=0),
            _doc(2, DUP, source="srcA", minute=1),
            _doc(3, "tiny", source="srcB", minute=1),
        ],
        raw_lines=["{this is not json"],
    )
    _write_jsonl(
        os.path.join(src, "f2.json"),
        [
            _doc(4, DUP, source="srcB", minute=2),  # dup content, in window
            _doc(5, GOOD + " but different", source="srcB", minute=3),
        ],
    )
    stream = read_document_stream(spark, src, with_corrupt_record=True)
    q = start_corpus_sink(
        stream,
        wh,
        min_tokens=5,
        dedup_watermark="10 minutes",
        quarantine_dir=quarantine,
        rejects_dir=rejects,
        available_now=True,
    )
    q.awaitTermination(120)

    out = spark.read.parquet(os.path.join(wh, "documents"))
    ids = sorted(r.doc_id for r in out.select("doc_id").collect())
    # doc 3 rejected; exactly ONE of {2, 4} survives the content dedup
    assert 1 in ids and 5 in ids and 3 not in ids
    assert len([i for i in ids if i in (2, 4)]) == 1
    row = out.filter(F.col("doc_id") == 1).collect()[0]
    assert row.n_tok == 10 and 0.0 < row.quality <= 1.0
    assert row.content_hash is not None and row.batch_id >= 0
    # partitionBy(source) → source survives the roundtrip as a column
    assert row.source == "srcA"

    quarantined = spark.read.text(quarantine).collect()
    assert [r.value for r in quarantined] == ["{this is not json"]

    rej = spark.read.parquet(rejects).collect()
    assert len(rej) == 1
    assert rej[0].doc_id == 3 and rej[0].reject_reason == "too_short"


def test_corpus_sink_stream_batch_parity(spark, tmp_path):
    """The accepted set equals the batch pipeline's stage-1 decisions
    over the same lines: same token gate, same content_hash dedup
    (keep-one), computed with the SAME expressions."""
    src = str(tmp_path / "drop")
    wh = str(tmp_path / "wh")
    rows = [
        _doc(10, GOOD, minute=0),
        _doc(11, DUP, minute=1),
        _doc(12, DUP, minute=2),
        _doc(13, "short one", minute=2),
        _doc(14, GOOD + " v2", source="srcB", minute=3),
    ]
    _write_jsonl(os.path.join(src, "f.json"), rows)
    q = start_corpus_sink(
        read_document_stream(spark, src),
        wh,
        min_tokens=5,
        dedup_watermark="10 minutes",
        available_now=True,
    )
    q.awaitTermination(120)
    streamed = spark.read.parquet(os.path.join(wh, "documents"))

    batch = spark.createDataFrame(
        [(r["doc_id"], r["text"]) for r in rows], "doc_id long, text string"
    ).withColumn("_h", content_hash(F.col("text")))
    batch_kept = (
        batch.withColumn(
            "_n", F.size(F.filter(F.split(F.lower("text"), " "),
                                  lambda t: F.length(t) > 0))
        )
        .filter(F.col("_n") >= 5)
        .groupBy("_h")
        .agg(F.count(F.lit(1)).alias("_c"))
    )
    # same number of surviving distinct contents, and every streamed
    # content_hash is one the batch pass keeps
    streamed_hashes = {r.content_hash for r in streamed.collect()}
    batch_hashes = {r._h for r in batch_kept.collect()}
    assert streamed_hashes == batch_hashes


def test_corpus_sink_requires_corrupt_flag_for_quarantine(spark, tmp_path):
    import pytest

    (tmp_path / "d").mkdir()
    stream = read_document_stream(spark, str(tmp_path / "d"))
    with pytest.raises(ValueError, match="with_corrupt_record"):
        start_corpus_sink(
            stream, str(tmp_path / "wh"), quarantine_dir=str(tmp_path / "qq")
        )


def test_engine_facade_corpus_ingest(spark, tmp_path):
    """engine.start_corpus_ingest wires source -> sink -> warehouse
    documents table end-to-end, with the corrupt flag derived from
    quarantine_dir exactly like start_streaming_ingest."""
    from rusty_timeseries_db_spark import TimeseriesEngine

    src = str(tmp_path / "drop")
    quarantine = str(tmp_path / "q")
    _write_jsonl(
        os.path.join(src, "f.json"),
        [_doc(1, GOOD)],
        raw_lines=["not json at all"],
    )
    eng = TimeseriesEngine(spark, str(tmp_path / "wh"))
    q = eng.start_corpus_ingest(
        src, quarantine_dir=quarantine, available_now=True
    )
    q.awaitTermination(120)
    docs = spark.read.parquet(str(tmp_path / "wh" / "documents"))
    assert [r.doc_id for r in docs.collect()] == [1]
    assert spark.read.text(quarantine).count() == 1


def test_null_ingest_ts_row_is_not_lost_in_dedup_mode(spark, tmp_path):
    """A schema-valid row missing the ingest_ts stamp still lands in
    the table (its dedup state just never watermark-evicts — the
    documented producer contract); pinned so a Spark behavior change
    here fails loudly instead of silently dropping data."""
    src = str(tmp_path / "drop")
    wh = str(tmp_path / "wh")
    _write_jsonl(
        os.path.join(src, "f.json"),
        [
            _doc(1, GOOD, minute=0),
            {**_doc(2, GOOD + " two"), "ingest_ts": None},
        ],
    )
    q = start_corpus_sink(
        read_document_stream(spark, src), wh,
        min_tokens=3, dedup_watermark="10 minutes", available_now=True,
    )
    q.awaitTermination(120)
    out = spark.read.parquet(os.path.join(wh, "documents"))
    assert sorted(r.doc_id for r in out.collect()) == [1, 2]


# ------------------------- streaming PIT enrichment

def test_streaming_enrichment_stream_batch_parity(spark, tmp_path):
    """Every micro-batch enriches against the static feature tables
    with full as-of semantics; the union of landed rows equals the
    BATCH pit_join over the same input — including a future-dated
    feature that must not leak and a missing feature reading NULL."""
    import json
    import os

    from pyspark.sql import functions as F

    from rusty_timeseries_db_spark.operators.asof import pit_join
    from rusty_timeseries_db_spark.streaming.enrich import (
        read_enriched,
        start_enriched_sink,
    )

    src = str(tmp_path / "drop")
    wh = str(tmp_path / "wh")
    os.makedirs(src)

    def _ev(i, user, minute):
        return {
            "doc_id": i, "text": "x", "lang": "en", "source": user,
            "ingest_ts": f"2026-01-01T00:{minute:02d}:00",
        }

    # reuse the corpus drop-dir schema as a generic event stream:
    # (doc_id=event id, source=user key, ingest_ts=event time)
    with open(os.path.join(src, "f1.json"), "w") as f:
        for row in [_ev(1, "u1", 10), _ev(2, "u2", 10)]:
            f.write(json.dumps(row) + "\n")
    with open(os.path.join(src, "f2.json"), "w") as f:
        f.write(json.dumps(_ev(3, "u1", 30)) + "\n")

    feats = {
        "a": spark.createDataFrame(
            [("u1", "2026-01-01 00:05:00", 5.0),
             ("u1", "2026-01-01 00:20:00", 7.0),   # future for ev 1
             ("u2", "2026-01-01 00:50:00", 9.0)],  # future for ev 2
            "source string, ts_s string, v double",
        ).select("source", F.to_timestamp("ts_s").alias("ts"), "v"),
    }

    from rusty_timeseries_db_spark.streaming.corpus import (
        read_document_stream,
    )

    stream = read_document_stream(spark, src).withColumnRenamed(
        "ingest_ts", "ts"
    ).select("doc_id", "source", "ts")
    q = start_enriched_sink(
        stream, feats, wh, on=["source"], available_now=True
    )
    assert q.awaitTermination(120)

    landed = read_enriched(spark, wh)
    got = {r.doc_id: r.v_a for r in landed.collect()}
    assert got == {1: 5.0, 2: None, 3: 7.0}

    # parity: batch pit_join over the same rows
    batch = spark.createDataFrame(
        [(1, "u1", "2026-01-01 00:10:00"),
         (2, "u2", "2026-01-01 00:10:00"),
         (3, "u1", "2026-01-01 00:30:00")],
        "doc_id long, source string, ts_s string",
    ).select("doc_id", "source", F.to_timestamp("ts_s").alias("ts"))
    ref = {r.doc_id: r.v_a for r in pit_join(
        batch, feats, on=["source"]
    ).collect()}
    assert got == ref
