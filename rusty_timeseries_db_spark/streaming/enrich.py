"""Streaming point-in-time feature enrichment — the serving face of
:func:`..operators.asof.pit_join`.

An online training-data or feature-serving pipeline does not batch-join
after the fact: events arrive continuously and each must pick up its
feature values AS OF ITS OWN TIMESTAMP before landing. Spark's native
stream-static join cannot express as-of semantics (the window functions
an as-of needs are not allowed on a streaming frame), so the enrichment
runs per micro-batch inside ``foreachBatch``, where the batch is a
plain DataFrame and the full batch pit_join machinery applies — the
same correctness contract as the batch operator (no future leakage,
optional staleness tolerance, NULL for missing features), certified by
stream/batch parity tests rather than a weaker re-implementation.

Scale notes: feature tables are the STATIC side (dimension-sized —
broadcast or one co-keyed shuffle per asof pass inside a micro-batch,
identical plan shape to the batch operator); the stream side never
holds state between batches (the enrichment is stateless row-local
work given the features), so there is no watermark and no state store
— crash recovery is the checkpoint's offset replay plus an append sink,
giving at-least-once delivery like the plain telemetry sink.

No reference analog (main.rs is numeric telemetry only; SURVEY §2.2
extension family).
"""

from __future__ import annotations

import os
from collections.abc import Mapping, Sequence

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

from ..operators.asof import pit_join


def start_enriched_sink(
    stream: DataFrame,
    features: Mapping[str, DataFrame],
    warehouse_dir: str,
    on: Sequence[str],
    spine_ts: str = "ts",
    feature_ts: str = "ts",
    right_order: str | None = None,
    tolerance_seconds: int | None = None,
    trigger_seconds: int | None = None,
    available_now: bool = False,
    with_batch_id: bool = False,
) -> StreamingQuery:
    """Append ``pit_join(batch, features)`` of every micro-batch to
    ``<warehouse>/enriched`` Parquet. Feature frames are captured at
    sink start; swap features by restarting the sink (the checkpoint
    resumes from the last committed offset, and already-landed rows
    keep the features they were enriched with — an audit property,
    not a bug: re-enriching history is a batch backfill's job).
    ``with_batch_id=True`` stamps each landed row with its micro-batch
    id (the corpus sink's certification column: lets an
    oracle attribute every row to the batch that enriched it)."""
    from pyspark.sql import functions as F

    path = os.path.join(warehouse_dir, "enriched")

    def _sink(batch: DataFrame, batch_id: int) -> None:
        enriched = pit_join(
            batch,
            features,
            on=on,
            spine_ts=spine_ts,
            feature_ts=feature_ts,
            right_order=right_order,
            tolerance_seconds=tolerance_seconds,
        )
        if with_batch_id:
            enriched = enriched.withColumn(
                "batch_id", F.lit(batch_id).cast("bigint")
            )
        enriched.write.mode("append").parquet(path)

    writer = stream.writeStream.foreachBatch(_sink).option(
        "checkpointLocation",
        os.path.join(warehouse_dir, "_checkpoints/enrich"),
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    elif trigger_seconds:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    return writer.start()


def read_enriched(spark, warehouse_dir: str) -> DataFrame | None:
    """The landed enriched table, or None before the first commit."""
    path = os.path.join(warehouse_dir, "enriched")
    if not os.path.isdir(path):
        return None
    return spark.read.parquet(path)
