"""Flag-overlay update semantics on immutable storage (SURVEY §7.4).

The reference mutates rows in place: R2 point update (main.rs:106-117)
and the FDD write-back (main.rs:397-405). Parquet files are immutable,
so updates are modeled as an append-only *overlay* table keyed by
``ingest_seq`` (the stable row identity); the public view left-joins the
overlay and takes last-write-wins per row.

Scale note: the overlay join is keyed on a single long column and the
overlay is tiny relative to the base (updates are rare in telemetry), so
Spark broadcasts it; a periodic compaction job (``compact``) folds the
overlay into the base files partition-by-partition.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

#: Columns an overlay row may replace.
_PAYLOAD = ["sensor_name", "ts", "ts_raw", "value", "fc1_flag", "timeseries_id"]


def apply_overlay(base: DataFrame, overlay: DataFrame) -> DataFrame:
    """Return the logical table: base rows with the latest overlay row
    (if any) substituted, keyed by ``ingest_seq``.

    "Latest" is decided by the explicit ``overlay_version`` column
    stamped at write time — NOT by any scan-order artifact (a
    monotonically_increasing_id at read time follows file enumeration
    order, which is not write order; caught by the overlay property
    test). A file written before that column existed reads its version
    as null, which sorts last."""
    latest = (
        overlay.withColumn(
            "_rn",
            F.row_number().over(
                Window.partitionBy("ingest_seq").orderBy(
                    F.col("overlay_version").desc()
                )
            ),
        )
        .filter(F.col("_rn") == 1)
        .drop("_rn", "overlay_version")
    )
    o = latest.select(
        F.col("ingest_seq").alias("_o_seq"),
        *[F.col(c).alias(f"_o_{c}") for c in _PAYLOAD],
    )
    joined = base.join(
        F.broadcast(o), base["ingest_seq"] == o["_o_seq"], "left"
    )
    # Wholesale payload substitution: when an overlay row matches, EVERY
    # payload column comes from it — including NULLs. A per-column
    # coalesce would silently mix rows (e.g. an overlay with an
    # unparseable timestamp carries ts=NULL + its own ts_raw; coalesce
    # would keep the BASE ts next to the OVERLAY ts_raw — an
    # inconsistent pair that never existed).
    cols = [
        F.when(F.col("_o_seq").isNotNull(), F.col(f"_o_{c}"))
        .otherwise(F.col(c))
        .alias(c)
        for c in _PAYLOAD
    ]
    extra = [c for c in base.columns if c not in _PAYLOAD]
    return joined.select(*cols, *[F.col(c) for c in extra])


def build_overlay_for_updates(base: DataFrame, updates: DataFrame) -> DataFrame:
    """R2 semantics (main.rs:106-117): each update hits the *first*
    (minimum ``ingest_seq``) base row whose ``(ts_raw, timeseries_id)``
    equals the update key. Returns overlay rows to append."""
    first_match = (
        base.groupBy("ts_raw", "timeseries_id")
        .agg(F.min("ingest_seq").alias("ingest_seq"))
    )
    u = updates.select(
        F.col("ts_raw").alias("_u_ts_raw"),
        F.col("timeseries_id").alias("_u_id"),
        *[
            F.col(c).alias(f"_u_{c}")
            for c in _PAYLOAD
            if c not in ("ts_raw", "timeseries_id")
        ],
    )
    return (
        first_match.join(
            F.broadcast(u),
            (first_match["ts_raw"] == u["_u_ts_raw"])
            & (first_match["timeseries_id"] == u["_u_id"]),
            "inner",
        )
        .select(
            F.col("_u_sensor_name").alias("sensor_name"),
            F.col("_u_ts").alias("ts"),
            F.col("ts_raw"),
            F.col("_u_value").alias("value"),
            F.col("_u_fc1_flag").alias("fc1_flag"),
            F.col("timeseries_id"),
            F.col("ingest_seq"),
        )
    )


def compact(base: DataFrame, overlay: DataFrame) -> DataFrame:
    """Fold the overlay into a new base frame (periodic maintenance).
    Callers rewrite the affected partitions with the result."""
    return apply_overlay(base, overlay)
