"""Visualization downsampling — LTTB and min-max decimation (the
operators a timeseries UI calls before plotting millions of points;
the reference returns raw rows only, main.rs:300-315).

Two operators with different contracts:

- ``minmax_decimate`` — per (series, time-bucket) keep the rows
  achieving the bucket's min and max value (ties broken by id, so the
  selection is total-ordered and ORACLE-CHECKABLE). Pure relational:
  one window rank over the bucket key, fully JVM-side, one shuffle.
  Preserves every extreme; output ≤ 2 rows/bucket.

- ``lttb`` — Largest-Triangle-Three-Buckets (Steinarsson 2013, the
  de-facto charting standard): picks the point per bucket that
  maximizes the triangle area with the PREVIOUSLY SELECTED point and
  the next bucket's centroid. That trailing dependency makes it
  inherently sequential per series — exactly the grouped-map
  (``applyInPandas``) shape this engine reserves for per-series model
  logic (functions/udfs.py policy). Scale: parallelism = #series;
  a single series larger than ``max_group_rows`` is pre-decimated
  (min/max per equi-count bucket, JVM-side) before the pandas pick,
  so one pandas group is BOUNDED BY CONSTRUCTION.
"""

from __future__ import annotations

import warnings

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

_REQUIRED = object()  # sentinel: distinguishes "omitted" from explicit None


def minmax_decimate(
    df: DataFrame,
    key_cols: list[str],
    ts_col: str = "ts",
    value_col: str = "value",
    id_col=_REQUIRED,
    bucket_seconds: int = 3600,
) -> DataFrame:
    """Keep the min-valued and max-valued row per (keys, bucket).

    Deterministic: within a bucket, ties on value break by ``id_col``
    (required for a total order when duplicate values exist). Passing
    ``id_col=None`` EXPLICITLY is allowed for inputs
    whose values cannot tie, and warns: the row_number pick is then
    partition-arrival-ordered and may differ across runs. Output
    columns = input columns + ``bucket_start``; a row that is both the
    min and max (single-row bucket) appears once.
    """
    if id_col is _REQUIRED:
        raise TypeError(
            "minmax_decimate: id_col is required for a deterministic "
            "tie-break; pass a unique row id, or id_col=None explicitly "
            "to accept nondeterministic picks on value ties"
        )
    if id_col is None:
        warnings.warn(
            "minmax_decimate(id_col=None): picks are nondeterministic "
            "whenever a bucket holds duplicate values",
            stacklevel=2,
        )
    tiebreak = [F.col(id_col)] if id_col else []
    bucket = F.timestamp_seconds(
        (F.unix_timestamp(ts_col) / bucket_seconds).cast("bigint")
        * bucket_seconds
    ).alias("bucket_start")
    b = df.withColumn("bucket_start", bucket)
    part = Window.partitionBy(*key_cols, "bucket_start")
    # nulls LAST on both directions: Spark's default asc is
    # nulls-first, which would crown a NULL reading as the bucket
    # "min" — a NULL is a missing measurement, not an extreme. With
    # nulls-last a NULL row can only survive in an all-NULL bucket
    # (degenerate but honest), and the ordering matches DuckDB's
    # default null placement on both legs.
    lo = F.row_number().over(
        part.orderBy(F.col(value_col).asc_nulls_last(), *tiebreak)
    )
    hi = F.row_number().over(
        part.orderBy(F.col(value_col).desc_nulls_last(), *tiebreak)
    )
    return (
        b.withColumn("_lo", lo)
        .withColumn("_hi", hi)
        .filter((F.col("_lo") == 1) | (F.col("_hi") == 1))
        .drop("_lo", "_hi")
    )


def m4_decimate(
    df: DataFrame,
    key_cols: list[str],
    ts_col: str = "ts",
    value_col: str = "value",
    id_col=_REQUIRED,
    bucket_seconds: int = 3600,
) -> DataFrame:
    """M4 visualization aggregation (Jugel et al., VLDB'14
    "M4: A Visualization-Oriented Time Series Data Aggregation"): keep
    per (keys, bucket) the FOUR pixel-defining rows — min-valued,
    max-valued, FIRST (earliest ts) and LAST (latest ts) — the
    smallest row set whose line rendering is pixel-identical to the
    full series at the chosen bucket width. Strictly dominates
    :func:`minmax_decimate` for line charts (min/max alone misplace
    the bucket's entry/exit strokes).

    Same determinism contract as minmax_decimate: ``id_col`` breaks
    ties (value ties AND duplicate timestamps), NULL values order
    LAST on the value legs (a missing measurement is never an
    extreme), and a row winning several roles appears once. Output =
    input columns + ``bucket_start``. Scale shape: ONE hash partition
    per (keys, bucket) serves all four intra-bucket sorts — rows
    never leave their bucket's partition, no shuffle beyond the
    window's own.
    """
    if id_col is _REQUIRED:
        raise TypeError(
            "m4_decimate: id_col is required for a deterministic "
            "tie-break; pass a unique row id, or id_col=None explicitly "
            "to accept nondeterministic picks on ties"
        )
    if id_col is None:
        warnings.warn(
            "m4_decimate(id_col=None): picks are nondeterministic "
            "whenever a bucket holds duplicate values or timestamps",
            stacklevel=2,
        )
    tiebreak = [F.col(id_col)] if id_col else []
    bucket = F.timestamp_seconds(
        (F.unix_timestamp(ts_col) / bucket_seconds).cast("bigint")
        * bucket_seconds
    ).alias("bucket_start")
    b = df.withColumn("bucket_start", bucket)
    part = Window.partitionBy(*key_cols, "bucket_start")
    legs = {
        "_lo": part.orderBy(F.col(value_col).asc_nulls_last(), *tiebreak),
        "_hi": part.orderBy(F.col(value_col).desc_nulls_last(), *tiebreak),
        # nulls-last on the ts legs too: a NULL-timestamp row is
        # neither the bucket's entry nor its exit stroke (and matches
        # DuckDB's default placement on both directions)
        "_first": part.orderBy(F.col(ts_col).asc_nulls_last(), *tiebreak),
        "_last": part.orderBy(F.col(ts_col).desc_nulls_last(), *tiebreak),
    }
    for name, w in legs.items():
        b = b.withColumn(name, F.row_number().over(w))
    keep = (
        (F.col("_lo") == 1) | (F.col("_hi") == 1)
        | (F.col("_first") == 1) | (F.col("_last") == 1)
    )
    return b.filter(keep).drop("_lo", "_hi", "_first", "_last")


def _bound_series_rows(
    df: DataFrame,
    key_cols: list[str],
    ts_col: str,
    value_col: str,
    max_group_rows: int,
) -> DataFrame:
    """Cap every series at ≤ ``max_group_rows`` rows, JVM-side.

    Series within the cap pass through UNTOUCHED. Oversized series are
    min/max-decimated over ``max_group_rows // 2`` equal-time buckets
    spanning exactly that series' own [min ts, max ts] — keeping every
    local extreme, the same fidelity contract as ``minmax_decimate``
    but with a per-series ROW bound instead of a global bucket width.

    Cost: one per-series stats aggregation always (narrow — key + ts
    only); when NO series exceeds the cap — the common case — the
    stats check short-circuits and the input is returned unchanged, so
    the (key, bucket) decimation window (its own exchange) is only
    paid when an oversized series actually exists.

    The series' first- and last-timestamp rows are always kept (LTTB's
    endpoint contract must survive the guard), so the bound is
    ``2 * nb + 2`` ≤ ``max_group_rows`` (+ duplicate endpoint
    timestamps, if any).
    """
    nb = max(1, (max_group_rows - 2) // 2)
    stats = (
        df.groupBy(*key_cols)
        .agg(
            F.count(F.lit(1)).alias("_cnt"),
            F.min(F.unix_micros(F.col(ts_col))).alias("_t0"),
            F.max(F.unix_micros(F.col(ts_col))).alias("_t1"),
        )
        .filter(F.col("_cnt") > max_group_rows)
    )
    # the oversized-series stats are collected ONCE (≤ #series rows,
    # tiny by construction) — deliberate eager work: no oversized
    # series (the common case) → input passes through with NO added
    # exchange, and the slow path rebuilds the stats as a local-rows
    # DataFrame so the aggregation never executes a second time for
    # the broadcast join.
    rows = stats.collect()
    if not rows:
        return df
    stats_local = df.sparkSession.createDataFrame(rows, stats.schema)
    b = df.join(F.broadcast(stats_local), key_cols, "left")
    # bucket in [0, nb-1]; double arithmetic — a boundary row drifting
    # one bucket over is harmless for a memory bound (and span*nb can
    # overflow bigint for century-long series)
    t = F.unix_micros(F.col(ts_col))
    span = (F.col("_t1") - F.col("_t0") + F.lit(1)).cast("double")
    bucket = F.least(
        F.floor((t - F.col("_t0")).cast("double") * nb / span),
        F.lit(nb - 1),
    )
    b = b.withColumn(
        "_g_bucket", F.when(F.col("_cnt").isNotNull(), bucket)
    )
    part = Window.partitionBy(*key_cols, "_g_bucket")
    order_lo = [F.col(value_col).asc(), F.col(ts_col).asc()]
    order_hi = [F.col(value_col).desc(), F.col(ts_col).asc()]
    lo = F.row_number().over(part.orderBy(*order_lo))
    hi = F.row_number().over(part.orderBy(*order_hi))
    return (
        b.withColumn("_lo", lo)
        .withColumn("_hi", hi)
        .filter(
            F.col("_cnt").isNull()  # in-cap series: keep every row
            | (F.col("_lo") == 1)
            | (F.col("_hi") == 1)
            | (t == F.col("_t0"))  # endpoint rows always survive
            | (t == F.col("_t1"))
        )
        .drop("_cnt", "_t0", "_t1", "_g_bucket", "_lo", "_hi")
    )


def lttb(
    df: DataFrame,
    key_cols: list[str],
    ts_col: str = "ts",
    value_col: str = "value",
    n_out: int = 200,
    max_group_rows: int | None = 500_000,
) -> DataFrame:
    """Downsample each series to ≤ ``n_out`` points with LTTB.

    Output schema: key cols + (ts, value). First and last points of
    each series are always kept; interior points are chosen per bucket
    to maximize visual fidelity (triangle area). Series with ≤ n_out
    points pass through unchanged.

    Memory guard: a series longer than ``max_group_rows`` is first
    min/max pre-decimated (JVM-side, see ``_bound_series_rows``) so no
    pandas group ever exceeds the bound — LTTB then picks among the
    surviving extremes. Set ``max_group_rows=None`` to disable (only
    when every series is known to fit executor memory).
    """
    if n_out < 3:
        raise ValueError(f"n_out must be >= 3, got {n_out}")
    if max_group_rows is not None:
        if max_group_rows < 2 * n_out:
            raise ValueError(
                f"max_group_rows ({max_group_rows}) must be >= 2*n_out "
                f"({2 * n_out}) so the guard never drops below the "
                "requested resolution"
            )
        df = _bound_series_rows(
            df, key_cols, ts_col, value_col, max_group_rows
        )
    out_fields = ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in df.select(*key_cols, ts_col, value_col).schema.fields
    )

    def pick(pdf: pd.DataFrame) -> pd.DataFrame:
        # value as a tiebreak: duplicate timestamps otherwise keep
        # partition-arrival order and the pick set varies across runs
        pdf = pdf.sort_values(
            [ts_col, value_col], kind="mergesort"
        ).reset_index(drop=True)
        n = len(pdf)
        if n <= n_out:
            return pdf[[*key_cols, ts_col, value_col]]
        x = pdf[ts_col].astype("int64").to_numpy(dtype="float64")
        y = pdf[value_col].to_numpy(dtype="float64")
        # canonical LTTB: n_out-2 interior buckets over points 1..n-2
        import numpy as np

        edges = np.linspace(1, n - 1, n_out - 1).astype("int64")
        selected = [0]
        prev = 0
        for b in range(n_out - 2):
            lo, hi = edges[b], edges[b + 1]
            nxt_lo, nxt_hi = edges[b + 1], (
                edges[b + 2] if b + 2 < len(edges) else n - 1
            )
            # centroid of the NEXT bucket (last bucket → the last point)
            if nxt_hi > nxt_lo:
                cx, cy = x[nxt_lo:nxt_hi].mean(), y[nxt_lo:nxt_hi].mean()
            else:
                cx, cy = x[n - 1], y[n - 1]
            ax, ay = x[prev], y[prev]
            area = abs(
                (ax - cx) * (y[lo:hi] - ay) - (ax - x[lo:hi]) * (cy - ay)
            )
            prev = lo + (int(area.argmax()) if hi > lo else 0)
            selected.append(prev)
        selected.append(n - 1)
        return pdf.iloc[selected][[*key_cols, ts_col, value_col]]

    return (
        df.select(*key_cols, ts_col, value_col)
        .groupBy(*key_cols)
        .applyInPandas(pick, out_fields)
    )
