"""Time-series resampling, gap-fill (LOCF), and rolling windows
(SURVEY §2.2 window-function rows; capability extensions — the reference
has no aggregation surface at all, SURVEY §2.1 "explicitly absent").

All pure DataFrame compositions: one shuffle on the series key per
operator, everything inside whole-stage codegen. The time spine for
gap-fill is generated with ``sequence()`` (JVM-side) — no driver loops.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def resample(
    df: DataFrame,
    keys: Sequence[str],
    ts: str,
    interval: str,
    aggs: dict[str, Column],
) -> DataFrame:
    """Tumbling-bucket downsample: ``date_trunc``-style bucketing via the
    ``window()`` function + grouped agg (partial aggregation map-side).

    ``interval`` is a Spark interval string, e.g. ``"5 minutes"``.
    """
    bucketed = df.groupBy(
        *keys, F.window(F.col(ts), interval).alias("_w")
    ).agg(*[v.alias(k) for k, v in aggs.items()])
    return bucketed.select(
        *keys,
        F.col("_w.start").alias("bucket_start"),
        F.col("_w.end").alias("bucket_end"),
        *aggs.keys(),
    )


def time_spine(
    df: DataFrame,
    keys: Sequence[str],
    ts: str,
    step: str = "1 minute",
) -> DataFrame:
    """Per-key dense timestamp spine from each key's min(ts) to max(ts).

    ``sequence(min, max, interval)`` runs JVM-side; the explode is
    narrow (no shuffle beyond the groupBy)."""
    bounds = df.groupBy(*keys).agg(
        F.min(ts).alias("_lo"), F.max(ts).alias("_hi")
    )
    return bounds.select(
        *keys,
        F.explode(
            F.sequence(F.col("_lo"), F.col("_hi"), F.expr(f"INTERVAL {step}"))
        ).alias(ts),
    )


def locf_fill(
    df: DataFrame,
    keys: Sequence[str],
    ts: str,
    value_cols: Sequence[str],
    spine: DataFrame | None = None,
    step: str = "1 minute",
) -> DataFrame:
    """Last-observation-carried-forward gap-fill.

    Joins the (generated or supplied) spine with observations, then
    fills NULLs with ``last(..., ignorenulls=True)`` over an
    unbounded-preceding frame per key — the canonical Spark LOCF idiom.
    """
    keys = list(keys)
    if spine is None:
        spine = time_spine(df, keys, ts, step)
    obs = df.select(*keys, ts, *value_cols)
    joined = spine.join(obs, [*keys, ts], "left")
    w = (
        Window.partitionBy(*keys)
        .orderBy(ts)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return joined.select(
        *keys,
        ts,
        *[F.last(c, ignorenulls=True).over(w).alias(c) for c in value_cols],
    )


def rolling_agg(
    df: DataFrame,
    keys: Sequence[str],
    ts: str,
    value: str,
    window_seconds: int,
    aggs: Sequence[str] = ("avg", "min", "max", "count"),
) -> DataFrame:
    """Trailing time-based rolling aggregates over ``[t - w, t]`` using a
    ``rangeBetween`` frame on epoch seconds (true event-time frames, not
    row counts)."""
    epoch = F.col(ts).cast("double").cast("long")
    w = (
        Window.partitionBy(*keys)
        .orderBy(epoch)
        .rangeBetween(-window_seconds, 0)
    )
    out = df
    for a in aggs:
        out = out.withColumn(
            f"rolling_{a}", getattr(F, a)(F.col(value)).over(w)
        )
    return out


def cumulative_agg(
    df: DataFrame,
    keys: Sequence[str],
    order: Sequence[str],
    value: str,
) -> DataFrame:
    """Running sum/count per key in event order (deterministic given a
    unique ``order`` tiebreak)."""
    w = (
        Window.partitionBy(*keys)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return df.withColumn("cum_sum", F.sum(value).over(w)).withColumn(
        "cum_count", F.count(F.lit(1)).over(w)
    )


def time_weighted_avg(
    df: DataFrame,
    key: str,
    ts: str = "ts",
    value: str = "value",
    order_tiebreak: str | None = None,
) -> DataFrame:
    """Per-series time-weighted average for irregularly-sampled series:
    each observation is weighted by the duration until the NEXT
    observation (the final observation carries no weight). The
    arithmetic mean over-weights bursts of rapid samples; the
    time-weighted mean is the honest "average level" statistic for
    telemetry (cf. TimescaleDB ``time_weight('LOCF')``).

    One ``lead`` window + one aggregate, both on the series-key
    partitioning → a single shuffle. Weights are integer microseconds
    and the weighted sum runs in exact decimal, so the result is
    bit-reproducible across engines (oracle-checkable).

    Returns (key, twa, total_us). Series whose observations all share
    one timestamp (zero total weight) are dropped.
    """
    order = [F.col(ts)] + ([F.col(order_tiebreak)] if order_tiebreak else [])
    w = Window.partitionBy(key).orderBy(*order)
    dt_us = F.unix_micros(F.lead(F.col(ts)).over(w)) - F.unix_micros(F.col(ts))
    weighted = df.select(
        F.col(key),
        dt_us.alias("_dt_us"),
        (F.col(value).cast("decimal(18,2)") * dt_us).alias("_wv"),
    ).filter(F.col("_dt_us").isNotNull())
    return (
        weighted.groupBy(key)
        .agg(
            F.sum("_wv").alias("_swv"),
            F.sum("_dt_us").alias("_sw"),
        )
        .filter(F.col("_sw") > 0)
        .select(
            F.col(key),
            F.round(
                F.col("_swv").cast("double") / F.col("_sw").cast("double"), 6
            ).alias("twa"),
            F.col("_sw").cast("long").alias("total_us"),
        )
    )


def counter_increase(
    df: DataFrame,
    key: str,
    ts: str = "ts",
    value: str = "value",
    order_tiebreak: str | None = None,
) -> DataFrame:
    """Monotonic-counter total increase with reset detection (the
    PromQL ``increase()`` semantic): per consecutive pair, the delta
    when non-negative; when the counter dropped, a reset is assumed and
    the post-reset absolute value counts as the increase. One ``lag``
    window + one aggregate on the series key — a single shuffle.

    Deltas run in exact decimal (value is 2-dp) so per-series totals
    are order-independent and oracle-checkable. Returns
    (key, total_increase, n_resets, n_samples).
    """
    order = [F.col(ts)] + ([F.col(order_tiebreak)] if order_tiebreak else [])
    w = Window.partitionBy(key).orderBy(*order)
    prev = F.lag(F.col(value).cast("decimal(18,2)")).over(w)
    cur = F.col(value).cast("decimal(18,2)")
    delta = cur - prev
    stepped = df.select(
        F.col(key),
        F.when(prev.isNull(), F.lit(None).cast("decimal(19,2)"))
        .when(delta >= 0, delta)
        .otherwise(cur)
        .alias("_inc"),
        F.when(prev.isNotNull() & (delta < 0), 1).otherwise(0).alias("_reset"),
    )
    return stepped.groupBy(key).agg(
        F.coalesce(F.sum("_inc"), F.lit(0)).cast("double").alias("total_increase"),
        F.sum("_reset").cast("long").alias("n_resets"),
        F.count("*").cast("long").alias("n_samples"),
    )


def counter_rate(
    df: DataFrame,
    key: str,
    ts: str = "ts",
    value: str = "value",
    order_tiebreak: str | None = None,
) -> DataFrame:
    """Per-second counter rate (the PromQL ``rate()`` semantic):
    reset-corrected total increase divided by the observed span —
    ``increase / (last_ts - first_ts)``. Same single lag-window +
    single aggregate shape as :func:`counter_increase` (one shuffle);
    the span is carried through the same aggregate as min/max
    microseconds, so rate costs nothing extra.

    Returns (key, rate_per_second, total_increase, n_resets,
    n_samples, span_us); rate is NULL for single-sample series
    (span 0 — PromQL returns nothing there too).
    """
    order = [F.col(ts)] + ([F.col(order_tiebreak)] if order_tiebreak else [])
    w = Window.partitionBy(key).orderBy(*order)
    prev = F.lag(F.col(value).cast("decimal(18,2)")).over(w)
    cur = F.col(value).cast("decimal(18,2)")
    delta = cur - prev
    stepped = df.select(
        F.col(key),
        F.unix_micros(F.col(ts)).alias("_tus"),
        F.when(prev.isNull(), F.lit(None).cast("decimal(19,2)"))
        .when(delta >= 0, delta)
        .otherwise(cur)
        .alias("_inc"),
        F.when(prev.isNotNull() & (delta < 0), 1).otherwise(0).alias("_reset"),
    )
    agg = stepped.groupBy(key).agg(
        F.coalesce(F.sum("_inc"), F.lit(0)).cast("double")
        .alias("total_increase"),
        F.sum("_reset").cast("long").alias("n_resets"),
        F.count("*").cast("long").alias("n_samples"),
        (F.max("_tus") - F.min("_tus")).alias("span_us"),
    )
    rate = F.when(
        F.col("span_us") > 0,
        F.col("total_increase") / F.col("span_us").cast("double")
        * F.lit(1_000_000.0),
    )
    return agg.select(
        key,
        rate.alias("rate_per_second"),
        "total_increase",
        "n_resets",
        "n_samples",
        "span_us",
    )


def counter_irate(
    df: DataFrame,
    key: str,
    ts: str = "ts",
    value: str = "value",
    order_tiebreak: str | None = None,
) -> DataFrame:
    """Instantaneous counter rate from the LAST TWO samples per series
    (the PromQL ``irate()`` / ``idelta()`` semantics — the fast-moving
    twin of :func:`counter_rate`, which averages the whole range).
    Returns ``(key, idelta, iinc, irate_per_second, gap_us)`` where
    ``idelta`` is the raw last-pair delta (PromQL's gauge ``idelta()``),
    ``iinc`` is the reset-corrected instantaneous increase (a drop
    counts the post-reset absolute value, like ``increase()``), and
    ``irate_per_second = iinc / gap``. All three are NULL for
    single-sample series and irate additionally for a zero gap —
    PromQL returns nothing there too.

    Scale shape: one rank window partitioned on the series key ordered
    ts-descending with a ``row_number() <= 2`` filter — Spark's
    WindowGroupLimit prunes each group to its top 2 rows BEFORE the
    sort buffers anything (the same per-group top-k shape
    operators/topk.py plan-asserts) — then one tiny grouped pivot
    aggregate over <= 2 rows per series. Deltas run in exact decimal;
    ties on duplicate timestamps break on ``order_tiebreak`` so the
    picked pair is a total order, engine-reproducible."""
    order = [F.col(ts).desc()]
    if order_tiebreak:
        order.append(F.col(order_tiebreak).desc())
    w = Window.partitionBy(key).orderBy(*order)
    top2 = (
        df.select(
            F.col(key),
            F.unix_micros(F.col(ts)).alias("_tus"),
            # decimal(28,12), not the engine-wide display precision:
            # PromQL counters are float64 and increments below 0.01
            # must not quantize to an idelta of 0 (the exact-stats
            # family precedent); the output casts to
            # DOUBLE either way, this only governs the subtraction
            F.col(value).cast("decimal(28,12)").alias("_v"),
            F.row_number().over(w).alias("_rn"),
        )
        .filter(F.col("_rn") <= 2)
    )
    agg = top2.groupBy(key).agg(
        F.max(F.when(F.col("_rn") == 1, F.col("_v"))).alias("_vl"),
        F.max(F.when(F.col("_rn") == 2, F.col("_v"))).alias("_vp"),
        F.max(F.when(F.col("_rn") == 1, F.col("_tus"))).alias("_tl"),
        F.max(F.when(F.col("_rn") == 2, F.col("_tus"))).alias("_tp"),
    )
    delta = F.col("_vl") - F.col("_vp")
    # single-sample series: _vp is NULL, so delta's >= test is NULL
    # (falsy) — without the explicit first branch the otherwise() would
    # leak _vl as a phantom "increase"
    iinc = (
        F.when(F.col("_vp").isNull(), F.lit(None).cast("decimal(29,12)"))
        .when(delta >= 0, delta)
        .otherwise(F.col("_vl"))
    )
    gap = F.col("_tl") - F.col("_tp")
    return agg.select(
        key,
        delta.cast("double").alias("idelta"),
        iinc.cast("double").alias("iinc"),
        F.when(
            gap > 0, iinc.cast("double") / gap.cast("double") * F.lit(1e6)
        ).alias("irate_per_second"),
        gap.alias("gap_us"),
    )


def linear_interp_fill(
    df: DataFrame,
    key: str,
    ts: str = "ts",
    value: str = "value",
    step: str = "1 day",
) -> DataFrame:
    """Resample each series to a regular grid with LINEAR interpolation
    between the surrounding observations — LOCF's smooth sibling for
    gauges (temperatures, levels) where step-holding misrepresents the
    signal. No extrapolation: grid points before the first or after the
    last observation are dropped.

    Plan shape: spine ∪ observations, then two window passes over the
    SAME (key, ts) sort — last-non-null looking back (previous obs
    value+ts) and first-non-null looking forward (next obs value+ts) —
    so Spark plans one shuffle and one sort, two frame evaluations.
    Determinism note: the interpolation weight is a ratio of exact
    integer microseconds and the value delta is exact decimal cast to
    double; one multiply + one add per grid point, no accumulation →
    bit-identical across engines (oracle-checkable).

    Returns (key, ts, value_interp) for grid points strictly inside the
    observed span (plus exact hits on observations).
    """
    obs = df.select(
        F.col(key),
        F.col(ts),
        F.col(value).cast("decimal(18,2)").alias("_v"),
        F.lit(1).alias("_is_obs"),
    )
    spine = time_spine(df, [key], ts, step).select(
        F.col(key),
        F.col(ts),
        F.lit(None).cast("decimal(18,2)").alias("_v"),
        F.lit(0).alias("_is_obs"),
    )
    # observations sort BEFORE the grid point at the same instant, so an
    # exact hit interpolates with ratio 0 → the observed value itself
    u = obs.unionByName(spine)
    back = (
        Window.partitionBy(key)
        .orderBy(F.col(ts).asc(), F.col("_is_obs").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    fwd = (
        Window.partitionBy(key)
        .orderBy(F.col(ts).asc(), F.col("_is_obs").desc())
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    filled = u.select(
        F.col(key),
        F.col(ts),
        F.col("_is_obs"),
        F.last("_v", ignorenulls=True).over(back).alias("_pv"),
        F.last(F.when(F.col("_v").isNotNull(), F.col(ts)), ignorenulls=True)
        .over(back)
        .alias("_pt"),
        F.first("_v", ignorenulls=True).over(fwd).alias("_nv"),
        F.first(F.when(F.col("_v").isNotNull(), F.col(ts)), ignorenulls=True)
        .over(fwd)
        .alias("_nt"),
    )
    ratio = F.when(
        F.unix_micros(F.col("_nt")) == F.unix_micros(F.col("_pt")), F.lit(0.0)
    ).otherwise(
        (F.unix_micros(F.col(ts)) - F.unix_micros(F.col("_pt")))
        / (F.unix_micros(F.col("_nt")) - F.unix_micros(F.col("_pt")))
    )
    exact_hit = F.unix_micros(F.col("_pt")) == F.unix_micros(F.col(ts))
    return (
        filled.filter(
            (F.col("_is_obs") == 0)
            & F.col("_pv").isNotNull()
            # an exact hit on the LAST observation has no forward
            # neighbor but needs none — the observed value stands
            & (F.col("_nv").isNotNull() | exact_hit)
        )
        .select(
            F.col(key),
            F.col(ts),
            F.round(
                F.when(exact_hit, F.col("_pv").cast("double")).otherwise(
                    F.col("_pv").cast("double")
                    + (F.col("_nv") - F.col("_pv")).cast("double") * ratio
                ),
                6,
            ).alias("value_interp"),
        )
    )


def predict_linear(
    df: DataFrame,
    key: str,
    ts: str = "ts",
    value: str = "value",
    horizon_seconds: int = 300,
    anchor_epoch: int = 1_704_067_200,
) -> DataFrame:
    """PromQL ``predict_linear()`` / ``deriv()``: per-series
    least-squares trend of a GAUGE against time, extrapolated
    ``horizon_seconds`` past the series' last sample. The caller
    bounds the lookback (PromQL's ``[d]``) with an ordinary ts filter
    — it composes with partition pruning instead of hiding a range
    scan inside the operator. Returns ``(key, n, slope_per_second,
    predicted_value, at_ts)``; slope and prediction are NULL for
    degenerate series (fewer than 2 samples, or all samples on one
    timestamp), exactly PromQL's no-answer.

    Shape: ONE grouped aggregate of exact integer/decimal sufficient
    statistics (the q_linear_regression pattern — map-side partials,
    no second pass, no window), with the float division deferred to
    the #series-row result so both engines round identically.
    ``anchor_epoch`` recenters x to keep the decimal(38) products
    exact; the slope/prediction are anchor-invariant.
    """
    x = (
        F.expr(f"unix_micros({ts}) div 1000000") - F.lit(anchor_epoch)
    ).alias("x")
    y = F.col(value).cast("decimal(18,2)").alias("y")
    s = (
        df.select(F.col(key), x, y)
        .groupBy(key)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("x").cast("decimal(38,0)")).alias("_sx"),
            F.sum("y").alias("_sy"),
            F.sum((F.col("x") * F.col("y")).cast("decimal(38,2)")).alias("_sxy"),
            F.sum((F.col("x") * F.col("x")).cast("decimal(38,0)")).alias("_sxx"),
            F.max("x").alias("_xmax"),
        )
    )
    num = (F.col("n") * F.col("_sxy") - F.col("_sx") * F.col("_sy")).cast("double")
    den = (F.col("n") * F.col("_sxx") - F.col("_sx") * F.col("_sx")).cast("double")
    slope = F.when(den != 0, num / den)
    intercept = (
        F.col("_sy").cast("double") - slope * F.col("_sx").cast("double")
    ) / F.col("n")
    x_pred = F.col("_xmax") + F.lit(horizon_seconds)
    return s.select(
        key,
        "n",
        F.round(slope, 6).alias("slope_per_second"),
        F.round(intercept + slope * x_pred.cast("double"), 6).alias(
            "predicted_value"
        ),
        F.timestamp_seconds(x_pred + F.lit(anchor_epoch)).alias("at_ts"),
    )


def gauge_changes(
    df: DataFrame,
    key: str,
    ts: str = "ts",
    value: str = "value",
    order_tiebreak: str | None = None,
) -> DataFrame:
    """PromQL ``changes()`` — how many times the value CHANGED between
    consecutive samples per series (completes the counter/
    gauge range family next to rate/increase/irate/resets): the alert
    primitive for flapping detection (a config gauge that "changed 40
    times in 10 minutes" is an incident). The first sample has no
    predecessor and counts no change, PromQL parity; the comparison
    is NULL-SAFE, so NULL -> value and value -> NULL transitions
    count (engine extension — PromQL has no NULL samples) and
    NULL -> NULL does not.

    Scale shape: one ``lag`` window + one aggregate on the series key
    — a single co-keyed shuffle, the same plan as counter_increase.
    Values compare at ``decimal(28,12)`` (the counter_irate precision
    contract): a CHANGE detector must see sub-0.01
    transitions the engine-wide 2-dp display model would quantize
    away — a milliunits-flapping gauge reading "0 changes" is exactly
    the false negative this operator exists to prevent. Returns
    ``(key, n_samples, n_changes)``.
    """
    order = [F.col(ts)] + ([F.col(order_tiebreak)] if order_tiebreak else [])
    w = Window.partitionBy(key).orderBy(*order)
    cur = F.col(value).cast("decimal(28,12)")
    prev = F.lag(cur).over(w)
    # lag yields NULL for the first row; distinguish "no predecessor"
    # from "NULL-valued predecessor" with a row counter
    rn = F.row_number().over(w)
    stepped = df.select(
        F.col(key),
        F.when(
            (rn > 1) & ~cur.eqNullSafe(prev), 1
        ).otherwise(0).alias("_chg"),
    )
    return stepped.groupBy(key).agg(
        F.count(F.lit(1)).cast("long").alias("n_samples"),
        F.sum("_chg").cast("long").alias("n_changes"),
    )


def state_durations(
    df: DataFrame,
    key: str,
    state: str,
    ts: str = "ts",
    order_tiebreak: str | None = None,
) -> DataFrame:
    """Per-(series, state) residence time for a state-change stream —
    TimescaleDB ``state_agg``'s duration query generalized to any
    categorical column (the categorical sibling of
    time_weighted_avg above, which answers the same "what held, for
    how long" question for numeric levels). Each observation pins the
    series to its ``state`` from its own timestamp until the NEXT
    observation on the same series (LOCF); the final observation
    carries no duration, exactly the time_weighted_avg convention, so
    twa and state fractions computed from one stream agree on what
    the covered span is.

    Emits ``(key, state, state_us, n_intervals, frac)``: total integer
    microseconds in the state, how many intervals contributed, and the
    state's share of the series' covered span (6-dp double; NULL for a
    series whose observations all share one timestamp — zero covered
    span, no defensible share).

    Scale shape: one ``lead`` window + a (key, state) aggregate + a
    key-partitioned share window — every step keyed on the series (the
    share window's partition count is bounded by states-per-series,
    i.e. the categorical cardinality, not the row count). Durations
    are exact integer microseconds end-to-end: oracle-checkable
    (q_state_durations).
    """
    order = [F.col(ts)] + ([F.col(order_tiebreak)] if order_tiebreak else [])
    w = Window.partitionBy(key).orderBy(*order)
    dt_us = F.unix_micros(F.lead(F.col(ts)).over(w)) - F.unix_micros(F.col(ts))
    stepped = df.select(
        F.col(key), F.col(state).alias("state"), dt_us.alias("_dt_us")
    ).filter(F.col("_dt_us").isNotNull())
    agg = stepped.groupBy(key, "state").agg(
        F.sum("_dt_us").cast("long").alias("state_us"),
        F.count(F.lit(1)).cast("long").alias("n_intervals"),
    )
    total = F.sum("state_us").over(Window.partitionBy(key))
    return agg.select(
        F.col(key),
        F.col("state"),
        F.col("state_us"),
        F.col("n_intervals"),
        F.when(
            total > 0,
            F.round(F.col("state_us").cast("double") / total.cast("double"), 6),
        ).alias("frac"),
    )
