"""As-of join — the canonical TSDB operator the reference lacks
(SURVEY §2.2, §7.5). Two implementations with different scale envelopes:

1. ``asof_join`` (union + window): one shuffle on the key, no join
   blow-up, O(n log n) per key — the general/large case. This is the
   pattern Flink/kdb-style engines use for temporal joins, expressed
   purely with DataFrame ops so Catalyst/Tungsten execute it JVM-side.
2. ``asof_join_tolerance`` (range join + rank): for bounded lookback
   windows; lets Spark prune the join to ``[t-τ, t]`` and is
   broadcast-friendly when the right side is small.

Correctness is cross-checked against ``pandas.merge_asof`` in
tests/test_asof.py and a SQL oracle in the declared-query manifest.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str],
    left_ts: str = "ts",
    right_ts: str = "ts",
    right_cols: Sequence[str] | None = None,
    right_order: str | None = None,
    suffix: str = "_right",
    direction: str = "backward",
    how: str = "left",
) -> DataFrame:
    """For each left row, attach the payload of the matching right row
    within the same ``on`` key. Directions (pandas.merge_asof parity):

    - ``backward`` (default): latest right row with ``rts <= lts``;
    - ``forward``: earliest right row with ``rts >= lts``;
    - ``nearest``: whichever of the two is closer in time (backward wins
      exact ties, matching pandas).

    ``how``: ``"left"`` (default — pandas.merge_asof
    parity) keeps left rows with no match, NULL payloads;
    ``"inner"`` drops them (DuckDB's bare ``ASOF JOIN`` semantics —
    its ``ASOF LEFT JOIN`` is the default form here). The match test
    is the payload STRUCT's nullness, so a matched right row whose
    every payload field is NULL still counts as matched — row
    identity, not value presence. ``right_order`` breaks ties among
    right rows sharing (key, ts) deterministically.
    """
    if how not in ("left", "inner"):
        raise ValueError(f"unknown how: {how!r} (left | inner)")
    on = list(on)
    # Resolve the payload default BEFORE any direction recursion so
    # backward/forward produce identical schemas (the forward mirror
    # renames the right ts column, which would otherwise leak into the
    # default payload as an extra column).
    if right_cols is None:
        right_cols = [
            c for c in right.columns if c not in on and c != right_ts
        ]
    if direction == "forward":
        # mirror time: forward-asof on t ≡ backward-asof on -t.
        neg = lambda df, c: df.withColumn(  # noqa: E731
            "_asof_negts", -F.col(c).cast("double")
        )
        out = asof_join(
            neg(left, left_ts),
            neg(right, right_ts),
            on=on,
            left_ts="_asof_negts",
            right_ts="_asof_negts",
            right_cols=right_cols,
            right_order=right_order,
            suffix=suffix,
            direction="backward",
            how=how,
        )
        return out.drop("_asof_negts")
    if direction == "nearest":
        return asof_join_nearest(
            left, right, on, left_ts, right_ts, right_cols, right_order,
            suffix, how=how,
        )
    if direction != "backward":
        raise ValueError(f"unknown direction: {direction}")
    payload = [f"{c}{suffix}" for c in right_cols]
    if not payload and how == "left":
        return left
    if not payload:
        # inner with no payload columns still needs the match test:
        # carry the right ts as a probe column, then drop it. The
        # tie-break is irrelevant for a pure existence probe (every
        # tied row proves the same match), so right_order is dropped
        # here — passing it through would reference a column the
        # probe's narrowed right.select() no longer carries.
        probe = asof_join(
            left, right.select(*on, right_ts), on, left_ts, right_ts,
            [right_ts], None, "_asof_probe", "backward", how="inner",
        )
        return probe.drop(f"{right_ts}_asof_probe")

    # Tag and union: right rows sort before left rows at equal ts so an
    # exact-timestamp right row is visible to the left row (inclusive).
    # The payload travels as ONE struct so every output column comes from
    # the SAME matched right row — per-column last(ignorenulls) would
    # blend fields from different right rows whenever the matched row
    # holds a NULL (pandas.merge_asof parity requires row-wise carry).
    order_col = (
        F.col(right_order) if right_order is not None else F.lit(0)
    )
    r = right.select(
        *on,
        F.col(right_ts).alias("_asof_ts"),
        F.lit(0).alias("_asof_side"),
        order_col.cast("long").alias("_asof_tie"),
        F.struct(
            *[F.col(c).alias(p) for c, p in zip(right_cols, payload)]
        ).alias("_asof_payload"),
    )
    l = left.select(
        *left.columns,
        F.col(left_ts).alias("_asof_ts"),
        F.lit(1).alias("_asof_side"),
        F.lit(None).cast("long").alias("_asof_tie"),
        F.lit(None)
        .cast(r.schema["_asof_payload"].dataType)
        .alias("_asof_payload"),
    )
    unioned = l.unionByName(
        r.select(*on, "_asof_ts", "_asof_side", "_asof_tie", "_asof_payload"),
        allowMissingColumns=True,
    )

    w = (
        Window.partitionBy(*on)
        .orderBy(F.col("_asof_ts").asc(), F.col("_asof_side").asc(), F.col("_asof_tie").asc_nulls_first())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = unioned.withColumn(
        "_asof_payload", F.last("_asof_payload", ignorenulls=True).over(w)
    )
    out = filled.filter(F.col("_asof_side") == 1)
    if how == "inner":
        out = out.filter(F.col("_asof_payload").isNotNull())
    return (
        out
        .select(
            *[c for c in left.columns],
            # getField, not a dotted string path: a right column whose
            # name contains '.' would mis-parse as nested access
            *[F.col("_asof_payload").getField(p).alias(p) for p in payload],
        )
    )


def asof_join_nearest(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str],
    left_ts: str = "ts",
    right_ts: str = "ts",
    right_cols: Sequence[str] | None = None,
    right_order: str | None = None,
    suffix: str = "_right",
    how: str = "left",
) -> DataFrame:
    """Nearest-in-time as-of: backward and forward candidates per left
    row, keep the closer one (backward wins exact-distance ties —
    pandas.merge_asof semantics). Two union+window passes → still no
    join blow-up. ``how="inner"`` drops left rows with a match in
    NEITHER direction (see :func:`asof_join`)."""
    on = list(on)
    if right_cols is None:
        right_cols = [c for c in right.columns if c not in on and c != right_ts]
    # carry the matched right timestamp so we can compare distances
    carry = list(right_cols) + ([right_ts] if right_ts not in right_cols else [])
    lid = left.withColumn("_n_uid", F.monotonically_increasing_id())
    back = asof_join(
        lid, right, on, left_ts, right_ts, carry, right_order, "_bk", "backward"
    )
    fwd = asof_join(
        lid, right, on, left_ts, right_ts, carry, right_order, "_fw", "forward"
    )
    fsel = fwd.select(
        "_n_uid", *[F.col(f"{c}_fw").alias(f"_fw_{c}") for c in carry]
    )
    j = back.join(fsel, "_n_uid")
    bdist = F.abs(
        F.col(left_ts).cast("double") - F.col(f"{right_ts}_bk").cast("double")
    )
    fdist = F.abs(
        F.col(f"_fw_{right_ts}").cast("double") - F.col(left_ts).cast("double")
    )
    use_back = F.when(
        F.col(f"{right_ts}_bk").isNull(), F.lit(False)
    ).otherwise(F.col(f"_fw_{right_ts}").isNull() | (bdist <= fdist))
    if how == "inner":
        j = j.filter(
            F.col(f"{right_ts}_bk").isNotNull()
            | F.col(f"_fw_{right_ts}").isNotNull()
        )
    out = j.select(
        *[c for c in left.columns],
        *[
            F.when(use_back, F.col(f"{c}_bk"))
            .otherwise(F.col(f"_fw_{c}"))
            .alias(f"{c}{suffix}")
            for c in right_cols
        ],
    )
    return out


def asof_join_tolerance(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str],
    tolerance_seconds: int,
    left_ts: str = "ts",
    right_ts: str = "ts",
    right_cols: Sequence[str] | None = None,
    right_order: str | None = None,
    suffix: str = "_right",
    broadcast_right: bool = False,
) -> DataFrame:
    """Bounded-lookback as-of: latest right row in
    ``[left.ts - tolerance, left.ts]`` per key. Range join + pick-latest;
    set ``broadcast_right`` when the right side fits in memory."""
    on = list(on)
    if right_cols is None:
        right_cols = [c for c in right.columns if c not in on and c != right_ts]
    payload = [f"{c}{suffix}" for c in right_cols]

    r = right.select(
        *[F.col(c).alias(f"_r_{c}") for c in on],
        F.col(right_ts).alias("_r_ts"),
        (F.col(right_order).cast("long") if right_order else F.lit(0)).alias("_r_tie"),
        *[F.col(c).alias(p) for c, p in zip(right_cols, payload)],
    )
    if broadcast_right:
        r = F.broadcast(r)
    # Unique left-row identity so duplicate left rows each keep a match.
    lhs = left.withColumn("_l_uid", F.monotonically_increasing_id())
    cond = F.lit(True)
    for c in on:
        cond = cond & (lhs[c] == F.col(f"_r_{c}"))
    cond = (
        cond
        & (F.col("_r_ts") <= lhs[left_ts])
        & (F.col("_r_ts") >= lhs[left_ts] - F.expr(f"INTERVAL {tolerance_seconds} SECOND"))
    )
    joined = lhs.join(r, cond, "left")
    w = Window.partitionBy("_l_uid").orderBy(
        F.col("_r_ts").desc_nulls_last(), F.col("_r_tie").desc_nulls_last()
    )
    return (
        joined.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "_l_uid", "_r_ts", "_r_tie", *[f"_r_{c}" for c in on])
    )


def pit_join(
    spine: DataFrame,
    features: Mapping[str, DataFrame],
    on: Sequence[str],
    spine_ts: str = "ts",
    feature_ts: str = "ts",
    right_order: str | None = None,
    tolerance_seconds: int | None = None,
) -> DataFrame:
    """Point-in-time multi-table join — the feature-store
    primitive (Feast/Tecton's ``get_historical_features`` shape): for
    every spine row, attach each feature table's latest row at or
    before the spine timestamp, named ``<col>_<feature name>``. No
    feature value from the future ever leaks into a training row —
    the entire reason this is its own operator rather than N plain
    joins. ``tolerance_seconds`` bounds staleness (a feature older
    than the bound reads NULL — the serving-parity guard against
    joining a months-dead feature).

    Scale shape: one :func:`asof_join` pass per feature table — each
    a single union+window shuffle on the SAME ``on`` keys, never a
    join blow-up; feature tables are processed sequentially so the
    plan is a chain of N single-shuffle stages, not one N-way join.
    Spine rows always survive (left semantics — a missing feature is
    NULL, exactly what the training matrix wants)."""
    if not features:
        raise ValueError("features must be non-empty")
    out = spine
    for name, fdf in features.items():
        if tolerance_seconds is not None:
            out = asof_join_tolerance(
                out, fdf, on=on, tolerance_seconds=tolerance_seconds,
                left_ts=spine_ts, right_ts=feature_ts,
                right_order=right_order, suffix=f"_{name}",
            )
        else:
            out = asof_join(
                out, fdf, on=on, left_ts=spine_ts, right_ts=feature_ts,
                right_order=right_order, suffix=f"_{name}",
            )
    return out
