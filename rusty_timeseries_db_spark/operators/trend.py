"""Nonparametric trend statistics over pre-aggregated series:
Mann-Kendall test and the Theil-Sen slope estimator.

Reference behavior: the reference engine (bbartling/rusty-timeseries-db
main.rs:198-240) serves raw per-sensor series and leaves trend judgment
to the client; these operators answer the canonical monitoring question
"is this meter drifting?" engine-side, the way q_spearman_corr and
q_linear_regression already do for their parametric cousins.

Both statistics are defined over ALL ordered pairs (i < j) of a series,
so the natural implementation is a self-join keyed on the series id —
O(n_k^2) rows per series where n_k is the per-series length AFTER the
caller's resampling. That contract is deliberate and mirrors the
chi-square scan's guarded-grid stance (profile.py): you run these on
*bucketed* series (daily/hourly rollups — tens to hundreds of points),
never raw ticks. At 100 TB the shape holds because the pair explosion
is keyed per series (shuffle on the series key only, co-partitioned
with the input agg) and bounded by the resample granularity, not the
row count; the ``max_points`` guard makes the bound explicit by
raising before the join if any series exceeds it. The guard is ON by
default (5000 points ≈ 12.5M pairs/series — opt-in
guards don't get used, and a caller who passes raw ticks instead of
bucketed series would otherwise get a silent per-series quadratic
explosion); pass ``max_points=None`` to opt out deliberately.

Both operators reference the input frame more than once (the pair
join's two sides, the length count, the tie count) and Spark
recomputes the input's lineage per reference — persist the bucketed
frame upstream when its own plan is expensive (the bucketing agg
usually is not: one map-side-combining shuffle).

Determinism: callers pass an exact-typed value column (decimal sums —
the engine's money/2-dp discipline). Every comparison, the S statistic,
the tie correction, and the variance numerator are then exact integer
arithmetic, identical on any engine; the only floats are the final
z-score and slope, produced by identical IEEE double division on both
sides (oracle-checkable, q_mann_kendall / q_theil_sen).
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _pairs(df: DataFrame, key: str, order: str, value: str) -> DataFrame:
    """All i<j ordered pairs within each series: one self-equi-join on
    the series key with a strict inequality on the order column. The
    order column must be unique per series (a bucketed period is)."""
    a = df.select(
        F.col(key),
        F.col(order).alias("_o1"),
        F.col(value).alias("_v1"),
    )
    b = df.select(
        F.col(key),
        F.col(order).alias("_o2"),
        F.col(value).alias("_v2"),
    )
    return a.join(b, on=key).filter(F.col("_o1") < F.col("_o2"))


def _guard_max_points(df: DataFrame, key: str, max_points: int) -> None:
    """Eager dims-only guard (one count-by-key scan, same stance as
    profile.chi_square_scan's max_cells): raise before materializing a
    pair explosion nobody sized."""
    worst = (
        df.groupBy(key).count().agg(F.max("count").alias("m")).collect()[0]["m"]
    )
    if worst is not None and worst > max_points:
        raise ValueError(
            f"trend: longest series has {worst} points > max_points="
            f"{max_points}; resample coarser or raise the guard"
        )


def mann_kendall(
    df: DataFrame,
    key: str,
    order: str,
    value: str,
    max_points: int | None = 5000,
) -> DataFrame:
    """Mann-Kendall trend test per series.

    Input is one row per (series, period) — the caller has already
    bucketed (e.g. daily sums as exact decimals). Emits per series:

    - ``n`` — number of periods;
    - ``s_stat`` — S = sum over i<j of sign(x_j - x_i), exact integer;
    - ``var_s`` — tie-corrected variance,
      (n(n-1)(2n+5) - sum_t t(t-1)(2t+5)) / 18, as double (numerator
      is exact integer);
    - ``z_score`` — the continuity-corrected normal statistic
      ((S-1)/sqrt(var) for S>0, (S+1)/sqrt(var) for S<0, 0 at S=0),
      rounded 6 dp; NULL when var_s == 0 (n < 2 or all values tied).

    Two co-keyed shuffles (the pair join + the per-series aggregates);
    the tie correction is a separate (key, value) count — skew-immune
    (map-side combine on exact values).
    """
    # persisted (guide §1.2): the bucketed
    # input is referenced FIVE times (guard count, both pair-join
    # sides, n, ties) and is typically an aggregate over the raw
    # event stream — unpersisted, that upstream re-runs per
    # reference. The cached frame is series × periods rows (already
    # reduced), and the eager guard below materializes it anyway.
    # Cache an INTERNAL projection
    # (never the caller's frame — no side effect on a caller-owned
    # object), and a guard rejection unpersists before raising so an
    # over-limit call leaks no cache entry. The cache itself lives in
    # the returned lazy plan; callers composing many operator calls in
    # one session should spark.catalog.clearCache() periodically.
    df = df.select(key, order, value).persist(StorageLevel.MEMORY_AND_DISK)
    if max_points is not None:
        try:
            _guard_max_points(df, key, max_points)
        except Exception:
            df.unpersist()
            raise
    sgn = (
        F.when(F.col("_v2") > F.col("_v1"), F.lit(1))
        .when(F.col("_v2") < F.col("_v1"), F.lit(-1))
        .otherwise(F.lit(0))
    )
    s = (
        _pairs(df, key, order, value)
        .groupBy(key)
        .agg(F.sum(sgn).cast("long").alias("s_stat"))
    )
    n = df.groupBy(key).agg(F.count(F.lit(1)).cast("long").alias("n"))
    t = F.col("t")
    ties = (
        df.groupBy(key, value)
        .agg(F.count(F.lit(1)).cast("long").alias("t"))
        .groupBy(key)
        .agg(
            F.sum(t * (t - 1) * (2 * t + 5)).cast("long").alias("_tie_term")
        )
    )
    nn = F.col("n")
    var_num = (nn * (nn - 1) * (2 * nn + 5) - F.col("_tie_term")).cast("long")
    var_s = F.round(var_num.cast("double") / F.lit(18.0), 6).alias("var_s")
    z = (
        F.when(var_num <= 0, F.lit(None).cast("double"))
        .when(
            F.col("s_stat") > 0,
            (F.col("s_stat") - 1).cast("double")
            / F.sqrt(var_num.cast("double") / F.lit(18.0)),
        )
        .when(
            F.col("s_stat") < 0,
            (F.col("s_stat") + 1).cast("double")
            / F.sqrt(var_num.cast("double") / F.lit(18.0)),
        )
        .otherwise(F.lit(0.0))
    )
    return (
        # LEFT join + coalesce: a single-point series has no pair rows
        # (no s row) but must still emit n=1, S=0, var 0, z NULL — the
        # documented contract (previously the inner
        # join silently dropped the series)
        n.join(s, on=key, how="left")
        .withColumn("s_stat", F.coalesce(F.col("s_stat"), F.lit(0)))
        .join(ties, on=key)
        .select(
            F.col(key),
            F.col("n"),
            F.col("s_stat"),
            var_s,
            F.round(z, 6).alias("z_score"),
        )
    )


def theil_sen(
    df: DataFrame,
    key: str,
    order: str,
    value: str,
    max_points: int | None = 5000,
) -> DataFrame:
    """Theil-Sen slope per series: the LOWER MEDIAN of all pairwise
    slopes (x_j - x_i) / (o_j - o_i) over i<j — the robust alternative
    to OLS (q_linear_regression), immune to up to ~29% outliers.

    ``order`` must be numeric (e.g. a day index), unique per series.
    The median is the deterministic lower median: pair slopes sorted by
    (slope, o_i, o_j), row (n_pairs+1)//2 — total ordering, so both
    engines pick the identical pair. Slopes are IEEE doubles from
    exact-decimal numerators over integer denominators, so the values
    themselves are bit-identical cross-engine; output rounds 6 dp.

    Emits (key, n_pairs, slope). Series with < 2 points emit nothing.
    Same pair-join shape and ``max_points`` guard as mann_kendall.
    """
    # persisted — same rationale (and same hygiene: internal
    # projection, unpersist-on-guard-reject) as mann_kendall
    df = df.select(key, order, value).persist(StorageLevel.MEMORY_AND_DISK)
    if max_points is not None:
        try:
            _guard_max_points(df, key, max_points)
        except Exception:
            df.unpersist()
            raise
    slope = (F.col("_v2") - F.col("_v1")).cast("double") / (
        F.col("_o2") - F.col("_o1")
    ).cast("double")
    pairs = _pairs(df, key, order, value).select(
        F.col(key), F.col("_o1"), F.col("_o2"), slope.alias("_slope")
    )
    w = Window.partitionBy(key).orderBy("_slope", "_o1", "_o2")
    ranked = pairs.select(
        F.col(key),
        F.col("_slope"),
        F.row_number().over(w).alias("_rn"),
        F.count(F.lit(1)).over(Window.partitionBy(key)).alias("_np"),
    )
    return ranked.filter(
        F.col("_rn") == F.floor((F.col("_np") + 1) / 2)
    ).select(
        F.col(key),
        F.col("_np").cast("long").alias("n_pairs"),
        F.round(F.col("_slope"), 6).alias("slope"),
    )
