"""Mergeable sketch aggregates — HyperLogLog distinct-count rollups
(SURVEY §2.2 A2's scale path; the reference has no aggregation).

``COUNT(DISTINCT x)`` does not decompose: a per-day rollup of exact
distinct counts cannot be summed into a weekly count (users overlap).
The scale answer is a MERGEABLE sketch: store an HLL sketch per rollup
cell, union sketches across cells, estimate at read time. Spark 4
ships Apache DataSketches HLL natively (``hll_sketch_agg`` /
``hll_union_agg`` / ``hll_sketch_estimate``) — JVM-side, codegen'd,
shuffle = the grouped agg's only.

No DuckDB oracle is possible (DataSketches binary layout is
Spark-specific), so the declared query is rows-only; correctness is
pinned by invariant tests instead: estimate accuracy vs exact distinct
counts, and the defining MERGE property — union of per-day sketches
estimates the same value as one sketch over the whole range
(tests/test_sketches.py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def distinct_sketch(col: Column | str, lg_k: int = 12) -> Column:
    """HLL sketch aggregate of a column (~0.8% rel. error at lg_k=12,
    1.5 KB per sketch). Store next to plain counts in rollup cells."""
    c = F.col(col) if isinstance(col, str) else col
    return F.hll_sketch_agg(c, F.lit(lg_k))


def sketch_estimate(sketch: Column | str) -> Column:
    """Distinct-count estimate from a sketch (or union of sketches)."""
    c = F.col(sketch) if isinstance(sketch, str) else sketch
    return F.hll_sketch_estimate(c)


def distinct_rollup(
    df: DataFrame,
    keys: list[str],
    value_col: str,
    lg_k: int = 12,
) -> DataFrame:
    """Per-cell sketch rollup: one row per ``keys`` cell with the cell's
    HLL sketch AND its estimate. The sketch column is what downstream
    re-aggregation unions; the estimate is for direct reads."""
    sk = distinct_sketch(value_col, lg_k)
    return df.groupBy(*keys).agg(
        sk.alias("sketch"),
        F.count("*").alias("n_rows"),
    ).withColumn("distinct_est", sketch_estimate("sketch").cast("bigint"))


def merge_rollup(
    rollup: DataFrame,
    keys: list[str],
    sketch_col: str = "sketch",
) -> DataFrame:
    """Re-aggregate a sketch rollup to coarser ``keys`` (e.g. day cells
    → week) by UNIONING sketches — the operation exact distinct counts
    cannot do. Returns the coarser cells with merged sketch + estimate."""
    return (
        rollup.groupBy(*keys)
        .agg(
            F.hll_union_agg(F.col(sketch_col)).alias("sketch"),
            F.sum("n_rows").cast("bigint").alias("n_rows"),
        )
        .withColumn("distinct_est", sketch_estimate("sketch").cast("bigint"))
    )


# ------------------------------------------- mergeable top-k sketch
#
# Heavy hitters with the same decomposition story as the HLL rollup
# above: exact per-cell top-k truncation IS a mergeable
# summary with deterministic error bounds (the SpaceSaving/Misra-Gries
# merge, Agarwal et al. "Mergeable Summaries", PODS'12) — and because
# every number in it is an exact integer count, it is fully
# DuckDB-oracle-pairable, unlike the hash-seeded sketch families.
#
# Per cell keep the k most frequent values with their EXACT in-cell
# counts, plus `dropped_max` — the (k+1)-th count, the largest mass
# any single dropped value can hide. Merging cells sums the surviving
# counts (a LOWER bound on the true merged count) and bounds the
# underestimate per value by the sum of `dropped_max` over exactly the
# cells where the value did NOT survive: true ∈ [count_lo,
# count_lo + err_ub], always.


def topk_sketch(
    df: DataFrame,
    keys: list[str],
    value_col: str,
    k: int = 16,
) -> DataFrame:
    """Per-``keys``-cell heavy-hitter summary: ``top`` — a map of the
    cell's ``k`` most frequent ``value_col`` values to their EXACT
    in-cell counts (ties broken by value, so the kept set is
    deterministic) — plus ``n_rows`` and ``dropped_max`` (the
    (k+1)-th count; 0 when nothing was dropped). NULL values are
    IGNORED entirely (a NULL map key is unrepresentable, and "most
    frequent missing value" is not a heavy hitter) — they count
    neither as a value nor in ``n_rows``; a cell whose values are all
    NULL emits no summary row.

    Scale shape: one map-side-combining (cell, value) count, then the
    per-cell top-k as a ranked-window group limit (WindowGroupLimit,
    same plan as operators/topk.topk_per_group) and one cell agg —
    all shuffles keyed on the cell/value, skew-immune.
    """
    from pyspark.sql import Window

    if k < 1:
        raise ValueError("topk_sketch: k must be >= 1")
    counts = (
        df.filter(F.col(value_col).isNotNull())
        .groupBy(*keys, value_col)
        .agg(F.count(F.lit(1)).cast("long").alias("_c"))
    )
    w = Window.partitionBy(*keys).orderBy(
        F.col("_c").desc(), F.col(value_col)
    )
    ranked = counts.withColumn("_rn", F.row_number().over(w))
    return (
        ranked.filter(F.col("_rn") <= k + 1)
        .groupBy(*keys)
        .agg(
            F.map_from_entries(
                F.sort_array(
                    F.collect_list(
                        F.when(
                            F.col("_rn") <= k,
                            F.struct(
                                F.col(value_col).alias("v"),
                                F.col("_c").alias("c"),
                            ),
                        )
                    )
                )
            ).alias("top"),
            F.coalesce(
                F.max(F.when(F.col("_rn") == k + 1, F.col("_c"))),
                F.lit(0),
            ).cast("long").alias("dropped_max"),
        )
        .join(
            # n_rows from the counts aggregate (ALL values, dropped
            # included) — no second scan of df
            counts.groupBy(*keys).agg(
                F.sum("_c").cast("long").alias("n_rows")
            ),
            on=keys,
        )
    )


def decompose_topk_sketch(
    rollup: DataFrame, keys: list[str]
) -> tuple[DataFrame, DataFrame]:
    """The merge's two intermediate aggregates at ``keys`` granularity:

    - per-(cell, value): ``count_lo`` (sum of surviving counts) and
      ``present_err`` (sum of ``dropped_max`` over the summary rows
      where the value survived);
    - per-cell: ``total_err`` (sum of ALL ``dropped_max``) and
      ``n_rows``.

    Exposed because these four quantities — unlike the
    finished summary's per-cell ``dropped_max``, which is a MAX-shaped
    bound and NOT plain-summable — are all sums over disjoint summary
    rows, so they commute with any further coarsening: decompose per
    fine cell, sum to a coarser cell, and the result is bit-identical
    to decomposing the coarse cell directly. The streaming sketch
    store's compactor folds committed summaries into exactly this
    shape (streaming/sketch.py), keeping served results identical
    before and after the fold.
    """
    cells = rollup.groupBy(*keys).agg(
        F.sum("dropped_max").cast("long").alias("total_err"),
        F.sum("n_rows").cast("long").alias("n_rows"),
    )
    ex = rollup.select(
        *keys,
        F.col("dropped_max").alias("_dm"),
        F.explode("top").alias("value", "_c"),
    )
    per_value = ex.groupBy(*keys, "value").agg(
        F.sum("_c").cast("long").alias("count_lo"),
        F.sum("_dm").cast("long").alias("present_err"),
    )
    return per_value, cells


def combine_topk_decomposition(
    per_value: DataFrame,
    cells: DataFrame,
    keys: list[str],
    k: int | None = None,
) -> DataFrame:
    """Finish a merge from decomposed parts — possibly a union of a
    folded base and freshly-decomposed deltas: coarsen both parts to
    ``keys`` by summing, join, ``err_ub = total_err - present_err``
    (the dropped-mass bound over exactly the cells where the value did
    not survive), then the optional deterministic top-``k``."""
    from pyspark.sql import Window

    pv = per_value.groupBy(*keys, "value").agg(
        F.sum("count_lo").cast("long").alias("count_lo"),
        F.sum("present_err").cast("long").alias("_present_err"),
    )
    ct = cells.groupBy(*keys).agg(
        F.sum("total_err").cast("long").alias("_total_err"),
        F.sum("n_rows").cast("long").alias("n_rows"),
    )
    merged = pv.join(ct, on=keys).select(
        *keys,
        "value",
        "count_lo",
        (F.col("_total_err") - F.col("_present_err"))
        .cast("long")
        .alias("err_ub"),
        "n_rows",
    )
    if k is None:
        return merged
    w = Window.partitionBy(*keys).orderBy(
        F.col("count_lo").desc(), F.col("value")
    )
    return (
        merged.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )


def merge_topk_sketch(
    rollup: DataFrame,
    keys: list[str],
    k: int | None = None,
) -> DataFrame:
    """Coarsen a :func:`topk_sketch` rollup to ``keys`` (e.g. per-day
    cells → per-type): one row per (cell, value) with

    - ``count_lo`` — sum of the value's surviving per-cell counts, a
      LOWER bound on its true merged count;
    - ``err_ub`` — sum of ``dropped_max`` over the merged cells where
      the value did NOT survive truncation: the true count is always
      in ``[count_lo, count_lo + err_ub]``.

    ``k`` re-truncates the merged summary to the top ``k`` values per
    coarse cell by (count_lo desc, value) — the deterministic merged
    heavy-hitter list. All exact integer arithmetic (oracle-paired,
    q_topk_sketch_merge). Implemented as decompose → combine; the
    split is public so delta stores can persist the decomposition
    (see :func:`decompose_topk_sketch`).
    """
    per_value, cells = decompose_topk_sketch(rollup, keys)
    return combine_topk_decomposition(per_value, cells, keys, k=k)


# ------------------------------------------- mergeable quantile sketch
#
# The percentile member of the decomposable-aggregate family:
# percentile_approx per rollup cell is
# NOT mergeable across cells (quantiles don't sum), which is exactly
# the gap the HLL cells above fill for COUNT DISTINCT. Spark 4 ships
# Apache DataSketches KLL natively (kll_sketch_agg_double /
# kll_merge_agg_double / kll_sketch_get_quantile_double — JVM-side,
# codegen'd): store one KLL sketch per rollup cell, MERGE sketches up
# to any coarser cell or range, query any quantile at read time with
# the KLL normalized-rank-error guarantee (~1.65% at k=200,
# Karnin-Lang-Liberty 2016). Same oracle stance as HLL: the sketch
# binary and its estimates are engine-specific, so the declared query
# is rows-only and correctness is pinned by rank-error + merge
# invariant tests (tests/test_sketches.py).


def quantile_sketch(col: Column | str, k: int = 200) -> Column:
    """KLL sketch aggregate of a double column — the mergeable
    percentile cell (~1.65% normalized rank error at k=200, a few KB
    per sketch). Store next to sums/counts in rollup cells."""
    c = F.col(col) if isinstance(col, str) else col
    return F.kll_sketch_agg_double(c.cast("double"), F.lit(int(k)))


def quantile_rollup(
    df: DataFrame,
    keys: list[str],
    value_col: str,
    k: int = 200,
) -> DataFrame:
    """Per-cell KLL rollup: one row per ``keys`` cell with the cell's
    quantile sketch and row count. The sketch column is what
    downstream re-aggregation merges; NULL values are ignored by the
    sketch aggregate (and a cell of only NULLs stores an empty
    sketch)."""
    return df.groupBy(*keys).agg(
        quantile_sketch(value_col, k).alias("q_sketch"),
        F.count(value_col).cast("bigint").alias("n_rows"),
    )


def merge_quantile_rollup(
    rollup: DataFrame,
    keys: list[str],
    quantiles: list[float] = (0.5, 0.95, 0.99),
    sketch_col: str = "q_sketch",
) -> DataFrame:
    """Re-aggregate a KLL rollup to coarser ``keys`` (day cells →
    type) by MERGING sketches — the operation per-cell
    percentile_approx cannot do — and evaluate ``quantiles`` on the
    merged sketch. Returns (keys..., n_rows, p<q> per quantile,
    rounded 6 dp)."""
    merged = rollup.groupBy(*keys).agg(
        F.kll_merge_agg_double(F.col(sketch_col)).alias("_sk"),
        F.sum("n_rows").cast("bigint").alias("n_rows"),
    )
    cols = [*keys, "n_rows"]
    for q in quantiles:
        pct = float(q) * 100.0
        name = (
            f"p{int(round(pct))}"
            if abs(pct - round(pct)) < 1e-9
            else "p" + repr(pct).replace(".", "_")
        )
        cols.append(
            F.round(
                F.kll_sketch_get_quantile_double("_sk", F.lit(float(q))),
                6,
            ).alias(name)
        )
    return merged.select(*cols)


# ------------------------------------------- mergeable theta sketches
#
# The SET-OPERATION member of the sketch family: HLL cells
# union losslessly but cannot INTERSECT — "how many users do segments
# A and B share" needs Apache DataSketches Theta (Spark-native:
# theta_sketch_agg / theta_union / theta_intersection /
# theta_sketch_estimate), the a-priori sampling sketch whose set
# algebra is closed. One sketch per segment cell, any pairwise (or
# k-way) overlap served at read time from sketch bytes — the scale
# path for q_audience_jaccard's exact bitmap join, which at 100 TB
# cannot afford a per-pair distinct-user intersection over raw events.
# Same oracle stance as HLL/KLL: estimates are engine-specific →
# rows-only query, invariants pinned against the exact operator in
# tests/test_sketches.py.


def theta_rollup(
    df: DataFrame,
    keys: list[str],
    value_col: str,
) -> DataFrame:
    """Per-cell Theta sketch of ``value_col`` (one row per ``keys``
    cell, with the cell's exact row count): the segment-membership
    summary every overlap/retention question reads from. Rows with a
    NULL in any key column are EXCLUDED (a NULL-key
    sketch row would appear in the rollup yet silently vanish from
    every :func:`theta_overlap` pair — the ``seg_a < seg_b`` predicate
    is NULL for it — so excluding it here keeps rollup and overlap
    consistent; filter/COALESCE the key upstream to keep those
    rows)."""
    out = df.filter(F.col(value_col).isNotNull())
    for k in keys:
        out = out.filter(F.col(k).isNotNull())
    return out.groupBy(*keys).agg(
        F.theta_sketch_agg(F.col(value_col)).alias("theta_sketch"),
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
    )


def theta_overlap(
    rollup: DataFrame,
    key_col: str,
    sketch_col: str = "theta_sketch",
) -> DataFrame:
    """Pairwise segment overlap from a :func:`theta_rollup`: for every
    unordered segment pair (a < b) the intersection / union distinct
    estimates and their Jaccard ratio, all from sketch bytes — no
    second pass over the raw data. The pair join is a dims-only grid
    (one row per SEGMENT, not per event — the chi-square-scan
    stance): segment counts are dashboard-sized, so the quadratic
    lives in segments, never rows."""
    a = rollup.select(
        F.col(key_col).alias("seg_a"), F.col(sketch_col).alias("_ska")
    )
    b = rollup.select(
        F.col(key_col).alias("seg_b"), F.col(sketch_col).alias("_skb")
    )
    pairs = a.join(b, F.col("seg_a") < F.col("seg_b"))
    inter = F.theta_sketch_estimate(
        F.theta_intersection("_ska", "_skb")
    ).cast("bigint")
    uni = F.theta_sketch_estimate(F.theta_union("_ska", "_skb")).cast(
        "bigint"
    )
    return pairs.select(
        "seg_a",
        "seg_b",
        inter.alias("inter_est"),
        uni.alias("union_est"),
    ).withColumn(
        "jaccard_est",
        F.when(
            F.col("union_est") > 0,
            F.round(
                F.col("inter_est").cast("double")
                / F.col("union_est").cast("double"),
                6,
            ),
        ),
    )


def merge_theta_cells(
    rollup: DataFrame,
    keys: list[str],
    sketch_col: str = "theta_sketch",
) -> DataFrame:
    """Re-aggregate a :func:`theta_rollup` to coarser ``keys`` by
    UNIONING sketches (``theta_union_agg`` — union is Theta's lossless
    direction, exactly like HLL), keeping the merged sketch column so
    downstream set operations (:func:`theta_overlap`,
    :func:`theta_overlap_kway`) can run on the coarse cells. ``n_rows``
    accounting is EXACT (plain sum). This is the fold the streaming
    Theta store's compaction and serving both use (streaming/theta.py):
    a segment's rows arriving over many micro-batches just means
    several sketch rows to union — same estimate guarantee as
    sketching the whole segment at once (union is exact on the
    underlying sample-threshold math)."""
    return rollup.groupBy(*keys).agg(
        F.theta_union_agg(F.col(sketch_col)).alias(sketch_col),
        F.sum("n_rows").cast("bigint").alias("n_rows"),
    )


def theta_overlap_kway(
    rollup: DataFrame,
    key_col: str,
    k: int = 3,
    sketch_col: str = "theta_sketch",
) -> DataFrame:
    """k-way segment intersection estimates from a
    :func:`theta_rollup`: for
    every ordered combination ``seg_1 < seg_2 < ... < seg_k`` the
    distinct-count estimate of members in ALL k segments — the
    question pairwise Jaccard cannot answer (A∩B and B∩C being large
    says nothing about A∩B∩C). Theta's intersection is closed over
    sketch bytes, so the k-way chain needs no second pass over raw
    data. The combination join is a dims-only grid like
    :func:`theta_overlap` — C(segments, k) rows, quadratic-and-worse
    in SEGMENTS (dashboard-sized), never in events. Returns
    (seg_1..seg_k, inter_est)."""
    if k < 2:
        raise ValueError("theta_overlap_kway: k must be >= 2")
    out = rollup.select(
        F.col(key_col).alias("seg_1"), F.col(sketch_col).alias("_sk")
    )
    for i in range(2, k + 1):
        nxt = rollup.select(
            F.col(key_col).alias(f"seg_{i}"),
            F.col(sketch_col).alias("_sk_nxt"),
        )
        out = (
            out.join(nxt, F.col(f"seg_{i - 1}") < F.col(f"seg_{i}"))
            .withColumn("_sk", F.theta_intersection("_sk", "_sk_nxt"))
            .drop("_sk_nxt")
        )
    return out.select(
        *[f"seg_{i}" for i in range(1, k + 1)],
        F.theta_sketch_estimate("_sk").cast("bigint").alias("inter_est"),
    )
