"""HLL sketch rollups (functions/sketches.py): estimate accuracy vs
exact distinct counts, and the merge property — unioned per-day
sketches must estimate what one whole-range sketch estimates."""

from __future__ import annotations

from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from rusty_timeseries_db_spark.functions.sketches import (
    distinct_rollup,
    merge_rollup,
    sketch_estimate,
)
from rusty_timeseries_db_spark.queries import T
from tests.conftest import SF_DIR


def test_estimate_accuracy_vs_exact(spark):
    e = T(spark, SF_DIR, "events")
    roll = distinct_rollup(
        e.withColumn("day", F.to_date("ts")), ["event_type"], "user_id"
    )
    exact = {
        r.event_type: r.exact
        for r in e.groupBy("event_type")
        .agg(F.count_distinct("user_id").alias("exact"))
        .collect()
    }
    for r in roll.collect():
        rel_err = abs(r.distinct_est - exact[r.event_type]) / exact[r.event_type]
        assert rel_err < 0.05, (r.event_type, r.distinct_est, exact[r.event_type])


def test_merge_equals_whole_range_sketch(spark):
    e = T(spark, SF_DIR, "events").withColumn("day", F.to_date("ts"))
    daily = distinct_rollup(e, ["event_type", "day"], "user_id")
    merged = merge_rollup(daily, ["event_type"])

    whole = distinct_rollup(e, ["event_type"], "user_id")
    m = {r.event_type: (r.distinct_est, r.n_rows) for r in merged.collect()}
    w = {r.event_type: (r.distinct_est, r.n_rows) for r in whole.collect()}
    # HLL union is lossless for same-lg_k sketches: identical estimates,
    # and row counts add up exactly
    assert m == w


def test_sketch_column_is_reusable(spark, tmp_path):
    """The stored sketch column itself estimates correctly after a
    round-trip through parquet (it is the thing a rollup persists)."""
    e = T(spark, SF_DIR, "events")
    daily = distinct_rollup(
        e.withColumn("day", F.to_date("ts")), ["day"], "user_id"
    )
    path = str(tmp_path / "sketch_roundtrip")
    daily.write.mode("overwrite").parquet(path)
    back = spark.read.parquet(path)
    re_est = back.select(
        "day", sketch_estimate("sketch").cast("bigint").alias("est2"),
        "distinct_est",
    )
    for r in re_est.collect():
        assert r.est2 == r.distinct_est


# ------------------------------------------- mergeable top-k sketch


def test_topk_sketch_hand_computed(spark):
    from pyspark.sql import functions as F

    from rusty_timeseries_db_spark.functions.sketches import (
        merge_topk_sketch,
        topk_sketch,
    )

    # cell c1: a x3, b x2, c x1  (k=2 keeps a,b; dropped_max=1)
    # cell c2: c x4, a x1        (k=2 keeps all;  dropped_max=0)
    rows = (
        [("c1", "a")] * 3 + [("c1", "b")] * 2 + [("c1", "c")]
        + [("c2", "c")] * 4 + [("c2", "a")]
    )
    df = spark.createDataFrame(rows, "cell string, v string")
    sk = topk_sketch(df, ["cell"], "v", k=2)
    got = {r.cell: r for r in sk.collect()}
    assert got["c1"].top == {"a": 3, "b": 2}
    assert got["c1"].dropped_max == 1
    assert got["c1"].n_rows == 6
    assert got["c2"].top == {"c": 4, "a": 1}
    assert got["c2"].dropped_max == 0

    merged = merge_topk_sketch(
        sk.withColumn("all", F.lit(1)), ["all"]
    ).collect()
    m = {r.value: r for r in merged}
    # a: survived both cells -> count_lo exact 4, err 0
    assert (m["a"].count_lo, m["a"].err_ub) == (4, 0)
    # b: missing from c2 (was never there) -> err = c2.dropped_max = 0
    assert (m["b"].count_lo, m["b"].err_ub) == (2, 0)
    # c: dropped in c1 -> count_lo 4 (c2 only), err = c1.dropped_max
    assert (m["c"].count_lo, m["c"].err_ub) == (4, 1)
    # truth c=5 is inside [4, 4+1]
    assert all(r.n_rows == 11 for r in merged)


@settings(max_examples=8, deadline=None)
@given(
    data=st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 9)),  # (cell, value)
        min_size=1,
        max_size=120,
    ),
    k=st.integers(1, 4),
)
def test_topk_sketch_merge_bound_always_holds(spark, data, k):
    """For ANY split of the data into cells and any k: every surviving
    merged value's true global count lies in [count_lo, count_lo +
    err_ub], and any value with true count > every kept value's upper
    miss bound survives the merge (the heavy-hitter recall face)."""
    from collections import Counter

    from rusty_timeseries_db_spark.functions.sketches import (
        merge_topk_sketch,
        topk_sketch,
    )

    df = spark.createDataFrame(data, "cell int, v int").withColumn(
        "g", F.lit(1)
    )
    sk = topk_sketch(df, ["g", "cell"], "v", k=k)
    merged = merge_topk_sketch(sk, ["g"]).collect()
    truth = Counter(v for _, v in data)
    kept = {r.value for r in merged}
    for r in merged:
        assert r.count_lo <= truth[r.value] <= r.count_lo + r.err_ub
    # a value absent from EVERY cell's top-k has true count bounded by
    # the sum of all cells' dropped_max
    total_err = sum(r.dropped_max for r in sk.collect())
    for v, c in truth.items():
        if v not in kept:
            assert c <= total_err


def test_topk_sketch_null_values_ignored(spark):
    from rusty_timeseries_db_spark.functions.sketches import topk_sketch

    df = spark.createDataFrame(
        [("c", "a"), ("c", None), ("c", None), ("c", None), ("c", "b"),
         ("empty", None)],
        "cell string, v string",
    )
    got = {r.cell: r for r in topk_sketch(df, ["cell"], "v", k=2).collect()}
    # NULLs neither rank nor count; the all-NULL cell emits nothing
    assert set(got) == {"c"}
    assert got["c"].top == {"a": 1, "b": 1}
    assert got["c"].n_rows == 2


# ------------------------------------------- mergeable KLL quantiles


def test_kll_rank_error_vs_exact(spark):
    """A merged per-day KLL rollup's quantile estimates must
    sit within the sketch's normalized rank-error bound of the exact
    percentiles — checked in RANK space (the KLL guarantee is on
    ranks, not values): the exact rank of each estimated value must be
    within ~3x the k=200 epsilon (~1.65%) of the target quantile."""
    from rusty_timeseries_db_spark.functions.sketches import (
        merge_quantile_rollup,
        quantile_rollup,
    )

    e = T(spark, SF_DIR, "events").filter(F.col("value").isNotNull())
    daily = quantile_rollup(
        e.withColumn("day", F.to_date("ts")), ["event_type", "day"], "value"
    )
    merged = merge_quantile_rollup(
        daily, ["event_type"], quantiles=[0.5, 0.95]
    )
    est = {r.event_type: r for r in merged.collect()}
    for et, row in est.items():
        vals = sorted(
            x.value
            for x in e.filter(F.col("event_type") == et)
            .select("value")
            .collect()
        )
        n = len(vals)
        assert row.n_rows == n
        import bisect

        for q, v in ((0.5, row.p50), (0.95, row.p95)):
            # rank of the estimated value among the exact data
            rank = bisect.bisect_right(vals, v) / n
            assert abs(rank - q) <= 0.05, (et, q, v, rank)


def test_kll_merge_consistent_with_whole_range(spark):
    """Merged per-day sketches and one whole-range sketch are both
    within the rank bound of the same truth — and carry identical
    n_rows accounting."""
    from rusty_timeseries_db_spark.functions.sketches import (
        merge_quantile_rollup,
        quantile_rollup,
    )

    e = T(spark, SF_DIR, "events").withColumn("day", F.to_date("ts"))
    daily = quantile_rollup(e, ["event_type", "day"], "value")
    merged = merge_quantile_rollup(daily, ["event_type"], quantiles=[0.5])
    whole = merge_quantile_rollup(
        quantile_rollup(e, ["event_type"], "value"),
        ["event_type"],
        quantiles=[0.5],
    )
    m = {r.event_type: r for r in merged.collect()}
    w = {r.event_type: r for r in whole.collect()}
    assert set(m) == set(w)
    for et in m:
        assert m[et].n_rows == w[et].n_rows
        # both estimates sit within the combined rank bound of each
        # other: translate to rank space via the exact data
        vals = sorted(
            x.value
            for x in e.filter(
                F.col("event_type") == et
            ).select("value").collect()
            if x.value is not None
        )
        import bisect

        rm = bisect.bisect_right(vals, m[et].p50) / len(vals)
        rw = bisect.bisect_right(vals, w[et].p50) / len(vals)
        assert abs(rm - rw) <= 0.07, (et, rm, rw)


def test_kll_rollup_cells_roundtrip_and_continuous_rollup(spark, tmp_path):
    """The sketch column survives parquet, and the ContinuousRollup
    integration serves days-∪-tail percentile estimates within the
    rank bound of the exact whole-range percentiles."""
    import bisect

    from rusty_timeseries_db_spark.operators.rollup import ContinuousRollup

    e = T(spark, SF_DIR, "events").select("event_type", "ts", "value")
    base = str(tmp_path / "base")
    e.write.mode("overwrite").parquet(base)
    roll = ContinuousRollup(
        spark,
        base,
        str(tmp_path / "roll"),
        key_cols=["event_type"],
        window="1 hour",
        quantile_col="value",
    )
    roll.refresh()
    est = {r.event_type: r for r in roll.quantile_estimate([0.5]).collect()}
    for et, row in est.items():
        vals = sorted(
            x.value
            for x in e.filter(F.col("event_type") == et)
            .select("value")
            .collect()
            if x.value is not None
        )
        rank = bisect.bisect_right(vals, row.p50) / len(vals)
        assert abs(rank - 0.5) <= 0.05, (et, row.p50, rank)
        assert row.n_rows == len(vals)


# ------------------------------------------- mergeable theta sketches


def test_theta_overlap_accuracy_and_invariants(spark):
    """Pairwise segment overlap from theta sketches must sit
    within ~5% of the exact distinct intersection/union, and respect
    the set invariants (inter <= min cardinality, union >= max,
    |A|+|B| == inter + union within sketch error)."""
    from rusty_timeseries_db_spark.functions.sketches import (
        theta_overlap,
        theta_rollup,
    )

    e = T(spark, SF_DIR, "events").filter(F.col("user_id").isNotNull())
    segs = theta_rollup(e, ["event_type"], "user_id")
    got = {
        (r.seg_a, r.seg_b): r
        for r in theta_overlap(segs, "event_type").collect()
    }
    # exact truth per segment pair
    users = {
        r.event_type: set(
            x.user_id
            for x in e.filter(F.col("event_type") == r.event_type)
            .select("user_id")
            .distinct()
            .collect()
        )
        for r in e.select("event_type").distinct().collect()
    }
    import itertools

    for a, b in itertools.combinations(sorted(users), 2):
        row = got[(a, b)]
        inter = len(users[a] & users[b])
        union = len(users[a] | users[b])
        assert abs(row.inter_est - inter) <= max(2, 0.05 * inter), (a, b)
        assert abs(row.union_est - union) <= max(2, 0.05 * union), (a, b)
        assert abs(
            row.jaccard_est - (inter / union if union else 0)
        ) <= 0.05
        # set invariants on the estimates themselves
        assert row.inter_est <= row.union_est
    assert len(got) == len(users) * (len(users) - 1) // 2


def test_theta_rollup_ignores_nulls_and_counts_rows(spark):
    from rusty_timeseries_db_spark.functions.sketches import theta_rollup

    df = spark.createDataFrame(
        [("a", 1), ("a", 1), ("a", None), ("b", 2)],
        "seg string, u int",
    )
    got = {r.seg: r for r in theta_rollup(df, ["seg"], "u").collect()}
    # NULL member rows are excluded from both the sketch and n_rows
    assert got["a"].n_rows == 2
    assert got["b"].n_rows == 1


def test_theta_rollup_excludes_null_key_segments(spark):
    """A NULL-key segment would appear in the rollup
    yet vanish from every overlap pair (seg_a < seg_b is NULL for it)
    — theta_rollup excludes it so rollup and overlap stay
    consistent."""
    from rusty_timeseries_db_spark.functions.sketches import theta_rollup

    df = spark.createDataFrame(
        [("a", 1), (None, 2), ("b", 3)], "seg string, u int"
    )
    segs = {r.seg for r in theta_rollup(df, ["seg"], "u").collect()}
    assert segs == {"a", "b"}


def test_theta_overlap_kway_vs_exact_3way(spark):
    """K-way Theta intersections
    over the events segment grid must sit within ~5% of the exact
    3-way distinct-user intersection (the question pairwise Jaccard
    cannot answer), for EVERY segment triple at sf0.001."""
    import itertools

    from rusty_timeseries_db_spark.functions.sketches import (
        theta_overlap_kway,
        theta_rollup,
    )

    e = T(spark, SF_DIR, "events").filter(F.col("user_id").isNotNull())
    segs = theta_rollup(e, ["event_type"], "user_id")
    got = {
        (r.seg_1, r.seg_2, r.seg_3): r.inter_est
        for r in theta_overlap_kway(segs, "event_type", k=3).collect()
    }
    users = {
        r.event_type: set(
            x.user_id
            for x in e.filter(F.col("event_type") == r.event_type)
            .select("user_id")
            .distinct()
            .collect()
        )
        for r in e.select("event_type").distinct().collect()
    }
    names = sorted(users)
    triples = list(itertools.combinations(names, 3))
    assert set(got) == set(triples)
    for a, b, c in triples:
        truth = len(users[a] & users[b] & users[c])
        assert abs(got[(a, b, c)] - truth) <= max(2, 0.05 * truth), (
            a, b, c, got[(a, b, c)], truth,
        )
    # a 2-way call must equal the pairwise grid's combination count
    pairs = theta_overlap_kway(segs, "event_type", k=2).collect()
    assert len(pairs) == len(names) * (len(names) - 1) // 2
