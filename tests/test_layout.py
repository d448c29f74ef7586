"""Layout optimizer (operators/layout.py): the rewrite must produce
files whose footer min/max ranges are (near-)disjoint on the sort key,
and a range predicate over the optimized layout must prune files."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from rusty_timeseries_db_spark.operators.layout import (
    file_stats,
    optimize_layout,
    overlap_fraction,
)
from rusty_timeseries_db_spark.queries import T
from tests.conftest import SF_DIR


def test_range_sorted_layout_disjoint_stats(spark, tmp_path):
    e = T(spark, SF_DIR, "events")
    out = str(tmp_path / "events_opt")
    optimize_layout(e, out, sort_cols=["ts"], target_files=8)

    stats = file_stats(spark, out, "ts")
    assert len(stats) >= 2
    # range partitioning → file [min,max] bands are pairwise disjoint
    # up to at most shared boundary values: allow a small tolerance for
    # the sampler placing duplicate boundary keys in both neighbors.
    assert overlap_fraction(stats) <= 0.15
    # and within a file, row groups are sorted: file min == first rg min
    # is implied by has_min_max; just re-verify content equality:
    assert (
        spark.read.parquet(out).count() == e.count()
    )


def test_unsorted_layout_overlaps(spark, tmp_path):
    """Control: a hash-shuffled write has ~fully overlapping stats —
    the contrast that makes the optimizer's claim falsifiable."""
    e = T(spark, SF_DIR, "events")
    out = str(tmp_path / "events_raw")
    e.repartition(8).write.mode("overwrite").parquet(out)
    stats = file_stats(spark, out, "ts")
    if len(stats) < 2:
        pytest.skip("single output file — no pairs to compare")
    assert overlap_fraction(stats) >= 0.9


def test_hive_partitioned_layout(spark, tmp_path):
    e = T(spark, SF_DIR, "events")
    out = str(tmp_path / "events_part")
    optimize_layout(
        e, out, sort_cols=["ts"], partition_cols=["event_type"],
        target_files=4,
    )
    read = spark.read.parquet(out)
    assert read.count() == e.count()
    # partition pruning: the partition predicate must appear in the
    # scan's PartitionFilters (plan-level assertion — a count()>0
    # fallback would make this vacuous).
    one = read.filter(F.col("event_type") == "click")
    plan = one._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert "event_type" in plan.split("PartitionFilters", 1)[1][:200]


def test_sort_cols_required(spark, tmp_path):
    e = T(spark, SF_DIR, "events")
    with pytest.raises(ValueError):
        optimize_layout(e, str(tmp_path / "x"), sort_cols=[])


def test_engine_optimize_storage_round_trip(spark, tmp_path):
    """optimize_storage must preserve every row and query result while
    re-clustering the base; the version pointer swap keeps reads
    atomic (same protocol as compact)."""
    from rusty_timeseries_db_spark.api import TimeseriesEngine
    from tests.conftest import CANONICAL_ROWS, SERIES_ID

    eng = TimeseriesEngine(spark, str(tmp_path / "wh"))
    eng.ingest_rows(CANONICAL_ROWS)
    # a pending overlay must be folded in, not dropped
    eng.update_rows([
        {**CANONICAL_ROWS[0], "value": 0.42}
    ])
    before = eng.query_by_id(
        SERIES_ID, "2024-08-28T12:00:00Z", "2024-08-28T12:03:00Z"
    ).collect()

    n = eng.optimize_storage(target_files=2)
    assert n == eng.count()

    after = eng.query_by_id(
        SERIES_ID, "2024-08-28T12:00:00Z", "2024-08-28T12:03:00Z"
    ).collect()
    assert sorted(r.value for r in before) == sorted(r.value for r in after)
    assert after and any(r.value == 0.42 for r in after)
    # overlay was folded by the pre-pass compact
    import os
    assert not os.path.isdir(eng.overlay_path)


def test_file_stats_nested_column_before_target(spark, tmp_path):
    """A nested column (map) EARLIER in the schema contributes several
    parquet leaves; file_stats must resolve the target by leaf path,
    not by top-level Arrow field index (which silently reads the wrong
    column's stats)."""
    df = spark.createDataFrame(
        [(F"k{i}", i) for i in range(100)], "name string, v long"
    ).selectExpr("map('a', name) AS props", "v")
    out = str(tmp_path / "nested")
    df.coalesce(1).write.mode("overwrite").parquet(out)
    stats = file_stats(spark, out, "v")
    assert len(stats) == 1
    _, lo, hi = stats[0]
    assert (lo, hi) == (0, 99)


def test_zorder_improves_second_dimension(spark, tmp_path):
    """Single-column sort makes the SECOND column's file stats useless
    (near-full overlap); z-order makes both selective. The contrast is
    the falsifiable claim."""
    from rusty_timeseries_db_spark.operators.layout import zorder_layout

    e = T(spark, SF_DIR, "events").select("user_id", "value", "event_id")

    single = str(tmp_path / "single")
    optimize_layout(e, single, sort_cols=["user_id"], target_files=8)
    z = str(tmp_path / "zorder")
    zorder_layout(e, z, ["user_id", "value"], target_files=8)

    # content preserved
    assert spark.read.parquet(z).count() == e.count()

    ov_single_v = overlap_fraction(file_stats(spark, single, "value"))
    ov_z_u = overlap_fraction(file_stats(spark, z, "user_id"))
    ov_z_v = overlap_fraction(file_stats(spark, z, "value"))
    # value stats are useless under user_id-only sort...
    assert ov_single_v > 0.8
    # ...and BOTH dimensions become selective under z-order
    assert ov_z_u < ov_single_v - 0.2
    assert ov_z_v < ov_single_v - 0.2


def test_zorder_validation(spark, tmp_path):
    import pytest as _pytest

    from rusty_timeseries_db_spark.operators.layout import zorder_layout

    e = T(spark, SF_DIR, "events")
    with _pytest.raises(ValueError, match="at least 2"):
        zorder_layout(e, str(tmp_path / "x"), ["ts"])
    empty = e.filter("user_id < 0")
    with _pytest.raises(ValueError, match="empty"):
        zorder_layout(empty, str(tmp_path / "y"), ["user_id", "value"])


def test_zorder_three_columns_all_selective(spark, tmp_path):
    """k=3 interleave: every dimension's file stats become selective.
    Per-dim splitting ≈ log2(files)/k bits, so this needs enough files
    for even the lowest-priority dimension to receive a split
    (measured: 8 files → user_id 1.0; 32 files → 0.69/0.57/0.42)."""
    from rusty_timeseries_db_spark.operators.layout import zorder_layout

    e = T(spark, SF_DIR, "events").select(
        "user_id", "value", "event_id"
    )
    z3 = str(tmp_path / "z3")
    zorder_layout(e, z3, ["user_id", "value", "event_id"], target_files=32)
    assert spark.read.parquet(z3).count() == e.count()
    for c in ("user_id", "value", "event_id"):
        ov = overlap_fraction(file_stats(spark, z3, c))
        assert ov < 0.8, (c, ov)


# ---------------------------------------------- PageRank

def test_pagerank_hand_computed_and_guards(spark):
    """Integer PageRank on a 3-node chain a->b->c plus c->b: exact
    hand-computed micro-unit ranks after 1 and 2 iterations."""
    import pytest

    from rusty_timeseries_db_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "b")], "src string, dst string"
    )
    # iter 1 from r=1_000_000 each, outdeg all 1:
    #   b <- a(1e6) + c(1e6) = 2e6 -> 150000 + 850*2e6//1000 = 1_850_000
    #   c <- b(1e6)                -> 150000 + 850*1e6//1000 = 1_000_000
    #   a <- nothing               -> 150_000
    r1 = {r.node: r.rank_micro for r in pagerank(edges, iterations=1).collect()}
    assert r1 == {"a": 150_000, "b": 1_850_000, "c": 1_000_000}
    # iter 2: b <- a(150000) + c(1000000) -> 150000 + 850*1150000//1000
    #         = 150000 + 977500 = 1_127_500
    #         c <- b(1850000) -> 150000 + 850*1850000//1000 = 1_722_500
    r2 = {r.node: r.rank_micro for r in pagerank(edges, iterations=2).collect()}
    assert r2 == {"a": 150_000, "b": 1_127_500, "c": 1_722_500}
    # determinism across runs
    assert r2 == {
        r.node: r.rank_micro for r in pagerank(edges, iterations=2).collect()
    }
    with pytest.raises(ValueError):
        pagerank(edges, iterations=0)
    with pytest.raises(ValueError):
        pagerank(edges, damping_permille=2000)


def test_pagerank_normalized_flag(spark):
    """Raw ranks are NOT a
    distribution (init SCALE/node, dangling mass dropped); the
    normalized=True variant rescales so Σ rank_micro lands within
    N-1 micro-units of SCALE (integer floor), the ORDER unchanged.
    Parallel edges collapse to weight 1 (documented distinct-edge
    semantics)."""
    from rusty_timeseries_db_spark.operators.graph import SCALE, pagerank

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "b"), ("c", "b")],  # one dup edge
        "src string, dst string",
    )
    raw = {r.node: r.rank_micro for r in pagerank(edges, iterations=2).collect()}
    assert sum(raw.values()) != SCALE  # the documented non-distribution
    # duplicate c->b edge did not double c's contribution
    assert raw == {"a": 150_000, "b": 1_127_500, "c": 1_722_500}
    norm = {
        r.node: r.rank_micro
        for r in pagerank(edges, iterations=2, normalized=True).collect()
    }
    assert SCALE - (len(norm) - 1) <= sum(norm.values()) <= SCALE
    order = lambda d: sorted(d, key=lambda n: (-d[n], n))  # noqa: E731
    assert order(raw) == order(norm)


def test_markov_stationary_hand_computed(spark):
    """Weighted random-walk power iteration in integer
    micro-units — hand-computed on a 2-state chain with asymmetric
    weights, plus the convergence/normalization invariants."""
    import pytest

    from rusty_timeseries_db_spark.operators.graph import (
        SCALE,
        markov_stationary,
    )

    # a->b w=3, a->a w=1; b->a w=1: P(a->b)=3/4, stationary ~ (4/7, 3/7)
    edges = spark.createDataFrame(
        [("a", "b", 3), ("a", "a", 1), ("b", "a", 1)],
        "s string, d string, w int",
    )
    # raw iter 1 from p=1e6 each, per-term floor:
    #   a <- a(1e6*1//4) + b(1e6*1//1) = 250000 + 1000000 = 1_250_000
    #   b <- a(1e6*3//4)               =                     750_000
    raw1 = {
        r.state: r.mass_micro
        for r in markov_stationary(
            edges, "s", "d", "w", iterations=1, normalized=False
        ).collect()
    }
    assert raw1 == {"a": 1_250_000, "b": 750_000}
    # normalized masses approach the exact stationary (4/7, 3/7)
    norm = {
        r.state: r.mass_micro
        for r in markov_stationary(edges, "s", "d", "w", iterations=6).collect()
    }
    assert SCALE - 1 <= sum(norm.values()) <= SCALE
    assert abs(norm["a"] - 4 * SCALE // 7) < 25_000
    assert abs(norm["b"] - 3 * SCALE // 7) < 25_000
    # determinism across runs
    assert norm == {
        r.state: r.mass_micro
        for r in markov_stationary(edges, "s", "d", "w", iterations=6).collect()
    }
    with pytest.raises(ValueError):
        markov_stationary(edges, "s", "d", "w", iterations=0)
