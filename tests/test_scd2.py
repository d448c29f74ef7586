"""SCD2 merge semantics: close-out, insert, no-op idempotence, history
preservation."""

from __future__ import annotations

from pyspark.sql import functions as F

from rusty_timeseries_db_spark.operators.scd2 import scd2_apply


def _dim(spark):
    return spark.createDataFrame(
        [
            # k1: one historical + one current version
            ("k1", "addr_old", "2023-01-01 00:00:00", "2023-06-01 00:00:00"),
            ("k1", "addr_v2", "2023-06-01 00:00:00", None),
            # k2: current only
            ("k2", "addr_b", "2023-01-01 00:00:00", None),
        ],
        "k string, addr string, vf string, vt string",
    ).select(
        "k",
        "addr",
        F.to_timestamp("vf").alias("valid_from"),
        F.to_timestamp("vt").alias("valid_to"),
    )


def _changes(spark, rows):
    return spark.createDataFrame(rows, "k string, addr string, cts string").select(
        "k", "addr", F.to_timestamp("cts").alias("change_ts")
    )


def test_scd2_close_out_and_insert(spark):
    dim = _dim(spark)
    out = scd2_apply(
        dim,
        _changes(spark, [("k1", "addr_v3", "2024-01-01 00:00:00"),
                         ("k3", "addr_new", "2024-01-01 00:00:00")]),
        key="k", tracked=["addr"],
    )
    rows = {(r.k, r.addr): (r.valid_from, r.valid_to) for r in out.collect()}
    assert len(rows) == 5
    # old current closed out at change ts
    assert rows[("k1", "addr_v2")][1].strftime("%Y-%m-%d") == "2024-01-01"
    # new current version open-ended
    assert rows[("k1", "addr_v3")][1] is None
    # brand-new key inserted
    assert rows[("k3", "addr_new")][1] is None
    # untouched current + history intact
    assert rows[("k2", "addr_b")][1] is None
    assert rows[("k1", "addr_old")][1] is not None


def test_scd2_noop_change_is_idempotent(spark):
    dim = _dim(spark)
    ch = _changes(spark, [("k2", "addr_b", "2024-01-01 00:00:00")])  # same attrs
    out1 = scd2_apply(dim, ch, key="k", tracked=["addr"])
    assert out1.count() == dim.count()  # nothing closed, nothing inserted
    out2 = scd2_apply(out1, ch, key="k", tracked=["addr"])
    assert sorted(map(tuple, out1.collect())) == sorted(map(tuple, out2.collect()))


def test_scd2_plan_is_broadcast_no_sort_merge(spark):
    """The dimension must never shuffle for a small change batch: every
    join leg is a BroadcastHashJoin (a full-outer formulation silently
    ignores the broadcast hint and sort-merges the whole dimension)."""
    out = scd2_apply(
        _dim(spark),
        _changes(spark, [("k1", "addr_v3", "2024-01-01 00:00:00"),
                         ("k3", "addr_new", "2024-01-01 00:00:00")]),
        key="k", tracked=["addr"],
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan, plan


def test_scd2_point_in_time_query(spark):
    """The payoff: as-of dimension lookups over validity intervals."""
    dim = _dim(spark)
    out = scd2_apply(
        dim,
        _changes(spark, [("k1", "addr_v3", "2024-01-01 00:00:00")]),
        key="k", tracked=["addr"],
    )
    t = F.lit("2023-08-01 00:00:00").cast("timestamp")
    asof = out.filter(
        (F.col("valid_from") <= t)
        & (F.col("valid_to").isNull() | (F.col("valid_to") > t))
    )
    got = {r.k: r.addr for r in asof.collect()}
    assert got == {"k1": "addr_v2", "k2": "addr_b"}  # the 2023-08 view


# ------------------------------------------ MERGE upsert

def test_merge_upsert_update_insert_and_null_assignment(spark):
    """Matched rows take the source's values INCLUDING NULLs (MERGE
    assigns, never coalesces); unmatched source rows insert with NULL
    in the target columns the source lacks; untouched target rows pass
    through; output schema is the target's exactly."""
    from pyspark.sql import functions as F

    from rusty_timeseries_db_spark.operators.scd2 import merge_upsert

    target = spark.createDataFrame(
        [(1, "a", 10.0, "keep1"), (2, "b", 20.0, "keep2"),
         (3, "c", 30.0, "keep3")],
        "id long, tag string, v double, extra string",
    )
    source = spark.createDataFrame(
        [(2, "B", None), (9, "new", 99.0)],
        "id long, tag string, v double",
    )
    out = merge_upsert(target, source, keys=["id"])
    assert out.columns == ["id", "tag", "v", "extra"]
    got = {r.id: r for r in out.collect()}
    assert set(got) == {1, 2, 3, 9}
    assert (got[1].tag, got[1].v) == ("a", 10.0)        # untouched
    assert got[2].tag == "B" and got[2].v is None       # NULL assigned
    assert got[2].extra == "keep2"                      # non-update col kept
    assert got[9].v == 99.0 and got[9].extra is None    # insert NULL-fills


def test_merge_upsert_update_cols_subset_and_missing_col_raises(spark):
    import pytest

    from rusty_timeseries_db_spark.operators.scd2 import merge_upsert

    target = spark.createDataFrame(
        [(1, "a", 10.0)], "id long, tag string, v double"
    )
    source = spark.createDataFrame(
        [(1, "Z", 77.0)], "id long, tag string, v double"
    )
    out = merge_upsert(
        target, source, keys=["id"], update_cols=["v"]
    ).collect()[0]
    assert out.tag == "a" and out.v == 77.0   # tag not in update set
    with pytest.raises(ValueError, match="lacks columns"):
        merge_upsert(
            target, source.drop("v"), keys=["id"], update_cols=["v"]
        )


def test_merge_upsert_target_missing_update_col_raises(spark):
    """An update column absent from the TARGET was a
    silent no-op (the select iterates target columns only) — now it
    raises like the source-side check."""
    import pytest

    from rusty_timeseries_db_spark.operators.scd2 import merge_upsert

    target = spark.createDataFrame([(1, 10.0)], "id long, value double")
    source = spark.createDataFrame([(1, 99.0)], "id long, val double")
    with pytest.raises(ValueError, match="target lacks"):
        merge_upsert(target, source, keys=["id"], update_cols=["val"])


def test_merge_upsert_composite_keys(spark):
    from rusty_timeseries_db_spark.operators.scd2 import merge_upsert

    target = spark.createDataFrame(
        [("a", 1, 10.0), ("a", 2, 20.0), ("b", 1, 30.0)],
        "region string, id long, v double",
    )
    source = spark.createDataFrame(
        [("a", 2, 99.0), ("b", 2, 40.0)],
        "region string, id long, v double",
    )
    out = {(r.region, r.id): r.v for r in merge_upsert(
        target, source, keys=["region", "id"]
    ).collect()}
    assert out == {
        ("a", 1): 10.0,   # untouched
        ("a", 2): 99.0,   # matched on BOTH keys
        ("b", 1): 30.0,   # untouched (id matches, region does not)
        ("b", 2): 40.0,   # inserted
    }


# ------------------------------------------ snapshot diff

def test_table_diff_change_types_and_null_safety(spark):
    from pyspark.sql import functions as F  # noqa: F401

    from rusty_timeseries_db_spark.operators.scd2 import table_diff

    old = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", None), (3, "c", 30.0), (4, None, 40.0)],
        "k long, s string, v double",
    )
    new = spark.createDataFrame(
        [(1, "a", 10.0),          # unchanged -> no row
         (2, "b", 20.0),          # NULL -> value: changed (null-safe)
         (4, None, 40.0),         # NULL == NULL: unchanged -> no row
         (5, "e", 50.0)],         # added
        "k long, s string, v double",
    )
    got = {
        r.k: (r.change_type, r.changed_cols)
        for r in table_diff(old, new, keys=["k"]).collect()
    }
    assert got == {
        2: ("changed", "v"),
        3: ("removed", ""),
        5: ("added", ""),
    }


def test_table_diff_multi_column_and_scope(spark):
    import pytest

    from rusty_timeseries_db_spark.operators.scd2 import table_diff

    old = spark.createDataFrame(
        [(1, "a", 1.0, "keep")], "k long, s string, v double, z string"
    )
    new = spark.createDataFrame(
        [(1, "b", 2.0, "DIFFERENT")], "k long, s string, v double, z string"
    )
    # changed_cols sorted, comma-joined
    row = table_diff(old, new, keys=["k"]).collect()[0]
    assert (row.change_type, row.changed_cols) == ("changed", "s,v,z")
    # compare_cols narrows the scope: z excluded -> s,v only
    row2 = table_diff(old, new, keys=["k"], compare_cols=["v", "s"]).collect()[0]
    assert row2.changed_cols == "s,v"
    # default scope is the SHARED non-key columns — a column present
    # on one side only is excluded, not an error
    row3 = table_diff(old, new.drop("z"), keys=["k"]).collect()[0]
    assert row3.changed_cols == "s,v"
    # but EXPLICITLY naming a missing column raises
    with pytest.raises(ValueError, match="missing"):
        table_diff(old, new.drop("z"), keys=["k"], compare_cols=["z"])
