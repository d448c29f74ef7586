"""As-of join correctness vs pandas.merge_asof (SURVEY §5.3 #4)."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F

from rusty_timeseries_db_spark.operators.asof import asof_join, asof_join_tolerance


def _mk(spark):
    left = spark.createDataFrame(
        [
            ("a", "2024-01-01 00:00:30", 1),
            ("a", "2024-01-01 00:02:00", 2),
            ("a", "2024-01-01 00:00:00", 3),  # before any right row
            ("b", "2024-01-01 00:01:00", 4),
            ("c", "2024-01-01 00:01:00", 5),  # key with no right rows
        ],
        "k string, ts_s string, lid int",
    ).select("k", F.to_timestamp("ts_s").alias("ts"), "lid")
    right = spark.createDataFrame(
        [
            ("a", "2024-01-01 00:00:10", 10.0, 1),
            ("a", "2024-01-01 00:01:00", 20.0, 2),
            ("a", "2024-01-01 00:02:00", 30.0, 3),  # exact-match ts
            ("b", "2024-01-01 00:00:50", 40.0, 4),
        ],
        "k string, ts_s string, v double, rid int",
    ).select("k", F.to_timestamp("ts_s").alias("ts"), "v", "rid")
    return left, right


def test_asof_backward_inclusive(spark):
    left, right = _mk(spark)
    out = asof_join(
        left, right, on=["k"], right_cols=["v"], right_order="rid"
    ).toPandas().sort_values("lid")
    got = dict(zip(out["lid"], out["v_right"]))
    assert got[1] == 10.0  # 00:00:30 → 00:00:10
    assert got[2] == 30.0  # exact ts matches (inclusive)
    assert pd.isna(got[3])  # before any right row
    assert got[4] == 40.0
    assert pd.isna(got[5])  # no right rows for key c


def test_asof_matches_pandas_merge_asof(spark):
    import numpy as np

    rng = np.random.default_rng(42)
    n_l, n_r = 400, 300
    lk = rng.integers(0, 5, n_l)
    rk = rng.integers(0, 5, n_r)
    lts = pd.to_datetime("2024-01-01") + pd.to_timedelta(
        rng.integers(0, 10**6, n_l), unit="s"
    )
    rts = pd.to_datetime("2024-01-01") + pd.to_timedelta(
        rng.integers(0, 10**6, n_r), unit="s"
    )
    lpd = pd.DataFrame({"k": lk.astype(str), "ts": lts, "lid": range(n_l)})
    rpd = pd.DataFrame(
        {"k": rk.astype(str), "ts": rts, "v": rng.random(n_r), "rid": range(n_r)}
    )
    # pandas wants sorted inputs; dedupe equal (k, ts) to keep oracle unique
    rpd = rpd.sort_values(["ts", "rid"]).drop_duplicates(["k", "ts"], keep="last")
    expected = pd.merge_asof(
        lpd.sort_values("ts"),
        rpd.sort_values("ts")[["k", "ts", "v"]],
        on="ts",
        by="k",
        direction="backward",
        allow_exact_matches=True,
    ).sort_values("lid")

    left = spark.createDataFrame(lpd)
    right = spark.createDataFrame(rpd)
    out = (
        asof_join(left, right, on=["k"], right_cols=["v"], right_order="rid")
        .toPandas()
        .sort_values("lid")
    )
    a = expected["v"].reset_index(drop=True)
    b = out["v_right"].reset_index(drop=True)
    assert ((a == b) | (a.isna() & b.isna())).all()


def test_asof_tolerance(spark):
    left, right = _mk(spark)
    out = (
        asof_join_tolerance(
            left, right, on=["k"], tolerance_seconds=30,
            right_cols=["v"], right_order="rid",
        )
        .toPandas()
        .sort_values("lid")
    )
    got = dict(zip(out["lid"], out["v_right"]))
    assert got[1] == 10.0  # 20 s back — inside 30 s window
    assert got[2] == 30.0  # exact match
    assert pd.isna(got[3])
    assert got[4] == 40.0  # 10 s back
    assert pd.isna(got[5])
    # tighter tolerance drops the 20-s-old match
    out2 = (
        asof_join_tolerance(
            left, right, on=["k"], tolerance_seconds=5,
            right_cols=["v"], right_order="rid",
        )
        .toPandas()
        .sort_values("lid")
    )
    got2 = dict(zip(out2["lid"], out2["v_right"]))
    assert pd.isna(got2[1])
    assert got2[2] == 30.0


def test_asof_forward_and_nearest_match_pandas(spark):
    import numpy as np
    from rusty_timeseries_db_spark.operators.asof import asof_join_nearest

    rng = np.random.default_rng(7)
    n_l, n_r = 300, 200
    lpd = pd.DataFrame(
        {
            "k": rng.integers(0, 4, n_l).astype(str),
            "ts": pd.to_datetime("2024-01-01")
            + pd.to_timedelta(rng.integers(0, 10**6, n_l), unit="s"),
            "lid": range(n_l),
        }
    )
    rpd = (
        pd.DataFrame(
            {
                "k": rng.integers(0, 4, n_r).astype(str),
                "ts": pd.to_datetime("2024-01-01")
                + pd.to_timedelta(rng.integers(0, 10**6, n_r), unit="s"),
                "v": rng.random(n_r),
                "rid": range(n_r),
            }
        )
        .sort_values(["ts", "rid"])
        .drop_duplicates(["k", "ts"], keep="last")
    )
    left = spark.createDataFrame(lpd)
    right = spark.createDataFrame(rpd)

    for direction in ["forward", "nearest"]:
        expected = pd.merge_asof(
            lpd.sort_values("ts"),
            rpd.sort_values("ts")[["k", "ts", "v"]],
            on="ts", by="k", direction=direction,
        ).sort_values("lid")
        if direction == "forward":
            got = asof_join(
                left, right, on=["k"], right_cols=["v"],
                right_order="rid", direction="forward",
            )
        else:
            got = asof_join_nearest(
                left, right, on=["k"], right_cols=["v"], right_order="rid"
            )
        out = got.toPandas().sort_values("lid")
        a = expected["v"].reset_index(drop=True)
        b = out["v_right"].reset_index(drop=True)
        ok = (a == b) | (a.isna() & b.isna())
        assert ok.all(), f"{direction}: {int((~ok).sum())} mismatches"


def test_asof_tolerance_matches_pandas(spark):
    """Random data: tolerance-bounded as-of vs pandas merge_asof with
    the same tolerance."""
    import numpy as np

    rng = np.random.default_rng(11)
    n_l, n_r = 250, 180
    lpd = pd.DataFrame(
        {
            "k": rng.integers(0, 4, n_l).astype(str),
            "ts": pd.to_datetime("2024-01-01")
            + pd.to_timedelta(rng.integers(0, 10**5, n_l), unit="s"),
            "lid": range(n_l),
        }
    )
    rpd = (
        pd.DataFrame(
            {
                "k": rng.integers(0, 4, n_r).astype(str),
                "ts": pd.to_datetime("2024-01-01")
                + pd.to_timedelta(rng.integers(0, 10**5, n_r), unit="s"),
                "v": rng.random(n_r),
                "rid": range(n_r),
            }
        )
        .sort_values(["ts", "rid"])
        .drop_duplicates(["k", "ts"], keep="last")
    )
    tol_s = 3600
    expected = pd.merge_asof(
        lpd.sort_values("ts"),
        rpd.sort_values("ts")[["k", "ts", "v"]],
        on="ts", by="k", direction="backward",
        tolerance=pd.Timedelta(seconds=tol_s),
    ).sort_values("lid")
    out = (
        asof_join_tolerance(
            spark.createDataFrame(lpd),
            spark.createDataFrame(rpd),
            on=["k"], tolerance_seconds=tol_s,
            right_cols=["v"], right_order="rid",
        )
        .toPandas()
        .sort_values("lid")
    )
    a = expected["v"].reset_index(drop=True)
    b = out["v_right"].reset_index(drop=True)
    ok = (a == b) | (a.isna() & b.isna())
    assert ok.all(), int((~ok).sum())


def test_asof_null_payload_not_blended(spark):
    """The matched right row's NULLs must carry through — not be
    backfilled from an older right row (per-column
    last(ignorenulls) blended fields across right rows)."""
    left = spark.createDataFrame(
        [("a", 3)], "k string, ts int"
    )
    right = spark.createDataFrame(
        [("a", 1, 5.0, None), ("a", 2, None, 7.0)],
        "k string, ts int, x double, y double",
    )
    out = asof_join(left, right, on=["k"], right_cols=["x", "y"]).collect()
    assert len(out) == 1
    row = out[0]
    # matched right row is ts=2 → (x=NULL, y=7.0); NOT (5.0, 7.0)
    assert row["x_right"] is None
    assert row["y_right"] == 7.0


def test_asof_direction_schema_symmetry(spark):
    """Default right_cols must yield identical output schemas for
    backward and forward (forward used to leak a ts_right column)."""
    left, right = _mk(spark)
    back = asof_join(left, right, on=["k"], direction="backward")
    fwd = asof_join(left, right, on=["k"], direction="forward")
    assert back.columns == fwd.columns
    got = {
        r["lid"]: (r["v_right"], r["rid_right"])
        for r in fwd.collect()
    }
    assert got[1] == (20.0, 2)   # 00:00:30 → next right at 00:01:00
    assert got[2] == (30.0, 3)   # exact inclusive
    assert got[3] == (10.0, 1)   # 00:00:00 → 00:00:10
    assert got[5] == (None, None)


def test_sql_asof_matches_python_api(spark):
    """SQL surface parity: the DuckDB-style ASOF JOIN
    clause must produce exactly the Python asof_join output."""
    from rusty_timeseries_db_spark.sql_ext import sql_with_asof

    left, right = _mk(spark)
    left.createOrReplaceTempView("asof_l")
    right.createOrReplaceTempView("asof_r")

    out = sql_with_asof(
        spark,
        "SELECT l.k, l.ts, l.lid, v_right "
        "FROM asof_l AS l ASOF LEFT JOIN asof_r AS r "
        "ON l.k = r.k AND l.ts >= r.ts",
        right_order="rid",
    ).toPandas().sort_values("lid")
    ref = (
        asof_join(left, right, on=["k"], right_cols=["v"], right_order="rid")
        .select("k", "ts", "lid", "v_right")
        .toPandas()
        .sort_values("lid")
    )
    pd.testing.assert_frame_equal(
        out.reset_index(drop=True), ref.reset_index(drop=True)
    )

    # forward direction flips the operator
    fwd = sql_with_asof(
        spark,
        "SELECT lid, v_right FROM asof_l l ASOF LEFT JOIN asof_r r "
        "ON l.k = r.k AND l.ts <= r.ts",
        right_order="rid",
    ).toPandas()
    got = dict(zip(fwd["lid"], fwd["v_right"]))
    assert got[3] == 10.0  # 00:00:00 → earliest right row 00:00:10
    assert got[2] == 30.0  # exact ts still matches forward
    assert pd.isna(got[5])

    # trailing WHERE passes through the rewrite
    filt = sql_with_asof(
        spark,
        "SELECT lid, v_right FROM asof_l l ASOF JOIN asof_r r "
        "ON l.k = r.k AND l.ts >= r.ts WHERE l.k = 'a' ORDER BY lid",
        right_order="rid",
    ).toPandas()
    # bare ASOF JOIN is inner: lid 3 has no backward match and
    # drops; the WHERE still passed through the rewrite
    assert list(filt["lid"]) == [1, 2]


def test_sql_asof_bare_is_inner_left_keeps_unmatched(spark):
    """DuckDB join-type parity: the bare ASOF JOIN spelling
    drops unmatched left rows (DuckDB inner); ASOF LEFT JOIN keeps
    them with NULL payloads (opt-in by
    spelling — and the Python API's unchanged how="left" default)."""
    from rusty_timeseries_db_spark.sql_ext import sql_with_asof

    left, right = _mk(spark)
    left.createOrReplaceTempView("asof_l")
    right.createOrReplaceTempView("asof_r")
    inner = sql_with_asof(
        spark,
        "SELECT lid, v_right FROM asof_l l ASOF JOIN asof_r r "
        "ON l.k = r.k AND l.ts >= r.ts",
        right_order="rid",
    ).toPandas()
    outer = sql_with_asof(
        spark,
        "SELECT lid, v_right FROM asof_l l ASOF LEFT JOIN asof_r r "
        "ON l.k = r.k AND l.ts >= r.ts",
        right_order="rid",
    ).toPandas()
    # lid 5 (key with no right rows) AND lid 3 (before any right
    # row) drop under inner; LEFT keeps both with NULL payloads
    assert set(outer["lid"]) - set(inner["lid"]) == {3, 5}
    matched = outer[~outer["lid"].isin([3, 5])].sort_values("lid")
    pd.testing.assert_frame_equal(
        inner.sort_values("lid").reset_index(drop=True),
        matched.reset_index(drop=True),
    )


def test_asof_join_inner_python_api(spark):
    """how="inner" on the Python operator: unmatched left rows drop;
    a MATCHED right row whose payload fields are all NULL still
    counts as matched (row identity, not value presence)."""
    left, right = _mk(spark)
    out = asof_join(
        left, right, on=["k"], right_cols=["v"], right_order="rid",
        how="inner",
    )
    lids = {r.lid for r in out.collect()}
    assert lids == {1, 2, 4}  # lid 3 pre-window, lid 5 keyless: drop
    # null-payload right row still matches
    l2 = spark.createDataFrame([("x", 5, 1)], "k string, ts int, lid int")
    r2 = spark.createDataFrame(
        [("x", 1, None)], "k string, ts int, v double"
    )
    rows = asof_join(
        l2, r2, on=["k"], left_ts="ts", right_ts="ts",
        right_cols=["v"], how="inner",
    ).collect()
    assert len(rows) == 1 and rows[0].v_right is None
    import pytest

    with pytest.raises(ValueError, match="unknown how"):
        asof_join(left, right, on=["k"], how="upsert")


def test_sql_asof_rejects_bad_grammar(spark):
    import pytest

    from rusty_timeseries_db_spark.sql_ext import sql_with_asof

    left, right = _mk(spark)
    left.createOrReplaceTempView("asof_l")
    right.createOrReplaceTempView("asof_r")
    for q in (
        # no inequality
        "SELECT * FROM asof_l l ASOF JOIN asof_r r ON l.k = r.k",
        # two inequalities
        "SELECT * FROM asof_l l ASOF JOIN asof_r r "
        "ON l.k = r.k AND l.ts >= r.ts AND l.lid <= r.rid",
        # mismatched key names
        "SELECT * FROM asof_l l ASOF JOIN asof_r r ON l.k = r.rid AND l.ts >= r.ts",
        # malformed ASOF
        "SELECT * FROM asof_l ASOF asof_r",
    ):
        with pytest.raises(ValueError):
            sql_with_asof(spark, q)
    # plain SQL passes through untouched
    n = sql_with_asof(spark, "SELECT COUNT(*) AS n FROM asof_l").collect()[0].n
    assert n == 5


def test_sql_qualify_inline_window(spark):
    """QUALIFY with an inline window function (the ORDER BY inside
    OVER(...) must not terminate the predicate parse)."""
    from rusty_timeseries_db_spark.sql_ext import sql, sql_with_qualify

    df = spark.createDataFrame(
        [("a", 1, 10.0), ("a", 2, 30.0), ("a", 3, 20.0),
         ("b", 4, 5.0), ("b", 5, 7.0)],
        "k string, id int, v double",
    )
    df.createOrReplaceTempView("qualify_t")
    out = sql_with_qualify(
        spark,
        "SELECT k, id, v FROM qualify_t "
        "QUALIFY row_number() OVER (PARTITION BY k ORDER BY v DESC, id) = 1",
    ).collect()
    assert {(r.k, r.id) for r in out} == {("a", 2), ("b", 5)}
    assert {c for r in out for c in r.asDict()} == {"k", "id", "v"}

    # the combined dialect entry point routes to the same rewrite
    out2 = sql(
        spark,
        "SELECT k, id, v FROM qualify_t "
        "QUALIFY row_number() OVER (PARTITION BY k ORDER BY v DESC, id) = 1",
    ).collect()
    assert {(r.k, r.id) for r in out2} == {("a", 2), ("b", 5)}


def test_sql_qualify_alias_and_trailing_clauses(spark):
    """QUALIFY on a select-list alias, with trailing ORDER BY/LIMIT
    applying AFTER the qualify filter."""
    from rusty_timeseries_db_spark.sql_ext import sql_with_qualify

    df = spark.createDataFrame(
        [("a", 1, 10.0), ("a", 2, 30.0), ("a", 3, 20.0),
         ("b", 4, 5.0), ("b", 5, 7.0)],
        "k string, id int, v double",
    )
    df.createOrReplaceTempView("qualify_t2")
    out = sql_with_qualify(
        spark,
        "SELECT k, id, v, rank() OVER (PARTITION BY k ORDER BY v DESC) AS r "
        "FROM qualify_t2 QUALIFY r <= 2 ORDER BY v DESC LIMIT 3",
    ).toPandas()
    assert list(out["id"]) == [2, 3, 5]

    # matches the hand-written nested form
    expect = spark.sql(
        "SELECT * FROM (SELECT k, id, v, rank() OVER (PARTITION BY k "
        "ORDER BY v DESC) AS r FROM qualify_t2) WHERE r <= 2 "
        "ORDER BY v DESC LIMIT 3"
    ).toPandas()
    assert list(out["id"]) == list(expect["id"])


def test_sql_qualify_errors_and_passthrough(spark):
    import pytest

    from rusty_timeseries_db_spark.sql_ext import sql_with_qualify

    spark.createDataFrame([(1,)], "x int").createOrReplaceTempView("qualify_p")
    # no QUALIFY → plain spark.sql
    assert sql_with_qualify(spark, "SELECT COUNT(*) AS n FROM qualify_p") \
        .collect()[0].n == 1
    with pytest.raises(ValueError, match="one QUALIFY"):
        sql_with_qualify(
            spark,
            "SELECT * FROM qualify_p QUALIFY x = 1 QUALIFY x = 2",
        )


def test_sql_keywords_inside_string_literals_are_data(spark):
    """QUALIFY/ASOF appearing in a string literal must not trigger the
    dialect rewrites."""
    from rusty_timeseries_db_spark.sql_ext import sql

    spark.createDataFrame(
        [("QUALIFY pending", 1), ("ASOF JOIN later", 2), ("ok", 3)],
        "note string, x int",
    ).createOrReplaceTempView("lit_t")
    out = sql(spark, "SELECT x FROM lit_t WHERE note = 'QUALIFY pending'")
    assert [r.x for r in out.collect()] == [1]
    out2 = sql(spark, "SELECT x FROM lit_t WHERE note = 'ASOF JOIN later'")
    assert [r.x for r in out2.collect()] == [2]


def test_sql_asof_composes_with_qualify(spark):
    """Gap #3: 'latest reading per sensor, keep rank 1' —
    one statement with both dialect extensions. Parity against the
    explicit DataFrame composition (asof_join + window filter)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from rusty_timeseries_db_spark.sql_ext import sql

    left, right = _mk(spark)
    left.createOrReplaceTempView("asof_cl")
    right.createOrReplaceTempView("asof_cr")

    out = sql(
        spark,
        "SELECT l.k, l.ts, l.lid, v_right "
        "FROM asof_cl AS l ASOF LEFT JOIN asof_cr AS r "
        "ON l.k = r.k AND l.ts >= r.ts "
        "QUALIFY row_number() OVER (PARTITION BY l.k ORDER BY l.ts DESC, l.lid) = 1",
        right_order="rid",
    ).toPandas().sort_values("lid").reset_index(drop=True)

    w = Window.partitionBy("k").orderBy(F.col("ts").desc(), "lid")
    ref = (
        asof_join(left, right, on=["k"], right_cols=["v"], right_order="rid")
        .withColumn("_rn", F.row_number().over(w))
        .filter("_rn = 1")
        .select("k", "ts", "lid", "v_right")
        .toPandas()
        .sort_values("lid")
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(out, ref)
    # one row per key — the QUALIFY actually filtered
    assert sorted(out["k"]) == sorted(ref["k"]) and len(out) == out["k"].nunique()


def _nested_qualify_fixture(spark):
    spark.createDataFrame(
        [("a", 1, 10.0), ("a", 2, 30.0), ("a", 3, 20.0),
         ("b", 4, 5.0), ("b", 5, 7.0)],
        "k string, id int, v double",
    ).createOrReplaceTempView("qualify_nested_t")


def test_sql_qualify_nested_in_derived_table(spark):
    """QUALIFY inside a derived
    table is extracted innermost-first and rewritten — the outer query
    aggregates the block's filtered rows, and the __qualify helper
    column never leaks through the block's SELECT *."""
    from rusty_timeseries_db_spark.sql_ext import sql_with_qualify

    _nested_qualify_fixture(spark)
    out = sql_with_qualify(
        spark,
        "SELECT k, COUNT(*) AS n, SUM(v) AS s FROM ("
        "  SELECT k, v FROM qualify_nested_t"
        "  QUALIFY row_number() OVER (PARTITION BY k ORDER BY v DESC, id) <= 2"
        ") t GROUP BY k ORDER BY k",
    ).collect()
    assert [(r.k, r.n, r.s) for r in out] == [("a", 2, 50.0), ("b", 2, 12.0)]


def test_sql_qualify_nested_in_cte_and_in_subquery(spark):
    """The extraction anchors on the parenthesized block, so CTE
    bodies and IN-subqueries work identically to derived tables."""
    from rusty_timeseries_db_spark.sql_ext import sql_with_qualify

    _nested_qualify_fixture(spark)
    cte = sql_with_qualify(
        spark,
        "WITH top2 AS ("
        "  SELECT k, v FROM qualify_nested_t"
        "  QUALIFY row_number() OVER (PARTITION BY k ORDER BY v DESC, id) <= 2"
        ") SELECT k, COUNT(*) AS n FROM top2 GROUP BY k ORDER BY k",
    ).collect()
    assert [(r.k, r.n) for r in cte] == [("a", 2), ("b", 2)]

    ins = sql_with_qualify(
        spark,
        "SELECT id FROM qualify_nested_t WHERE id IN ("
        "  SELECT id FROM qualify_nested_t"
        "  QUALIFY row_number() OVER (ORDER BY v DESC) <= 2"
        ") ORDER BY id",
    ).collect()
    assert [r.id for r in ins] == [2, 3]


def test_sql_qualify_nested_plus_top_level_compose(spark):
    """One statement may carry a nested QUALIFY AND a top-level one —
    one per query block; two in the SAME block still raises."""
    import pytest

    from rusty_timeseries_db_spark.sql_ext import sql_with_qualify

    _nested_qualify_fixture(spark)
    out = sql_with_qualify(
        spark,
        "SELECT k, SUM(v) AS s FROM ("
        "  SELECT k, v FROM qualify_nested_t"
        "  QUALIFY row_number() OVER (PARTITION BY k ORDER BY v DESC, id) <= 2"
        ") t GROUP BY k "
        "QUALIFY rank() OVER (ORDER BY SUM(v) DESC) = 1",
    ).collect()
    assert [(r.k, r.s) for r in out] == [("a", 50.0)]
    with pytest.raises(ValueError, match="one QUALIFY"):
        sql_with_qualify(
            spark,
            "SELECT * FROM (SELECT k FROM qualify_nested_t "
            "QUALIFY row_number() OVER (ORDER BY k) = 1 "
            "QUALIFY rank() OVER (ORDER BY k) = 1) t",
        )


def test_sql_qualify_nested_in_cte_referencing_preceding_cte(spark):
    """A QUALIFY inside a CTE body that references
    a PRECEDING CTE cannot be planned standalone — the extraction must
    fall back to the in-place textual rewrite so the name resolves in
    its original scope, with no __qualify leak through SELECT *."""
    from rusty_timeseries_db_spark.sql_ext import sql_with_qualify

    _nested_qualify_fixture(spark)
    out = sql_with_qualify(
        spark,
        "WITH pool AS ("
        "  SELECT k, v, id FROM qualify_nested_t WHERE v > 4"
        "), top1 AS ("
        "  SELECT k, v FROM pool"
        "  QUALIFY row_number() OVER (PARTITION BY k ORDER BY v DESC, id) = 1"
        ") SELECT * FROM top1 ORDER BY k",
    )
    assert out.columns == ["k", "v"]  # no __qualify leak
    assert [(r.k, r.v) for r in out.collect()] == [("a", 30.0), ("b", 7.0)]

    # a DOTTED predicate in a preceding-CTE block routes the textual
    # fallback through the inline form (alias stays in scope there)
    out2 = sql_with_qualify(
        spark,
        "WITH pool AS ("
        "  SELECT k, v, id FROM qualify_nested_t"
        "), top1 AS ("
        "  SELECT p.k, p.v FROM pool p"
        "  QUALIFY row_number() OVER ("
        "    PARTITION BY p.k ORDER BY p.v DESC, p.id) = 1"
        ") SELECT * FROM top1 ORDER BY k",
    )
    assert out2.columns == ["k", "v"]
    assert [(r.k, r.v) for r in out2.collect()] == [("a", 30.0), ("b", 7.0)]


def test_sql_qualify_nested_cte_shadowing_temp_view(spark):
    """A CTE whose name SHADOWS a registered temp
    view must resolve to the CTE — standalone block planning would
    silently hit the view (no AnalysisException to trigger the
    fallback), so the scope guard must route the block textual."""
    from rusty_timeseries_db_spark.sql_ext import sql_with_qualify

    _nested_qualify_fixture(spark)
    # a temp view with the SAME name as the CTE, holding decoy rows
    spark.createDataFrame(
        [("z", 999.0, 9)], "k string, v double, id int"
    ).createOrReplaceTempView("shadow_pool")
    out = sql_with_qualify(
        spark,
        "WITH shadow_pool AS ("
        "  SELECT k, v, id FROM qualify_nested_t WHERE v < 100"
        "), t2 AS ("
        "  SELECT k, v FROM shadow_pool"
        "  QUALIFY row_number() OVER (PARTITION BY k ORDER BY v DESC, id) = 1"
        ") SELECT * FROM t2 ORDER BY k",
    ).collect()
    # the decoy ('z', 999.0) must NOT appear: the CTE won
    assert [(r.k, r.v) for r in out] == [("a", 30.0), ("b", 7.0)]

    # an aliased comma-list FROM reference (the
    # FROM/JOIN-position regex stopped at 'AS d' and missed the CTE
    # name after the comma — silently reading the decoy view)
    spark.createDataFrame(
        [("a", 1), ("b", 2)], "k string, d int"
    ).createOrReplaceTempView("shadow_dims")
    out_c = sql_with_qualify(
        spark,
        "WITH shadow_pool AS ("
        "  SELECT k, v, id FROM qualify_nested_t WHERE v < 100"
        "), t2 AS ("
        "  SELECT p.k, p.v FROM shadow_dims AS d, shadow_pool p"
        "  WHERE d.k = p.k"
        "  QUALIFY row_number() OVER (PARTITION BY p.k ORDER BY p.v DESC, p.id) = 1"
        ") SELECT * FROM t2 ORDER BY k",
    ).collect()
    assert [(r.k, r.v) for r in out_c] == [("a", 30.0), ("b", 7.0)]

    # column-list CTE form shadows too (the plain
    # regex missed 'WITH t(a,b) AS (...)')
    out2 = sql_with_qualify(
        spark,
        "WITH shadow_pool(k, v, id) AS ("
        "  SELECT k, v, id FROM qualify_nested_t WHERE v < 100"
        "), t2 AS ("
        "  SELECT k, v FROM shadow_pool"
        "  QUALIFY row_number() OVER (PARTITION BY k ORDER BY v DESC, id) = 1"
        ") SELECT * FROM t2 ORDER BY k",
    ).collect()
    assert [(r.k, r.v) for r in out2] == [("a", 30.0), ("b", 7.0)]


def test_sql_asof_inside_nested_qualify_block_composes(spark):
    """The full dialect composition: an ASOF JOIN clause INSIDE a
    derived table that also carries a QUALIFY — the ASOF rewrite runs
    first (statement-wide, replacing the clause with a view
    reference), then the nested-QUALIFY extraction handles the block.
    Pins that the two rewrites compose at any nesting depth."""
    from rusty_timeseries_db_spark.sql_ext import sql

    spark.createDataFrame(
        [("a", 1, 10.0), ("a", 3, 30.0), ("b", 2, 5.0)],
        "k string, ts int, v double",
    ).createOrReplaceTempView("compose_l")
    spark.createDataFrame(
        [("a", 0, 1.0), ("a", 2, 2.0), ("b", 1, 3.0)],
        "k string, ts int, p double",
    ).createOrReplaceTempView("compose_r")
    out = sql(
        spark,
        "SELECT k, COUNT(*) AS n, SUM(p_right) AS p FROM ("
        "  SELECT l.k, l.ts, p_right"
        "  FROM compose_l AS l ASOF JOIN compose_r AS r"
        "  ON l.k = r.k AND l.ts >= r.ts"
        "  QUALIFY row_number() OVER (PARTITION BY l.k ORDER BY l.ts DESC) = 1"
        ") t GROUP BY k ORDER BY k",
    ).collect()
    # per key: the latest left row only, carrying its as-of right
    # payload (a: ts=3 -> p=2.0; b: ts=2 -> p=3.0)
    assert [(r.k, r.n, r.p) for r in out] == [("a", 1, 2.0), ("b", 1, 3.0)]


def test_sql_qualify_nested_alias_sharing_cte_name_not_misrouted(spark):
    """The scope guard must check TABLE-REFERENCE
    positions only — a select alias that merely shares a CTE's name
    must NOT route the block to the one-shot textual form (which
    cannot express a lateral alias inside a window and would fail a
    previously-working statement)."""
    from rusty_timeseries_db_spark.sql_ext import sql_with_qualify

    _nested_qualify_fixture(spark)
    spark.createDataFrame([(1,)], "x int").createOrReplaceTempView(
        "qualify_one_row"
    )
    out = sql_with_qualify(
        spark,
        # CTE 's' is never referenced by the QUALIFY block; the
        # block's own aggregate alias also happens to be 's'
        "WITH s AS (SELECT x FROM qualify_one_row), q AS ("
        "  SELECT k, SUM(v) AS s FROM qualify_nested_t GROUP BY k"
        "  QUALIFY row_number() OVER (ORDER BY SUM(v) DESC) = 1"
        ") SELECT q.k, q.s FROM q CROSS JOIN s",
    ).collect()
    assert [(r.k, r.s) for r in out] == [("a", 60.0)]


def test_sql_qualify_two_nested_blocks(spark):
    """Two independent QUALIFY subqueries in one FROM (self-join of a
    top-1 and a bottom-1 block) — the extraction loop rewrites each."""
    from rusty_timeseries_db_spark.sql_ext import sql_with_qualify

    _nested_qualify_fixture(spark)
    out = sql_with_qualify(
        spark,
        "SELECT a.k, a.v AS top_v, b.v AS bot_v FROM ("
        "  SELECT k, v FROM qualify_nested_t"
        "  QUALIFY row_number() OVER (PARTITION BY k ORDER BY v DESC, id) = 1"
        ") a JOIN ("
        "  SELECT k, v FROM qualify_nested_t"
        "  QUALIFY row_number() OVER (PARTITION BY k ORDER BY v ASC, id) = 1"
        ") b ON a.k = b.k ORDER BY a.k",
    ).collect()
    assert [(r.k, r.top_v, r.bot_v) for r in out] == [
        ("a", 30.0, 10.0), ("b", 7.0, 5.0),
    ]


def test_sql_qualify_nested_keeps_window_group_limit(spark):
    """The view substitution must not cost the WindowGroupLimit
    optimization a hand-written nested subquery gets — the row_number
    top-k filter should still prune per-group state in the physical
    plan."""
    from rusty_timeseries_db_spark.sql_ext import sql_with_qualify

    _nested_qualify_fixture(spark)
    df = sql_with_qualify(
        spark,
        "SELECT k, COUNT(*) AS n FROM ("
        "  SELECT k, v FROM qualify_nested_t"
        "  QUALIFY row_number() OVER (PARTITION BY k ORDER BY v DESC, id) <= 2"
        ") t GROUP BY k",
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan


def test_sql_qualify_in_non_query_paren_raises(spark):
    """A QUALIFY inside parens that do not open a subquery must raise
    the clear ValueError, not a ParseException on rewritten text."""
    import pytest

    from rusty_timeseries_db_spark.sql_ext import sql_with_qualify

    spark.createDataFrame([(1,)], "x int").createOrReplaceTempView("qualify_n")
    with pytest.raises(ValueError, match="non-query parenthesis"):
        sql_with_qualify(
            spark,
            "SELECT (x + QUALIFY) FROM qualify_n",
        )


def test_mask_handles_backslash_escaped_quotes():
    """A \\' inside a literal must not flip the in-string
    state — 'it\\'s QUALIFY' is ONE literal, all data."""
    from rusty_timeseries_db_spark.sql_ext import _mask_string_literals

    q = r"SELECT * FROM t WHERE note = 'it\'s QUALIFY' QUALIFY r = 1"
    masked = _mask_string_literals(q)
    assert len(masked) == len(q)
    # the literal's QUALIFY is blanked; the real clause survives
    assert masked.count("QUALIFY") == 1
    assert masked.rindex("QUALIFY") == q.rindex("QUALIFY")
    # doubled-quote escape still pairs
    q2 = "SELECT 'a''QUALIFY' AS s FROM t"
    assert "QUALIFY" not in _mask_string_literals(q2)


def test_sql_escaped_quote_literal_end_to_end(spark):
    from rusty_timeseries_db_spark.sql_ext import sql

    spark.createDataFrame(
        [("it's QUALIFY", 1), ("plain", 2)], "note string, x int"
    ).createOrReplaceTempView("esc_t")
    out = sql(spark, r"SELECT x FROM esc_t WHERE note = 'it\'s QUALIFY'")
    assert [r.x for r in out.collect()] == [1]


def test_sql_qualify_over_group_by_aggregate_inputs(spark):
    """The inline fallback also makes 'QUALIFY rank() OVER (ORDER BY
    sum(v) ...)' work under GROUP BY — aggregate inputs don't survive
    the nested subquery boundary either."""
    from rusty_timeseries_db_spark.sql_ext import sql_with_qualify

    spark.createDataFrame(
        [("a", 1.0), ("a", 2.0), ("b", 10.0), ("c", 5.0)],
        "k string, v double",
    ).createOrReplaceTempView("qualify_g")
    out = sql_with_qualify(
        spark,
        "SELECT k, SUM(v) AS s FROM qualify_g GROUP BY k "
        "QUALIFY rank() OVER (ORDER BY SUM(v) DESC) <= 2",
    ).collect()
    assert {(r.k, r.s) for r in out} == {("b", 10.0), ("c", 5.0)}


def test_qualify_decimal_literal_does_not_flip_rewrite_order(spark):
    """'0.5' must not look like a dotted alias — the
    nested form (select-list-alias resolution) must stay first, so a
    predicate alias shadowing a base column resolves to the ALIAS."""
    from rusty_timeseries_db_spark.sql_ext import sql_with_qualify

    spark.createDataFrame(
        [("a", 1.0), ("a", -3.0), ("b", -2.0)], "k string, value double"
    ).createOrReplaceTempView("qualify_dec")
    out = sql_with_qualify(
        spark,
        "SELECT k, -value AS value FROM qualify_dec "
        "QUALIFY row_number() OVER (PARTITION BY k ORDER BY value DESC) = 1 "
        "AND value > 0.5",
    ).collect()
    # alias resolution: -value, so ('a', 3.0) and ('b', 2.0) qualify
    assert {(r.k, r.value) for r in out} == {("a", 3.0), ("b", 2.0)}


def test_sql_qualify_in_correlated_exists(spark):
    """A QUALIFY inside a
    CORRELATED EXISTS body cannot be planned standalone (the outer
    alias doesn't resolve), so the extraction's textual fallback
    rewrites it in place and Spark decorrelates the
    window-over-correlated-filter subquery. row_number() = 2 exists
    iff the key has >= 2 rows — keys with exactly one row must be
    filtered out, so the QUALIFY genuinely gates the EXISTS.
    Driver-checked as q_qualify_in_exists; this pins the minimal
    fixture shape."""
    from rusty_timeseries_db_spark.sql_ext import sql_with_qualify

    _nested_qualify_fixture(spark)  # a: 3 rows, b: 2 rows
    spark.createDataFrame(
        [("a",), ("b",), ("c",)], "k string"
    ).createOrReplaceTempView("qualify_exists_keys")
    out = sql_with_qualify(
        spark,
        "SELECT x.k FROM qualify_exists_keys x WHERE EXISTS ("
        "  SELECT 1 FROM qualify_nested_t t"
        "  WHERE t.k = x.k"
        "  QUALIFY row_number() OVER (ORDER BY t.v DESC, t.id) = 2"
        ") ORDER BY x.k",
    )
    assert out.columns == ["k"]  # no __qualify leak
    assert [r.k for r in out.collect()] == ["a", "b"]

    # the gate is real: = 3 keeps only keys with >= 3 rows
    out3 = sql_with_qualify(
        spark,
        "SELECT x.k FROM qualify_exists_keys x WHERE EXISTS ("
        "  SELECT 1 FROM qualify_nested_t t"
        "  WHERE t.k = x.k"
        "  QUALIFY row_number() OVER (ORDER BY t.v DESC, t.id) = 3"
        ")",
    )
    assert [r.k for r in out3.collect()] == ["a"]


# ------------------------------------------------ * EXCLUDE rewrite

def test_rewrite_exclude_forms():
    """Paren list, bare single column, alias-qualified star, and the
    case-insensitive spelling all rewrite to Spark's * EXCEPT; the
    keyword inside a string literal is untouched."""
    from rusty_timeseries_db_spark.sql_ext import _rewrite_exclude as rw

    assert rw("SELECT * EXCLUDE (a, b) FROM t") == "SELECT * EXCEPT (a, b) FROM t"
    assert rw("SELECT * EXCLUDE v FROM t") == "SELECT * EXCEPT (v) FROM t"
    assert rw("SELECT t.* exclude (x) FROM t") == "SELECT t.* EXCEPT (x) FROM t"
    s = "SELECT * EXCLUDE a FROM t WHERE c = 'do not EXCLUDE me'"
    assert rw(s) == "SELECT * EXCEPT (a) FROM t WHERE c = 'do not EXCLUDE me'"
    # statements without the keyword pass through by identity
    q = "SELECT a, b FROM t"
    assert rw(q) is q


def test_dialect_sql_exclude_end_to_end(spark):
    """The dialect entry runs DuckDB-spelled EXCLUDE statements on
    Spark, composing with derived tables; excluded columns are gone
    and the rest survive."""
    from rusty_timeseries_db_spark.sql_ext import sql as dialect_sql

    spark.createDataFrame(
        [(1, "k1", 2.0, "drop me")], "id long, k string, v double, junk string"
    ).createOrReplaceTempView("_t_excl")
    out = dialect_sql(
        spark,
        "SELECT * EXCLUDE junk FROM (SELECT * EXCLUDE (v) FROM _t_excl)",
    )
    assert out.columns == ["id", "k"]
    assert out.collect()[0].k == "k1"


# ----------------------------------------------- DISTINCT ON rewrite

def test_distinct_on_picks_first_per_order(spark):
    from rusty_timeseries_db_spark.sql_ext import sql as dialect_sql

    spark.createDataFrame(
        [(1, "a", 5.0), (1, "b", 9.0), (2, "c", 1.0), (2, "d", 1.0)],
        "k long, tag string, v double",
    ).createOrReplaceTempView("_t_don")
    out = dialect_sql(
        spark,
        "SELECT DISTINCT ON (k) k, tag FROM _t_don "
        "ORDER BY k, v DESC, tag",
    )
    assert [tuple(r) for r in out.collect()] == [(1, "b"), (2, "c")]


def test_distinct_on_star_strips_helper_and_honors_limit(spark):
    from rusty_timeseries_db_spark.sql_ext import sql as dialect_sql

    spark.createDataFrame(
        [(1, 5.0), (1, 9.0), (2, 1.0)], "k long, v double"
    ).createOrReplaceTempView("_t_don2")
    out = dialect_sql(
        spark,
        "SELECT DISTINCT ON (k) * FROM _t_don2 ORDER BY k, v DESC LIMIT 1",
    )
    assert out.columns == ["k", "v"]
    assert [tuple(r) for r in out.collect()] == [(1, 9.0)]


def test_distinct_on_guardrails():
    import pytest

    from rusty_timeseries_db_spark.sql_ext import _rewrite_distinct_on as rw

    with pytest.raises(ValueError, match="ORDER BY"):
        rw("SELECT DISTINCT ON (k) k FROM t")
    with pytest.raises(NotImplementedError, match="subquery"):
        rw("SELECT * FROM (SELECT DISTINCT ON (k) k FROM t ORDER BY k) q")
    with pytest.raises(NotImplementedError, match="multiple"):
        rw(
            "SELECT DISTINCT ON (k) k FROM t ORDER BY k UNION ALL "
            "SELECT DISTINCT ON (j) j FROM u ORDER BY j"
        )
    # plain statements pass through by identity
    q = "SELECT k FROM t ORDER BY k"
    assert rw(q) is q


# ---------------------------------------- nested DISTINCT ON

def _nested_don_fixture(spark):
    spark.createDataFrame(
        [
            (1, "a", 5.0, 10),
            (1, "b", 9.0, 11),
            (2, "c", 1.0, 12),
            (2, "d", 7.0, 13),
            (3, "e", 4.0, 14),
        ],
        "k long, tag string, v double, id long",
    ).createOrReplaceTempView("don_nested_t")


def test_distinct_on_nested_in_derived_table(spark):
    from rusty_timeseries_db_spark.sql_ext import sql as dialect_sql

    _nested_don_fixture(spark)
    out = dialect_sql(
        spark,
        "SELECT q.k, q.tag FROM ("
        "  SELECT DISTINCT ON (k) k, tag FROM don_nested_t"
        "  ORDER BY k, v DESC"
        ") q WHERE q.k <= 2 ORDER BY q.k",
    )
    assert [tuple(r) for r in out.collect()] == [(1, "b"), (2, "d")]


def test_distinct_on_nested_in_cte_body(spark):
    from rusty_timeseries_db_spark.sql_ext import sql as dialect_sql

    _nested_don_fixture(spark)
    out = dialect_sql(
        spark,
        "WITH best AS ("
        "  SELECT DISTINCT ON (k) k, tag, v FROM don_nested_t"
        "  ORDER BY k, v DESC"
        ") SELECT k, tag FROM best ORDER BY v DESC LIMIT 2",
    )
    assert [tuple(r) for r in out.collect()] == [(1, "b"), (2, "d")]


def test_distinct_on_nested_in_in_subquery(spark):
    from rusty_timeseries_db_spark.sql_ext import sql as dialect_sql

    _nested_don_fixture(spark)
    out = dialect_sql(
        spark,
        "SELECT tag FROM don_nested_t WHERE id IN ("
        "  SELECT DISTINCT ON (k) id FROM don_nested_t ORDER BY k, v DESC"
        ") ORDER BY tag",
    )
    assert [r.tag for r in out.collect()] == ["b", "d", "e"]


def test_distinct_on_two_nested_blocks(spark):
    from rusty_timeseries_db_spark.sql_ext import sql as dialect_sql

    _nested_don_fixture(spark)
    out = dialect_sql(
        spark,
        "SELECT hi.k AS hk, lo.k AS lk FROM ("
        "  SELECT DISTINCT ON (k) k, v FROM don_nested_t ORDER BY k, v DESC"
        ") hi JOIN ("
        "  SELECT DISTINCT ON (k) k, v FROM don_nested_t ORDER BY k, v ASC"
        ") lo ON hi.k = lo.k WHERE hi.v > lo.v ORDER BY hk",
    )
    assert [tuple(r) for r in out.collect()] == [(1, 1), (2, 2)]


def test_distinct_on_nested_composes_with_top_level(spark):
    # nested block rewritten in place AND the remaining top-level
    # DISTINCT ON still goes through the depth-0 rewrite
    from rusty_timeseries_db_spark.sql_ext import sql as dialect_sql

    _nested_don_fixture(spark)
    out = dialect_sql(
        spark,
        "SELECT DISTINCT ON (tag) tag, k FROM ("
        "  SELECT DISTINCT ON (k) k, tag FROM don_nested_t"
        "  ORDER BY k, v DESC"
        ") q ORDER BY tag, k",
    )
    assert [tuple(r) for r in out.collect()] == [
        ("b", 1), ("d", 2), ("e", 3),
    ]


def test_distinct_on_nested_cte_scope_preserved(spark):
    # the in-place textual rewrite must keep a CTE-body DISTINCT ON
    # resolving the PRECEDING CTE of the same WITH clause — the exact
    # scope shape the QUALIFY path needs its view machinery to dodge
    from rusty_timeseries_db_spark.sql_ext import sql as dialect_sql

    _nested_don_fixture(spark)
    out = dialect_sql(
        spark,
        "WITH small AS (SELECT * FROM don_nested_t WHERE k <= 2), "
        "best AS ("
        "  SELECT DISTINCT ON (k) k, tag FROM small ORDER BY k, v DESC"
        ") SELECT k, tag FROM best ORDER BY k",
    )
    assert [tuple(r) for r in out.collect()] == [(1, "b"), (2, "d")]


def test_distinct_on_nested_guardrails(spark):
    import pytest

    from rusty_timeseries_db_spark.sql_ext import (
        _rewrite_distinct_on_nested as rwn,
    )

    # a nested block still demands its own ORDER BY
    with pytest.raises(ValueError, match="ORDER BY"):
        rwn("SELECT * FROM (SELECT DISTINCT ON (k) k FROM t) q")
    # non-query parenthesis containing the keyword raises loudly
    with pytest.raises(ValueError, match="non-query"):
        rwn("SELECT 1 WHERE x = (SELECT 1) AND (SELECT DISTINCT ON"
            " (k) k FROM t ORDER BY k UNION SELECT 2 WHERE (y) > 1)"
            .replace("SELECT DISTINCT", "y + SELECT DISTINCT"))
    # plain statements pass through by identity
    q = "SELECT k FROM t ORDER BY k"
    assert rwn(q) is q


# ------------------------------------------- * REPLACE rewrite

def test_star_replace_forms():
    from rusty_timeseries_db_spark.sql_ext import _rewrite_star_replace as rw

    assert (
        rw("SELECT * REPLACE (v + 1 AS v) FROM t")
        == "SELECT * EXCEPT (v), v + 1 AS v FROM t"
    )
    # alias-qualified star; cast's AS does not split the item
    assert (
        rw("SELECT a.* REPLACE (CAST(x AS INT) AS x, y * 2 AS y) FROM a")
        == "SELECT a.* EXCEPT (x, y), CAST(x AS INT) AS x, y * 2 AS y FROM a"
    )
    # plain replace() function never matches; identity pass-through
    q = "SELECT replace(s, 'a', 'b') FROM t"
    assert rw(q) is q
    # masked literals: 'REPLACE (' inside a string is untouched
    q2 = "SELECT '* REPLACE (v AS v)' AS lit FROM t"
    assert rw(q2) == q2
    import pytest

    with pytest.raises(ValueError, match="AS <name>"):
        rw("SELECT * REPLACE (v + 1) FROM t")
    with pytest.raises(ValueError, match="plain column name"):
        rw("SELECT * REPLACE (v AS a.b) FROM t")


def test_dialect_sql_star_replace_end_to_end(spark):
    from rusty_timeseries_db_spark.sql_ext import sql as dialect_sql

    spark.createDataFrame(
        [(1, 10.0, "k1"), (2, 20.0, "k2")], "id long, v double, k string"
    ).createOrReplaceTempView("_t_repl")
    out = dialect_sql(
        spark,
        "SELECT * REPLACE (v * 2 AS v) FROM _t_repl ORDER BY id",
    )
    assert set(out.columns) == {"id", "v", "k"}
    assert [(r.id, r.v) for r in out.collect()] == [(1, 20.0), (2, 40.0)]
    # composes with nested subqueries and EXCLUDE on a different star
    out2 = dialect_sql(
        spark,
        "SELECT * EXCLUDE (k) FROM ("
        "  SELECT * REPLACE (v + 1 AS v) FROM _t_repl"
        ") ORDER BY id",
    )
    assert out2.columns == ["id", "v"]
    assert [r.v for r in out2.collect()] == [11.0, 21.0]


# -------------------------------------------- PIT feature join

def test_pit_join_no_future_leakage_and_tolerance(spark):
    from rusty_timeseries_db_spark.operators.asof import pit_join

    spine = spark.createDataFrame(
        [("u1", "2024-01-01 00:10:00", 1),
         ("u2", "2024-01-01 00:10:00", 2)],
        "k string, ts_s string, sid int",
    ).select("k", F.to_timestamp("ts_s").alias("ts"), "sid")
    fa = spark.createDataFrame(
        [("u1", "2024-01-01 00:05:00", 5.0),    # in the past: joins
         ("u1", "2024-01-01 00:11:00", 9.0)],   # FUTURE: must not leak
        "k string, ts_s string, v double",
    ).select("k", F.to_timestamp("ts_s").alias("ts"), "v")
    fb = spark.createDataFrame(
        [("u2", "2023-12-01 00:00:00", 3.0)],   # 31 days stale
        "k string, ts_s string, v double",
    ).select("k", F.to_timestamp("ts_s").alias("ts"), "v")

    out = {r.sid: r for r in pit_join(
        spine, {"a": fa, "b": fb}, on=["k"]
    ).collect()}
    assert out[1].v_a == 5.0          # past value, not the future 9.0
    assert out[1].v_b is None         # u1 has no b-feature
    assert out[2].v_b == 3.0          # unbounded staleness joins
    # tolerance bounds staleness: the 31-day-old b-feature reads NULL
    tol = {r.sid: r for r in pit_join(
        spine, {"a": fa, "b": fb}, on=["k"], tolerance_seconds=86400
    ).collect()}
    assert tol[2].v_b is None
    assert tol[1].v_a == 5.0          # 5 min old: inside the bound
    import pytest

    with pytest.raises(ValueError, match="non-empty"):
        pit_join(spine, {}, on=["k"])


def test_star_replace_composes_with_distinct_on(spark):
    """* REPLACE inside a DISTINCT ON select list: the REPLACE rewrite
    runs first (star-adjacent), then DISTINCT ON wraps the rewritten
    list — keeps one row per key AND applies the replacement."""
    from rusty_timeseries_db_spark.sql_ext import sql as dialect_sql

    spark.createDataFrame(
        [(1, 5.0), (1, 9.0), (2, 1.0)], "k long, v double"
    ).createOrReplaceTempView("_t_comp_rd")
    out = dialect_sql(
        spark,
        "SELECT DISTINCT ON (k) * REPLACE (v * 10 AS v) "
        "FROM _t_comp_rd ORDER BY k, v DESC",
    )
    assert out.columns == ["k", "v"]
    assert [tuple(r) for r in out.orderBy("k").collect()] == [
        (1, 90.0), (2, 10.0),
    ]


# --------------------------------------- COLUMNS() expansion

def test_columns_expansion_forms(spark):
    from rusty_timeseries_db_spark.sql_ext import sql as dialect_sql

    spark.createDataFrame(
        [(1, 2.0, 3.0, "x"), (4, 5.0, 6.0, "y")],
        "a_id long, m_one double, m_two double, tag string",
    ).createOrReplaceTempView("_t_cols")
    # bare COLUMNS('re') — projection keeps bare names, table order
    out = dialect_sql(
        spark, "SELECT COLUMNS('^m_') FROM _t_cols ORDER BY m_one"
    )
    assert out.columns == ["m_one", "m_two"]
    # wrapped in an aggregate + other select items untouched
    out2 = dialect_sql(
        spark,
        "SELECT tag, CAST(SUM(COLUMNS('^m_')) AS DOUBLE) FROM _t_cols "
        "GROUP BY tag ORDER BY tag",
    )
    assert out2.columns == ["tag", "m_one", "m_two"]
    assert [tuple(r) for r in out2.collect()] == [
        ("x", 2.0, 3.0), ("y", 5.0, 6.0),
    ]
    # COLUMNS(*) expands every column
    out3 = dialect_sql(spark, "SELECT COLUMNS(*) FROM _t_cols LIMIT 1")
    assert out3.columns == ["a_id", "m_one", "m_two", "tag"]


def test_columns_expansion_guardrails(spark):
    import pytest

    from rusty_timeseries_db_spark.sql_ext import _rewrite_columns

    spark.createDataFrame(
        [(1, 2.0)], "a long, b double"
    ).createOrReplaceTempView("_t_cols_g")
    with pytest.raises(ValueError, match="matches no column"):
        _rewrite_columns(
            spark, "SELECT COLUMNS('zzz') FROM _t_cols_g"
        )
    with pytest.raises(ValueError, match="derived table"):
        _rewrite_columns(
            spark,
            "SELECT COLUMNS('a') FROM (SELECT * FROM _t_cols_g) q",
        )
    with pytest.raises(ValueError, match="alias"):
        _rewrite_columns(
            spark, "SELECT SUM(COLUMNS('a')) AS s FROM _t_cols_g"
        )
    with pytest.raises(ValueError, match="multiple COLUMNS"):
        _rewrite_columns(
            spark,
            "SELECT COLUMNS('a') + COLUMNS('b') FROM _t_cols_g",
        )
    # statements without COLUMNS pass through by identity
    q = "SELECT a FROM _t_cols_g"
    assert _rewrite_columns(spark, q) is q


def test_summarize_verb_routes_to_profiler(spark):
    from rusty_timeseries_db_spark.sql_ext import sql as dialect_sql

    spark.createDataFrame(
        [(1, 2.0, None), (2, 4.0, "x"), (2, None, "y")],
        "id long, v double, tag string",
    ).createOrReplaceTempView("_t_summ")
    out = dialect_sql(spark, "SUMMARIZE _t_summ")
    # The verb carries DuckDB SUMMARIZE's quartile trio
    assert out.columns == [
        "column_name", "n", "n_nulls", "n_distinct",
        "min_num", "max_num", "q25", "q50", "q75",
    ]
    rows = {r.column_name: r for r in out.collect()}
    assert set(rows) == {"id", "v", "tag"}
    assert rows["id"].n == 3 and rows["id"].n_nulls == 0
    assert rows["id"].n_distinct == 2
    assert rows["v"].n_nulls == 1 and rows["v"].max_num == 4.0
    assert rows["tag"].n_nulls == 1
    # quartile sanity: within [min, max], monotone, exact median of
    # {2.0, 4.0}'s two-point sketch picks an observed value
    v = rows["v"]
    assert v.min_num <= v.q25 <= v.q50 <= v.q75 <= v.max_num
    assert rows["id"].q50 in (1.0, 2.0)
    # a non-numeric column profiles with NULL quartiles
    assert rows["tag"].q50 is None
    # a column named 'summarize' inside a normal statement is untouched
    spark.createDataFrame(
        [(1,)], "summarize long"
    ).createOrReplaceTempView("_t_summ2")
    assert dialect_sql(
        spark, "SELECT summarize FROM _t_summ2"
    ).collect()[0][0] == 1


def test_star_replace_ignores_multiplication_by_replace_fn(spark):
    """'amount * replace(...)' is MULTIPLICATION by
    the plain replace() function — the star-modifier rewrite must pass
    it through, while the true modifier forms still fire (including
    after SELECT DISTINCT)."""
    from rusty_timeseries_db_spark.sql_ext import (
        _rewrite_star_replace as rw,
    )
    from rusty_timeseries_db_spark.sql_ext import sql as dialect_sql

    q = "SELECT amount * replace(qty_str, ',', '') FROM t"
    assert rw(q) is q
    q2 = "SELECT (a + b) * REPLACE(s, 'x', 'y') FROM t"
    assert rw(q2) is q2
    assert "EXCEPT (v)" in rw("SELECT DISTINCT * REPLACE (v + 1 AS v) FROM t")
    # end-to-end: the multiplication statement must actually run
    spark.createDataFrame(
        [(3.0, "1,5")], "amount double, qty_str string"
    ).createOrReplaceTempView("_t_mul_rep")
    out = dialect_sql(
        spark,
        "SELECT amount * replace(qty_str, ',', '') AS x FROM _t_mul_rep",
    ).collect()
    assert out[0].x == 45.0


def test_columns_expands_over_joins(spark):
    """COLUMNS binds to the
    CONCATENATED column set of a depth-0 FROM join list in FROM order
    — DuckDB's own join-expansion semantics — for comma joins and
    ON-joins, alias-qualified or not; derived tables / USING /
    NATURAL joins keep honest raises."""
    import pytest

    from rusty_timeseries_db_spark.sql_ext import _rewrite_columns
    from rusty_timeseries_db_spark.sql_ext import sql as dialect_sql

    spark.createDataFrame([(1, 10.0)], "a long, av double") \
        .createOrReplaceTempView("_t_cj1")
    spark.createDataFrame([(1, 20.0)], "b long, bv double") \
        .createOrReplaceTempView("_t_cj2")

    # ON join: expansion covers BOTH tables' matches, left first
    out = dialect_sql(
        spark,
        "SELECT COLUMNS('v$') FROM _t_cj1 JOIN _t_cj2 ON a = b",
    )
    assert out.columns == ["av", "bv"]
    assert out.collect()[0][:] == (10.0, 20.0)

    # comma join + WHERE, aliased tables, expression wrapper
    out2 = dialect_sql(
        spark,
        "SELECT CAST(SUM(COLUMNS('v$')) AS DOUBLE) "
        "FROM _t_cj1 t1, _t_cj2 t2 WHERE t1.a = t2.b",
    )
    assert out2.columns == ["av", "bv"]

    # LEFT OUTER JOIN chain of three tables
    spark.createDataFrame([(1, 30.0)], "c long, cv double") \
        .createOrReplaceTempView("_t_cj3")
    out3 = dialect_sql(
        spark,
        "SELECT COLUMNS('v$') FROM _t_cj1 "
        "LEFT OUTER JOIN _t_cj2 ON a = b "
        "LEFT JOIN _t_cj3 ON a = c",
    )
    assert out3.columns == ["av", "bv", "cv"]

    # ambiguous match across tables raises
    spark.createDataFrame([(1, 1.0)], "a long, av double") \
        .createOrReplaceTempView("_t_cj1b")
    with pytest.raises(ValueError, match="more than one FROM table"):
        _rewrite_columns(
            spark,
            "SELECT COLUMNS('^a') FROM _t_cj1 JOIN _t_cj1b ON 1 = 1",
        )

    # honest-raise boundaries
    with pytest.raises(ValueError, match="USING"):
        _rewrite_columns(
            spark,
            "SELECT COLUMNS('v$') FROM _t_cj1 JOIN _t_cj2 USING (a)",
        )
    with pytest.raises(ValueError, match="derived table"):
        _rewrite_columns(
            spark,
            "SELECT COLUMNS('v$') FROM (SELECT * FROM _t_cj1) q",
        )
    with pytest.raises(ValueError, match="cannot bind through"):
        _rewrite_columns(
            spark,
            "SELECT COLUMNS('v$') FROM _t_cj1 NATURAL JOIN _t_cj2",
        )

    # an aliased single table still works
    out4 = _rewrite_columns(
        spark, "SELECT COLUMNS('^a$') FROM _t_cj1 AS t WHERE t.a > 0"
    )
    assert "a AS a" in out4


def test_pivot_statement_forms(spark):
    """DuckDB's PIVOT statement routed to
    groupBy().pivot() — naming pinned against DuckDB native
    (<value> unaliased, <value>_<alias> aliased/multi), NULL pivot
    rows drop, implicit grouping excludes USING-referenced columns."""
    import pytest

    from rusty_timeseries_db_spark.sql_ext import (
        _maybe_pivot,
        is_query_statement,
    )
    from rusty_timeseries_db_spark.sql_ext import sql as dialect_sql

    spark.createDataFrame(
        [("a", "x", 1.5), ("a", "y", 2.5), ("b", "x", 3.0),
         ("b", None, 9.0)],
        "g string, c string, x double",
    ).createOrReplaceTempView("_t_pvt")

    # implicit grouping (g survives: not the axis, not in USING)
    out = dialect_sql(spark, "PIVOT _t_pvt ON c USING sum(x)")
    assert out.columns == ["g", "x", "y"]
    got = {r.g: (r.x, r.y) for r in out.collect()}
    assert got == {"a": (1.5, 2.5), "b": (3.0, None)}  # NULL row dropped

    # aliased single agg renames to DuckDB's <value>_<alias>
    out2 = dialect_sql(
        spark, "PIVOT _t_pvt ON c USING sum(x) AS s GROUP BY g"
    )
    assert out2.columns == ["g", "x_s", "y_s"]

    # multi-agg naming matches natively
    out3 = dialect_sql(
        spark,
        "PIVOT _t_pvt ON c USING sum(x) AS s, count(*) AS n GROUP BY g",
    )
    assert out3.columns == ["g", "x_s", "x_n", "y_s", "y_n"]

    # comments + trailing semicolon survive the offset-aligned slicing
    out4 = dialect_sql(
        spark,
        "PIVOT _t_pvt ON c USING sum(x) AS s GROUP BY g; -- note",
    )
    assert out4.columns == ["g", "x_s", "y_s"]

    # guardrails
    with pytest.raises(ValueError, match="AS <name> each"):
        _maybe_pivot(
            spark, "PIVOT _t_pvt ON c USING sum(x), count(*) GROUP BY g"
        )
    with pytest.raises(ValueError, match="unsupported PIVOT"):
        _maybe_pivot(spark, "PIVOT (SELECT * FROM _t_pvt) ON c USING sum(x)")
    with pytest.raises(ValueError, match="not in"):
        _maybe_pivot(spark, "PIVOT _t_pvt ON zz USING sum(x)")
    with pytest.raises(ValueError, match="no grouping columns"):
        _maybe_pivot(spark, "PIVOT _t_pvt ON c USING sum(x + len(g))")
    # non-PIVOT statements pass through
    assert _maybe_pivot(spark, "SELECT 1") is None

    # the HTTP read-only gate admits the statement, rejects write rides
    assert is_query_statement("PIVOT _t_pvt ON c USING sum(x) GROUP BY g")
    assert not is_query_statement(
        "PIVOT _t_pvt ON c USING sum(x); DROP TABLE _t_pvt"
    )


def test_unpivot_statement_forms(spark):
    """DuckDB's UNPIVOT statement — id columns are the
    unlisted table columns in order, default names name/value, NULL
    unpivoted values drop, COLUMNS('regex') expands in ON."""
    import pytest

    from rusty_timeseries_db_spark.sql_ext import (
        _maybe_unpivot,
        is_query_statement,
    )
    from rusty_timeseries_db_spark.sql_ext import sql as dialect_sql

    spark.createDataFrame(
        [("a", 1.5, 2.5, 10), ("b", 3.0, None, 20)],
        "g string, x double, y double, z long",
    ).createOrReplaceTempView("_t_unp")

    out = dialect_sql(spark, "UNPIVOT _t_unp ON x, y INTO NAME m VALUE v")
    assert out.columns == ["g", "z", "m", "v"]
    assert sorted(map(tuple, out.collect())) == [
        ("a", 10, "x", 1.5), ("a", 10, "y", 2.5), ("b", 20, "x", 3.0),
    ]  # b's NULL y dropped — DuckDB parity

    # default output names + regex ON
    out2 = dialect_sql(spark, "UNPIVOT _t_unp ON COLUMNS('^[xy]$')")
    assert out2.columns == ["g", "z", "name", "value"]
    assert out2.count() == 3

    with pytest.raises(ValueError, match="not in"):
        _maybe_unpivot(spark, "UNPIVOT _t_unp ON nope")
    with pytest.raises(ValueError, match="matches no column"):
        _maybe_unpivot(spark, "UNPIVOT _t_unp ON COLUMNS('zzz')")
    with pytest.raises(ValueError, match="unsupported UNPIVOT"):
        _maybe_unpivot(spark, "UNPIVOT (SELECT 1) ON x")
    assert _maybe_unpivot(spark, "SELECT 1") is None
    assert is_query_statement("UNPIVOT _t_unp ON x, y")
    assert not is_query_statement("UNPIVOT _t_unp ON x; DROP TABLE _t_unp")


def test_pivot_review_round13_fixes(spark):
    """(a) a column name inside a STRING LITERAL in
    USING is not a reference — it stays in the implicit grouping
    (DuckDB parity); (b) boolean pivot values rename to DuckDB's
    lowercase 'true_s'/'false_s'; (c) a group column string-colliding
    with a pivot value is not clobbered by the rename."""
    from rusty_timeseries_db_spark.sql_ext import sql as dialect_sql

    # (a) only a STRING LITERAL mentions g; column g must survive as
    # the implicit group column (it is not actually referenced)
    spark.createDataFrame(
        [("g", "x", "n1", 1.0), ("h", "y", "g", 2.0)],
        "g string, c string, note string, x double",
    ).createOrReplaceTempView("_t_pvt_lit")
    out = dialect_sql(
        spark,
        "PIVOT _t_pvt_lit ON c USING "
        "sum(CASE WHEN note = 'g' THEN x ELSE 0.0 END) AS s",
    )
    assert out.columns == ["g", "x_s", "y_s"]

    # (b) boolean axis
    spark.createDataFrame(
        [("a", True, 1.0), ("a", False, 2.0)],
        "g string, flag boolean, x double",
    ).createOrReplaceTempView("_t_pvt_bool")
    out2 = dialect_sql(
        spark, "PIVOT _t_pvt_bool ON flag USING sum(x) AS s GROUP BY g"
    )
    assert out2.columns == ["g", "false_s", "true_s"]

    # (c) pivot value equals the group column's NAME
    spark.createDataFrame(
        [("r1", "g", 5.0), ("r1", "h", 6.0)],
        "g string, c string, x double",
    ).createOrReplaceTempView("_t_pvt_coll")
    out3 = dialect_sql(
        spark, "PIVOT _t_pvt_coll ON c USING sum(x) AS s GROUP BY g"
    )
    assert out3.columns == ["g", "g_s", "h_s"]
    assert out3.collect()[0][:] == ("r1", 5.0, 6.0)


def test_explain_through_dialect(spark):
    """EXPLAIN peels off, the inner statement takes the FULL
    dialect (verbs included), the plan renders via the DataFrame.explain
    JVM path as Spark's native (plan string) row — and EXPLAIN can
    never execute a write."""
    import pytest

    from rusty_timeseries_db_spark.sql_ext import (
        is_query_statement,
    )
    from rusty_timeseries_db_spark.sql_ext import sql as dialect_sql

    spark.createDataFrame(
        [("a", "x", 1.5), ("a", "y", 2.5)], "g string, c string, x double"
    ).createOrReplaceTempView("_t_expl")

    out = dialect_sql(
        spark, "EXPLAIN SELECT g, sum(x) AS s FROM _t_expl GROUP BY g"
    )
    assert out.columns == ["plan"]
    assert "== Physical Plan ==" in out.collect()[0].plan

    # dialect features compose under EXPLAIN
    q = dialect_sql(
        spark,
        "EXPLAIN SELECT * FROM _t_expl "
        "QUALIFY row_number() OVER (PARTITION BY g ORDER BY x) = 1",
    )
    assert "Window" in q.collect()[0].plan
    # ...including the statement verbs
    p = dialect_sql(
        spark,
        "EXPLAIN FORMATTED PIVOT _t_expl ON c USING sum(x) AS s GROUP BY g",
    )
    assert "HashAggregate" in p.collect()[0].plan

    # writes never ride EXPLAIN (the recursion would execute them)
    with pytest.raises(ValueError, match="read-only"):
        dialect_sql(spark, "EXPLAIN DROP TABLE _t_expl")
    assert is_query_statement("EXPLAIN EXTENDED SELECT 1")
    assert not is_query_statement("EXPLAIN INSERT INTO _t_expl VALUES (1)")


def test_pivot_in_list(spark):
    """An explicit ON <col> IN (...) list
    pins the pivot values — column order follows the LIST (DuckDB's
    rule), unlisted values drop, no discovery scan runs (so EXPLAIN
    PIVOT with IN is genuinely plan-only), and non-literal items
    raise."""
    import pytest

    from rusty_timeseries_db_spark.sql_ext import _maybe_pivot
    from rusty_timeseries_db_spark.sql_ext import sql as dialect_sql

    spark.createDataFrame(
        [("a", "x", 1.5), ("a", "y", 2.5), ("b", "x", 3.0),
         ("b", "z", 7.0)],
        "g string, c string, x double",
    ).createOrReplaceTempView("_t_pvt_in")

    out = dialect_sql(
        spark,
        "PIVOT _t_pvt_in ON c IN ('y', 'x') USING sum(x) AS s GROUP BY g",
    )
    assert out.columns == ["g", "y_s", "x_s"]  # list order, 'z' dropped
    got = {r.g: (r.y_s, r.x_s) for r in out.collect()}
    assert got == {"a": (2.5, 1.5), "b": (None, 3.0)}

    # numeric + boolean literals parse; DuckDB native agrees on values
    import duckdb

    con = duckdb.connect()
    con.sql("CREATE TABLE t AS SELECT * FROM (VALUES "
            "('a','x',1.5),('a','y',2.5),('b','x',3.0),('b','z',7.0)"
            ") v(g,c,x)")
    duck = con.sql(
        "PIVOT t ON c IN ('y','x') USING sum(x) AS s GROUP BY g "
        "ORDER BY g"
    ).fetchall()
    ours = [
        (r.g, r.y_s, r.x_s) for r in out.orderBy("g").collect()
    ]
    assert [(g, ys, xs) for g, ys, xs in duck] == ours

    # EXPLAIN PIVOT with IN runs no job (no discovery collect): the
    # plan text comes back and references the pivot projection
    plan = dialect_sql(
        spark,
        "EXPLAIN PIVOT _t_pvt_in ON c IN ('x') USING sum(x) AS s "
        "GROUP BY g",
    ).collect()[0][0]
    assert "x_s" in plan or "pivot" in plan.lower()

    with pytest.raises(ValueError, match="not a literal"):
        _maybe_pivot(
            spark, "PIVOT _t_pvt_in ON c IN (g) USING sum(x) AS s GROUP BY g"
        )
    with pytest.raises(ValueError, match="non-empty"):
        _maybe_pivot(
            spark, "PIVOT _t_pvt_in ON c IN () USING sum(x) AS s GROUP BY g"
        )


def test_from_first_statement_forms(spark):
    """DuckDB's FROM-first syntax — bare FROM, FROM+clauses
    without SELECT, FROM ... SELECT ... with trailing clauses (DuckDB
    semantics verified against native DuckDB in the oracle-paired
    q_sql_from_first), composition with the dialect's own QUALIFY, and
    the read-only gate."""
    from rusty_timeseries_db_spark.sql_ext import (
        _rewrite_from_first,
        is_query_statement,
    )
    from rusty_timeseries_db_spark.sql_ext import sql as dialect_sql

    spark.createDataFrame(
        [("a", 1, 10.0), ("a", 2, 20.0), ("b", 1, 30.0), ("b", 2, 5.0)],
        "g string, i int, v double",
    ).createOrReplaceTempView("_t_ff")

    # bare FROM == SELECT *
    assert dialect_sql(spark, "FROM _t_ff").count() == 4
    # clauses without SELECT keep standard order
    got = dialect_sql(
        spark, "FROM _t_ff WHERE v > 10 ORDER BY v DESC"
    ).collect()
    assert [r.v for r in got] == [30.0, 20.0]
    # FROM ... SELECT list ... trailing clauses reorder correctly
    got = dialect_sql(
        spark,
        "FROM _t_ff SELECT g, SUM(v) AS s GROUP BY g ORDER BY g LIMIT 2",
    ).collect()
    assert [(r.g, r.s) for r in got] == [("a", 30.0), ("b", 35.0)]
    # JOIN in the FROM part, subquery SELECT not mistaken for the
    # statement's select clause
    got = dialect_sql(
        spark,
        "FROM (SELECT g, v FROM _t_ff) t1 JOIN _t_ff t2 "
        "ON t1.g = t2.g AND t1.v = t2.v "
        "SELECT t1.g AS g, COUNT(*) AS n GROUP BY t1.g ORDER BY g",
    ).collect()
    assert [(r.g, r.n) for r in got] == [("a", 2), ("b", 2)]
    # composes with the dialect's QUALIFY (runs after the reorder)
    got = dialect_sql(
        spark,
        "FROM _t_ff SELECT g, v "
        "QUALIFY row_number() OVER (PARTITION BY g ORDER BY v DESC) = 1 "
        "ORDER BY g",
    ).collect()
    assert [(r.g, r.v) for r in got] == [("a", 20.0), ("b", 30.0)]
    # string/comment masking: keywords inside literals don't split
    one = dialect_sql(
        spark,
        "FROM _t_ff /* SELECT nope */ SELECT g, ' WHERE ' AS w "
        "WHERE v = 30.0",
    ).collect()
    assert [(r.g, r.w) for r in one] == [("b", " WHERE ")]
    # non-FROM statements pass through the rewriter untouched
    s = "SELECT 1 FROM _t_ff"
    assert _rewrite_from_first(s) == s
    # gate: FROM-first admits as a read; write keywords still reject
    assert is_query_statement("FROM _t_ff WHERE v > 1")
    assert is_query_statement("EXPLAIN FROM _t_ff")
    assert not is_query_statement("FROM _t_ff; DROP TABLE _t_ff")
    # EXPLAIN composes (recursion canonicalizes the inner statement)
    plan = dialect_sql(spark, "EXPLAIN FROM _t_ff WHERE v > 10").collect()[
        0
    ][0]
    assert "Filter" in plan or "filter" in plan.lower()


def test_from_first_star_except_modifier(spark):
    """`FROM t SELECT * EXCEPT (col) WHERE ...`: the star-modifier
    EXCEPT must not be mistaken for the set operation when locating
    the end of the select list."""
    from rusty_timeseries_db_spark.sql_ext import sql as dialect_sql

    spark.createDataFrame(
        [("a", 1, 10.0), ("b", 2, 30.0)], "g string, i int, v double"
    ).createOrReplaceTempView("_t_ffx")
    got = dialect_sql(
        spark, "FROM _t_ffx SELECT * EXCEPT (i) WHERE v > 10 ORDER BY g"
    )
    assert got.columns == ["g", "v"]
    assert [(r.g, r.v) for r in got.collect()] == [("b", 30.0)]
    # the actual set operation still splits correctly
    got = dialect_sql(
        spark,
        "FROM _t_ffx SELECT g EXCEPT SELECT 'a' AS g",
    ).collect()
    assert [r.g for r in got] == ["b"]


def test_pivot_multi_on(spark):
    """Multi-column ON pivots the CROSS PRODUCT
    of the value sets with <v1>_<v2>[_<alias>] names — pinned against
    native DuckDB on the identical data, incl. per-column IN lists."""
    import duckdb

    from rusty_timeseries_db_spark.sql_ext import sql as dialect_sql

    rows = [
        ("g1", "a", "x", 1.0), ("g1", "a", "y", 2.0),
        ("g1", "b", "x", 4.0), ("g2", "b", "y", 8.0),
        ("g2", None, "x", 99.0),  # NULL ON value: row drops
    ]
    spark.createDataFrame(
        rows, "g string, c1 string, c2 string, x double"
    ).createOrReplaceTempView("_t_mpvt")
    duck = duckdb.connect()
    duck.execute(
        "CREATE TABLE _t_mpvt (g VARCHAR, c1 VARCHAR, c2 VARCHAR, "
        "x DOUBLE)"
    )
    duck.executemany("INSERT INTO _t_mpvt VALUES (?,?,?,?)", rows)

    for stmt in [
        "PIVOT _t_mpvt ON c1, c2 USING sum(x) GROUP BY g",
        "PIVOT _t_mpvt ON c1, c2 USING sum(x) AS s, min(x) AS mn "
        "GROUP BY g",
        "PIVOT _t_mpvt ON c1 IN ('a'), c2 USING sum(x) AS s GROUP BY g",
    ]:
        ours = dialect_sql(spark, stmt)
        want = duck.sql(stmt)
        assert ours.columns == want.columns, stmt
        got_rows = sorted(tuple(r) for r in ours.collect())
        want_rows = sorted(tuple(r) for r in want.fetchall())
        assert got_rows == want_rows, stmt


def test_pivot_multi_on_underscore_values_stay_separate(spark):
    """Values containing '_' must keep their cells
    SEPARATE ('a'+'b_c' vs 'a_b'+'c') even though the display names
    collide — DuckDB behavior (duplicate column names, distinct
    numbers)."""
    import duckdb

    from rusty_timeseries_db_spark.sql_ext import sql as dialect_sql

    rows = [
        ("g", "a", "b_c", 1.0), ("g", "a_b", "c", 10.0),
        ("g", "a", "c", 100.0),
    ]
    spark.createDataFrame(
        rows, "g string, c1 string, c2 string, x double"
    ).createOrReplaceTempView("_t_upvt")
    duck = duckdb.connect()
    duck.execute(
        "CREATE TABLE _t_upvt (g VARCHAR, c1 VARCHAR, c2 VARCHAR, "
        "x DOUBLE)"
    )
    duck.executemany("INSERT INTO _t_upvt VALUES (?,?,?,?)", rows)
    stmt = "PIVOT _t_upvt ON c1, c2 USING sum(x) GROUP BY g"
    ours = dialect_sql(spark, stmt)
    want = duck.sql(stmt)
    assert ours.columns == want.columns  # incl. the duplicated name
    assert sorted(
        tuple(r) for r in ours.collect()
    ) == sorted(tuple(r) for r in want.fetchall())
    # empty discovered ON column raises honestly
    spark.createDataFrame(
        [("g", "a", None, 1.0)], "g string, c1 string, c2 string, x double"
    ).createOrReplaceTempView("_t_epvt")
    import pytest as _p

    with _p.raises(ValueError, match="no non-NULL values"):
        dialect_sql(spark, "PIVOT _t_epvt ON c1, c2 USING sum(x) GROUP BY g")


def test_pivot_multi_on_unaliased_multi_agg_raises(spark):
    """Multi-ON + multiple USING aggregates where one lacks
    an AS alias must not interpolate Python None into the display
    name. The parse-time every-aggregate-needs-an-alias guard covers
    the multi-ON form too — pinned here so it stays that way."""
    import pytest as _p

    from rusty_timeseries_db_spark.sql_ext import sql as dialect_sql

    spark.createDataFrame(
        [("g", "a", "x", 1.0)], "g string, c1 string, c2 string, x double"
    ).createOrReplaceTempView("_t_napvt")
    with _p.raises(ValueError, match="AS <name> each"):
        dialect_sql(
            spark,
            "PIVOT _t_napvt ON c1, c2 USING sum(x) AS s, min(x) "
            "GROUP BY g",
        )
    # single unaliased aggregate with multi-ON stays legal (combo name
    # alone, no suffix — DuckDB's rule)
    out = dialect_sql(
        spark, "PIVOT _t_napvt ON c1, c2 USING sum(x) GROUP BY g"
    )
    assert out.columns == ["g", "a_x"]
