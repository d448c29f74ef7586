"""Pipeline additions: column profiling (operators/profile.py)
and PII scrubbing (functions/text.py). The cross-engine regex/stat
parity lives in q_column_profile / q_pii_scrub; these tests pin the
semantics the oracle can't see — scrub order, approx-mode plan shape,
numeric-view handling."""

from __future__ import annotations

from pyspark.sql import functions as F

from rusty_timeseries_db_spark.functions.text import (
    PII_SCRUB_ORDER,
    pii_count,
    scrub_pii,
)
from rusty_timeseries_db_spark.operators.profile import profile_columns


def _scrub_one(spark, s: str) -> str:
    df = spark.createDataFrame([(s,)], "t string")
    return df.select(scrub_pii("t").alias("s")).collect()[0].s


def test_scrub_each_category(spark):
    assert (
        _scrub_one(spark, "mail a.b+c@ex-am.ple.org now")
        == "mail [EMAIL] now"
    )
    assert _scrub_one(spark, "ssn 123-45-6789.") == "ssn [SSN]."
    assert _scrub_one(spark, "call 555-123-4567 ok") == "call [PHONE] ok"
    assert _scrub_one(spark, "ip 10.0.255.1 end") == "ip [IPV4] end"


def test_scrub_order_disambiguates_overlaps(spark):
    # a 3-2-4 run must become SSN, never a partial phone match; an
    # email whose local part is digit-heavy must not leak digits to
    # the later numeric patterns
    assert _scrub_one(spark, "x 111-22-3333 y") == "x [SSN] y"
    assert _scrub_one(spark, "555.123.4567@ex.com") == "[EMAIL]"


def test_counts_and_no_rescrub(spark):
    df = spark.createDataFrame(
        [("a@b.io c@d.io 1.2.3.4",), (None,)], "t string"
    )
    row = df.agg(
        F.sum(pii_count("t", "email")).alias("e"),
        F.sum(pii_count("t", "ipv4")).alias("i"),
    ).collect()[0]
    assert (row.e, row.i) == (2, 1)
    # replacement tokens are inert for every later pattern
    s = "a@b.io"
    for _ in range(2):
        dfx = spark.createDataFrame([(s,)], "t string")
        s = dfx.select(scrub_pii("t").alias("s")).collect()[0].s
    assert s == "[EMAIL]"
    assert PII_SCRUB_ORDER[0] == "email"


def test_profile_columns_stats(spark):
    df = spark.createDataFrame(
        [(1, "a", 2.0), (2, "a", None), (3, None, 8.5), (3, "b", 1.5)],
        "id bigint, cat string, v double",
    )
    rows = {
        r.column_name: r
        for r in profile_columns(df, ["id", "cat", "v"]).collect()
    }
    assert rows["id"].n == 4 and rows["id"].n_nulls == 0
    assert rows["id"].n_distinct == 3
    assert (rows["id"].min_num, rows["id"].max_num) == (1.0, 3.0)
    assert rows["cat"].n_nulls == 1 and rows["cat"].n_distinct == 2
    # non-numeric strings: try_cast keeps the job alive under ANSI,
    # min/max degrade to NULL
    assert rows["cat"].min_num is None
    assert rows["v"].n_nulls == 1 and rows["v"].max_num == 8.5


def test_profile_percentiles_one_pass(spark):
    """Percentiles=True adds the
    q25/q50/q75 trio IN the same single aggregate — the plan still
    holds exactly one scan of the input — with NULL quartiles for
    non-numeric columns and the default schema untouched."""
    df = spark.createDataFrame(
        [(float(i), "t%d" % i) for i in range(1, 101)],
        "v double, s string",
    )
    out = profile_columns(df, ["v", "s"], percentiles=True)
    assert out.columns == [
        "column_name", "n", "n_nulls", "n_distinct",
        "min_num", "max_num", "q25", "q50", "q75",
    ]
    rows = {r.column_name: r for r in out.collect()}
    v = rows["v"]
    # percentile_approx is EXACT below its default accuracy threshold
    assert (v.q25, v.q50, v.q75) == (25.0, 50.0, 75.0)
    assert rows["s"].q25 is None and rows["s"].q75 is None
    # one scan: the FINAL adaptive plan reads the input once — the
    # percentile sketches ride the same aggregate, no second pass
    # (AQE's toString repeats the tree under '== Initial Plan ==';
    # count only the executed section)
    plan = (
        out._jdf.queryExecution().executedPlan().toString()
        .split("== Initial Plan ==")[0]
    )
    assert plan.count("Scan ExistingRDD") == 1
    # default stays the six-column exact row
    assert profile_columns(df, ["v"]).columns == [
        "column_name", "n", "n_nulls", "n_distinct", "min_num", "max_num",
    ]


def test_profile_approx_mode_drops_expand(spark):
    df = spark.range(100).select(
        F.col("id"), (F.col("id") % 7).alias("k")
    )
    exact_plan = profile_columns(
        df, ["id", "k"]
    )._jdf.queryExecution().executedPlan().toString()
    approx_plan = profile_columns(
        df, ["id", "k"], exact=False
    )._jdf.queryExecution().executedPlan().toString()
    assert "Expand" in exact_plan  # the cost of exactness, documented
    assert "Expand" not in approx_plan  # the 100 TB default path
    got = {
        r.column_name: r.n_distinct
        for r in profile_columns(df, ["id", "k"], exact=False).collect()
    }
    # HLL at this cardinality is exact
    assert got["k"] == 7


# ---------------------------------------------------------- clustering

def test_label_centroids_and_assignment(spark):
    from rusty_timeseries_db_spark.operators.clustering import (
        assign_nearest,
        label_centroids,
    )

    rows = [
        (1, 0, [0.0, 0.0]), (2, 0, [0.0, 2.0]),   # cluster at (0, 1)
        (3, 1, [10.0, 10.0]), (4, 1, [10.0, 12.0]),  # cluster at (10, 11)
        (5, 0, [9.0, 11.0]),  # mislabeled: nearest is cluster 1's side
    ]
    df = spark.createDataFrame(
        rows, "vec_id bigint, label int, embedding array<float>"
    )
    cent = {
        r.label: (r.centroid, r.n_vecs)
        for r in label_centroids(df, deterministic=True).collect()
    }
    assert cent[1][0] == [10.0, 11.0] and cent[1][1] == 2
    assert cent[0][1] == 3
    a = {
        r.vec_id: r.assigned_label
        for r in assign_nearest(
            df,
            label_centroids(df, deterministic=True).select(
                "label", "centroid"
            ),
        ).collect()
    }
    assert a[1] == 0 and a[3] == 1 and a[4] == 1
    assert a[5] == 1  # the planted mislabel crosses over

    # scale mode agrees with the deterministic fold up to fp order
    loose = {
        r.label: r.centroid
        for r in label_centroids(df, deterministic=False).collect()
    }
    for k, (cv, _) in cent.items():
        assert all(abs(x - y) < 1e-9 for x, y in zip(cv, loose[k]))


# ------------------------------------ data-quality rules

def test_data_quality_report_rules(spark):
    from pyspark.sql import functions as F

    from rusty_timeseries_db_spark.operators.profile import (
        data_quality_report,
    )

    df = spark.createDataFrame(
        [
            (1, 5.0, "ok"),
            (2, -1.0, "ok"),          # in_range violation
            (2, 50.0, "BAD!"),        # dup id + in_set + matches
            (None, 200.0, "ok"),      # not_null + in_range
        ],
        "id long, v double, tag string",
    )
    ref = spark.createDataFrame([(1,), (2,)], "rid long")
    out = {r.rule_id: r for r in data_quality_report(
        df,
        [
            {"rule": "not_null", "col": "id"},
            {"rule": "in_range", "col": "v", "lo": 0, "hi": 100},
            {"rule": "in_set", "col": "tag", "values": ["ok"]},
            {"rule": "matches", "col": "tag", "pattern": "^[a-z]+$"},
            {"rule": "unique", "cols": ["id"]},
            {"rule": "ref_integrity", "col": "id", "ref": "r",
             "ref_col": "rid"},
        ],
        refs={"r": ref},
    ).collect()}
    assert out[0].n_violations == 1 and out[0].n_checked == 4
    assert out[1].n_violations == 2          # -1 and 200
    assert out[2].n_violations == 1          # BAD!
    assert out[3].n_violations == 1
    assert out[4].n_violations == 1          # one surplus row for id 2
    assert out[5].n_violations == 0          # NULL id skipped, 1/2 in ref
    assert out[5].n_checked == 3
    assert out[1].violation_frac == 0.5
    import pytest

    with pytest.raises(ValueError, match="unknown rule"):
        data_quality_report(df, [{"rule": "nope", "col": "id"}])


def test_chi_square_cells_hand_computed(spark):
    """Independent columns -> chi2 ~ 0; a deterministic
    dependence -> each cell's term matches the textbook formula;
    zero-observed cells contribute their expected count; max_cells
    guard raises."""
    import pytest

    from rusty_timeseries_db_spark.operators.profile import (
        chi_square_cells,
    )

    # perfect dependence: a == b over 2x2, 10 rows each diagonal
    rows = [("x", "p")] * 10 + [("y", "q")] * 10
    df = spark.createDataFrame(rows, "a string, b string")
    cells = {
        (r.a_value, r.b_value): r
        for r in chi_square_cells(df, "a", "b").collect()
    }
    assert len(cells) == 4
    # e = 10*10/20 = 5 everywhere; diagonal o=10 -> (10-5)^2/5 = 5;
    # off-diagonal o=0 -> (0-5)^2/5 = 5; chi2 = 20 = n (phi=1, 2x2)
    for k, r in cells.items():
        assert r.expected_r6 == 5.0
        assert r.chi2_term_r9 == 5.0
    assert cells[("x", "q")].observed == 0

    # independence: every (a, b) combination equally frequent
    rows2 = [(a, b) for a in "xy" for b in "pq" for _ in range(5)]
    df2 = spark.createDataFrame(rows2, "a string, b string")
    terms = [
        r.chi2_term_r9 for r in chi_square_cells(df2, "a", "b").collect()
    ]
    assert sum(terms) == 0.0

    with pytest.raises(ValueError, match="max_cells"):
        chi_square_cells(df, "a", "b", max_cells=3)


def test_max_cells_guard_counts_null_levels(spark):
    """The fused one-job dims guard must count a NULL level
    exactly like the old per-marginal ``count()`` did (count(DISTINCT)
    alone would skip it): 3 a-levels (incl. NULL) x 2 b-levels = 6
    cells — over a max_cells of 5, under 6."""
    import pytest

    from rusty_timeseries_db_spark.operators.profile import (
        chi_square_cells,
        pmi_cells,
    )

    rows = [("x", "p"), ("y", "q"), (None, "p"), ("x", "q"), (None, "q")]
    df = spark.createDataFrame(rows, "a string, b string")
    with pytest.raises(ValueError, match="3 x 2 cells"):
        chi_square_cells(df, "a", "b", max_cells=5)
    assert chi_square_cells(df, "a", "b", max_cells=6).count() == 6
    # empty input: 0 x 0 cells, so both scans return no rows instead of
    # failing on the guard's NULL dims
    empty = df.limit(0)
    assert chi_square_cells(empty, "a", "b").count() == 0
    assert pmi_cells(empty, "a", "b").count() == 0


# -------------------------------------------------------------------------


def test_luhn_known_vectors(spark):
    """Public Luhn test vectors: valid card test numbers pass, an
    off-by-one fails, and the classic 79927398713 example from the
    checksum's spec passes while its neighbors fail."""
    from pyspark.sql import functions as F

    from rusty_timeseries_db_spark.functions.text import luhn_valid

    cases = [
        ("4111111111111111", True),   # Visa test number
        ("4111111111111112", False),
        ("378282246310005", True),    # Amex test number
        ("5500005555555559", True),   # MC test number
        ("79927398713", True),        # the spec's worked example
        ("79927398710", False),
        ("79927398714", False),
    ]
    df = spark.createDataFrame(cases, "s string, want boolean")
    got = df.select("s", "want", luhn_valid("s").alias("got")).collect()
    for r in got:
        assert r.got == r.want, r.s


def test_card_candidates_length_gate(spark):
    """13-19 digit standalone runs only: 12 too short, 20 too long,
    digits glued to letters are not standalone."""
    from rusty_timeseries_db_spark.functions.text import card_candidates

    df = spark.createDataFrame(
        [("a 123456789012 b 1234567890123 c 12345678901234567890 "
          "d x4111111111111111y e 4111111111111111",)],
        "s string",
    )
    got = df.select(card_candidates("s").alias("c")).collect()[0].c
    assert got == ["1234567890123", "4111111111111111"]


def test_char_entropy_closed_forms(spark):
    """Hand-computable entropies: one repeated char = 0 bits, a
    2-char alternation = 1 bit, 4 distinct chars = 2 bits; case folds
    (AaAa = 0 bits); empty and NULL read (0, 0.0); one row out per
    row in."""
    from rusty_timeseries_db_spark.operators.profile import char_entropy

    df = spark.createDataFrame(
        [(1, "aaaa"), (2, "abab"), (3, "abcd"), (4, "AaAa"),
         (5, ""), (6, None)],
        "doc_id bigint, text string",
    )
    got = {r.doc_id: (r.n_chars, r.entropy_bits)
           for r in char_entropy(df).collect()}
    assert got == {
        1: (4, 0.0), 2: (4, 1.0), 3: (4, 2.0), 4: (4, 0.0),
        5: (0, 0.0), 6: (0, 0.0),
    }


def test_zipf_slope_closed_form(spark):
    """A corpus built to an EXACT Zipf law (count at rank r = 60/r
    for one group) must fit slope == -1.0 with r2 == 1.0; a uniform
    group (every term equally frequent) fits slope 0.0; a group with
    fewer than 3 distinct terms is dropped. Fit math cross-checked
    against numpy.polyfit on the same (ln r, ln c) points."""
    import math

    import numpy as np

    from rusty_timeseries_db_spark.operators.profile import zipf_slope

    rows = []
    # zipfy: counts 60, 30, 20, 15, 12, 10 at ranks 1..6 = 60/r
    for r in range(1, 7):
        rows.extend([("zipfy", f"t{r:02d}")] * (60 // r))
    # uniform: 5 terms x 7 occurrences
    for i in range(5):
        rows.extend([("flat", f"u{i}")] * 7)
    # tiny: 2 distinct terms -> filtered
    rows.extend([("tiny", "a"), ("tiny", "b")])
    df = spark.createDataFrame(rows, "source string, text string")
    got = {r.source: r for r in zipf_slope(df, top_n=100).collect()}

    assert set(got) == {"zipfy", "flat"}
    assert got["zipfy"].n_terms == 6
    assert got["zipfy"].zipf_slope == -1.0
    assert got["zipfy"].r2 == 1.0
    assert got["flat"].n_terms == 5
    assert got["flat"].zipf_slope == 0.0
    assert got["flat"].r2 is None  # zero y-variance: 0/0 reads NULL

    xs = [round(math.log(r), 9) for r in range(1, 7)]
    ys = [round(math.log(60 // r), 9) for r in range(1, 7)]
    ref = np.polyfit(xs, ys, 1)[0]
    assert abs(got["zipfy"].zipf_slope - round(float(ref), 6)) <= 1e-6


def test_zipf_slope_rank_tiebreak_and_topn(spark):
    """Equal counts rank by term ASC (total order), and top_n caps
    the fit input: with top_n=3 only the 3 highest-count terms enter,
    so n_terms reports 3 even though the group has 5."""
    from rusty_timeseries_db_spark.operators.profile import zipf_slope

    rows = []
    for term, c in [("b", 8), ("a", 8), ("c", 4), ("d", 2), ("e", 1)]:
        rows.extend([("g", term)] * c)
    df = spark.createDataFrame(rows, "source string, text string")
    out = zipf_slope(df, top_n=3).collect()
    assert len(out) == 1 and out[0].n_terms == 3
    # ties at count 8: 'a' must take rank 1, 'b' rank 2 -- verified by
    # the fit being identical to the hand-ranked points
    import math

    import numpy as np

    xs = [round(math.log(r), 9) for r in (1, 2, 3)]
    ys = [round(math.log(c), 9) for c in (8, 8, 4)]
    ref = round(float(np.polyfit(xs, ys, 1)[0]), 6)
    assert abs(out[0].zipf_slope - ref) <= 1e-6


def test_winsorize_hand_computed(spark):
    from rusty_timeseries_db_spark.operators.profile import winsorize

    # group g: 1..10 -> p_lo = ceil(.2*10)=rank2 -> 2; p_hi = rank 9 -> 9
    df = spark.createDataFrame(
        [("g", float(i)) for i in range(1, 11)], "k string, value double"
    )
    out = winsorize(df, ["k"], "value", 0.2, 0.9).collect()
    assert all(r.p_lo == 2.0 and r.p_hi == 9.0 for r in out)
    got = sorted(r.value_w for r in out)
    assert got == [2.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0, 9.0, 9.0]


def test_winsorize_bounds_are_data_values_and_edges(spark):
    import pytest

    from rusty_timeseries_db_spark.operators.profile import winsorize

    df = spark.createDataFrame(
        [("g", v) for v in [1.25, 7.5, 100.0]], "k string, value double"
    )
    # lower=0 floors at rank 1 (the min), upper=1 is the max: no-op
    out = winsorize(df, ["k"], "value", 0.0, 1.0).collect()
    assert sorted(r.value_w for r in out) == [1.25, 7.5, 100.0]
    # a clipped value equals an ACTUAL data value, not an interpolation
    out = winsorize(df, ["k"], "value", 0.0, 0.5).collect()
    assert sorted(r.value_w for r in out) == [1.25, 7.5, 7.5]
    with pytest.raises(ValueError, match="lower"):
        winsorize(df, ["k"], "value", 0.9, 0.1)


def test_winsorize_null_values_excluded_from_bounds(spark):
    """NULLs must not shift the rank universe (they
    sort first in Spark), must pass through unclipped, and an all-NULL
    group must keep its rows."""
    from rusty_timeseries_db_spark.operators.profile import winsorize

    df = spark.createDataFrame(
        [("g", None), ("g", None)] + [("g", float(i)) for i in range(1, 11)]
        + [("nulls", None)],
        "k string, value double",
    )
    out = winsorize(df, ["k"], "value", 0.2, 0.9).collect()
    g = [r for r in out if r.k == "g"]
    # bounds computed over the 10 NON-NULL values only
    assert all(r.p_lo == 2.0 and r.p_hi == 9.0 for r in g)
    assert sorted(r.value_w for r in g if r.value_w is not None) == [
        2.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0, 9.0, 9.0
    ]
    assert sum(1 for r in g if r.value_w is None) == 2
    nul = [r for r in out if r.k == "nulls"]
    assert len(nul) == 1 and nul[0].value_w is None


def test_k_anonymity_hand_computed(spark):
    from rusty_timeseries_db_spark.operators.profile import (
        k_anonymity_report,
    )

    # classes: (a,1)x1, (a,2)x3, (b,1)x5, (NULL,1)x2
    rows = (
        [("a", 1)] + [("a", 2)] * 3 + [("b", 1)] * 5 + [(None, 1)] * 2
    )
    df = spark.createDataFrame(rows, "qa string, qb int")
    got = {
        r.k: r
        for r in k_anonymity_report(df, ["qa", "qb"], [2, 4]).collect()
    }
    assert got[2].n_rows == 11 and got[2].n_classes == 4
    # k=2: only the singleton class (a,1) is below
    assert (got[2].n_classes_below, got[2].n_rows_below) == (1, 1)
    assert got[2].frac_rows_below == round(1 / 11, 6)
    # k=4: (a,1), (a,2) and the NULL class are below — NULL is a class
    assert (got[4].n_classes_below, got[4].n_rows_below) == (3, 6)
    import pytest as _p

    with _p.raises(ValueError, match="thresholds"):
        k_anonymity_report(df, ["qa"], [1])


def test_benford_digit_extraction_and_terms(spark):
    import math

    from rusty_timeseries_db_spark.operators.profile import (
        benford_profile,
    )

    # first significant digits: 1 (x2: 123.4, 0.19), 2 (0.02 -> 2),
    # 9 (-9.5 -> abs); 0.0 and NULL excluded
    df = spark.createDataFrame(
        [(123.4,), (0.19,), (0.02,), (-9.5,), (0.0,), (None,)],
        "value double",
    )
    got = {r.digit: r for r in benford_profile(df).collect()}
    assert {d: r.n for d, r in got.items()} == {1: 2, 2: 1, 9: 1}
    assert got[1].obs_share == 0.5
    assert got[1].benford_share == round(math.log10(2), 6)
    exp_n = math.log10(2) * 4
    assert got[1].chi2_term == round((2 - exp_n) ** 2 / exp_n, 6)


def test_pmi_cells_hand_computed(spark):
    import math

    from rusty_timeseries_db_spark.operators.profile import pmi_cells

    # perfect association: a1<->b1 (2x), a2<->b2 (2x)
    rows = [("a1", "b1")] * 2 + [("a2", "b2")] * 2
    df = spark.createDataFrame(rows, "x string, y string")
    got = {(r.a_value, r.b_value): r for r in pmi_cells(df, "x", "y").collect()}
    # pmi = log2(2*4 / (2*2)) = 1 bit for both observed cells
    assert set(got) == {("a1", "b1"), ("a2", "b2")}
    for r in got.values():
        assert r.pmi_bits == 1.0
        assert r.mi_contrib_r9 == 0.5
    # total MI = 1 bit (perfectly dependent binary pair)
    assert sum(r.mi_contrib_r9 for r in got.values()) == 1.0

    # independence: pmi 0 everywhere
    rows = [(a, b) for a in ("a1", "a2") for b in ("b1", "b2")]
    df = spark.createDataFrame(rows, "x string, y string")
    for r in pmi_cells(df, "x", "y").collect():
        assert r.pmi_bits == 0.0 and r.mi_contrib_r9 == 0.0

    # NULL participates as its own level
    df = spark.createDataFrame(
        [("a1", None), ("a1", None), ("a2", "b1")], "x string, y string"
    )
    got = {(r.a_value, r.b_value): r for r in pmi_cells(df, "x", "y").collect()}
    assert (("a1", None) in got) and got[("a1", None)].n_ab == 2
    assert got[("a1", None)].pmi_bits == round(math.log2(2*3/(2*2)), 6)

    import pytest as _p

    with _p.raises(ValueError, match="max_cells"):
        pmi_cells(df, "x", "y", max_cells=1)


def test_psi_drift_identical_halves_is_zero(spark):
    """PSI of two identical distributions is 0 exactly (smoothing
    included); a full mass shift produces a large positive PSI."""
    from rusty_timeseries_db_spark.queries import _REGISTRY
    import math

    # direct formula check with the same smoothing discipline
    def psi(c_ref, c_cur):
        t_ref = sum(c_ref) + 0.5 * len(c_ref)
        t_cur = sum(c_cur) + 0.5 * len(c_cur)
        s = 0.0
        for a, b in zip(c_ref, c_cur):
            pr = (a + 0.5) / t_ref
            pc = (b + 0.5) / t_cur
            s += round((pr - pc) * math.log(pr / pc), 9)
        return round(s, 6)

    assert psi([10, 20, 30], [10, 20, 30]) == 0.0
    assert psi([100, 0, 0], [0, 0, 100]) > 1.0  # textbook 'major shift'
