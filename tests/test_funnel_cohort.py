"""Event-sequence analytics: funnel stages and cohort retention."""

from datetime import datetime, timedelta

import pytest

from rusty_timeseries_db_spark.operators.funnel import funnel

T0 = datetime(2024, 1, 1, 12, 0, 0)


def _ev(uid, etype, dt_h):
    return (uid, etype, T0 + timedelta(hours=dt_h))


@pytest.fixture()
def funnel_events(spark):
    rows = [
        # u1: clean 3-stage conversion
        _ev(1, "view", 0), _ev(1, "click", 1), _ev(1, "purchase", 2),
        # u2: click BEFORE the view anchor only -> stage 1 only
        _ev(2, "click", -1), _ev(2, "view", 0),
        # u3: click outside the 24h horizon -> stage 1 only
        _ev(3, "view", 0), _ev(3, "click", 25),
        # u4: purchase precedes the click anchor -> stages 1-2 only
        _ev(4, "view", 0), _ev(4, "purchase", 0.5), _ev(4, "click", 1),
        # u5: FIRST-TOUCH anchoring — the second view would convert,
        # but the anchor is the first view, whose horizon the click
        # misses -> stage 1 only
        _ev(5, "view", 0), _ev(5, "view", 48), _ev(5, "click", 49),
        # u6: never viewed -> not in the funnel at all
        _ev(6, "click", 0), _ev(6, "purchase", 1),
        # u7: click lands EXACTLY at anchor + horizon (inclusive edge)
        _ev(7, "view", 0), _ev(7, "click", 24),
    ]
    return spark.createDataFrame(
        rows, "user_id bigint, event_type string, ts timestamp"
    )


def test_funnel_anchoring_ordering_horizon(funnel_events):
    got = {
        r.stage_idx: r
        for r in funnel(
            funnel_events, ["view", "click", "purchase"]
        ).collect()
    }
    assert [got[i].stage for i in (1, 2, 3)] == [
        "view", "click", "purchase"
    ]
    assert got[1].users == 6          # u1..u5, u7
    assert got[2].users == 3          # u1, u4, u7
    assert got[3].users == 1          # u1
    assert got[1].conversion_frac == 1.0
    assert got[2].conversion_frac == 0.5
    assert got[3].conversion_frac == round(1 / 6, 6)


def test_funnel_same_timestamp_not_after(spark):
    """A stage-2 event at EXACTLY the stage-1 anchor timestamp is not
    'after' it — strict inequality, so simultaneous batch-loaded
    events don't fabricate conversions."""
    df = spark.createDataFrame(
        [_ev(1, "view", 0), _ev(1, "click", 0)],
        "user_id bigint, event_type string, ts timestamp",
    )
    got = {r.stage_idx: r.users for r in funnel(df, ["view", "click"]).collect()}
    assert got == {1: 1, 2: 0}


def test_funnel_needs_two_stages(spark):
    df = spark.createDataFrame(
        [_ev(1, "view", 0)], "user_id bigint, event_type string, ts timestamp"
    )
    with pytest.raises(ValueError, match="at least 2"):
        funnel(df, ["view"])


def test_cohort_retention_hand_matrix(spark):
    """Two Monday-aligned weekly cohorts, hand-checked matrix:
    2024-01-01 week cohort {u1, u2}: u1 returns weeks 1 and 2, u2
    never returns; 2024-01-08 week cohort {u3}: u3 returns week 1.
    Offset-0 rows always read retention 1.0."""
    from rusty_timeseries_db_spark.operators.funnel import cohort_retention

    rows = [
        (1, datetime(2024, 1, 2, 9)),    # cohort week 2024-01-01
        (1, datetime(2024, 1, 10, 9)),   # offset 1
        (1, datetime(2024, 1, 16, 9)),   # offset 2
        (1, datetime(2024, 1, 16, 18)),  # same period, no double count
        (2, datetime(2024, 1, 3, 9)),    # cohort week 2024-01-01 only
        (3, datetime(2024, 1, 8, 0)),    # cohort week 2024-01-08 (Mon)
        (3, datetime(2024, 1, 21, 23)),  # Sunday -> still offset 1
    ]
    df = spark.createDataFrame(rows, "user_id bigint, ts timestamp")
    got = {
        (r.cohort, r.period_offset): (
            r.active_users, r.cohort_size, r.retention_frac
        )
        for r in cohort_retention(df, granularity="week").collect()
    }
    assert got == {
        ("2024-01-01", 0): (2, 2, 1.0),
        ("2024-01-01", 1): (1, 2, 0.5),
        ("2024-01-01", 2): (1, 2, 0.5),
        ("2024-01-08", 0): (1, 1, 1.0),
        ("2024-01-08", 1): (1, 1, 1.0),
    }


def test_cohort_retention_day_granularity(spark):
    from rusty_timeseries_db_spark.operators.funnel import cohort_retention

    rows = [
        (1, datetime(2024, 1, 1, 9)),
        (1, datetime(2024, 1, 3, 9)),   # day offset 2
    ]
    df = spark.createDataFrame(rows, "user_id bigint, ts timestamp")
    got = {
        r.period_offset: r.retention_frac
        for r in cohort_retention(df, granularity="day").collect()
    }
    assert got == {0: 1.0, 2: 1.0}

    with pytest.raises(ValueError, match="granularity"):
        cohort_retention(df, granularity="hour")


def test_attribution_last_touch_hand_computed(spark):
    """u1: view->click->purchase attributes to click (last touch);
    u2: purchase with no preceding touch -> (direct); u3: same-ts
    click+purchase ordered by event_id -> click still attributes;
    later events never attribute backwards."""
    from pyspark.sql import functions as F

    from rusty_timeseries_db_spark.operators.funnel import (
        attribute_conversions,
    )

    rows = [
        (1, 1, "view", 0.0, 0),
        (1, 2, "click", 0.0, 1),
        (1, 3, "purchase", 10.0, 2),
        (2, 1, "purchase", 4.0, 0),
        (2, 2, "view", 0.0, 1),      # AFTER the purchase: must not count
        (3, 1, "click", 0.0, 0),     # same ts as the purchase
        (3, 2, "purchase", 6.0, 0),  # event_id orders them
    ]
    df = spark.createDataFrame(
        [(u, e, t, v, h) for u, e, t, v, h in rows],
        "user_id long, event_id long, event_type string, value double, h long",
    ).withColumn(
        "ts",
        F.to_timestamp(F.lit("2024-01-01 00:00:00")) +
        F.make_interval(hours=F.col("h")),
    )
    got = {
        r.source: r
        for r in attribute_conversions(
            df, order_tiebreak="event_id"
        ).collect()
    }
    assert set(got) == {"click", "(direct)"}
    assert got["click"].n_conversions == 2
    assert got["click"].attributed_value == 16.0
    assert got["(direct)"].n_conversions == 1
    assert got["(direct)"].attributed_value == 4.0
    assert got["click"].share == round(2 / 3, 6)


# ---------------------------------------------------------- Kaplan-Meier

def _km(spark, rows, **kw):
    from rusty_timeseries_db_spark.operators.funnel import kaplan_meier

    df = spark.createDataFrame(rows, "user_id string, ts timestamp")
    return {
        (r.cohort, r.t): r
        for r in kaplan_meier(df, "user_id", "ts", **kw).collect()
    }


def test_kaplan_meier_hand_computed(spark):
    import math

    def s(logs):
        return round(math.exp(sum(round(math.log(x), 12) for x in logs)), 9)

    rows = [
        # cohort of Mon 2024-01-01: churns at t=0, 2, 9; censor at 9
        ("u1", "2024-01-01 08:00:00"), ("u1", "2024-01-03 08:00:00"),
        ("u2", "2024-01-02 08:00:00"),
        ("u3", "2024-01-01 09:00:00"), ("u3", "2024-01-10 09:00:00"),
        ("u4", "2024-01-03 10:00:00"), ("u4", "2024-01-12 10:00:00"),
        # cohort of Mon 2024-01-08: single user, censored (defines
        # the global observation boundary 2024-01-12)
        ("u5", "2024-01-08 07:00:00"), ("u5", "2024-01-12 23:00:00"),
    ]
    rows = [(u, __import__("datetime").datetime.fromisoformat(t))
            for u, t in rows]
    got = _km(spark, rows)
    a = "2024-01-01"
    # risk sets and exits: t=0 d=1 n=4; t=2 d=1 n=3; t=9 d=1 c=1 n=2
    assert (got[(a, 0)].n_at_risk, got[(a, 0)].churned,
            got[(a, 0)].censored) == (4, 1, 0)
    assert (got[(a, 2)].n_at_risk, got[(a, 2)].churned) == (3, 1)
    assert (got[(a, 9)].n_at_risk, got[(a, 9)].churned,
            got[(a, 9)].censored) == (2, 1, 1)
    assert got[(a, 0)].survival == s([3 / 4])
    assert got[(a, 2)].survival == s([3 / 4, 2 / 3])
    assert got[(a, 9)].survival == s([3 / 4, 2 / 3, 1 / 2])
    # censoring-only step: survival stays 1.0 (no churn observed)
    b = "2024-01-08"
    assert (got[(b, 4)].churned, got[(b, 4)].censored) == (0, 1)
    assert got[(b, 4)].survival == 1.0


def test_kaplan_meier_extinct_cohort_pins_zero(spark):
    import datetime as dt

    rows = [
        ("ua", dt.datetime(2024, 1, 1, 8)), ("ua", dt.datetime(2024, 1, 2, 8)),
        ("ub", dt.datetime(2024, 1, 1, 9)), ("ub", dt.datetime(2024, 1, 2, 9)),
        # later cohort pushes the observation boundary past cohort A
        ("uc", dt.datetime(2024, 1, 8, 7)), ("uc", dt.datetime(2024, 1, 12, 7)),
    ]
    got = _km(spark, rows)
    row = got[("2024-01-01", 1)]
    # everyone remaining churns at t=1: d == n -> survival exactly 0
    assert (row.n_at_risk, row.churned, row.survival) == (2, 2, 0.0)


def test_kaplan_meier_unit_and_guards(spark):
    import datetime as dt

    import pytest as _pytest

    from rusty_timeseries_db_spark.operators.funnel import kaplan_meier

    rows = [
        ("u1", dt.datetime(2024, 1, 1, 8)), ("u1", dt.datetime(2024, 1, 9, 8)),
        ("u2", dt.datetime(2024, 1, 1, 8)), ("u2", dt.datetime(2024, 1, 20, 8)),
    ]
    got = _km(spark, rows, unit_days=7)
    # u1: 8 days -> t=1 of horizon 2 (churn); u2: 19 days -> t=2 ==
    # horizon (censored)
    assert (got[("2024-01-01", 1)].churned,
            got[("2024-01-01", 2)].censored) == (1, 1)
    df = spark.createDataFrame(rows, "user_id string, ts timestamp")
    with _pytest.raises(ValueError, match="granularity"):
        kaplan_meier(df, granularity="month")
    with _pytest.raises(ValueError, match="unit_days"):
        kaplan_meier(df, unit_days=0)


# ---------------------------------------------------------------------------
# Log-rank test
# ---------------------------------------------------------------------------

#: Freireich 1963 6-MP vs placebo leukemia trial — THE published
#: log-rank worked example (reproduced in Kleinbaum & Klein,
#: "Survival Analysis", ch. 2, and countless other texts): 21
#: patients per arm, remission weeks below; log-rank chi2 = 16.79,
#: expected events 19.25 / 10.75.
_SIX_MP_EVENTS = [6, 6, 6, 7, 10, 13, 16, 22, 23]
_SIX_MP_CENSORED = [6, 9, 10, 11, 17, 19, 20, 25, 32, 32, 34, 35]
_PLACEBO_EVENTS = [1, 1, 2, 2, 3, 4, 4, 5, 5, 8, 8, 8, 8, 11, 11, 12,
                   12, 15, 17, 22, 23]


def _six_mp_df(spark):
    rows = (
        [("6mp", t, 1) for t in _SIX_MP_EVENTS]
        + [("6mp", t, 0) for t in _SIX_MP_CENSORED]
        + [("placebo", t, 1) for t in _PLACEBO_EVENTS]
    )
    return spark.createDataFrame(rows, "grp string, t long, churned int")


def test_logrank_published_worked_example(spark):
    from rusty_timeseries_db_spark.operators.funnel import logrank

    out = {
        r.grp: r
        for r in logrank(
            _six_mp_df(spark), group_col="grp", t_col="t",
            churned_col="churned",
        ).collect()
    }
    assert set(out) == {"6mp", "placebo"}
    mp, pl = out["6mp"], out["placebo"]
    assert (mp.n_subjects, mp.observed) == (21, 9)
    assert (pl.n_subjects, pl.observed) == (21, 21)
    # published expected counts 19.25 / 10.75 and chi2 16.79
    assert abs(mp.expected - 19.2505) < 1e-3
    assert abs(pl.expected - 10.7495) < 1e-3
    # two-group symmetry: both rows carry the SAME statistic
    assert mp.chi2 == pl.chi2 == pytest.approx(16.79, abs=0.01)
    assert mp.variance == pl.variance
    assert mp.p_class == pl.p_class == "p<0.01"


def _brute_logrank(rows, g1):
    """Direct textbook log-rank over (group, t, churned) tuples."""
    groups = sorted({g for g, _, _ in rows})
    n0 = {g: sum(1 for gg, _, _ in rows if gg == g) for g in groups}
    churn_times = sorted({t for _, t, c in rows if c == 1})
    O = E = V = 0.0
    for t in churn_times:
        n = {
            g: n0[g] - sum(1 for gg, tt, _ in rows if gg == g and tt < t)
            for g in groups
        }
        d = {
            g: sum(1 for gg, tt, c in rows if gg == g and tt == t and c)
            for g in groups
        }
        n_all, d_all = sum(n.values()), sum(d.values())
        n1 = n.get(g1, 0)
        O += d.get(g1, 0)
        E += d_all * n1 / n_all
        if n_all > 1:
            V += (
                d_all * n1 * (n_all - n1) * (n_all - d_all)
                / (n_all * n_all * (n_all - 1))
            )
    return O, E, V, ((O - E) ** 2 / V if V > 0 else None)


def test_logrank_matches_brute_force_random(spark):
    """Operator vs the direct textbook computation over deterministic
    pseudo-random 3-group lifetimes (quantization at 12dp makes the
    operator agree with raw float to ~1e-6 on these magnitudes)."""
    import random

    from rusty_timeseries_db_spark.operators.funnel import logrank

    rng = random.Random(42)
    rows = [
        (f"g{i % 3}", rng.randrange(1, 40), rng.randrange(0, 2))
        for i in range(120)
    ]
    df = spark.createDataFrame(rows, "grp string, t long, churned int")
    got = {
        r.grp: r
        for r in logrank(
            df, group_col="grp", t_col="t", churned_col="churned"
        ).collect()
    }
    for g in ("g0", "g1", "g2"):
        O, E, V, chi2 = _brute_logrank(rows, g)
        assert got[g].observed == O
        assert got[g].expected == pytest.approx(E, abs=1e-6)
        assert got[g].variance == pytest.approx(V, abs=1e-6)
        assert got[g].chi2 == pytest.approx(chi2, abs=1e-4)


def test_logrank_degenerate_cases(spark):
    from rusty_timeseries_db_spark.operators.funnel import logrank

    # single group: group-vs-rest has an empty rest — n2 = 0 at every
    # step, so V = 0 and the statistic is honestly undefined
    one = spark.createDataFrame(
        [("a", 1, 1), ("a", 2, 1), ("a", 3, 0)],
        "grp string, t long, churned int",
    )
    row = logrank(one, "grp", "t", "churned").collect()[0]
    assert row.chi2 is None and row.p_class == "undefined"
    # no churn anywhere: no pooled churn times at all -> zero rows
    # survive the grid (nothing to test a difference ON)
    cens = spark.createDataFrame(
        [("a", 5, 0), ("b", 7, 0)], "grp string, t long, churned int"
    )
    assert logrank(cens, "grp", "t", "churned").count() == 0


def test_logrank_cohorts_from_event_stream(spark):
    """The events wrapper derives the SAME lifetimes kaplan_meier
    uses (shared user_lifetimes helper) — two cohorts with starkly
    different churn profiles separate; observed churns match a hand
    count of users who went quiet before the boundary."""
    import datetime as dt

    from rusty_timeseries_db_spark.operators.funnel import logrank_cohorts

    rows = []
    base = dt.datetime(2024, 1, 1)  # a Monday
    # cohort A (week of Jan 1): 6 users, all churn fast (last event
    # well before the boundary)
    for u in range(6):
        rows.append((f"a{u}", base + dt.timedelta(hours=u)))
        rows.append((f"a{u}", base + dt.timedelta(days=1 + (u % 2))))
    # cohort B (week of Jan 15): 6 users, active through the boundary
    b = dt.datetime(2024, 1, 15)
    for u in range(6):
        rows.append((f"b{u}", b + dt.timedelta(hours=u)))
        rows.append((f"b{u}", b + dt.timedelta(days=13)))  # = obs end
    df = spark.createDataFrame(rows, "user_id string, ts timestamp")
    out = {
        r.cohort: r
        for r in logrank_cohorts(df, "user_id", "ts").collect()
    }
    assert set(out) == {"2024-01-01", "2024-01-15"}
    # every A user churned (runway left), every B user is censored
    # exactly at the boundary
    assert out["2024-01-01"].observed == 6
    assert out["2024-01-15"].observed == 0
    assert out["2024-01-01"].chi2 == out["2024-01-15"].chi2
    assert out["2024-01-01"].chi2 is not None


# ---------------------------------------------------------------------------
# Nelson-Aalen + RMST
# ---------------------------------------------------------------------------


def _brute_nelson_aalen(rows):
    """Direct textbook NA over (group, t, churned) tuples with the
    operator's quantization: per-step d/n rounded at 12dp, exact
    cumulative sum (Fraction-free via int-scaled decimals)."""
    from decimal import Decimal

    groups = sorted({g for g, _, _ in rows})
    out = {}
    for g in groups:
        mine = [(t, c) for gg, t, c in rows if gg == g]
        n = len(mine)
        cum = Decimal(0)
        for t in sorted({t for t, _ in mine}):
            d = sum(1 for tt, c in mine if tt == t and c == 1)
            x = sum(1 for tt, _ in mine if tt == t)
            if d > 0:
                cum += Decimal(str(round(d / n, 12)))
            out[(g, t)] = (n, float(cum))
            n -= x
    return out


def test_nelson_aalen_published_worked_example(spark):
    """Freireich 6-MP arm: H(6) = 3/21, then +1/17, +1/15, +1/12,
    +1/11, +1/7, +1/6 at the later churn weeks — the NA table
    reproduced in the survival texts alongside the KM one."""
    from rusty_timeseries_db_spark.operators.funnel import nelson_aalen

    out = {
        (r.grp, r.t): r
        for r in nelson_aalen(
            _six_mp_df(spark), group_col="grp", t_col="t",
            churned_col="churned",
        ).collect()
    }
    ref = _brute_nelson_aalen(
        [("6mp", t, 1) for t in _SIX_MP_EVENTS]
        + [("6mp", t, 0) for t in _SIX_MP_CENSORED]
        + [("placebo", t, 1) for t in _PLACEBO_EVENTS]
    )
    for key, (n, h) in ref.items():
        assert out[key].n_at_risk == n
        assert out[key].cum_hazard == pytest.approx(h, abs=1e-12)
    # spot-check the published first steps: 3 churns of 21 at week 6
    mp6 = out[("6mp", 6)]
    assert (mp6.n_at_risk, mp6.churned, mp6.censored) == (21, 3, 1)
    assert mp6.cum_hazard == pytest.approx(3 / 21, abs=1e-9)
    # H(10) = 3/21 + 1/17 + 1/15 ~ 0.26837 (the textbook table)
    assert out[("6mp", 10)].cum_hazard == pytest.approx(
        round(3 / 21, 12) + round(1 / 17, 12) + round(1 / 15, 12),
        abs=1e-12,
    )
    # Fleming-Harrington survival sits just above KM everywhere
    import math

    for key, (_, h) in ref.items():
        assert out[key].fh_survival == round(math.exp(-h), 9)
    # censor-only steps carry the running hazard unchanged
    mp9 = out[("6mp", 9)]
    assert mp9.churned == 0
    assert mp9.cum_hazard == out[("6mp", 7)].cum_hazard


def test_nelson_aalen_cohorts_from_event_stream(spark):
    """Stream wrapper derives the same lifetimes as kaplan_meier:
    NA risk sets at each step equal the KM table's."""
    import datetime as dt

    from rusty_timeseries_db_spark.operators.funnel import (
        nelson_aalen_cohorts,
    )

    rows = [
        ("u1", dt.datetime(2024, 1, 1, 8)),
        ("u1", dt.datetime(2024, 1, 3, 8)),
        ("u2", dt.datetime(2024, 1, 2, 8)),
        ("u3", dt.datetime(2024, 1, 1, 9)),
        ("u3", dt.datetime(2024, 1, 10, 9)),
        ("u4", dt.datetime(2024, 1, 3, 10)),
        ("u4", dt.datetime(2024, 1, 12, 10)),
        ("u5", dt.datetime(2024, 1, 8, 7)),
        ("u5", dt.datetime(2024, 1, 12, 23)),
    ]
    df = spark.createDataFrame(rows, "user_id string, ts timestamp")
    km = _km(spark, rows)
    na = {
        (r.cohort, r.t): r
        for r in nelson_aalen_cohorts(df, "user_id", "ts").collect()
    }
    assert set(na) == set(km)
    for key in km:
        assert (na[key].n_at_risk, na[key].churned, na[key].censored) == (
            km[key].n_at_risk, km[key].churned, km[key].censored
        )
    # hand value: cohort 2024-01-01 at t=2 -> 1/4 + 1/3
    assert na[("2024-01-01", 2)].cum_hazard == pytest.approx(
        round(1 / 4, 12) + round(1 / 3, 12), abs=1e-12
    )


def _rmst_brute(steps, horizon):
    """Direct right-continuous step integral over (t, survival)."""
    from decimal import Decimal

    steps = sorted(steps)
    area = Decimal(min(steps[0][0], horizon))
    for i, (t, s) in enumerate(steps):
        nxt = steps[i + 1][0] if i + 1 < len(steps) else horizon
        w = max(0, min(nxt, horizon) - min(t, horizon))
        area += Decimal(str(round(s, 9))) * w
    return float(area)


def test_rmst_hand_computed(spark):
    from rusty_timeseries_db_spark.operators.funnel import rmst

    # two groups: a hand KM step table (post-step survival values)
    rows = [
        ("a", 2, 1, 0, 0.75), ("a", 5, 1, 0, 0.5), ("a", 9, 1, 1, 0.25),
        # group b: single censor-only step inside the horizon
        ("b", 4, 0, 1, 1.0),
    ]
    df = spark.createDataFrame(
        rows, "cohort string, t long, churned long, censored long, "
        "survival double"
    )
    got = {r.cohort: r for r in rmst(df, horizon=8).collect()}
    # a: 1*[0,2) + 0.75*[2,5) + 0.5*[5,8) = 2 + 2.25 + 1.5 = 5.75
    assert got["a"].rmst == pytest.approx(5.75, abs=1e-12)
    assert got["a"].n_subjects == 4 and got["a"].horizon == 8
    # b: survival 1 through the horizon -> exactly the horizon
    assert got["b"].rmst == pytest.approx(8.0, abs=1e-12)
    assert {r[0]: _rmst_brute([(t, s) for g, t, _, _, s in rows
                               if g == r[0]], 8)
            for r in rows} == {
        g: got[g].rmst for g in ("a", "b")
    }
    # horizon inside the first segment: S=1 the whole way
    got1 = {r.cohort: r for r in rmst(df, horizon=2).collect()}
    assert got1["a"].rmst == pytest.approx(2.0, abs=1e-12)
    # steps beyond the horizon contribute nothing
    got6 = {r.cohort: r for r in rmst(df, horizon=6).collect()}
    assert got6["a"].rmst == pytest.approx(
        2 + 0.75 * 3 + 0.5 * 1, abs=1e-12
    )
    import pytest as _pytest

    with _pytest.raises(ValueError, match="horizon"):
        rmst(df, horizon=0)


def test_rmst_published_six_mp_curve(spark):
    """RMST over the PUBLISHED 6-MP Kaplan-Meier step table
    (Kleinbaum & Klein): the literature's worked example reports the
    restricted mean to 35 weeks at ~23.3 weeks. The step table is
    derived here with a direct textbook KM pass (same quantization
    as the operator) so the integral input is exact."""
    import math

    from rusty_timeseries_db_spark.operators.funnel import rmst

    mine = sorted(
        [(t, 1) for t in _SIX_MP_EVENTS]
        + [(t, 0) for t in _SIX_MP_CENSORED]
    )
    n, logsum, rows = 21, 0.0, []
    for t in sorted({t for t, _ in mine}):
        d = sum(1 for tt, c in mine if tt == t and c == 1)
        x = sum(1 for tt, _ in mine if tt == t)
        if d:
            logsum += round(math.log((n - d) / n), 12)
        rows.append((
            "6mp", t, d, x - d, round(math.exp(logsum), 9)
        ))
        n -= x
    # published KM values: S(6) = .8571, S(7) = .8067, S(10) = .7529,
    # S(23) = .4482
    surv = {t: s for _, t, _, _, s in rows}
    for t, s in [(6, 0.8571), (7, 0.8067), (10, 0.7529), (23, 0.4482)]:
        assert surv[t] == pytest.approx(s, abs=5e-4)
    df = spark.createDataFrame(
        rows, "cohort string, t long, churned long, censored long, "
        "survival double"
    )
    (row,) = rmst(df, horizon=35).collect()
    assert row.n_subjects == 21
    assert row.rmst == pytest.approx(
        _rmst_brute([(t, s) for _, t, _, _, s in rows], 35), abs=1e-9
    )
    # the literature's number: ~23.3 weeks retained of the first 35
    assert row.rmst == pytest.approx(23.29, abs=0.05)


def test_rmst_end_to_end_from_event_stream(spark):
    """kaplan_meier -> rmst composes: per cohort the integral equals
    the brute-force area under the collected KM rows."""
    import datetime as dt

    from rusty_timeseries_db_spark.operators.funnel import (
        kaplan_meier, rmst,
    )

    rows = [
        ("u1", dt.datetime(2024, 1, 1, 8)),
        ("u1", dt.datetime(2024, 1, 3, 8)),
        ("u2", dt.datetime(2024, 1, 2, 8)),
        ("u3", dt.datetime(2024, 1, 1, 9)),
        ("u3", dt.datetime(2024, 1, 10, 9)),
        ("u4", dt.datetime(2024, 1, 3, 10)),
        ("u4", dt.datetime(2024, 1, 12, 10)),
        ("u5", dt.datetime(2024, 1, 8, 7)),
        ("u5", dt.datetime(2024, 1, 12, 23)),
    ]
    df = spark.createDataFrame(rows, "user_id string, ts timestamp")
    km = kaplan_meier(df, "user_id", "ts")
    collected = km.collect()
    got = {r.cohort: r for r in rmst(km, horizon=7).collect()}
    for cohort in {r.cohort for r in collected}:
        steps = [(r.t, r.survival) for r in collected
                 if r.cohort == cohort]
        assert got[cohort].rmst == pytest.approx(
            _rmst_brute(steps, 7), abs=1e-9
        ), cohort
    # the later single-user cohort never churns inside the window
    assert got["2024-01-08"].rmst == pytest.approx(7.0, abs=1e-12)


# ---------------------------------------------------------------------------
# k-sample omnibus log-rank
# ---------------------------------------------------------------------------


def test_logrank_omnibus_published_worked_example(spark):
    """Freireich 6-MP: the sum-of-squares approximation the survival
    texts hand-compute is (9-19.25)^2/19.25 + (21-10.75)^2/10.75
    ~ 15.23 (Kleinbaum & Klein ch. 2 — deliberately below the exact
    variance-based 16.79; the approximation is conservative), df=1,
    decisively significant."""
    from rusty_timeseries_db_spark.operators.funnel import logrank_omnibus

    (row,) = logrank_omnibus(
        _six_mp_df(spark), group_col="grp", t_col="t",
        churned_col="churned",
    ).collect()
    assert (row.k_groups, row.n_subjects, row.df) == (2, 42, 1)
    assert row.chi2 == pytest.approx(15.23, abs=0.01)
    assert row.p_class == "p<0.01"


def test_logrank_omnibus_matches_brute_force(spark):
    """chi2 equals the sum over groups of (O-E)^2/E computed by the
    direct textbook pass, for a 4-group random fixture (df=3 routes
    through the Wilson-Hilferty classing branch)."""
    import random

    from rusty_timeseries_db_spark.operators.funnel import logrank_omnibus

    rng = random.Random(7)
    rows = [
        (f"g{i % 4}", rng.randrange(1, 30), rng.randrange(0, 2))
        for i in range(160)
    ]
    df = spark.createDataFrame(rows, "grp string, t long, churned int")
    (row,) = logrank_omnibus(
        df, group_col="grp", t_col="t", churned_col="churned"
    ).collect()
    ss = 0.0
    for g in ("g0", "g1", "g2", "g3"):
        O, E, _, _ = _brute_logrank(rows, g)
        ss += (O - E) ** 2 / E
    assert (row.k_groups, row.df) == (4, 3)
    assert row.chi2 == pytest.approx(ss, abs=1e-4)
    # Wilson-Hilferty df=3 critical value ~ 7.81 / 11.34 — classing
    # follows the approximate boundary deterministically
    if row.chi2 >= 11.4:
        assert row.p_class == "p<0.01"


def test_logrank_omnibus_degenerate(spark):
    from rusty_timeseries_db_spark.operators.funnel import logrank_omnibus

    one = spark.createDataFrame(
        [("a", 1, 1), ("a", 2, 0)], "grp string, t long, churned int"
    )
    (row,) = logrank_omnibus(one, "grp", "t", "churned").collect()
    assert row.k_groups == 1
    assert row.df is None and row.chi2 is None
    assert row.p_class == "undefined"
    # no churn anywhere: the grid is empty -> zero groups survive
    cens = spark.createDataFrame(
        [("a", 5, 0), ("b", 7, 0)], "grp string, t long, churned int"
    )
    (row,) = logrank_omnibus(cens, "grp", "t", "churned").collect()
    assert row.k_groups == 0 and row.p_class == "undefined"


def test_logrank_omnibus_wilson_hilferty_branch_deterministic(spark):
    """df=3 classing uses the Wilson-Hilferty critical values
    (~7.81 / ~11.34): a 4-group fixture with identical churn
    profiles lands at chi2 ~ 0 -> 'ns'; one starkly different group
    pushes past the 0.01 boundary -> 'p<0.01'. Deterministic pins of
    both sides of the approximate boundary."""
    from rusty_timeseries_db_spark.operators.funnel import logrank_omnibus

    # four identical groups: every O_g equals its E_g exactly
    same = [(f"g{g}", t, 1) for g in range(4) for t in (2, 5, 9)]
    df = spark.createDataFrame(same, "grp string, t long, churned int")
    (row,) = logrank_omnibus(df, "grp", "t", "churned").collect()
    assert (row.k_groups, row.df) == (4, 3)
    assert row.chi2 == 0.0 and row.p_class == "ns"
    # one group churns far earlier, with enough subjects to matter
    skew = (
        [(f"g{g}", t, 1) for g in range(3) for t in (20, 25, 30)] * 4
        + [("g3", t, 1) for t in (1, 2, 3)] * 4
    )
    df2 = spark.createDataFrame(skew, "grp string, t long, churned int")
    (row2,) = logrank_omnibus(df2, "grp", "t", "churned").collect()
    assert row2.df == 3 and row2.chi2 is not None
    # WH crit01(df=3) ~ 11.36; this fixture's separation is decisive
    assert row2.chi2 > 12, row2.chi2
    assert row2.p_class == "p<0.01"
