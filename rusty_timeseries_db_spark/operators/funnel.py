"""Ordered-event funnel analysis — the product-analytics
staple over an event stream: of the users who did stage 1, how many
went on to do stage 2 within the horizon, then stage 3, in order?

Semantics: FIRST-TOUCH ANCHORED. Stage 1 anchors at each user's
earliest stage-1 event; stage k+1 counts the user iff a stage-(k+1)
event lands STRICTLY AFTER their stage-k anchor and within ``horizon``
of it, and the earliest such event becomes the next anchor. A
qualifying event chain that starts at a user's second stage-1 event
does NOT count — anchoring is what makes the result a pure
composition of grouped MIN aggregates, identical on every engine (no
per-user sequence scan, no session state).

Scale shape: one filtered grouped-MIN per stage plus one equi-join
per stage transition, ALL keyed on the user column — the shuffles
co-partition, and AQE coalesces as the surviving-user set shrinks
stage over stage. No window, no explode, no driver-side data; the
only single-row exchange is the stage-1 count broadcast used for the
conversion denominator.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def funnel(
    df: DataFrame,
    stages: list[str],
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    horizon: str = "24 hours",
) -> DataFrame:
    """One row per stage: ``(stage_idx, stage, users,
    conversion_frac)`` where ``conversion_frac`` = users at this stage
    / users at stage 1, rounded at 6 dp (exact integer ratio — the
    standard cross-engine float discipline). ``horizon`` is a Spark
    interval string (``"24 hours"``, ``"7 days"``)."""
    if len(stages) < 2:
        raise ValueError("a funnel needs at least 2 stages")
    iv = F.expr(f"INTERVAL {horizon}")
    anchors: list[DataFrame] = []
    cur: DataFrame | None = None
    for st in stages:
        ev = df.where(F.col(type_col) == st).select(
            F.col(user_col).alias("_u"), F.col(ts_col).alias("_ts")
        )
        if cur is None:
            cur = ev.groupBy("_u").agg(F.min("_ts").alias("_t"))
        else:
            cur = (
                ev.join(cur.select("_u", "_t"), "_u")
                .where(
                    (F.col("_ts") > F.col("_t"))
                    & (F.col("_ts") <= F.col("_t") + iv)
                )
                .groupBy("_u")
                .agg(F.min("_ts").alias("_t"))
            )
        anchors.append(cur)

    counts = None
    for i, (st, a) in enumerate(zip(stages, anchors)):
        row = a.agg(F.count(F.lit(1)).cast("bigint").alias("users")).select(
            F.lit(i + 1).alias("stage_idx"),
            F.lit(st).alias("stage"),
            "users",
        )
        counts = row if counts is None else counts.unionByName(row)

    top = anchors[0].agg(
        F.count(F.lit(1)).cast("bigint").alias("_top")
    )
    from ..queries import attach_scalar

    return attach_scalar(counts, top).select(
        "stage_idx",
        "stage",
        "users",
        F.when(
            F.col("_top") > 0,
            F.round(
                F.col("users").cast("double") / F.col("_top").cast("double"),
                6,
            ),
        ).otherwise(F.lit(None).cast("double")).alias("conversion_frac"),
    )


def cohort_retention(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    granularity: str = "week",
) -> DataFrame:
    """Cohort retention matrix — the other half of the
    product-analytics pair: group users by the period of their FIRST
    event (the cohort), then for each later period count how many of
    them came back. Returns one row per ``(cohort, period_offset)``:
    ``(cohort, period_offset, active_users, cohort_size,
    retention_frac)`` with ``retention_frac`` = active/size at 6 dp.
    Offset 0 always reads 1.0 — a user is active in their own first
    period by construction.

    ``granularity`` is ``"week"`` (Monday-aligned ``date_trunc``, the
    same boundary rule DuckDB uses) or ``"day"``. Offsets are exact
    integer day-diffs (divided by 7 for weeks — both periods are
    Monday-aligned, so the division is exact), never engine-specific
    "week difference" semantics.

    Scale shape: one user-keyed grouped MIN (first touch), one
    distinct over (user, period) — map-side combining on the natural
    key — then a user-keyed equi-join and a (cohort, offset) count;
    the per-(cohort,offset) user list is already distinct per period,
    so a plain COUNT suffices (no count-distinct state). Cohort sizes
    are dimension-sized and broadcast onto the matrix.
    """
    if granularity not in ("week", "day"):
        raise ValueError("granularity must be 'week' or 'day'")
    per_days = 7 if granularity == "week" else 1
    first = df.groupBy(F.col(user_col).alias("_u")).agg(
        F.min(ts_col).alias("_first_ts")
    ).select(
        "_u",
        F.date_trunc(granularity, F.col("_first_ts"))
        .cast("date")
        .alias("_cohort"),
    )
    act = df.select(
        F.col(user_col).alias("_u"),
        F.date_trunc(granularity, F.col(ts_col)).cast("date").alias("_p"),
    ).distinct()
    j = act.join(first, "_u").select(
        "_u",
        "_cohort",
        (F.datediff(F.col("_p"), F.col("_cohort")) / F.lit(per_days))
        .cast("bigint")
        .alias("_off"),
    )
    ret = j.groupBy("_cohort", "_off").agg(
        F.count(F.lit(1)).cast("bigint").alias("active_users")
    )
    size = first.groupBy("_cohort").agg(
        F.count(F.lit(1)).cast("bigint").alias("cohort_size")
    )
    return (
        ret.join(F.broadcast(size), "_cohort")
        .select(
            F.date_format("_cohort", "yyyy-MM-dd").alias("cohort"),
            F.col("_off").alias("period_offset"),
            "active_users",
            "cohort_size",
            F.round(
                F.col("active_users").cast("double")
                / F.col("cohort_size").cast("double"),
                6,
            ).alias("retention_frac"),
        )
    )


def attribute_conversions(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    conversion: str = "purchase",
    value_col: str = "value",
    order_tiebreak: str | None = None,
) -> DataFrame:
    """Last-touch conversion attribution (the revenue-facing
    companion of :func:`funnel`): every ``conversion`` event is
    attributed to the user's most recent STRICTLY-PRECEDING
    non-conversion event type — ``last(..., ignorenulls) OVER (ROWS
    UNBOUNDED PRECEDING .. 1 PRECEDING)`` on the per-user timeline, so
    a conversion at the same timestamp as its source still attributes
    (the tiebreak column orders same-ts events deterministically).
    Conversions with no preceding touch attribute to ``(direct)``.

    Emits per source: ``n_conversions``, ``attributed_value`` (exact
    decimal sum of the conversion events' values, cast to double at
    the end) and ``share`` of all conversions (6 dp).

    Scale shape: ONE user-keyed window (the same partitioning the
    funnel uses) + one tiny per-source agg; the attach-total share
    join is one row. No self-join, no sequence collect.
    """
    from pyspark.sql import Window

    order = [F.col(ts_col)] + (
        [F.col(order_tiebreak)] if order_tiebreak else []
    )
    w = (
        Window.partitionBy(user_col)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    src = F.last(
        F.when(F.col(type_col) != conversion, F.col(type_col)),
        ignorenulls=True,
    ).over(w)
    conv = (
        df.withColumn("_src", src)
        .filter(F.col(type_col) == conversion)
        .select(
            F.coalesce(F.col("_src"), F.lit("(direct)")).alias("source"),
            F.col(value_col).cast("decimal(18,2)").alias("_v"),
        )
    )
    agg = conv.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_conversions"),
        F.sum("_v").alias("_sv"),
    )
    # attach-scalar (constant-key broadcast equi-join), NOT an
    # unpartitioned window — keeps the plan free of global-window /
    # nested-loop nodes the audit hunts
    from ..queries import attach_scalar

    total = agg.agg(
        F.sum("n_conversions").cast("long").alias("_total")
    )
    return attach_scalar(agg, total).select(
        "source",
        "n_conversions",
        F.col("_sv").cast("double").alias("attributed_value"),
        F.round(
            F.col("n_conversions").cast("double")
            / F.col("_total").cast("double"),
            6,
        ).alias("share"),
    )


def user_lifetimes(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    granularity: str = "week",
    unit_days: int = 1,
) -> DataFrame:
    """Per-subject survival lifetimes from an event stream — the
    shared derivation under :func:`kaplan_meier` and
    :func:`logrank_cohorts` (factored out so the estimator
    and the test read the SAME durations by construction).

    One row per user: ``(cohort, t, churned)`` —

    - ``cohort``: the ``granularity`` period (``"week"``
      Monday-aligned / ``"day"``) of the user's first event, as a
      ``yyyy-MM-dd`` string (the :func:`cohort_retention` convention);
    - ``t``: lifetime in ``unit_days`` units, first event day to last
      event day (exact integer day arithmetic);
    - ``churned``: 1 when the user's maximum OBSERVABLE duration (to
      the corpus-wide max event day) exceeds ``t`` — they went quiet
      with runway left; 0 = right-CENSORED at ``t`` (the observation
      window ends exactly where their activity does — they may still
      be active).

    Scale shape: one user-keyed grouped MIN/MAX (the only
    events-sized shuffle, map-side combining) plus a 1-row
    attach-scalar broadcast for the observation boundary."""
    if granularity not in ("week", "day"):
        raise ValueError("granularity must be 'week' or 'day'")
    if unit_days < 1:
        raise ValueError("unit_days must be >= 1")
    from ..queries import attach_scalar

    users = df.groupBy(F.col(user_col).alias("_u")).agg(
        F.min(F.col(ts_col).cast("date")).alias("_first"),
        F.max(F.col(ts_col).cast("date")).alias("_last"),
    )
    obs = df.agg(F.max(F.col(ts_col).cast("date")).alias("_obs_end"))
    return attach_scalar(users, obs).select(
        "_u",
        F.date_format(
            F.date_trunc(granularity, F.col("_first")).cast("date"),
            "yyyy-MM-dd",
        ).alias("cohort"),
        F.expr(f"datediff(_last, _first) div {unit_days}")
        .cast("bigint").alias("t"),
        # sibling aliases aren't referencable within one select — the
        # horizon comparison repeats the duration expression
        F.when(
            F.expr(f"datediff(_obs_end, _first) div {unit_days}")
            > F.expr(f"datediff(_last, _first) div {unit_days}"),
            F.lit(1),
        ).otherwise(F.lit(0)).alias("churned"),
    )


def kaplan_meier(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    granularity: str = "week",
    unit_days: int = 1,
    survival_decimals: int = 9,
    logstep_decimals: int = 12,
) -> DataFrame:
    """Kaplan-Meier survival / churn curve per cohort: the classic-analytics
    face beside
    :func:`cohort_retention` — instead of "how many came back in
    period k", the KM estimator answers "what fraction of the cohort
    SURVIVES past duration t", correctly crediting users the
    observation window cannot have seen churn yet (right-censoring),
    which a naive retention ratio silently undercounts.

    Definitions (all exact integer day arithmetic):

    - a user's LIFETIME runs from their first event day to their last
      event day; ``duration t = datediff(last, first) div unit_days``;
    - the observation boundary is the corpus-wide max event day; a
      user whose maximum OBSERVABLE duration
      (``datediff(obs_end, first) div unit_days``) equals their
      duration is CENSORED at t (they may still be active); anyone
      else CHURNED at t (an event);
    - cohorts group by the ``granularity`` period (``"week"``
      Monday-aligned / ``"day"``) of the first event — the
      :func:`cohort_retention` convention.

    Estimator: ``S(t) = prod_{s<=t, d_s>0} (n_s - d_s) / n_s`` with
    ``d_s`` churns at s and ``n_s`` the at-risk count just before s
    (churns and censorings at s both count as at risk — the standard
    censor-after-event tie convention). Cross-engine exactness: the
    risk sets are exact bigints (cohort total minus a cumulative sum
    of earlier exits), each step's ``ln((n-d)/n)`` evaluates on ONE
    double division of exact integers and is quantized at
    ``logstep_decimals`` into an exact decimal, the cumulative
    product is the exp of the exact-decimal cumulative log sum
    (quantized once more at ``survival_decimals``) — the established
    single-call ln()/exp() discipline, so a DuckDB oracle replays the
    identical arithmetic. A step that extinguishes the cohort
    (``d == n``) pins ``survival = 0`` from there on (the log form
    cannot represent it).

    Returns one row per observed ``(cohort, t)`` step:
    ``(cohort, t, n_at_risk, churned, censored, survival)``.

    Scale shape: one user-keyed grouped MIN/MAX (the only
    events-sized shuffle, map-side combining), the global boundary
    via a 1-row attach-scalar broadcast, then every window runs over
    the REDUCED per-(cohort, step) table — cohorts x duration
    buckets, dimension-sized by construction (the RFM
    reduced-aggregate discipline)."""
    from pyspark.sql import Window

    users = user_lifetimes(
        df, user_col=user_col, ts_col=ts_col,
        granularity=granularity, unit_days=unit_days,
    )
    steps = users.groupBy("cohort", "t").agg(
        F.sum("churned").cast("bigint").alias("churned"),
        F.sum(1 - F.col("churned")).cast("bigint").alias("censored"),
    )
    wc = Window.partitionBy("cohort")
    wt = Window.partitionBy("cohort").orderBy("t")
    wrun = wt.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    n_at_risk = (
        F.sum(F.col("churned") + F.col("censored")).over(wc)
        - F.coalesce(
            F.sum(F.col("churned") + F.col("censored")).over(
                wt.rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        )
    ).cast("bigint")
    stepped = steps.withColumn("n_at_risk", n_at_risk).withColumn(
        "_logstep",
        F.when(
            (F.col("churned") > 0) & (F.col("churned") < F.col("n_at_risk")),
            F.round(
                F.log(
                    (F.col("n_at_risk") - F.col("churned")).cast("double")
                    / F.col("n_at_risk").cast("double")
                ),
                logstep_decimals,
            ),
        ).otherwise(F.lit(0.0))
        .cast(f"decimal(24,{logstep_decimals})"),
    ).withColumn(
        "_extinct",
        F.max(
            F.when(F.col("churned") == F.col("n_at_risk"), 1).otherwise(0)
        ).over(wrun),
    )
    return stepped.select(
        "cohort",
        "t",
        "n_at_risk",
        "churned",
        "censored",
        F.when(F.col("_extinct") == 1, F.lit(0.0))
        .otherwise(
            F.round(
                F.exp(F.sum("_logstep").over(wrun).cast("double")),
                survival_decimals,
            )
        )
        .alias("survival"),
    )


def logrank(
    lifetimes: DataFrame,
    group_col: str = "cohort",
    t_col: str = "t",
    churned_col: str = "churned",
    term_decimals: int = 12,
    stat_decimals: int = 6,
) -> DataFrame:
    """Log-rank (Mantel-Cox) test per group vs the pooled rest
    the question the
    Kaplan-Meier curve alone cannot answer — do this cohort's
    survival times DIFFER from everyone else's, or is the gap chance?
    The every-churn-A/B readout ("did the onboarding change actually
    reduce churn?"): for each group, observed churns are compared
    against the churns EXPECTED if the group shared the pooled hazard,
    accumulated over every pooled churn time.

    Input is one row per subject — ``(group, t, churned)`` with
    ``churned`` 1 for an observed event at ``t`` and 0 for
    right-censoring at ``t`` (:func:`user_lifetimes` derives exactly
    this from an event stream). Ties follow the standard discrete
    convention: censorings at ``t`` stay at risk THROUGH ``t`` (the
    censor-after-event tie rule :func:`kaplan_meier` uses).

    Per pooled churn time ``t`` with ``d_t`` total churns, ``n_t``
    total at risk, and ``n_{1t}`` / ``d_{1t}`` the group's at-risk /
    churned counts (``n_2 = n_t - n_1``):

    - expectation ``E_1t = d_t * n_1t / n_t`` (hypergeometric mean),
    - variance ``V_1t = d_t*n_1t*n_2t*(n_t-d_t) / (n_t^2*(n_t-1))``
      (0 when ``n_t = 1``),
    - statistic ``chi2 = (sum_t (d_1t - E_1t))^2 / sum_t V_1t``,
      df = 1.

    Cross-engine exactness (the q_mann_whitney / PSI discipline):
    every count is an exact bigint; each term's numerator and
    denominator are exact DECIMAL(38,0) products (n^4 fits through
    ~1e9 subjects at risk — past the int64 envelope the bigint form
    would wrap); each term is ONE double division quantized at
    ``term_decimals`` into exact decimal; the sums are exact decimal
    sums; the statistic is one double division of the two quantized
    sums, rounded at ``stat_decimals``. The significance class
    compares the ROUNDED statistic against the df=1 chi-square
    critical values (3.841459 at 0.05, 6.634897 at 0.01), so both
    engines classify identically.

    Returns one row per group: ``(group, n_subjects, observed,
    expected, variance, chi2, p_class)`` — ``chi2`` NULL (p_class
    ``'undefined'``) when the variance sum is 0 (a single group, or
    no churn anywhere). With exactly two groups both rows carry the
    same statistic (the test is symmetric); with k groups each row is
    that group's 1-df group-vs-rest contrast — the pairwise drill-down
    a k-sample omnibus would send you to anyway.

    Scale shape: one subject-keyed grouped count (the only
    subject-sized shuffle — and the input is usually already the
    REDUCED per-user lifetime table), then everything runs over
    (groups x distinct churn times) — dimension-sized by
    construction. The at-risk grid is a broadcast HASH equi-join on a
    derived constant key (the attach-scalar trick, many-row form):
    cartesian by value, but dims x dims sized, and planned as
    BroadcastHashJoin so no nested-loop shape appears. Per-group
    cumulative windows partition by group; the pooled totals window
    partitions by time — never an unpartitioned window."""
    from pyspark.sql import Window

    g, t = "_g", "_t"
    subj = lifetimes.select(
        F.col(group_col).alias(g),
        F.col(t_col).cast("bigint").alias(t),
        F.col(churned_col).cast("int").alias("_churn"),
    ).filter(F.col(g).isNotNull() & F.col(t).isNotNull())
    # per-(group, time) exit steps: d churns, x total exits
    steps = subj.groupBy(g, t).agg(
        F.sum("_churn").cast("bigint").alias("_d"),
        F.count(F.lit(1)).cast("bigint").alias("_x"),
    )
    # pooled churn times with their total churn counts
    churn_times = (
        steps.groupBy(t)
        .agg(F.sum("_d").cast("bigint").alias("_d_all"))
        .filter(F.col("_d_all") > 0)
    )
    groups = steps.select(g).distinct()
    # groups x churn-times grid via a broadcast hash equi-join on a
    # derived constant (attach_scalar's key recipe — non-foldable on
    # both sides, so Catalyst keeps the hash join): every group needs
    # an at-risk count at every pooled churn time, including times
    # where the group itself had no exit
    one = lambda c: F.least(  # noqa: E731
        F.lit(1), F.greatest(F.lit(1), F.length(F.col(c).cast("string")))
    )
    grid = (
        groups.withColumn("_k", one(g))
        .join(
            F.broadcast(
                churn_times.select(t).withColumn("_k", one(t))
            ),
            "_k",
        )
        .drop("_k")
    )
    # union exit steps with grid markers; cumulative exits strictly
    # before t give the at-risk count (total exits per group = group
    # size, since every subject exits exactly once)
    rows = steps.select(
        g, t, "_d", "_x", F.lit(0).alias("_grid")
    ).unionByName(
        grid.select(
            g, t,
            F.lit(0).cast("bigint").alias("_d"),
            F.lit(0).cast("bigint").alias("_x"),
            F.lit(1).alias("_grid"),
        )
    ).groupBy(g, t).agg(
        F.sum("_d").cast("bigint").alias("_d"),
        F.sum("_x").cast("bigint").alias("_x"),
        F.max("_grid").alias("_grid"),
    )
    wg = Window.partitionBy(g)
    wcum = (
        Window.partitionBy(g)
        .orderBy(t)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    at_risk = rows.select(
        g, t, "_d", "_grid",
        (
            F.sum("_x").over(wg)
            - F.coalesce(F.sum("_x").over(wcum), F.lit(0))
        ).cast("bigint").alias("_n1"),
        F.sum("_x").over(wg).cast("bigint").alias("_n_g"),
    ).filter(F.col("_grid") == 1)
    # pooled totals per churn time: every group has a grid row at
    # every pooled churn time, so a time-partitioned window sum of
    # the per-group at-risk counts IS the pooled at-risk count
    wt = Window.partitionBy(t)
    pooled = at_risk.join(F.broadcast(churn_times), t).select(
        g, t, "_d", "_n1", "_n_g", "_d_all",
        F.sum("_n1").over(wt).cast("bigint").alias("_n_all"),
    )
    d38 = "decimal(38,0)"
    e_term = F.round(
        (F.col("_d_all").cast(d38) * F.col("_n1")).cast("double")
        / F.col("_n_all").cast("double"),
        term_decimals,
    ).cast(f"decimal(38,{term_decimals})")
    n2 = F.col("_n_all") - F.col("_n1")
    v_term = F.when(
        F.col("_n_all") > 1,
        F.round(
            (
                F.col("_d_all").cast(d38)
                * F.col("_n1") * n2
                * (F.col("_n_all") - F.col("_d_all"))
            ).cast("double")
            / (
                F.col("_n_all").cast(d38)
                * F.col("_n_all") * (F.col("_n_all") - 1)
            ).cast("double"),
            term_decimals,
        ),
    ).otherwise(F.lit(0.0)).cast(f"decimal(38,{term_decimals})")
    # observed churns for the group at t come from the (pre-grid)
    # steps table folded into `rows`; _d survived the union-aggregate
    agg = pooled.groupBy(g).agg(
        F.max("_n_g").cast("bigint").alias("n_subjects"),
        F.sum("_d").cast("bigint").alias("observed"),
        F.sum(e_term).alias("_e"),
        F.sum(v_term).alias("_v"),
    )
    chi2 = F.round(
        (
            (F.col("observed").cast(f"decimal(38,{term_decimals})")
             - F.col("_e")).cast("double")
            * (F.col("observed").cast(f"decimal(38,{term_decimals})")
               - F.col("_e")).cast("double")
        )
        / F.col("_v").cast("double"),
        stat_decimals,
    )
    return agg.select(
        F.col(g).alias(group_col),
        "n_subjects",
        "observed",
        F.col("_e").cast("double").alias("expected"),
        F.col("_v").cast("double").alias("variance"),
        F.when(F.col("_v") > 0, chi2).alias("chi2"),
        F.when(F.col("_v") <= 0, F.lit("undefined"))
        .when(
            F.when(F.col("_v") > 0, chi2) >= F.lit(6.634897), "p<0.01"
        )
        .when(
            F.when(F.col("_v") > 0, chi2) >= F.lit(3.841459), "p<0.05"
        )
        .otherwise(F.lit("ns"))
        .alias("p_class"),
    )


def logrank_cohorts(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    granularity: str = "week",
    unit_days: int = 1,
    term_decimals: int = 12,
    stat_decimals: int = 6,
) -> DataFrame:
    """Log-rank test of each acquisition cohort's churn against the
    pooled rest, straight from the event stream: derives per-user
    lifetimes with :func:`user_lifetimes` (the same durations
    :func:`kaplan_meier` plots — first event day to last, censored at
    the observation boundary) and runs :func:`logrank` over them. The
    KM curve says WHAT each cohort's survival looks like; this says
    whether a cohort's curve actually differs (df=1 group-vs-rest
    contrast per cohort)."""
    return logrank(
        user_lifetimes(
            df, user_col=user_col, ts_col=ts_col,
            granularity=granularity, unit_days=unit_days,
        ),
        group_col="cohort",
        t_col="t",
        churned_col="churned",
        term_decimals=term_decimals,
        stat_decimals=stat_decimals,
    )


def nelson_aalen(
    lifetimes: DataFrame,
    group_col: str = "cohort",
    t_col: str = "t",
    churned_col: str = "churned",
    hazard_decimals: int = 12,
    survival_decimals: int = 9,
) -> DataFrame:
    """Nelson-Aalen cumulative hazard per group: the survival family's third
    face.
    :func:`kaplan_meier` plots the survival curve, :func:`logrank`
    tests whether curves differ; the NA estimator answers "how much
    churn PRESSURE has accumulated by duration t" — the cumulative
    hazard ``H(t) = sum_{s<=t} d_s / n_s`` whose slope is the hazard
    rate dashboards watch for inflection (a flattening H means churn
    is slowing even while S keeps falling).

    Input is one row per subject — ``(group, t, churned)`` with
    ``churned`` 1 for an observed event at ``t``, 0 for
    right-censoring at ``t`` (:func:`user_lifetimes` derives exactly
    this from an event stream; censorings at ``t`` stay at risk
    THROUGH ``t`` — the same censor-after-event tie rule the whole
    family uses).

    Cross-engine exactness (the :func:`kaplan_meier` discipline with
    the ln() replaced by a plain ratio): risk sets are exact bigints
    (group total minus cumulative earlier exits), each step's
    ``d/n`` evaluates as ONE double division of exact integers
    quantized at ``hazard_decimals`` into exact decimal, and the
    cumulative hazard is the exact-decimal running sum — no
    transcendental anywhere in the sum. The Fleming-Harrington
    survival estimate ``exp(-H)`` (the NA-based S(t) that dominates
    KM in small risk sets) is the single exp() call on the
    exact-decimal sum, rounded at ``survival_decimals`` — the
    established one-call posture, and its value is <= 1 so the
    quantization sits far above double ulp.

    Returns one row per observed ``(group, t)`` exit step:
    ``(group, t, n_at_risk, churned, censored, cum_hazard,
    fh_survival)`` — ``cum_hazard`` a double cast of the exact
    decimal sum. Steps with no churn carry the running H unchanged
    (hazard term 0), mirroring the KM step table's row universe so
    the two curves join row-for-row.

    Scale shape: identical to :func:`kaplan_meier` — the input is
    the REDUCED per-subject lifetime table, one (group, t)-keyed
    grouped count, then every window runs over groups x duration
    steps (dimension-sized); windows always partition by group.

    Reference: Nelson (1972) / Aalen (1978); the estimator tables in
    any survival text. The reference repo (main.rs) has no survival
    surface — this extends the mandated analytics family.
    """
    from pyspark.sql import Window

    g, t = "_g", "_t"
    subj = lifetimes.select(
        F.col(group_col).alias(g),
        F.col(t_col).cast("bigint").alias(t),
        F.col(churned_col).cast("int").alias("_churn"),
    ).filter(F.col(g).isNotNull() & F.col(t).isNotNull())
    steps = subj.groupBy(g, t).agg(
        F.sum("_churn").cast("bigint").alias("churned"),
        F.sum(1 - F.col("_churn")).cast("bigint").alias("censored"),
    )
    wg = Window.partitionBy(g)
    wt = Window.partitionBy(g).orderBy(t)
    wrun = wt.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    n_at_risk = (
        F.sum(F.col("churned") + F.col("censored")).over(wg)
        - F.coalesce(
            F.sum(F.col("churned") + F.col("censored")).over(
                wt.rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        )
    ).cast("bigint")
    stepped = steps.withColumn("n_at_risk", n_at_risk).withColumn(
        "_hstep",
        F.when(
            F.col("churned") > 0,
            F.round(
                F.col("churned").cast("double")
                / F.col("n_at_risk").cast("double"),
                hazard_decimals,
            ),
        ).otherwise(F.lit(0.0))
        .cast(f"decimal(24,{hazard_decimals})"),
    )
    cum = F.sum("_hstep").over(wrun)
    return stepped.select(
        F.col(g).alias(group_col),
        F.col(t).alias(t_col),
        "n_at_risk",
        "churned",
        "censored",
        cum.cast("double").alias("cum_hazard"),
        F.round(
            F.exp(-cum.cast("double")), survival_decimals
        ).alias("fh_survival"),
    )


def nelson_aalen_cohorts(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    granularity: str = "week",
    unit_days: int = 1,
    hazard_decimals: int = 12,
    survival_decimals: int = 9,
) -> DataFrame:
    """Nelson-Aalen cumulative hazard per acquisition cohort straight
    from an event stream: derives per-user lifetimes with
    :func:`user_lifetimes` (the same durations :func:`kaplan_meier`
    plots and :func:`logrank_cohorts` tests) and runs
    :func:`nelson_aalen` over them."""
    return nelson_aalen(
        user_lifetimes(
            df, user_col=user_col, ts_col=ts_col,
            granularity=granularity, unit_days=unit_days,
        ),
        group_col="cohort",
        t_col="t",
        churned_col="churned",
        hazard_decimals=hazard_decimals,
        survival_decimals=survival_decimals,
    )


def rmst(
    km_steps: DataFrame,
    horizon: int,
    group_col: str = "cohort",
    t_col: str = "t",
    survival_col: str = "survival",
    survival_decimals: int = 9,
) -> DataFrame:
    """Restricted mean survival time to ``horizon`` — the area under
    the Kaplan-Meier step curve on ``[0, horizon]``: the single number churn
    dashboards
    actually report ("average retained days by day 90"), robust where
    the unrestricted mean is undefined under censoring (Royston &
    Parmar 2013). Input is the step table :func:`kaplan_meier`
    already emits — one row per observed ``(group, t)`` exit step
    with the POST-step survival value; this integrates it, it never
    re-derives it.

    Semantics: S is right-continuous — the segment ``[t_i, t_{i+1})``
    carries ``S(t_i)`` (the value after the events at ``t_i``), and
    ``S = 1`` on ``[0, t_first)``. Steps at ``t >= horizon``
    contribute nothing; the final observed step extends to the
    horizon. A group whose first step lies beyond the horizon scores
    exactly ``horizon`` (no observed exits inside the window — full
    retention as far as the data can see; the honest answer, not a
    NULL).

    Cross-engine exactness: widths are exact integers
    (``min(next_t, horizon) - t``, integer duration units, cast
    ``decimal(10,0)``), heights are the KM survival values
    re-quantized into ``decimal(12, survival_decimals)`` (the curve
    rounded them at ``survival_decimals`` already, so the double ->
    decimal cast is the identity both engines perform identically),
    every width x height product lands in
    ``decimal(23, survival_decimals)`` — NARROW operand types on
    purpose, so the product precision (12+10+1) stays far under the
    38-digit cap and Spark never engages precision-loss truncation —
    and the running sum is exact decimal. The single output cast to
    double is deterministic. No division, no transcendental — pure
    decimal area sums.

    Returns one row per group: ``(group, horizon, n_subjects,
    rmst)`` — ``rmst`` in the same duration units as ``t``.

    Scale shape: one lead() window and one grouped sum over the
    ALREADY-REDUCED groups x duration-steps table — dimension-sized
    end to end; the event-stream shuffle happened inside
    :func:`kaplan_meier`.
    """
    from pyspark.sql import Window

    if horizon < 1:
        raise ValueError("horizon must be >= 1 duration unit")
    h = F.lit(int(horizon)).cast("bigint")
    dec = f"decimal(12,{survival_decimals})"
    acc = f"decimal(23,{survival_decimals})"
    stepped = km_steps.select(
        F.col(group_col).alias("_g"),
        F.col(t_col).cast("bigint").alias("_t"),
        F.col(survival_col).cast(dec).alias("_s"),
        F.col("churned").cast("bigint").alias("_d"),
        F.col("censored").cast("bigint").alias("_c"),
    ).select(
        "_g", "_t", "_s", "_d", "_c",
        F.coalesce(
            F.lead("_t").over(
                Window.partitionBy("_g").orderBy("_t")
            ),
            h,
        ).alias("_next"),
        F.row_number().over(
            Window.partitionBy("_g").orderBy("_t")
        ).alias("_rn"),
    )
    seg = F.greatest(
        F.lit(0).cast("bigint"),
        F.least(F.col("_next"), h) - F.least(F.col("_t"), h),
    )
    head = F.when(
        F.col("_rn") == 1, F.least(F.col("_t"), h)
    ).otherwise(F.lit(0)).cast("bigint")
    return (
        stepped.groupBy(F.col("_g").alias(group_col))
        .agg(
            F.sum(F.col("_d") + F.col("_c"))
            .cast("bigint").alias("n_subjects"),
            F.sum(
                head.cast(acc)
                + (F.col("_s") * seg.cast("decimal(10,0)")).cast(acc)
            ).alias("_area"),
        )
        .select(
            group_col,
            F.lit(int(horizon)).cast("bigint").alias("horizon"),
            "n_subjects",
            F.col("_area").cast("double").alias("rmst"),
        )
    )


def logrank_omnibus(
    lifetimes: DataFrame,
    group_col: str = "cohort",
    t_col: str = "t",
    churned_col: str = "churned",
    term_decimals: int = 12,
    stat_decimals: int = 6,
) -> DataFrame:
    """k-sample omnibus log-rank test: ONE statistic for "do these k
    survival curves
    differ anywhere", df = k - 1, beside :func:`logrank`'s per-group
    group-vs-rest drill-downs (which answer WHICH group differs once
    the omnibus fires).

    Statistic: the standard sum-of-squares approximation
    ``chi2 = sum_g (O_g - E_g)^2 / E_g`` over the same per-group
    observed/expected totals the Mantel-Cox machinery produces
    (``E_g = sum_t d_t * n_gt / n_t``). This is the approximation
    the survival texts teach for hand computation (Kleinbaum & Klein
    ch. 2); the full covariance-matrix quadratic form
    ``(O-E)' V^{-1} (O-E)`` needs a (k-1)x(k-1) matrix inversion,
    which is not a DataFrame shape — the approximation is
    CONSERVATIVE (never exceeds the exact statistic) and documented
    honestly here rather than silently substituted.

    Significance classing: the rounded statistic compares against
    df = k - 1 chi-square critical values — EXACT table constants for
    df <= 2 (3.841459 / 6.634897, 5.991465 / 9.210340), the
    Wilson-Hilferty cube approximation
    ``df * (1 - 2/(9 df) + z * sqrt(2/(9 df)))^3`` above (accurate to
    ~1% for df >= 3; both engines evaluate the identical closed form
    on the identical integers, so the CLASSIFICATION can never split
    cross-engine even where the approximation is inexact).

    Cross-engine exactness: O_g is an exact bigint and E_g an exact
    decimal sum of 12dp-quantized terms inside :func:`logrank`; its
    public ``expected`` column round-trips that decimal through
    double (exact for E below ~10^3 at 12dp; above that both engines
    still CAST THE SAME DECIMAL, so the doubles stay bit-identical
    and the comparison cannot split). Each group's
    ``(O-E)^2 / E`` term is double arithmetic on those identical
    doubles quantized at ``term_decimals`` into exact decimal; the
    statistic is the exact-decimal sum rounded at ``stat_decimals``.
    Groups with ``E = 0`` contribute 0 (E = 0 forces O = 0: a group
    never at risk at any churn time cannot have observed churns).

    Returns exactly ONE row: ``(k_groups, n_subjects, df, chi2,
    p_class)`` — ``chi2`` NULL and ``p_class`` ``'undefined'`` when
    fewer than two groups carry subjects (no contrast exists).

    Scale shape: :func:`logrank`'s dims-sized grid plan plus one
    k-row global aggregate — the single-partition step is k rows by
    construction.
    """
    per_group = logrank(
        lifetimes,
        group_col=group_col,
        t_col=t_col,
        churned_col=churned_col,
        term_decimals=term_decimals,
        stat_decimals=stat_decimals,
    )
    dec = f"decimal(38,{term_decimals})"
    e_dec = F.col("expected").cast(dec)
    term = F.when(
        e_dec > 0,
        F.round(
            (F.col("observed").cast("double") - F.col("expected"))
            * (F.col("observed").cast("double") - F.col("expected"))
            / F.col("expected"),
            term_decimals,
        ),
    ).otherwise(F.lit(0.0)).cast(dec)
    agg = per_group.agg(
        F.count(F.lit(1)).cast("bigint").alias("k_groups"),
        F.sum("n_subjects").cast("bigint").alias("n_subjects"),
        F.sum(term).alias("_ss"),
    )
    df_col = (F.col("k_groups") - 1).cast("bigint")
    chi2 = F.round(F.col("_ss").cast("double"), stat_decimals)
    # Wilson-Hilferty chi-square critical values for df >= 3; exact
    # table constants for df 1 and 2 where the cube approximation is
    # weakest (z: 1.644854 at 0.05, 2.326348 at 0.01 one-sided)
    def crit(z: float):
        d = df_col.cast("double")
        wh = d * F.pow(
            F.lit(1.0) - F.lit(2.0) / (F.lit(9.0) * d)
            + F.lit(z) * F.sqrt(F.lit(2.0) / (F.lit(9.0) * d)),
            F.lit(3.0),
        )
        return (
            F.when(df_col == 1, F.lit(3.841459) if z < 2 else F.lit(6.634897))
            .when(df_col == 2, F.lit(5.991465) if z < 2 else F.lit(9.210340))
            .otherwise(wh)
        )

    crit05 = crit(1.644854)
    crit01 = crit(2.326348)
    return agg.select(
        "k_groups",
        "n_subjects",
        F.when(F.col("k_groups") >= 2, df_col).alias("df"),
        F.when(F.col("k_groups") >= 2, chi2).alias("chi2"),
        F.when(F.col("k_groups") < 2, F.lit("undefined"))
        .when(chi2 >= crit01, F.lit("p<0.01"))
        .when(chi2 >= crit05, F.lit("p<0.05"))
        .otherwise(F.lit("ns"))
        .alias("p_class"),
    )
