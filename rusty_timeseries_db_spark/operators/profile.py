"""Column profiling — the ``DESCRIBE``-grade data-quality pass every
training-data pipeline runs before trusting a new drop of data (null
rates, cardinalities, numeric ranges per column). The reference has no
profiling surface; this is one of the pipeline-native additions.

Spark-first shape: ONE job over the table computes every column's
stats in a single aggregate —

- ``count(col)`` (non-null) and ``count(*)`` give the null rate;
- ``count(DISTINCT col)`` per column makes Catalyst plan an Expand
  (one duplicated stream per distinct-column) feeding a two-level
  hash aggregate: exact, single pass, but the expanded shuffle is
  ~#cols × data. That is the right default at test scale and for
  audits that must be exact;
- ``exact=False`` swaps every distinct count for HLL
  ``approx_count_distinct`` — no Expand, plain partial-agg pipeline,
  the 100 TB default (2% error on cardinalities is noise for
  profiling);
- numeric min/max go through a caller-supplied numeric VIEW of the
  column (e.g. ``unix_micros(ts)`` for timestamps) so the output
  schema stays fixed (DOUBLE) for every column type.

The wide 1-row aggregate is then exploded into one tidy row per column
(array-of-structs + explode — pure JVM, no shuffle after the agg).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .dedup import word_tokens


def profile_columns(
    df: DataFrame,
    cols: list[str],
    numeric: dict[str, Column] | None = None,
    exact: bool = True,
    percentiles: bool = False,
) -> DataFrame:
    """Profile ``cols`` of ``df`` in one aggregate job.

    ``numeric`` maps a column name to a numeric expression of it used
    for min/max (defaults to the column itself for numeric types; pass
    e.g. ``F.unix_micros("ts")`` for timestamps); columns absent from
    ``numeric`` and not castable stay NULL in min_num/max_num.

    ``percentiles=True`` (round 13 — VERDICT r12 next-round #6) adds
    ``q25/q50/q75`` via ``percentile_approx`` over the same numeric
    view, IN the same one-pass aggregate (no second scan; the sketch
    rides the partial-agg pipeline like every other entry). Approx by
    design — the quartile VALUES are engine-specific (DuckDB's
    SUMMARIZE quotes its own sketch too) so they are documented, not
    oracled; sanity bounds are pytest-pinned. Default off: the exact
    six-column profile row and its oracle are unchanged.

    Returns one row per profiled column:
    (column_name, n, n_nulls, n_distinct, min_num, max_num
    [, q25, q50, q75]).
    """
    if not cols:
        raise ValueError("cols must be non-empty")
    numeric = dict(numeric or {})
    distinct = (
        (lambda c: F.countDistinct(c))
        if exact
        else (lambda c: F.approx_count_distinct(c))
    )
    aggs = [F.count(F.lit(1)).alias("_n")]
    for c in cols:
        col = F.col(c)
        # try_cast, not cast: under ANSI mode (Spark 4's default) a
        # plain cast of a non-numeric string column would fail the
        # whole profile job; try_cast degrades to NULL min/max
        num = numeric.get(c, col).try_cast("double")
        aggs += [
            F.count(col).alias(f"_nn_{c}"),
            distinct(col).alias(f"_nd_{c}"),
            F.min(num).alias(f"_mn_{c}"),
            F.max(num).alias(f"_mx_{c}"),
        ]
        if percentiles:
            aggs.append(
                F.percentile_approx(
                    num, [0.25, 0.5, 0.75]
                ).alias(f"_pq_{c}")
            )
    one = df.agg(*aggs)
    rows = F.array(
        *[
            F.struct(
                F.lit(c).alias("column_name"),
                F.col("_n").alias("n"),
                (F.col("_n") - F.col(f"_nn_{c}")).alias("n_nulls"),
                F.col(f"_nd_{c}").alias("n_distinct"),
                F.col(f"_mn_{c}").alias("min_num"),
                F.col(f"_mx_{c}").alias("max_num"),
                *(
                    [
                        F.col(f"_pq_{c}")[0].alias("q25"),
                        F.col(f"_pq_{c}")[1].alias("q50"),
                        F.col(f"_pq_{c}")[2].alias("q75"),
                    ]
                    if percentiles
                    else []
                ),
            )
            for c in cols
        ]
    )
    return one.select(F.explode(rows).alias("p")).select("p.*")


def repetition_profile(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Gopher-style within-document repetition metrics — the filter
    family Rae et al. 2021 (§A1.1) apply before pre-training: documents
    dominated by a repeated phrase carry little signal and skew loss.
    One row per document with >= 2 words: ``(id_col, n_words,
    n_distinct_words, dup_word_frac, top_bigram, top_bigram_n,
    top_bigram_frac)``. ``top_bigram`` ties break (count DESC, bigram
    ASC) — a total order, so the output is engine-agnostic.

    Scale shape: the word/distinct-word counts are zero-shuffle HOFs
    (``size``/``array_distinct``) evaluated once per row; the bigram
    mode is explode → two-level hash aggregate keyed (doc, bigram)
    then (doc) — both combine map-side, and the doc-level stats ride
    the explode as grouped carries, so there is NO join back to the
    base table and the only exchanges are the two doc-keyed partial
    aggs. The within-doc argmax is ``min_by`` over a (-count, bigram)
    key, not a row_number window — the expanded (doc, bigram) stream
    collapses to one row per doc map-side (same pattern as
    clustering.assign_nearest)."""
    ws = word_tokens(text_col)
    base = df.select(
        F.col(id_col),
        ws.alias("_ws"),
        F.size(ws).alias("n_words"),
        F.size(F.array_distinct(ws)).alias("n_distinct_words"),
    ).filter(F.col("n_words") >= 2)
    # word_grams, not a slice-capturing transform: even though _ws is
    # projected above, CollapseProject can re-inline the tokenization
    # into the lambda, where a captured reference is re-evaluated per
    # element (see word_grams' docstring)
    from .dedup import word_grams

    bi = base.select(
        id_col,
        "n_words",
        "n_distinct_words",
        F.explode(word_grams(F.col("_ws"), 2)).alias("gram"),
    )
    cnt = bi.groupBy(id_col, "gram").agg(
        F.count(F.lit(1)).alias("n"),
        F.max("n_words").alias("n_words_c"),
        F.max("n_distinct_words").alias("n_distinct_c"),
    )
    top = cnt.groupBy(id_col).agg(
        F.min_by(
            F.struct(F.col("gram"), F.col("n")),
            F.struct((-F.col("n")).alias("neg"), F.col("gram")),
        ).alias("_top"),
        F.max("n_words_c").alias("n_words"),
        F.max("n_distinct_c").alias("n_distinct_words"),
    )
    nw = F.col("n_words").cast("double")
    return top.select(
        id_col,
        "n_words",
        "n_distinct_words",
        F.round(
            F.lit(1.0) - F.col("n_distinct_words").cast("double") / nw, 6
        ).alias("dup_word_frac"),
        F.col("_top.gram").alias("top_bigram"),
        F.col("_top.n").alias("top_bigram_n"),
        F.round(F.col("_top.n").cast("double") / (nw - 1.0), 6).alias(
            "top_bigram_frac"
        ),
    )


def data_quality_report(
    df: DataFrame,
    rules: "list[dict]",
    refs: "dict[str, DataFrame] | None" = None,
) -> DataFrame:
    """Declarative data-quality assertion suite (round 12 — the
    expectations surface every warehouse runs before serving a
    table): evaluate ``rules`` against ``df`` and return one row per
    rule: ``(rule_id, rule, column, n_violations, n_checked,
    violation_frac)``. Supported rules (dicts):

    - ``{"rule": "not_null", "col": c}``
    - ``{"rule": "in_range", "col": c, "lo": x, "hi": y}`` (NULL
      passes — pair with not_null to reject)
    - ``{"rule": "in_set", "col": c, "values": [...]}``
    - ``{"rule": "matches", "col": c, "pattern": regex}``
    - ``{"rule": "unique", "cols": [c, ...]}``
    - ``{"rule": "ref_integrity", "col": c, "ref": name,
      "ref_col": rc}`` — every non-NULL value exists in
      ``refs[name]``'s ``rc`` column

    Scale shape: every ROW-LOCAL rule (not_null / in_range / in_set /
    matches) compiles to one conditional SUM in a SINGLE wide
    aggregate — the whole rule set costs ONE scan of the table, the
    same one-pass trick :func:`profile_columns` uses. ``unique`` is
    one groupBy on its key (map-side combine collapses the
    duplicate-free bulk); ``ref_integrity`` is a LEFT ANTI join
    against the (dimension-sized, broadcast) reference's distinct
    keys. Results union as 1-row frames — driver-side cost is
    O(#rules)."""
    if not rules:
        raise ValueError("rules must be non-empty")
    refs = refs or {}
    row_local: list[tuple[int, dict, Column]] = []
    heavy: list[tuple[int, dict]] = []
    for i, r in enumerate(rules):
        kind = r["rule"]
        if kind == "not_null":
            bad = F.col(r["col"]).isNull()
        elif kind == "in_range":
            c = F.col(r["col"])
            bad = c.isNotNull() & (
                (c < F.lit(r["lo"])) | (c > F.lit(r["hi"]))
            )
        elif kind == "in_set":
            c = F.col(r["col"])
            bad = c.isNotNull() & ~c.isin(*r["values"])
        elif kind == "matches":
            c = F.col(r["col"])
            bad = c.isNotNull() & ~c.rlike(r["pattern"])
        elif kind in ("unique", "ref_integrity"):
            heavy.append((i, r))
            continue
        else:
            raise ValueError(f"unknown rule: {kind!r}")
        row_local.append((i, r, bad))

    parts: list[DataFrame] = []
    if row_local:
        wide = df.agg(
            F.count(F.lit(1)).alias("_n"),
            *[
                F.sum(F.when(bad, 1).otherwise(0)).alias(f"_v{i}")
                for i, _, bad in row_local
            ],
        )
        for i, r, _ in row_local:
            parts.append(
                wide.select(
                    F.lit(i).cast("bigint").alias("rule_id"),
                    F.lit(r["rule"]).alias("rule"),
                    F.lit(r["col"]).alias("column"),
                    F.col(f"_v{i}").cast("bigint").alias("n_violations"),
                    F.col("_n").cast("bigint").alias("n_checked"),
                )
            )
    for i, r in heavy:
        if r["rule"] == "unique":
            cols = list(r["cols"])
            grouped = df.groupBy(*cols).agg(
                F.count(F.lit(1)).alias("_c")
            )
            parts.append(
                grouped.agg(
                    F.lit(i).cast("bigint").alias("rule_id"),
                    F.lit("unique").alias("rule"),
                    F.lit(",".join(cols)).alias("column"),
                    # violations = surplus rows beyond one per key
                    F.coalesce(
                        F.sum(F.col("_c") - 1), F.lit(0)
                    ).cast("bigint").alias("n_violations"),
                    F.coalesce(F.sum("_c"), F.lit(0))
                    .cast("bigint").alias("n_checked"),
                )
            )
        else:
            ref = refs[r["ref"]]
            missing = (
                df.filter(F.col(r["col"]).isNotNull())
                .join(
                    F.broadcast(
                        ref.select(
                            F.col(r["ref_col"]).alias(r["col"])
                        ).distinct()
                    ),
                    r["col"],
                    "left_anti",
                )
            )
            total = df.filter(F.col(r["col"]).isNotNull())
            # attach_scalar, not crossJoin: two 1-row aggregates glued
            # by a constant-key BROADCAST equi-join so no
            # nested-loop/cartesian node appears in audited plans
            from ..queries import attach_scalar

            parts.append(
                attach_scalar(
                    missing.agg(
                        F.count(F.lit(1)).cast("bigint")
                        .alias("n_violations")
                    ),
                    total.agg(
                        F.count(F.lit(1)).cast("bigint").alias("n_checked")
                    ),
                ).select(
                    F.lit(i).cast("bigint").alias("rule_id"),
                    F.lit("ref_integrity").alias("rule"),
                    F.lit(r["col"]).alias("column"),
                    "n_violations",
                    "n_checked",
                )
            )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.select(
        "*",
        F.when(
            F.col("n_checked") > 0,
            F.round(
                F.col("n_violations").cast("double") / F.col("n_checked"), 6
            ),
        ).otherwise(F.lit(0.0)).alias("violation_frac"),
    )


def _joint_and_marginals(
    df: DataFrame,
    col_a: str,
    col_b: str,
    max_cells: int,
    what: str,
):
    """Shared scaffolding of the two-column dependence scans
    (chi_square_cells / pmi_cells — review round 14, deduplicated):
    the (a,b) joint counts, the marginals DERIVED from them (one data
    scan total), the 1-row grand total, and the eager dims-only
    ``max_cells`` guard. Returns (counts, ma, mb, total)."""
    counts = (
        df.groupBy(
            F.col(col_a).alias("_a"), F.col(col_b).alias("_b")
        ).agg(F.count(F.lit(1)).alias("_o"))
    )
    ma = counts.groupBy("_a").agg(F.sum("_o").alias("_na"))
    mb = counts.groupBy("_b").agg(F.sum("_o").alias("_nb"))
    # ONE guard job instead of two (round 20 — guide §1.2): both level
    # counts come from a single aggregate over the joint counts.
    # count(DISTINCT) skips NULL while groupBy emits a NULL group, so
    # a null-presence flag keeps n_a/n_b exactly ma.count()/mb.count().
    # max() over zero joint-count rows (empty input) is NULL, so the
    # flag coalesces to 0 and an empty input has 0 x 0 cells
    null_grp = lambda c: F.coalesce(  # noqa: E731
        F.max(F.when(F.col(c).isNull(), 1).otherwise(0)), F.lit(0)
    )
    dims = counts.agg(
        (F.countDistinct("_a") + null_grp("_a")).alias("_ka"),
        (F.countDistinct("_b") + null_grp("_b")).alias("_kb"),
    ).collect()[0]
    n_a, n_b = int(dims["_ka"]), int(dims["_kb"])
    if n_a * n_b > max_cells:
        raise ValueError(
            f"{n_a} x {n_b} cells exceed max_cells={max_cells} — "
            f"{what} over that many levels is a modeling error; "
            "bucket the columns first"
        )
    total = counts.agg(F.sum("_o").alias("_n"))
    return counts, ma, mb, total


def chi_square_cells(
    df: DataFrame,
    col_a: str,
    col_b: str,
    max_cells: int = 10_000,
) -> DataFrame:
    """Chi-square independence scan over two CATEGORICAL columns
    (round 13) — the dependence check a data-quality pass runs before
    trusting a stratification or a supposedly-independent feature
    pair: one row per contingency cell ``(a_value, b_value, observed,
    expected_r6, chi2_term_r9)`` including ZERO-observed cells (their
    ``e`` still contributes), so ``sum(chi2_term_r9)`` is the full
    chi-square statistic with ``(|A|-1)(|B|-1)`` degrees of freedom.

    Determinism discipline (q_unigram_surprisal's): every per-cell
    quantity is a RATIONAL of exact counts — ``e = n_a*n_b/N``,
    ``(o-e)^2/e`` — computed with identical IEEE arithmetic on every
    engine and rounded per cell (6/9 dp) BEFORE any cross-cell
    aggregation, so downstream sums are order-independent.

    Scale shape: one (a,b)-keyed count aggregate + two marginal
    aggregates (each map-side combining), then the FULL grid =
    distinct(a) × distinct(b) — an intentional cartesian of two
    DIMENSION-sized value sets, guarded by ``max_cells`` (chi-square
    over more cells than that is a modeling error, not a profile) —
    left-joined to the observed counts. NULL categories participate
    as their own level (NULL-safe grouping)."""
    counts, ma, mb, total = _joint_and_marginals(
        df, col_a, col_b, max_cells, "chi-square"
    )
    from ..queries import attach_scalar

    # distinct alias names: ma/mb/counts share lineage, and a join
    # condition on same-named columns from overlapping lineages is
    # ambiguous to the analyzer
    grid = ma.select(F.col("_a").alias("_ga"), "_na").crossJoin(
        mb.select(F.col("_b").alias("_gb"), "_nb")
    )
    obs = counts.select(
        F.col("_a").alias("_ca"), F.col("_b").alias("_cb"),
        F.col("_o").alias("_co"),
    )
    cells = (
        grid.join(
            obs,
            F.col("_ga").eqNullSafe(F.col("_ca"))
            & F.col("_gb").eqNullSafe(F.col("_cb")),
            "left",
        )
        .select(
            F.col("_ga").alias("_a"),
            F.col("_gb").alias("_b"),
            "_na", "_nb",
            F.coalesce(F.col("_co"), F.lit(0)).alias("_o"),
        )
    )
    e = (
        F.col("_na").cast("double")
        * F.col("_nb").cast("double")
        / F.col("_n").cast("double")
    )
    o = F.col("_o").cast("double")
    return attach_scalar(cells, total).select(
        F.col("_a").alias("a_value"),
        F.col("_b").alias("b_value"),
        F.col("_o").cast("bigint").alias("observed"),
        F.round(e, 6).alias("expected_r6"),
        F.round((o - e) * (o - e) / e, 9).alias("chi2_term_r9"),
    )


def char_entropy(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document character-level Shannon entropy (round 14) — the
    classic gibberish/repetition quality signal: natural prose sits
    around 4-4.5 bits/char, a run of one repeated character reads
    ~0 bits, base64/hex blobs read high with a flat distribution.
    Complements :func:`repetition_profile` (word/bigram level) at the
    character level.

    Returns ``(id_col, n_chars, entropy_bits)`` with one row per
    input row; empty/NULL text reads ``(0, 0.0)``. Computed from
    EXACT integer character counts via the algebraic form
    ``H = log2(n) - (Σ c·log2 c) / n`` — the only floats are the
    final log2/divide, rounded at 6 dp on both engines (the standard
    float discipline; the sum has ≤ |alphabet| terms, so
    summation-order drift stays far under the rounding).

    Scale shape: O(total chars) explode (per-row ``transform`` over
    1-char substrings, JVM-side), then one (id, char)-keyed and one
    (id)-keyed hash aggregate, both map-side combining; no window, no
    skew hazard beyond ordinary id skew. Text is lowercased first so
    the signal tracks content, not capitalization style.
    """
    c = F.lower(F.coalesce(F.col(text_col), F.lit("")))
    # split-to-char-array, ONE O(n) pass — per-position substr would be
    # O(n²) per doc (UTF8String substr walks to the char offset; the
    # langid._trigrams lesson). split('') yields [""] for an empty
    # string, so filter zero-length elements out.
    chars = F.filter(F.split(c, ""), lambda ch: F.length(ch) > 0)
    counts = (
        df.select(F.col(id_col), F.explode(chars).alias("_ch"))
        .groupBy(id_col, "_ch")
        .agg(F.count(F.lit(1)).cast("bigint").alias("_c"))
    )
    per_doc = counts.groupBy(id_col).agg(
        F.sum("_c").alias("_n"),
        F.sum(F.col("_c").cast("double") * F.log2(F.col("_c").cast("double")))
        .alias("_clogc"),
    )
    ent = F.log2(F.col("_n").cast("double")) - F.col("_clogc") / F.col(
        "_n"
    ).cast("double")
    scored = per_doc.select(
        id_col,
        F.col("_n").cast("bigint").alias("n_chars"),
        F.round(ent, 6).alias("entropy_bits"),
    )
    return df.select(id_col).join(scored, id_col, "left").select(
        id_col,
        F.coalesce(F.col("n_chars"), F.lit(0).cast("bigint")).alias("n_chars"),
        F.coalesce(F.col("entropy_bits"), F.lit(0.0)).alias("entropy_bits"),
    )


def zipf_slope(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    top_n: int = 100,
) -> DataFrame:
    """Per-group Zipf rank-frequency slope (round 14) — the corpus-
    level naturalness signal: token frequencies of natural language
    follow a power law with log-log slope near -1 (Zipf's law), while
    template spam, boilerplate floods, and synthetic token soup bend
    the curve (flat head = near-uniform generator, cliff = tiny
    vocabulary). A filtering pipeline runs this per source/domain and
    quarantines outlier slopes before any per-document scoring.

    Method: exact per-(group, term) counts, rank within group by
    (count DESC, term ASC — total order, so ranking is deterministic
    cross-engine), keep the top ``top_n`` ranks, then OLS of
    ``ln(count)`` on ``ln(rank)``. Returns one row per group with
    ``>= 3`` ranked terms: ``(group, n_terms, zipf_slope, r2)``.

    Determinism discipline (q_unigram_surprisal's): ``ln()`` is the
    only transcendental; each ln is rounded at 9 dp and cast to
    DECIMAL(18,9) BEFORE any aggregation, so every downstream
    sufficient statistic (Σx, Σy, Σxy, Σx², Σy²) is EXACT decimal
    arithmetic — order-independent — and the only cross-engine floats
    are the final slope/r² divisions, rounded at 6 dp.

    Scale shape: one (group, term)-keyed count aggregate (map-side
    combining over the token explosion), then a window ranked within
    group — per-group row counts are vocabulary-sized, not
    corpus-sized, so the window partition is bounded by distinct
    terms per group; the top_n filter then caps the fit input at
    ``top_n`` rows per group before the final tiny grouped agg.
    """
    toks = F.filter(
        F.split(F.lower(F.coalesce(F.col(text_col), F.lit(""))), " "),
        lambda s: F.length(s) > 0,
    )
    counts = (
        df.select(F.col(group_col).alias("_g"), F.explode(toks).alias("_t"))
        .groupBy("_g", "_t")
        .agg(F.count(F.lit(1)).cast("bigint").alias("_c"))
    )
    w = Window.partitionBy("_g").orderBy(
        F.col("_c").desc(), F.col("_t").asc()
    )
    ranked = counts.withColumn("_r", F.row_number().over(w)).where(
        F.col("_r") <= top_n
    )
    xy = ranked.select(
        "_g",
        F.round(F.log(F.col("_r").cast("double")), 9)
        .cast("decimal(18,9)")
        .alias("_x"),
        F.round(F.log(F.col("_c").cast("double")), 9)
        .cast("decimal(18,9)")
        .alias("_y"),
    )
    s = xy.groupBy("_g").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_terms"),
        F.sum("_x").alias("_sx"),
        F.sum("_y").alias("_sy"),
        F.sum(F.col("_x") * F.col("_y")).alias("_sxy"),
        F.sum(F.col("_x") * F.col("_x")).alias("_sxx"),
        F.sum(F.col("_y") * F.col("_y")).alias("_syy"),
    )
    n = F.col("n_terms")
    num = (n * F.col("_sxy") - F.col("_sx") * F.col("_sy")).cast("double")
    den = (n * F.col("_sxx") - F.col("_sx") * F.col("_sx")).cast("double")
    deny = (n * F.col("_syy") - F.col("_sy") * F.col("_sy")).cast("double")
    # den > 0 always (>= 3 distinct ranks, so x varies), but a group
    # whose top-n counts are ALL equal has deny == 0 — r^2 is 0/0
    # there (the fit is exact AND contentless); NULL, not an ANSI
    # divide-by-zero abort, and the oracle spells the same CASE
    return (
        s.where(n >= 3)
        .select(
            F.col("_g").alias(group_col),
            "n_terms",
            F.round(num / den, 6).alias("zipf_slope"),
            F.when(
                deny != 0.0, F.round(num * num / (den * deny), 6)
            ).alias("r2"),
        )
    )


def winsorize(
    df: DataFrame,
    keys: list[str],
    value_col: str = "value",
    lower: float = 0.05,
    upper: float = 0.95,
) -> DataFrame:
    """Per-group winsorization (round 14): clip ``value_col`` to its
    group's [``lower``, ``upper``] percentile bounds — the standard
    robust pre-treatment before means/OLS when MAD flagging
    (q_outlier_mad) is too blunt to *remove* rows but tails would
    otherwise dominate the estimate.

    Bounds use exact PERCENTILE_DISC semantics (rank selection at
    ``ceil(p·n)``, floored at rank 1): each bound is an ACTUAL data
    value, so a 2-dp input stays exactly 2-dp after clipping — exact
    decimal aggregation downstream still works, and both engines pick
    the identical bound (ties in value share the value, so the picked
    VALUE needs no tiebreak). NULL values are EXCLUDED from the rank
    universe (they would otherwise sort first and shift every bound —
    review round 14) and pass through with ``<value_col>_w`` NULL; a
    group whose values are all NULL keeps its rows, bounds NULL.

    Returns the input plus ``p_lo`` / ``p_hi`` / ``<value_col>_w``.
    Scale shape: one ranked window + a conditional agg per group for
    the bounds (rows never leave their group's partition), then the
    per-group bounds join back — one row per group, broadcast-sized
    at any corpus scale.
    """
    if not 0.0 <= lower <= upper <= 1.0:
        raise ValueError("winsorize: need 0 <= lower <= upper <= 1")
    w = Window.partitionBy(*keys).orderBy(value_col)
    wc = Window.partitionBy(*keys)
    ranked = df.filter(F.col(value_col).isNotNull()).select(
        *keys,
        F.col(value_col),
        F.row_number().over(w).alias("_rn"),
        F.count(F.lit(1)).over(wc).alias("_n"),
    )

    def pick(p: float) -> Column:
        rank = F.greatest(
            F.ceil(F.lit(p) * F.col("_n")).cast("bigint"), F.lit(1)
        )
        return F.max(F.when(F.col("_rn") == rank, F.col(value_col)))

    bounds = ranked.groupBy(*keys).agg(
        pick(lower).alias("p_lo"), pick(upper).alias("p_hi")
    )
    # guard NULL values explicitly: Spark's greatest/least SKIP nulls
    # (greatest(NULL, p_lo) = p_lo), which would silently clip a NULL
    # value to the lower bound instead of passing it through
    clipped = F.when(
        F.col(value_col).isNotNull(),
        F.least(
            F.greatest(F.col(value_col), F.col("p_lo")), F.col("p_hi")
        ),
    )
    # LEFT join: rows of an all-NULL group (no bounds row) survive
    return df.join(F.broadcast(bounds), on=keys, how="left").withColumn(
        f"{value_col}_w", clipped
    )


def k_anonymity_report(
    df: DataFrame,
    quasi_cols: list[str],
    thresholds: list[int] = (2, 5, 10),
) -> DataFrame:
    """k-anonymity audit over a quasi-identifier tuple (round 14 —
    the privacy face of the data-quality suite): rows whose
    quasi-identifier equivalence class holds fewer than k records are
    re-identifiable at that k. Emits one row per threshold:
    ``(k, n_classes_below, n_rows_below, frac_rows_below)`` plus the
    dataset-level ``n_rows`` / ``n_classes`` — the numbers a release
    review actually asks for ("what fraction of rows sit in classes
    smaller than 5?").

    NULL quasi-values group as their own class (SQL GROUP BY
    semantics on both engines): NULL is a value an attacker can
    observe, so it joins classes rather than escaping the audit.

    Scale shape: ONE map-side-combining groupBy on the quasi tuple,
    then threshold aggregates over the (tiny) class-size table —
    every threshold reuses the same class counts, no second scan.
    Exact integer counts; the fraction is a ratio of exact integers
    rounded 6 dp (oracle-paired, q_k_anonymity).
    """
    ks = sorted({int(k) for k in thresholds})
    if not ks or ks[0] < 2:
        raise ValueError("k_anonymity_report: thresholds must be >= 2")
    classes = df.groupBy(*quasi_cols).agg(
        F.count(F.lit(1)).cast("long").alias("_sz")
    )
    rows = []
    aggs = [
        F.sum("_sz").cast("long").alias("n_rows"),
        F.count(F.lit(1)).cast("long").alias("n_classes"),
    ]
    for k in ks:
        aggs.append(
            F.count(F.when(F.col("_sz") < k, 1))
            .cast("long").alias(f"_cb_{k}")
        )
        aggs.append(
            F.coalesce(
                F.sum(F.when(F.col("_sz") < k, F.col("_sz"))), F.lit(0)
            ).cast("long").alias(f"_rb_{k}")
        )
    stats = classes.agg(*aggs)
    # one explode over per-threshold structs, not a |thresholds|-branch
    # union of selects: the class-size aggregate is computed exactly
    # once by construction (review round 14), not by hoping the
    # optimizer reuses the exchange
    rows_arr = F.array(
        *[
            F.struct(
                F.lit(k).cast("int").alias("k"),
                F.col(f"_cb_{k}").alias("n_classes_below"),
                F.col(f"_rb_{k}").alias("n_rows_below"),
                F.round(
                    F.col(f"_rb_{k}").cast("double")
                    / F.col("n_rows").cast("double"),
                    6,
                ).alias("frac_rows_below"),
                F.col("n_rows"),
                F.col("n_classes"),
            )
            for k in ks
        ]
    )
    return stats.select(F.explode(rows_arr).alias("r")).select("r.*")


def benford_profile(
    df: DataFrame,
    value_col: str = "value",
) -> DataFrame:
    """First-significant-digit distribution vs Benford's law (round
    14 — the forensic data-quality check for fabricated or truncated
    numeric feeds): per digit 1-9, the observed count/share and
    Benford's expected share log10(1 + 1/d), plus the per-digit
    chi-square contribution ((obs - exp)^2 / exp over counts) so the
    caller can sum a fit statistic.

    Digit extraction is TEXTUAL over the ``decimal(18,2)`` rendering
    (fixed notation on both engines — a raw double-to-string cast
    drifts into scientific notation on one engine and not the other),
    first ``[1-9]`` wins; zero/NULL values carry no significant digit
    and are excluded. Exact integer counts; shares/chi terms are
    ratios of exact integers (and 9 log10 constants) rounded 6 dp —
    oracle-paired (q_benford_profile).
    """
    digit = F.regexp_extract(
        F.abs(F.col(value_col).cast("decimal(18,2)")).cast("string"),
        "[1-9]",
        0,
    )
    counts = (
        df.select(digit.alias("digit"))
        .filter(F.col("digit") != "")
        .groupBy("digit")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    from ..queries import attach_scalar

    total = counts.agg(F.sum("n").cast("long").alias("_total"))
    expected = F.log10(1.0 + 1.0 / F.col("digit").cast("double"))
    obs_share = F.col("n").cast("double") / F.col("_total").cast("double")
    exp_n = expected * F.col("_total").cast("double")
    return attach_scalar(counts, total).select(
        F.col("digit").cast("int").alias("digit"),
        F.col("n"),
        F.round(obs_share, 6).alias("obs_share"),
        F.round(expected, 6).alias("benford_share"),
        F.round(
            (F.col("n").cast("double") - exp_n) * (
                F.col("n").cast("double") - exp_n
            ) / exp_n,
            6,
        ).alias("chi2_term"),
    )


def pmi_cells(
    df: DataFrame,
    col_a: str,
    col_b: str,
    max_cells: int = 10_000,
) -> DataFrame:
    """Pointwise mutual information per observed (a, b) cell — the
    information-theoretic sibling of :func:`chi_square_cells` (round
    14): chi-square answers "are the columns dependent AT ALL"; PMI
    says WHICH value pairs co-occur more (positive) or less
    (negative) than independence predicts, and summing the
    contribution column yields the columns' mutual information in
    bits — the association-mining / feature-redundancy readout.

    One row per OBSERVED cell (a zero cell has pmi -inf and zero MI
    contribution — it is omitted, unlike chi-square's grid, where
    zero cells still carry expected mass):

    - ``n_ab`` exact joint count;
    - ``pmi_bits`` = log2(n_ab * N / (n_a * n_b)), rounded 6 dp;
    - ``mi_contrib_r9`` = (n_ab/N) * pmi, rounded 9 dp — per-cell
      quantization BEFORE any cross-cell sum (the engine's float
      discipline), so sum(mi_contrib_r9) is order-independent.

    Scale shape: the same three map-side-combining aggregates as
    chi-square (joint + two marginals, marginals derived FROM the
    joint counts — one data scan total) joined back on the dimension
    keys; the ``max_cells`` guard bounds the dims-only work. NULL
    categories participate as their own level."""
    counts, ma, mb, total = _joint_and_marginals(
        df, col_a, col_b, max_cells, "PMI"
    )
    from ..queries import attach_scalar

    joined = (
        counts.join(
            ma.select(F.col("_a").alias("_ja"), "_na"),
            F.col("_a").eqNullSafe(F.col("_ja")),
        )
        .join(
            mb.select(F.col("_b").alias("_jb"), "_nb"),
            F.col("_b").eqNullSafe(F.col("_jb")),
        )
        .drop("_ja", "_jb")
    )
    o = F.col("_o").cast("double")
    n = F.col("_n").cast("double")
    pmi = F.log2(
        o * n / (F.col("_na").cast("double") * F.col("_nb").cast("double"))
    )
    return attach_scalar(joined, total).select(
        F.col("_a").alias("a_value"),
        F.col("_b").alias("b_value"),
        F.col("_o").cast("bigint").alias("n_ab"),
        F.round(pmi, 6).alias("pmi_bits"),
        F.round((o / n) * pmi, 9).alias("mi_contrib_r9"),
    )
