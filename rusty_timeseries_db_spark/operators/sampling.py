"""Deterministic sampling & dataset splitting — training-data pipeline
operators (SURVEY §2.3 family; the reference has no sampling surface).

Random sampling (``df.sample``/``TABLESAMPLE``) is seed- and
partitioning-dependent: re-runs, engine changes, or repartitions move
rows between splits, which silently leaks training data into eval
sets. At 100 TB the industry-standard fix is CONTENT-deterministic
assignment: hash a stable id, bucket the hash, assign by bucket range.
Properties that matter at scale:

- **pure map-side** — no shuffle, no driver state, no seed to ship;
  the filter pushes into the scan stage and composes with partition
  pruning;
- **stable under re-partitioning / incremental loads** — a document's
  split never changes when new data arrives (append-only pipelines can
  re-derive splits at any time);
- **engine-agnostic** — md5 is bit-identical everywhere (unlike
  xxhash64, which is Spark-specific), so every function here is
  oracle-checkable against DuckDB and reproducible by any downstream
  consumer of the data.

``salt`` decorrelates independent sampling decisions over the same ids
(e.g. a 10% eval sample drawn independently from the train/test split).
"""

from __future__ import annotations

from collections.abc import Mapping

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

#: bucket space for split assignment: 1e4 buckets → 0.01% granularity.
_SPLIT_BUCKETS = 10_000


def hash_key(col: Column, salt: str = "") -> Column:
    """The canonical sampling key: lowercase-hex md5 of
    ``salt || string(col)`` — deterministic, engine-agnostic, uniform."""
    return F.md5(F.concat(F.lit(salt), col.cast("string")))


def hash_bucket(col: Column, buckets: int, salt: str = "") -> Column:
    """Uniform bucket in [0, buckets) from the first 8 hex chars of the
    md5 key (32 bits — non-negative, so ``%`` matches every engine's
    modulo). JVM-side expression; no UDF, no shuffle."""
    return (
        F.conv(F.substring(hash_key(col, salt), 1, 8), 16, 10).cast("bigint")
        % F.lit(buckets)
    )


def deterministic_sample(
    df: DataFrame, id_col: str, fraction: float, salt: str = ""
) -> DataFrame:
    """Keep ``fraction`` of rows by id-hash bucket — same rows on every
    engine, every run, every partitioning. Map-side filter only."""
    if not 0.0 <= fraction <= 1.0:
        raise ValueError(f"fraction must be in [0, 1], got {fraction}")
    cut = int(round(fraction * _SPLIT_BUCKETS))
    return df.filter(
        hash_bucket(F.col(id_col), _SPLIT_BUCKETS, salt) < F.lit(cut)
    )


def hash_split(
    df: DataFrame,
    id_col: str,
    weights: Mapping[str, float] | None = None,
    salt: str = "split",
    out_col: str = "split",
) -> DataFrame:
    """Assign every row a split label by id-hash bucket range —
    the train/val/test assignment for a training pipeline.

    ``weights`` maps label → fraction (must sum to 1 within rounding;
    default 90/5/5 train/val/test). Assignment is per-id stable: new
    data never moves old rows between splits, and a given id lands in
    the same split on any engine or cluster layout.
    """
    if weights is None:
        weights = {"train": 0.90, "val": 0.05, "test": 0.05}
    if abs(sum(weights.values()) - 1.0) > 1e-9:
        raise ValueError(f"split weights must sum to 1: {dict(weights)}")
    b = hash_bucket(F.col(id_col), _SPLIT_BUCKETS, salt)
    expr = None
    hi = 0
    labels = list(weights.items())
    for label, w in labels[:-1]:
        hi += int(round(w * _SPLIT_BUCKETS))
        clause = b < F.lit(hi)
        expr = F.when(clause, label) if expr is None else expr.when(clause, label)
    last = labels[-1][0]
    expr = F.lit(last) if expr is None else expr.otherwise(last)
    return df.withColumn(out_col, expr)


def weighted_sample(
    df: DataFrame,
    domain_col: str,
    id_col: str,
    rates: Mapping[str, float],
    default_rate: float = 0.0,
    salt: str = "mix",
) -> DataFrame:
    """Per-domain deterministic sampling — the "data mixture" operator
    of a training pipeline (e.g. keep 100% of wiki, 25% of common-crawl,
    10% of everything else). Each domain gets an independent id-hash
    keep/drop decision at its own rate; rows from unlisted domains use
    ``default_rate``. Still a pure map-side filter (the rate lookup is a
    CASE chain on the domain column, the decision an md5-bucket
    comparison), so it composes with scan pushdown and never shuffles —
    the property that matters when the mixture is over 100 TB.
    """
    for d, r in rates.items():
        if not 0.0 <= r <= 1.0:
            raise ValueError(f"rate for {d!r} must be in [0, 1], got {r}")
    if not 0.0 <= default_rate <= 1.0:
        raise ValueError(f"default_rate must be in [0, 1], got {default_rate}")
    cut = None
    for d, r in rates.items():
        clause = F.col(domain_col) == F.lit(d)
        lit = F.lit(int(round(r * _SPLIT_BUCKETS)))
        cut = F.when(clause, lit) if cut is None else cut.when(clause, lit)
    default_lit = F.lit(int(round(default_rate * _SPLIT_BUCKETS)))
    cut = default_lit if cut is None else cut.otherwise(default_lit)
    return df.filter(hash_bucket(F.col(id_col), _SPLIT_BUCKETS, salt) < cut)


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    id_col: str,
    n_per_stratum: int,
    salt: str = "",
) -> DataFrame:
    """Deterministic ``n`` rows per stratum: rank ids inside each
    stratum by md5 order (a uniform deterministic shuffle) and keep the
    first ``n``. One shuffle on the stratum key; the md5 sort order is
    identical across engines so the selected set is oracle-checkable.
    Ties are impossible (md5 of distinct ids collides only
    cryptographically), but ``id_col`` is a formal tiebreaker so the
    order is total even with duplicate ids."""
    w = Window.partitionBy(strata_col).orderBy(
        hash_key(F.col(id_col), salt), F.col(id_col)
    )
    return (
        df.withColumn("_sample_rn", F.row_number().over(w))
        .filter(F.col("_sample_rn") <= n_per_stratum)
        .drop("_sample_rn")
    )


def dsir_weights(
    df: DataFrame,
    id_col: str,
    text_col: str,
    target_col: str,
    n_buckets: int = 1024,
    alpha: float = 1.0,
    weight_decimals: int = 6,
) -> DataFrame:
    """Data Selection with Importance Resampling (Xie et al. 2023,
    DSIR): score every document by how target-domain-like its hashed
    n-gram profile is — ``sum_f c_doc[f] * (ln p_target[f] - ln
    q_raw[f])`` over hashed-bigram feature buckets, the log importance
    weight the DSIR estimator resamples raw data by. ``target_col``
    names a boolean column the caller sets (e.g. ``source == 'wiki'``)
    splitting the corpus into the target sample and the raw pool; both
    bucket distributions are add-``alpha`` smoothed so unseen buckets
    stay finite. Returns ``(id, is_target, n_bigrams, dsir_weight)``
    for every document — downstream selection is "top-k raw docs by
    weight" or Gumbel-top-k resampling on it.

    Feature hashing is the engine-agnostic md5 bucket (`hash_bucket`'s
    recipe inlined on the bigram string), NOT xxhash64, so the whole
    pipeline is oracle-checkable cross-engine.

    Scale shape: three aggregates, no joins wider than ``n_buckets``
    rows. (1) per-(doc, bucket) counts — one shuffle with map-side
    combine (the explode never crosses the exchange un-combined);
    (2) the two bucket distributions — an ``n_buckets``-row aggregate
    (map-side combine again) that is then BROADCAST; (3) per-doc
    weight sums — one shuffle on the doc id. The log-ratio table is
    O(n_buckets) regardless of corpus size, which is the entire point
    of hashed features at 100 TB: the "model" travels to the data.
    The per-term products are rounded only at the end
    (``weight_decimals``) so the oracle's different summation order
    agrees to the printed precision.
    """
    from .dedup import word_grams, word_tokens

    toks = word_tokens(text_col)
    n = F.size(toks)
    grams = df.filter(n >= 2).select(
        F.col(id_col),
        F.col(target_col).alias("_is_t"),
        # word_grams keeps tokenization O(n) per doc (its docstring);
        # a captured-slice transform re-tokenizes once per bigram
        F.explode(word_grams(toks, 2)).alias("_gram"),
    ).select(
        id_col,
        "_is_t",
        (
            F.conv(F.substring(F.md5("_gram"), 1, 8), 16, 10).cast("bigint")
            % F.lit(n_buckets)
        ).alias("_b"),
    )
    doc_counts = grams.groupBy(id_col, "_is_t", "_b").agg(
        F.count(F.lit(1)).alias("_c")
    )
    buckets = doc_counts.groupBy("_b").agg(
        F.sum(F.when(F.col("_is_t"), F.col("_c")).otherwise(0)).alias("_ct"),
        F.sum(F.when(~F.col("_is_t"), F.col("_c")).otherwise(0)).alias("_cr"),
    )
    # corpus totals ride a constant-key broadcast equi-join (not a
    # crossJoin, which plans as a nested loop; not an unpartitioned
    # window, which drags every bucket row to one partition) — the key
    # derives 1 from a real column so Catalyst cannot fold it away and
    # re-plan the join as cartesian
    one = F.least(F.lit(1), F.greatest(F.lit(1), F.abs(F.col("_b")) + 1))
    totals = buckets.agg(
        F.sum("_ct").alias("_nt"), F.sum("_cr").alias("_nr"),
        F.least(F.lit(1), F.greatest(F.lit(1), F.count(F.lit(1)))).alias("_k"),
    )
    dist = (
        buckets.withColumn("_k", one.cast("long"))
        .join(F.broadcast(totals), "_k")
        .select(
            "_b",
            (
                F.log((F.col("_ct") + alpha) / (F.col("_nt") + alpha * n_buckets))
                - F.log((F.col("_cr") + alpha) / (F.col("_nr") + alpha * n_buckets))
            ).alias("_logratio"),
        )
    )
    weights = (
        doc_counts.join(F.broadcast(dist), "_b")
        .groupBy(id_col, "_is_t")
        .agg(
            F.sum("_c").alias("_n_bigrams"),
            F.sum(F.col("_c") * F.col("_logratio")).alias("_w"),
        )
    )
    return (
        df.select(id_col, F.col(target_col).alias("is_target"))
        .join(weights, id_col, "left")
        .select(
            id_col,
            "is_target",
            F.coalesce("_n_bigrams", F.lit(0)).cast("bigint").alias("n_bigrams"),
            F.round(F.coalesce("_w", F.lit(0.0)), weight_decimals).alias(
                "dsir_weight"
            ),
        )
    )


def dsir_select(
    weights: DataFrame,
    id_col: str,
    weight_col: str = "dsir_weight",
    k: int = 100,
    temperature: float = 1.0,
    seed: str = "dsir",
    key_decimals: int = 6,
) -> DataFrame:
    """The RESAMPLING half of DSIR: draw ``k`` documents without
    replacement with probability proportional to
    ``exp(weight / temperature)`` via the Gumbel-top-k trick — add an
    independent Gumbel to each log-weight and take the k largest keys
    (Gumbel-max argmax == categorical sampling; top-k == sampling
    without replacement). The Gumbel is DETERMINISTIC: uniform
    ``u = (md5_bucket(seed || id) + 0.5) / 2^32`` then
    ``g = -ln(-ln(u))`` — content-stable, partitioning-independent,
    and reproducible on any engine with md5 and ln, so the sampled
    SET (not just its distribution) is oracle-checkable. Returns
    ``(id, weight, sample_key)`` for the selected rows.

    ``temperature`` flattens (>1) or sharpens (<1) the implied
    distribution, the standard knob when raw importance weights are
    too peaked to give coverage.

    Scale shape: the key is a map-side expression; selection is
    ``ORDER BY key LIMIT k``, which Spark plans as
    TakeOrderedAndProject — per-partition top-k heaps then a k-row
    driver merge, never a global sort of the corpus.
    """
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(seed), F.col(id_col).cast("string"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("double")
        + 0.5
    ) / F.lit(float(2**32))
    key = F.col(weight_col) / F.lit(float(temperature)) - F.log(-F.log(u))
    return (
        weights.withColumn("_key", key)
        .orderBy(F.col("_key").desc(), F.col(id_col))
        .limit(k)
        .select(
            id_col,
            weight_col,
            F.round("_key", key_decimals).alias("sample_key"),
        )
    )


def temperature_sample(
    df: DataFrame,
    domain_col: str,
    id_col: str,
    alpha: float = 0.7,
    target_fraction: float = 0.5,
    salt: str = "temp",
) -> DataFrame:
    """Temperature-based mixture resampling (the mT5/multilingual
    recipe, Xue et al. 2021 §3.1): sample domains with probability
    ``p_d ∝ c_d^alpha`` — ``alpha < 1`` UPWEIGHTS small domains
    (low-resource languages, rare sources) relative to their natural
    share, ``alpha = 1`` keeps the natural mixture. The expected
    output size is ``target_fraction`` of the corpus; each domain's
    keep rate is ``min(1, n_target · p_d / c_d)`` (a head domain
    cannot be sampled above its own size).

    Unlike :func:`weighted_sample` the rates are not caller-supplied:
    they are computed IN the plan from the actual domain counts (one
    tiny groupBy + the constant-key broadcast of the `dsir_weights`
    pattern), so the operator composes lazily, stays correct when the
    corpus changes under it, and is oracle-checkable end-to-end. The
    keep/drop decision is the same content-stable md5 bucket as every
    sampler here — per-id deterministic, append-safe, engine-agnostic.

    Scale shape: one #domains-row aggregate broadcast back to a
    map-side filter. The data itself never shuffles.
    """
    if not 0.0 < target_fraction <= 1.0:
        raise ValueError(
            f"target_fraction must be in (0, 1], got {target_fraction}"
        )
    if alpha <= 0:
        raise ValueError(f"alpha must be positive, got {alpha}")
    counts = df.groupBy(domain_col).agg(F.count(F.lit(1)).alias("_c"))
    one = F.least(F.lit(1), F.greatest(F.lit(1), F.col("_c"))).cast("long")
    totals = counts.agg(
        F.sum(F.pow(F.col("_c").cast("double"), F.lit(float(alpha)))).alias("_z"),
        F.sum("_c").alias("_n"),
        F.least(F.lit(1), F.greatest(F.lit(1), F.count(F.lit(1))))
        .cast("long")
        .alias("_k"),
    )
    rates = (
        counts.withColumn("_k", one)
        .join(F.broadcast(totals), "_k")
        .select(
            domain_col,
            F.least(
                F.lit(1.0),
                F.lit(float(target_fraction))
                * F.col("_n").cast("double")
                * F.pow(F.col("_c").cast("double"), F.lit(float(alpha)))
                / (F.col("_z") * F.col("_c").cast("double")),
            ).alias("_rate"),
        )
    )
    bucket = hash_bucket(F.col(id_col), _SPLIT_BUCKETS, salt)
    return (
        df.join(F.broadcast(rates), domain_col)
        .filter(bucket < F.round(F.col("_rate") * _SPLIT_BUCKETS, 0))
        .drop("_rate")
    )


def token_budget_sample(
    df: DataFrame,
    budgets: Mapping[str, int],
    id_col: str = "doc_id",
    text_col: str = "text",
    domain_col: str = "source",
    default_budget: int | None = None,
    salt: str = "budget",
) -> DataFrame:
    """Per-domain TOKEN-budget selection: training mixtures
    are specified in tokens, not documents — "50 M tokens of code,
    10 M of forums" — so the selection unit must be the running token
    count. Per domain, documents are ordered by their deterministic
    md5 sampling key (uniform → an unbiased shuffle, stable across
    engines/runs/partitionings) and kept while the RUNNING token
    total, measured BEFORE the candidate document, is still under the
    domain's budget — i.e. the first document that crosses the line
    is kept (budgets are a floor-crossing, matching the "fill until
    you have enough" semantics; callers wanting a hard ceiling drop
    the last doc per domain). Domains missing from ``budgets`` use
    ``default_budget``; with ``default_budget=None`` they are
    excluded entirely.

    Scale shape: one ``size(word_tokens)`` map-side pass, ONE window
    (cumulative sum per domain, ordered by the hash key) on a
    domain-keyed shuffle, then a map-side filter — the same
    single-shuffle plan as every per-series cumulative analytic. At
    100 TB the window serializes per DOMAIN; mixtures have tens of
    domains with heavy rows, so salt the window into hash-key ranges
    and pre-aggregate per range if a single domain's doc list
    outgrows a reducer (same remedy as cosine_topk's
    salt_partitions).

    Returns the selected rows with ``n_tok`` and the pre-candidate
    running total ``tokens_before`` attached.
    """
    from .dedup import word_tokens

    budget_items = sorted(budgets.items())
    budget_col = None
    for dom, b in budget_items:
        cond = F.col(domain_col).eqNullSafe(F.lit(dom))
        budget_col = (
            F.when(cond, F.lit(int(b)))
            if budget_col is None
            else budget_col.when(cond, F.lit(int(b)))
        )
    if budget_col is None:
        budget_col = F.lit(default_budget)
    elif default_budget is not None:
        budget_col = budget_col.otherwise(F.lit(int(default_budget)))
    base = df.select(
        *df.columns,
        F.size(word_tokens(text_col)).cast("bigint").alias("n_tok"),
        budget_col.cast("bigint").alias("_budget"),
        hash_key(F.col(id_col), salt).alias("_hk"),
    ).filter(F.col("_budget").isNotNull())
    w = (
        Window.partitionBy(domain_col)
        .orderBy(F.col("_hk"), F.col(id_col))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    out = base.withColumn(
        "tokens_before", F.coalesce(F.sum("n_tok").over(w), F.lit(0))
    )
    return (
        out.filter(F.col("tokens_before") < F.col("_budget"))
        .drop("_budget", "_hk")
    )
