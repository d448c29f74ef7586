"""Model-based text-quality scoring: a pretrained LINEAR classifier
gate over hashed bag-of-n-grams features — the fastText-style quality
face (Joulin et al. 2016, "Bag of Tricks for Efficient Text
Classification") that CCNet/LLaMA-style pipelines run BESIDE the
heuristic family the engine already has (surprisal, repetition,
entropy, langid, Zipf/dispersion/KL).

The reference (main.rs) has no model-scoring surface at all; this is
part of the mandated LLM-data-pipeline extension. The design follows
the house discipline end-to-end so the gate is ORACLE-CHECKABLE
cross-engine, which no float-weight fastText binary could be:

- features are md5-hashed word unigrams + bigrams
  (``hash_bucket``'s recipe — engine-agnostic, unlike xxhash64);
- the "model" is a broadcast ``n_buckets``-row weight table with
  INTEGER micro-unit weights (the dsir_weights log-ratio-table
  shape: O(n_buckets) regardless of corpus size — the model travels
  to the data);
- the dot product is exact integer arithmetic; the only
  transcendental (one sigmoid per document) evaluates on a ratio of
  exact bigints and is quantized at ``score_decimals`` — the
  established single-call ln()/exp() posture (never in a
  many-summand path);
- the keep decision compares the QUANTIZED score, so both engines
  gate identically.

Scale shape: one explode → per-(doc, bucket) counts with map-side
combine → broadcast join against the weight table → one doc-keyed
integer aggregate. No join wider than ``n_buckets`` rows; no UDF.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession, functions as F

#: micro-unit scale for integer weights (1e6 = the graph family's
#: SCALE — a weight of 1.0 is 1_000_000 micro).
WEIGHT_SCALE = 1_000_000


def hashed_linear_weights(
    spark: SparkSession,
    n_buckets: int = 4096,
    salt: str = "qw",
    max_abs_micro: int = WEIGHT_SCALE,
) -> DataFrame:
    """A deterministic stand-in for a PRETRAINED weight table:
    ``(bucket, weight_micro)`` with ``weight_micro`` drawn
    engine-reproducibly from the md5 of ``salt || bucket`` into
    ``[-max_abs_micro, +max_abs_micro]``. Real deployments load their
    trained weights (any source that lands as this two-column frame);
    fixtures and the oracle derive THIS table identically in SQL, so
    the full gate hash-matches cross-engine. O(n_buckets) rows —
    generated distributed via ``spark.range``, broadcast at use."""
    return spark.range(n_buckets).select(
        F.col("id").alias("bucket"),
        (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit(salt), F.col("id").cast("string"))),
                    1, 8,
                ),
                16, 10,
            ).cast("bigint")
            % F.lit(2 * max_abs_micro + 1)
            - F.lit(max_abs_micro)
        ).cast("bigint").alias("weight_micro"),
    )


def quality_classifier_score(
    df: DataFrame,
    id_col: str,
    text_col: str,
    weights: DataFrame,
    n_buckets: int = 4096,
    bias_micro: int = 0,
    threshold: float = 0.5,
    score_decimals: int = 9,
    group_col: str | None = None,
) -> DataFrame:
    """Score every document with the linear quality gate and decide
    keep/drop: ``score = sigmoid(bias + mean_f w[f])`` over the
    document's hashed unigram+bigram feature multiset (fastText's
    mean-of-feature-embeddings collapsed to the 1-D classifier head),
    ``keep = score >= threshold`` on the QUANTIZED score.

    ``weights`` is the pretrained ``(bucket, weight_micro)`` table
    (:func:`hashed_linear_weights` for the deterministic stand-in);
    buckets absent from the table weigh 0. A document with no tokens
    has no features: its logit is the bias alone — scored, not
    dropped silently.

    Exactness contract: ``dot_micro = Σ_f c_f * w_micro[f]`` and
    ``n_feats`` are exact bigints (order-independent), the logit is
    ONE double division of exact integers
    (``(dot + bias*n) / (n * SCALE)``), and the sigmoid is quantized
    at ``score_decimals`` — so a DuckDB oracle replaying the same
    arithmetic hash-matches, and the keep boundary (a comparison on
    the quantized score) cannot split between engines.

    Returns ``(id_col, n_feats, quality_score, keep)``.

    ``group_col`` (the CCNet per-language heads): when the
    weight table came from ``train_quality_weights(group_col=...)``,
    pass the same column here — each document's features join against
    ITS group's head on ``(group, bucket)`` instead of the shared
    table. Groups with no head weigh 0 everywhere (the absent-bucket
    rule), so an unseen language scores at the bias.

    Scale: the explode never crosses an exchange un-combined
    (per-(doc[,group],bucket) counts aggregate map-side), the weight
    table BROADCASTS (n_groups x n_buckets rows — still model-sized),
    and the final per-doc sum is one id-keyed integer aggregate — the
    dsir_weights plan with the log-ratio table swapped for pretrained
    weights."""
    from .dedup import word_grams, word_tokens

    gcols = [group_col] if group_col else []
    toks = word_tokens(text_col)
    n = F.size(toks)
    feats = F.concat(
        toks,
        F.when(n >= 2, word_grams(toks, 2)).otherwise(
            F.array().cast("array<string>")
        ),
    )
    buckets = df.select(
        F.col(id_col),
        *gcols,
        F.explode(feats).alias("_feat"),
    ).select(
        id_col,
        *gcols,
        (
            F.conv(F.substring(F.md5("_feat"), 1, 8), 16, 10).cast("bigint")
            % F.lit(n_buckets)
        ).alias("bucket"),
    )
    counts = buckets.groupBy(id_col, *gcols, "bucket").agg(
        F.count(F.lit(1)).alias("_c")
    )
    dots = (
        counts.join(F.broadcast(weights), [*gcols, "bucket"], "left")
        .groupBy(id_col)
        .agg(
            F.sum("_c").cast("bigint").alias("_n_feats"),
            F.sum(
                F.col("_c") * F.coalesce("weight_micro", F.lit(0))
            ).cast("bigint").alias("_dot"),
        )
    )
    logit = F.when(
        F.col("n_feats") > 0,
        (
            F.col("_dot") + F.lit(int(bias_micro)) * F.col("n_feats")
        ).cast("double")
        / (F.col("n_feats") * F.lit(WEIGHT_SCALE)).cast("double"),
    ).otherwise(F.lit(float(bias_micro) / WEIGHT_SCALE))
    score = F.round(
        F.lit(1.0) / (F.lit(1.0) + F.exp(-logit)), score_decimals
    )
    return (
        df.select(id_col)
        .join(dots, id_col, "left")
        .select(
            id_col,
            F.coalesce("_n_feats", F.lit(0)).cast("bigint").alias("n_feats"),
            F.col("_dot"),
        )
        .select(
            id_col,
            "n_feats",
            score.alias("quality_score"),
        )
        .withColumn("keep", F.col("quality_score") >= F.lit(threshold))
    )


def train_quality_weights(
    df: DataFrame,
    text_col: str,
    label_col: str,
    n_buckets: int = 1024,
    alpha: float = 1.0,
    group_col: str | None = None,
) -> DataFrame:
    """Train the linear gate's weight table from a LABELED split —
    the Naive-Bayes log-odds initialization fastText-style pipelines
    use (CCNet trains its quality classifier on wiki-vs-crawl):
    ``weight[b] = ln p(b | positive) - ln p(b | negative)`` over the
    same md5-hashed unigram+bigram buckets the scorer reads,
    add-``alpha`` smoothed so unseen buckets carry the finite prior
    log-odds, materialized as the REUSABLE ``(bucket, weight_micro)``
    model :func:`quality_classifier_score` consumes. (This is exactly
    DSIR's bucket log-ratio — operators/sampling.py dsir_weights —
    re-materialized as a persistent model instead of folded into
    per-document importance weights, with the scorer's richer
    unigram+bigram featurization.)

    ``label_col`` names a boolean column: True rows are the positive
    (high-quality) sample, False rows the negative pool. Weights land
    in integer MICRO units — ``round(logratio * 1e6)`` — the single
    quantization both engines compute identically (one multiply of
    the shared double, one half-up round to an integer-valued double,
    exact below 2^53), so train→gate composes into an oracle-checkable
    end-to-end pipeline.

    ``group_col`` (the CCNet
    per-language classifier heads) trains one INDEPENDENT head per
    group value: counts, the full bucket spine, the smoothing totals,
    and the log-odds all carry the group key, so each group's weight
    table is exactly what the ungrouped form would have produced on
    that group's rows alone (pytest-pinned). The result gains a
    leading ``group_col`` column and :func:`quality_classifier_score`
    joins on ``(group, bucket)`` when given the same ``group_col`` —
    a slang-heavy bucket can gate positive for one language and
    negative for another, which a single global table cannot express.

    Scale shape: the dsir_weights plan — one explode with map-side
    combine into per-([group,] label, bucket) counts, then an
    O([n_groups x] n_buckets) aggregate joined against the full
    bucket spine (every bucket gets a row — absent buckets carry the
    prior log-odds, matching what the smoothed model says about
    never-seen features; the grouped spine is distinct-groups x
    ``spark.range`` via a broadcast hash equi-join on a derived
    constant key, never a nested loop). The result is model-sized,
    broadcast at scoring time."""
    from .dedup import word_grams, word_tokens

    toks = word_tokens(text_col)
    n = F.size(toks)
    feats = F.concat(
        toks,
        F.when(n >= 2, word_grams(toks, 2)).otherwise(
            F.array().cast("array<string>")
        ),
    )
    gcols = [group_col] if group_col else []
    counts = (
        df.select(
            *gcols,
            F.col(label_col).alias("_pos"), F.explode(feats).alias("_feat")
        )
        .select(
            *gcols,
            "_pos",
            (
                F.conv(F.substring(F.md5("_feat"), 1, 8), 16, 10)
                .cast("bigint") % F.lit(n_buckets)
            ).alias("bucket"),
        )
        .groupBy(*gcols, "bucket")
        .agg(
            F.sum(F.when(F.col("_pos"), 1).otherwise(0))
            .cast("bigint").alias("_cp"),
            F.sum(F.when(~F.col("_pos"), 1).otherwise(0))
            .cast("bigint").alias("_cn"),
        )
        # persisted (guide §1.2): this
        # model-sized aggregate ([groups ×] n_buckets rows) is
        # referenced TWICE below — the spine fill and the smoothing
        # totals — and Spark shares no subplans across DataFrame
        # references, so unpersisted each reference re-runs the corpus
        # explode. Caching ≤ model-sized rows removes one full corpus
        # pass; measured ~15% off the composed train→score queries at
        # sf0.1, values unchanged (integer counts). The heavier
        # alternatives LOSE here and were reverted after measurement:
        # persisting the per-(doc, bucket) counts or the trained
        # weight table serializes the otherwise-concurrent stages and
        # pays InMemoryRelation materialization on a corpus-sized
        # frame (see OPTIMIZATION_r19.md).
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    spine = df.sparkSession.range(n_buckets).select(
        F.col("id").alias("bucket")
    )
    if group_col:
        # distinct-groups x bucket spine as a broadcast HASH
        # equi-join on a derived constant key (the attach_scalar
        # recipe, many-row form) — dims x n_buckets sized, and no
        # nested-loop operator appears in the plan
        one = lambda c: F.least(  # noqa: E731
            F.lit(1),
            F.greatest(F.lit(1), F.length(F.col(c).cast("string"))),
        )
        spine = (
            df.select(group_col).distinct().withColumn("_k", one(group_col))
            .join(F.broadcast(spine.withColumn("_k", one("bucket"))), "_k")
            .drop("_k")
        )
    filled = spine.join(counts, [*gcols, "bucket"], "left").select(
        *gcols,
        "bucket",
        F.coalesce("_cp", F.lit(0)).alias("_cp"),
        F.coalesce("_cn", F.lit(0)).alias("_cn"),
    )
    # smoothing totals: attach-scalar broadcast when global (never an
    # unpartitioned window); a group-keyed broadcast join when per
    # group — each head smooths against ITS OWN corpus mass
    a = float(alpha)
    if group_col:
        totals = filled.groupBy(group_col).agg(
            F.sum("_cp").cast("bigint").alias("_np"),
            F.sum("_cn").cast("bigint").alias("_nn"),
        )
        joined = filled.join(F.broadcast(totals), group_col)
    else:
        from ..queries import attach_scalar

        totals = filled.agg(
            F.sum("_cp").cast("bigint").alias("_np"),
            F.sum("_cn").cast("bigint").alias("_nn"),
        )
        joined = attach_scalar(filled, totals)
    return joined.select(
        *gcols,
        "bucket",
        F.round(
            (
                F.log(
                    (F.col("_cp") + F.lit(a))
                    / (F.col("_np") + F.lit(a * n_buckets))
                )
                - F.log(
                    (F.col("_cn") + F.lit(a))
                    / (F.col("_nn") + F.lit(a * n_buckets))
                )
            )
            * F.lit(float(WEIGHT_SCALE)),
            0,
        ).cast("bigint").alias("weight_micro"),
    )


def binary_auc(
    df: DataFrame,
    score_col: str,
    label_col: str,
    group_col: str | None = None,
    auc_decimals: int = 9,
) -> DataFrame:
    """Exact ROC-AUC of a binary classifier's scores — the evaluation
    face that closes the quality-gate loop (train →
    :func:`quality_classifier_score` → evaluate), and the
    classifier-side sibling of the retrieval family's NDCG/MRR
    (operators/retrieval.py ranking_eval).

    AUC is computed through its rank identity ``AUC = (R1 -
    n1(n1+1)/2) / (n1·n0)`` with R1 the positive class's rank sum
    under ascending score order and TIES taking the average rank
    (equivalently ``P(s⁺ > s⁻) + ½·P(s⁺ = s⁻)`` — the trapezoidal
    ROC area). The q_mann_whitney exact-integer discipline applies
    verbatim: per distinct score the tie block spans ranks
    ``[cum_before+1, cum_before+cnt]`` and DOUBLING the rank sum
    (``cnt_pos·(2·cum_before+cnt+1)``) keeps every term an exact
    bigint, so the one rounded double is the final division — a
    DuckDB oracle replays it identically, no float anywhere else.

    Returns ``(group_col?, n_pos, n_neg, auc)``; groups with an empty
    class yield NULL auc (0/0 — undefined, not an ANSI abort).

    Scale shape: a score-keyed count aggregate (tie blocks — bounded
    by DISTINCT scores, which a ``score_decimals``-quantized sigmoid
    bounds far below row count), one cumulative window per group over
    those distinct scores, a 3-term aggregate. Pass ``group_col`` at
    scale: the ungrouped form's cumulative window is a single global
    sort over the distinct-score table — fine at quantized-sigmoid
    cardinality, wrong for raw continuous scores."""
    from pyspark.sql import Window

    gcols = [group_col] if group_col else []
    per_score = (
        df.filter(
            F.col(score_col).isNotNull() & F.col(label_col).isNotNull()
        )
        .groupBy(*gcols, F.col(score_col).alias("_s"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("_cnt"),
            F.sum(F.when(F.col(label_col), 1).otherwise(0))
            .cast("bigint").alias("_cnt_pos"),
        )
    )
    w = (
        Window.partitionBy(*gcols).orderBy("_s")
        if gcols
        else Window.orderBy("_s")
    ).rowsBetween(Window.unboundedPreceding, -1)
    spans = per_score.withColumn(
        "_cum_before", F.coalesce(F.sum("_cnt").over(w), F.lit(0))
    )
    # the doubled rank-sum terms run in DECIMAL(38,0): cnt_pos x
    # (2*cum_before + cnt + 1) is ~2n^2 at the group tail, which wraps
    # bigint past ~2.1e9 rows per group (the markov per-term overflow
    # class) — decimal keeps the identity exact at any
    # group size; the oracle mirrors with HUGEINT
    agg = spans.groupBy(*gcols).agg(
        F.sum("_cnt_pos").cast("bigint").alias("n_pos"),
        (F.sum("_cnt") - F.sum("_cnt_pos")).cast("bigint").alias("n_neg"),
        F.sum(
            F.col("_cnt_pos").cast("decimal(38,0)")
            * (2 * F.col("_cum_before") + F.col("_cnt") + 1)
        ).cast("decimal(38,0)").alias("_r1_x2"),
    )
    return agg.select(
        *gcols,
        "n_pos",
        "n_neg",
        F.when(
            (F.col("n_pos") > 0) & (F.col("n_neg") > 0),
            F.round(
                (
                    F.col("_r1_x2")
                    - F.col("n_pos").cast("decimal(38,0)")
                    * (F.col("n_pos") + 1)
                ).cast("double")
                / (2.0 * F.col("n_pos") * F.col("n_neg")),
                auc_decimals,
            ),
        ).alias("auc"),
    )


def train_multiclass_weights(
    df: DataFrame,
    text_col: str,
    class_col: str,
    n_buckets: int = 1024,
    alpha: float = 1.0,
) -> DataFrame:
    """Train the k-class quality/router head: one NB log-odds weight table
    PER CLASS, each the
    one-vs-rest form of :func:`train_quality_weights` — so a mixture
    pipeline can route documents into k quality tiers / source
    domains instead of a single keep/drop gate. Per class ``c`` and
    bucket ``b``::

        weight[c][b] = ln p(b | c) - ln p(b | not c)

    add-``alpha`` smoothed over the full class x bucket spine
    (absent buckets carry the prior log-odds), quantized ONCE to
    integer micro units (``round(logratio * 1e6)``) — each class's
    rows are EXACTLY what :func:`train_quality_weights` produces on
    the binary label ``class == c`` (pytest-pinned), computed in one
    pass instead of k.

    A per-class PRIOR rides along: ``bias_micro[c]`` is the
    document-count log-odds ``ln p(c) - ln p(not c)`` (add-``alpha``
    over k classes), the fastText intercept that makes the argmax a
    calibrated NB decision rather than a likelihood-only one.

    Returns ``(class_col, bucket, weight_micro, bias_micro)`` —
    k x n_buckets rows, model-sized, broadcast at scoring time.

    Scale shape: ONE explode with map-side combine into per-(class,
    bucket) counts; per-bucket cross-class totals and per-class
    totals are model-sized aggregates that broadcast back onto the
    classes x buckets spine (derived-constant-key broadcast hash
    join — never a nested loop); the global totals attach as 1-row
    scalars. Nothing scales with corpus size after the explode.
    """
    from .dedup import word_grams, word_tokens
    from ..queries import attach_scalar

    toks = word_tokens(text_col)
    n = F.size(toks)
    feats = F.concat(
        toks,
        F.when(n >= 2, word_grams(toks, 2)).otherwise(
            F.array().cast("array<string>")
        ),
    )
    cls = "_cls"
    counts = (
        df.select(
            F.col(class_col).alias(cls), F.explode(feats).alias("_feat")
        )
        .select(
            cls,
            (
                F.conv(F.substring(F.md5("_feat"), 1, 8), 16, 10)
                .cast("bigint") % F.lit(n_buckets)
            ).alias("bucket"),
        )
        .groupBy(cls, "bucket")
        .agg(F.count(F.lit(1)).cast("bigint").alias("_cnt"))
    )
    # classes x buckets spine: derived-constant-key broadcast hash
    # equi-join (the attach_scalar recipe, many-row form)
    one = lambda c: F.least(  # noqa: E731
        F.lit(1),
        F.greatest(F.lit(1), F.length(F.col(c).cast("string"))),
    )
    classes = df.select(F.col(class_col).alias(cls)).distinct()
    spine = (
        classes.withColumn("_k", one(cls))
        .join(
            F.broadcast(
                df.sparkSession.range(n_buckets)
                .select(F.col("id").alias("bucket"))
                .withColumn("_k", one("bucket"))
            ),
            "_k",
        )
        .drop("_k")
    )
    # per-bucket totals across ALL classes (model-sized, broadcast):
    # the one-vs-rest negative count is total minus the class's own
    tot_b = counts.groupBy("bucket").agg(
        F.sum("_cnt").cast("bigint").alias("_tot_b")
    )
    # per-class feature totals (k rows, broadcast)
    tot_c = counts.groupBy(cls).agg(
        F.sum("_cnt").cast("bigint").alias("_np")
    )
    filled = (
        spine.join(counts, [cls, "bucket"], "left")
        .join(F.broadcast(tot_b), "bucket", "left")
        .join(F.broadcast(tot_c), cls, "left")
        .select(
            cls,
            "bucket",
            F.coalesce("_cnt", F.lit(0)).cast("bigint").alias("_cp"),
            (
                F.coalesce("_tot_b", F.lit(0))
                - F.coalesce("_cnt", F.lit(0))
            ).cast("bigint").alias("_cn"),
            F.coalesce("_np", F.lit(0)).cast("bigint").alias("_np"),
        )
    )
    glob = counts.agg(F.sum("_cnt").cast("bigint").alias("_n_all"))
    a = float(alpha)
    weighted = attach_scalar(filled, glob).select(
        cls,
        "bucket",
        F.round(
            (
                F.log(
                    (F.col("_cp") + F.lit(a))
                    / (F.col("_np") + F.lit(a * n_buckets))
                )
                - F.log(
                    (F.col("_cn") + F.lit(a))
                    / (
                        (F.col("_n_all") - F.col("_np"))
                        + F.lit(a * n_buckets)
                    )
                )
            )
            * F.lit(float(WEIGHT_SCALE)),
            0,
        ).cast("bigint").alias("weight_micro"),
    )
    # document-count priors: ln p(c) - ln p(not c), add-alpha over k
    docs_c = df.groupBy(F.col(class_col).alias(cls)).agg(
        F.count(F.lit(1)).cast("bigint").alias("_dc")
    )
    totals = df.agg(
        F.count(F.lit(1)).cast("bigint").alias("_d_all"),
        F.countDistinct(class_col).cast("bigint").alias("_k_cls"),
    )
    priors = attach_scalar(docs_c, totals).select(
        cls,
        F.round(
            (
                F.log(
                    (F.col("_dc") + F.lit(a))
                    / (F.col("_d_all") + F.lit(a) * F.col("_k_cls"))
                )
                - F.log(
                    ((F.col("_d_all") - F.col("_dc")) + F.lit(a))
                    / (F.col("_d_all") + F.lit(a) * F.col("_k_cls"))
                )
            )
            * F.lit(float(WEIGHT_SCALE)),
            0,
        ).cast("bigint").alias("bias_micro"),
    )
    return weighted.join(F.broadcast(priors), cls).select(
        F.col(cls).alias(class_col),
        "bucket",
        "weight_micro",
        "bias_micro",
    )


def multiclass_classify(
    df: DataFrame,
    id_col: str,
    text_col: str,
    weights: DataFrame,
    class_col: str = "class",
    n_buckets: int = 1024,
    score_decimals: int = 9,
    logit_decimals: int = 12,
) -> DataFrame:
    """Route every document to its argmax class under the k-class
    head, with a CALIBRATED
    per-class probability: per class ``logit_c = bias_c/SCALE +
    dot_c/(n * SCALE)`` (the fastText mean-of-features form
    :func:`quality_classifier_score` uses, plus the trained prior),
    ``prob = softmax`` over the k logits, prediction = the max logit
    with ties broken to the LEXICOGRAPHICALLY SMALLEST class name —
    deterministic on any engine.

    ``weights`` is :func:`train_multiclass_weights` output
    (``(class, bucket, weight_micro, bias_micro)``); the full spine
    guarantees every bucket matches, so the scoring join fans each
    document feature to exactly k classes.

    Cross-engine exactness: ``dot`` and ``n_feats`` are exact
    bigints; each logit is ONE double division of exact integers
    (``(bias*n + dot)/(n*SCALE)``) quantized at ``logit_decimals``
    into exact decimal; the softmax follows the max-shift discipline
    — the per-document max logit is an EXACT decimal comparison,
    each ``exp(logit - max)`` lands in (0, 1] (double ulp <= 2e-16,
    far under the 12dp quantization) and is quantized into exact
    decimal, the normalizer is the exact-decimal sum, and the
    probability is one double division rounded at
    ``score_decimals``. Tie-break and argmax compare QUANTIZED
    decimals, so both engines pick the same class everywhere.

    Returns one row per document: ``(id_col, n_feats, pred_class,
    prob)``.

    Scale shape: the binary scorer's plan with a k-way fan-out — one
    explode with map-side combine into per-(doc, bucket) counts, a
    broadcast join against the k x n_buckets model, a (doc,
    class)-keyed integer aggregate, then all windows partition by
    document over exactly k rows each. The doc x class spine for
    featureless documents is a derived-constant-key broadcast hash
    join against the k distinct classes — never a nested loop. The
    ``weights`` subtree is referenced exactly TWICE (the scoring
    join and one k-row classes-with-priors distinct): Spark shares
    no subplans across references, so when the weight table is an
    IN-PLAN training composition each reference re-runs the
    training explode — the spine and the prior lookup deliberately
    ride the same reference. Deployments score against a
    MATERIALIZED table, where reference count is moot.
    """
    from .dedup import word_grams, word_tokens

    toks = word_tokens(text_col)
    n = F.size(toks)
    feats = F.concat(
        toks,
        F.when(n >= 2, word_grams(toks, 2)).otherwise(
            F.array().cast("array<string>")
        ),
    )
    cls = "_cls"
    w = weights.select(
        F.col(class_col).alias(cls),
        F.col("bucket"),
        F.col("weight_micro"),
    )
    priors = weights.select(
        F.col(class_col).alias(cls), "bias_micro"
    ).distinct()
    buckets = df.select(
        F.col(id_col),
        F.explode(feats).alias("_feat"),
    ).select(
        id_col,
        (
            F.conv(F.substring(F.md5("_feat"), 1, 8), 16, 10).cast("bigint")
            % F.lit(n_buckets)
        ).alias("bucket"),
    )
    counts = buckets.groupBy(id_col, "bucket").agg(
        F.count(F.lit(1)).alias("_c")
    )
    dots = (
        counts.join(F.broadcast(w), "bucket")
        .groupBy(id_col, cls)
        .agg(
            F.sum("_c").cast("bigint").alias("_n_feats"),
            F.sum(F.col("_c") * F.col("weight_micro"))
            .cast("bigint").alias("_dot"),
        )
    )
    # doc x class spine so featureless documents still classify (on
    # the priors alone): derived-constant-key broadcast hash join —
    # against the k-row classes-WITH-priors table, so the prior
    # lookup and the class list cost one weights reference together
    one = lambda c: F.least(  # noqa: E731
        F.lit(1),
        F.greatest(F.lit(1), F.length(F.col(c).cast("string"))),
    )
    spine = (
        df.select(id_col).withColumn("_k", one(id_col))
        .join(
            F.broadcast(priors.withColumn("_k", one(cls))),
            "_k",
        )
        .drop("_k")
    )
    full = (
        spine.join(dots, [id_col, cls], "left")
        .select(
            id_col,
            cls,
            F.coalesce("_n_feats", F.lit(0)).cast("bigint")
            .alias("n_feats"),
            F.coalesce("_dot", F.lit(0)).cast("bigint").alias("_dot"),
            F.col("bias_micro").cast("bigint").alias("_bias"),
        )
    )
    logit = F.when(
        F.col("n_feats") > 0,
        (
            F.col("_bias") * F.col("n_feats") + F.col("_dot")
        ).cast("double")
        / (F.col("n_feats") * F.lit(WEIGHT_SCALE)).cast("double"),
    ).otherwise(
        F.col("_bias").cast("double") / F.lit(float(WEIGHT_SCALE))
    )
    ldec = f"decimal(24,{logit_decimals})"
    from pyspark.sql import Window

    wd = Window.partitionBy(id_col)
    scored = full.withColumn(
        "_logit", F.round(logit, logit_decimals).cast(ldec)
    ).withColumn(
        "_lmax", F.max("_logit").over(wd)
    ).withColumn(
        "_z",
        F.round(
            F.exp((F.col("_logit") - F.col("_lmax")).cast("double")),
            logit_decimals,
        ).cast(ldec),
    ).withColumn(
        "_zsum", F.sum("_z").over(wd)
    ).withColumn(
        "_rn",
        F.row_number().over(
            Window.partitionBy(id_col)
            .orderBy(F.col("_logit").desc(), F.col(cls).asc())
        ),
    )
    return scored.filter(F.col("_rn") == 1).select(
        id_col,
        "n_feats",
        F.col(cls).alias("pred_class"),
        F.round(
            F.col("_z").cast("double") / F.col("_zsum").cast("double"),
            score_decimals,
        ).alias("prob"),
    )
