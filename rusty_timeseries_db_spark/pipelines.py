"""End-to-end training-corpus pipeline — the composition a 100 TB
LLM-data run actually executes, wired from this engine's operators:

    quality filter → exact dedup → near-dup keep-canonical →
    decontamination vs held-out split → mixture sampling →
    train/val/test split → sequence packing

Each stage is an operator this repo already oracle-checks individually
(queries.py: q_quality_filter_pipeline, q_dedup_exact,
q_dedup_keep_canonical, q_contamination_check,
q_weighted_domain_sample, q_hash_split, q_sequence_packing); this
module owns only the WIRING, so the pipeline inherits every stage's
scale properties (map-side filters stay map-side, the one window sort
per packing shard, anti-joins on the small side). The lazy DataFrame
composition means Catalyst optimizes ACROSS stages — e.g. the split
and mixture filters reorder below the dedup anti-joins where legal.

The reference has no document pipeline at all; this is the
capability-extension layer mandated by SURVEY §2.2 "LLM-data-pipeline
extensions".
"""

from __future__ import annotations

from collections.abc import Mapping
from dataclasses import dataclass, field

from pyspark import StorageLevel
from pyspark.sql import DataFrame, functions as F

from .operators.dedup import content_hash, dedup_clusters, ngram_jaccard_pairs
from .operators.packing import assign_packs
from .operators.sampling import hash_split, weighted_sample


def _tokens(col):
    return F.filter(F.split(F.lower(col), " "), lambda s: F.length(s) > 0)


@dataclass
class CorpusPipelineConfig:
    min_tokens: int = 5
    max_tokens: int = 100_000
    near_dup_ngram: int = 3
    near_dup_threshold: float = 0.35
    contamination_ngram: int = 3
    contamination_max: float = 0.8
    mixture: Mapping[str, float] = field(default_factory=dict)
    mixture_default: float = 1.0
    #: opt-in temperature mixture: when set, the mixture
    #: stage resamples domains with p_d ∝ c_d^mixture_alpha at an
    #: expected ``mixture_target_fraction`` of the surviving corpus
    #: (the mT5 recipe — rates derived from the ACTUAL post-dedup
    #: domain counts in-plan) instead of the fixed per-domain ``mixture``
    #: rates. Mutually exclusive with ``mixture``; default off.
    mixture_alpha: float | None = None
    mixture_target_fraction: float = 0.5
    #: opt-in DSIR selection:
    #: when ``dsir_select_k`` is set, stage 5 becomes importance
    #: RESAMPLING toward ``dsir_target_domain`` (Xie et al. 2023):
    #: hashed-bigram importance weights are estimated over the whole
    #: post-decontamination corpus (target sample = docs whose domain
    #: equals ``dsir_target_domain``), then the TRAIN split's
    #: non-target docs are Gumbel-top-k resampled down to
    #: ``dsir_select_k`` — target-domain train docs always stay (they
    #: ARE the distribution being matched), and val/test rows are
    #: never touched (eval sets are not resampled). Deterministic
    #: end-to-end (md5 buckets + content-stable Gumbel), so the
    #: opt-in pipeline is itself oracle-checkable. Mutually exclusive
    #: with ``mixture`` and ``mixture_alpha`` — all three are stage-5
    #: resampling flavors. Default off: the documented 7-stage output
    #: and its end-to-end oracle are unchanged.
    dsir_target_domain: str | None = None
    dsir_select_k: int | None = None
    dsir_temperature: float = 1.0
    dsir_buckets: int = 1024
    split_weights: Mapping[str, float] | None = None
    pack_budget: int = 512
    pack_shards: int = 32
    #: opt-in chunked packing: split surviving TRAIN docs
    #: into ``chunk_tokens``-token windows (``chunk_overlap`` shared
    #: tokens between neighbors) BEFORE packing, so the pack unit is a
    #: context-bounded chunk, not a whole document — the realistic
    #: assembly flow when documents exceed the model context. Output
    #: then carries a ``chunk_id`` column (NULL on val/test rows, which
    #: are never chunked). Default off: the documented 7-stage output
    #: schema and its end-to-end oracle are unchanged.
    chunk_tokens: int | None = None
    chunk_overlap: int = 0
    #: opt-in Gopher repetition gate: drop documents whose
    #: duplicate-word fraction or most-frequent-bigram share exceeds
    #: these bounds (Rae et al. 2021 §A1.1 use 0.2-0.6 band cut-offs).
    #: Runs right after the token-count gate as ONE extra
    #: (doc,bigram)→(doc) aggregate branch feeding a left-anti join on
    #: the (small) flagged side — the surviving corpus never widens.
    #: Default off: the documented 7-stage output and its end-to-end
    #: oracle are unchanged.
    max_dup_word_frac: float | None = None
    max_top_bigram_frac: float | None = None
    #: opt-in CCNet-style paragraph dedup: rewrite every
    #: document with corpus-duplicated ``paragraph_dedup_window``-token
    #: paragraphs removed (first occurrence kept) BEFORE any doc-level
    #: stage — the CCNet position: boilerplate stripped here no longer
    #: inflates near-dup similarity or survives into packs, and a doc
    #: reduced to nothing falls out at the min_tokens gate, which sees
    #: the CLEANED token count. Default off: the documented 7-stage
    #: output and its end-to-end oracle are unchanged.
    paragraph_dedup_window: int | None = None
    #: opt-in language gate (the CCNet stage 0 the
    #: pipeline was missing): when set, documents are classified with
    #: the char-trigram model (operators/langid.py — exact-integer
    #: Cavnar-Trenkle, oracle-checked as q_language_id) and only docs
    #: whose ``lang_id`` is in this collection survive into stage 1.
    #: Runs FIRST, before even paragraph dedup — every later stage
    #: then pays only for in-scope languages. Default off: the
    #: documented 7-stage output and its end-to-end oracle are
    #: unchanged.
    langid_keep: tuple[str, ...] | None = None
    #: opt-in model-based quality gate (the fastText-style linear classifier
    #: CCNet/LLaMA pipelines run
    #: right after language ID): when ``quality_weights`` is set (a
    #: pretrained ``(bucket, weight_micro)`` table —
    #: operators/quality.py; ``hashed_linear_weights`` for the
    #: deterministic stand-in), documents are scored with
    #: ``quality_classifier_score`` and only docs whose quantized
    #: sigmoid score reaches ``quality_threshold`` survive into
    #: stage 1. Runs right AFTER the language gate (the CCNet
    #: ordering — LM quality only pays for in-scope languages), as a
    #: semi-join on the (id, score) classification so the text column
    #: never widens the join. Default off: the documented 7-stage
    #: output and its end-to-end oracle are unchanged.
    quality_weights: "DataFrame | None" = None
    quality_threshold: float = 0.5
    quality_n_buckets: int = 1024
    #: persist the quality-gated, exact-deduped corpus
    #: (MEMORY_AND_DISK) before the branching stages. Five downstream
    #: consumers re-derive it otherwise (near-dup grams, contamination
    #: grams ×2, the train and eval output branches). Measured at
    #: sf0.1: NO local difference (the re-derivation is a small
    #: columnar scan + map-side filters; gram joins and clustering
    #: iterations dominate), and persisting materializes ALL columns —
    #: including full text — defeating the per-branch column pruning
    #: each consumer otherwise gets. Default False; turn on only when
    #: the upstream of this pipeline is genuinely expensive to replay
    #: (e.g. the corpus arrives through a decode/transform stage, not a
    #: plain parquet scan).
    persist_intermediate: bool = False


def build_training_corpus(
    docs: DataFrame,
    config: CorpusPipelineConfig | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    domain_col: str = "source",
) -> DataFrame:
    """Run the full pipeline; returns one row per surviving document
    with columns ``(id, domain, n_tok, split, shard, pack_id,
    pack_pos)`` — the manifest a sequence-assembly job consumes.

    Stages (all lazy; nothing executes until the caller acts):

    1. quality gate: token count in [min_tokens, max_tokens];
    2. exact dedup: md5 content hash, keep the min-id doc per hash;
    3. near-dup deletion: n-gram Jaccard pairs → connected components
       → keep the min-id (canonical) doc per cluster;
    4. decontamination: drop TRAIN docs whose shingle containment
       against the held-out ('test') split exceeds
       ``contamination_max`` (eval docs are never dropped here — the
       held-out set defines the contract);
    5. mixture sampling: per-domain deterministic keep rates;
    6. split assignment (train/val/test by id hash);
    7. sequence packing of the TRAIN split into ``pack_budget``-token
       packs (val/test rows keep pack_id = NULL — eval sets are not
       packed).
    """
    cfg = config or CorpusPipelineConfig()

    # 0a (opt-in). language gate — classify once, keep in-scope docs;
    # a semi-join on the (id, lang) classification, so the text column
    # never widens the join and scan pruning survives
    if cfg.langid_keep:
        from .operators.langid import language_id

        keep = language_id(docs, id_col=id_col, text_col=text_col).filter(
            F.col("lang_id").isin(*cfg.langid_keep)
        ).select(id_col)
        docs = docs.join(keep, id_col, "left_semi")

    # 0b (opt-in). model-based quality gate — score once with the
    # pretrained linear classifier, keep docs at/above threshold; a
    # semi-join like the language gate (CCNet ordering: LM quality
    # right after langid, before any content rewriting)
    if cfg.quality_weights is not None:
        from .operators.quality import quality_classifier_score

        qkeep = quality_classifier_score(
            docs, id_col=id_col, text_col=text_col,
            weights=cfg.quality_weights,
            n_buckets=cfg.quality_n_buckets,
            threshold=cfg.quality_threshold,
        ).filter(F.col("keep")).select(id_col)
        docs = docs.join(qkeep, id_col, "left_semi")

    # 0 (opt-in). paragraph dedup — rewrite text first so every later
    # stage (including the quality gate's token count) sees the
    # cleaned corpus; one id-keyed join swaps the text column
    if cfg.paragraph_dedup_window:
        from .operators.dedup import duplicated_paragraph_removal

        cleaned = duplicated_paragraph_removal(
            docs, id_col=id_col, text_col=text_col,
            window_tokens=cfg.paragraph_dedup_window,
        ).select(id_col, F.col("clean_text").alias(text_col))
        docs = docs.drop(text_col).join(cleaned, id_col)

    toks = _tokens(F.col(text_col))
    d = docs.withColumn("n_tok", F.size(toks))

    # 1. quality gate — map-side, composes with scan pushdown
    d = d.filter(
        (F.col("n_tok") >= cfg.min_tokens) & (F.col("n_tok") <= cfg.max_tokens)
    )

    # 1b (opt-in). repetition gate — dup-word / top-bigram bounds via
    # the Gopher profile; docs under 2 words have no profile row and
    # pass through (the min_tokens gate owns degenerate lengths)
    if cfg.max_dup_word_frac is not None or cfg.max_top_bigram_frac is not None:
        from .operators.profile import repetition_profile

        rep = repetition_profile(d, id_col=id_col, text_col=text_col)
        flagged = F.lit(False)
        if cfg.max_dup_word_frac is not None:
            flagged = flagged | (F.col("dup_word_frac") > cfg.max_dup_word_frac)
        if cfg.max_top_bigram_frac is not None:
            flagged = flagged | (
                F.col("top_bigram_frac") > cfg.max_top_bigram_frac
            )
        d = d.join(rep.filter(flagged).select(id_col), id_col, "left_anti")

    # 2. exact dedup, keep-first deterministically by id
    h = d.withColumn("_h", content_hash(F.col(text_col)))
    keep_ids = h.groupBy("_h").agg(F.min(id_col).alias(id_col)).select(id_col)
    d = d.join(keep_ids, id_col, "left_semi")
    if cfg.persist_intermediate:
        # materialized once by the clustering stage's first action, then
        # reused by every later branch instead of re-running the
        # upstream per consumer (see config docstring for the trade-off)
        d = d.persist(StorageLevel.MEMORY_AND_DISK)

    # 3. near-dup deletion via connected components, keep canonical
    pairs = ngram_jaccard_pairs(
        d, id_col, text_col, n=cfg.near_dup_ngram,
        threshold=cfg.near_dup_threshold,
    )
    clusters = dedup_clusters(pairs)
    non_canonical = clusters.filter(
        F.col("doc_id") != F.col("cluster_id")
    ).select(F.col("doc_id").alias(id_col))
    d = d.join(non_canonical, id_col, "left_anti")

    # 6a. split assignment early (contamination needs it); the filter
    # stages above commute with this map-side projection
    d = hash_split(d, id_col, weights=cfg.split_weights)

    # 4. decontamination: train docs too similar to the held-out set.
    # word_grams, not per-element element_at over a captured _tokens()
    # expression — that re-tokenized the document once per gram per
    # offset (O(n·k) tokenizations; see word_grams' docstring)
    from .operators.dedup import word_grams

    grams = F.when(
        F.col("n_tok") >= cfg.contamination_ngram,
        word_grams(_tokens(F.col(text_col)), cfg.contamination_ngram),
    ).otherwise(F.array().cast("array<string>"))
    g = d.select(id_col, "split", F.explode(grams).alias("gram")).distinct()
    held_grams = (
        g.filter(F.col("split") == "test").select("gram").distinct()
        .withColumn("_hit", F.lit(1))
    )
    train_contam = (
        g.filter(F.col("split") == "train")
        .join(held_grams, "gram", "left")
        .groupBy(id_col)
        .agg(
            (F.count("_hit").cast("double") / F.count("*")).alias("_contam")
        )
        .filter(F.col("_contam") > cfg.contamination_max)
        .select(id_col)
    )
    d = d.join(train_contam, id_col, "left_anti")

    # 5. mixture sampling — map-side (fixed rates), the opt-in
    # temperature resampling whose rates derive from the ACTUAL
    # post-dedup domain counts in-plan, or the opt-in DSIR importance
    # resampling toward a target domain
    n_stage5 = sum(
        [bool(cfg.mixture), cfg.mixture_alpha is not None,
         cfg.dsir_select_k is not None]
    )
    if n_stage5 > 1:
        raise ValueError(
            "set at most one of mixture (fixed per-domain rates), "
            "mixture_alpha (temperature resampling), or dsir_select_k "
            "(DSIR importance resampling) — they are alternative "
            "stage-5 flavors"
        )
    if cfg.dsir_target_domain is not None and cfg.dsir_select_k is None:
        # symmetric with the inverse guard below: a target domain with
        # no k would otherwise be silently ignored (stage 5 runs
        # un-resampled) — surprising config deserves a raise, not a
        # no-op
        raise ValueError("dsir_target_domain needs dsir_select_k")
    if cfg.dsir_select_k is not None:
        if cfg.dsir_target_domain is None:
            raise ValueError("dsir_select_k needs dsir_target_domain")
        from .operators.sampling import dsir_select, dsir_weights

        # weights estimated over the WHOLE surviving corpus (the
        # target/raw distributions want every post-cleaning doc);
        # selection then resamples only the train split's raw pool.
        # The scale shape is dsir_weights' (three aggregates, an
        # O(n_buckets) broadcast model) plus one k-row semi join.
        w = dsir_weights(
            d.withColumn(
                # eqNullSafe: a NULL domain is a RAW-pool doc that
                # competes for selection — plain == would make
                # is_target NULL and the ~is_target pool filter would
                # silently drop it everywhere
                "_is_tgt",
                F.col(domain_col).eqNullSafe(cfg.dsir_target_domain),
            ),
            id_col,
            text_col,
            "_is_tgt",
            n_buckets=cfg.dsir_buckets,
        )
        pool = w.filter(~F.col("is_target")).join(
            d.filter(F.col("split") == "train").select(id_col),
            id_col,
            "left_semi",
        )
        chosen = dsir_select(
            pool, id_col, k=cfg.dsir_select_k,
            temperature=cfg.dsir_temperature,
        ).select(id_col)
        keep_always = (F.col("split") != "train") | F.col(
            domain_col
        ).eqNullSafe(cfg.dsir_target_domain)
        d = (
            d.join(chosen.withColumn("_dsir", F.lit(1)), id_col, "left")
            .filter(keep_always | F.col("_dsir").isNotNull())
            .drop("_dsir")
        )
    if cfg.mixture_alpha is not None:
        from .operators.sampling import temperature_sample

        d = temperature_sample(
            d, domain_col, id_col,
            alpha=cfg.mixture_alpha,
            target_fraction=cfg.mixture_target_fraction,
        )
    elif cfg.mixture:
        d = weighted_sample(
            d, domain_col, id_col, cfg.mixture, cfg.mixture_default
        )

    # 7. pack the train split only
    train = d.filter(F.col("split") == "train")
    rest = d.filter(F.col("split") != "train")
    out_cols = [id_col, domain_col, "n_tok", "split",
                "shard", "pack_id", "pack_pos"]
    if cfg.chunk_tokens:
        # 6b (opt-in). chunk train docs to the context budget first;
        # the pack unit becomes (doc, chunk). Deterministic composite
        # id keeps assign_packs' hash-order total.
        from .operators.chunking import chunk_documents

        chunks = chunk_documents(
            train.select(id_col, domain_col, "split", text_col),
            [id_col, domain_col, "split"],
            text_col=text_col,
            chunk_tokens=cfg.chunk_tokens,
            overlap=cfg.chunk_overlap,
        ).withColumnRenamed("n_tokens", "n_tok")
        train = chunks.withColumn(
            "_cid",
            F.concat_ws(
                "#",
                F.col(id_col).cast("string"),
                F.col("chunk_id").cast("string"),
            ),
        )
        packed = assign_packs(
            train, "_cid", "n_tok", cfg.pack_budget, shards=cfg.pack_shards
        ).drop("_cid", "chunk_text")
        out_cols = [id_col, "chunk_id", domain_col, "n_tok", "split",
                    "shard", "pack_id", "pack_pos"]
        rest = rest.withColumn("chunk_id", F.lit(None).cast("bigint"))
    else:
        packed = assign_packs(
            train, id_col, "n_tok", cfg.pack_budget, shards=cfg.pack_shards
        )
    rest = (
        rest.withColumn("shard", F.lit(None).cast("bigint"))
        .withColumn("pack_id", F.lit(None).cast("bigint"))
        .withColumn("pack_pos", F.lit(None).cast("bigint"))
    )
    return packed.select(*out_cols).unionByName(rest.select(*out_cols))
