"""End-to-end training-corpus pipeline (pipelines.py): stage effects,
determinism, and manifest invariants over the documents table."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from rusty_timeseries_db_spark.pipelines import (
    CorpusPipelineConfig,
    build_training_corpus,
)
from rusty_timeseries_db_spark.queries import T
from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def manifest(spark):
    docs = T(spark, SF_DIR, "documents")
    cfg = CorpusPipelineConfig(
        min_tokens=10,
        mixture={"src0": 1.0, "src1": 0.5},
        mixture_default=0.8,
        pack_budget=256,
        pack_shards=4,
    )
    out = build_training_corpus(docs, cfg)
    out.persist()
    out.count()
    return out


def test_manifest_schema_and_rows(spark, manifest):
    assert set(manifest.columns) == {
        "doc_id", "source", "n_tok", "split", "shard", "pack_id", "pack_pos"
    }
    docs = T(spark, SF_DIR, "documents")
    n = manifest.count()
    assert 0 < n <= docs.count()


def test_quality_gate_applied(manifest):
    assert manifest.filter(F.col("n_tok") < 10).count() == 0


def test_exact_dups_removed(spark, manifest):
    docs = T(spark, SF_DIR, "documents")
    surviving = docs.join(manifest.select("doc_id"), "doc_id", "left_semi")
    assert (
        surviving.select("text").count()
        == surviving.select("text").distinct().count()
    )


def test_only_train_is_packed(manifest):
    assert manifest.filter(
        (F.col("split") == "train") & F.col("pack_id").isNull()
    ).count() == 0
    assert manifest.filter(
        (F.col("split") != "train") & F.col("pack_id").isNotNull()
    ).count() == 0


def test_pipeline_deterministic(spark, manifest):
    docs = T(spark, SF_DIR, "documents")
    cfg = CorpusPipelineConfig(
        min_tokens=10,
        mixture={"src0": 1.0, "src1": 0.5},
        mixture_default=0.8,
        pack_budget=256,
        pack_shards=4,
    )
    again = build_training_corpus(docs.repartition(9), cfg)
    a = sorted(map(tuple, manifest.collect()))
    b = sorted(map(tuple, again.collect()))
    assert a == b


def test_persist_intermediate_identical_results(spark, manifest):
    """persist_intermediate only changes materialization, never the
    manifest: byte-identical output with the cache on."""
    docs = T(spark, SF_DIR, "documents")
    cfg = CorpusPipelineConfig(
        min_tokens=10,
        mixture={"src0": 1.0, "src1": 0.5},
        mixture_default=0.8,
        pack_budget=256,
        pack_shards=4,
        persist_intermediate=True,
    )
    cached = build_training_corpus(docs, cfg)
    a = sorted(map(tuple, manifest.collect()))
    b = sorted(map(tuple, cached.collect()))
    assert a == b
    spark.catalog.clearCache()


def test_chunked_packing_mode(spark, manifest):
    """Opt-in chunk_tokens: train docs are chunked to the context
    budget BEFORE packing (pack unit = chunk); val/test rows are never
    chunked; the default-mode schema is unchanged."""
    docs = T(spark, SF_DIR, "documents")
    # selection params identical to the `manifest` fixture cfg — only
    # the packing unit differs, so the surviving doc set must match
    cfg = CorpusPipelineConfig(
        min_tokens=10,
        mixture={"src0": 1.0, "src1": 0.5},
        mixture_default=0.8,
        pack_budget=64, pack_shards=4,
        chunk_tokens=16, chunk_overlap=4,
    )
    out = build_training_corpus(docs, cfg)
    out.persist()
    try:
        assert "chunk_id" in out.columns
        train = out.filter("split = 'train'")
        rest = out.filter("split != 'train'")
        # every train pack unit fits the chunk budget
        assert train.filter("n_tok > 16").count() == 0
        assert train.filter("chunk_id IS NULL").count() == 0
        # chunk ids are dense per doc (0..k-1)
        per_doc = train.groupBy("doc_id").agg(
            F.countDistinct("chunk_id").alias("k"),
            F.max("chunk_id").alias("mx"),
        )
        assert per_doc.filter("mx != k - 1").count() == 0
        # packs respect the budget up to the documented boundary-row
        # overflow (closed-form rule: the row straddling the boundary
        # stays in its pack, so tot < budget + chunk_tokens)
        packs = train.groupBy("shard", "pack_id").agg(
            F.sum("n_tok").alias("tot")
        )
        assert packs.filter("tot >= 64 + 16").count() == 0
        # eval rows: unchunked, unpacked
        assert rest.filter("chunk_id IS NOT NULL").count() == 0
        assert rest.filter("pack_id IS NOT NULL").count() == 0
        # same surviving docs as the default pipeline (chunking only
        # changes the packing unit, never selection)
        assert (
            sorted(r.doc_id for r in out.select("doc_id").distinct().collect())
            == sorted(
                r.doc_id
                for r in manifest.select("doc_id").distinct().collect()
            )
        )
        # default mode schema untouched
        assert "chunk_id" not in manifest.columns
    finally:
        out.unpersist()


def test_repetition_gate_optional_stage(spark, manifest):
    """Opt-in Gopher repetition gate: NO flagged doc ever reaches the
    manifest. Downstream stages may legitimately diverge beyond the
    flagged set (a flagged doc can be a near-dup cluster's min-id
    canonical — its removal resurrects a previously-deleted member,
    and shifts the contamination gram sets), so the contract checked
    here is the gate's own: flagged ∩ surviving = ∅, and every
    NEW survivor vs the default manifest is explainable as such a
    resurrection (it must have a flagged near-dup partner upstream)."""
    from rusty_timeseries_db_spark.operators.profile import repetition_profile

    docs = T(spark, SF_DIR, "documents")
    gated = build_training_corpus(
        docs,
        CorpusPipelineConfig(
            min_tokens=10,
            mixture={"src0": 1.0, "src1": 0.5},
            mixture_default=0.8,
            pack_budget=256,
            pack_shards=4,
            max_dup_word_frac=0.6,
            max_top_bigram_frac=0.08,
        ),
    )
    rep = repetition_profile(docs)
    flagged = {
        r.doc_id
        for r in rep.filter(
            (F.col("dup_word_frac") > 0.6) | (F.col("top_bigram_frac") > 0.08)
        ).collect()
    }
    assert flagged, "fixture should flag some repetitive docs"
    surviving = {r.doc_id for r in gated.select("doc_id").collect()}
    assert not (surviving & flagged)
    base_ids = {r.doc_id for r in manifest.select("doc_id").collect()}
    # the gate prunes at least the flagged docs that were in the base
    # manifest; any resurrection only ADDS docs absent from base
    assert (base_ids & flagged).isdisjoint(surviving)
    assert len(surviving) <= len(base_ids | flagged)


def test_paragraph_dedup_optional_stage(spark):
    """Opt-in CCNet paragraph dedup: the stage rewrites text BEFORE
    the quality gate, so (a) a doc that is pure boilerplate copies
    falls out at min_tokens, (b) a partially-duplicated doc survives
    with the SHRUNKEN token count, and (c) with the stage off both
    docs pass with their raw counts."""
    rows = [
        # doc 1: canonical holder of paragraphs A (3 toks) + B (3 toks)
        (1, "pa pb pc qa qb qc", "src0"),
        # doc 2: A's copy + unique C -> cleaned to 3 tokens
        (2, "pa pb pc ra rb rc", "src0"),
        # doc 3: nothing but copies of A and B -> cleaned to 0 tokens
        (3, "pa pb pc qa qb qc", "src0"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    base = dict(
        min_tokens=2, near_dup_threshold=1.01,  # isolate the para stage
        split_weights={"train": 1.0}, pack_budget=64, pack_shards=1,
    )
    # note doc 3 is an EXACT dup of doc 1, so the stage-off run drops
    # it at exact-dedup; assert on doc 2's token count instead
    off = build_training_corpus(
        docs, CorpusPipelineConfig(**base)
    ).filter(F.col("doc_id") == 2).collect()[0]
    assert off.n_tok == 6
    on = {
        r.doc_id: r
        for r in build_training_corpus(
            docs, CorpusPipelineConfig(**base, paragraph_dedup_window=3)
        ).collect()
    }
    assert set(on) == {1, 2}          # doc 3 cleaned to nothing
    assert on[1].n_tok == 6           # canonical copies survive intact
    assert on[2].n_tok == 3           # A removed, C kept


def test_temperature_mixture_optional_stage(spark):
    """Opt-in temperature mixture: the tail domain's survival RATE
    beats the head domain's at alpha < 1 (rates derived from the
    post-dedup counts in-plan); setting both mixture forms raises."""
    import pytest

    rows = [(i, f"unique head doc number {i} with several tokens", "head")
            for i in range(300)]
    rows += [(1000 + i, f"unique tail doc number {i} more tokens", "tail")
             for i in range(30)]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    base = dict(min_tokens=2, near_dup_threshold=1.01,
                split_weights={"train": 1.0}, pack_budget=64, pack_shards=1)
    out = build_training_corpus(
        docs, CorpusPipelineConfig(
            **base, mixture_alpha=0.3, mixture_target_fraction=0.5
        )
    )
    kept = {r.source: r.n for r in out.groupBy("source")
            .count().withColumnRenamed("count", "n").collect()}
    assert kept.get("tail", 0) / 30 > kept.get("head", 0) / 300
    with pytest.raises(ValueError, match="at most one"):
        build_training_corpus(
            docs, CorpusPipelineConfig(
                **base, mixture={"head": 0.5}, mixture_alpha=0.5
            )
        )


def test_dsir_optional_stage(spark):
    """Opt-in DSIR selection: target-domain train docs all
    survive, the raw train pool is cut to exactly k, val/test rows are
    untouched, and the selected ids are deterministic across runs.
    Default-off is pinned by the unchanged-manifest check; combining
    DSIR with a mixture raises."""
    import pytest

    rows = [
        (i, f"target style doc number {i} common target phrasing here",
         "wiki")
        for i in range(20)
    ]
    rows += [
        (100 + i, f"raw pool document {i} with its own distinct words "
                  f"variant {i * 7}", "crawl")
        for i in range(60)
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, source string"
    )
    base = dict(
        min_tokens=2, near_dup_threshold=1.01,
        split_weights={"train": 1.0}, pack_budget=64, pack_shards=1,
    )
    out = build_training_corpus(
        docs,
        CorpusPipelineConfig(
            **base, dsir_target_domain="wiki", dsir_select_k=10
        ),
    )
    kept = {r.source: r.n for r in out.groupBy("source").count()
            .withColumnRenamed("count", "n").collect()}
    assert kept["wiki"] == 20          # target train docs all stay
    assert kept["crawl"] == 10         # raw pool resampled to k
    ids_a = {r.doc_id for r in out.select("doc_id").collect()}
    out_b = build_training_corpus(
        docs,
        CorpusPipelineConfig(
            **base, dsir_target_domain="wiki", dsir_select_k=10
        ),
    )
    assert ids_a == {r.doc_id for r in out_b.select("doc_id").collect()}
    # default-off: a config without dsir_select_k keeps every doc
    plain = build_training_corpus(docs, CorpusPipelineConfig(**base))
    assert plain.count() == 80
    with pytest.raises(ValueError, match="at most one"):
        build_training_corpus(
            docs,
            CorpusPipelineConfig(
                **base, mixture={"wiki": 1.0},
                dsir_target_domain="wiki", dsir_select_k=10,
            ),
        )
    with pytest.raises(ValueError, match="dsir_target_domain"):
        build_training_corpus(
            docs, CorpusPipelineConfig(**base, dsir_select_k=10)
        )


def test_dsir_null_domain_doc_competes_in_pool(spark):
    """A train doc with a NULL domain is a RAW-pool
    candidate — with k large enough it survives; it must never vanish
    unconditionally (the plain == NULL trap)."""
    rows = [(i, f"target style doc {i} phrasing here now", "wiki")
            for i in range(10)]
    rows += [(100, "null domain document with several words here", None)]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, source string"
    )
    out = build_training_corpus(
        docs,
        CorpusPipelineConfig(
            min_tokens=2, near_dup_threshold=1.01,
            split_weights={"train": 1.0}, pack_budget=64, pack_shards=1,
            dsir_target_domain="wiki", dsir_select_k=5,
        ),
    )
    assert out.filter(F.col("doc_id") == 100).count() == 1
