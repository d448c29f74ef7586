"""Deterministic sampling/splitting operators (operators/sampling.py):
content-stable assignment invariants that seed-based sampling cannot
give — same rows across runs, partitionings, and engines (the
engine-agnosticism itself is covered by the DuckDB oracles of
q_hash_split / q_deterministic_sample / q_stratified_sample)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from rusty_timeseries_db_spark.operators.sampling import (
    deterministic_sample,
    hash_split,
    stratified_sample,
)
from rusty_timeseries_db_spark.queries import T
from tests.conftest import SF_DIR


@pytest.fixture()
def docs(spark):
    return T(spark, SF_DIR, "documents").select("doc_id", "text")


def test_hash_split_partitions_completely_and_disjointly(docs):
    out = hash_split(docs, "doc_id")
    counts = {r["split"]: r["n"] for r in
              out.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert set(counts) <= {"train", "val", "test"}
    assert sum(counts.values()) == docs.count()  # total, no dropped rows
    # 90/5/5 within loose tolerance at n=500
    assert counts["train"] > 0.8 * docs.count()


def test_hash_split_stable_under_repartition(docs):
    a = {r.doc_id: r.split for r in hash_split(docs, "doc_id").collect()}
    b = {
        r.doc_id: r.split
        for r in hash_split(docs.repartition(17), "doc_id").collect()
    }
    assert a == b


def test_hash_split_stable_under_incremental_load(docs):
    """Append-safety: the split of an existing id never changes when
    the table grows — compute on a subset, then on the full set."""
    sub = docs.filter(F.col("doc_id") < 100)
    a = {r.doc_id: r.split for r in hash_split(sub, "doc_id").collect()}
    full = {r.doc_id: r.split for r in hash_split(docs, "doc_id").collect()}
    assert all(full[k] == v for k, v in a.items())


def test_hash_split_rejects_bad_weights(docs):
    with pytest.raises(ValueError, match="sum to 1"):
        hash_split(docs, "doc_id", weights={"a": 0.5, "b": 0.2})


def test_deterministic_sample_fraction_and_salt(docs):
    n = docs.count()
    s10 = deterministic_sample(docs, "doc_id", 0.10)
    got = s10.count()
    assert 0.04 * n <= got <= 0.18 * n  # binomial-ish tolerance at n=500
    # subset property: a smaller cut of the SAME salt is a subset
    ids20 = {r.doc_id for r in
             deterministic_sample(docs, "doc_id", 0.20).select("doc_id").collect()}
    ids10 = {r.doc_id for r in s10.select("doc_id").collect()}
    assert ids10 <= ids20
    # a different salt draws an (almost surely) different set
    other = {r.doc_id for r in
             deterministic_sample(docs, "doc_id", 0.10, salt="x")
             .select("doc_id").collect()}
    assert other != ids10
    with pytest.raises(ValueError, match="fraction"):
        deterministic_sample(docs, "doc_id", 1.5)


def test_stratified_sample_exact_n_per_stratum(spark):
    e = T(spark, SF_DIR, "events")
    out = stratified_sample(e, "event_type", "event_id", 7)
    per = out.groupBy("event_type").agg(F.count("*").alias("n")).collect()
    avail = dict(
        e.groupBy("event_type").agg(F.count("*").alias("n"))
        .rdd.map(lambda r: (r.event_type, r.n)).collect()
    )
    for r in per:
        assert r.n == min(7, avail[r.event_type])
    # deterministic: same selection twice
    a = sorted((r.event_type, r.event_id) for r in out.collect())
    b = sorted(
        (r.event_type, r.event_id)
        for r in stratified_sample(e, "event_type", "event_id", 7).collect()
    )
    assert a == b


def test_weighted_sample_extreme_rates(spark):
    from rusty_timeseries_db_spark.operators.sampling import weighted_sample

    d = T(spark, SF_DIR, "documents")
    n_src0 = d.filter(F.col("source") == "src0").count()
    out = weighted_sample(d, "source", "doc_id", {"src0": 1.0},
                          default_rate=0.0)
    # rate-1.0 domain keeps every row; rate-0.0 default drops the rest
    assert out.count() == n_src0
    assert out.filter(F.col("source") != "src0").count() == 0


def test_weighted_sample_deterministic_and_nested(spark):
    from rusty_timeseries_db_spark.operators.sampling import weighted_sample

    d = T(spark, SF_DIR, "documents")
    rates = {"src0": 0.8, "src1": 0.4}
    a = {r.doc_id for r in
         weighted_sample(d, "source", "doc_id", rates, 0.2).collect()}
    b = {r.doc_id for r in
         weighted_sample(d.repartition(5), "source", "doc_id", rates, 0.2)
         .collect()}
    assert a == b
    # halving every rate selects a SUBSET (bucket-threshold nesting):
    half = {k: v / 2 for k, v in rates.items()}
    c = {r.doc_id for r in
         weighted_sample(d, "source", "doc_id", half, 0.1).collect()}
    assert c <= a


def test_weighted_sample_rejects_bad_rate(spark):
    from rusty_timeseries_db_spark.operators.sampling import weighted_sample

    d = T(spark, SF_DIR, "documents")
    with pytest.raises(ValueError):
        weighted_sample(d, "source", "doc_id", {"src0": 1.5})
    with pytest.raises(ValueError):
        weighted_sample(d, "source", "doc_id", {}, default_rate=-0.1)


def test_temperature_sample_upweights_small_domains(spark):
    """alpha < 1 lifts a tail domain's keep RATE above a head
    domain's; alpha = 1 reproduces the flat target fraction for every
    domain (natural mixture); the head domain's rate caps at 1 for
    tiny alpha; determinism under repartitioning."""
    from rusty_timeseries_db_spark.operators.sampling import (
        temperature_sample,
    )

    rows = [(i, "head") for i in range(900)] + [
        (i, "tail") for i in range(900, 1000)
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string")

    def rates(alpha, frac=0.5):
        out = temperature_sample(
            df, domain_col="source", id_col="doc_id",
            alpha=alpha, target_fraction=frac,
        )
        kept = {r.source: r.n for r in
                out.groupBy("source").count().withColumnRenamed("count", "n")
                .collect()}
        return kept.get("head", 0) / 900, kept.get("tail", 0) / 100

    head_r, tail_r = rates(0.3)
    assert tail_r > head_r  # small domain upweighted
    h1, t1 = rates(1.0)
    # natural mixture: both near the flat 50% (md5 noise ~ +-5%)
    assert abs(h1 - 0.5) < 0.06 and abs(t1 - 0.5) < 0.2
    # alpha -> 0 pushes the tail to p=1/2 of the mix; its rate caps at 1
    _, t0 = rates(0.01, frac=0.2)
    assert t0 == 1.0
    a = temperature_sample(df, "source", "doc_id", alpha=0.3)
    b = temperature_sample(df.repartition(7), "source", "doc_id", alpha=0.3)
    assert sorted(r.doc_id for r in a.collect()) == sorted(
        r.doc_id for r in b.collect()
    )


def test_temperature_sample_validation(spark):
    import pytest

    from rusty_timeseries_db_spark.operators.sampling import (
        temperature_sample,
    )

    df = spark.createDataFrame([(1, "a")], "doc_id long, source string")
    with pytest.raises(ValueError, match="target_fraction"):
        temperature_sample(df, "source", "doc_id", target_fraction=0.0)
    with pytest.raises(ValueError, match="alpha"):
        temperature_sample(df, "source", "doc_id", alpha=-1.0)


def test_token_budget_sample_semantics(spark):
    """Per-domain fill-until-enough — the doc that CROSSES
    the budget is kept, later docs are not; unbudgeted domains honor
    default_budget (None = excluded); selection is order-stable."""
    from pyspark.sql import functions as F  # noqa: F401

    from rusty_timeseries_db_spark.operators.sampling import (
        token_budget_sample,
    )

    rows = [
        (i, "d1", "w " * 10) for i in range(8)       # 10 tokens each
    ] + [(100 + i, "d2", "w " * 10) for i in range(4)]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")

    out = token_budget_sample(
        df, {"d1": 25}, domain_col="source", default_budget=None
    ).collect()
    # d2 excluded entirely (no budget, default None)
    assert {r.source for r in out} == {"d1"}
    # 25-token budget over 10-token docs: kept docs have
    # tokens_before in {0, 10, 20} — the 20 -> 30 crosser stays
    assert sorted(r.tokens_before for r in out) == [0, 10, 20]
    assert all(r.n_tok == 10 for r in out)

    # default budget applies to unlisted domains
    out2 = token_budget_sample(
        df, {"d1": 25}, domain_col="source", default_budget=15
    ).collect()
    d2 = [r for r in out2 if r.source == "d2"]
    assert sorted(r.tokens_before for r in d2) == [0, 10]

    # determinism: same selection on repeated runs
    a = sorted(r.doc_id for r in out)
    b = sorted(
        r.doc_id
        for r in token_budget_sample(
            df, {"d1": 25}, domain_col="source", default_budget=None
        ).collect()
    )
    assert a == b
