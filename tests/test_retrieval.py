"""Persisted BM25 index (operators/retrieval.py
Bm25Index): result-equality with the ad-hoc bm25_topk operator,
restart-from-manifest, incremental add exactness, and shard
partition-pruning on the query path."""

from __future__ import annotations

import os

import pytest

from rusty_timeseries_db_spark.operators.retrieval import (
    Bm25Index,
    _term_shard_py,
    bm25_topk,
)

from tests.conftest import SF_DIR

TERMS = ["hash", "merge", "scan", "slow"]


def _docs(spark):
    return spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))


def _rows(df):
    return [
        (r[0], r[1], r[2])
        for r in df.orderBy(df.columns[2], df.columns[0]).collect()
    ]


def test_index_equals_adhoc(spark, tmp_path):
    docs = _docs(spark)
    idx = Bm25Index(spark, str(tmp_path / "bm25")).build(docs)
    got = _rows(idx.query(TERMS, k=25))
    want = _rows(bm25_topk(docs, TERMS, k=25))
    assert got == want
    assert len(got) > 0


def test_restart_from_manifest(spark, tmp_path):
    docs = _docs(spark)
    path = str(tmp_path / "bm25")
    Bm25Index(spark, path).build(docs)
    # a FRESH instance (new process restart analog) serves identically
    reopened = Bm25Index(spark, path)
    got = _rows(reopened.query(TERMS, k=10))
    want = _rows(bm25_topk(docs, TERMS, k=10))
    assert got == want


def test_incremental_add_exact(spark, tmp_path):
    """BM25 has no quantizer: after add() the index must be EXACT for
    the union corpus (df spread over delta rows, manifest N/avgdl
    bumped), not approximately right."""
    from pyspark.sql import functions as F

    docs = _docs(spark)
    first = docs.filter(F.col("doc_id") % 3 != 0)
    rest = docs.filter(F.col("doc_id") % 3 == 0)
    path = str(tmp_path / "bm25")
    idx = Bm25Index(spark, path).build(first)
    n = idx.add(rest)
    assert n == rest.count()
    got = _rows(idx.query(TERMS, k=25))
    want = _rows(bm25_topk(docs, TERMS, k=25))
    assert got == want
    man = idx._manifest()
    assert man["n_docs"] == docs.count()
    assert man["n_added"] == n


def test_add_empty_batch_is_noop(spark, tmp_path):
    docs = _docs(spark)
    idx = Bm25Index(spark, str(tmp_path / "bm25")).build(docs)
    before = idx._manifest()
    assert idx.add(docs.limit(0)) == 0
    assert idx._manifest() == before


def test_query_before_build_raises(spark, tmp_path):
    with pytest.raises(FileNotFoundError):
        Bm25Index(spark, str(tmp_path / "bm25")).query(TERMS)


def test_query_prunes_unprobed_shards(spark, tmp_path):
    """The serving contract, plan-asserted: the query's postings AND
    terms scans carry a ``_shard IN (...)`` PartitionFilter naming
    exactly the driver-computed shards of the query terms (so unprobed
    shard directories are never listed), and the ``term IN`` predicate
    is pushed into the parquet scan. (``inputFiles()`` can't test this
    — it lists the relation's files BEFORE partition filters.)"""
    import re

    docs = _docs(spark)
    path = str(tmp_path / "bm25")
    idx = Bm25Index(spark, path).build(docs, n_shards=32)
    man = idx._manifest()
    shards = {_term_shard_py(t, man["n_shards"]) for t in TERMS}
    assert len(shards) < man["n_shards"]
    plan = (
        idx.query(TERMS, k=5)
        ._jdf.queryExecution().executedPlan().toString()
    )
    part_filters = re.findall(
        r"PartitionFilters: \[_shard#\d+ IN \(([\d,]+)\)\]", plan
    )
    assert len(part_filters) == 2, plan  # postings scan + terms scan
    for pf in part_filters:
        assert {int(s) for s in pf.split(",")} == shards
    assert "PushedFilters: [In(term" in plan


def test_empty_terms_raises(spark, tmp_path):
    docs = _docs(spark)
    idx = Bm25Index(spark, str(tmp_path / "bm25")).build(docs)
    with pytest.raises(ValueError):
        idx.query([])


# ----------------------------------------------- RRF fusion

def test_rrf_fuse_hand_computed(spark):
    """Fused scores equal the hand-computed 1/(60+rank) sums; a doc in
    both lists outranks a doc in one; ranks come from (score desc, id
    asc) so a score tie breaks deterministically."""
    from rusty_timeseries_db_spark.operators.retrieval import rrf_fuse

    a = spark.createDataFrame(
        [(1, 9.0), (2, 5.0), (3, 5.0)], "doc_id long, s double"
    )
    b = spark.createDataFrame(
        [(2, 0.9), (4, 0.8)], "doc_id long, s double"
    )
    out = {
        r.doc_id: (r.n_lists, r.rrf)
        for r in rrf_fuse(
            {"a": (a, "s"), "b": (b, "s")}, id_col="doc_id", k=10
        ).collect()
    }
    # list a ranks: 1->1, 2->2 (tie with 3 broken by id), 3->3
    # list b ranks: 2->1, 4->2
    assert out[1] == (1, round(1 / 61, 6))
    assert out[2] == (2, round(1 / 62 + 1 / 61, 6))
    assert out[3] == (1, round(1 / 63, 6))
    assert out[4] == (1, round(1 / 62, 6))
    # both-lists doc 2 beats every single-list doc
    assert out[2][1] > max(out[1][1], out[3][1], out[4][1])


def test_rrf_fuse_k_cut_and_empty_raises(spark):
    import pytest

    from rusty_timeseries_db_spark.operators.retrieval import rrf_fuse

    a = spark.createDataFrame(
        [(i, float(100 - i)) for i in range(10)], "doc_id long, s double"
    )
    got = rrf_fuse({"a": (a, "s")}, id_col="doc_id", k=3).collect()
    assert [r.doc_id for r in got] == [0, 1, 2]
    with pytest.raises(ValueError):
        rrf_fuse({}, id_col="doc_id")


# ------------------------------- streaming index maintenance

def test_apply_bm25_batch_idempotent(spark, tmp_path):
    """The replay contract: a batch_id at or below the manifest's
    last_applied_batch watermark is a no-op — the common foreachBatch
    restart (crash after commit, offsets not advanced) cannot
    double-count documents."""
    from pyspark.sql import functions as F

    from rusty_timeseries_db_spark.streaming.index import apply_bm25_batch

    docs = _docs(spark)
    first = docs.filter(F.col("doc_id") % 2 == 0)
    rest = docs.filter(F.col("doc_id") % 2 == 1)
    path = str(tmp_path / "bm25")
    idx = Bm25Index(spark, path).build(first)

    n1 = apply_bm25_batch(spark, path, rest, batch_id=0)
    assert n1 == rest.count()
    want = _rows(idx.query(TERMS, k=20))
    # replayed batch: skipped, index unchanged
    assert apply_bm25_batch(spark, path, rest, batch_id=0) == 0
    assert _rows(Bm25Index(spark, path).query(TERMS, k=20)) == want
    # a NEW batch id still applies — an empty batch adds nothing but
    # IS processed, so the watermark advances past it
    extra = rest.limit(0)
    assert apply_bm25_batch(spark, path, extra, batch_id=1) == 0
    assert idx._manifest()["last_applied_batch"] == 1


def test_streaming_bm25_index_sink_end_to_end(spark, tmp_path):
    """Build on half the corpus, stream the other half through the
    REAL sink in two micro-batches — queries after the drain must
    equal the ad-hoc operator over the FULL corpus (add() is exact)."""
    import glob
    import os
    import time

    from pyspark.sql import functions as F

    from rusty_timeseries_db_spark.streaming.index import (
        start_bm25_index_sink,
    )

    docs = _docs(spark).select("doc_id", "text")
    first = docs.filter(F.col("doc_id") < 250)
    rest = docs.filter(F.col("doc_id") >= 250)
    path = str(tmp_path / "bm25")
    idx = Bm25Index(spark, path).build(first)

    src = str(tmp_path / "drop")
    rest.filter(F.col("doc_id") < 400).coalesce(1) \
        .write.mode("overwrite").json(src)
    # second file, mtime-ordered into its own micro-batch
    p2 = os.path.join(src, "zz_batch2.json")
    with open(p2, "w") as f:
        for r in rest.filter(F.col("doc_id") >= 400).collect():
            import json as _json

            f.write(_json.dumps(
                {"doc_id": r.doc_id, "text": r.text}) + "\n")
    latest = max(
        os.path.getmtime(p) for p in glob.glob(os.path.join(src, "part-*"))
    )
    os.utime(p2, (latest + 10, latest + 10))

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", "1")
        .json(src)
    )
    q = start_bm25_index_sink(
        stream, path, str(tmp_path / "ckpt"), available_now=True
    )
    assert q.awaitTermination(180)

    man = idx._manifest()
    assert man["last_applied_batch"] >= 1  # two micro-batches landed
    assert man["n_docs"] == docs.count()
    got = _rows(Bm25Index(spark, path).query(TERMS, k=25))
    want = _rows(bm25_topk(docs, TERMS, k=25))
    assert got == want


def test_streaming_ivf_index_sink_parity_with_batch_add(spark, tmp_path):
    """Stream-maintained IVF index == the same adds applied batch-wise:
    identical query results, identical n_added bookkeeping, idempotent
    replay skip."""
    import glob
    import json as _json
    import os

    from pyspark.sql import functions as F

    from rusty_timeseries_db_spark.operators.similarity import IvfIndex
    from rusty_timeseries_db_spark.streaming.index import (
        apply_ivf_batch,
        start_ivf_index_sink,
    )

    emb = spark.read.parquet(
        os.path.join(SF_DIR, "embeddings.parquet")
    ).select("vec_id", "embedding")
    base = emb.filter(F.col("vec_id") < 300)
    extra = emb.filter(F.col("vec_id") >= 300)
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )

    # reference: batch build + add
    ref_path = str(tmp_path / "ivf_ref")
    ref = IvfIndex(spark, ref_path).build(base, n_clusters=8, seed=7)
    ref.add(extra)
    want = sorted(
        (r.query_id, r.vec_id, r.rank)
        for r in ref.query(queries, k=5, n_probe=3).collect()
    )

    # streamed: same base build, extras arrive as two micro-batches
    path = str(tmp_path / "ivf")
    idx = IvfIndex(spark, path).build(base, n_clusters=8, seed=7)
    src = str(tmp_path / "drop")
    os.makedirs(src)
    half = extra.filter(F.col("vec_id") < 400).collect()
    rest = extra.filter(F.col("vec_id") >= 400).collect()
    for fname, rows in [("a.json", half), ("zz.json", rest)]:
        with open(os.path.join(src, fname), "w") as f:
            for r in rows:
                f.write(_json.dumps(
                    {"vec_id": r.vec_id,
                     "embedding": [float(x) for x in r.embedding]}) + "\n")
    first = os.path.join(src, "a.json")
    os.utime(os.path.join(src, "zz.json"),
             (os.path.getmtime(first) + 10, os.path.getmtime(first) + 10))

    stream = (
        spark.readStream.schema("vec_id long, embedding array<float>")
        .option("maxFilesPerTrigger", "1")
        .json(src)
    )
    q = start_ivf_index_sink(
        stream, path, str(tmp_path / "ckpt"), corpus_id="vec_id",
        available_now=True,
    )
    assert q.awaitTermination(180)

    man = IvfIndex(spark, path)._manifest()
    assert man["last_applied_batch"] >= 1
    assert man["n_added"] == extra.count()
    got = sorted(
        (r.query_id, r.vec_id, r.rank)
        for r in IvfIndex(spark, path).query(queries, k=5, n_probe=3).collect()
    )
    assert got == want

    # replayed batch id: skipped
    assert apply_ivf_batch(
        spark, path, extra.limit(3), batch_id=0, corpus_id="vec_id"
    ) == 0


# ------------------------------------- deletion + compaction

def test_remove_is_exact_vs_live_rebuild(spark, tmp_path):
    """The deletion contract: after remove(), query() must EXACTLY
    equal a fresh index built on the live subset — N/avgdl decremented
    from the docs sidecar, tombstoned candidates dropped, and their
    per-term df contribution subtracted inside the probed shards."""
    from pyspark.sql import functions as F

    docs = _docs(spark)
    gone = docs.filter(F.col("doc_id") % 5 == 2)
    live = docs.filter(F.col("doc_id") % 5 != 2)

    path = str(tmp_path / "bm25")
    idx = Bm25Index(spark, path).build(docs)
    k = idx.remove(gone.select("doc_id"))
    assert k == gone.count()

    ref = Bm25Index(spark, str(tmp_path / "bm25_live")).build(live)
    got = _rows(idx.query(TERMS, k=25))
    want = _rows(ref.query(TERMS, k=25))
    assert got == want
    # and equals the ad-hoc operator over the live corpus
    assert got == _rows(bm25_topk(live, TERMS, k=25))
    # no removed doc can surface
    gone_ids = {r.doc_id for r in gone.collect()}
    assert not gone_ids & {t[0] for t in got}


def test_remove_idempotent_and_unknown_ids(spark, tmp_path):
    docs = _docs(spark)
    path = str(tmp_path / "bm25")
    idx = Bm25Index(spark, path).build(docs)
    man0 = idx._manifest()
    assert idx.remove([1, 2, 3]) == 3
    man1 = idx._manifest()
    assert man1["n_docs"] == man0["n_docs"] - 3
    assert man1["n_removed"] == 3
    # re-removing the same ids (and never-present ids) is a no-op
    assert idx.remove([1, 2, 3, 999_999]) == 0
    assert idx._manifest()["n_docs"] == man1["n_docs"]


def test_compact_preserves_results_and_clears_tombstones(spark, tmp_path):
    from pyspark.sql import functions as F

    docs = _docs(spark)
    path = str(tmp_path / "bm25")
    idx = Bm25Index(spark, path).build(
        docs.filter(F.col("doc_id") % 3 != 0)
    )
    idx.add(docs.filter(F.col("doc_id") % 3 == 0))  # df-delta rows exist
    idx.remove([r.doc_id for r in docs.filter(
        F.col("doc_id") % 4 == 1).collect()])
    before = _rows(idx.query(TERMS, k=25))
    man_before = idx._manifest()

    applied = idx.compact()
    assert applied > 0
    assert idx._tombstones() is None  # physically gone
    after = _rows(Bm25Index(spark, path).query(TERMS, k=25))
    assert after == before
    man_after = idx._manifest()
    assert man_after["n_docs"] == man_before["n_docs"]
    # the docs sidecar no longer holds the removed ids
    remaining = spark.read.parquet(idx.docs_path).count()
    assert remaining == man_after["n_docs"]
    # a second compact is a no-op
    assert idx.compact() == 0


def test_add_after_remove(spark, tmp_path):
    """Interleaved lifecycle: build, remove, add — the final index
    equals the ad-hoc operator over (base - removed + added)."""
    from pyspark.sql import functions as F

    docs = _docs(spark)
    base = docs.filter(F.col("doc_id") < 400)
    extra = docs.filter(F.col("doc_id") >= 400)
    path = str(tmp_path / "bm25")
    idx = Bm25Index(spark, path).build(base)
    idx.remove([r.doc_id for r in base.filter(
        F.col("doc_id") % 10 == 0).collect()])
    idx.add(extra)
    expect_corpus = base.filter(F.col("doc_id") % 10 != 0).unionByName(extra)
    assert _rows(idx.query(TERMS, k=25)) == _rows(
        bm25_topk(expect_corpus, TERMS, k=25)
    )


def test_readd_of_removed_id_guarded_until_compact(spark, tmp_path):
    """Re-adding a removed id must raise (a tombstone would hide the
    new rows; clearing it would resurrect the old ones) — and succeed
    cleanly after compact()."""
    from pyspark.sql import functions as F

    docs = _docs(spark)
    path = str(tmp_path / "bm25")
    idx = Bm25Index(spark, path).build(docs.filter(F.col("doc_id") < 450))
    idx.remove([7])
    readd = docs.filter(F.col("doc_id") == 7)
    with pytest.raises(ValueError, match="compact"):
        idx.add(readd)
    idx.compact()
    assert idx.add(readd) == 1
    live = docs.filter(F.col("doc_id") < 450)  # 7 removed then re-added
    assert _rows(idx.query(TERMS, k=20)) == _rows(
        bm25_topk(live, TERMS, k=20)
    )


def test_compact_guards_all_removed(spark, tmp_path):
    """Removing every posting-bearing doc must NOT let compact() brick
    the index: it raises before any destructive step and the index
    keeps serving (empty result set) via tombstones."""
    from pyspark.sql import functions as F

    docs = _docs(spark).filter(F.col("doc_id") < 20)
    path = str(tmp_path / "bm25")
    idx = Bm25Index(spark, path).build(docs)
    idx.remove([r.doc_id for r in docs.collect()])
    with pytest.raises(ValueError, match="zero postings"):
        idx.compact()
    # still serving: every doc tombstoned -> empty result, no error
    assert idx.query(TERMS, k=5).count() == 0


def test_query_refuses_mid_compact_marker(spark, tmp_path):
    """An interrupted compact() (marker present) must refuse queries —
    the intermediate directory states are inconsistent — and a re-run
    with no tombstones left finishes the cleanup."""
    from rusty_timeseries_db_spark.fsutil import write_json_manifest

    docs = _docs(spark)
    path = str(tmp_path / "bm25")
    idx = Bm25Index(spark, path).build(docs)
    write_json_manifest(spark, idx.marker_path, {"n_tombstones": 1})
    with pytest.raises(RuntimeError, match="interrupted compact"):
        idx.query(TERMS, k=5)
    # simulate crash after the tombstone drop: compact() cleans up
    assert idx.compact() == 0
    assert idx.query(TERMS, k=5).count() > 0


def test_remove_requires_docs_sidecar(spark, tmp_path):
    """An index without the docs/ sidecar flag must fail LOUDLY on
    remove() — a partial sidecar would silently skip old docs."""
    from rusty_timeseries_db_spark.fsutil import (
        read_json_manifest,
        write_json_manifest,
    )

    docs = _docs(spark)
    path = str(tmp_path / "bm25")
    idx = Bm25Index(spark, path).build(docs)
    ver, man = idx._manifest_cas()
    del man["docs_sidecar"]
    idx._commit_manifest(man, expected=ver)
    with pytest.raises(ValueError, match="sidecar"):
        idx.remove([1])
    # and add() on the old format does NOT create a partial sidecar
    import shutil

    shutil.rmtree(idx.docs_path)
    idx.add(_docs(spark).limit(0))  # no-op add is fine
    assert not idx._dir_exists(idx.docs_path)


def test_remove_manifest_self_heals(spark, tmp_path):
    """The manifest derives from docs-minus-tombstones: if an earlier
    remove() crashed after the tombstone append but before the
    manifest write (simulated by appending tombstones directly), the
    NEXT remove() call heals N/sum_dl."""
    from pyspark.sql import functions as F

    docs = _docs(spark)
    path = str(tmp_path / "bm25")
    idx = Bm25Index(spark, path).build(docs)
    # simulate the torn state: tombstone rows exist, manifest untouched
    spark.createDataFrame([(3,), (4,)], "doc long").write.mode(
        "append"
    ).parquet(idx.tombstones_path)
    assert idx._manifest()["n_docs"] == docs.count()  # stale
    idx.remove([5])  # heals while removing one more
    man = idx._manifest()
    assert man["n_docs"] == docs.count() - 3
    assert man["n_removed"] == 3
    # and scores equal a live-subset rebuild
    live = docs.filter(~F.col("doc_id").isin([3, 4, 5]))
    assert _rows(idx.query(TERMS, k=15)) == _rows(
        bm25_topk(live, TERMS, k=15)
    )


def test_stream_sink_skips_removed_ids(spark, tmp_path):
    """removed_ids='skip': a re-published removed doc
    must not poison-pill the stream — the batch applies minus the
    tombstoned ids; 'error' keeps add()'s strict raise."""
    from pyspark.sql import functions as F

    from rusty_timeseries_db_spark.streaming.index import apply_bm25_batch

    docs = _docs(spark)
    path = str(tmp_path / "bm25")
    idx = Bm25Index(spark, path).build(docs.filter(F.col("doc_id") < 300))
    idx.remove([5, 10])
    batch = docs.filter(
        F.col("doc_id").isin([5, 10, 400, 401])
    ).select("doc_id", "text")
    n = apply_bm25_batch(spark, path, batch, batch_id=0)
    assert n == 2  # 400/401 applied; 5/10 kept out by their tombstones
    live = docs.filter(
        (F.col("doc_id") < 300) & ~F.col("doc_id").isin([5, 10])
    ).unionByName(docs.filter(F.col("doc_id").isin([400, 401])))
    assert _rows(Bm25Index(spark, path).query(TERMS, k=20)) == _rows(
        bm25_topk(live.select("doc_id", "text"), TERMS, k=20)
    )
    # strict mode still raises (fresh batch id so the watermark skip
    # does not mask the guard)
    with pytest.raises(ValueError, match="compact"):
        apply_bm25_batch(
            spark, path, batch, batch_id=1, removed_ids="error"
        )


# -------------------------------------------------------------------------
# crash-safe compact swap + removed_ids policy matrix


def test_compact_interrupted_mid_swap_converges(spark, tmp_path):
    """A crash between compact()'s aside-rename and swap-in must NOT
    strand the index: recover_dir_swap finishes the swap on re-entry
    and the compact re-run converges to the exact live-subset scores.
    Simulated state: src missing, complete rewrite at src+SWAP_NEW,
    marker present."""
    import shutil

    from pyspark.sql import functions as F

    from rusty_timeseries_db_spark.fsutil import SWAP_NEW, write_json_manifest

    docs = _docs(spark)
    path = str(tmp_path / "bm25")
    idx = Bm25Index(spark, path).build(docs)
    idx.remove([2, 4, 6])
    # simulate: marker written, postings renamed aside mid-swap (the
    # on-disk content IS a complete directory, which is all the
    # protocol guarantees at that point — compact() re-filters it)
    write_json_manifest(spark, idx.marker_path, {"n_tombstones": 3})
    shutil.move(idx.postings_path, idx.postings_path + SWAP_NEW)
    assert not os.path.exists(idx.postings_path)

    # all three mutators + query refuse while the marker exists
    with pytest.raises(RuntimeError, match="interrupted compact"):
        idx.query(TERMS, k=5)
    with pytest.raises(RuntimeError, match="interrupted compact"):
        idx.add(docs.limit(1))
    with pytest.raises(RuntimeError, match="interrupted compact"):
        idx.remove([1])

    assert idx.compact() == 3  # converges from the torn state
    assert not os.path.exists(idx.postings_path + SWAP_NEW)
    assert not idx._dir_exists(idx.marker_path)
    assert not idx._dir_exists(idx.tombstones_path)
    live = docs.filter(~F.col("doc_id").isin([2, 4, 6]))
    assert _rows(idx.query(TERMS, k=15)) == _rows(
        bm25_topk(live, TERMS, k=15)
    )


def test_compact_never_deletes_live_dir_first(spark, tmp_path):
    """The swap protocol keeps a complete copy of every directory on
    disk at every instant: simulate the OTHER crash window (swap-in
    done for postings, aside copy not yet deleted; terms untouched)
    and check recovery + re-run."""
    import shutil

    from pyspark.sql import functions as F

    from rusty_timeseries_db_spark.fsutil import SWAP_OLD, write_json_manifest

    docs = _docs(spark)
    path = str(tmp_path / "bm25")
    idx = Bm25Index(spark, path).build(docs)
    idx.remove([1, 3])
    write_json_manifest(spark, idx.marker_path, {"n_tombstones": 2})
    # completed swap, aside copy left behind
    shutil.copytree(idx.postings_path, idx.postings_path + SWAP_OLD)
    assert idx.compact() == 2
    assert not os.path.exists(idx.postings_path + SWAP_OLD)
    live = docs.filter(~F.col("doc_id").isin([1, 3]))
    assert _rows(idx.query(TERMS, k=15)) == _rows(
        bm25_topk(live, TERMS, k=15)
    )


def test_removed_ids_policy_matrix_batch_and_stream(spark, tmp_path):
    """ONE removed_ids policy
    (error|skip|readmit) on BOTH doors. Batch add() defaults to error;
    the streaming apply defaults to skip; readmit compacts first and
    then serves the re-published doc with exact scores."""
    from pyspark.sql import functions as F

    from rusty_timeseries_db_spark.streaming.index import apply_bm25_batch

    docs = _docs(spark)
    base = docs.filter(F.col("doc_id") < 400)
    readd = docs.filter(F.col("doc_id") == 8)

    # --- batch door
    path = str(tmp_path / "bm25_batch")
    idx = Bm25Index(spark, path).build(base)
    idx.remove([8])
    with pytest.raises(ValueError, match="remove"):
        idx.add(readd)  # default error
    assert idx.add(readd, removed_ids="skip") == 0  # dropped, rest empty
    assert idx._dir_exists(idx.tombstones_path)
    assert idx.add(readd, removed_ids="readmit") == 1  # compacts, adds
    assert not idx._dir_exists(idx.tombstones_path)
    assert _rows(idx.query(TERMS, k=15)) == _rows(
        bm25_topk(base, TERMS, k=15)
    )

    # --- streaming door (same knob, policy implemented once in add())
    path2 = str(tmp_path / "bm25_stream")
    idx2 = Bm25Index(spark, path2).build(base)
    idx2.remove([8])
    with pytest.raises(ValueError, match="remove"):
        apply_bm25_batch(spark, path2, readd, batch_id=1,
                         removed_ids="error")
    assert apply_bm25_batch(spark, path2, readd, batch_id=1) == 0  # skip
    assert apply_bm25_batch(
        spark, path2, readd, batch_id=2, removed_ids="readmit"
    ) == 1
    assert _rows(idx2.query(TERMS, k=15)) == _rows(
        bm25_topk(base, TERMS, k=15)
    )
    with pytest.raises(ValueError, match="skip|error|readmit"):
        apply_bm25_batch(spark, path2, readd, batch_id=3,
                         removed_ids="bogus")


def test_concurrent_staging_dirs_do_not_collide(spark, tmp_path):
    """Staging is per-call — two interleaved stage
    calls (the concurrent-writer window) must not clobber each other's
    staged batches."""
    from pyspark.sql import functions as F

    docs = _docs(spark)
    path = str(tmp_path / "bm25")
    idx = Bm25Index(spark, path).build(docs.filter(F.col("doc_id") < 100))
    a, pa, na, _ = idx._stage_docs(
        docs.filter(F.col("doc_id").between(100, 109)), "doc_id", "text")
    b, pb, nb, _ = idx._stage_docs(
        docs.filter(F.col("doc_id").between(110, 124)), "doc_id", "text")
    assert pa != pb
    assert a.count() == 10 and b.count() == 15  # neither overwrote
    assert na == 10 and nb == 15  # observed stats match the frozen rows
    from rusty_timeseries_db_spark.fsutil import delete_path

    delete_path(spark, pa)
    delete_path(spark, pb)


def test_streaming_removal_sink_parity_with_batch_remove(spark, tmp_path):
    """A deletion-request stream == the same ids removed batch-wise:
    identical post-remove query results and manifest accounting, with
    content-idempotent replays (no watermark needed — re-removing is a
    no-op by construction). Covers both index kinds through the one
    sink entry."""
    import json as _json

    from pyspark.sql import functions as F

    from rusty_timeseries_db_spark.streaming.index import (
        apply_removal_batch,
        start_index_removal_sink,
    )

    docs = _docs(spark)
    victims = [3, 13, 23, 33]

    # reference: batch remove
    ref_path = str(tmp_path / "bm25_ref")
    ref = Bm25Index(spark, ref_path).build(docs)
    ref.remove(victims)
    want = _rows(ref.query(TERMS, k=20))

    # streamed: same build, ids arrive as two micro-batches
    path = str(tmp_path / "bm25")
    idx = Bm25Index(spark, path).build(docs)
    src = str(tmp_path / "drop")
    os.makedirs(src)
    for fname, ids in [("a.json", victims[:2]), ("zz.json", victims[2:])]:
        with open(os.path.join(src, fname), "w") as f:
            for i in ids:
                f.write(_json.dumps({"doc_id": i}) + "\n")
    first = os.path.join(src, "a.json")
    os.utime(os.path.join(src, "zz.json"),
             (os.path.getmtime(first) + 10, os.path.getmtime(first) + 10))

    stream = (
        spark.readStream.schema("doc_id long")
        .option("maxFilesPerTrigger", "1")
        .json(src)
    )
    q = start_index_removal_sink(
        stream, path, str(tmp_path / "ckpt"), kind="bm25",
        available_now=True,
    )
    assert q.awaitTermination(180)

    assert _rows(idx.query(TERMS, k=20)) == want
    man = idx._manifest()
    assert man["n_removed"] == len(victims)
    assert man["n_docs"] == docs.count() - len(victims)

    # content-idempotent replay: same ids again remove nothing
    again = spark.createDataFrame([(i,) for i in victims], "doc_id long")
    assert apply_removal_batch(spark, path, again, kind="bm25") == 0
    assert _rows(idx.query(TERMS, k=20)) == want

    import pytest as _pytest

    with _pytest.raises(ValueError, match="bm25|ivf"):
        apply_removal_batch(spark, path, again, kind="nope")


def test_should_compact_threshold_both_indexes(spark, tmp_path):
    """should_compact(): False with no removals, flips past the
    tombstone-fraction threshold, resets after compact() — on BOTH
    index kinds."""
    from pyspark.sql import functions as F

    from rusty_timeseries_db_spark.operators.similarity import IvfIndex
    from tests.conftest import SF_DIR

    docs = _docs(spark).filter(F.col("doc_id") < 100)
    path = str(tmp_path / "bm25")
    idx = Bm25Index(spark, path).build(docs)
    assert not idx.should_compact()
    idx.remove(list(range(0, 100, 3)))  # 34 of 100 > 20%
    assert idx.should_compact()
    assert not idx.should_compact(max_removed_frac=0.5)
    idx.compact()
    assert not idx.should_compact()

    emb = spark.read.parquet(
        os.path.join(SF_DIR, "embeddings.parquet")
    ).select("vec_id", "embedding")
    ipath = str(tmp_path / "ivf")
    ivf = IvfIndex(spark, ipath).build(
        emb.filter(F.col("vec_id") < 100), n_clusters=4, seed=7
    )
    assert not ivf.should_compact()
    ivf.remove(list(range(0, 100, 3)))
    assert ivf.should_compact()
    ivf.compact()
    assert not ivf.should_compact()


# ----------------------- combined add+remove (one-topic) sink

def test_apply_index_ops_batch_bm25(spark, tmp_path):
    """One micro-batch mixing adds and removes: the survivors must
    score EXACTLY like a fresh build on the live set; an add and a
    remove for the SAME id in one batch leaves the id tombstoned
    (removes apply last); a replayed batch skips its adds (watermark)
    while its removes re-apply as content-idempotent no-ops."""
    from pyspark.sql import functions as F

    from rusty_timeseries_db_spark.streaming.index import (
        apply_index_ops_batch,
    )

    docs = _docs(spark).filter(F.col("doc_id") < 60)
    base = docs.filter(F.col("doc_id") < 40)
    newdocs = docs.filter(F.col("doc_id") >= 40)
    path = str(tmp_path / "bm25")
    idx = Bm25Index(spark, path).build(base)

    # batch: add docs 40-59, remove docs 0-9, AND both add and
    # remove doc 50 (the same-batch interleave -> must end removed)
    ops = (
        newdocs.select("doc_id", "text").withColumn("op", F.lit("add"))
        .unionByName(
            docs.filter(
                (F.col("doc_id") < 10) | (F.col("doc_id") == 50)
            ).select("doc_id", "text").withColumn("op", F.lit("remove"))
        )
    )
    n_added, n_removed = apply_index_ops_batch(
        spark, path, ops, batch_id=0, kind="bm25"
    )
    assert n_added == 20 and n_removed == 11

    live = docs.filter(
        (F.col("doc_id") >= 10) & (F.col("doc_id") != 50)
    )
    want = _rows(Bm25Index(spark, str(tmp_path / "ref")).build(live)
                 .query(TERMS, k=30))
    got = _rows(Bm25Index(spark, path).query(TERMS, k=30))
    assert got == want

    # replay: adds skipped, removes no-op, results unchanged
    n_added2, n_removed2 = apply_index_ops_batch(
        spark, path, ops, batch_id=0, kind="bm25"
    )
    assert n_added2 == 0 and n_removed2 == 0
    assert _rows(Bm25Index(spark, path).query(TERMS, k=30)) == want

    # unknown op is corruption, not data
    import pytest

    bad = newdocs.limit(1).select("doc_id", "text").withColumn(
        "op", F.lit("upsert")
    )
    with pytest.raises(ValueError, match="upsert"):
        apply_index_ops_batch(spark, path, bad, batch_id=1, kind="bm25")


def test_apply_index_ops_batch_ivf(spark, tmp_path):
    """The IVF leg of the combined sink: adds route to frozen
    nearest cells, removes tombstone, and the post-batch query equals
    add-then-remove applied through the single-purpose doors."""
    import os

    from pyspark.sql import functions as F

    from rusty_timeseries_db_spark.operators.similarity import IvfIndex
    from rusty_timeseries_db_spark.streaming.index import (
        apply_index_ops_batch,
    )
    from tests.conftest import SF_DIR

    emb = spark.read.parquet(
        os.path.join(SF_DIR, "embeddings.parquet")
    ).select("vec_id", "embedding")
    base = emb.filter((F.col("vec_id") >= 20) & (F.col("vec_id") < 120))
    newv = emb.filter((F.col("vec_id") >= 120) & (F.col("vec_id") < 140))
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )

    path = str(tmp_path / "ivf")
    IvfIndex(spark, path).build(base, n_clusters=4, seed=7)
    ops = (
        newv.withColumn("op", F.lit("add"))
        .unionByName(
            emb.filter(
                (F.col("vec_id") >= 20) & (F.col("vec_id") < 30)
            ).withColumn("op", F.lit("remove"))
        )
    )
    n_added, n_removed = apply_index_ops_batch(
        spark, path, ops, batch_id=0, kind="ivf"
    )
    assert n_added == 20 and n_removed == 10

    ref_path = str(tmp_path / "ref")
    ref = IvfIndex(spark, ref_path).build(base, n_clusters=4, seed=7)
    ref.add(newv)
    ref.remove(list(range(20, 30)))
    want = sorted(
        (r.query_id, r.vec_id, r.rank)
        for r in ref.query(queries, k=5, n_probe=2).collect()
    )
    got = sorted(
        (r.query_id, r.vec_id, r.rank)
        for r in IvfIndex(spark, path).query(
            queries, k=5, n_probe=2
        ).collect()
    )
    assert got == want and len(got) > 0


def test_streaming_ops_sink_end_to_end(spark, tmp_path):
    """The combined add+remove sink through the REAL writeStream:
    one JSON-dir topic carries adds (with text) and removes (id +
    op only), drained availableNow — the served index must equal a
    fresh build on the live set."""
    import json as _json
    import os

    from pyspark.sql import functions as F

    from rusty_timeseries_db_spark.streaming.index import (
        start_index_ops_sink,
    )

    docs = _docs(spark).select("doc_id", "text").filter(
        F.col("doc_id") < 80
    )
    base = docs.filter(F.col("doc_id") < 50)
    path = str(tmp_path / "bm25")
    Bm25Index(spark, path).build(base)

    src = str(tmp_path / "topic")
    os.makedirs(src)
    with open(os.path.join(src, "b0.json"), "w") as f:
        for r in docs.filter(F.col("doc_id") >= 50).collect():
            f.write(_json.dumps(
                {"doc_id": r.doc_id, "text": r.text, "op": "add"}) + "\n")
        for i in range(0, 10):
            f.write(_json.dumps(
                {"doc_id": i, "text": None, "op": "remove"}) + "\n")

    stream = spark.readStream.schema(
        "doc_id long, text string, op string"
    ).json(src)
    q = start_index_ops_sink(
        stream, path, str(tmp_path / "ckpt"), kind="bm25",
        available_now=True,
    )
    assert q.awaitTermination(180)

    live = docs.filter(F.col("doc_id") >= 10)
    want = _rows(Bm25Index(spark, str(tmp_path / "ref")).build(live)
                 .query(TERMS, k=25))
    assert _rows(Bm25Index(spark, path).query(TERMS, k=25)) == want


# ---------------------------------------------- TF-IDF cosine scorer


def _tfidf_reference(spark, docs, terms, k):
    """nnc.ltc recomputed from the corpus with plain DataFrame ops —
    independent of the index machinery."""
    import math

    from pyspark.sql import functions as F

    rows = docs.select("doc_id", F.lower("text").alias("t")).collect()
    tf_all = {}
    for r in rows:
        ws = [w for w in r.t.split(" ") if w]
        d = {}
        for w in ws:
            d[w] = d.get(w, 0) + 1
        tf_all[r.doc_id] = d
    n_docs = float(len(rows))
    qts = sorted(set(terms))
    dfq = {
        t: float(sum(1 for d in tf_all.values() if t in d)) for t in qts
    }
    w = {
        t: math.log(1 + (n_docs - dfq[t] + 0.5) / (dfq[t] + 0.5))
        for t in qts
        if dfq[t] > 0
    }
    qn = math.sqrt(sum(x * x for x in w.values()))
    out = []
    for doc, d in tf_all.items():
        dn = math.sqrt(sum(v * v for v in d.values()))
        hit = [t for t in w if t in d]
        if not hit:
            continue
        s = sum(d[t] * w[t] / (dn * qn) for t in hit)
        out.append((doc, len(hit), round(s, 6)))
    out.sort(key=lambda x: (-x[2], x[0]))
    # top-k set, then the _rows() comparison order (score asc, id asc)
    return sorted(out[:k], key=lambda x: (x[2], x[0]))


def test_query_tfidf_matches_reference(spark, tmp_path):
    docs = _docs(spark)
    idx = Bm25Index(spark, str(tmp_path / "bm25")).build(docs)
    got = _rows(idx.query_tfidf(TERMS, k=20))
    want = _tfidf_reference(spark, docs, TERMS, 20)
    assert got == want
    assert len(got) == 20
    # cosine is a true cosine: bounded (0, 1]
    assert all(0 < c <= 1 for _, _, c in got)


def test_query_tfidf_exact_through_lifecycle(spark, tmp_path):
    """add() writes batch-local norms, remove() adjusts df — cosine
    results must equal a fresh reference over the LIVE corpus at
    every stage, and compact() must not change them."""
    from pyspark.sql import functions as F

    docs = _docs(spark)
    path = str(tmp_path / "bm25")
    idx = Bm25Index(spark, path).build(docs.filter(F.col("doc_id") % 3 != 0))
    idx.add(docs.filter(F.col("doc_id") % 3 == 0))
    want_full = _tfidf_reference(spark, docs, TERMS, 15)
    assert _rows(idx.query_tfidf(TERMS, k=15)) == want_full

    removed = docs.filter(F.col("doc_id") % 7 == 2)
    idx.remove(removed.select("doc_id"))
    live = docs.filter(F.col("doc_id") % 7 != 2)
    want_live = _tfidf_reference(spark, live, TERMS, 15)
    assert _rows(idx.query_tfidf(TERMS, k=15)) == want_live

    idx.compact()
    assert _rows(idx.query_tfidf(TERMS, k=15)) == want_live


def test_query_tfidf_requires_tfn2_manifest_flag(spark, tmp_path):
    from rusty_timeseries_db_spark.fsutil import (
        read_json_manifest,
        write_json_manifest,
    )

    docs = _docs(spark)
    path = str(tmp_path / "bm25")
    idx = Bm25Index(spark, path).build(docs)
    ver, man = idx._manifest_cas()
    man.pop("tfn2")
    idx._commit_manifest(man, expected=ver)
    with pytest.raises(ValueError, match="tfn2"):
        idx.query_tfidf(TERMS)
    # bm25 scoring is unaffected by the missing flag
    assert idx.query(TERMS, k=5).count() == 5


# --------------------------------------------- ranking-quality metrics


def test_ranking_metrics_hand_computed(spark):
    import math

    from rusty_timeseries_db_spark.operators.retrieval import (
        ranking_metrics,
    )

    # qa: ranked docs 1..4; rels 0,2,1,0  (doc5 rel 3 NOT retrieved)
    # qb: nothing relevant anywhere
    results = spark.createDataFrame(
        [("qa", d, r) for r, d in enumerate([1, 2, 3, 4], start=1)]
        + [("qb", 9, 1), ("qb", 8, 2)],
        "query_id string, doc_id long, rank int",
    )
    labels = spark.createDataFrame(
        [("qa", 2, 2), ("qa", 3, 1), ("qa", 5, 3)],
        "query_id string, doc_id long, rel int",
    )
    got = {
        r.query_id: r
        for r in ranking_metrics(results, labels, k=3).collect()
    }

    def q9(x):
        return round(x, 9)

    dcg = q9((2**2 - 1) / math.log2(3)) + q9((2**1 - 1) / math.log2(4))
    # ideal order: doc5(3), doc2(2), doc3(1)
    idcg = (
        q9((2**3 - 1) / math.log2(2))
        + q9((2**2 - 1) / math.log2(3))
        + q9((2**1 - 1) / math.log2(4))
    )
    assert got["qa"].ndcg == round(dcg / idcg, 6)
    assert got["qa"].mrr == 0.5          # first relevant at rank 2
    assert got["qa"].recall_k == round(2 / 3, 6)
    assert got["qa"].n_rel == 3
    # no relevant labels at all -> all-zero row, not a missing row
    assert (got["qb"].ndcg, got["qb"].mrr, got["qb"].recall_k,
            got["qb"].n_rel) == (0.0, 0.0, 0.0, 0)


def test_ranking_metrics_k_cut_and_perfect(spark):
    from rusty_timeseries_db_spark.operators.retrieval import (
        ranking_metrics,
    )

    # perfect ranking at k=2: the two relevant docs first, in ideal
    # order -> ndcg 1.0; a rank-3 relevant doc is outside k
    results = spark.createDataFrame(
        [("q", 1, 1), ("q", 2, 2), ("q", 3, 3)],
        "query_id string, doc_id long, rank int",
    )
    labels = spark.createDataFrame(
        [("q", 1, 2), ("q", 2, 1), ("q", 3, 1)],
        "query_id string, doc_id long, rel int",
    )
    row = ranking_metrics(results, labels, k=2).collect()[0]
    assert row.ndcg == 1.0
    assert row.mrr == 1.0
    assert row.recall_k == round(2 / 3, 6)

    import pytest as _pytest

    with _pytest.raises(ValueError, match="k must be"):
        ranking_metrics(results, labels, k=0)


def test_ranking_metrics_zero_result_query_emits_zero_row(spark):
    """A query with labels but NO retrieved rows must
    emit its all-zero row (n_rel intact), not vanish."""
    from rusty_timeseries_db_spark.operators.retrieval import (
        ranking_metrics,
    )

    results = spark.createDataFrame(
        [("qa", 1, 1)], "query_id string, doc_id long, rank int"
    )
    labels = spark.createDataFrame(
        [("qa", 1, 1), ("missing", 5, 2), ("missing", 6, 1)],
        "query_id string, doc_id long, rel int",
    )
    got = {r.query_id: r for r in ranking_metrics(results, labels, k=3).collect()}
    assert set(got) == {"qa", "missing"}
    m = got["missing"]
    assert (m.ndcg, m.mrr, m.recall_k, m.n_rel) == (0.0, 0.0, 0.0, 2)
    assert got["qa"].ndcg == 1.0


def test_rbo_identical_and_disjoint_lists(spark):
    """Truncated RBO sanity on the same machinery the declared query
    uses: identical lists -> sum_{d<=k} (1-p) p^(d-1) (the truncated
    maximum, < 1 by design); disjoint lists -> 0."""
    from pyspark.sql import Window, functions as F

    def rbo(pairs, k=5, p=0.9):
        m = spark.createDataFrame(pairs, "mx int")
        depths = spark.range(1, k + 1).select(F.col("id").alias("d"))
        counted = depths.join(
            F.broadcast(m), F.col("mx") <= F.col("d"), "left"
        ).groupBy("d").agg(F.count("mx").alias("overlap"))
        term = F.round(
            F.lit(1 - p) * F.pow(F.lit(p), F.col("d") - 1)
            * F.col("overlap") / F.col("d"), 9,
        ).cast("decimal(38,9)")
        return float(
            counted.agg(F.round(F.sum(term), 6)).first()[0]
        )

    k, p = 5, 0.9
    # identical lists: every doc's max rank = its rank -> overlap(d)=d
    ident = [(i,) for i in range(1, k + 1)]
    want = round(sum(
        round((1 - p) * p ** (d - 1) * 1.0, 9) for d in range(1, k + 1)
    ), 6)
    assert rbo(ident) == want
    assert 0 < want < 1
    # disjoint lists: no shared docs -> no m rows -> rbo 0
    assert rbo([]) == 0.0
