"""Enforced single-writer contract on the persisted indexes: the manifest
commit is a compare-and-
swap, so two interleaved mutators SERIALIZE OR RAISE — the second
writer gets ``ManifestVersionConflict`` instead of silently clobbering
the first's N/sum_dl/n_rows accounting."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F  # noqa: F401

from rusty_timeseries_db_spark.fsutil import ManifestVersionConflict
from rusty_timeseries_db_spark.operators.retrieval import Bm25Index
from rusty_timeseries_db_spark.operators.similarity import IvfIndex

DOCS = [
    (1, "the quick brown fox jumps"),
    (2, "pack my box with five dozen jugs"),
    (3, "sphinx of black quartz judge my vow"),
    (4, "how vexingly quick daft zebras jump"),
]


def _docs(spark, rows=DOCS):
    return spark.createDataFrame(rows, "doc_id int, text string")


def test_bm25_concurrent_add_conflicts_not_clobbers(spark, tmp_path):
    path = str(tmp_path / "bm25")
    idx = Bm25Index(spark, path).build(_docs(spark))
    man0 = idx._manifest()

    real_cas = Bm25Index._manifest_cas
    fired = {"done": False}

    def hooked(self):
        got = real_cas(self)  # the outer add's (stale-to-be) snapshot
        if not fired["done"]:
            fired["done"] = True
            Bm25Index._manifest_cas = real_cas  # unhook for inner add
            # a SECOND writer's add() runs to completion between the
            # outer add's manifest read and its commit
            Bm25Index(spark, path).add(
                _docs(spark, [(10, "interleaved writer lands first")])
            )
        return got

    Bm25Index._manifest_cas = hooked
    try:
        with pytest.raises(ManifestVersionConflict, match="concurrent"):
            idx.add(_docs(spark, [(20, "loser writer must not clobber")]))
    finally:
        Bm25Index._manifest_cas = real_cas

    # the interleaved writer's accounting SURVIVED; the loser's was
    # never applied (its physical appends are the documented crash-
    # equivalent at-least-once residue — accounting stays consistent
    # with the winner's commit)
    man = idx._manifest()
    assert man["n_docs"] == man0["n_docs"] + 1
    assert man["n_added"] == 1
    # the index still serves
    assert idx.query(["quick"], k=5).count() > 0


def test_bm25_concurrent_remove_conflicts(spark, tmp_path):
    """remove() carries the same CAS token through its derive-and-
    commit, so an interleaved add() makes it raise instead of writing
    stats from a stale snapshot."""
    path = str(tmp_path / "bm25")
    idx = Bm25Index(spark, path).build(_docs(spark))

    real_cas = Bm25Index._manifest_cas
    fired = {"done": False}

    def hooked(self):
        got = real_cas(self)
        if not fired["done"]:
            fired["done"] = True
            Bm25Index._manifest_cas = real_cas
            Bm25Index(spark, path).add(
                _docs(spark, [(10, "interleaved add during remove")])
            )
        return got

    Bm25Index._manifest_cas = hooked
    try:
        with pytest.raises(ManifestVersionConflict, match="concurrent"):
            idx.remove([1])
    finally:
        Bm25Index._manifest_cas = real_cas
    # winner's accounting intact
    assert idx._manifest()["n_docs"] == len(DOCS) + 1


def test_bm25_compact_vs_add_conflicts(spark, tmp_path):
    """compact() pins its CAS token at the OPENING manifest read
    (matching IvfIndex.compact) and re-verifies it
    immediately before the first destructive swap, so an
    add() landing during the pre-swap bookkeeping raises BEFORE any
    data is touched: the marker is dropped, the tombstones survive,
    and a plain re-run of compact() performs the full compaction
    against fresh state with the interleaved add's rows intact."""
    path = str(tmp_path / "bm25")
    idx = Bm25Index(spark, path).build(_docs(spark))
    idx.remove([1])
    man_after_remove = idx._manifest()

    real_cas = Bm25Index._manifest_cas
    fired = {"done": False}

    def hooked(self):
        got = real_cas(self)  # compact's opening (to-be-stale) snapshot
        if not fired["done"]:
            fired["done"] = True
            Bm25Index._manifest_cas = real_cas  # unhook for inner add
            Bm25Index(spark, path).add(
                _docs(spark, [(10, "interleaved add during compact")])
            )
        return got

    Bm25Index._manifest_cas = hooked
    try:
        with pytest.raises(
            ManifestVersionConflict, match="index is intact"
        ):
            idx.compact()
    finally:
        Bm25Index._manifest_cas = real_cas

    # the interleaved add's accounting survived — compact's stale
    # snapshot (n_docs from before the add) was never applied over it
    man = idx._manifest()
    assert man["n_docs"] == man_after_remove["n_docs"] + 1
    assert man["n_added"] == man_after_remove.get("n_added", 0) + 1
    # the pre-swap conflict dropped the marker and left the index
    # UNTOUCHED (tombstones still pending) — the index serves
    # tombstone-filtered in the meantime, and a plain re-run applies
    # the pending tombstone for real, including the interleaved doc
    assert man["n_removed"] == 1
    assert idx.compact() == 1
    assert idx._manifest()["n_removed"] == 0
    assert idx.query(["interleaved"], k=5).count() == 1
    assert idx.query(["fox"], k=5).count() == 0  # doc 1 physically gone


def test_bm25_compact_post_swap_conflict_names_data_loss(spark, tmp_path):
    """A writer that slips in AFTER compact()'s pre-swap re-check (its
    token was read before the marker landed) is caught by the FINAL
    CAS commit — and that conflict must say rows may have been
    physically dropped and advise a rebuild, not the generic
    're-read and retry' wording."""
    path = str(tmp_path / "bm25")
    idx = Bm25Index(spark, path).build(_docs(spark))
    idx.remove([1])

    real_verify = Bm25Index._verify_manifest_unmoved

    def verify_then_interleave(self, expected):
        real_verify(self, expected)  # passes — writer lands after it
        Bm25Index._verify_manifest_unmoved = real_verify
        # simulate the racing writer's commit landing mid-rewrite: it
        # pinned its token before the marker, so only the version bump
        # is visible to compact (its rows went to the pre-swap dirs)
        ver, man = self._manifest_cas()
        man["n_docs"] = int(man["n_docs"]) + 1
        man["n_added"] = int(man.get("n_added", 0)) + 1
        self._commit_manifest(man, expected=ver)

    Bm25Index._verify_manifest_unmoved = verify_then_interleave
    try:
        with pytest.raises(
            ManifestVersionConflict, match="physically dropped"
        ):
            idx.compact()
    finally:
        Bm25Index._verify_manifest_unmoved = real_verify

    # the interleaved accounting was NOT clobbered by compact's stale
    # snapshot, and the marker stays (the swap DID happen) — a re-run
    # converges the bookkeeping per the documented crash protocol
    assert idx._manifest()["n_added"] == 1
    assert idx.compact() == 0
    assert idx._manifest()["n_removed"] == 0


def test_ivf_concurrent_add_conflicts_not_clobbers(spark, tmp_path):
    from rusty_timeseries_db_spark.queries import T
    from tests.conftest import SF_DIR

    emb = T(spark, SF_DIR, "embeddings").select("vec_id", "embedding")
    path = str(tmp_path / "ivf")
    idx = IvfIndex(spark, path).build(
        emb.filter("vec_id >= 20"), n_clusters=4, seed=7
    )
    n0 = idx._manifest()["n_rows"]

    real_cas = IvfIndex._manifest_cas
    fired = {"done": False}

    def hooked(self):
        got = real_cas(self)
        if not fired["done"]:
            fired["done"] = True
            IvfIndex._manifest_cas = real_cas
            IvfIndex(spark, path).add(emb.filter("vec_id == 10"))
        return got

    IvfIndex._manifest_cas = hooked
    try:
        with pytest.raises(ManifestVersionConflict, match="concurrent"):
            idx.add(emb.filter("vec_id == 11"))
    finally:
        IvfIndex._manifest_cas = real_cas

    man = idx._manifest()
    assert man["n_rows"] == n0 + 1  # winner only
    assert man["n_added"] == 1


def test_ivf_compact_vs_add_raises_before_touching_data(spark, tmp_path):
    """IvfIndex.compact mirrors the Bm25 pre-swap CAS re-check:
    an add() landing during compact's pre-swap
    bookkeeping raises with the cell tree UNTOUCHED — tombstones
    still pending, marker dropped, and a plain re-run performs the
    full compaction including the interleaved rows."""
    from rusty_timeseries_db_spark.queries import T
    from tests.conftest import SF_DIR

    emb = T(spark, SF_DIR, "embeddings").select("vec_id", "embedding")
    path = str(tmp_path / "ivf")
    idx = IvfIndex(spark, path).build(
        emb.filter("vec_id >= 20"), n_clusters=4, seed=7
    )
    n_removed = idx.remove(
        emb.filter("vec_id >= 20 and vec_id % 10 == 3").select("vec_id")
    )
    assert n_removed > 0

    real_cas = IvfIndex._manifest_cas
    fired = {"done": False}

    def hooked(self):
        got = real_cas(self)  # compact's opening (to-be-stale) snapshot
        if not fired["done"]:
            fired["done"] = True
            IvfIndex._manifest_cas = real_cas
            IvfIndex(spark, path).add(emb.filter("vec_id == 10"))
        return got

    IvfIndex._manifest_cas = hooked
    try:
        with pytest.raises(ManifestVersionConflict, match="index is intact"):
            idx.compact()
    finally:
        IvfIndex._manifest_cas = real_cas

    man = idx._manifest()
    assert man["n_added"] == 1  # interleaved add's accounting survived
    assert man["n_removed"] == n_removed  # tombstones still pending
    # re-run compacts for real; the interleaved vector serves after
    assert idx.compact() == n_removed
    assert idx._manifest()["n_removed"] == 0
    q = emb.filter("vec_id == 10").select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = idx.query(q, k=1, n_probe=4).collect()
    assert got and got[0].vec_id == 10  # nearest to itself
