"""Enforced single-writer contract on the persisted indexes: the manifest
commit is a compare-and-swap, so two interleaved mutators SERIALIZE
OR RAISE — the second writer gets ``ManifestVersionConflict`` instead
of silently clobbering the first's N/sum_dl/n_rows accounting. Also
the generation switch behind compact(): a kill at each step of it,
a compact-vs-add race in both orders, and an index in the original
(generation 0) layout."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F  # noqa: F401
from pyspark.sql.readwriter import DataFrameWriter

from rusty_timeseries_db_spark.operators import similarity

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
    """compact() pins its CAS token at the OPENING manifest read, so
    an add() landing right after it makes compact's generation switch
    raise with the served generation untouched: the tombstones
    survive, and a plain re-run of compact() performs the full
    compaction against fresh state with the interleaved add's rows
    intact."""
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
        with pytest.raises(ManifestVersionConflict, match="concurrent"):
            idx.compact()
    finally:
        Bm25Index._manifest_cas = real_cas

    # the interleaved add's accounting survived — compact's stale
    # snapshot (n_docs from before the add) was never applied over it
    man = idx._manifest()
    assert man["n_docs"] == man_after_remove["n_docs"] + 1
    assert man["n_added"] == man_after_remove.get("n_added", 0) + 1
    # the conflict left the served generation UNTOUCHED (tombstones
    # still pending) — the index serves tombstone-filtered in the
    # meantime, and a plain re-run applies the pending tombstone for
    # real, including the interleaved doc
    assert man["n_removed"] == 1
    assert idx.compact() == 1
    assert idx._manifest()["n_removed"] == 0
    assert idx.query(["interleaved"], k=5).count() == 1
    assert idx.query(["fox"], k=5).count() == 0  # doc 1 physically gone


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
    """IvfIndex.compact mirrors the Bm25 case: an add() landing after
    compact's opening read makes the generation switch raise with the
    served cell tree UNTOUCHED — tombstones still pending, and a plain
    re-run performs the full compaction including the interleaved
    rows."""
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
        with pytest.raises(ManifestVersionConflict, match="concurrent"):
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


# -------------------------------------------------- generation switch


def _on_first_call(monkeypatch, owner, name, action, when=None):
    """Run ``action(*args)`` once, before the first call of
    ``owner.name`` whose args satisfy ``when``; every other call runs
    the real function."""
    real = getattr(owner, name)
    fired = []

    def hooked(*args, **kwargs):
        if not fired and (when is None or when(*args)):
            fired.append(True)
            action(*args)
        return real(*args, **kwargs)

    monkeypatch.setattr(owner, name, hooked)


def _kill(*_args):
    raise RuntimeError("killed")


def _lifecycle(spark, tmp_path, kind):
    """(index, served-rows function, late-add batch, id of that
    batch's row) over a built index with pending tombstones."""
    path = str(tmp_path / kind)
    if kind == "bm25":
        idx = Bm25Index(spark, path).build(_docs(spark))
        idx.remove([1])

        def served(i):
            return sorted(
                tuple(r) for r in i.query(["quick", "my", "late"]).collect()
            )

        return idx, served, _docs(spark, [(10, "late quick writer")]), 10
    from rusty_timeseries_db_spark.queries import T
    from tests.conftest import SF_DIR

    emb = T(spark, SF_DIR, "embeddings").select("vec_id", "embedding")
    idx = IvfIndex(spark, path).build(
        emb.filter("vec_id >= 20"), n_clusters=4, seed=7
    )
    idx.remove([22, 24, 33])
    queries = emb.filter("vec_id < 5 or vec_id == 10").select(
        F.col("vec_id").alias("query_id"), "embedding"
    )

    def served(i):
        return sorted(
            (r.query_id, r.vec_id, r.rank)
            for r in i.query(queries, k=3, n_probe=4).collect()
        )

    return idx, served, emb.filter("vec_id == 10"), 10


def _gen_dirs(idx):
    parent, name = os.path.split(idx.index_path)
    return sorted(d for d in os.listdir(parent) if d.startswith(name + ".gen"))


def _gen0_dirs(idx):
    return [p for p in map(idx._gen0_path, idx._PARTS) if os.path.exists(p)]


@pytest.mark.parametrize("kind", ["bm25", "ivf"])
def test_compact_killed_writing_generation_serves_old(
    spark, tmp_path, monkeypatch, kind
):
    """A compact() killed while it writes the new generation leaves the
    manifest and the served generation as they were; a re-run
    converges."""
    idx, served, _, _ = _lifecycle(spark, tmp_path, kind)
    before, man0 = served(idx), idx._manifest()
    _on_first_call(
        monkeypatch, DataFrameWriter, "parquet", _kill,
        when=lambda _w, path, *a: path.startswith(idx.index_path + ".gen"),
    )
    with pytest.raises(RuntimeError, match="killed"):
        idx.compact()
    assert idx._manifest() == man0
    assert served(idx) == before
    monkeypatch.undo()
    assert idx.compact() == man0["n_removed"]
    man = idx._manifest()
    assert man["n_removed"] == 0 and man["generation"] >= 1
    assert served(idx) == before
    assert _gen_dirs(idx) == [f"{kind}.gen{man['generation']}"]
    assert _gen0_dirs(idx) == []


@pytest.mark.parametrize("kind", ["bm25", "ivf"])
def test_compact_killed_before_commit_serves_old(
    spark, tmp_path, monkeypatch, kind
):
    """Killed after the new generation is fully written and before
    the manifest commit: queries serve the pre-compact generation;
    the re-run converges and sweeps the dead generation."""
    idx, served, _, _ = _lifecycle(spark, tmp_path, kind)
    before, man0 = served(idx), idx._manifest()
    _on_first_call(monkeypatch, type(idx), "_commit_manifest", _kill)
    with pytest.raises(RuntimeError, match="killed"):
        idx.compact()
    assert idx._manifest() == man0
    assert _gen_dirs(idx) == [f"{kind}.gen1"]  # written, never named
    assert served(idx) == before
    monkeypatch.undo()
    assert idx.compact() == man0["n_removed"]
    assert idx._manifest()["generation"] == 2
    assert served(idx) == before
    assert _gen_dirs(idx) == [f"{kind}.gen2"]
    assert _gen0_dirs(idx) == []


@pytest.mark.parametrize("kind", ["bm25", "ivf"])
def test_compact_killed_before_sweep_serves_new(
    spark, tmp_path, monkeypatch, kind
):
    """Killed after the commit and before the sweep: queries serve the
    new generation (no tombstones left); the next call sweeps the old
    one."""
    idx, served, _, _ = _lifecycle(spark, tmp_path, kind)
    before, n_removed = served(idx), idx._manifest()["n_removed"]
    _on_first_call(monkeypatch, type(idx), "_sweep", _kill)
    with pytest.raises(RuntimeError, match="killed"):
        idx.compact()
    man = idx._manifest()
    assert man["generation"] == 1 and man["n_removed"] == 0
    assert idx._tombstones(man) is None
    assert served(idx) == before
    assert _gen0_dirs(idx)  # not swept yet
    monkeypatch.undo()
    assert idx.compact() == 0
    assert _gen0_dirs(idx) == []
    assert served(idx) == before
    assert n_removed > 0


@pytest.mark.parametrize("order", ["add_first", "compact_first"])
@pytest.mark.parametrize("kind", ["bm25", "ivf"])
def test_compact_vs_add_race(spark, tmp_path, monkeypatch, kind, order):
    """The loser of a compact-vs-add race raises
    ManifestVersionConflict and none of the winner's rows is lost.
    add_first: the add commits between compact's write of the new
    generation and its commit, so compact loses and the index is
    untouched. compact_first: compact commits between the add's
    manifest read and its append, so the late rows land in the
    superseded generation, unread."""
    idx, served, batch, new_id = _lifecycle(spark, tmp_path, kind)
    fresh = type(idx)(spark, idx.index_path)
    if order == "add_first":
        _on_first_call(
            monkeypatch, type(idx), "_commit_manifest",
            lambda *_: fresh.add(batch),
        )
        with pytest.raises(ManifestVersionConflict, match="concurrent"):
            idx.compact()
        man = idx._manifest()
        assert man.get("generation", 0) == 0 and man["n_added"] == 1
        assert man["n_removed"] > 0
        monkeypatch.undo()
        won = served(idx)
        assert idx.compact() == man["n_removed"]  # the re-run converges
        assert served(idx) == won
    else:
        if kind == "bm25":
            owner, name = Bm25Index, "_stage_docs"
        else:
            owner, name = similarity, "_probe_cells"
        _on_first_call(monkeypatch, owner, name, lambda *_: fresh.compact())
        with pytest.raises(ManifestVersionConflict, match="concurrent"):
            idx.add(batch)
        man = idx._manifest()
        assert man["generation"] == 1 and man["n_added"] == 0
        assert man["n_removed"] == 0
        won = served(idx)
        monkeypatch.undo()
        assert idx.compact() == 0  # sweeps the late rows' generation
        assert _gen0_dirs(idx) == []
        assert served(idx) == won
    ids = {r[0] if kind == "bm25" else r[1] for r in won}
    assert (new_id in ids) == (order == "add_first")
    assert len(won) > 1


@pytest.mark.parametrize("kind", ["bm25", "ivf"])
def test_generation0_layout_queries_adds_removes_compacts(
    spark, tmp_path, kind
):
    """An index whose manifest has no generation field (the layout
    written before generations existed) reads as generation 0 in
    place, takes adds and removes there, and compacts into a sibling
    generation."""
    idx, served, batch, new_id = _lifecycle(spark, tmp_path, kind)
    ver, man = idx._manifest_cas()
    del man["generation"]
    idx._commit_manifest(man, expected=ver)
    assert idx._path(idx._manifest(), "tombstones") == idx._gen0_path(
        "tombstones"
    )
    assert len(served(idx)) > 1
    assert idx.add(batch) == 1
    assert idx.remove([new_id]) == 1
    before, n_removed = served(idx), idx._manifest()["n_removed"]
    assert _gen_dirs(idx) == []
    assert idx.compact() == n_removed
    man = idx._manifest()
    assert man["generation"] == 1 and man["n_removed"] == 0
    assert served(idx) == before
    assert _gen0_dirs(idx) == []
