"""Streaming-store manifest CAS protocol (medium #2): the
topk/quantile/state stores' manifests commit through
``fsutil.write_versioned_manifest`` with a compare-and-swap token and
a bounded retry-on-conflict loop (``store_common.
update_store_manifest``). Unlike the persisted indexes' serialize-or-
RAISE contract, the sink and the compactor are COOPERATING writers —
each mutates only its own fields — so a conflict retries against the
fresh snapshot and BOTH commits survive; and the flat-manifest
delete-then-rename vanish window is gone (versioned reads are
old-or-new atomic)."""

from __future__ import annotations

from collections import Counter

import pytest

import rusty_timeseries_db_spark.fsutil as fsutil
from rusty_timeseries_db_spark.streaming.sketch import (
    apply_topk_sketch_batch,
    compact_topk_sketch,
    serve_topk,
)
from rusty_timeseries_db_spark.streaming.store_common import (
    read_store_manifest,
    update_store_manifest,
)

ROWS = [
    ("a", d, v)
    for d, vals in enumerate(
        [[1, 1, 1, 2, 2, 3], [1, 4, 4, 4, 2], [5, 5, 1, 1]]
    )
    for v in vals
]


def _df(spark, rows):
    return spark.createDataFrame(rows, "g string, day int, v int")


def test_conflict_between_cas_read_and_write_retries(spark, tmp_path):
    """The exact race: another writer lands BETWEEN
    the committer's CAS read and its write. The stale write must
    conflict and the retry must preserve BOTH writers' fields — the
    interleaved sink watermark AND the compactor's base_upto."""
    store = str(tmp_path / "hh")
    b0, b1, b2 = ROWS[::3], ROWS[1::3], ROWS[2::3]
    apply_topk_sketch_batch(spark, store, _df(spark, b0), 0, ["g"], "v", k=2)
    apply_topk_sketch_batch(spark, store, _df(spark, b1), 1, ["g"], "v", k=2)

    real = fsutil.read_versioned_manifest_versioned
    calls = {"n": 0}

    def hooked(spark_, dir_, stem_):
        got = real(spark_, dir_, stem_)
        calls["n"] += 1
        # call 1 is compact's opening read; call 2 is the CAS loop's —
        # fire the interleaved sink commit AFTER that read returns, so
        # compact's first write is guaranteed stale
        if calls["n"] == 2:
            fsutil.read_versioned_manifest_versioned = real
            apply_topk_sketch_batch(
                spark, store, _df(spark, b2), 2, ["g"], "v", k=2
            )
        return got

    fsutil.read_versioned_manifest_versioned = hooked
    try:
        assert compact_topk_sketch(spark, store) == 2
    finally:
        fsutil.read_versioned_manifest_versioned = real

    man = read_store_manifest(spark, store, "sketch")
    # the interleaved batch-2 commit survived compact's retried write…
    assert man["last_applied_batch"] == 2
    # …and compact's base switch landed too (fold covered batches ≤ 1)
    assert man["base_upto"] == 1
    # served = base(batches 0-1) + delta(batch 2) = full containment
    truth = Counter(v for _, _, v in ROWS)
    served = serve_topk(spark, store, ["g"]).collect()
    assert all(r.n_rows == len(ROWS) for r in served)
    for r in served:
        assert r.count_lo <= truth[r.value] <= r.count_lo + r.err_ub


def test_cas_exhaustion_raises_instead_of_spinning(spark, tmp_path):
    """A writer that loses the CAS race on every attempt (a hostile
    tight-loop committer) gets an honest IOError after the bounded
    retries, never a silent clobber or an infinite spin."""
    store = str(tmp_path / "hh")
    apply_topk_sketch_batch(spark, store, _df(spark, ROWS), 0, ["g"], "v", k=2)

    real = fsutil.read_versioned_manifest_versioned

    def hooked(spark_, dir_, stem_):
        got = real(spark_, dir_, stem_)
        # bump the committed version after EVERY read → every CAS
        # write in the loop sees a moved token
        fsutil.write_versioned_manifest(spark_, dir_, stem_, dict(got[1]))
        return got

    fsutil.read_versioned_manifest_versioned = hooked
    try:
        with pytest.raises(IOError, match="CAS conflicts"):
            update_store_manifest(
                spark, store, "sketch",
                lambda m: m.__setitem__("last_applied_batch", 99),
            )
    finally:
        fsutil.read_versioned_manifest_versioned = real
    # the mutation was never applied from a stale snapshot
    assert read_store_manifest(spark, store, "sketch")[
        "last_applied_batch"
    ] == 0
