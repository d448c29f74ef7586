"""Shared deletion-lifecycle plumbing for the persisted indexes
(round 14 review: ``Bm25Index`` and ``IvfIndex`` carried verbatim
copies of these four helpers — crash-safety-critical code must have
ONE implementation, or a fix lands in one index and not the other).

The mixin owns what is genuinely identical across index layouts: the
compacting-marker guard, the tombstone sidecar read, the existence
probe, and the compact-advice threshold. ``remove()``/``compact()``
stay per-index — postings/terms/docs vs a cell tree are different
enough that sharing them would mean parameterizing every line.

Host-class contract: ``self.spark``, ``self.index_path``,
``self.tombstones_path``, ``self.marker_path``, ``self._manifest()``,
and ``_ROWS_FIELD`` (the manifest key holding the LIVE row/doc count
— ``"n_docs"`` for BM25, ``"n_rows"`` for IVF).

Manifest writes are compare-and-swap (round 15 — VERDICT r14
next-round #5): every mutator reads a CAS token with its manifest
snapshot and commits through :meth:`_commit_manifest`, which raises
``fsutil.ManifestVersionConflict`` when another writer committed in
between — the single-writer contract is now ENFORCED (serialize or
raise), not just documented: two interleaved ``add()``s can no longer
each bump N/sum_dl from its own stale snapshot with one bump silently
lost. Versions live in a SIBLING directory ``<index>.manifest/``
(never inside the index root — the IVF cell tree IS a parquet root).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


class IndexLifecycleMixin:
    #: manifest key of the live row/doc count (host class overrides)
    _ROWS_FIELD = "n_rows"

    #: stem of the versioned manifest files inside the sibling dir
    _MANIFEST_STEM = "manifest"

    @property
    def _manifest_dir(self) -> str:
        """Sibling directory holding the versioned manifest commits —
        ``<index>.manifest/manifest.v<N>.json``."""
        return self.index_path.rstrip("/") + ".manifest"

    def _read_manifest_cas(self) -> "tuple[int | None, dict | None]":
        """(CAS token, payload) of the highest committed versioned
        manifest; (None, None) on a never-built index (the first CAS
        write then expects 'no version yet', so two concurrent first
        build() calls still conflict)."""
        from ..fsutil import read_versioned_manifest_versioned

        got = read_versioned_manifest_versioned(
            self.spark, self._manifest_dir, self._MANIFEST_STEM
        )
        return (None, None) if got is None else got

    def _commit_manifest(self, payload: dict, expected: "int | None") -> int:
        """CAS manifest commit: raises
        :class:`..fsutil.ManifestVersionConflict` when the committed
        version moved past ``expected`` — another writer interleaved;
        the caller's whole operation must be retried against fresh
        state (its appends may still be physically present — the
        conflict means the ACCOUNTING was not applied, the same
        at-least-once posture as a crash before the manifest bump)."""
        from ..fsutil import ManifestVersionConflict, write_versioned_manifest

        try:
            return write_versioned_manifest(
                self.spark,
                self._manifest_dir,
                self._MANIFEST_STEM,
                payload,
                expected_version=expected,
            )
        except ManifestVersionConflict as e:
            raise ManifestVersionConflict(
                f"concurrent writer detected on index {self.index_path}: "
                "another build()/add()/remove()/compact() (or the "
                "streaming sink) committed between this operation's "
                "manifest read and its commit — the ONE-writer-at-a-"
                "time contract is enforced; re-read and retry against "
                f"the fresh state ({e})"
            ) from e

    #: default tombstone fraction past which compact() is advised —
    #: below it, the per-query anti-join and the dead bytes are noise;
    #: above it, a rewrite pays for itself in scan savings
    DEFAULT_MAX_REMOVED_FRAC = 0.2

    def _dir_exists(self, path: str) -> bool:
        from ..fsutil import fs_for, hpath

        return fs_for(self.spark, path).exists(hpath(self.spark, path))

    def _tombstones(self) -> DataFrame | None:
        if not self._dir_exists(self.tombstones_path):
            return None
        return self.spark.read.parquet(self.tombstones_path)

    def _check_not_compacting(self, verb: str) -> None:
        """query()/add()/remove() all refuse while a compacting marker
        exists — mid-swap state is internally inconsistent, and a
        mutation racing the rewrite could land rows the in-flight
        compact never saw, to be swapped away silently."""
        if self._dir_exists(self.marker_path):
            raise RuntimeError(
                f"an interrupted compact() left this index mid-swap — "
                f"re-run compact() (it converges from any interruption "
                f"point) before {verb}"
            )

    def _verify_manifest_unmoved(self, expected: "int | None") -> None:
        """Pre-destruction CAS re-check (review round 16): re-read the
        committed token and raise
        :class:`..fsutil.ManifestVersionConflict` if another writer
        committed since ``expected`` was pinned at compact()'s opening
        read. Called immediately BEFORE the first destructive swap,
        while the index is still fully intact — a conflict here is
        cheap (drop the marker, retry compact() against fresh state;
        nothing was lost). Not a lock: a writer that read its token
        before the compacting marker landed can still commit between
        this check and the swaps — that residue is caught by the
        post-swap :meth:`_commit_compact_manifest`, whose conflict is
        the expensive kind (rows may already be physically dropped),
        which is exactly why this check shrinks the window first."""
        from ..fsutil import ManifestVersionConflict, delete_path

        now, _ = self._read_manifest_cas()
        if now != expected:
            delete_path(self.spark, self.marker_path)
            raise ManifestVersionConflict(
                f"concurrent writer detected on index {self.index_path} "
                "before compact() touched any data: another "
                "build()/add()/remove() committed between compact()'s "
                f"manifest read (v{expected}) and its first swap "
                f"(v{now}) — the index is intact; re-run compact() "
                "against the fresh state"
            )

    def _commit_compact_manifest(
        self, payload: dict, expected: "int | None"
    ) -> int:
        """compact()'s FINAL manifest commit — runs after the swaps
        and the tombstone drop, so a CAS conflict here means an
        interleaved writer's rows may have been PHYSICALLY DROPPED by
        the just-completed rewrite (it committed accounting for rows
        the swap never saw). Re-raises with that wording instead of
        the generic 're-read and retry' (review round 16): retrying
        compact() would silently converge over the lost rows via the
        tomb-is-None healing path, so the honest fix is a rebuild."""
        from ..fsutil import ManifestVersionConflict

        try:
            return self._commit_manifest(payload, expected=expected)
        except ManifestVersionConflict as e:
            raise ManifestVersionConflict(
                f"concurrent writer detected on index {self.index_path} "
                "AFTER compact() already swapped the rewritten data "
                "into place: the interleaved write's rows may have "
                "been physically dropped by the rewrite. Do NOT just "
                "retry — verify the interleaved operation's rows are "
                "present and rebuild the index with build() if they "
                f"are not ({e})"
            ) from e

    def should_compact(self, max_removed_frac: float | None = None) -> bool:
        """True when the tombstoned fraction ``n_removed / (live +
        n_removed)`` exceeds the threshold — time to schedule
        ``compact()`` (the deletion-side twin of the IVF
        ``should_rebuild`` drift advice). An index with no removals
        never needs one."""
        man = self._manifest()
        live = int(man.get(self._ROWS_FIELD, 0))
        n_removed = int(man.get("n_removed", 0))
        total = live + n_removed
        frac = (n_removed / total) if total > 0 else 0.0
        limit = (
            max_removed_frac
            if max_removed_frac is not None
            else self.DEFAULT_MAX_REMOVED_FRAC
        )
        return frac > limit
