"""Shared lifecycle plumbing for the persisted indexes (``Bm25Index``
and ``IvfIndex``): the manifest, the generation layout and its commit
protocol, the tombstone read, and the compact advice. Crash-safety
code has ONE implementation here, so a fix cannot land in one index
and not the other. ``remove()``/``compact()`` stay per-index: postings/
terms/docs and a cell tree differ on nearly every line.

The manifest is versioned and every commit is a compare-and-swap
(``fsutil.write_versioned_manifest``) in the sibling directory
``<index>.manifest/``. A mutator commits against the snapshot it
read, so an interleaved writer raises
``fsutil.ManifestVersionConflict`` instead of losing the other's
accounting.

The index data lives in a GENERATION that the manifest names
(``generation``; absent means 0). Generation 0 is the original layout
(``_gen0_path``); generation g >= 1 is the sibling directory
``<index>.gen<g>/`` (never inside the IVF cell tree, which is a
parquet root). Mutators (``add``/``remove``) append into the generation
their snapshot names. Rewrites (``compact``, ``build`` over an
existing index) go through :meth:`_switch_generation`, the order
``streaming/store_common.compact`` uses:

1. write every part of a fresh generation, which no manifest names;
2. CAS-commit the manifest naming it (the commit point);
3. sweep the older generations.

A crash before 2 leaves the old generation served and a dead new one
that a later switch sweeps; a crash in 3 leaves dead generations the
next compact sweeps. If a mutator commits during a rewrite, the
rewrite loses its CAS with the index untouched; if the rewrite commits
first, the late mutator loses its CAS and its rows sit unread in the
superseded generation. A query holding a superseded snapshot can see
its directories swept under it: retry it.

Host-class contract: ``self.spark``, ``self.index_path``, ``_LABEL``,
``_PARTS`` (the part names of one generation), ``_gen0_path(part)``,
and ``_ROWS_FIELD`` (the manifest key holding the LIVE row/doc count).
"""

from __future__ import annotations

import posixpath

from pyspark.sql import DataFrame

from ..fsutil import (
    ManifestVersionConflict,
    delete_path,
    fs_for,
    hpath,
    list_dir_names,
    read_versioned_manifest_versioned,
    write_versioned_manifest,
)


class IndexLifecycleMixin:
    #: manifest key of the live row/doc count (host class overrides)
    _ROWS_FIELD = "n_rows"

    #: index kind named in errors (host class overrides)
    _LABEL = "index"

    #: stem of the versioned manifest files inside the sibling dir
    _MANIFEST_STEM = "manifest"

    #: default tombstone fraction past which compact() is advised —
    #: below it, the per-query anti-join and the dead bytes are noise;
    #: above it, a rewrite pays for itself in scan savings
    DEFAULT_MAX_REMOVED_FRAC = 0.2

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
        got = read_versioned_manifest_versioned(
            self.spark, self._manifest_dir, self._MANIFEST_STEM
        )
        return (None, None) if got is None else got

    def _manifest_cas(self) -> "tuple[int, dict]":
        """(CAS token, manifest) for mutators; raises on a never-built
        index."""
        ver, man = self._read_manifest_cas()
        if man is None:
            raise FileNotFoundError(
                f"no {self._LABEL} manifest for {self.index_path} — "
                "build() first"
            )
        return ver, man

    def _manifest(self) -> dict:
        return self._manifest_cas()[1]

    def _commit_manifest(self, payload: dict, expected: "int | None") -> int:
        """CAS manifest commit: raises
        :class:`..fsutil.ManifestVersionConflict` when the committed
        version moved past ``expected`` — another writer interleaved;
        the caller's whole operation must be retried against fresh
        state (its appends may still sit in the generation it wrote —
        the conflict means the ACCOUNTING was not applied, the same
        at-least-once posture as a crash before the manifest bump)."""
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

    # -- generations -------------------------------------------------
    def _path(self, man: dict, part: str) -> str:
        """``part``'s directory in the generation ``man`` names."""
        gen = int(man.get("generation", 0))
        if gen == 0:
            return self._gen0_path(part)
        return f"{self.index_path}.gen{gen}/{part}"

    def _generations(self) -> "dict[int, str]":
        """{g: dir} of the generation directories g >= 1 on disk,
        committed or not."""
        parent, name = posixpath.split(self.index_path)
        prefix = name + ".gen"
        return {
            int(d[len(prefix):]): f"{parent}/{d}"
            for d in list_dir_names(self.spark, parent or ".")
            if d.startswith(prefix) and d[len(prefix):].isdigit()
        }

    def _switch_generation(
        self, ver: "int | None", man: dict, write, fresh: bool = False
    ) -> None:
        """The index's one rewrite commit (see the module docstring):
        ``write(root)`` fills every part of a new generation, where
        ``root(part)`` is a part's directory in it, and may add fields
        to ``man``; then ``man``, naming the generation, is
        CAS-committed against ``ver``; then the older generations are
        swept. ``fresh`` (a first build) writes generation 0, the
        original layout, instead."""
        gen = 0 if fresh else max([0, *self._generations()]) + 1
        man["generation"] = gen
        write(lambda part: self._path(man, part))
        self._commit_manifest(man, expected=ver)
        self._sweep(gen)

    def _sweep(self, gen: int) -> None:
        """Delete every generation older than ``gen``. Newer ones are
        left alone: one may be a concurrent rewrite that has not
        committed yet."""
        if gen == 0:
            return
        for part in self._PARTS:
            delete_path(self.spark, self._gen0_path(part))
        for g, d in self._generations().items():
            if g < gen:
                delete_path(self.spark, d)

    # -- tombstones --------------------------------------------------
    def _dir_exists(self, path: str) -> bool:
        return fs_for(self.spark, path).exists(hpath(self.spark, path))

    @property
    def tombstones_path(self) -> str:
        """The current generation's tombstone directory."""
        return self._path(self._manifest(), "tombstones")

    def _tombstones(self, man: dict) -> DataFrame | None:
        path = self._path(man, "tombstones")
        if not self._dir_exists(path):
            return None
        return self.spark.read.parquet(path)

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
