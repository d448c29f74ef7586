"""Shared Hadoop-FileSystem helpers: scheme-resolved FS access and
the ONE manifest commit protocol every store in the package uses. The
FS is always resolved from the PATH's own scheme, so file://, hdfs://
and s3a:// behave identically.

Every manifest (the streaming sinks' ledgers and pointers, the summary
stores, the persisted indexes, the rollup high-water mark) commits
through :func:`write_versioned_manifest`: write-tmp-then-rename under
a FRESH versioned name, optionally as a compare-and-swap. Stores that
rewrite data (index compaction, summary-store folds) write the new
data under a fresh directory the manifest does not name yet, switch
the manifest to it, then sweep what it superseded; a crash at any
step leaves either the old state or the new one readable. (The
telemetry base's version pointer is the exception: a local file that
``TimeseriesEngine._switch_base`` replaces, read on every serving
request.)
"""

from __future__ import annotations

import json

from pyspark.sql import SparkSession


def hpath(spark: SparkSession, p: str):
    return spark._jvm.org.apache.hadoop.fs.Path(p)


def fs_for(spark: SparkSession, p: str):
    return hpath(spark, p).getFileSystem(spark._jsc.hadoopConfiguration())


def _read_json_manifest(spark: SparkSession, path: str) -> dict | None:
    """The manifest's dict, or None when it does not exist."""
    fs = fs_for(spark, path)
    p = hpath(spark, path)
    if not fs.exists(p):
        return None
    stream = fs.open(p)
    try:
        raw = bytes(
            spark._jvm.org.apache.commons.io.IOUtils.toByteArray(stream)
        )
    finally:
        stream.close()
    return json.loads(raw.decode("utf-8"))


# ---------------------------------------------------------------------------
# Versioned manifest protocol: old-or-new atomicity on any FS
# ---------------------------------------------------------------------------
#
# Each write commits under a FRESH name — ``{stem}.v{N}.json`` with N
# strictly increasing — so the rename never needs to clobber and is
# atomic on every Hadoop FS with atomic rename (POSIX, HDFS; the
# closest available commit on object stores). A crash before the
# rename leaves only the temp file, which readers never open.
# Readers list the versions and take the highest: they observe the old
# manifest or the new one, never neither and never a torn file (the
# in-flight temp is ``...json.tmp``, excluded by the ``*.json`` glob).
# Older versions are garbage-collected KEEPING one predecessor, so a
# reader that listed just before a commit can still open its pick.
# Single writer per manifest (one streaming sink per directory) — same
# contract as the sinks themselves.

import re as _re

_VERSION_RE = _re.compile(r"\.v(\d+)\.json$")


class ManifestVersionConflict(Exception):
    """A compare-and-swap manifest write found the committed version
    moved past the caller's expectation — another writer committed in
    between. The caller's read snapshot is stale: re-read and retry
    (or abort). Raised BEFORE any byte of the new version is renamed
    into place, so the manifest is untouched."""


def _manifest_versions(spark: SparkSession, dir_path: str, stem: str):
    """Sorted [(N, full_path)] of committed versions of a manifest."""
    fs = fs_for(spark, dir_path)
    pattern = hpath(spark, dir_path.rstrip("/") + f"/{stem}.v*.json")
    out = []
    for st in fs.globStatus(pattern) or []:
        m = _VERSION_RE.search(st.getPath().getName())
        if m:
            out.append((int(m.group(1)), str(st.getPath())))
    out.sort()
    return out


def _is_manifest_read_error(e: Exception) -> bool:
    """True for the failures ``_read_json_manifest`` produces on a torn
    or VANISHED manifest file — decode errors (json.JSONDecodeError /
    UnicodeDecodeError ⊂ ValueError), missing-file IO errors
    (FileNotFoundError/IOError ⊂ OSError), and the Py4J-wrapped
    ``java.io.FileNotFoundException`` a GC race surfaces between the
    exists probe and the open. False for everything else (JVM/Py4J
    connectivity, FS auth, ...) — those are environment failures, not
    manifest damage, and must propagate."""
    if isinstance(e, (ValueError, OSError)):
        return True
    jexc = getattr(e, "java_exception", None)
    if jexc is not None:
        try:
            cls = str(jexc.getClass().getName())
        except Exception:
            return False
        return cls.endswith("FileNotFoundException")
    return False


def read_versioned_manifest(
    spark: SparkSession, dir_path: str, stem: str
) -> dict | None:
    """The highest-version manifest's dict, or None when NO version
    exists (cold start). See ``read_versioned_manifest_versioned`` for
    the (version, dict) form CAS writers need."""
    got = read_versioned_manifest_versioned(spark, dir_path, stem)
    return None if got is None else got[1]


def read_versioned_manifest_versioned(
    spark: SparkSession, dir_path: str, stem: str
) -> tuple[int, dict] | None:
    """(version N, dict) of the highest readable manifest version, or
    None when NO version exists (cold start). The N is the CAS token
    for ``write_versioned_manifest(expected_version=N)``.
    A version that vanished (raced the GC — even between the exists
    probe and the open) or fails to decode (torn bytes on a store
    without atomic rename) falls back to the predecessor — the commit
    protocol keeps one. If versions EXIST but none is readable, raise:
    returning None there would let the caller treat a live-but-damaged
    manifest as a cold start and rebuild over it, silently discarding
    the ledger/pointer it held — crashing keeps the
    data and lets an operator repair."""
    last_exc: Exception | None = None
    prev_versions = None
    # nothing-readable is re-listed before raising: an external reader
    # can race TWO writer commits (every version it globbed GC'd away)
    # — the re-list sees the newer, healthy versions and succeeds; only
    # a STABLE unreadable set is genuine damage
    for _attempt in range(3):
        versions = _manifest_versions(spark, dir_path, stem)
        if not versions:
            return None
        for n, path in reversed(versions):
            try:
                payload = _read_json_manifest(spark, path)
            except Exception as e:
                if not _is_manifest_read_error(e):
                    # genuine infrastructure failure (JVM/Py4J hiccup,
                    # FS connectivity/auth): propagate with its own
                    # message — misreporting it as 'every version
                    # unreadable' would direct the operator to repair
                    # healthy manifest files
                    raise
                # torn JSON, or vanished post-glob — try the predecessor
                last_exc = e
                continue
            if payload is not None:
                return (n, payload)
        if versions == prev_versions:
            break  # stable AND unreadable: damage, not a race
        prev_versions = versions
    raise IOError(
        f"every committed version of manifest {dir_path}/{stem} is "
        "unreadable — refusing to treat a damaged manifest as absent "
        "(a rebuild would silently discard its state); inspect/repair "
        f"the {stem}.v*.json files"
    ) from last_exc


def write_versioned_manifest(
    spark: SparkSession,
    dir_path: str,
    stem: str,
    payload: dict,
    expected_version: int | None = ...,
) -> int:
    """Commit the next version of ``{dir_path}/{stem}.v{N}.json`` and
    GC versions older than the predecessor. Returns the committed N.

    ``expected_version`` makes
    the commit a compare-and-swap: pass the N the caller's read
    observed (or None for 'no version existed yet'), and the write
    raises :class:`ManifestVersionConflict` when the committed highest
    version has since moved — the detection a read-modify-write
    maintenance job (EO retention) needs to avoid clobbering a live
    sink's interleaved commit. Omit it (the default) for plain
    last-writer-wins appends (the sinks themselves: single writer by
    contract). The check happens immediately before the rename, so
    the race window shrinks from the caller's whole scan to one
    list→rename gap; on stores whose rename clobbers (POSIX) two
    true-simultaneous CAS writers can still both pass — the contract
    is conflict DETECTION for cooperating writers, not a lock."""
    fs = fs_for(spark, dir_path)
    versions = _manifest_versions(spark, dir_path, stem)
    current = versions[-1][0] if versions else None
    if expected_version is not ... and current != expected_version:
        raise ManifestVersionConflict(
            f"manifest {dir_path}/{stem}: committed version is "
            f"{current}, caller expected {expected_version} — another "
            "writer committed since the caller's read; re-read and "
            "retry"
        )
    n = (versions[-1][0] + 1) if versions else 1
    target = dir_path.rstrip("/") + f"/{stem}.v{n}.json"
    tmp = hpath(spark, target + ".tmp")
    dst = hpath(spark, target)
    fs.mkdirs(hpath(spark, dir_path))
    out = fs.create(tmp, True)  # overwrite=True (a stale tmp is residue)
    try:
        out.write(json.dumps(payload).encode("utf-8"))
    finally:
        out.close()
    if not fs.rename(tmp, dst):
        raise IOError(f"manifest rename failed: {tmp} -> {dst}")
    for old_n, old_path in versions[:-1]:  # keep one predecessor
        fs.delete(hpath(spark, old_path), False)
    return n


def list_dir_names(spark: SparkSession, path: str) -> list[str]:
    """Names of the immediate child DIRECTORIES of ``path`` (empty when
    ``path`` does not exist) — the scheme-agnostic os.listdir."""
    fs = fs_for(spark, path)
    p = hpath(spark, path)
    if not fs.exists(p):
        return []
    return [
        st.getPath().getName() for st in fs.listStatus(p) if st.isDirectory()
    ]


def parquet_data_exists(spark: SparkSession, path: str) -> bool:
    """True iff ``path`` exists and holds at least one DATA file
    (recursive; ``_``/``.``-prefixed bookkeeping files don't count) —
    the FS-level stand-in for "``spark.read.parquet(path)`` would
    succeed" that lets an expected-missing read short-circuit WITHOUT
    a probing read. Probing
    with the reader posts a failed-execution event on analysis
    failure, and once any ``Observation`` has run in the session,
    Spark 4's ObservationManager listener re-analyzes the failed plan
    inside ``onFailure`` and throws — every expected
    PATH_NOT_FOUND / UNABLE_TO_INFER_SCHEMA probe then spams an
    ``ExecutionListenerBus: Listener threw an exception`` ERROR trace
    into otherwise-clean parity/audit logs, burying real failures.
    One FS existence walk costs less than the failed analysis did.

    Bookkeeping filtering applies to every path component BELOW
    ``path``, not just the file's own basename: a
    data-named file inside ``_spark_metadata/`` or a leftover
    ``_tmp/`` staging dir is invisible to ``spark.read.parquet`` too
    (the reader's InMemoryFileIndex prunes hidden DIRECTORIES), so
    counting it here would pass the pre-check and reintroduce the
    failed-read ERROR spam this function exists to prevent. A listed
    file whose fully-qualified path does not prefix-match the base
    (a URI-rendering mismatch that should be unreachable — both come
    from the same FileSystem) is treated as UNKNOWN-HIDDEN and
    skipped rather than judged by basename alone: the
    basename fallback silently reverted to the pre-fix behavior of
    counting data-named files inside bookkeeping directories, and a
    false True here only re-admits the failed-read probe this
    function short-circuits (fail closed costs one recoverable
    ERROR trace; fail open reintroduces the spam class)."""
    fs = fs_for(spark, path)
    p = hpath(spark, path)
    if not fs.exists(p):
        return False
    # fully-qualified base so the relative split below is exact
    base = fs.getFileStatus(p).getPath().toString().rstrip("/")
    it = fs.listFiles(p, True)
    while it.hasNext():
        if _is_visible_data_file(base, it.next().getPath().toString()):
            return True
    return False


def _is_visible_data_file(base: str, fpath: str) -> bool:
    """True iff ``fpath`` (fully qualified) sits under ``base`` with
    no ``_``/``.``-prefixed component below it — the pure filter under
    :func:`parquet_data_exists`, extracted so the unreachable-by-
    construction mismatch branch is pinnable. Fail closed on a base
    mismatch: the components cannot be verified, and
    counting the file by basename alone would re-admit bookkeeping-
    dir contents."""
    if not fpath.startswith(base):
        return False  # unknown-hidden: cannot verify the components
    rel = fpath[len(base):].lstrip("/")
    return not any(
        part.startswith(("_", ".")) for part in rel.split("/")
    )


def delete_path(spark: SparkSession, path: str) -> bool:
    """Recursive delete (scheme-agnostic shutil.rmtree); False if absent."""
    fs = fs_for(spark, path)
    return bool(fs.delete(hpath(spark, path), True))
