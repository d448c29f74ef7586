"""One batch-versioned delta store behind the four streaming summary
stores — top-k (streaming/sketch.py), KLL quantiles (quantile.py),
Theta (theta.py) and state durations (state.py).

The protocol is Structured Streaming's offset log plus idempotent
sink (SIGMOD 2018), implemented once here:

- **apply** — a micro-batch lands its output at the versioned
  directory ``<data_dir>/batch=<id>/`` (mode=overwrite, so a replay
  after a crash converges instead of double-counting), and the
  manifest's ``last_applied_batch`` watermark advances LAST. A batch
  id at or below the watermark is a replay and is skipped.
- **read** — the committed state is ``base/upto=<base_upto>`` ∪ the
  batches in ``(base_upto, last_applied_batch]``. A crashed,
  uncommitted batch above the watermark and an already-folded batch
  at or below ``base_upto`` (its dir may outlive a crashed sweep) are
  both invisible, so reads never double-count or see half-applied
  state.
- **compact** — fold the committed state into ``base/upto=<wm>``
  (invisible until committed), switch ``base_upto`` in the manifest
  (the commit point), then sweep the folded batches and old bases. A
  crash before the switch leaves an unread base that the next compact
  overwrites; a crash during the sweep leaves dead dirs that reads
  ignore and the next compact sweeps.

The manifest holds two independently owned watermarks: the sink's
``last_applied_batch`` (plus the state store's ``last_obs_versions``)
and the compactor's ``base_upto``. It commits through the versioned
compare-and-swap protocol (``fsutil.write_versioned_manifest``) in
the sibling directory ``<store>.<kind>.manifest/``, so reads are
old-or-new atomic. The sink and the compactor are COOPERATING
writers: each mutates only its own fields, so a CAS conflict (the
other writer advanced ITS fields) re-reads and replays the mutation
against the fresh snapshot, with bounded retry.

A kind supplies only what differs, as a :class:`DeltaStore`: how it
summarizes one batch, the columns it reads, how it folds. Its serve
math stays in its own module.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from .. import fsutil

#: stem of the versioned manifest files inside the sibling dir
_STEM = "manifest"

#: bounded retry for cooperating-writer commits. Conflicts need one
#: interleaved commit each to fire, so even sink+compact+an operator
#: re-run contending simultaneously settle in 2-3 attempts; hitting
#: the cap means a writer is committing in a tight loop — raising the
#: last conflict is more honest than spinning forever.
_MAX_ATTEMPTS = 8


@dataclass(frozen=True)
class DeltaStore:
    """One summary-store kind: its constants and the functions that
    differ between kinds."""

    #: manifest dir suffix: ``<store>.<kind>.manifest/``
    kind: str
    #: names the store in error messages
    label: str
    #: the kind's public apply function, named in error messages
    apply_name: str
    #: value columns read from each part, after the cell keys
    columns: "tuple[tuple[str, ...], ...]"
    #: (parts, cell keys) -> the folded parts of a base snapshot
    fold: "Callable[[tuple, list[str]], tuple]"
    #: (batch, schema) -> the batch's summary rows; None for a kind
    #: that lands its own batches (state)
    summarize: "Callable[[DataFrame, dict], DataFrame] | None" = None
    #: (committed delta rows, cell keys) -> parts, for a kind whose
    #: deltas are not already in base form (top-k)
    decompose: "Callable[[DataFrame, list[str]], tuple] | None" = None
    #: sub-directory of a base snapshot holding each part ("" = root)
    base_parts: "tuple[str, ...]" = ("",)
    #: parent directory of the per-batch versions
    data_dir: str = "summaries"
    #: why ``k`` must not vary, for a kind whose schema carries one
    k_note: str = ""
    #: the kind's serve function, named in error messages
    serve_name: str = "serve"
    #: raised when a serve finds a manifest but nothing committed
    empty_error: type = ValueError


def manifest_dir(store_path: str, kind: str) -> str:
    """Sibling directory holding the versioned manifest commits —
    ``<store>.<kind>.manifest/manifest.v<N>.json`` (never inside the
    store root: ``summaries/``/``deltas/``/``base/`` are parquet
    roots)."""
    return store_path.rstrip("/") + f".{kind}.manifest"


def read_store_manifest(
    spark: SparkSession, store_path: str, kind: str
) -> "dict | None":
    """The store's current manifest dict, or None on a never-started
    store."""
    return fsutil.read_versioned_manifest(
        spark, manifest_dir(store_path, kind), _STEM
    )


def update_store_manifest(
    spark: SparkSession,
    store_path: str,
    kind: str,
    mutate: Callable[[dict], None],
    default: "dict | None" = None,
) -> dict:
    """CAS read-modify-write with bounded retry — the cooperating-
    writer commit every store mutation goes through. Each attempt
    re-reads the FRESH manifest (falling back to ``default`` — the
    caller's validated cold-start dict — when no manifest exists yet),
    applies ``mutate`` (which must touch ONLY the calling writer's own
    fields), and CAS-commits; a :class:`..fsutil.
    ManifestVersionConflict` means another cooperating writer advanced
    its own fields in between — retrying against the fresh snapshot
    preserves that writer's commit instead of rolling it back. Returns
    the committed dict."""
    mdir = manifest_dir(store_path, kind)
    last_conflict: Exception | None = None
    for _ in range(_MAX_ATTEMPTS):
        ver, man = fsutil.read_versioned_manifest_versioned(
            spark, mdir, _STEM
        ) or (None, None)
        if man is None:
            if default is None:
                raise FileNotFoundError(
                    f"no {kind} store manifest at {store_path} — nothing "
                    "to update"
                )
            man = dict(default)
        mutate(man)
        try:
            fsutil.write_versioned_manifest(
                spark, mdir, _STEM, man, expected_version=ver
            )
        except fsutil.ManifestVersionConflict as e:
            last_conflict = e
            continue
        return man
    raise IOError(
        f"{kind} store manifest at {store_path}: {_MAX_ATTEMPTS} "
        "consecutive CAS conflicts — a writer is committing in a tight "
        "loop; back off and retry"
    ) from last_conflict


def is_missing_summaries_error(e: Exception) -> bool:
    """True exactly for the two AnalysisException conditions a
    legitimately summary-less store produces on read — the directory
    does not exist (``PATH_NOT_FOUND``) or exists with no parquet
    footers after a compaction cleanup (``UNABLE_TO_INFER_SCHEMA``).
    Matched on the exception's error CLASS, not message substrings
    (substring matching over bare ``Exception`` could
    misclassify corrupt footers or permission faults that happen to
    embed those tokens as 'no summaries yet'). Everything else —
    corrupt files, auth failures, connectivity — propagates as
    itself."""
    from pyspark.errors import AnalysisException

    if not isinstance(e, AnalysisException):
        return False
    return (e.getCondition() or "").startswith(
        ("PATH_NOT_FOUND", "UNABLE_TO_INFER_SCHEMA")
    )


def cell_keys(man: dict) -> list[str]:
    """The stored cell key columns (the state store keys on one)."""
    return list(man["keys"]) if "keys" in man else [man["key"]]


def apply_batch(
    spark: SparkSession,
    store: DeltaStore,
    store_path: str,
    batch: DataFrame,
    batch_id: int,
    schema: dict,
    land: "Callable[[str, dict], tuple[object, dict]] | None" = None,
):
    """Apply ONE micro-batch: check ``schema`` against the manifest
    (a cold store takes it as its identity), skip a replayed
    ``batch_id``, land the batch's versioned outputs, then CAS-bump
    ``last_applied_batch`` LAST. ``land(store_root, manifest)``
    writes the outputs and returns ``(result, sink fields)`` to commit
    with the bump; without it, the kind's ``summarize`` rows land at
    ``<data_dir>/batch=<id>/`` (nothing is written for an empty batch,
    but the watermark still advances) and the result is their count.
    Returns the result, or None for a replayed batch."""
    path = store_path.rstrip("/")
    default = {**schema, "last_applied_batch": -1, "base_upto": -1}
    man = read_store_manifest(spark, path, store.kind) or default
    named = [f for f in schema if f != "k"]
    if [man[f] for f in named] != [schema[f] for f in named]:
        built = ", ".join(str(man[f]) for f in named)
        got = ", ".join(str(schema[f]) for f in named)
        raise ValueError(
            f"{store.label} schema mismatch: built for ({built}), got "
            f"({got})"
        )
    if "k" in schema and int(man["k"]) != schema["k"]:
        raise ValueError(
            f"{store.label} built with k={man['k']}, got k={schema['k']} "
            f"— {store.k_note}"
        )
    if batch_id <= int(man["last_applied_batch"]):
        return None
    if land is not None:
        result, fields = land(path, man)
    else:
        sk = store.summarize(batch, schema)
        result, fields = int(sk.count()), {}
        if result > 0:
            sk.write.mode("overwrite").parquet(
                f"{path}/{store.data_dir}/batch={batch_id}"
            )

    # CAS commit updating only THIS writer's fields: a compact()
    # committing ``base_upto`` in between conflicts, and the retry
    # replays the bump against the fresh copy
    def _bump(m: dict) -> None:
        m.update(fields, last_applied_batch=int(batch_id))

    update_store_manifest(spark, path, store.kind, _bump, default=default)
    return result


def _base_dirs(store: DeltaStore, path: str, upto: int) -> list[str]:
    """The directory of each part of the base snapshot ``upto``."""
    root = f"{path}/base/upto={upto}"
    return [f"{root}/{sub}" if sub else root for sub in store.base_parts]


def committed_parts(
    spark: SparkSession, store: DeltaStore, path: str, man: dict
) -> "tuple[DataFrame, ...] | None":
    """The committed state, one DataFrame per part: the BASE snapshot
    (if a compaction has folded one) unioned with the versions in
    (base_upto, watermark]. None when nothing has been committed at
    all (every applied batch was empty and no base exists)."""
    keys = cell_keys(man)
    base_upto = int(man.get("base_upto", -1))
    base = None
    if base_upto >= 0:
        base = tuple(
            spark.read.parquet(d).select(*keys, *cols)
            for d, cols in zip(
                _base_dirs(store, path, base_upto), store.columns
            )
        )
    # FS pre-check before the read: a fully-folded
    # store legitimately has no data dir (or an empty one after the
    # compaction sweep), and PROBING it with the reader posts a
    # failed-execution event that any registered
    # QueryExecutionListener (the ObservationManager's, once any
    # Observation has run) re-raises as ERROR spam. The error-class
    # match below stays as the residual-race fallback (a compaction
    # sweep landing between the check and the read).
    data = f"{path}/{store.data_dir}"
    if not fsutil.parquet_data_exists(spark, data):
        return base
    try:
        raw = spark.read.option("basePath", data).parquet(data)
    except Exception as e:
        if not is_missing_summaries_error(e):
            raise
        return base
    deltas = raw.filter(
        (F.col("batch") > base_upto)
        & (F.col("batch") <= int(man["last_applied_batch"]))
    ).drop("batch")
    parts = store.decompose(deltas, keys) if store.decompose else (deltas,)
    parts = tuple(
        p.select(*keys, *cols) for p, cols in zip(parts, store.columns)
    )
    if base is None:
        return parts
    return tuple(b.unionByName(d) for b, d in zip(base, parts))


def served_parts(
    spark: SparkSession,
    store: DeltaStore,
    store_path: str,
    keys: "list[str] | None" = None,
) -> "tuple[dict, tuple[DataFrame, ...]]":
    """Shared serve entry: (manifest, committed parts). Raises
    ``FileNotFoundError`` on a never-started store, ``ValueError``
    when ``keys`` is not a subset of the stored cell keys, and the
    kind's ``empty_error`` when nothing has been committed yet."""
    path = store_path.rstrip("/")
    man = read_store_manifest(spark, path, store.kind)
    if man is None:
        raise FileNotFoundError(
            f"no {store.label} at {path} — start the sink (or "
            f"{store.apply_name}) first"
        )
    if keys is not None and not set(keys) <= set(man["keys"]):
        raise ValueError(
            f"{store.serve_name} keys {keys} must be a subset of the "
            f"stored cell keys {man['keys']}"
        )
    parts = committed_parts(spark, store, path, man)
    if parts is None:
        raise store.empty_error(
            f"{store.label} at {path} has a manifest "
            f"(last_applied_batch={man.get('last_applied_batch')}) but no "
            f"{store.data_dir} yet — every applied batch was empty"
        )
    return man, parts


def compact(spark: SparkSession, store: DeltaStore, store_path: str) -> int:
    """Fold every committed version into ONE base snapshot: serving
    afterwards reads base + the versions landed since, with the same
    results. Crash-safe at every step:

    1. write the folded parts to ``base/upto=<watermark>`` —
       overwrite-idempotent, invisible until the manifest points at
       it;
    2. CAS-switch the manifest's ``base_upto`` (the commit point:
       folded versions are EXCLUDED by the read filter even while
       their dirs still exist); a sink batch committing during the
       fold keeps its watermark and stays above ``base_upto``;
    3. sweep the folded versions and the previous base. A crash here
       leaves dead dirs the read filter ignores; the next compact
       sweeps them.

    Returns the number of versions folded (watermark delta). Do not
    run two compacts concurrently; the sink itself may keep
    committing."""
    path = store_path.rstrip("/")
    man = read_store_manifest(spark, path, store.kind)
    if man is None or int(man["last_applied_batch"]) < 0:
        raise FileNotFoundError(
            f"no {store.label} at {path} — nothing to compact"
        )
    wm = int(man["last_applied_batch"])
    old_base = int(man.get("base_upto", -1))
    parts = committed_parts(spark, store, path, man) if wm > old_base else None
    if parts is None:
        # nothing new to fold (or every applied batch was empty) —
        # still sweep: an earlier compaction's crashed sweep leaves
        # dead dirs
        wm = old_base
    else:
        folded = store.fold(parts, cell_keys(man))
        for d, df in zip(_base_dirs(store, path, wm), folded):
            df.write.mode("overwrite").parquet(d)

        def _switch(m: dict) -> None:
            m["base_upto"] = wm

        update_store_manifest(spark, path, store.kind, _switch)
    for name in fsutil.list_dir_names(spark, f"{path}/{store.data_dir}"):
        if name.startswith("batch="):
            try:
                b = int(name.split("=", 1)[1])
            except ValueError:
                continue
            if b <= wm:
                fsutil.delete_path(spark, f"{path}/{store.data_dir}/{name}")
    for name in fsutil.list_dir_names(spark, f"{path}/base"):
        if name.startswith("upto=") and name != f"upto={wm}":
            fsutil.delete_path(spark, f"{path}/base/{name}")
    return wm - old_base


def start_sink(
    stream: DataFrame,
    checkpoint_dir: str,
    trigger_seconds: "int | None",
    available_now: bool,
    apply: Callable,
    store_path: str,
    *args,
    **kwargs,
) -> StreamingQuery:
    """Run ``apply(spark, store_path, batch, batch_id, *args,
    **kwargs)`` — a kind's apply function — on every micro-batch of
    ``stream`` (``foreachBatch``), checkpointed at
    ``checkpoint_dir``; ``available_now`` drains what is there and
    stops, else ``trigger_seconds`` sets the processing-time
    trigger."""
    spark = stream.sparkSession

    def _apply(batch: DataFrame, batch_id: int) -> None:
        apply(spark, store_path, batch, batch_id, *args, **kwargs)

    writer = stream.writeStream.foreachBatch(_apply).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    elif trigger_seconds is not None:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    return writer.start()
