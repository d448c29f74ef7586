"""Streaming ingest: the HTTP POST /telemetry analog (main.rs:325-331).

The reference accepts one JSON row per POST and rewrites the whole data
file per insert (main.rs:101). Here the stream is a JSON-lines drop
directory (exactly the POST body shape, py_client.py:10-16) read by
Structured Streaming, normalized with the same ingest expressions as the
batch path, and appended to the telemetry Parquet sink.

Delivery semantics: **at-least-once**. ``foreachBatch`` + blind
``append`` means a micro-batch that crashes after writing but before
the checkpoint commit is re-run and appended again on restart.
Replayed rows are identifiable: ``ingest_seq`` embeds the (stable)
batch_id in its high bits, so a replayed batch writes the same
``(timeseries_id, ts, ingest_seq)`` keys and readers that need
effectively-once can ``dropDuplicates(["timeseries_id", "ts",
"ingest_seq"])``.

**Opt-in exactly-once** (``start_telemetry_sink_exactly_once``): each
micro-batch writes to its own ``batch_id=<id>`` directory (idempotent —
a replay overwrites the same directory, never appends) and then commits
the id to a manifest via atomic rename. Readers
(``read_committed_telemetry``) list only manifest-committed batch dirs,
so a torn write from a crash mid-batch is invisible and zero duplicate
rows survive a replay — no reader-side dedup needed.

**Manifest/snapshot I/O is storage-agnostic**: every manifest
read/write and the snapshot sweeper go through the scheme-resolved
Hadoop FS layer (fsutil.py), so the exactly-once sink and the
last-value cache run against ``hdfs://`` / ``s3a://`` warehouses, not
just a driver-mounted POSIX path. Both commit through fsutil's one
manifest protocol, the versioned manifest every store in the package
uses (fresh-name rename per write: a reader sees the old manifest or
the new one, never neither); the single-file ``_manifest.json`` /
``_latest.json`` of earlier code are not read. Every exactly-once
manifest write is a versioned COMPARE-AND-SWAP (sink commit:
append-only merge-and-retry; retention: rescan-and-retry; compaction:
carry-forward merge), so the sink and ONE maintenance op may safely
interleave — see SCALE.md "CAS everywhere" for the full concurrency
contract.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..fsutil import (
    ManifestVersionConflict,
    delete_path,
    list_dir_names,
    read_versioned_manifest,
    read_versioned_manifest_versioned,
    write_versioned_manifest,
)

from ..schema import (
    STORED_TELEMETRY_SCHEMA,
    TELEMETRY_INGEST_SCHEMA,
    normalize_ingest,
    normalize_payload,
    series_bucket,
)


def normalized_stream(stream: DataFrame) -> DataFrame:
    """Streaming-safe canonical view (no ingest_seq) for windowed
    aggregations and dedup on the live stream."""
    return normalize_payload(stream)


def read_telemetry_stream(
    spark: SparkSession, source_dir: str, with_corrupt_record: bool = False
) -> DataFrame:
    """JSON-lines drop-dir source with the POST /telemetry schema.

    Returns the *raw* stream; normalization (which assigns ``ingest_seq``
    via ``monotonically_increasing_id`` — unsupported on streaming
    frames) happens per micro-batch inside the sink's ``foreachBatch``.

    ``with_corrupt_record=True`` adds the PERMISSIVE-mode
    ``_corrupt_record`` column carrying the raw text of unparseable
    lines (all schema fields NULL on those rows) — the input the sink's
    quarantine path splits on. Without it, garbage lines silently
    become all-NULL telemetry rows.
    """
    schema = TELEMETRY_INGEST_SCHEMA
    if with_corrupt_record:
        from pyspark.sql.types import StringType, StructField, StructType

        schema = StructType(
            list(TELEMETRY_INGEST_SCHEMA.fields)
            + [StructField("_corrupt_record", StringType(), True)]
        )
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "16")
        .json(source_dir)
    )


#: ingest_seq for streaming rows: batch_id * 1e12 + within-batch monotonic
#: id (partition-prefixed, < 2.8e11 at 32 partitions) — preserves arrival
#: order across micro-batches without any global coordination.
_BATCH_SEQ_STRIDE = 10**12


def normalize_batch(batch: DataFrame, batch_id: int) -> DataFrame:
    """Apply the shared ingest normalization to one micro-batch."""
    return normalize_ingest(batch).withColumn(
        "ingest_seq",
        (F.lit(batch_id) * F.lit(_BATCH_SEQ_STRIDE) + F.col("ingest_seq")).cast(
            "long"
        ),
    ).withColumn("series_bucket", series_bucket(F.col("timeseries_id")))


def _repair_late_rollup_days(rollup, norm) -> None:
    """Writer-side late-data invalidation: the sink KNOWS
    which days its batch touched — any day strictly below the
    rollup's high-water mark was already materialized, and
    ``refresh()`` deliberately never revisits it (its filter starts
    at the hwm), so a late row would otherwise be invisible until a
    ``refresh(full=True)`` rebuild. One batch-sized distinct-days agg
    finds the late days; ``rollup.invalidate_days`` re-aggregates
    exactly those partitions — O(late days), and a batch with no late
    rows (the common case) costs one batch-sized aggregate. Tolerant
    of the documented "anything with a refresh()" duck type: objects
    without the invalidation surface are left alone."""
    if not (
        hasattr(rollup, "invalidate_days") and hasattr(rollup, "_read_hwm")
    ):
        return
    hwm = rollup._read_hwm()
    if hwm is None:
        return
    ts_col = getattr(rollup, "ts_col", "ts")
    if ts_col not in norm.columns:
        return
    late = [
        str(r.d)
        for r in norm.select(F.to_date(F.col(ts_col)).alias("d"))
        .filter(F.col("d") < F.lit(hwm).cast("date"))
        .distinct()
        .collect()
    ]
    if late:
        rollup.invalidate_days(late)


def start_telemetry_sink(
    stream: DataFrame,
    warehouse_dir: str,
    trigger_seconds: int | None = None,
    available_now: bool = False,
    rollup=None,
    quarantine_dir: str | None = None,
) -> StreamingQuery:
    """Append stream → partitioned Parquet telemetry table, at-least-once
    per micro-batch (checkpointed offsets; see module docstring for the
    replay story). ``trigger_seconds`` mirrors the
    reference's configurable FDD/ingest cadence (R5/R6, main.rs:233-240,
    285-299) — but correctly re-arming every interval, unlike the
    reference's run-once bug (SURVEY §2.1 R6).

    ``rollup``: an optional ``operators.rollup.ContinuousRollup`` (or
    anything with a ``refresh()``) maintained AFTER each micro-batch's
    append — the streaming path of the continuous aggregate: the
    materialization trails the stream by at most one batch, and
    ``rollup.read()`` is complete at all times regardless (live-tail
    union). Refresh is incremental + idempotent, so a replayed batch
    re-runs it harmlessly.

    ``quarantine_dir``: when the stream was read
    ``with_corrupt_record=True``, unparseable JSON lines are appended
    verbatim (one text file set per batch) to this directory instead of
    becoming all-NULL telemetry rows — the bad-records side channel a
    100 TB ingest needs (dropping garbage silently hides producer bugs;
    failing the stream on one bad line loses the good ones).

    Implemented as ``foreachBatch`` so each micro-batch runs the shared
    batch normalization (incl. ``ingest_seq`` assignment)."""
    path = os.path.join(warehouse_dir, "telemetry")
    # misconfiguration guards: asking for quarantine
    # without the reader flag would silently ingest garbage as all-NULL
    # rows — the exact failure the feature prevents; the reverse
    # combination silently discards bad lines, which is at least
    # surprising, so say so once at start.
    if quarantine_dir is not None and "_corrupt_record" not in stream.columns:
        raise ValueError(
            "quarantine_dir needs the stream read with "
            "read_telemetry_stream(..., with_corrupt_record=True) — "
            "without the _corrupt_record column there is nothing to "
            "quarantine and garbage lines become all-NULL rows"
        )
    if quarantine_dir is None and "_corrupt_record" in stream.columns:
        import warnings

        warnings.warn(
            "stream carries _corrupt_record but no quarantine_dir was "
            "given: corrupt lines will be dropped without a trace",
            stacklevel=2,
        )

    def _sink(batch: DataFrame, batch_id: int) -> None:
        cached = None
        if quarantine_dir is not None and "_corrupt_record" in batch.columns:
            # filtering on the corrupt column requires materializing the
            # parsed batch first (Spark refuses to plan a filter on the
            # internal corrupt column over a lazy scan)
            cached = batch.cache()
            bad = cached.filter(F.col("_corrupt_record").isNotNull())
            bad.select("_corrupt_record").write.mode("append").text(
                quarantine_dir
            )
            batch = cached.filter(
                F.col("_corrupt_record").isNull()
            ).drop("_corrupt_record")
        elif "_corrupt_record" in batch.columns:
            batch = batch.filter(
                F.col("_corrupt_record").isNull()
            ).drop("_corrupt_record")
        norm = normalize_batch(batch, batch_id)
        (
            norm
            .sortWithinPartitions("timeseries_id", "ts")
            .write.mode("append")
            .partitionBy("series_bucket")
            .parquet(path)
        )
        if cached is not None:
            cached.unpersist()
        if rollup is not None:
            rollup.refresh()
            _repair_late_rollup_days(rollup, norm)

    writer = stream.writeStream.foreachBatch(_sink).option(
        "checkpointLocation", os.path.join(warehouse_dir, "_checkpoints/ingest")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    elif trigger_seconds:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    return writer.start()


# ------------------------------------------------ exactly-once sink

def _session(spark: SparkSession | None) -> SparkSession:
    """The session for manifest I/O: the caller's, else the active one
    (the FS gateway lives on the JVM, so some session must exist)."""
    if spark is not None:
        return spark
    s = SparkSession.getActiveSession()
    if s is None:
        raise RuntimeError(
            "manifest I/O needs a SparkSession (the Hadoop FS gateway "
            "is JVM-side) — pass spark= or create a session first"
        )
    return s


def _read_manifest(path: str, spark: SparkSession | None = None) -> dict:
    """The exactly-once ledger, or the empty cold-start dict when NO
    manifest exists. See ``_read_manifest_versioned`` for the CAS
    (version, dict) form."""
    return _read_manifest_versioned(path, spark)[1]


def _read_manifest_versioned(
    path: str, spark: SparkSession | None = None
) -> tuple[int | None, dict]:
    """(manifest version, ledger dict): the version is the CAS token a
    read-modify-write maintenance job passes back to
    ``_write_manifest(expected_version=...)``; None = no manifest
    committed yet (cold start). A manifest that EXISTS but cannot be
    read raises (from the versioned reader): degrading a damaged
    ledger to 'empty' would let the next commit write a fresh
    manifest listing only itself — permanently hiding every committed
    directory and re-admitting replayed batches as duplicates
    (second pass). A crash keeps the data;
    retry/repair resolves it."""
    spark = _session(spark)
    version, m = read_versioned_manifest_versioned(
        spark, path, "_manifest"
    ) or (None, None)
    if m is None:
        return version, {
            "dirs": [], "committed_ids": [], "compact_seq": 0,
            "fingerprints": {}, "hwm": -1, "folded_fps": [],
        }
    try:
        return version, {
            "dirs": list(m["dirs"]),
            "committed_ids": list(m["committed_ids"]),
            "compact_seq": int(m.get("compact_seq", 0)),
            "fingerprints": dict(m.get("fingerprints", {})),
            # compaction folds per-batch
            # ledger entries below its point into (hwm, folded_fps) so
            # the per-micro-batch manifest rewrite stops growing one
            # dict entry per batch forever — ids <= hwm are committed
            # by definition, their content fingerprints pooled in one
            # flat set. Older manifests: no fold yet.
            "hwm": int(m.get("hwm", -1)),
            "folded_fps": list(m.get("folded_fps", [])),
        }
    except (TypeError, KeyError, ValueError) as e:
        # parses as JSON but the wrong shape: same damage contract,
        # same actionable message — never a bare KeyError crash-loop
        raise IOError(
            f"exactly-once manifest under {path} parsed but has an "
            "unexpected shape — refusing to treat it as empty (a "
            "rebuild would discard the committed-batch ledger); repair "
            "or remove it deliberately"
        ) from e


def _write_manifest(
    path: str,
    manifest: dict,
    spark: SparkSession | None = None,
    expected_version: int | None = ...,
) -> None:
    """Commit the ledger. ``expected_version`` (from
    ``_read_manifest_versioned``) turns the write into a
    compare-and-swap that raises
    :class:`~..fsutil.ManifestVersionConflict` when another writer
    committed since that read. EVERY exactly-once ledger writer (sink
    commit, retention, compaction) passes it — see the
    module docstring's concurrency note; the omit-default exists for
    the non-ledger manifests (last-value pointer: genuinely single
    writer)."""
    write_versioned_manifest(
        _session(spark), path, "_manifest", manifest,
        expected_version=expected_version,
    )


#: CAS retries before an exactly-once ledger writer gives up — each
#: retry re-reads the fresh manifest and re-applies a converging
#: delta (sink: append-only merge; retention: rescan only new dirs;
#: compaction: carry-forward), so the loop only exhausts when
#: concurrent commits genuinely outpace a manifest read+write
#: round-trip for six straight attempts
_CAS_ATTEMPTS = 6


#: materialization guard for the diagnostic id list below: past this
#: many folded batches, return the capped prefix + a warning instead of
#: allocating O(hwm) ints
_COMMITTED_IDS_CAP = 100_000


def committed_batch_summary(
    path: str, spark: SparkSession | None = None
) -> dict:
    """Compact form of the replay-skip set: ``{"hwm": N, "sparse_ids":
    [...]}`` — every id <= hwm is committed by definition (compaction
    folds the dense prefix into the high-water mark), plus the
    explicitly listed ids above it. O(#unfolded batches) however long
    the stream has run — the monitoring-safe alternative to
    :func:`committed_batch_ids`."""
    man = _read_manifest(path, spark)
    return {
        "hwm": man["hwm"],
        "sparse_ids": sorted(
            i for i in set(man["committed_ids"]) if i > man["hwm"]
        ),
    }


def committed_batch_ids(
    path: str, spark: SparkSession | None = None
) -> list[int]:
    """Every micro-batch id whose write has committed — the replay-skip
    set. Survives compaction: ids folded below the manifest's
    high-water mark are re-materialized here (Spark numbers epochs
    densely, so the implied set is exactly ``range(hwm+1)``). This is
    a diagnostic helper — the commit path itself only compares against
    ``hwm`` — and on a manifest with millions of folded batches the
    materialized list is CAPPED at {cap} ids with a warning (monitoring code
    calling the public helper
    must not allocate O(hwm) ints on a long-lived stream); use
    :func:`committed_batch_summary` for the compact (hwm, sparse_ids)
    form that never materializes the dense prefix."""
    man = _read_manifest(path, spark)
    full = set(man["committed_ids"]) | set(range(man["hwm"] + 1))
    if len(full) > _COMMITTED_IDS_CAP:
        import warnings

        warnings.warn(
            f"committed_batch_ids at {path}: {len(full)} committed "
            f"batches — returning only the first {_COMMITTED_IDS_CAP} "
            "ids; use committed_batch_summary() for the compact "
            "(hwm, sparse_ids) form",
            stacklevel=2,
        )
        return sorted(full)[:_COMMITTED_IDS_CAP]
    return sorted(full)


if committed_batch_ids.__doc__:  # absent under python -OO
    committed_batch_ids.__doc__ = committed_batch_ids.__doc__.format(
        cap=_COMMITTED_IDS_CAP
    )


def visible_batch_dirs(
    path: str, spark: SparkSession | None = None
) -> list[str]:
    """Directory names (relative to ``path``) readers may scan."""
    return _read_manifest(path, spark)["dirs"]


def commit_batch_exactly_once(
    normalized: DataFrame,
    batch_id: int,
    path: str,
    warn_state: dict | None = None,
) -> bool:
    """Write one normalized micro-batch with exactly-once visibility.

    Protocol (runs on the driver inside ``foreachBatch``):

    1. if ``batch_id`` is in ``committed_ids``, the batch fully
       committed before a crash — skip entirely (idempotent replay);
    2. write to ``{path}/batch_id={batch_id}`` with ``overwrite`` — a
       replay of a crashed half-written batch overwrites its own
       directory, never appends beside it;
    3. add the directory and the id to the manifest atomically.

    A crash between (2) and (3) leaves an uncommitted directory that is
    invisible to ``read_committed_telemetry`` and overwritten on replay:
    zero duplicates in every crash window. Returns True if this call
    performed the write (False = replay skip).

    The replay skip is CONTENT-VERIFIED (the exactly-once
    face of the checkpoint-loss scenario): the manifest
    stores an order-independent payload fingerprint per committed
    batch, and a committed id whose replayed content MATCHES a stored
    fingerprint is skipped, while a committed id delivering NEW
    content (checkpoint loss/reset re-numbering genuinely new source
    files into old ids — the case a bare id check silently drops)
    is written to a fresh content-addressed directory
    (``batch_id=<id>_h<fp>``) and committed alongside, with a loud
    warning. Identical content re-delivered under a replayed id
    dedupes by construction (same fingerprint), and a crash mid-reset
    replays to the same content-addressed names — idempotent across
    any number of replays. Legacy manifests without fingerprints keep
    the old skip-on-id behavior (content cannot be verified).

    ``warn_state``: a mutable dict scoped
    to one sink run latches the new-content warning to fire ONCE per
    run — after a checkpoint reset on a compacted warehouse (large
    hwm) every renumbered batch with genuinely new content sits below
    the fold indefinitely, and re-warning per micro-batch forever
    would drown the one real reset signal (the same perpetual-noise
    fix as the last-value sink's ``_reset_warned``). The
    content-addressed write itself still happens every time — only
    the warning is latched. None (standalone/test calls) = warn every
    time.
    """
    spark = normalized.sparkSession
    man_version, man = _read_manifest_versioned(path, spark)
    fps = man["fingerprints"]
    own = list(fps.get(str(batch_id), []))
    seen = list(own)
    folded = batch_id <= man["hwm"]
    if folded:
        # ids at/below the compaction fold verify against the pooled
        # fingerprint set (their per-id entries were collapsed) — a
        # replay whose content is committed ANYWHERE below the fold is
        # safely skipped: that content already lives in the compacted
        # dir, so re-admitting it under a different id would duplicate
        seen += man["folded_fps"]
    d = f"batch_id={batch_id}"
    fp = None
    if folded or batch_id in man["committed_ids"]:
        if not seen:
            return False  # legacy manifest: unverifiable — old behavior
        fp = _batch_fingerprint(normalized)
        if fp in seen:
            return False  # true replay of already-committed content
        if warn_state is None or not warn_state.get("new_content_warned"):
            if warn_state is not None:
                warn_state["new_content_warned"] = True
            import warnings

            warnings.warn(
                f"exactly-once sink at {path}: committed batch_id="
                f"{batch_id} replayed with NEW content (checkpoint "
                "loss/reset) — writing it to a fresh content-addressed "
                "directory instead of skipping, so the new rows are "
                "not dropped"
                + (
                    " (warned once per sink run; post-reset batches "
                    "stay below the fold by construction)"
                    if warn_state is not None
                    else ""
                ),
                stacklevel=2,
            )
        d = f"batch_id={batch_id}_h{fp.rsplit(':', 1)[1]}"
    to_write, obs = normalized, None
    if fp is None:
        # common (non-replay) path: fuse the fingerprint aggregation
        # into the write job via observe() — zero extra passes over
        # the batch; the rare replay path above still
        # computes it standalone because the skip decision needs it
        # BEFORE any write
        from pyspark.sql import Observation

        obs = Observation()
        to_write = normalized.observe(obs, *_FP_AGGS())
    (
        to_write.sortWithinPartitions("timeseries_id", "ts")
        .write.mode("overwrite")
        .partitionBy("series_bucket")
        .parquet(os.path.join(path, d))
    )
    if obs is not None:
        got = obs.get
        fp = _format_fp(got["n"], got["h"])
    # Manifest commit is a compare-and-swap merge: the sink
    # is the single WRITER of batches, but retention/compaction are
    # legal concurrent manifest writers now that they CAS — a plain
    # write here could resurrect a dir retention just retired (the
    # sink's read snapshot predates the retirement; writing it back
    # would relist a DELETED directory and wedge every reader). On
    # conflict, re-read and re-apply this commit's append-only delta —
    # add the dir, the fingerprint, the id — to the FRESH manifest;
    # the merge converges because the delta never depends on the
    # conflicting writer's changes (a retired dir cannot be THIS
    # uncommitted one; a concurrent fold only moves other ids below
    # its hwm, which the re-derived `folded` check respects).
    for _attempt in range(_CAS_ATTEMPTS):
        fps = man["fingerprints"]
        # per-id entry regains only ITS OWN fingerprints plus the new
        # one — never the pooled folded set it was compared against
        entry = list(fps.get(str(batch_id), []))
        if fp not in entry:
            fps[str(batch_id)] = entry + [fp]
        man["dirs"] = sorted(set(man["dirs"]) | {d})
        if batch_id > man["hwm"]:  # ids <= hwm committed by definition
            man["committed_ids"] = sorted(
                set(man["committed_ids"]) | {batch_id}
            )
        try:
            _write_manifest(
                path, man, spark, expected_version=man_version
            )
            return True
        except ManifestVersionConflict:
            man_version, man = _read_manifest_versioned(path, spark)
    raise IOError(
        f"exactly-once commit of batch_id={batch_id} at {path} lost "
        f"the manifest compare-and-swap race {_CAS_ATTEMPTS} times — "
        "more concurrent manifest writers than the protocol's "
        "one-sink-plus-one-maintenance contract allows; the batch "
        "directory is written and the stream may safely retry"
    )


#: Fingerprint covers the SOURCE payload only — never derived columns
#: (ingest_seq embeds read-partitioning detail, series_bucket/ts derive
#: from payload): a replay must fingerprint identically however Spark
#: re-splits the same files, and new source content must differ.
_FP_COLS = ["sensor_name", "ts_raw", "value", "fc1_flag", "timeseries_id"]


def _FP_AGGS():
    """The fingerprint's two aggregates — ONE definition shared by the
    standalone job and the observe()-fused path, so the two can never
    disagree on a replay comparison."""
    return [
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*_FP_COLS).cast("decimal(38,0)")).alias("h"),
    ]


def _format_fp(n, h) -> str:
    return f"{int(n)}:{(int(h) % (1 << 64) if h is not None else 0):016x}"


def _batch_fingerprint(normalized: DataFrame) -> str:
    """Order-independent content fingerprint: ``<row_count>:<hex64>``
    where hex64 is the mod-2^64 SUM of per-row xxhash64 over the
    payload columns (sum, not xor — xor cancels duplicate rows; the
    decimal(38,0) sum cannot overflow below ~2^30 rows per batch and
    stays ANSI-safe)."""
    row = normalized.select(*_FP_AGGS()).collect()[0]
    return _format_fp(row.n, row.h)


def compact_exactly_once(
    spark: SparkSession, warehouse_dir: str, remove_old: bool = True
) -> int:
    """Fold all visible batch directories into ONE compacted directory.

    Per-batch directories are the price of the exactly-once protocol —
    at one micro-batch per few seconds that is tens of thousands of
    small dirs/files per day, a classic small-files problem at scale.
    Compaction restores O(1) listing cost without weakening the
    guarantee:

    1. read every visible dir, rewrite as ``compact=<seq>`` (bucketed,
       sorted within partitions — also re-establishes row-group
       locality across batch boundaries);
    2. atomically swap the manifest to list only the compacted dir —
       ``committed_ids`` is PRESERVED, so a later replay of an already-
       folded micro-batch is still skipped (dropping the ids would
       re-append old data);
    3. only after the swap, delete the folded dirs (best-effort: a
       crash here leaves unlisted orphans, invisible to readers and
       harmless to re-delete).

    Returns the number of directories folded (0 = nothing to do).

    Concurrency: the manifest swap is a versioned
    compare-and-swap MERGE, like the sink's commit and retention's —
    a live sink may commit new batches during the (long) fold job,
    and the swap then carries those batches' dirs/ids/fingerprints
    forward instead of delisting them. One maintenance op at a time
    remains the contract (compaction concurrent with retention could
    fold files retention is deleting); the SINK no longer needs to be
    quiesced for either.
    """
    path = os.path.join(warehouse_dir, "telemetry_eo")
    man_version, man = _read_manifest_versioned(path, spark)
    if len(man["dirs"]) <= 1:
        return 0
    old_dirs = list(man["dirs"])
    seq = man["compact_seq"]
    out = f"compact={seq}"
    df = _read_dirs(spark, path, old_dirs)
    (
        df.sortWithinPartitions("timeseries_id", "ts")
        .write.mode("overwrite")
        .partitionBy("series_bucket")
        .parquet(os.path.join(path, out))
    )
    # Fold the ledger below the compaction point: the per-batch
    # ids/fingerprint entries collapse into a
    # high-water mark + one pooled fingerprint set, so the JSON the
    # sink rewrites EVERY micro-batch stops growing one dict entry per
    # batch forever. The exactly-once meaning is preserved exactly:
    # id <= hwm ⇒ committed; a folded id replaying committed content
    # (fp ∈ folded_fps) skips; a folded id delivering NEW content
    # (checkpoint-loss renumbering) still misses the pool and lands in
    # a content-addressed dir with a warning — never silently dropped.
    # folded_fps itself grows one ~22-char string per folded batch
    # (the irreducible cost of content-verified replays; bound
    # documented in SCALE.md) — the dict keys, list nesting and
    # committed_ids ints it replaces roughly double that, and dirs
    # stays O(1) after every compaction.
    all_ids = set(man["committed_ids"]) | set(range(man["hwm"] + 1))
    new_hwm = max(all_ids, default=-1)
    folded_fps = set(man["folded_fps"])
    for entry in man["fingerprints"].values():
        folded_fps.update(entry)
    # CAS merge loop: only the SCANNED snapshot's dirs/ids
    # fold; anything the live sink committed since the scan — new
    # dirs, new ids above the fold, fingerprints appended to old ids
    # by content-addressed replays — is carried forward per-id. On
    # the first pass `fresh` IS the scanned snapshot and every delta
    # below is empty, reproducing the scanned payload exactly.
    fresh_version, fresh = man_version, man
    for _attempt in range(_CAS_ATTEMPTS):
        keep_fps = {}
        for k, v in fresh["fingerprints"].items():
            scanned = set(man["fingerprints"].get(k, []))
            extra = [x for x in v if x not in scanned]
            if extra:
                keep_fps[k] = extra
        payload = {
            "dirs": sorted(
                (set(fresh["dirs"]) - set(old_dirs)) | {out}
            ),
            "committed_ids": sorted(
                i for i in set(fresh["committed_ids"]) if i not in all_ids
            ),
            "compact_seq": seq + 1,
            "fingerprints": keep_fps,
            "hwm": new_hwm,
            "folded_fps": sorted(folded_fps),
        }
        try:
            _write_manifest(
                path, payload, spark, expected_version=fresh_version
            )
            break
        except ManifestVersionConflict:
            fresh_version, fresh = _read_manifest_versioned(path, spark)
    else:
        raise IOError(
            f"exactly-once compaction at {path} lost the manifest "
            f"compare-and-swap race {_CAS_ATTEMPTS} times — a writer "
            "is committing faster than compaction can re-read; the "
            "compacted directory is written but NOT swapped in (an "
            "unlisted orphan, safe to re-run over)"
        )
    if remove_old:
        for d in old_dirs:
            delete_path(spark, os.path.join(path, d))
    return len(old_dirs)


def _read_dirs(spark: SparkSession, path: str, dirs: list[str]) -> DataFrame:
    """Union the listed directories, each read as its own root (no
    shared basePath: batch and compact dirs would otherwise infer
    conflicting partition columns). ``series_bucket`` is recovered via
    per-dir partition discovery; the KNOWN stored schema is supplied
    so a committed zero-row dir (no part files) reads as an empty
    frame instead of failing schema inference (same
    fix as the retention age scan)."""
    dfs = [
        spark.read.schema(STORED_TELEMETRY_SCHEMA)
        .parquet(os.path.join(path, d))
        for d in dirs
    ]
    out = dfs[0]
    for d in dfs[1:]:
        out = out.unionByName(d)
    return out


def start_telemetry_sink_exactly_once(
    stream: DataFrame,
    warehouse_dir: str,
    trigger_seconds: int | None = None,
    available_now: bool = False,
    rollup=None,
    quarantine_dir: str | None = None,
) -> StreamingQuery:
    """Exactly-once variant of :func:`start_telemetry_sink` (opt-in;
    at-least-once append stays the default). Idempotent per-batch-id
    directories + atomic manifest commit — see
    :func:`commit_batch_exactly_once`.

    ``rollup`` / ``quarantine_dir``: both compose with exactly-once
    (no "exactly-once OR quarantine/rollup, pick one"):

    - ``quarantine_dir`` gets the EXACTLY-ONCE treatment the data
      itself has: bad lines land in ``{quarantine_dir}/batch_id=<id>``
      with ``overwrite`` mode, so a replayed micro-batch rewrites its
      own quarantine dir instead of re-appending every bad line per
      replay (the at-least-once sink's ``append`` would duplicate
      them — acceptable there, where the DATA is at-least-once too,
      but wrong beside a zero-duplicate table). A checkpoint-loss
      redelivery of the same id overwrites with the latest delivery's
      lines — quarantine tracks deliveries, the manifest tracks
      content;
    - ``rollup.refresh()`` runs after each batch that actually WROTE
      (replay skips don't re-aggregate); refresh is incremental +
      idempotent, same contract as the at-least-once wiring. Wire the
      rollup over ``engine.telemetry()`` so it reads the committed
      union."""
    path = os.path.join(warehouse_dir, "telemetry_eo")
    if quarantine_dir is not None and "_corrupt_record" not in stream.columns:
        raise ValueError(
            "quarantine_dir needs the stream read with "
            "read_telemetry_stream(..., with_corrupt_record=True) — "
            "without the _corrupt_record column there is nothing to "
            "quarantine and garbage lines become all-NULL rows"
        )
    if quarantine_dir is None and "_corrupt_record" in stream.columns:
        import warnings

        warnings.warn(
            "stream carries _corrupt_record but no quarantine_dir was "
            "given: corrupt lines will be dropped without a trace",
            stacklevel=2,
        )
    #: per-sink-run warn-once latch for the checkpoint-reset
    #: new-content warning — a NEW restart of the sink
    #: warns once again
    warn_state: dict = {}

    def _sink(batch: DataFrame, batch_id: int) -> None:
        cached = None
        if quarantine_dir is not None and "_corrupt_record" in batch.columns:
            cached = batch.cache()
            bad = cached.filter(F.col("_corrupt_record").isNotNull())
            bad.select("_corrupt_record").write.mode("overwrite").text(
                os.path.join(quarantine_dir, f"batch_id={batch_id}")
            )
            batch = cached.filter(
                F.col("_corrupt_record").isNull()
            ).drop("_corrupt_record")
        elif "_corrupt_record" in batch.columns:
            # normalize_payload would silently turn corrupt rows into
            # all-NULL telemetry rows — drop them (warned at start)
            batch = batch.filter(
                F.col("_corrupt_record").isNull()
            ).drop("_corrupt_record")
        norm = normalize_batch(batch, batch_id)
        wrote = commit_batch_exactly_once(
            norm, batch_id, path,
            warn_state=warn_state,
        )
        if cached is not None:
            cached.unpersist()
        if rollup is not None and wrote:
            rollup.refresh()
            _repair_late_rollup_days(rollup, norm)

    writer = stream.writeStream.foreachBatch(_sink).option(
        "checkpointLocation",
        os.path.join(warehouse_dir, "_checkpoints/ingest_eo"),
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    elif trigger_seconds:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    return writer.start()


def drop_exactly_once_older_than(
    spark: SparkSession, warehouse_dir: str, cutoff_ts: str
) -> list[str]:
    """Retention for the exactly-once layout: drop every COMMITTED directory
    (``batch_id=N`` /
    ``compact=N``) whose rows are ALL older than ``cutoff_ts``,
    manifest-atomically — completing the maintenance surface that
    ``drop_partitions_older_than`` (plain ``col=value`` layouts)
    cannot cover, because EO dirs are keyed by commit sequence, not
    by a data column.

    Granularity is the committed dir: a dir with ANY row at/after the
    cutoff (or with unparseable-ts rows — ts NULL — which have no
    defined age) is kept whole; run :func:`compact_exactly_once` on a
    cadence and retention then retires whole compacted generations.
    Age is decided by ONE Spark job over all visible dirs (each
    tagged with its dir name, grouped, counted) — a ts-column-only
    scan, never a full-table read, and never the O(#dirs) sequential
    job launches an uncompacted layout would make of a per-dir loop.
    The cutoff comparison runs JVM-side against
    the UTC session clock: collecting timestamps to Python would
    convert them into the DRIVER's OS timezone and silently mis-drop
    on non-UTC hosts.

    Protocol mirrors compaction: (1) compute the drop set, (2) swap
    the manifest to the surviving dirs via a versioned
    COMPARE-AND-SWAP (the write carries the manifest version the scan read, and
    a live sink's commit in between makes it raise instead of
    clobbering — retention then re-reads, age-scans only the NEW
    dirs, and retries; after ``_CAS_ATTEMPTS`` lost races it raises
    actionably rather than looping forever against a hot sink), (3)
    best-effort delete the dropped dirs (a crash between 2 and 3
    leaves unlisted orphans, invisible to readers and harmless).
    ``committed_ids`` / fingerprints are PRESERVED: a replay of a
    retired batch must skip as already-committed — re-admitting data
    that retention deliberately retired would undo the cutoff. The
    CAS closes the seconds-wide scan→write clobber window; the residual
    list→rename race inside one commit
    is microseconds and detection-only (fsutil contract) — retention
    may now run safely OUTSIDE the sink process, the cron shape
    operators actually use.

    ``cutoff_ts`` must be ISO ``YYYY-MM-DD[ HH:MM:SS]`` (a trailing
    ``Z``/``T`` is normalized) — validated hard, like
    ``drop_chunks_before``: a malformed cutoff must fail loudly, not
    silently mis-drop. Returns dropped dir names.
    """
    import datetime as _dt

    raw = cutoff_ts.strip().replace("T", " ").removesuffix("Z").rstrip()
    try:
        # parse AND re-canonicalize: Python's
        # fromisoformat accepts forms Spark's parser does not (ISO
        # basic '20300101'), and passing such a cutoff through would
        # either raise an uncontracted SparkDateTimeException (ANSI
        # on) or — on an ANSI-off session — cast to NULL, make
        # 'ts >= NULL' never true, and silently age out EVERY dir.
        # The canonical 'YYYY-MM-DD HH:MM:SS' literal below parses
        # identically everywhere.
        cutoff_canon = _dt.datetime.fromisoformat(raw).isoformat(sep=" ")
    except ValueError:
        raise ValueError(
            f"cutoff_ts {cutoff_ts!r} must be ISO YYYY-MM-DD[ HH:MM:SS]"
            " — retention compares event timestamps and a malformed "
            "cutoff would mis-drop committed data"
        ) from None
    path = os.path.join(warehouse_dir, "telemetry_eo")
    version, man = _read_manifest_versioned(path, spark)
    if not man["dirs"]:
        return []
    cutoff_col = F.to_timestamp(F.lit(cutoff_canon))  # UTC session semantics
    #: age verdicts survive CAS retries — a retry re-scans only dirs
    #: committed since the previous read, not the whole table
    age_old: set[str] = set()
    age_keep: set[str] = set()
    for _attempt in range(_CAS_ATTEMPTS):
        to_scan = [
            d for d in man["dirs"]
            if d not in age_old and d not in age_keep
        ]
        if to_scan:
            # read each dir with the KNOWN stored schema: a committed
            # zero-row batch (empty DataFrame written
            # with partitionBy produces no part files) would fail
            # schema INFERENCE and break retention for the whole
            # table; with an explicit schema it reads as an empty
            # frame, contributes no group row below, and is kept
            tagged = [
                spark.read.schema(STORED_TELEMETRY_SCHEMA)
                .parquet(os.path.join(path, d))
                .select(F.lit(d).alias("_dir"), "ts")
                for d in to_scan
            ]
            union = tagged[0]
            for t in tagged[1:]:
                union = union.unionByName(t)
            stats = (
                union.groupBy("_dir")
                .agg(
                    F.count(F.lit(1)).alias("n"),
                    F.count("ts").alias("n_ts"),
                    F.count(
                        F.when(F.col("ts") >= cutoff_col, 1)
                    ).alias("n_new"),
                )
                .collect()
            )
            counted = {r._dir: r for r in stats}
            for d in to_scan:
                r = counted.get(d)
                # drop only when every row is parseable and strictly
                # pre-cutoff; empty dirs (no group row) and dirs with
                # unparseable-ts rows (ts NULL — no defined age) kept
                if r is not None and r.n > 0 and r.n_ts == r.n and r.n_new == 0:
                    age_old.add(d)
                else:
                    age_keep.add(d)
        dropped = sorted(set(man["dirs"]) & age_old)
        if not dropped:
            return []
        try:
            _write_manifest(
                path,
                {**man, "dirs": sorted(set(man["dirs"]) - set(dropped))},
                spark,
                expected_version=version,
            )
        except ManifestVersionConflict:
            # a live sink (or compaction) committed since our read —
            # nothing was written; re-read and retry against the fresh
            # dir list (new dirs get age-scanned above; dirs a
            # concurrent compaction folded away drop out of the
            # intersection)
            version, man = _read_manifest_versioned(path, spark)
            continue
        for d in dropped:
            delete_path(spark, os.path.join(path, d))
        return dropped
    raise IOError(
        f"exactly-once retention at {path} lost the manifest "
        f"compare-and-swap race {_CAS_ATTEMPTS} times in a row — a "
        "writer is committing faster than retention can re-read; "
        "re-run when the sink trigger interval allows a gap (no "
        "manifest change and no deletion was performed)"
    )



def read_committed_telemetry(
    spark: SparkSession, warehouse_dir: str
) -> DataFrame | None:
    """Read ONLY manifest-listed directories of the exactly-once sink
    (uncommitted/torn directories are never listed). Returns None when
    no batch has committed yet."""
    path = os.path.join(warehouse_dir, "telemetry_eo")
    dirs = visible_batch_dirs(path, spark)
    if not dirs:
        return None
    return _read_dirs(spark, path, dirs)


def windowed_series_stats(
    stream: DataFrame,
    window: str = "5 minutes",
    slide: str | None = None,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Watermarked tumbling/sliding per-series aggregates — the
    streaming-analytics surface (SURVEY §2.2 streaming rows). Late rows
    beyond the watermark are dropped (a documented departure from the
    reference, which accepts any lateness, SURVEY §2.2)."""
    win = (
        F.window("ts", window)
        if slide is None
        else F.window("ts", window, slide)
    )
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.col("timeseries_id"), win.alias("w"))
        .agg(
            F.count("*").alias("n"),
            F.avg("value").alias("avg_value"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
        )
        .select(
            "timeseries_id",
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "n",
            "avg_value",
            "min_value",
            "max_value",
        )
    )


def windowed_ohlc(
    stream: DataFrame,
    window: str = "5 minutes",
    watermark: str = "10 minutes",
    order_col: str | None = None,
) -> DataFrame:
    """Watermarked per-series OHLC bars — the streaming face of
    ``q_ohlc_bars``. open/close are ``min_by``/``max_by`` on
    an order struct: DECLARATIVE aggregates (a running argmin, not a
    sort), so they are legal in streaming groupBy and merge correctly
    across micro-batches — replaying the same rows in any batch split
    yields the same bars exactly (stream/batch parity-tested).

    Tie policy on duplicate timestamps: when the stream carries an
    arrival/identity
    column, pass it as ``order_col`` (or let the default pick up
    ``ingest_seq``/``event_id`` when present) — the argmins then order
    by (ts, order_col), giving EXACT tie parity with batch
    ``q_ohlc_bars``'s (ts, event_id) total order (parity-tested
    against q_ohlc_bars itself on a duplicate-ts fixture). Bare
    streams with no such column fall back to ordering by (ts, value):
    row IDENTITY can stay ambiguous between two same-(ts, value)
    rows, but the picked value (all a bar reports) is then identical
    either way — total-order deterministic, though same-ts ties may
    pick a different row than the batch query would (a documented
    divergence, opt-out-only).

    UPGRADE NOTE (older checkpoints): the order struct is part of
    the aggregation STATE schema, so a running query whose stream
    carries ingest_seq/event_id cannot restart from a checkpoint
    written without it under the new auto-detect (value:double →
    id:bigint fails Spark's state-schema compatibility check) — pass
    ``order_col="value"`` to pin the old policy on existing
    checkpoints, or discard the checkpoint to adopt the id tiebreak.
    State per open (series, window) cell is O(1): two running extrema
    + two running argmins + count."""
    if order_col is None:
        order_col = next(
            (c for c in ("ingest_seq", "event_id") if c in stream.columns),
            None,
        )
        # say which tie policy the auto-detect picked:
        # the choice is part of the aggregation STATE schema, so an
        # operator diagnosing a checkpoint-compat failure needs to see
        # it without reading this source
        import logging

        logging.getLogger(__name__).info(
            "windowed_ohlc: ordering duplicate-ts ties by (ts, %s)%s",
            order_col or "value",
            "" if order_col else " — no identity column detected",
        )
    order = F.struct(
        F.col("ts"),
        F.col(order_col) if order_col else F.col("value"),
    )
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.col("timeseries_id"), F.window("ts", window).alias("w"))
        .agg(
            F.min_by("value", order).alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max_by("value", order).alias("close"),
            F.count("*").alias("n"),
        )
        .select(
            "timeseries_id",
            F.col("w.start").alias("window_start"),
            "open", "high", "low", "close", "n",
        )
    )


def streaming_dedup(stream: DataFrame, watermark: str = "10 minutes") -> DataFrame:
    """Opt-in streaming dedup on the reference's update key
    ``(timeseries_id, ts)`` (the reference permits dup keys on insert,
    main.rs:92-104 — dedup is an extension, SURVEY §2.2)."""
    return stream.withWatermark("ts", watermark).dropDuplicates(
        ["timeseries_id", "ts"]
    )


def stream_stream_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str = "ts",
    right_ts: str = "ts",
    watermark: str = "10 minutes",
    max_lag: str = "5 minutes",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream join with watermarks + a time-range condition
    (SURVEY §2.2 streaming ext). The range bound lets Spark expire join
    state: right rows older than ``left.ts - max_lag`` are dropped from
    state once the watermark passes — state stays O(window), not O(stream).

    ``how='leftOuter'`` emits the unmatched left rows (right columns
    null) once the watermark guarantees no matching right row can still
    arrive — so outer results trail the watermark by construction; both
    the watermark and the range bound are REQUIRED for outer joins
    (Spark enforces it: without them unmatched-state would be unbounded
    and 'no match yet' undecidable). Same state-expiry story as inner.
    """
    if how not in ("inner", "leftOuter"):
        raise ValueError(f"how must be 'inner' or 'leftOuter', got {how!r}")
    l = left.withWatermark(left_ts, watermark).alias("l")
    r = right.withWatermark(right_ts, watermark).alias("r")
    return l.join(
        r,
        F.expr(
            f"l.{key} = r.{key} AND r.{right_ts} >= l.{left_ts} - INTERVAL {max_lag} "
            f"AND r.{right_ts} <= l.{left_ts}"
        ),
        how,
    )


# ---------------------------------------------------------------------------
# Last-value cache: streaming-maintained latest row per series
# ---------------------------------------------------------------------------

def _read_latest_manifest(
    path: str, spark: SparkSession | None = None
) -> dict | None:
    """The last-value cache pointer, or None when NO pointer exists. A
    pointer that EXISTS but cannot be read/parsed raises: treating
    a damaged pointer as 'no snapshot yet' would make the next sink
    batch rebuild the snapshot WITHOUT merging the previous one —
    silently evicting every series absent from that one batch
    (second pass). Crash-and-retry keeps the cache."""
    m = read_versioned_manifest(_session(spark), path, "_latest")
    if m is None:
        return None
    try:
        out = {"dir": str(m["dir"]), "batch_id": int(m["batch_id"])}
        if m.get("fp") is not None:
            out["fp"] = str(m["fp"])
        return out
    except (TypeError, KeyError, ValueError) as e:
        raise IOError(
            f"last-value pointer under {path} parsed but has an "
            "unexpected shape — refusing to treat it as absent (the "
            "next snapshot would drop every series not in its own "
            "batch); repair or remove it deliberately"
        ) from e


def start_latest_value_sink(
    stream: DataFrame,
    warehouse_dir: str,
    trigger_seconds: int | None = None,
    available_now: bool = False,
    snapshot_files: int = 1,
    sweep_grace: int | None = None,
) -> StreamingQuery:
    """Streaming-maintained LAST-VALUE CACHE: one row per
    ``timeseries_id`` — the latest (ts, value, ...) observed — kept
    current per micro-batch. The "current state" serving surface every
    monitoring UI hits (Influx's ``last()``, Timescale's last-point
    cache); a full-history scan for "what is sensor X *now*" is the
    classic TSDB anti-query.

    Design (same discipline as the exactly-once sink above):

    - per batch, the NEW latest = max_by over (batch rows ∪ previous
      snapshot) keyed by (ts, ingest_seq) — a declarative running
      argmax, exactly the streaming-OHLC trick, so replaying a batch
      is idempotent (max of a max is the max);
    - each snapshot is written to its own ``snap=<batch_id>``
      directory, then the ``_latest`` pointer is atomically repointed
      (fsutil's versioned-manifest commit — scheme-resolved Hadoop
      FS): readers observe the old or the new snapshot, never a
      torn one. A crash between write and repoint leaves a dead dir
      the residue sweeper reclaims — correctness unaffected;
    - state is O(#series) rows however long the stream runs; merge
      cost per batch is O(batch + #series) with a single shuffle on
      the series key.

    ``sweep_grace``: when set, the sink runs the snapshot
    janitor itself after each commit, keeping that many superseded
    ``snap=`` dirs besides the live one — without it, a
    one-dir-per-micro-batch stream grows storage without bound until
    someone calls :func:`sweep_latest_snapshots` out of band. The
    value is the reader window: concurrent ``read_latest_values``
    callers get that many commits' worth of time to materialize a
    pinned frame (the sweeper's documented contract). None (default)
    = never sweep."""
    path = os.path.join(warehouse_dir, "latest")
    if sweep_grace is not None and sweep_grace < 1:
        raise ValueError(
            "sweep_grace must be >= 1: the in-sink janitor runs "
            "concurrently with readers by construction, and grace=0 "
            "is only safe when no concurrent readers exist "
            "(sweep_latest_snapshots' contract)"
        )

    #: warn-once latch for the checkpoint-reset branch below: after a reset,
    #: EVERY subsequent batch id of the re-
    #: numbered stream sits below the (bumped) manifest id — the gap
    #: is expected steady state, and re-warning per micro-batch
    #: forever would drown the one genuine reset signal. Per-query-run
    #: scope (closure), so a NEW restart of the sink warns once again.
    _reset_warned = {"done": False}

    def _sink(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        man = _read_latest_manifest(path, spark)
        if "_corrupt_record" in batch.columns:
            # same guard family as start_telemetry_sink: garbage lines
            # must not become phantom NULL-series cache rows (no
            # quarantine side channel here — use the telemetry sink
            # for that; this sink just refuses to ingest them)
            batch = batch.filter(
                F.col("_corrupt_record").isNull()
            ).drop("_corrupt_record")
        rows = normalize_batch(batch, batch_id).drop("series_bucket")
        # a NULL series key cannot identify a series — groupBy would
        # happily keep it and serve a phantom row
        rows = rows.filter(F.col("timeseries_id").isNotNull())
        # Replay-skip (CONTENT-VERIFIED like the exactly-once sink):
        # after a crash BETWEEN the manifest repoint and Spark's
        # checkpoint commit, this batch id replays with the manifest
        # already pointing at its own snap dir — re-processing naively
        # would read snap=<id> while overwriting it and wedge the
        # stream. The manifest IS the commit record, so skip on id
        # EQUALITY only when the stored batch fingerprint matches
        # (same id + same content ⇒ truly committed); same id with NEW
        # content means checkpoint loss/reset renumbered new source
        # files into the committed id — process it (legacy manifests
        # without a fingerprint keep the plain equality skip). Ids
        # STRICTLY below the manifest likewise indicate reset and are
        # processed with a warning. Either way the merge is a running
        # argmax over snapshot ∪ batch (idempotent), written to a
        # fresh dir numbered ABOVE the committed one, so the manifest
        # never points backward and nothing self-overwrites.
        fp = None
        if man is not None and man["batch_id"] == batch_id:
            stored = man.get("fp")
            if stored is None:
                return  # legacy manifest: content unverifiable
            fp = _batch_fingerprint(rows)
            if fp == stored:
                return  # true crash-window replay of committed content
            import warnings

            warnings.warn(
                f"last-value sink at {path}: committed batch_id="
                f"{batch_id} replayed with NEW content — this "
                "indicates checkpoint loss/reset; merging it (not "
                "skipping) so the new rows are not dropped",
                stacklevel=2,
            )
        elif man is not None and man["batch_id"] > batch_id:
            if not _reset_warned["done"]:
                _reset_warned["done"] = True
                import warnings

                warnings.warn(
                    f"last-value sink at {path}: replayed batch_id="
                    f"{batch_id} is BELOW the committed manifest "
                    f"batch_id={man['batch_id']} — this indicates "
                    "checkpoint loss/reset; processing the batch (not "
                    "skipping) so new rows in replayed ids are not "
                    "dropped (warned once per sink run; post-reset "
                    "batches stay below the bumped manifest id by "
                    "construction)",
                    stacklevel=2,
                )
        obs = None
        if fp is None:
            # common (non-replay) path: fuse the fingerprint
            # aggregation into the snapshot-write job via observe() on
            # the BATCH subtree (pre-union, matching the standalone
            # formula the replay branch compares against) — zero extra
            # passes over the batch source
            from pyspark.sql import Observation

            obs = Observation()
            rows = rows.observe(obs, *_FP_AGGS())
        if man is not None:
            prev = spark.read.parquet(os.path.join(path, man["dir"]))
            rows = rows.unionByName(prev)
            if man["batch_id"] >= batch_id:
                # post-checkpoint-loss replay writing to snap=<low id>:
                # never repoint the manifest BACKWARD past newer data —
                # merge into a fresh dir numbered above the committed
                # one so sweeper ordering and later replays stay sane
                batch_id = man["batch_id"] + 1
        order = F.struct(F.col("ts"), F.col("ingest_seq"))
        latest = rows.groupBy("timeseries_id").agg(
            F.max_by(
                F.struct(*[c for c in rows.columns]), order
            ).alias("_r")
        ).select("_r.*")
        out = f"snap={batch_id}"
        # snapshot_files=1 keeps point reads at one footer; raise it
        # when #series is large enough that a single write task (or
        # reader) becomes the bottleneck — the snapshot is still tiny
        # relative to history either way
        latest.coalesce(snapshot_files).write.mode("overwrite").parquet(
            os.path.join(path, out)
        )
        if obs is not None:
            got = obs.get
            fp = _format_fp(got["n"], got["h"])
        _write_latest_manifest_atomic(
            path, {"dir": out, "batch_id": batch_id, "fp": fp}, spark
        )
        if sweep_grace is not None:
            sweep_latest_snapshots(warehouse_dir, sweep_grace, spark)

    writer = stream.writeStream.foreachBatch(_sink).option(
        "checkpointLocation",
        os.path.join(warehouse_dir, "_checkpoints/latest"),
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    elif trigger_seconds:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    return writer.start()


def _write_latest_manifest_atomic(
    path: str, manifest: dict, spark: SparkSession | None = None
) -> None:
    write_versioned_manifest(_session(spark), path, "_latest", manifest)


def read_latest_values(spark: SparkSession, warehouse_dir: str) -> DataFrame | None:
    """The current last-value snapshot (one row per series), or None
    before the first committed batch. O(#series) read — never touches
    history. The returned frame is LAZY and pinned to the snapshot dir
    current at call time: materialize promptly (or hold the janitor's
    ``grace`` window open) — a later commit plus a zero-grace sweep
    can reclaim the pinned dir before a long-deferred action runs."""
    path = os.path.join(warehouse_dir, "latest")
    man = _read_latest_manifest(path, spark)
    if man is None:
        return None
    return spark.read.parquet(os.path.join(path, man["dir"]))


def sweep_latest_snapshots(
    warehouse_dir: str, grace: int = 1, spark: SparkSession | None = None
) -> list[str]:
    """Janitor for the last-value cache: delete superseded ``snap=<id>``
    directories. Concurrency contract:

    - dirs with id >= the manifest's batch_id are ALWAYS spared — a
      running sink may have just written snap=<new> and not yet
      repointed the manifest; deleting it would commit a pointer to a
      missing dir and wedge the stream;
    - of the superseded dirs (id < manifest batch_id), the newest
      ``grace`` are also spared, giving readers holding a lazy
      DataFrame from just before a commit a window to materialize
      (read_latest_values pins the dir current at CALL time, not
      collect time). grace=0 reclaims everything superseded — only
      safe when no concurrent readers exist.

    Listing and deletion are scheme-resolved Hadoop FS operations
    (an ``os.listdir`` walk would see nothing on a remote warehouse
    and silently sweep nothing). Returns deleted dir names."""
    spark = _session(spark)
    path = os.path.join(warehouse_dir, "latest")
    man = _read_latest_manifest(path, spark)
    if man is None:
        return []
    old = []
    for name in list_dir_names(spark, path):
        if not name.startswith("snap="):
            continue
        try:
            sid = int(name.split("=", 1)[1])
        except ValueError:
            continue
        if sid < man["batch_id"]:
            old.append((sid, name))
    old.sort(reverse=True)
    removed = []
    for _sid, name in old[grace:]:
        delete_path(spark, os.path.join(path, name))
        removed.append(name)
    return sorted(removed)
