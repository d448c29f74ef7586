"""Streaming search-index maintenance — keep a persisted
:class:`..operators.retrieval.Bm25Index` current as documents stream
in (the serving loop the persisted index exists for:
ingest → index → query without ever re-scanning the corpus).

Shape: the index is BUILT once from the initial corpus (build() — the
batch operator), then every micro-batch of new documents is applied
with ``Bm25Index.add`` inside ``foreachBatch`` — postings + df-delta
appends into the term-sharded layout, O(batch) work, after which
queries see the new documents with EXACT scores (BM25 has no
quantizer; there is no recall drift to watch, unlike the IVF add
path).

Delivery contract (honest): at-least-once with an idempotent skip of
FULLY-applied batches — ``apply_bm25_batch`` records
``last_applied_batch`` in the index manifest and a replayed
``batch_id`` ≤ that mark is a no-op, so the common restart (crash
AFTER a batch commits, offsets not yet advanced) does not
double-count documents. A crash strictly BETWEEN the postings append
and the manifest bump can still double-apply that one batch on
replay — the same window every append-mode foreachBatch sink has;
the corpus telemetry sink closes it with a CAS ledger
(streaming/ingest.py), and the equivalent here is a full
``build()`` re-run, which heals the index from the source corpus.
No reference analog (main.rs is numeric telemetry only).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

from ..operators.retrieval import Bm25Index


def apply_bm25_batch(
    spark,
    index_path: str,
    batch: DataFrame,
    batch_id: int,
    id_col: str | None = None,
    text_col: str = "text",
    removed_ids: str = "skip",
) -> int:
    """Apply ONE micro-batch to the index, idempotently: returns the
    number of docs added, or 0 when ``batch_id`` was already fully
    applied (manifest ``last_applied_batch`` watermark). Factored out
    of the sink so the replay contract is unit-testable without a
    streaming harness.

    ``removed_ids`` (unified with the batch door — ONE policy knob,
    implemented once in
    ``Bm25Index.add``): what to do when the batch carries an id that
    was ``remove()``d — ``"skip"`` (streaming default) drops those
    rows and applies the rest, since a stream cannot raise its way
    out: a raise would fail the same micro-batch on every restart
    (the offsets never advance — a permanent poison pill) and erasure
    semantics usually WANT a re-published removed doc kept out until
    re-admitted deliberately. ``"error"`` keeps the strict contract
    for pipelines that prefer to stop. ``"readmit"`` compacts first
    (deletion becomes physical) and then adds the whole batch —
    compaction-gated re-admission, at the documented cost of an index
    rewrite inside the micro-batch that carries the clash."""
    if removed_ids not in ("skip", "error", "readmit"):
        raise ValueError(
            f"removed_ids must be skip|error|readmit, got {removed_ids!r}"
        )
    idx = Bm25Index(spark, index_path)
    man = idx._manifest()  # raises FileNotFoundError before build()
    if batch_id <= int(man.get("last_applied_batch", -1)):
        return 0
    n = idx.add(
        batch, id_col=id_col, text_col=text_col, removed_ids=removed_ids
    )
    ver2, man2 = idx._manifest_cas()
    man2["last_applied_batch"] = int(batch_id)
    idx._commit_manifest(man2, expected=ver2)
    return n


def start_bm25_index_sink(
    stream: DataFrame,
    index_path: str,
    checkpoint_dir: str,
    id_col: str | None = None,
    text_col: str = "text",
    trigger_seconds: int | None = None,
    available_now: bool = False,
    removed_ids: str = "skip",
) -> StreamingQuery:
    """Maintain a built ``Bm25Index`` from a document stream: each
    micro-batch runs :func:`apply_bm25_batch`. The index must exist
    (``Bm25Index(...).build(initial_corpus)``) before the sink starts
    — the build defines the sharding the appends route into.
    ``removed_ids="skip"`` (default — see :func:`apply_bm25_batch`)
    keeps a re-published removed doc out instead of poison-pilling
    the stream on ``add()``'s re-add guard."""

    def _sink(batch: DataFrame, batch_id: int) -> None:
        apply_bm25_batch(
            batch.sparkSession, index_path, batch, batch_id,
            id_col=id_col, text_col=text_col, removed_ids=removed_ids,
        )

    writer = stream.writeStream.foreachBatch(_sink).option(
        "checkpointLocation", os.path.join(checkpoint_dir, "bm25_index")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    elif trigger_seconds:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    return writer.start()


# ------------------------------------------------ IVF (ANN) index

def apply_ivf_batch(
    spark,
    index_path: str,
    batch: DataFrame,
    batch_id: int,
    corpus_id: str | None = None,
    corpus_vec: str = "embedding",
    removed_ids: str = "skip",
) -> int:
    """The :func:`apply_bm25_batch` contract for the ANN index
    (:class:`..operators.similarity.IvfIndex`): assign the batch's
    vectors to their frozen nearest centroids, append into the touched
    cell partitions, bump the manifest — skipping any ``batch_id``
    at or below the ``last_applied_batch`` watermark. IVF adds are
    exact *within probed cells* but carry the documented recall-drift
    contract as cells grow away from frozen centroids —
    ``IvfIndex.should_rebuild`` / the query-time warning fire off the
    same ``n_added/n_rows`` ratio this sink keeps bumping, so drift
    stays observable in streaming deployments too. ``removed_ids``
    (now that ``IvfIndex`` has the deletion lifecycle): same
    skip|error|readmit policy as the BM25 sink, streaming default
    ``"skip"`` — a re-published removed vector must not poison-pill
    the stream on the re-add guard."""
    from ..operators.similarity import IvfIndex

    if removed_ids not in ("skip", "error", "readmit"):
        raise ValueError(
            f"removed_ids must be skip|error|readmit, got {removed_ids!r}"
        )
    idx = IvfIndex(spark, index_path)
    man = idx._manifest()
    if batch_id <= int(man.get("last_applied_batch", -1)):
        return 0
    n = idx.add(
        batch, corpus_id=corpus_id, corpus_vec=corpus_vec,
        removed_ids=removed_ids,
    )
    ver2, man2 = idx._manifest_cas()
    man2["last_applied_batch"] = int(batch_id)
    idx._commit_manifest(man2, expected=ver2)
    return n


def start_ivf_index_sink(
    stream: DataFrame,
    index_path: str,
    checkpoint_dir: str,
    corpus_id: str | None = None,
    corpus_vec: str = "embedding",
    trigger_seconds: int | None = None,
    available_now: bool = False,
    removed_ids: str = "skip",
) -> StreamingQuery:
    """Maintain a built ``IvfIndex`` from an embedding stream — the
    ANN twin of :func:`start_bm25_index_sink`, same delivery contract
    (at-least-once, idempotent skip of fully-applied batches, the
    append-vs-manifest window healed by ``build()``) and the same
    ``removed_ids`` policy (skip|error|readmit, streaming default
    skip)."""

    def _sink(batch: DataFrame, batch_id: int) -> None:
        apply_ivf_batch(
            batch.sparkSession, index_path, batch, batch_id,
            corpus_id=corpus_id, corpus_vec=corpus_vec,
            removed_ids=removed_ids,
        )

    writer = stream.writeStream.foreachBatch(_sink).option(
        "checkpointLocation", os.path.join(checkpoint_dir, "ivf_index")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    elif trigger_seconds:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    return writer.start()


# --------------------------------------------- removal (erasure) sinks

def apply_removal_batch(
    spark,
    index_path: str,
    batch: DataFrame,
    kind: str = "bm25",
) -> int:
    """Apply ONE micro-batch of deletion requests (a single-column
    DataFrame of doc/vector ids) to a persisted index — the GDPR/
    right-to-erasure queue consumed as a stream. No batch watermark is
    needed: ``remove()`` is idempotent BY CONTENT (already-tombstoned
    or never-present ids are ignored, and the manifest re-derives from
    authoritative state), so an at-least-once replay removes nothing
    twice and converges to the same manifest. Returns the number of
    ids newly removed.

    Poison-pill contract (deliberate, unlike ``removed_ids="skip"`` on
    the add sinks): if an interrupted ``compact()`` left the index
    mid-swap, ``remove()`` raises and the micro-batch fails on every
    retry — an erasure request must NEVER be silently dropped, so the
    stream stalls until an operator re-runs compact(). Writer
    contract: do not run a removal sink concurrently with an add sink
    on the SAME index (the manifest commit is last-writer-wins; see
    the index class docstrings)."""
    if kind == "bm25":
        idx = Bm25Index(spark, index_path)
    elif kind == "ivf":
        from ..operators.similarity import IvfIndex

        idx = IvfIndex(spark, index_path)
    else:
        raise ValueError(f"kind must be bm25|ivf, got {kind!r}")
    return idx.remove(batch)


def start_index_removal_sink(
    stream: DataFrame,
    index_path: str,
    checkpoint_dir: str,
    kind: str = "bm25",
    trigger_seconds: int | None = None,
    available_now: bool = False,
) -> StreamingQuery:
    """Consume a deletion-request stream (single id column) into a
    persisted ``Bm25Index`` (``kind="bm25"``) or ``IvfIndex``
    (``kind="ivf"``): each micro-batch runs :func:`apply_removal_batch`
    — tombstone appends + exact post-delete query results, compaction
    deferred to an operator-scheduled ``compact()``. Delivery is
    at-least-once with content-idempotent replays (see
    apply_removal_batch)."""
    if kind not in ("bm25", "ivf"):
        raise ValueError(f"kind must be bm25|ivf, got {kind!r}")

    def _sink(batch: DataFrame, batch_id: int) -> None:
        apply_removal_batch(batch.sparkSession, index_path, batch, kind=kind)

    writer = stream.writeStream.foreachBatch(_sink).option(
        "checkpointLocation", os.path.join(checkpoint_dir, f"{kind}_removal")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    elif trigger_seconds:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    return writer.start()


# ------------------------- combined add+remove (one-topic) sinks

def apply_index_ops_batch(
    spark,
    index_path: str,
    batch: DataFrame,
    batch_id: int,
    kind: str = "bm25",
    op_col: str = "op",
    id_col: str | None = None,
    text_col: str = "text",
    corpus_vec: str = "embedding",
    removed_ids: str = "skip",
) -> tuple[int, int]:
    """Apply ONE micro-batch that mixes document ADDS and erasure
    REMOVES (ingest and erasure sharing one topic): rows are routed by
    ``op_col`` (values ``add``
    / ``remove``; anything else raises — an unknown op on an index-
    mutation topic is corruption, not data). Returns
    ``(n_added, n_removed)``.

    Ordering contract: within a micro-batch, REMOVES APPLY LAST —
    when one batch carries both an add and a remove for the same id,
    the id ends tombstoned (erasure wins; the conservative right-to-
    erasure reading of an ambiguous interleave). Cross-batch order is
    the stream's order, as usual.

    Idempotence: the add leg rides the manifest
    ``last_applied_batch`` watermark exactly like
    :func:`apply_bm25_batch` (a replayed batch must not double-count
    docs); the remove leg is idempotent BY CONTENT
    (:func:`apply_removal_batch`), so it re-applies unconditionally on
    replay — a no-op that re-converges the manifest. A replayed batch
    therefore skips its adds and re-runs its (free) removes.

    Poison-pill contract: inherited per leg — adds follow
    ``removed_ids`` (streaming default ``skip``), removes follow the
    strict erasure contract (a mid-swap index raises and the batch
    retries until an operator re-runs ``compact()``; an erasure
    request is never silently dropped)."""
    from pyspark.sql import functions as F

    if kind == "bm25":
        idx = Bm25Index(spark, index_path)
    elif kind == "ivf":
        from ..operators.similarity import IvfIndex

        idx = IvfIndex(spark, index_path)
    else:
        raise ValueError(f"kind must be bm25|ivf, got {kind!r}")
    man = idx._manifest()  # raises FileNotFoundError before build()
    # the id column the INDEX was built on, not a guess — remove()
    # routes on it, and the manifest is the authoritative record
    the_id = id_col or man.get(
        "id_col" if kind == "bm25" else "corpus_id",
        "doc_id" if kind == "bm25" else "vec_id",
    )

    bad = (
        batch.select(F.col(op_col).alias("_op"))
        .where(~F.col("_op").isin("add", "remove"))
        .limit(1)
        .collect()
    )
    if bad:
        raise ValueError(
            f"unknown op {bad[0]._op!r} in {op_col!r} — an index "
            "mutation topic carries only add|remove"
        )
    adds = batch.where(F.col(op_col) == "add").drop(op_col)
    removes = batch.where(F.col(op_col) == "remove").select(
        F.col(the_id)
    )

    n_added = 0
    if batch_id > int(man.get("last_applied_batch", -1)):
        if kind == "bm25":
            n_added = idx.add(
                adds, id_col=id_col, text_col=text_col,
                removed_ids=removed_ids,
            )
        else:
            n_added = idx.add(
                adds, corpus_id=id_col, corpus_vec=corpus_vec,
                removed_ids=removed_ids,
            )
        ver2, man2 = idx._manifest_cas()
        man2["last_applied_batch"] = int(batch_id)
        idx._commit_manifest(man2, expected=ver2)
    n_removed = idx.remove(removes)
    return n_added, n_removed


def start_index_ops_sink(
    stream: DataFrame,
    index_path: str,
    checkpoint_dir: str,
    kind: str = "bm25",
    op_col: str = "op",
    id_col: str | None = None,
    text_col: str = "text",
    corpus_vec: str = "embedding",
    trigger_seconds: int | None = None,
    available_now: bool = False,
    removed_ids: str = "skip",
) -> StreamingQuery:
    """Consume ONE stream carrying both document adds and erasure
    requests (an ``op_col`` routes each row) into a persisted index:
    each micro-batch runs :func:`apply_index_ops_batch` — adds
    batch-watermarked, removes content-idempotent, removes applied
    last within a batch. Use the single-purpose sinks
    (:func:`start_bm25_index_sink` / :func:`start_index_removal_sink`)
    when ingest and erasure are separate topics — the combined sink
    exists for the shared-topic deployment, where a single writer is
    the only way to keep the mutation order the topic promised."""
    if kind not in ("bm25", "ivf"):
        raise ValueError(f"kind must be bm25|ivf, got {kind!r}")

    def _sink(batch: DataFrame, batch_id: int) -> None:
        apply_index_ops_batch(
            batch.sparkSession, index_path, batch, batch_id,
            kind=kind, op_col=op_col, id_col=id_col, text_col=text_col,
            corpus_vec=corpus_vec, removed_ids=removed_ids,
        )

    writer = stream.writeStream.foreachBatch(_sink).option(
        "checkpointLocation", os.path.join(checkpoint_dir, f"{kind}_ops")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    elif trigger_seconds:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    return writer.start()
