"""Streaming heavy-hitter maintenance — keep a mergeable
:func:`..functions.sketches.topk_sketch` store current as events
stream in (the streaming face of the sketch the way
streaming/index.py is the streaming face of the persisted retrieval
indexes).

Shape: every micro-batch computes its OWN per-cell top-k summaries
(batch-sized work, exact within the batch) and lands them at
``summaries/batch=<id>/`` through the shared batch-versioned delta
store (streaming/store_common.py: versioned overwrite, then the CAS
bump of the ``last_applied_batch`` watermark). :func:`topk_sketch`
is deterministic (ties broken by value), so a crash between the
summary write and the manifest bump replays the batch and OVERWRITES
the directory with identical content — replays converge instead of
appending duplicate summary rows (raw events are not
retained and the stream checkpoint never re-delivers consumed
batches, so an appended duplicate would inflate ``count_lo`` for
good).

Serving merges the committed summaries with the
:func:`..functions.sketches.merge_topk_sketch` machinery, whose error
bound is split-agnostic — a cell's rows arriving over many batches
just means several summary rows for that cell, and the merge's
``[count_lo, count_lo + err_ub]`` containment holds for ANY split
(pinned by the batch-side property test). No raw event is ever
revisited: the store grows by O(cells × k) per batch, not O(events).

Compaction (:func:`compact_topk_sketch` — the answer to
``serve_topk`` paying O(applied batches) forever on a long-running
stream): fold every committed summary into ONE base snapshot. The
trap the other stores do not have: a finished summary's per-cell
``dropped_max`` is a MAX-shaped bound, NOT plain-summable — folding
summaries by re-truncating to a new (top, dropped_max) row would
loosen the served bounds. The store therefore reads and folds the
merge's DECOMPOSITION (:func:`..functions.sketches.
decompose_topk_sketch`): per-(cell, value) ``count_lo``/
``present_err`` (``base/upto=<b>/values``) and per-cell
``total_err``/``n_rows`` (``base/upto=<b>/cells``) — four plain sums
over disjoint summary rows, which commute with any later coarsening.
Serving reads base ∪ decomposed post-watermark deltas and produces
BIT-IDENTICAL results before and after a compact (pinned). Base size
is O(cells × distinct values that ever survived a batch top-k),
independent of batch count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..functions.sketches import (
    combine_topk_decomposition,
    decompose_topk_sketch,
    topk_sketch,
)
from .store_common import (
    DeltaStore,
    apply_batch,
    compact,
    served_parts,
    start_sink,
)


def _fold(parts: tuple, keys: list[str]) -> tuple:
    pv, cells = parts
    return (
        pv.groupBy(*keys, "value").agg(
            F.sum("count_lo").cast("long").alias("count_lo"),
            F.sum("present_err").cast("long").alias("present_err"),
        ),
        cells.groupBy(*keys).agg(
            F.sum("total_err").cast("long").alias("total_err"),
            F.sum("n_rows").cast("long").alias("n_rows"),
        ),
    )


_STORE = DeltaStore(
    kind="sketch",
    label="topk-sketch store",
    apply_name="apply_topk_sketch_batch",
    serve_name="serve_topk",
    columns=(("value", "count_lo", "present_err"), ("total_err", "n_rows")),
    fold=_fold,
    summarize=lambda batch, s: topk_sketch(
        batch, s["keys"], s["value_col"], k=s["k"]
    ),
    decompose=decompose_topk_sketch,
    base_parts=("values", "cells"),
    k_note="per-cell truncation depth must not vary across batches",
)


def apply_topk_sketch_batch(
    spark,
    store_path: str,
    batch: DataFrame,
    batch_id: int,
    keys: list[str],
    value_col: str,
    k: int = 16,
) -> int:
    """Summarize ONE micro-batch and land it at
    ``summaries/batch=<id>/`` (overwrite — replay-idempotent),
    advancing the manifest watermark LAST: returns the number of
    summary rows written, or 0 when ``batch_id`` was already applied
    (manifest watermark) or the batch is empty. Factored out of the
    sink so the replay contract is unit-testable without a streaming
    harness."""
    schema = {"keys": list(keys), "value_col": value_col, "k": int(k)}
    return (
        apply_batch(spark, _STORE, store_path, batch, batch_id, schema) or 0
    )


def serve_topk(
    spark,
    store_path: str,
    keys: list[str],
    k: int | None = None,
) -> DataFrame:
    """Merged heavy hitters over everything the sink has committed:
    the merge decomposition (base ∪ post-watermark deltas) coarsened
    to ``keys`` (any subset of the stored cell keys — the batch split
    just adds summary rows, the bound machinery is identical).
    O(base rows + post-compact summaries), never O(events) and — after
    a compact — never O(all batches). Raises with the honest state
    when the sink has not landed any summaries yet (manifest missing,
    or only empty batches so far)."""
    _, (pv, cells) = served_parts(spark, _STORE, store_path, keys)
    return combine_topk_decomposition(pv, cells, keys, k=k)


def compact_topk_sketch(spark, store_path: str) -> int:
    """Fold every committed summary version into ONE base snapshot of
    the merge DECOMPOSITION (see module docstring: ``dropped_max`` is
    not plain-summable, the four decomposed sums are): serving
    afterwards reads base + the summaries landed since, with
    BIT-IDENTICAL results (pinned). Crash-safe base write → CAS
    ``base_upto`` switch → idempotent sweep
    (:func:`.store_common.compact`). Returns the number of summary
    versions folded."""
    return compact(spark, _STORE, store_path)


def start_topk_sketch_sink(
    stream: DataFrame,
    store_path: str,
    checkpoint_dir: str,
    keys: list[str],
    value_col: str,
    k: int = 16,
    trigger_seconds: int | None = None,
    available_now: bool = False,
) -> StreamingQuery:
    """Maintain the sketch store from an event stream: each micro-batch
    runs :func:`apply_topk_sketch_batch`. Serving reads go through
    :func:`serve_topk` at any time — summaries are self-describing
    (exact within their batch), so there is no build step and no
    rebuild-on-restart; the versioned-dir + watermark pair gives
    exactly-once EFFECTIVE application (replays overwrite
    identically). Run :func:`compact_topk_sketch` periodically to keep
    the serve cost flat as batches accrue."""
    return start_sink(
        stream, checkpoint_dir, trigger_seconds, available_now,
        apply_topk_sketch_batch, store_path, keys, value_col, k=k,
    )
