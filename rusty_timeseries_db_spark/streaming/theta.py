"""Streaming Theta segment-membership maintenance — keep a mergeable
:func:`..functions.sketches.theta_rollup` store current as events
stream in (round 16 — VERDICT r15 next-round #2; the SET-OPERATION
face of the streaming sketch stores, completing the family:
topk=streaming/sketch.py, durations=streaming/state.py,
quantiles=streaming/quantile.py).

Shape: every micro-batch aggregates its OWN per-cell Theta sketches
(batch-sized work) and lands them at ``summaries/batch=<id>/``
through the shared batch-versioned delta store
(streaming/store_common.py: versioned overwrite, then the CAS bump
of the ``last_applied_batch`` watermark). A crash between the
summary write and the manifest bump replays the batch and OVERWRITES
the directory — replays are idempotent in EFFECT: exactly one
summary row per (cell, batch) ever serves, and the exact ``n_rows``
accounting is identical on any replay. (Like KLL, Theta sketch BYTES
are not pinned replay-bit-identical — the pinned replay property is
single-application + estimate containment, verified ≤5% vs exact in
tests/test_streaming_theta.py.)

Serving merges base ∪ committed deltas with ``theta_union_agg``
(union is Theta's lossless direction — a segment's members arriving
over many batches just means several sketch rows to union) and
serves either per-cell distinct estimates (:func:`serve_theta`) or
the pairwise/k-way segment overlaps (:func:`serve_theta_overlap`) —
O(stored sketches), never O(events). This is the scale path for the
continuously-maintained version of q_audience_jaccard: at 100 TB the
per-pair distinct-user join cannot re-scan raw events, but the
per-segment sketches stay current per micro-batch and every overlap
is answered from sketch bytes.

Compaction folds committed summaries into one per-cell merged-sketch
base (``theta_union_agg`` is associative — the base is a sketch
again, exactly the KLL-store argument).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..functions.sketches import merge_theta_cells, theta_rollup
from .store_common import (
    DeltaStore,
    apply_batch,
    compact,
    served_parts,
    start_sink,
)

_STORE = DeltaStore(
    kind="theta",
    label="theta store",
    apply_name="apply_theta_sketch_batch",
    columns=(("theta_sketch", "n_rows"),),
    fold=lambda parts, keys: (merge_theta_cells(parts[0], keys),),
    summarize=lambda batch, s: theta_rollup(batch, s["keys"], s["value_col"]),
)


def apply_theta_sketch_batch(
    spark,
    store_path: str,
    batch: DataFrame,
    batch_id: int,
    keys: list[str],
    value_col: str,
) -> int:
    """Aggregate ONE micro-batch's per-cell Theta sketches and land
    them at ``summaries/batch=<id>/`` (overwrite — replay-idempotent
    in effect), advancing the manifest watermark LAST via the CAS
    commit: returns the number of summary rows written, or 0 when
    ``batch_id`` was already applied or the batch is empty. Factored
    out of the sink so the replay contract is unit-testable.

    Late-row contract (round 17 — stated so the four stores' lateness
    contracts read uniformly, the streaming/state.py paragraph being
    the model): there is NO watermark and no late-data bound — a row
    for any cell may arrive in any batch at any time, because Theta
    sketch unions are lossless and order-independent (a late member
    unions into the cell's merged sketch identically wherever it
    lands), so unlike the state-duration store nothing is ever
    dropped or reordered-away."""
    schema = {"keys": list(keys), "value_col": value_col}
    return (
        apply_batch(spark, _STORE, store_path, batch, batch_id, schema) or 0
    )


def _served_cells(spark, store_path: str, keys: list[str]) -> DataFrame:
    """Shared serve entry: the committed cells union-merged to
    ``keys`` (any subset of the stored cell keys) with the sketch
    column retained."""
    _, (cells,) = served_parts(spark, _STORE, store_path, keys)
    return merge_theta_cells(cells, keys)


def serve_theta(spark, store_path: str, keys: list[str]) -> DataFrame:
    """Per-cell segment-membership distinct estimates over everything
    the sink has committed: merged sketch per ``keys`` cell, exact
    ``n_rows`` accounting, distinct estimate from the merged sketch.
    O(stored sketches), never O(events)."""
    merged = _served_cells(spark, store_path, keys)
    return merged.select(
        *keys,
        "n_rows",
        F.theta_sketch_estimate("theta_sketch").cast("bigint")
        .alias("distinct_est"),
    )


def serve_theta_overlap(
    spark,
    store_path: str,
    key_col: str,
    k: int = 2,
) -> DataFrame:
    """Segment overlaps over everything the sink has committed: merge
    the committed cells to ``key_col``, then the pairwise grid
    (``k=2`` — inter/union/Jaccard, :func:`..functions.sketches.
    theta_overlap`) or the k-way intersection grid (``k>=3`` —
    :func:`..functions.sketches.theta_overlap_kway`). All from sketch
    bytes: no raw event is ever revisited."""
    from ..functions.sketches import theta_overlap, theta_overlap_kway

    merged = _served_cells(spark, store_path, [key_col])
    if k == 2:
        return theta_overlap(merged, key_col)
    return theta_overlap_kway(merged, key_col, k=k)


def compact_theta_sketch(spark, store_path: str) -> int:
    """Fold every committed summary version into ONE per-cell
    merged-sketch base: serving afterwards reads base + the summaries
    landed since. ``n_rows`` accounting is EXACTLY preserved; the
    merged sketch's estimates are identical in distribution (Theta
    union is associative on the sample-threshold math; byte identity
    across merge orders is not promised, containment is — pinned ≤5%
    vs exact in tests). Crash-safe base write → CAS ``base_upto``
    switch → idempotent sweep (:func:`.store_common.compact`).
    Returns the number of summary versions folded."""
    return compact(spark, _STORE, store_path)


def start_theta_sketch_sink(
    stream: DataFrame,
    store_path: str,
    checkpoint_dir: str,
    keys: list[str],
    value_col: str,
    trigger_seconds: int | None = None,
    available_now: bool = False,
) -> StreamingQuery:
    """Maintain the Theta segment store from an event stream: each
    micro-batch runs :func:`apply_theta_sketch_batch`; serve distinct
    estimates (:func:`serve_theta`) or segment overlaps
    (:func:`serve_theta_overlap`) at any time; run
    :func:`compact_theta_sketch` periodically to keep the serve cost
    flat as batches accrue."""
    return start_sink(
        stream, checkpoint_dir, trigger_seconds, available_now,
        apply_theta_sketch_batch, store_path, keys, value_col,
    )
