"""Streaming quantile maintenance — keep a mergeable
:func:`..functions.sketches.quantile_rollup` store current as events
stream in (the percentile face of the streaming sketch
stores, completing the family: topk=streaming/sketch.py,
durations=streaming/state.py, quantiles=here).

Shape: every micro-batch aggregates its OWN per-cell KLL sketches
(batch-sized work) and lands them at ``summaries/batch=<id>/``
through the shared batch-versioned delta store
(streaming/store_common.py: versioned overwrite, then the CAS bump
of the ``last_applied_batch`` watermark). A crash between the
summary write and the manifest bump replays the batch and OVERWRITES
the directory — replays are idempotent in EFFECT: exactly one
summary row per (cell, batch) ever serves, and the exact ``n_rows``
accounting is identical on any replay. (Unlike the top-k store's
integer summaries, KLL sketch BYTES are not replay-bit-identical —
DataSketches compaction makes level decisions the merge order can
shift — so the pinned replay property is single-application +
rank-error containment, not byte equality. Estimates always stay
within the k=200 normalized rank-error bound of the truth.)

Serving merges base ∪ committed deltas with ``kll_merge_agg_double``
and evaluates any requested quantiles — O(stored sketches), never
O(events). Compaction folds committed summaries into one per-cell
merged-sketch base (KLL merge is associative within its error
bound).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..functions.sketches import merge_quantile_rollup, quantile_rollup
from .store_common import (
    DeltaStore,
    apply_batch,
    compact,
    served_parts,
    start_sink,
)


def _summarize(batch: DataFrame, s: dict) -> DataFrame:
    v = s["value_col"]
    return quantile_rollup(
        batch.filter(F.col(v).isNotNull()), s["keys"], v, k=s["k"]
    )


def _fold(parts: tuple, keys: list[str]) -> tuple:
    return (
        parts[0].groupBy(*keys).agg(
            F.kll_merge_agg_double(F.col("q_sketch")).alias("q_sketch"),
            F.sum("n_rows").cast("bigint").alias("n_rows"),
        ),
    )


_STORE = DeltaStore(
    kind="quantile",
    label="quantile store",
    apply_name="apply_quantile_sketch_batch",
    serve_name="serve_quantiles",
    columns=(("q_sketch", "n_rows"),),
    fold=_fold,
    summarize=_summarize,
    k_note="sketch accuracy must not vary across batches",
)


def apply_quantile_sketch_batch(
    spark,
    store_path: str,
    batch: DataFrame,
    batch_id: int,
    keys: list[str],
    value_col: str,
    k: int = 200,
) -> int:
    """Aggregate ONE micro-batch's per-cell KLL sketches and land them
    at ``summaries/batch=<id>/`` (overwrite — replay-idempotent in
    effect), advancing the manifest watermark LAST: returns the
    number of summary rows written, or 0 when ``batch_id`` was
    already applied or the batch is empty. Factored out of the sink
    so the replay contract is unit-testable."""
    schema = {"keys": list(keys), "value_col": value_col, "k": int(k)}
    return (
        apply_batch(spark, _STORE, store_path, batch, batch_id, schema) or 0
    )


def serve_quantiles(
    spark,
    store_path: str,
    keys: list[str],
    quantiles: "tuple[float, ...]" = (0.5, 0.95, 0.99),
) -> DataFrame:
    """Quantile estimates over everything the sink has committed:
    merge the committed cell sketches (base ∪ post-watermark deltas)
    to ``keys`` (any subset of the stored cell keys) and evaluate the
    requested quantiles. O(stored sketches), never O(events)."""
    _, (cells,) = served_parts(spark, _STORE, store_path, keys)
    return merge_quantile_rollup(cells, keys, quantiles=list(quantiles))


def compact_quantile_sketch(spark, store_path: str) -> int:
    """Fold every committed summary version into ONE per-cell
    merged-sketch base: serving afterwards reads base + the summaries
    landed since. ``n_rows`` accounting is EXACTLY preserved; the
    merged sketch's estimates stay within the KLL rank-error bound
    (KLL merge is associative within its guarantee — byte-identity
    across merge orders is not promised, containment is). Crash-safe
    base write → CAS ``base_upto`` switch → idempotent sweep
    (:func:`.store_common.compact`). Returns the number of summary
    versions folded."""
    return compact(spark, _STORE, store_path)


def start_quantile_sketch_sink(
    stream: DataFrame,
    store_path: str,
    checkpoint_dir: str,
    keys: list[str],
    value_col: str,
    k: int = 200,
    trigger_seconds: int | None = None,
    available_now: bool = False,
) -> StreamingQuery:
    """Maintain the quantile store from an event stream: each
    micro-batch runs :func:`apply_quantile_sketch_batch`; serve any
    quantile at any time with :func:`serve_quantiles`; run
    :func:`compact_quantile_sketch` periodically to keep the serve
    cost flat as batches accrue."""
    return start_sink(
        stream, checkpoint_dir, trigger_seconds, available_now,
        apply_quantile_sketch_batch, store_path, keys, value_col, k=k,
    )
