"""Streaming state-residence durations — the streaming face of
:func:`..operators.resample.state_durations` (round 14; TimescaleDB
``state_agg`` over a live event stream).

Why this is not just another per-batch summary sink: a state interval
can SPAN a micro-batch boundary (the user's last event of batch N pins
their state until their first event of batch N+1), so batches are not
independent. The sink keeps a tiny per-key carryover — each key's
LAST observation — and computes every interval exactly once: batch
N+1's input is ``carryover ∪ batch``, whose consecutive pairs are
precisely the bridge interval plus the batch's own intervals.

Exactly-once EFFECTIVE application (stronger than the other sinks'
at-least-once-with-skip): both per-batch outputs are written to
VERSIONED locations keyed by the batch id —

- ``deltas/batch=<id>/`` — the batch's (key, state, state_us,
  n_intervals) increments, mode=overwrite;
- ``last_obs/batch=<id>/`` — the carryover AFTER this batch,
  mode=overwrite;

and the manifest's ``last_applied_batch`` advances LAST, through the
shared batch-versioned delta store (streaming/store_common.py, which
also owns the serve read and compaction). A crash at any point before
the manifest bump replays the batch against the UNCHANGED previous
carryover version and overwrites both outputs with
identical content — replays converge instead of double-counting, with
no CAS ledger needed. Carryover versions older than the replay window
(current + predecessor) are pruned after each commit, so ``last_obs``
holds at most two key-table snapshots. (Out-of-order arrival ACROSS
batches is the honest limitation: an event STRICTLY older than its
key's carryover timestamp would build a negative interval, so the
apply step drops such rows and counts them in the returned stats —
the same contract as any incremental interval builder; use the batch
operator for backfills. A tied-timestamp event is kept — it is new
data with a zero-length interval — unless a tiebreak column exists
and also ties at-or-below, which marks an exact replay duplicate.)

Serving (:func:`serve_state_durations`) reads only deltas at or below
the manifest watermark — versioned dirs a crashed half-applied batch
left behind are invisible until their manifest bump — sums them per
(key, state), and attaches the per-key share exactly like the batch
operator. O(stored deltas), never O(events).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from .. import fsutil
from .store_common import (
    DeltaStore,
    apply_batch,
    compact,
    served_parts,
    start_sink,
)


def _fold(parts: tuple, keys: list[str]) -> tuple:
    return (
        parts[0].groupBy(*keys, "state").agg(
            F.sum("state_us").cast("long").alias("state_us"),
            F.sum("n_intervals").cast("long").alias("n_intervals"),
        ),
    )


_STORE = DeltaStore(
    kind="state",
    label="state-duration store",
    apply_name="apply_state_durations_batch",
    columns=(("state", "state_us", "n_intervals"),),
    fold=_fold,
    data_dir="deltas",
    empty_error=FileNotFoundError,
)


def apply_state_durations_batch(
    spark,
    store_path: str,
    batch: DataFrame,
    batch_id: int,
    key: str,
    state: str,
    ts: str = "ts",
    order_tiebreak: str | None = None,
) -> dict:
    """Apply ONE micro-batch; returns ``{"intervals": n, "late": m}``
    (0/0 for a replayed or empty batch). Factored out of the sink so
    the replay-convergence contract is unit-testable."""
    tb = order_tiebreak

    def land(store: str, man: dict) -> "tuple[dict, dict]":
        prev = int(man["last_applied_batch"])
        tb_col = F.col(tb).cast("long") if tb is not None else F.lit(0)
        rows = batch.select(
            F.col(key), F.col(state).alias("_st"), F.col(ts).alias("_ts"),
            tb_col.alias("_tb"),
        )

        carry = flagged = None
        n_late = 0
        if prev >= 0:
            carry = spark.read.parquet(f"{store}/last_obs/batch={prev}")
            # late rows would build negative intervals — drop and
            # count. STRICTLY older only when no tiebreak exists: a new
            # event tied with the carryover timestamp is genuinely new
            # data (a zero-length interval, not a negative one) and
            # dropping it would break stream==batch parity (review
            # round 14). With a tiebreak the tied-below comparison
            # additionally drops exact duplicates of the carryover row.
            bounds = carry.select(
                F.col(key),
                F.col("_ts").alias("_c_ts"),
                F.col("_tb").alias("_c_tb"),
            )
            flagged = rows.join(
                F.broadcast(bounds), on=key, how="left"
            ).persist()
            older = F.col("_ts") < F.col("_c_ts")
            if tb is not None:
                older = older | (
                    (F.col("_ts") == F.col("_c_ts"))
                    & (F.col("_tb") <= F.col("_c_tb"))
                )
            late_cond = F.col("_c_ts").isNotNull() & older
            n_late = flagged.filter(late_cond).count()
            rows = flagged.filter(~late_cond).drop("_c_ts", "_c_tb")

        # several actions read this lineage (delta write, carryover
        # write); persist once instead of recomputing the join per
        # action
        inp = (rows if carry is None else carry.unionByName(rows)).persist()
        # consecutive intervals over carryover ∪ batch: the batch's own
        # pairs plus the boundary bridge, each counted exactly once
        w = Window.partitionBy(key).orderBy("_ts", "_tb")
        dt_us = F.unix_micros(F.lead("_ts").over(w)) - F.unix_micros(
            F.col("_ts")
        )
        deltas = (
            inp.select(F.col(key), F.col("_st"), dt_us.alias("_dt"))
            .filter(F.col("_dt").isNotNull())
            .groupBy(key, "_st")
            .agg(
                F.sum("_dt").cast("long").alias("state_us"),
                F.count(F.lit(1)).cast("long").alias("n_intervals"),
            )
            .select(
                F.col(key), F.col("_st").alias("state"),
                "state_us", "n_intervals",
            )
        )
        try:
            # versioned, overwrite-idempotent outputs; manifest bump
            # LAST (by apply_batch, after this returns)
            deltas.write.mode("overwrite").parquet(
                f"{store}/deltas/batch={batch_id}"
            )
            # interval count from the WRITTEN output — no extra pass
            # over the input lineage
            n_intervals = (
                spark.read.parquet(f"{store}/deltas/batch={batch_id}")
                .agg(F.coalesce(F.sum("n_intervals"), F.lit(0)))
                .first()[0]
            )
            last_w = Window.partitionBy(key).orderBy(
                F.col("_ts").desc(), F.col("_tb").desc()
            )
            new_last = (
                inp.withColumn("_rn", F.row_number().over(last_w))
                .filter(F.col("_rn") == 1)
                .drop("_rn")
            )
            new_last.write.mode("overwrite").parquet(
                f"{store}/last_obs/batch={batch_id}"
            )
        finally:
            inp.unpersist()
            if flagged is not None:
                flagged.unpersist()
        # prune carryover versions no longer reachable: keep the one
        # just written and its predecessor (the replay window — a
        # crash BEFORE the manifest bump still reads `prev`; anything
        # older is dead weight that would otherwise grow
        # O(batches x keys))
        keep = {int(batch_id), prev}
        for v in man.get("last_obs_versions", []):
            if int(v) not in keep:
                fsutil.delete_path(spark, f"{store}/last_obs/batch={v}")
        stats = {"intervals": int(n_intervals), "late": int(n_late)}
        return stats, {"last_obs_versions": sorted(v for v in keep if v >= 0)}

    schema = {"key": key, "state": state, "ts": ts}
    got = apply_batch(
        spark, _STORE, store_path, batch, batch_id, schema, land
    )
    return got or {"intervals": 0, "late": 0}


def serve_state_durations(spark, store_path: str) -> DataFrame:
    """Current per-(key, state) totals + per-key share — the batch
    operator's output shape, recomputed from the committed base +
    delta increments."""
    man, parts = served_parts(spark, _STORE, store_path)
    key = man["key"]
    (agg,) = _fold(parts, [key])
    total = F.sum("state_us").over(Window.partitionBy(key))
    return agg.select(
        F.col(key), "state", "state_us", "n_intervals",
        F.when(
            total > 0,
            F.round(
                F.col("state_us").cast("double") / total.cast("double"), 6
            ),
        ).alias("frac"),
    )


def start_state_durations_sink(
    stream: DataFrame,
    store_path: str,
    checkpoint_dir: str,
    key: str,
    state: str,
    ts: str = "ts",
    order_tiebreak: str | None = None,
    trigger_seconds: int | None = None,
    available_now: bool = False,
) -> StreamingQuery:
    """Maintain the duration store from an event stream: each
    micro-batch runs :func:`apply_state_durations_batch`; query
    current totals any time with :func:`serve_state_durations`."""
    return start_sink(
        stream, checkpoint_dir, trigger_seconds, available_now,
        apply_state_durations_batch, store_path, key, state, ts,
        order_tiebreak=order_tiebreak,
    )


def compact_state_durations(spark, store_path: str) -> int:
    """Fold every committed increment into ONE base snapshot (round
    14; the delta-store answer to the serving cost growing
    O(applied batches) — the Bm25Index/IvfIndex compact() stance
    applied to the duration store): serving afterwards reads base +
    the deltas landed since, with IDENTICAL totals (pinned).
    Crash-safe base write → CAS ``base_upto`` switch → idempotent
    sweep (:func:`.store_common.compact`): the CAS switch never rolls
    back a sink batch that committed during the fold — the stream
    checkpoint has already advanced past it, so it would be lost for
    good (ADVICE r14). Returns the number of delta versions folded."""
    return compact(spark, _STORE, store_path)
