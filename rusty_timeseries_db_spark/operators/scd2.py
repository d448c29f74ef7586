"""SCD2 (slowly-changing dimension, type 2) merge — the CDC pattern on
engines without MERGE INTO: emulate with join + union (guide-listed
OLAP pattern; the same overlay philosophy as telemetry updates, §7.4,
applied to dimension history).

A dimension row carries ``(key, attrs..., valid_from, valid_to)`` with
``valid_to IS NULL`` marking the current version. ``scd2_apply`` takes a
batch of changes ``(key, attrs..., change_ts)`` and returns the new
dimension:

- current rows whose tracked attrs changed → closed out
  (``valid_to = change_ts``);
- a new current version inserted per changed/new key;
- unchanged-attr changes are no-ops (idempotent re-delivery safe);
- history rows pass through untouched.

Shuffle shape: the dimension NEVER shuffles. Spark cannot broadcast
either side of a full-outer join, so the merge is decomposed into
broadcast-able legs instead:

1. ``cur LEFT OUTER broadcast(changes)`` — BroadcastHashJoin
   (build-right supports left-outer); yields untouched/identical
   current rows, closed-out rows, and the new version for every
   *existing* key, all from one probe of the dimension;
2. brand-new keys = ``changes LEFT ANTI broadcast(matched_keys)``
   where ``matched_keys`` is the (≤ |changes|) key set that leg 1
   matched — both sides tiny, also a BroadcastHashJoin.

CDC batches ≪ dimension at scale, so every join builds on the small
side and the big dimension is only ever the streamed probe side.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def scd2_apply(
    dim: DataFrame,
    changes: DataFrame,
    key: str,
    tracked: Sequence[str],
    change_ts: str = "change_ts",
) -> DataFrame:
    """Return the post-merge SCD2 dimension (see module docstring).

    ``changes`` must hold one row per key (dedupe/latest-wins upstream
    for multi-change batches).
    """
    tracked = list(tracked)
    cur = dim.filter(F.col("valid_to").isNull())
    hist = dim.filter(F.col("valid_to").isNotNull())

    ch_cols = changes.select(
        F.col(key).alias("_ck"),
        F.col(change_ts).alias("_cts"),
        *[F.col(c).alias(f"_c_{c}") for c in tracked],
    )
    ch = F.broadcast(ch_cols)
    # Leg 1: probe the big current-dimension side once; the broadcast
    # hint is honored (left-outer + build-right is a supported
    # BroadcastHashJoin shape — a full-outer join would silently fall
    # back to SortMergeJoin and shuffle the whole dimension).
    joined = cur.join(ch, cur[key] == F.col("_ck"), "left_outer")

    attrs_differ = F.lit(False)
    for c in tracked:
        attrs_differ = attrs_differ | ~F.col(c).eqNullSafe(F.col(f"_c_{c}"))

    # 1a. current rows with no change, or change with identical attrs
    keep_cur = joined.filter(
        F.col("_ck").isNull() | ~attrs_differ
    ).select(*dim.columns)

    # 1b. current rows closed out by a real change
    closed = (
        joined.filter(F.col("_ck").isNotNull() & attrs_differ)
        .select(
            *[cur[c] for c in dim.columns if c != "valid_to"],
            F.col("_cts").alias("valid_to"),
        )
        .select(*dim.columns)
    )

    # 1c. new current versions for keys that already exist
    changed_new = (
        joined.filter(F.col("_ck").isNotNull() & attrs_differ)
        .select(
            F.col("_ck").alias(key),
            *[F.col(f"_c_{c}").alias(c) for c in tracked],
            F.col("_cts").alias("valid_from"),
            F.lit(None).cast("timestamp").alias("valid_to"),
        )
        .select(*dim.columns)
    )

    # Leg 2: brand-new keys — changes minus the keys leg 1 matched.
    # matched_keys is ≤ |changes| rows, so both sides of this anti join
    # broadcast; the dimension is not re-shuffled.
    matched_keys = F.broadcast(
        joined.filter(F.col("_ck").isNotNull()).select(F.col("_ck"))
    )
    brand_new = (
        ch_cols.join(matched_keys, "_ck", "left_anti")
        .select(
            F.col("_ck").alias(key),
            *[F.col(f"_c_{c}").alias(c) for c in tracked],
            F.col("_cts").alias("valid_from"),
            F.lit(None).cast("timestamp").alias("valid_to"),
        )
        .select(*dim.columns)
    )

    return (
        hist.unionByName(keep_cur)
        .unionByName(closed)
        .unionByName(changed_new)
        .unionByName(brand_new)
    )


def merge_upsert(
    target: DataFrame,
    source: DataFrame,
    keys: Sequence[str],
    update_cols: Sequence[str] | None = None,
) -> DataFrame:
    """MERGE INTO semantics on immutable frames (the
    SET-level sibling of the reference's R2 point update,
    main.rs:106-117, and of this module's SCD2 history merge): WHEN
    MATCHED, update ``update_cols`` to the source's values (source
    NULLs win — MERGE assigns, it does not coalesce); WHEN NOT
    MATCHED, insert the source row with NULL in every target column
    the source does not carry. A narrowed ``update_cols`` scopes the
    WHEN MATCHED assignment list only (SQL MERGE's ``UPDATE SET``):
    inserts still take every source-carried target column — a new row
    has no old value to preserve. Returns the merged frame in the
    target's exact schema.

    Contract: source keys must be unique (real MERGE engines raise on
    multi-match at runtime; here a duplicate source key would update
    a target row twice into two output rows — dedupe upstream).

    Shuffle shape (the scd2_apply decomposition): the TARGET never
    shuffles. A full-outer join cannot broadcast either side, so the
    merge runs as two broadcast legs instead — (1) ``target LEFT
    OUTER broadcast(source)`` applies updates in one probe of the
    big side; (2) inserts = ``source LEFT ANTI broadcast(matched
    keys)`` where the matched-key set (<= |source| rows) comes from
    ``target SEMI broadcast(source)`` — a second probe of the
    target, still no shuffle. CDC batches are tiny next to the
    target at scale, so both joins build on the small side."""
    keys = list(keys)
    if update_cols is None:
        update_cols = [c for c in source.columns if c not in keys]
    update_cols = list(update_cols)
    missing = [c for c in keys + update_cols if c not in source.columns]
    if missing:
        raise ValueError(f"source lacks columns {missing}")
    not_in_target = [
        c for c in keys + update_cols if c not in target.columns
    ]
    if not_in_target:
        # without this the _m_<col> value would join in and silently
        # drop (the select iterates target.columns only) — every
        # matched row a no-op, every insert losing the value
        raise ValueError(f"target lacks columns {not_in_target}")

    src = source.select(
        *keys,
        *[F.col(c).alias(f"_m_{c}") for c in update_cols],
        F.lit(1).alias("_m_hit"),
    )
    joined = target.join(F.broadcast(src), keys, "left")
    hit = F.col("_m_hit").isNotNull()
    updated = joined.select(
        *[
            F.when(hit, F.col(f"_m_{c}")).otherwise(F.col(c)).alias(c)
            if c in update_cols
            else F.col(c)
            for c in target.columns
        ]
    )
    matched_keys = (
        target.select(*keys).join(F.broadcast(src.select(*keys)), keys,
                                  "left_semi")
    )
    # the insert leg takes EVERY source-carried target column, not just
    # keys + update_cols: a narrowed update_cols scopes WHEN MATCHED
    # assignment only (SQL MERGE's UPDATE SET list) — a brand-new row
    # has no old value to preserve, so discarding carried source values
    # there would silently NULL data the caller supplied
    target_types = {f.name: f.dataType for f in target.schema.fields}
    src_carried = set(source.columns)
    inserts = source.join(
        F.broadcast(matched_keys), keys, "left_anti"
    ).select(
        *[
            F.col(c).cast(target_types[c]).alias(c) if c in src_carried
            else F.lit(None).cast(target_types[c]).alias(c)
            for c in target.columns
        ]
    )
    return updated.unionByName(inserts)


def table_diff(
    old: DataFrame,
    new: DataFrame,
    keys: Sequence[str],
    compare_cols: Sequence[str] | None = None,
) -> DataFrame:
    """Snapshot diff — the release-validation primitive a
    100 TB pipeline runs before swapping a rebuilt table in: one row
    per key whose presence or compared values CHANGED between the two
    snapshots, ``(keys..., change_type added|removed|changed,
    changed_cols)`` where ``changed_cols`` is the comma-joined sorted
    list of differing columns (empty for added/removed — presence is
    the change). Identical keys produce no row, so the diff is
    report-sized, not table-sized. Comparison is NULL-SAFE per column
    (NULL -> value and value -> NULL both count as a change; NULL ->
    NULL does not).

    Contract: keys must be unique per snapshot (it is a snapshot
    diff, not a multiset diff — pre-aggregate or dedupe first).

    Shuffle shape: ONE co-keyed shuffle per side into a full-outer
    sort-merge/hash join on ``keys`` — unavoidable and optimal: both
    sides are table-scale so neither leg broadcasts (unlike
    merge_upsert's CDC-batch asymmetry), and every comparison after
    the join is row-local JVM work. At 100 TB bucket both snapshots
    on ``keys`` to make the diff shuffle-free."""
    keys = list(keys)
    if compare_cols is None:
        shared = [c for c in new.columns if c in set(old.columns)]
        compare_cols = [c for c in shared if c not in keys]
    compare_cols = list(compare_cols)
    missing = [
        c for c in keys + compare_cols
        if c not in old.columns or c not in new.columns
    ]
    if missing:
        raise ValueError(f"diff columns missing from a side: {missing}")

    o = old.select(
        *keys,
        F.lit(1).alias("_d_old"),
        *[F.col(c).alias(f"_o_{c}") for c in compare_cols],
    )
    n = new.select(
        *keys,
        F.lit(1).alias("_d_new"),
        *[F.col(c).alias(f"_n_{c}") for c in compare_cols],
    )
    j = o.join(n, keys, "full_outer")
    diffs = F.array_compact(
        F.array(
            *[
                F.when(
                    ~F.col(f"_o_{c}").eqNullSafe(F.col(f"_n_{c}")),
                    F.lit(c),
                )
                for c in sorted(compare_cols)
            ]
        )
    ) if compare_cols else F.array().cast("array<string>")
    out = j.select(
        *keys,
        F.when(F.col("_d_old").isNull(), F.lit("added"))
        .when(F.col("_d_new").isNull(), F.lit("removed"))
        .when(F.size(diffs) > 0, F.lit("changed"))
        .alias("change_type"),
        F.when(
            F.col("_d_old").isNotNull() & F.col("_d_new").isNotNull(),
            F.array_join(diffs, ","),
        ).otherwise(F.lit("")).alias("changed_cols"),
    )
    return out.filter(F.col("change_type").isNotNull())
