"""Continuous aggregate — the hypertable-rollup operator of a
timeseries engine (TimescaleDB-style continuous aggregates; the
reference has no aggregation at all, its FDD loop re-scans a fixed
window each tick, main.rs:384-406).

A continuous aggregate keeps a MATERIALIZED windowed rollup of an
append-only base table, refreshed incrementally, and serves reads as
``materialized rollup ∪ freshly-aggregated tail`` so results are
always complete even between refreshes. The Spark-idiomatic build:

- **Materialization is parquet partitioned by window day** — readers
  prune to the window range they query (PartitionFilters), and a
  refresh replaces exactly the affected partitions.
- **Incremental refresh = dynamic partition overwrite.** The refresh
  re-aggregates only window-days at-or-after the stored high-water
  mark and rewrites those partition directories atomically
  (``partitionOverwriteMode=dynamic``). Re-running a refresh is
  idempotent — the same partitions get the same bytes — so a crashed
  refresh is retried, never reconciled. No driver state: the
  watermark manifest is one tiny JSON file beside the data.
- **The tail stays correct by re-aggregating from base.** Windows at
  or after the high-water mark may still receive appends, so
  ``read()`` unions the materialized part (window_day < hwm) with an
  on-the-fly aggregation of the base tail (ts >= hwm). Aggregating a
  tail bounded by one refresh interval is cheap at any scale — the
  exact trade TimescaleDB's real-time aggregates make.

At 100 TB: the rollup is ~(base rows / rows-per-window) — orders of
magnitude smaller than base; refresh cost is O(appended data), not
O(history); the only shuffle is the grouped aggregation's.

Always-safe restriction: the high-water mark only ADVANCES to
``max(ts)`` seen at refresh time, truncated DOWN to a window-day
boundary, so a window-day is materialized-final only once wholly in
the past of observed data. Late rows older than the high-water mark
are a documented loss (same watermark contract as the streaming
surface, streaming/ingest.py) — call ``refresh(full=True)`` to
rebuild everything when late data must be folded in.

Storage-agnostic: the
high-water-mark manifest and the data-file probe go through the Hadoop
FileSystem API resolved FROM the rollup path's own scheme, so an
HDFS/S3A ``rollup_path`` works identically to a local one — previously
``os.path``/``os.walk`` silently saw nothing on object storage and
every ``read()`` degraded to a full O(history) re-aggregation.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..fsutil import fs_for, hpath, read_json_manifest, write_json_manifest


def _tz_offsets_seconds(tz: str) -> list[int]:
    """UTC offsets (seconds) a session timezone string can take.

    Fixed-offset forms (``UTC``, ``GMT``, ``Z``, ``+05:30``,
    ``UTC+01:00``) yield one value; IANA names yield the January and
    July offsets (covers both DST phases — a DST shift itself is a
    whole hour in every real zone, so validating both endpoints
    suffices for sub-hour windows too). Unresolvable names raise."""
    s = tz.strip()
    if s.upper() in ("UTC", "GMT", "Z", "ETC/UTC", "ETC/GMT"):
        return [0]
    # minutes are optional: Spark/Java ZoneId accepts 'GMT+8', '+8',
    # 'UTC+1' as well as '+05:30'
    m = re.fullmatch(
        r"(?:GMT|UTC)?([+-])(\d{1,2})(?::?(\d{2}))?(?::\d{2})?", s
    )
    if m:
        sign = 1 if m.group(1) == "+" else -1
        mins = int(m.group(3)) if m.group(3) else 0
        return [sign * (int(m.group(2)) * 3600 + mins * 60)]
    try:
        from datetime import datetime
        from zoneinfo import ZoneInfo

        z = ZoneInfo(s)
        return [
            int(z.utcoffset(datetime(2026, 1, 1)).total_seconds()),
            int(z.utcoffset(datetime(2026, 7, 1)).total_seconds()),
        ]
    except Exception:
        raise ValueError(
            f"cannot resolve session timezone {tz!r} to a UTC offset; "
            "set spark.sql.session.timeZone=UTC for continuous rollups"
        ) from None


class ContinuousRollup:
    """A windowed rollup of an events-shaped table, maintained
    incrementally.

    Parameters: ``base`` the append-only source — a parquet path, or a
    zero-arg callable returning a DataFrame (e.g. the engine's
    overlay-merged canonical telemetry view, api.py
    ``continuous_rollup``); ``rollup_path`` the materialization;
    ``key_cols`` grouping keys besides the window; ``ts_col``
    event-time column; ``window`` tumbling width (any ``F.window``
    duration); ``value_col`` the measure.
    """

    def __init__(
        self,
        spark: SparkSession,
        base,
        rollup_path: str,
        key_cols: list[str],
        ts_col: str = "ts",
        value_col: str = "value",
        window: str = "5 minutes",
        distinct_col: str | None = None,
        lg_k: int = 12,
        quantile_col: str | None = None,
        kll_k: int = 200,
        partition_day_col: str | None = None,
        theta_col: str | None = None,
    ) -> None:
        self.spark = spark
        self.base = base
        self.rollup_path = rollup_path
        self.key_cols = list(key_cols)
        self.ts_col = ts_col
        self.value_col = value_col
        self.window = window
        #: optional mergeable COUNT DISTINCT: each cell also stores an
        #: HLL sketch of ``distinct_col`` (functions/sketches.py), so
        #: ``distinct_estimate`` can union across materialized days AND
        #: the live tail — the operation exact distinct counts cannot
        #: do. Estimates are input-set-deterministic; the sketch BYTES
        #: may differ across refresh orders (coupon order in sparse
        #: mode), so byte-level partition idempotency holds for the
        #: numeric columns and value-level idempotency for the sketch.
        self.distinct_col = distinct_col
        self.lg_k = lg_k
        #: optional mergeable PERCENTILES (the KLL twin of
        #: distinct_col): each cell also stores a KLL quantile sketch
        #: of ``quantile_col``, so ``quantile_estimate`` can merge
        #: across materialized days AND the live tail — the operation
        #: per-cell percentile_approx cannot do (quantiles don't sum).
        #: Same idempotency stance as the HLL cells: estimates are
        #: input-set-deterministic, sketch BYTES may differ across
        #: refresh orders.
        self.quantile_col = quantile_col
        self.kll_k = kll_k
        #: optional mergeable SET ALGEBRA (the Theta member
        #: completing the sketch-cell family beside HLL count-distinct
        #: and KLL quantiles): each cell also stores a Theta sketch of
        #: ``theta_col``, so ``segment_overlap_estimate`` can
        #: intersect segment populations across materialized days AND
        #: the live tail — the operation HLL cells cannot do
        #: (union-only). Same idempotency stance as the other sketch
        #: cells: estimates are input-set-deterministic, sketch BYTES
        #: may differ across refresh orders.
        self.theta_col = theta_col
        #: optional name of a DAY PARTITION column in the base view
        #: when the base is stored
        #: day-partitioned (the engine warehouse's
        #: ``series_bucket=*/ds=*`` layout), ``invalidate_days`` also
        #: emits ``<col> IN (<days>)`` so late-day repair prunes whole
        #: partition directories instead of leaning on row-group ts
        #: stats. Contract: the column equals ``to_date(ts_col)`` AS
        #: STORED — for rows whose ts was later overlay-updated across
        #: a day boundary, name the STORAGE day too (or use
        #: ``refresh(full=True)``), since pruning reads the partition
        #: value, not the merged ts.
        self.partition_day_col = partition_day_col
        self.manifest_path = rollup_path + ".hwm.json"
        # Day boundaries must be window boundaries: otherwise a window
        # spanning midnight could be half-materialized and half-tail
        # (double-counted by read()). Tumbling rollups use day-dividing
        # widths in practice; enforce it.
        _SECS = {"second": 1, "seconds": 1, "minute": 60, "minutes": 60,
                 "hour": 3600, "hours": 3600}
        try:
            qty, unit = window.split()
            secs = int(qty) * _SECS[unit]
        except (ValueError, KeyError):
            raise ValueError(
                f"window {window!r} must be '<n> seconds|minutes|hours'"
            ) from None
        if secs <= 0 or 86_400 % secs != 0:
            raise ValueError(
                f"window {window!r} ({secs}s) must evenly divide 24 hours "
                "so day boundaries are window boundaries"
            )
        # ...and the SESSION TIMEZONE's midnight must also land on a
        # window boundary: F.window buckets are epoch(UTC)-aligned
        # while window_day=to_date(w.start) and the hwm date casts use
        # the session zone. On e.g. +05:30 with a '1 hour' window, a
        # window straddles local midnight at the high-water mark and
        # read() would count it on BOTH sides.
        tz = spark.conf.get("spark.sql.session.timeZone")
        for off in _tz_offsets_seconds(tz):
            if off % secs != 0:
                raise ValueError(
                    f"session timezone {tz!r} (UTC offset {off}s) is not a "
                    f"multiple of the window ({secs}s): local midnight "
                    "would fall inside a window and read() could double-"
                    "count it. Set spark.sql.session.timeZone=UTC or "
                    "choose a window that divides the offset."
                )

    # ------------------------------------------------------------ internals

    def _base(self) -> DataFrame:
        if callable(self.base):
            return self.base()
        return self.spark.read.parquet(self.base)

    def _aggregate(self, df: DataFrame) -> DataFrame:
        w = F.window(self.ts_col, self.window)
        v = F.col(self.value_col)
        aggs = [
            F.count("*").alias("n"),
            # exact 2-dp decimal sum: refresh order can never change
            # the stored bytes (idempotent partition rewrites)
            F.sum(v.cast("decimal(18,2)")).cast("double").alias("sum_value"),
            F.min(v).alias("min_value"),
            F.max(v).alias("max_value"),
        ]
        extra = []
        if self.distinct_col is not None:
            aggs.append(
                F.hll_sketch_agg(F.col(self.distinct_col), F.lit(self.lg_k))
                .alias("distinct_sketch")
            )
            extra = ["distinct_sketch"]
        if self.quantile_col is not None:
            from ..functions.sketches import quantile_sketch

            aggs.append(
                quantile_sketch(self.quantile_col, self.kll_k)
                .alias("quantile_sketch")
            )
            extra = [*extra, "quantile_sketch"]
        if self.theta_col is not None:
            aggs.append(
                F.theta_sketch_agg(F.col(self.theta_col))
                .alias("theta_sketch")
            )
            extra = [*extra, "theta_sketch"]
        return (
            df.groupBy(*self.key_cols, w.alias("w"))
            .agg(*aggs)
            .select(
                *self.key_cols,
                F.col("w.start").alias("window_start"),
                F.col("w.end").alias("window_end"),
                "n",
                "sum_value",
                "min_value",
                "max_value",
                *extra,
                F.to_date("w.start").alias("window_day"),
            )
        )

    def distinct_estimate(self, group_cols: list[str] | None = None) -> DataFrame:
        """Distinct-count estimate of ``distinct_col`` per
        ``group_cols`` (default: the rollup keys) over the COMPLETE
        view — HLL sketches from materialized days and the live tail
        union losslessly, which exact per-cell distinct counts cannot
        (users overlap across days). Returns (group_cols, n_rows,
        distinct_est)."""
        if self.distinct_col is None:
            raise ValueError(
                "rollup was built without distinct_col — no sketches stored"
            )
        gc = self.key_cols if group_cols is None else list(group_cols)
        return (
            self.read()
            .groupBy(*gc)
            .agg(
                F.sum("n").cast("bigint").alias("n_rows"),
                F.hll_union_agg(F.col("distinct_sketch")).alias("_sk"),
            )
            .select(
                *gc,
                "n_rows",
                F.hll_sketch_estimate("_sk").cast("bigint")
                .alias("distinct_est"),
            )
        )

    def quantile_estimate(
        self,
        quantiles: "tuple[float, ...]" = (0.5, 0.95, 0.99),
        group_cols: list[str] | None = None,
    ) -> DataFrame:
        """Percentile estimates of ``quantile_col`` per ``group_cols``
        (default: the rollup keys) over the COMPLETE view — KLL
        sketches from materialized days and the live tail MERGE
        losslessly within the sketch's rank-error bound, which
        per-cell percentile_approx cannot do (the quantile
        twin of :meth:`distinct_estimate`). Returns (group_cols,
        n_rows, p<q> per requested quantile, rounded 6 dp)."""
        if self.quantile_col is None:
            raise ValueError(
                "rollup was built without quantile_col — no KLL "
                "sketches stored"
            )
        from ..functions.sketches import merge_quantile_rollup

        gc = self.key_cols if group_cols is None else list(group_cols)
        cells = self.read().select(
            *gc,
            F.col("quantile_sketch").alias("q_sketch"),
            F.col("n").cast("bigint").alias("n_rows"),
        )
        return merge_quantile_rollup(cells, gc, quantiles=list(quantiles))

    def segment_overlap_estimate(
        self, group_col: str, k: int = 2
    ) -> DataFrame:
        """Segment-overlap estimates of ``theta_col`` members between
        values of ``group_col`` (one of the rollup keys) over the
        COMPLETE view — Theta sketches from materialized days and the
        live tail UNION losslessly per segment, then every pairwise
        (``k=2``: intersection/union/Jaccard) or k-way (``k>=3``:
        members in ALL k segments) overlap is computed from sketch
        bytes (the set-algebra member of the sketch-cell
        family — the question :meth:`distinct_estimate`'s HLL cells
        cannot answer). Never re-scans raw events: O(cells) merge +
        a dims-only segment grid. NULL segments are excluded (the
        theta_rollup contract)."""
        if self.theta_col is None:
            raise ValueError(
                "rollup was built without theta_col — no Theta "
                "sketches stored"
            )
        if group_col not in self.key_cols:
            raise ValueError(
                f"segment_overlap_estimate group_col {group_col!r} "
                f"must be one of the rollup keys {self.key_cols}"
            )
        from ..functions.sketches import (
            merge_theta_cells,
            theta_overlap,
            theta_overlap_kway,
        )

        cells = (
            self.read()
            .filter(F.col(group_col).isNotNull())
            .select(
                group_col,
                "theta_sketch",
                # accounting only (merge_theta_cells carries it
                # through); cell n counts ALL rows, the sketch holds
                # the non-NULL theta_col members
                F.col("n").cast("bigint").alias("n_rows"),
            )
        )
        merged = merge_theta_cells(cells, [group_col])
        if k == 2:
            return theta_overlap(merged, group_col)
        return theta_overlap_kway(merged, group_col, k=k)

    # -- manifest + probe I/O through the shared Hadoop-FS helpers
    # (fsutil.py): an hdfs:// or s3a:// rollup_path behaves exactly
    # like file:// — the FS is resolved from the PATH's scheme.

    def _read_hwm(self) -> str | None:
        man = read_json_manifest(self.spark, self.manifest_path)
        return None if man is None else man["hwm_day"]

    def _write_hwm(self, day: str) -> None:
        write_json_manifest(self.spark, self.manifest_path, {"hwm_day": day})

    def _has_data_files(self) -> bool:
        """True iff the materialization holds at least one parquet data
        file (a refresh that wrote zero rows leaves only _SUCCESS — no
        schema to read)."""
        fs = fs_for(self.spark, self.rollup_path)
        root = hpath(self.spark, self.rollup_path)
        if not fs.exists(root):
            return False
        it = fs.listFiles(root, True)  # recursive RemoteIterator
        while it.hasNext():
            if it.next().getPath().getName().endswith(".parquet"):
                return True
        return False

    # ------------------------------------------------------------- surface

    def refresh(self, full: bool = False) -> int:
        """Materialize complete window-days; returns rows written.

        Incremental by default: only days >= the stored high-water mark
        are re-aggregated and dynamically overwritten. ``full=True``
        rebuilds the whole rollup (the late-data escape hatch).
        """
        base = self._base()
        hwm = None if full else self._read_hwm()
        if hwm is not None:
            base = base.filter(F.col(self.ts_col) >= F.lit(hwm).cast("date"))
        bounds = base.agg(F.max(self.ts_col).alias("mx")).collect()[0]
        if bounds.mx is None:
            return 0  # nothing new
        agg = self._aggregate(base)
        # final day = the day containing max(ts): still append-hot, so
        # materialize only days strictly BEFORE it and leave it to the
        # real-time tail
        new_hwm = str(bounds.mx.date())
        out = agg.filter(F.col("window_day") < F.lit(new_hwm).cast("date"))
        # row count via an Observation on the WRITE job — a separate
        # count() action would execute the whole aggregation twice
        from pyspark.sql import Observation

        obs = Observation()
        (
            out.observe(obs, F.count(F.lit(1)).alias("n"))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("window_day")
            .parquet(self.rollup_path)
        )
        self._write_hwm(new_hwm)
        return int(obs.get["n"])

    def invalidate_days(self, days) -> int:
        """Writer-driven late-data repair (the role
        TimescaleDB's invalidation log plays): re-aggregate exactly
        the named ALREADY-MATERIALIZED window-days from base and
        dynamically overwrite their partitions. The WRITER knows which
        days its batch touched — the streaming sinks call this with
        their batch's below-hwm days automatically — so a late row no
        longer needs the ``refresh(full=True)`` whole-rollup rebuild.

        ``days``: ISO date strings (or dates). Days at/after the
        high-water mark are ignored (the real-time tail already
        serves them). Cost: one base scan FILTERED to the named days
        + a dynamic overwrite of just those partitions — O(late
        days), never O(rollup). Returns rows written. Idempotent in
        VALUE (same days → same cell values; for the numeric columns
        also the same bytes). With HLL/KLL sketch cells enabled
        (``distinct_col``/``quantile_col``) byte idempotency does NOT
        extend to the sketch binaries — DataSketches compaction makes
        level/coupon decisions the merge order can shift, so a re-run
        may rewrite different sketch BYTES encoding the same estimates
        (the class-level cell comments pin the same
        contract). Day boundaries are window boundaries by the
        constructor's contract, so a day's re-aggregation is
        self-contained. Scope: repairs late ARRIVALS — dynamic
        overwrite cannot delete a partition, so a day whose base rows
        vanished entirely keeps its stale cells (deletions need
        ``refresh(full=True)``, the documented rebuild hatch).

        Scale path: when the rollup was
        built with ``partition_day_col`` (the engine warehouse's
        ``ds`` layout), the named days are ALSO emitted as a
        partition-column ``IN`` list, so the repair scan prunes whole
        ``ds=<day>`` directories (PartitionFilters) instead of
        relying on row-group ts min/max stats — at 100 TB that is the
        difference between listing O(late days) directories and
        touching every file's footer."""
        hwm = self._read_hwm()
        if hwm is None:
            return 0
        todo = sorted({str(d) for d in days if str(d) < hwm})
        if not todo:
            return 0
        out = self._aggregate(self._invalidation_base(todo)).filter(
            F.col("window_day").cast("string").isin(todo)
        )
        from pyspark.sql import Observation

        obs = Observation()
        (
            out.observe(obs, F.count(F.lit(1)).alias("n"))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("window_day")
            .parquet(self.rollup_path)
        )
        return int(obs.get["n"])

    def _invalidation_base(self, todo: list[str]) -> DataFrame:
        """The base rows :meth:`invalidate_days` re-aggregates:
        filtered to the named days on event time, AND — when the base
        carries a day partition column — on the partition column
        itself, so the scan prunes ``<partition_day_col>=<day>``
        directories (the predicate Catalyst can evaluate on partition
        VALUES; the ts predicate alone only reaches row-group stats).
        Factored out so the plan shape is directly assertable."""
        base = self._base()
        if self.partition_day_col is not None:
            import datetime as _dt

            base = base.filter(
                F.col(self.partition_day_col).isin(
                    [_dt.date.fromisoformat(d) for d in todo]
                )
            )
        return base.filter(
            F.to_date(F.col(self.ts_col)).cast("string").isin(todo)
        )

    def read(self) -> DataFrame:
        """The always-complete view: materialized days ∪ an on-the-fly
        aggregation of the base tail (ts at/after the high-water mark).
        Same schema either way; readers cannot tell which side a window
        came from."""
        hwm = self._read_hwm()
        tail_base = self._base()
        if hwm is None:
            return self._aggregate(tail_base)
        tail = self._aggregate(
            tail_base.filter(F.col(self.ts_col) >= F.lit(hwm).cast("date"))
        )
        if not self._has_data_files():
            return tail
        mat = self.spark.read.parquet(self.rollup_path).filter(
            F.col("window_day") < F.lit(hwm).cast("date")
        )
        return mat.unionByName(tail)


class RollupScheduler:
    """R5/R6 cadence owner for a :class:`ContinuousRollup` — the FDD
    loop's re-arm semantics (streaming/fdd.py ``FddScheduler``) applied
    to the aggregate surface: ``refresh()`` fires every
    ``interval_seconds`` on a daemon timer that re-arms after each run.

    The reference's ``set_interval`` (main.rs:285-299) sleeps once,
    runs once, and never re-arms (the R6 bug SURVEY §2.1 documents);
    here ``set_interval`` replaces the live cadence and every future
    tick fires at the new interval. Refreshes are already idempotent
    (dynamic partition overwrite of the same days → same bytes), so an
    extra tick racing a manual ``refresh()`` call is harmless; a lock
    still serializes them so two Spark write jobs never overlap on the
    same partitions.

    Driver-side threading is the right tool here (vs a streaming
    query): refresh is a BATCH job over the base table — there is no
    source offset to track, and the trigger is wall-clock, exactly like
    the reference's tokio sleep loop.
    """

    def __init__(self, rollup: ContinuousRollup, interval_seconds: float = 300):
        import threading

        self.rollup = rollup
        self.interval_seconds = float(interval_seconds)
        self.refresh_count = 0
        self.error_count = 0
        self.last_rows = 0
        self.last_error: BaseException | None = None
        self._lock = threading.Lock()
        self._timer: object | None = None
        self._active = False
        # Generation token: Timer.cancel() is a no-op
        # on a timer whose thread has already fired and is blocked on
        # the lock — without the token, a set_interval()/start() racing
        # such a tick would arm a SECOND re-arming chain and double the
        # cadence forever. Each (re)arm bumps the generation; a tick
        # carrying a stale generation exits without re-arming.
        self._gen = 0

    def _tick(self, gen: int) -> None:
        with self._lock:
            if not self._active or gen != self._gen:
                return
            # A transient refresh failure (FS hiccup, concurrent
            # writer, aborted Spark job) must not silently kill the
            # cadence — that would be the reference's never-re-arms R6
            # bug reintroduced via the error path. Record it, keep
            # ticking; refresh is idempotent so the next tick simply
            # retries the same days.
            try:
                self.last_rows = self.rollup.refresh()
                self.refresh_count += 1
            except Exception as e:  # noqa: BLE001 — recorded, not hidden
                self.last_error = e
                self.error_count += 1
            self._arm()

    def _arm(self) -> None:
        import threading

        self._gen += 1
        t = threading.Timer(
            self.interval_seconds, self._tick, args=(self._gen,)
        )
        t.daemon = True
        self._timer = t
        t.start()

    def start(self) -> "RollupScheduler":
        with self._lock:
            if self._active:
                return self
            self._active = True
            self._arm()
        return self

    def set_interval(self, seconds: float) -> None:
        """Re-arm the refresh cadence (R6 parity): cancel the pending
        tick and schedule the next one ``seconds`` out."""
        with self._lock:
            self.interval_seconds = float(seconds)
            if self._active:
                if self._timer is not None:
                    self._timer.cancel()
                self._arm()

    def stop(self) -> None:
        with self._lock:
            self._active = False
            self._gen += 1  # invalidate any tick already past cancel()
            if self._timer is not None:
                self._timer.cancel()
                self._timer = None

    def wait_for(self, count: int, timeout: float = 30.0) -> bool:
        """Block until ``refresh_count`` reaches ``count`` (test/ops
        helper); True iff reached before ``timeout``."""
        import time

        deadline = time.monotonic() + timeout
        while time.monotonic() < deadline:
            if self.refresh_count >= count:
                return True
            time.sleep(0.05)
        return self.refresh_count >= count
