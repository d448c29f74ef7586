"""Engine facade: the reference's live surface, re-expressed on Spark.

Covers (SURVEY.md §2.1):
- R1  insert/append            → ``ingest_rows`` / ``ingest_df``
- R2  point update by key      → ``update_rows`` (overlay, §7.4)
- R3  filtered range scan      → ``query_by_id``
- R4  threshold FDD rule       → ``run_fault_detection``
- R11 client-side fault count  → ``fault_count``

Storage model: immutable Parquet, partitioned by ``series_bucket`` (and
``ds`` date at scale), files sorted by ``(timeseries_id, ts)`` within
partitions so Parquet row-group min/max stats make range queries behave
like index seeks. Appends write new files — never the reference's
whole-file rewrite (main.rs:81-90,101). Point updates (main.rs:106-117)
become an *overlay* table merged at read time (operators/overlay.py),
since Parquet files are immutable.
"""

from __future__ import annotations

import json
import os
import threading
from collections.abc import Iterable, Mapping
from typing import Callable, NamedTuple, Optional

from py4j.protocol import Py4JError
from pyspark.errors import AnalysisException, PySparkException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators.overlay import apply_overlay
from pyspark.sql.types import DateType, IntegerType, StructField, StructType

from .schema import (
    STORED_TELEMETRY_SCHEMA,  # canonical home moved to schema.py (r11)
    TELEMETRY_INGEST_SCHEMA,
    TELEMETRY_SCHEMA,
    normalize_ingest,
    normalize_payload,
    series_bucket,
    series_bucket_of,
)
from .streaming import quantile as _quantile
from .streaming import sketch as _sketch
from .streaming import state as _state
from .streaming import theta as _theta
from .streaming.store_common import read_store_manifest


class _SummaryKind(NamedTuple):
    """One row of ``TimeseriesEngine._SUMMARY_KINDS``."""

    tag: str
    start: Callable
    serve: Callable
    compact: Callable
    knobs: frozenset
    sink_args: dict


#: FDD defaults from the reference (main.rs:388,399).
DEFAULT_FAULT_THRESHOLD = 0.95
DEFAULT_FLAG_VALUE = 1

#: Read-time remap offset for exactly-once rows' ingest_seq (round 10,
#: code-review): the EO sink and the batch path assign seqs from two
#: UNRELATED lineages (stream batch_id * 1e12 + i vs engine-local
#: dense/bulk counters), so raw values collide — and the overlay merge
#: keys row identity on ingest_seq alone, which would let a flag
#: update targeting a batch row silently substitute an unrelated EO
#: row's whole payload (or vice versa). The union therefore serves EO
#: rows with seq' = seq - 2^63: a bijective, order-preserving shift of
#: the ENTIRE non-negative long range into the strictly NEGATIVE band
#: [-2^63, -1] (2nd review pass: a 2^62 offset ran out after ~4.6M
#: micro-batches — 53 days at 1 batch/s — and silently re-entered the
#: batch band; the full-range shift cannot, for any representable
#: seq; the stream's own stride arithmetic ANSI-fails loudly near
#: batch_id ~9.2e6 long before any remap concern). Overlay rows built
#: from the read surface inherit the remapped key, so they rebind to
#: exactly the store they targeted. Same-(series, ts) ties between
#: the two stores order the batch row last (positive > any negative)
#: — ties across unrelated lineages carry no arrival-order meaning
#: either way. Expressed as addition of long-min (representable;
#: result stays in range for every non-negative seq, so ANSI mode
#: never trips).
_EO_SEQ_OFFSET = -(1 << 63)

#: Overlay rows as ``update_rows``/``run_fault_detection`` append them.
#: Read with this schema, building a read over an overlay runs no
#: schema-inference job; a file written before ``overlay_version``
#: existed reads it as null, which ``apply_overlay`` orders last.
_OVERLAY_SCHEMA = StructType(
    list(TELEMETRY_SCHEMA.fields)
    + [StructField("overlay_version", IntegerType(), True)]
)


#: The series catalog's columns after ``timeseries_id``: one row per
#: series with its first-seen metadata (``build_series_catalog``).
_CATALOG_AGGS = (
    "min_by(sensor_name, ingest_seq) AS sensor_name",
    "min(ts_raw) AS stored_at",
    "count(*) AS n_rows",
)

#: Physical leaves that read no table.
_TABLELESS_LEAVES = frozenset(
    {"LocalTableScanExec", "OneRowRelationExec", "RangeExec", "RDDScanExec"}
)


def _in_session(df: DataFrame, session: SparkSession) -> DataFrame:
    """``df``'s plan as a frame of ``session``, so a temp view made from
    it is registered there."""
    return DataFrame(
        session._jvm.org.apache.spark.sql.classic.Dataset.ofRows(
            session._jsparkSession, df._jdf.logicalPlan()
        ),
        session,
    )


def _register_views(
    session: SparkSession, telemetry: DataFrame, name: str = "telemetry"
) -> None:
    """Register ``telemetry`` as ``name`` in ``session``, and beside it a
    ``<name>_series_catalog`` view defined by SQL text, which aggregates
    whatever ``name`` refers to when a statement runs."""
    _in_session(telemetry, session).createOrReplaceTempView(name)
    session.sql(
        f"CREATE OR REPLACE TEMPORARY VIEW `{name}_series_catalog` AS "
        f"SELECT timeseries_id, {', '.join(_CATALOG_AGGS)} "
        f"FROM `{name}` GROUP BY timeseries_id"
    )


def _named_series(plan) -> Optional[set]:
    """The ``timeseries_id`` values a physical plan (a py4j ``SparkPlan``)
    can read rows of, or None when it may read any: every file scan must
    carry a data filter ``timeseries_id = 'lit'``, ``IN ('lit', ...)`` or
    the ``InSet`` a long ``IN`` list becomes, no other leaf may read a
    table, and no subquery may hide a scan."""
    if not plan.subqueriesAll().isEmpty():
        return None
    ids: set = set()
    leaves = plan.collectLeaves()
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        kind = leaf.getClass().getSimpleName()
        if kind in _TABLELESS_LEAVES:
            continue
        if kind != "FileSourceScanExec":
            return None
        named = None
        filters = leaf.dataFilters()
        for j in range(filters.size()):
            got = _id_literals(filters.apply(j))
            if got is not None:
                named = got if named is None else named | got
        if named is None:
            return None
        ids |= named
    return ids


def _id_literals(expr) -> Optional[set]:
    """The string literals of an ``=``/``IN``/``InSet`` predicate on
    ``timeseries_id`` (a py4j ``Expression``), or None for any other
    predicate. Null literals match no row and are left out."""
    nodes = json.loads(expr.toJSON())  # the tree in pre-order
    kind = nodes[0]["class"].rsplit(".", 1)[-1]

    def is_id(n):
        return (
            n["class"].endswith(".AttributeReference")
            and n["name"] == "timeseries_id"
            and n["dataType"] == "string"
        )

    def literals(ns):
        if all(
            n["class"].endswith(".Literal") and n["dataType"] == "string"
            for n in ns
        ):
            return {n["value"] for n in ns if n["value"] is not None}
        return None

    if kind == "EqualTo" and len(nodes) == 3:
        if is_id(nodes[1]):
            return literals(nodes[2:])
        if is_id(nodes[2]):
            return literals(nodes[1:2])
    elif kind == "In" and len(nodes) > 1 and is_id(nodes[1]):
        return literals(nodes[2:])
    elif kind == "InSet" and len(nodes) == 2 and is_id(nodes[1]):
        values = expr.hset().toIndexedSeq()
        return {
            v.toString()
            for v in (values.apply(k) for k in range(values.size()))
            if v is not None
        }
    return None


def _local_frame(
    spark: SparkSession,
    schema: StructType,
    columns: Optional[Mapping[str, list]] = None,
) -> DataFrame:
    """A driver-local frame of ``schema`` built from a ``pyarrow.Table``
    (empty when ``columns`` is None). A list of tuples plans as a
    Python-RDD scan split into ``defaultParallelism`` slices: collecting
    one such row took 0.30 s and 1 job, an Arrow-built one 0.025 s and
    0 jobs; an empty frame's ``count()`` took 0.49 s and 2 jobs, 0.09 s
    and 1 job from Arrow (local[4]). Arrow batches keep row order, so
    ``coalesce(1)`` still yields dense in-order ``ingest_seq``.

    Bad rows raise ``ValueError`` or ``TypeError``, as the list path's
    schema check did: a null in a non-nullable field fails the cast to
    the Spark schema, an out-of-range number ``ArrowInvalid``, a
    wrongly-typed value ``ArrowTypeError``."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    arrow_schema = to_arrow_schema(schema)
    if columns is None:
        table = arrow_schema.empty_table()
    else:
        table = pa.table(
            [pa.array(columns[f.name], type=f.type) for f in arrow_schema],
            names=arrow_schema.names,
        )
    return spark.createDataFrame(table, schema)


class TimeseriesEngine:
    """A telemetry store + query surface over a Parquet warehouse dir.

    Unlike the reference's 3,900-row cap (main.rs:21) there is no
    capacity limit; ``max_rows`` exists only as an optional quota guard
    so the fidelity test for "Table Full" (main.rs:438-461) has a home.
    """

    def __init__(
        self,
        spark: SparkSession,
        warehouse_dir: str,
        max_rows: Optional[int] = None,
        partition_by_date: bool = False,
        exactly_once: Optional[bool] = None,
    ) -> None:
        self.spark = spark
        self.warehouse_dir = warehouse_dir
        #: exactly-once serving mode (round 10 — VERDICT r9 next-round
        #: #2): rows committed by the exactly-once streaming sink
        #: (``start_streaming_ingest(exactly_once=True)``) land in the
        #: manifest-committed ``telemetry_eo`` table, not the plain
        #: ``telemetry`` dir. None (default) = AUTO-DETECT: every read
        #: (telemetry / query_by_id / latest / REPL / HTTP) unions the
        #: committed exactly-once rows whenever this warehouse carries
        #: a committed manifest — the stronger-guarantee wiring keeps
        #: the full query surface without configuration. True = the
        #: committed table is REQUIRED (reads before the first commit
        #: see an empty table rather than silently falling back).
        #: False = never read it (pre-round-10 behavior).
        self.exactly_once = exactly_once
        #: atomic-compaction pointer: when present, names the active
        #: versioned base dir; absent -> the plain ``telemetry`` dir.
        self._version_file = os.path.join(warehouse_dir, "telemetry.version")
        self.overlay_path = os.path.join(warehouse_dir, "telemetry_overlay")
        self.max_rows = max_rows
        #: production layout: bucket + event-date partitions (prunes both
        #: point-series and time-range scans); off by default for small
        #: fixtures where per-day dirs would mean one tiny file each.
        self.partition_by_date = partition_by_date
        self._partition_cols = (
            ["series_bucket", "ds"] if partition_by_date else ["series_bucket"]
        )
        #: next batch ``ingest_seq``; None until ``_next_seq`` seeds it
        #: from disk
        self._seq: Optional[int] = None
        #: serializes this instance's appends (seq seeding + advance +
        #: the parquet write), overlay appends, and the maintenance
        #: methods that replace or delete base dirs: concurrent writes
        #: into one dir share FileOutputCommitter's ``_temporary/0`` and
        #: fail, and an append that lands in a base dir between a
        #: rewrite's read and its delete of that dir is lost. Re-entrant,
        #: because ``optimize_storage`` runs ``compact`` under it.
        self._write_lock = threading.RLock()
        #: set once a batch append SUCCEEDS on this instance: from then
        #: on latest() must not prefer a streaming snapshot, which
        #: cannot see batch-path rows (code-review r9)
        self._batch_ingested = False

    def _active_version(self) -> Optional[int]:
        try:
            with open(self._version_file) as f:
                return int(f.read().strip())
        except (FileNotFoundError, ValueError):
            return None

    @property
    def telemetry_path(self) -> str:
        """Active base-table directory, resolved through the version
        pointer so compaction can swap bases atomically (§7.4)."""
        v = self._active_version()
        if v is None:
            return os.path.join(self.warehouse_dir, "telemetry")
        return os.path.join(self.warehouse_dir, f"telemetry__v{v}")

    # ---------------------------------------------------------- reads

    def _read_base(
        self, keep_ds: bool = False, buckets: Optional[Iterable[int]] = None
    ) -> DataFrame:
        """The batch base. ``buckets`` reads only those ``series_bucket=``
        dirs (through ``basePath``, so the bucket and ``ds`` stay columns)
        instead of listing all of them; a bucket without a dir, like a
        missing base, reads as the empty frame."""
        schema = STORED_TELEMETRY_SCHEMA
        if self.partition_by_date:
            schema = StructType(
                list(schema.fields) + [StructField("ds", DateType(), True)]
            )
        root = self.telemetry_path
        paths = [root] if os.path.isdir(root) else []
        if buckets is not None and paths:
            paths = [
                p
                for p in (
                    os.path.join(root, f"series_bucket={b}")
                    for b in sorted(set(buckets))
                )
                if os.path.isdir(p)
            ]
        if not paths:
            df = _local_frame(self.spark, schema)
        else:
            df = (
                self.spark.read.schema(schema)
                .option("basePath", root)
                .parquet(*paths)
            )
        if self.partition_by_date and not keep_ds:
            df = df.drop("ds")
        return df

    def _read_committed_eo(
        self,
        keep_ds: bool = False,
        max_batch_id: Optional[int] = None,
        required: bool = False,
    ) -> Optional[DataFrame]:
        """Manifest-committed exactly-once rows for this warehouse
        (streaming/ingest.py read_committed_telemetry), or None when
        there are none to serve. Damage contract: this reader has NO
        correct fallback — the committed rows exist nowhere else — so
        a damaged manifest PROPAGATES (unlike ``latest()``'s snapshot
        reader, which degrades to the batch argmax it can compute
        anyway). ``keep_ds`` synthesizes the date column from ``ts``
        (the same expression the batch ingest writes) so the
        date-layout readers can union it; the synthesized column is a
        filter, not a partition — EO dirs are partitioned by
        series_bucket only.

        ``max_batch_id`` (round 11 — EO time travel, VERDICT r10
        next-round #2): serve only rows from committed micro-batches
        with id <= N. Uncompacted ``batch_id=M`` dirs with M > N are
        PRUNED from the read entirely (dir-level partition pruning on
        the commit sequence); compacted ``compact=K`` dirs — which mix
        batches — are row-filtered on the batch id embedded in
        ``ingest_seq``'s high bits (seq = id * 1e12 + i), so the
        snapshot survives compaction exactly. ``required=True`` makes
        a warehouse with no commits yet read as EMPTY instead of None
        (an explicit EO snapshot of nothing is the empty cut, not a
        silent fallback)."""
        if self.exactly_once is False:
            return None
        from .streaming.ingest import (
            _read_dirs,
            read_committed_telemetry,
            visible_batch_dirs,
        )

        path = os.path.join(self.warehouse_dir, "telemetry_eo")
        if not os.path.isdir(path):
            df = None  # no sink ever wrote here: no manifest to read
        elif max_batch_id is not None:
            import re as _re

            keep = []
            for d in visible_batch_dirs(path, self.spark):
                m = _re.match(r"batch_id=(\d+)", d)
                if m and int(m.group(1)) > max_batch_id:
                    continue  # dir-level prune: whole batch is newer
                keep.append(d)
            df = _read_dirs(self.spark, path, keep) if keep else None
        else:
            df = read_committed_telemetry(self.spark, self.warehouse_dir)
        if df is None:
            if not self.exactly_once and not required:
                return None  # auto-detect: nothing committed
            df = _local_frame(self.spark, STORED_TELEMETRY_SCHEMA)
        if max_batch_id is not None:
            from .streaming.ingest import _BATCH_SEQ_STRIDE

            # row-level cut for compact=/content-addressed dirs: the
            # stride bound is exact because within-batch ids are
            # < stride by construction. Python-side clamp: a bound
            # past long range means every committed row qualifies
            bound = (max_batch_id + 1) * _BATCH_SEQ_STRIDE
            if bound <= (1 << 63) - 1:
                df = df.filter(F.col("ingest_seq") < F.lit(bound))
        # remap into the reserved negative seq band (_EO_SEQ_OFFSET):
        # overlay row identity must be unambiguous across the two
        # seq lineages the union serves
        df = df.withColumn(
            "ingest_seq", F.col("ingest_seq") + F.lit(_EO_SEQ_OFFSET)
        )
        if keep_ds:
            df = df.withColumn(
                "ds",
                F.coalesce(F.to_date("ts"), F.lit("9999-12-31").cast("date")),
            )
        return df

    def _read_base_union_eo(
        self, keep_ds: bool = False, buckets: Optional[Iterable[int]] = None
    ) -> DataFrame:
        """Base telemetry ∪ committed exactly-once rows — the physical
        row set every read surface serves. The two stores hold
        disjoint rows by construction (batch appends write
        ``telemetry``; the exactly-once sink writes only
        ``telemetry_eo``), so the union is duplication-free.

        Pure-EO warehouses (no batch dir) skip the union entirely
        (round 11, measured): the synthesized zero-row base frame is
        semantically a no-op but still adds a scan to every action —
        a constant tax on every serving read of an exactly-once
        deployment.

        ``buckets`` reads only those base bucket dirs (``_read_base``)
        and filters the union on ``series_bucket``: the literal filter
        prunes the EO dirs and keeps the base scan's partition filter
        in its plan."""
        eo = self._read_committed_eo(keep_ds=keep_ds)
        if eo is not None and not os.path.isdir(self.telemetry_path):
            cols = [f.name for f in STORED_TELEMETRY_SCHEMA.fields]
            if self.partition_by_date and keep_ds:
                cols.append("ds")
            df = eo.select(*cols)
        else:
            df = self._read_base(keep_ds=keep_ds, buckets=buckets)
            if eo is not None:
                df = df.unionByName(eo.select(*df.columns))
        if buckets is not None:
            df = df.filter(F.col("series_bucket").isin(sorted(set(buckets))))
        return df

    def _has_overlay(self) -> bool:
        """True when the overlay dir holds a parquet file (a listing, no
        Spark call)."""
        try:
            names = os.listdir(self.overlay_path)
        except (FileNotFoundError, NotADirectoryError):
            return False
        return any(n.endswith(".parquet") for n in names)

    def _read_overlay(self) -> Optional[DataFrame]:
        """The overlay rows, or None when no overlay file exists."""
        if not self._has_overlay():
            return None
        try:
            return self.spark.read.schema(_OVERLAY_SCHEMA).parquet(
                self.overlay_path
            )
        except AnalysisException:  # removed meanwhile by compact()
            return None

    def telemetry(
        self,
        as_of_seq: Optional[int] = None,
        as_of_eo_hwm: Optional[int] = None,
        keep_ds: bool = False,
    ) -> DataFrame:
        """The public telemetry view: base ∪ overlay, last-write-wins.

        ``keep_ds`` (round 16 — VERDICT r15 #4) retains the ``ds``
        day-partition column on a date-partitioned warehouse so a
        downstream day filter prunes ``ds=<day>`` directories — the
        continuous rollup's ``invalidate_days`` rides this. Only
        meaningful with ``partition_by_date=True``; ignored on the
        snapshot (``as_of_*``) paths, which serve repair reads, not
        partition-pruned scans.

        ``as_of_seq`` gives a snapshot read: only rows ingested at or
        before that sequence number (append-only storage makes time
        travel a filter, not a file operation). Overlay updates are
        ignored for snapshot reads — they represent later mutations.

        Round 10: when this warehouse carries a committed exactly-once
        manifest (``start_streaming_ingest(exactly_once=True)``), the
        committed rows are unioned in — so query_by_id / latest / the
        REPL and every HTTP route serve the stronger-guarantee table
        through the SAME surface (VERDICT r9 next-round #2; see
        ``exactly_once`` on the constructor for the mode switch).

        Snapshot cursors are PER LINEAGE (round 11 — VERDICT r10
        next-round #2): the batch path and the exactly-once stream
        assign sequence numbers from two unrelated counters, so one
        number cannot address both. ``as_of_seq`` (from
        ``current_seq()``) cuts the BATCH lineage; ``as_of_eo_hwm``
        (from ``current_eo_hwm()``) cuts the EXACTLY-ONCE lineage at
        a committed micro-batch id — exactly the consistent cut the
        EO manifest's high-water mark defines, served via dir-level
        pruning on uncompacted ``batch_id=`` dirs plus a row filter
        on the batch id embedded in ``ingest_seq`` (so the snapshot
        survives compaction). Pass one for a single-lineage snapshot
        (the other lineage reads as EMPTY — a cursor for one lineage
        says nothing about the other, so including the other's live
        rows would be no consistent point in time), or both for a
        two-cursor snapshot of the union. Overlay updates are
        excluded from every snapshot form, as for ``as_of_seq``
        alone. Post-checkpoint-reset caveat: a reset renumbers stream
        batches, so an ``as_of_eo_hwm`` cursor taken before a reset
        is not meaningful across it (content-addressed replay dirs
        carry the REPLAYED id).
        """
        if as_of_eo_hwm is not None and self.exactly_once is False:
            raise ValueError(
                "as_of_eo_hwm on an engine pinned exactly_once=False: "
                "this engine never reads the exactly-once table, so "
                "an EO snapshot cut is contradictory"
            )
        if as_of_seq is not None or as_of_eo_hwm is not None:
            parts = []
            if as_of_seq is not None:
                parts.append(
                    self._read_base().filter(
                        F.col("ingest_seq") <= as_of_seq
                    )
                )
            if as_of_eo_hwm is not None:
                parts.append(
                    self._read_committed_eo(
                        max_batch_id=as_of_eo_hwm, required=True
                    )
                )
            df = parts[0]
            for p in parts[1:]:
                df = df.unionByName(p.select(*df.columns))
            return df.drop("series_bucket")
        base = self._read_base_union_eo(
            keep_ds=keep_ds and self.partition_by_date
        )
        overlay = self._read_overlay()
        df = apply_overlay(base, overlay) if overlay is not None else base
        return df.drop("series_bucket")

    def current_eo_hwm(self) -> int:
        """Highest committed exactly-once micro-batch id — the
        snapshot cursor for ``telemetry(as_of_eo_hwm=...)``, the EO
        twin of ``current_seq()``. -1 when nothing has committed
        (that cursor reads the EO lineage as empty)."""
        from .streaming.ingest import committed_batch_summary

        s = committed_batch_summary(
            os.path.join(self.warehouse_dir, "telemetry_eo"), self.spark
        )
        return max([s["hwm"]] + s["sparse_ids"])

    def current_seq(self) -> int:
        """Highest assigned ingest_seq (snapshot handle for readers)."""
        with self._write_lock:
            return self._next_seq() - 1

    def _next_seq(self) -> int:
        """The next batch ``ingest_seq``; the caller holds
        ``_write_lock``. Seeded on first use from ``max(ingest_seq) + 1``
        of the batch base, like ``_next_overlay_version``: a fresh
        engine over a warehouse that already holds rows must number
        above them, or two rows share a seq and an overlay update keyed
        on one rewrites the other. Without a base dir it is 0 and no
        job runs."""
        if self._seq is None:
            top = None
            if os.path.isdir(self.telemetry_path):
                top = self._read_base().agg(F.max("ingest_seq")).first()[0]
            self._seq = 0 if top is None else top + 1
        return self._seq

    # --------------------------------------------------------- writes

    def count(self) -> int:
        """Row count of the BATCH store only — this backs the optional
        ``max_rows`` quota, which guards the batch ingest path (the
        reference's capacity cap, main.rs:21); exactly-once rows are
        governed by their own sink and never count against it. Use
        ``telemetry().count()`` for the full served row count."""
        return self._read_base().count()

    def ingest_rows(self, rows: Iterable[Mapping]) -> int:
        """R1 (main.rs:92-104): append rows; returns rows written.

        Raises ``RuntimeError("Table Full")`` only when the optional
        quota guard is configured and exceeded — reproducing the
        reference's capacity error message (main.rs:95) as opt-in
        behavior rather than a hard 3,900-row cap. A row that does not
        fit ``TELEMETRY_INGEST_SCHEMA`` (a missing id, a null value, a
        flag past 255) raises ``ValueError`` or ``TypeError``.
        """
        return self.ingest_df(self._payload_frame(rows))

    def _payload_frame(self, rows: Iterable[Mapping]) -> DataFrame:
        """Rows in the POST /telemetry body shape as a local frame of
        ``TELEMETRY_INGEST_SCHEMA``; ``ts_raw`` stands in for a missing
        ``timestamp``."""
        rows = list(rows)
        return _local_frame(
            self.spark,
            TELEMETRY_INGEST_SCHEMA,
            {
                "sensor_name": [r["sensor_name"] for r in rows],
                "timestamp": [
                    r.get("timestamp", r.get("ts_raw")) for r in rows
                ],
                "value": [float(r["value"]) for r in rows],
                "fc1_flag": [r.get("fc1_flag") for r in rows],
                "timeseries_id": [r["timeseries_id"] for r in rows],
            },
        )

    def ingest_df(self, raw: DataFrame, dense_seq: bool = True) -> int:
        """Append a batch. ``dense_seq=True`` (default, fidelity mode)
        assigns strictly dense ``ingest_seq`` by coalescing to one
        partition — correct arrival-order observability (main.rs:126-137)
        but single-writer. For bulk loads pass ``dense_seq=False``:
        sequence numbers stay unique and batch-monotonic (offset +
        partition-prefixed monotonic id) while the write remains fully
        parallel — the 100 TB path, where global arrival order within a
        batch is not observable anyway."""
        # Round 20 (guide §1.4 — VERDICT r19 #6): when the quota guard
        # is OFF the batch size rides the ingest write itself as an
        # ``observe()`` metric — one pass over the ingest frame instead
        # of count-then-write. With ``max_rows`` set, the count must
        # stay a SEPARATE pass: the Table-Full contract rejects before
        # any row lands.
        with self._write_lock:
            observe_count = self.max_rows is None
            if observe_count:
                n = None
            else:
                n = raw.count()
                if self.count() + n > self.max_rows:
                    raise RuntimeError("Table Full")
            # Write-time mixed-lineage signal (round 11 — VERDICT r10
            # next-round #4): a warehouse whose streaming lineage is
            # purely exactly-once gets its dual-lineage ambiguity CREATED
            # by the first batch append — previously the only warning
            # fired much later, when latest() happened to serve a
            # snapshot. Warn where the ambiguity starts (once per engine
            # instance); the append itself stays legal — mixed batch+EO
            # warehouses are a supported read shape (_read_base_union_eo),
            # the caveat is only that the two seq lineages stay unrelated.
            if not getattr(
                self, "_mixed_lineage_warned", False
            ) and self._eo_wired():
                self._mixed_lineage_warned = True
                import warnings

                warnings.warn(
                    f"batch ingest into {self.warehouse_dir}: this "
                    "warehouse's streaming lineage is exactly-once "
                    "(committed telemetry_eo) — appending through the "
                    "batch path creates a mixed-lineage store whose two "
                    "ingest_seq counters are unrelated (as-of snapshots "
                    "need per-lineage cursors; last-value snapshots may "
                    "not reflect batch rows). Intended? Pin "
                    "exactly_once=False to silence, or route ingest "
                    "through the streaming drop-dir",
                    stacklevel=3,
                )
            src = raw.coalesce(1) if dense_seq else raw
            normalized = normalize_ingest(src, seq_offset=self._next_seq())
            if self.partition_by_date:
                normalized = normalized.withColumn(
                    "ds",
                    F.coalesce(
                        F.to_date("ts"), F.lit("9999-12-31").cast("date")
                    ),
                )
            # Bulk mode: monotonic id = (partitionId << 33) + row, so a fixed
            # 2^53 stride keeps batches collision-free up to 2^20 partitions
            # and ~1000 bulk batches per engine instance (compaction can
            # re-densify); dense mode stays exactly sequential.
            if not (dense_seq and observe_count):
                self._seq += n if dense_seq else (1 << 53)
            # set BEFORE the write, deliberately (code-review r9, 3rd
            # pass): a write that FAILS midway can still have committed
            # some rows on a non-atomic committer — rows a snapshot cannot
            # see. Err on the fail-safe side: an uncertain append disables
            # snapshot preference (worst case: the O(history) scan — a
            # perf cost), never the other way (worst case: serving answers
            # that silently omit partially-committed rows).
            self._batch_ingested = True
            out = normalized.withColumn(
                "series_bucket", series_bucket(F.col("timeseries_id"))
            ).sortWithinPartitions("timeseries_id", "ts")
            if observe_count:
                from pyspark.sql import Observation

                obs = Observation("ingest_count")
                out = out.observe(obs, F.count(F.lit(1)).alias("n"))
            try:
                (
                    out.write.mode("append")
                    .partitionBy(*self._partition_cols)
                    .parquet(self.telemetry_path)
                )
            except Exception:
                if dense_seq and observe_count:
                    # the batch size is unknown (the observation rides the
                    # failed write) but some rows may have committed with
                    # seqs from the old offset on a non-atomic committer —
                    # advance by the bulk stride so a retry can never
                    # collide with them. Dense-seq continuity is already
                    # broken by the partial commit itself.
                    self._seq += 1 << 53
                raise
            if observe_count:
                n = int(obs.get["n"])
                if dense_seq:
                    self._seq += n
            return n

    def update_rows(self, rows: Iterable[Mapping]) -> int:
        """R2 (main.rs:106-117): overwrite the row keyed by
        ``(timestamp, timeseries_id)``. The reference updates only the
        *first* matching row (insertion order); the overlay targets the
        minimum ``ingest_seq`` match, preserving that semantics.

        Batch semantics: all rows in one ``update_rows`` call share one
        ``overlay_version`` — two updates to the SAME key in a single
        call resolve arbitrarily (the reference would apply them
        sequentially; issue separate calls for that). Across calls,
        later versions win deterministically.
        """
        from pyspark.sql import Observation

        from .operators.overlay import build_overlay_for_updates

        updates = normalize_payload(self._payload_frame(rows))
        with self._write_lock:
            # target the FULL read surface (2nd review pass): updates
            # keyed to exactly-once rows must bind their remapped
            # negative seqs — building from the batch base alone made
            # R2 updates against stream-committed rows a silent no-op.
            # When both stores hold the key, min(ingest_seq) picks the
            # EO row (negative < any batch seq) — 'first match' across
            # unrelated lineages is otherwise undefined; deterministic
            # and documented.
            overlay = build_overlay_for_updates(
                self._read_base_union_eo(), updates
            ).withColumn(
                "overlay_version", F.lit(self._next_overlay_version())
            )
            # count rides the append (round 20 — guide §1.4): one job,
            # and the write is the single realization of the overlay
            obs = Observation("update_rows_n")
            overlay.observe(obs, F.count(F.lit(1)).alias("n")).write.mode(
                "append"
            ).parquet(self.overlay_path)
        return int(obs.get["n"])

    def _next_overlay_version(self) -> int:
        """Monotonic last-write-wins version for overlay appends.
        Seeded from the on-disk maximum on first use (2nd review
        pass): a fresh engine instance over a warehouse whose overlay
        survived — which compaction now makes the steady state for
        EO-targeting rows — must number ABOVE the surviving rows, or
        its updates silently lose the version-desc tie-break to stale
        retained entries."""
        if not hasattr(self, "_overlay_ver"):
            base = 0
            # scan the live overlay AND the crash-stranded retained
            # sibling (3rd review pass): after a compact() crash in
            # the rename window the highest versions live only in
            # __retained, and numbering below them would let the next
            # recovery merge resurrect stale values over newer ones
            for path in (self.overlay_path, self.overlay_path + "__retained"):
                # an empty/partial dir carries no versions to beat
                if not os.path.isdir(path) or not any(
                    n.endswith(".parquet") for n in os.listdir(path)
                ):
                    continue
                # read with the fixed schema, not one inferred from
                # whichever part file lists first: a file written
                # before overlay_version existed reads it as null,
                # which max() skips
                try:
                    top = (
                        self.spark.read.schema(_OVERLAY_SCHEMA)
                        .parquet(path)
                        .agg(F.max("overlay_version"))
                        .first()[0]
                    )
                except Exception as e:
                    # same damage split as compact()'s recovery:
                    # silently skipping an unreadable
                    # dir that HOLDS parquet files would seed the
                    # counter low and let a later recovery merge
                    # resurrect stale higher-versioned rows over this
                    # instance's updates — raise actionably
                    raise IOError(
                        f"overlay dir {path} holds parquet files "
                        "but cannot be read — refusing to number "
                        "new updates below its (unknown) versions; "
                        "repair or remove it deliberately"
                    ) from e
                base = max(base, int(top or 0))
            self._overlay_ver = base
        self._overlay_ver += 1
        return self._overlay_ver

    # -------------------------------------------------------- queries

    def query_by_id(
        self,
        timeseries_id: str,
        start: str,
        end: str,
        limit: Optional[int] = None,
    ) -> DataFrame:
        """R3 (main.rs:119-139): ``timeseries_id = ? AND ts BETWEEN ? AND ?``,
        both bounds inclusive, results in insertion order.

        The reference compares ISO-8601 strings lexicographically
        (main.rs:132-133); we filter on ``ts_raw`` for bit-exact fidelity
        (identical for valid fixed-width ISO-8601 UTC) and read only the
        series' own ``series_bucket`` dir (``_series_rows``).

        Probe normalization: stored ids are 32-char-truncated
        (main.rs:179) but the reference compares the *raw* query param
        (main.rs:131), so a >32-char id (any 36-char UUID!) can never
        match — its own round-trip test intent (main.rs:412-436) is
        unsatisfiable as written. We truncate the probe identically,
        preserving the intent instead of the bug.

        ``limit`` keeps the first ``limit`` rows: a limit over the sort
        plans as one top-k pass (``TakeOrderedAndProject``), which
        ``toLocalIterator`` runs as one Spark job, where the full sort
        runs three (range sampling, shuffle stage, result).
        """
        days = None
        if self.partition_by_date:
            import datetime as _dt

            try:
                days = (
                    _dt.date.fromisoformat(start[:10]),
                    _dt.date.fromisoformat(end[:10]),
                )
            except ValueError:
                pass  # non-ISO bounds: no date pruning, full fidelity scan
        df = (
            self._series_rows(timeseries_id[:32], days)
            .filter((F.col("ts_raw") >= start) & (F.col("ts_raw") <= end))
            .orderBy("ingest_seq")
        )
        return df if limit is None else df.limit(limit)

    def _series_rows(
        self, timeseries_id: str, days: Optional[tuple] = None
    ) -> DataFrame:
        """The overlay-merged rows of one (already truncated) series,
        read from its own ``series_bucket`` dir only: the bucket is
        computed on the driver, so no other bucket dir is listed. An
        overlay row that rewrites a row's id leaves it in the old id's
        bucket, so neither id's read returns it (``telemetry()`` and
        ``sql`` do). ``days`` — a ``(first, last)``
        date pair — also prunes ``ds`` dirs on a date-partitioned
        warehouse."""
        df = self._read_base_union_eo(
            keep_ds=days is not None,
            buckets=[series_bucket_of(timeseries_id)],
        )
        if days is not None:
            # rows with unparseable ts live in the 9999-12-31 sentinel
            # partition but may still match the lexicographic range —
            # always include that partition (fidelity, main.rs:131-134)
            df = df.filter(
                F.col("ds").between(F.lit(days[0]), F.lit(days[1]))
                | (F.col("ds") == F.lit("9999-12-31").cast("date"))
            ).drop("ds")
        overlay = self._read_overlay()
        if overlay is not None:
            df = apply_overlay(df, overlay)
        return df.filter(F.col("timeseries_id") == timeseries_id).drop(
            "series_bucket"
        )

    def register_views(self, name: str = "telemetry") -> DataFrame:
        """Expose the telemetry view to ``spark.sql`` (the SQL surface:
        ``SELECT ... FROM telemetry``) with ``<name>_series_catalog``
        beside it. Returns the registered frame."""
        df = self.telemetry()
        _register_views(self.spark, df, name)
        return df

    def sql(
        self,
        query: str,
        right_order: str | None = None,
        limit: Optional[int] = None,
    ) -> DataFrame:
        """Dialect SQL over the live engine (the REPL/HTTP verbs'
        programmatic twin), run through the ASOF JOIN / QUALIFY
        rewrites. ``limit`` keeps the first ``limit`` rows (see
        ``sql_ext.sql``).

        The statement is planned in a session cloned from
        ``self.spark``: it sees the caller's temp views and runtime
        confs, and this call registers fresh ``telemetry`` and
        ``telemetry_series_catalog`` views in the clone only — so
        overlay updates and new ingests are visible, concurrent calls
        never re-register one shared view, and the caller's views are
        left as they were (``spark.sql`` users call ``register_views``
        themselves).

        Bucket pruning: when the statement is a read-only query and the
        warehouse has no overlay file and no committed exactly-once
        rows, the statement is first planned over a stand-in
        ``telemetry`` that reads one bucket dir. If every file scan in
        that plan filters ``timeseries_id`` to literals (``=``, ``IN``)
        and no subquery hides a scan, the views are registered over the
        named series' bucket dirs only; otherwise over the whole
        warehouse."""
        from . import sql_ext

        session = SparkSession(
            self.spark.sparkContext, self.spark._jsparkSession.cloneSession()
        )
        stand_in = self._sql_stand_in(query)
        _register_views(
            session, self.telemetry() if stand_in is None else stand_in
        )
        if stand_in is not None:
            try:
                ids = _named_series(
                    session.sql(query)._jdf.queryExecution().sparkPlan()
                )
            except (PySparkException, Py4JError):
                ids = None  # e.g. dialect syntax plain Spark cannot parse
            telemetry = (
                self.telemetry()
                if ids is None
                else self._read_base(
                    buckets={series_bucket_of(i) for i in ids}
                ).drop("series_bucket")
            )
            _in_session(telemetry, session).createOrReplaceTempView(
                "telemetry"
            )
        return sql_ext.sql(session, query, right_order=right_order, limit=limit)

    def _sql_stand_in(self, query: str) -> Optional[DataFrame]:
        """A one-bucket-dir read shaped like ``telemetry()``, to plan
        ``query`` over before choosing its buckets; None when ``query``
        cannot be pruned: not a read-only query (``spark.sql`` runs
        DDL/DML as it plans), an overlay (an update can rewrite a row's
        ``timeseries_id``), committed exactly-once rows, or no bucket
        dir."""
        from .sql_ext import is_query_statement
        from .streaming.ingest import visible_batch_dirs

        if not is_query_statement(query) or self._has_overlay():
            return None
        eo = os.path.join(self.warehouse_dir, "telemetry_eo")
        if (
            self.exactly_once is not False
            and os.path.isdir(eo)
            and visible_batch_dirs(eo, self.spark)
        ):
            return None
        root = self.telemetry_path
        try:
            names = os.listdir(root)
        except (FileNotFoundError, NotADirectoryError):
            return None
        bucket = next(
            (n.split("=", 1)[1] for n in names if n.startswith("series_bucket=")),
            None,
        )
        if bucket is None:
            return None
        return self._read_base(buckets=[int(bucket)]).drop("series_bucket")

    def build_series_catalog(self) -> DataFrame:
        """Realize the reference's dead ``TimeseriesReference`` struct
        (main.rs:32-36) as a real dimension: one row per distinct series
        with its first-seen metadata. Broadcast-sized by construction."""
        return self.telemetry().groupBy("timeseries_id").agg(
            *[F.expr(a) for a in _CATALOG_AGGS]
        )

    def link_external_names(
        self,
        external: DataFrame,
        name_col: str = "name",
        max_dist: int = 1,
        blocker=None,
    ) -> DataFrame:
        """Resolve DIRTY external sensor names onto the series catalog
        (round 15 — VERDICT r14 next-round #7; the natural home of
        :func:`..operators.linkage.fuzzy_join`): the reference keys
        every series by a free-text ``sensor_name`` and offers only
        exact-match lookup (main.rs:92-140), but real external feeds
        arrive with truncated/misspelled names. Inner-joins
        ``external`` against :meth:`build_series_catalog` on
        approximate equality — blocker-key agreement + Levenshtein
        distance <= ``max_dist`` — returning the external columns plus
        the matched (timeseries_id, sensor_name, edit_dist).

        Default ``blocker`` is a 4-char prefix: catalog names are
        compact identifiers, not prose, so the linkage module's
        first-whitespace-token default would put most names in one
        block. Candidates stay blocked + length-banded (never
        all-pairs — linkage.py's lossless-band contract); the catalog
        side is one row per series, broadcast-sized by construction.
        ``name_col`` must not be named ``sensor_name`` (fuzzy_join's
        honest-schema rule — rename upstream)."""
        from .operators.linkage import fuzzy_join

        if blocker is None:
            def blocker(c):
                return F.substring(c, 1, 4)
        cat = self.build_series_catalog().select(
            "timeseries_id", "sensor_name"
        )
        return fuzzy_join(
            external, cat, name_col, "sensor_name",
            max_dist=max_dist, blocker=blocker,
        )

    def compact(self) -> int:
        """Fold the overlay into the base files (periodic maintenance,
        SURVEY §7.4): rewrites the telemetry table with overlay rows
        applied, then clears the overlay. Returns rows in the new base.

        Crash-safe by construction — the base is never deleted before
        its replacement is live:

        1. write the merged table to a NEW versioned dir
           ``telemetry__v{N+1}`` (old base untouched);
        2. atomically swap the version pointer (write tmp file +
           ``os.replace`` — atomic on POSIX);
        3. clear the overlay — a crash between 2 and 3 just means the
           overlay is re-applied on top of a base that already contains
           its values, which is idempotent (last-write-wins overlay
           merge of identical rows);
        4. best-effort delete the previous base dir (a crash leaves an
           orphan dir that the next compact removes).

        Round 10 (code-review): overlay rows targeting EXACTLY-ONCE
        rows (negative remapped seqs — FDD write-back / update_rows
        against stream-committed data) cannot fold into the batch
        base; they are RETAINED in the overlay instead of deleted —
        deleting them would silently erase every flag set on EO rows.
        Only batch-targeting (non-negative-seq) rows fold and clear.
        """
        import shutil

        with self._write_lock:
            # crash recovery: a previous compact() that died between its
            # overlay clear and the retained-rows rename (the one narrow
            # loss window below) leaves the EO overlay stranded in the
            # sibling dir — restore it before anything else. When new
            # updates have ALREADY recreated the overlay dir since the
            # crash, the stranded rows are APPENDED rather than skipped
            # (2nd review pass: the rename-only recovery was defeated by
            # any intervening update_rows/run_fault_detection, and the
            # cleanup below would then delete the stranded flags forever);
            # duplicates from a pre-swap crash re-append identical rows,
            # which the version-desc row_number merge resolves to the same
            # content.
            retained_tmp = self.overlay_path + "__retained"
            if os.path.isdir(retained_tmp):
                if not os.path.isdir(self.overlay_path):
                    os.rename(retained_tmp, self.overlay_path)
                else:
                    try:
                        retained = self.spark.read.parquet(retained_tmp)
                    except Exception:
                        # unreadable sibling (3rd review pass): an
                        # EMPTY/partial dir — a crash before any part file
                        # landed, or external cleanup — holds nothing to
                        # recover and must not block every future
                        # compact(); a dir that DOES hold part files but
                        # cannot be read is damage, and deleting it would
                        # silently discard flags — raise actionably.
                        if any(
                            n.endswith(".parquet")
                            for n in os.listdir(retained_tmp)
                        ):
                            raise IOError(
                                f"stranded retained overlay {retained_tmp} "
                                "holds parquet files but cannot be read — "
                                "refusing to delete it (it may carry the "
                                "only copy of exactly-once flag updates); "
                                "repair or remove it deliberately"
                            )
                        shutil.rmtree(retained_tmp, ignore_errors=True)
                    else:
                        retained.write.mode("append").parquet(
                            self.overlay_path
                        )
                        shutil.rmtree(retained_tmp, ignore_errors=True)
            overlay = self._read_overlay()
            if overlay is None:
                return self.count()
            # split by target store BEFORE any mutation; the retained EO
            # rows are written to a sibling dir NOW (pre-swap) so the
            # post-swap step is just a rename — never a Spark job reading
            # the directory it replaces, and the loss window is one rename
            eo_overlay = overlay.filter(F.col("ingest_seq") < 0)
            shutil.rmtree(retained_tmp, ignore_errors=True)
            n_eo = eo_overlay.count()
            if n_eo:
                eo_overlay.write.mode("overwrite").parquet(retained_tmp)
            overlay = overlay.filter(F.col("ingest_seq") >= 0)
            old_version = self._active_version()
            new_version = 1 if old_version is None else old_version + 1
            new_path = os.path.join(
                self.warehouse_dir, f"telemetry__v{new_version}"
            )
            merged = apply_overlay(self._read_base(), overlay)
            if self.partition_by_date:
                merged = merged.withColumn(
                    "ds", F.coalesce(F.to_date("ts"), F.lit("9999-12-31").cast("date"))
                )
            # the new-base row count rides the rewrite itself as an
            # observe() metric (round 20 — guide §1.4/§5, the ingest_df
            # pattern): previously the ENTIRE merged base was persist()ed
            # just to keep a count job and the write consistent — at scale
            # that doubles the rewrite's storage footprint. The write is a
            # single pass (local sortWithinPartitions, no range sampling),
            # so the observation counts exactly the rows written.
            from pyspark.sql import Observation

            obs = Observation("compact_rows")
            (
                merged.observe(obs, F.count(F.lit(1)).alias("n"))
                .sortWithinPartitions("timeseries_id", "ts")
                .write.mode("overwrite")
                .partitionBy(*self._partition_cols)
                .parquet(new_path)
            )
            n = int(obs.get["n"])
            # -- the swap point: one atomic rename flips readers to the new
            # base; everything before this line leaves the old base intact
            tmp_ptr = self._version_file + ".tmp"
            with open(tmp_ptr, "w") as f:
                f.write(str(new_version))
                f.flush()
                os.fsync(f.fileno())
            os.replace(tmp_ptr, self._version_file)
            shutil.rmtree(self.overlay_path, ignore_errors=True)
            if n_eo:
                # re-seed the overlay with the retained EO-targeting rows.
                # Crash windows: before the pointer swap nothing changed
                # (the retained dir is overwritten next run); after the
                # swap but before the rmtree, the FULL old overlay
                # re-applies onto the new base — idempotent for the folded
                # rows, EO rows untouched; between rmtree and this rename
                # the EO flags are absent from reads until compact()
                # re-runs (the narrowest achievable window: one rename)
                os.rename(retained_tmp, self.overlay_path)
            # reclaim superseded bases (incl. orphans from crashed compacts)
            for name in os.listdir(self.warehouse_dir):
                full = os.path.join(self.warehouse_dir, name)
                if full == new_path or not os.path.isdir(full):
                    continue
                if name == "telemetry" or (
                    name.startswith("telemetry__v") and full != new_path
                ):
                    shutil.rmtree(full, ignore_errors=True)
            return n

    def optimize_storage(self, target_files: int | None = None) -> int:
        """Rewrite the base range-clustered and sorted on
        ``(timeseries_id, ts)`` (operators/layout.py) behind the same
        crash-safe versioned-dir + atomic-pointer-swap protocol as
        ``compact()`` — the OPTIMIZE maintenance job that restores
        per-file min/max disjointness after many small appends have
        interleaved series across files. Folds any pending overlay
        first (an optimized base with a stale overlay on top would
        re-fragment reads). Returns rows in the new base."""
        import shutil

        from .operators.layout import optimize_layout

        with self._write_lock:
            self.compact()  # folds overlay; no-op if none pending
            old_version = self._active_version()
            new_version = 1 if old_version is None else old_version + 1
            new_path = os.path.join(
                self.warehouse_dir, f"telemetry__v{new_version}"
            )
            base = self._read_base(keep_ds=self.partition_by_date).persist()
            n = base.count()
            optimize_layout(
                base,
                new_path,
                sort_cols=["timeseries_id", "ts"],
                partition_cols=list(self._partition_cols) or None,
                target_files=target_files,
            )
            base.unpersist()
            tmp_ptr = self._version_file + ".tmp"
            with open(tmp_ptr, "w") as f:
                f.write(str(new_version))
                f.flush()
                os.fsync(f.fileno())
            os.replace(tmp_ptr, self._version_file)
            for name in os.listdir(self.warehouse_dir):
                full = os.path.join(self.warehouse_dir, name)
                if full == new_path or not os.path.isdir(full):
                    continue
                if name == "telemetry" or name.startswith("telemetry__v"):
                    shutil.rmtree(full, ignore_errors=True)
            return n

    def compact_small_files(
        self, target_file_mb: int = 128, min_files: int = 4
    ) -> dict[str, tuple[int, int]]:
        """Incremental small-file compaction of the active base
        (operators/maintenance.py): rewrites only the series_bucket
        partitions fragmented past ``min_files`` — O(touched bytes),
        unlike ``compact()``/``optimize_storage()`` which rewrite the
        whole table. The streaming sink appends one file set per
        micro-batch per bucket; run this on the cadence those
        accumulate."""
        from .operators.maintenance import compact_partitions

        # data files live in the LEAF partition dirs: series_bucket=*
        # directly, or series_bucket=*/ds=* under the date layout
        col, depth = (
            ("ds", 1) if self.partition_by_date else ("series_bucket", 0)
        )
        with self._write_lock:
            return compact_partitions(
                self.spark,
                self.telemetry_path,
                col,
                target_file_mb=target_file_mb,
                min_files=min_files,
                depth=depth,
            )

    def drop_chunks_before(self, cutoff_date: str) -> list[str]:
        """Retention: delete every ``ds`` partition older than
        ``cutoff_date`` (ISO ``YYYY-MM-DD``) as a pure metadata
        operation — requires ``partition_by_date=True`` (the layout
        that nests ``series_bucket=*/ds=*``). TimescaleDB
        ``drop_chunks`` analog; see operators/maintenance.py for the
        scale rationale."""
        import re as _re

        # the underlying compare is a plain string < — any non-ISO
        # cutoff ('tomorrow', '3') sorts above every date and would
        # irreversibly delete EVERYTHING, so validate the format hard
        if not _re.fullmatch(r"\d{4}-\d{2}-\d{2}", cutoff_date):
            raise ValueError(
                f"cutoff_date {cutoff_date!r} must be ISO YYYY-MM-DD — "
                "retention compares partition values as strings and a "
                "malformed cutoff would drop every chunk"
            )
        if not self.partition_by_date:
            raise ValueError(
                "drop_chunks_before needs partition_by_date=True — "
                "without date partitions, retention would be a full "
                "rewrite (use compact() with a filter instead)"
            )
        from .operators.maintenance import drop_partitions_older_than

        with self._write_lock:
            return drop_partitions_older_than(
                self.spark, self.telemetry_path, "ds", cutoff_date, depth=1
            )

    def compact_exactly_once(self) -> int:
        """Fold the exactly-once table's visible ``batch_id=N`` /
        ``compact=N`` directories into one compacted generation
        (round 11 — the engine facade the maintenance pair was
        missing: retention got ``drop_exactly_once_before`` in r10
        while compaction required importing the streaming module).
        Small-files control for the per-micro-batch dir layout; the
        replay ledger folds into (hwm, pooled fingerprints) so the
        per-batch manifest stops growing — see
        :func:`~.streaming.ingest.compact_exactly_once` for the
        protocol and its CAS carry-forward merge. Returns the number
        of directories folded (0 = nothing to do)."""
        from .streaming.ingest import compact_exactly_once

        return compact_exactly_once(self.spark, self.warehouse_dir)

    def drop_exactly_once_before(self, cutoff_ts: str) -> list[str]:
        """Retention for the exactly-once table (round 10): drop every
        committed ``telemetry_eo`` directory whose rows are all older
        than ``cutoff_ts``, manifest-atomically — the
        :meth:`drop_chunks_before` analog for the ``batch_id=N`` /
        ``compact=N`` layout (streaming/ingest.py
        drop_exactly_once_older_than for the protocol and the
        whole-dir granularity contract)."""
        from .streaming.ingest import drop_exactly_once_older_than

        return drop_exactly_once_older_than(
            self.spark, self.warehouse_dir, cutoff_ts
        )

    def continuous_rollup(
        self,
        window: str = "5 minutes",
        name: str | None = None,
        **rollup_kwargs,
    ):
        """Continuous aggregate over the CANONICAL telemetry view
        (base ∪ overlay, so point updates are reflected): per-series
        windowed count/sum/min/max, maintained incrementally
        (operators/rollup.py — refresh re-aggregates only window-days
        at/after the high-water mark; reads union the materialized days
        with a live tail). The materialization lives beside the base
        under ``warehouse_dir``. Call ``.refresh()`` after ingest
        batches; ``.read()`` anytime."""
        from .operators.rollup import ContinuousRollup

        name = name or f"rollup_{window.replace(' ', '_')}"
        cols = ["timeseries_id", "ts", "value"]
        for kw in ("distinct_col", "quantile_col", "theta_col"):
            c = rollup_kwargs.get(kw)
            if c and c not in cols:
                cols.append(c)
        # date-partitioned warehouse: keep the ds partition column in
        # the rollup's base view and tell the rollup about it, so
        # invalidate_days prunes ds=<day> directories instead of
        # leaning on row-group ts stats (round 16 — VERDICT r15 #4)
        keep_ds = self.partition_by_date
        if keep_ds:
            cols.append("ds")
            rollup_kwargs.setdefault("partition_day_col", "ds")
        return ContinuousRollup(
            self.spark,
            lambda: self.telemetry(keep_ds=keep_ds).select(*cols),
            os.path.join(self.warehouse_dir, name),
            key_cols=["timeseries_id"],
            window=window,
            # e.g. distinct_col=... for mergeable HLL distinct cells
            **rollup_kwargs,
        )

    def schedule_rollup_refresh(
        self, rollup, interval_seconds: float = 300
    ):
        """R5/R6 cadence parity for the AGGREGATE surface (VERDICT r7
        next-round #9): start a re-arming refresh loop on a
        :class:`~..operators.rollup.ContinuousRollup` (typically one
        from :meth:`continuous_rollup`). Returns the started
        :class:`~..operators.rollup.RollupScheduler` — call
        ``set_interval`` to re-arm the cadence (the reference's
        one-shot set_interval bug, fixed), ``stop`` to cancel."""
        from .operators.rollup import RollupScheduler

        return RollupScheduler(rollup, interval_seconds).start()

    #: facade summary-store kinds (round 17 — VERDICT r16 next-round
    #: #3), one table: public kind -> the store's manifest tag; its
    #: streaming module's sink starter, server and compactor; the
    #: serve_summary knobs the server honors (an explicitly-passed
    #: knob outside the set raises instead of being silently dropped —
    #: ADVICE r17: a caller passing ``keys`` to a 'state' store
    #: expects key-subset coarsening); and the facade arguments the
    #: sink starter takes, by its parameter names. The four stores
    #: share one protocol (streaming/store_common.py); these doors
    #: mirror start_telemetry_sink(rollup=...) so the serving facade
    #: can start/serve/compact them without module imports.
    _SUMMARY_KINDS = {
        "topk": _SummaryKind(
            "sketch", _sketch.start_topk_sketch_sink, _sketch.serve_topk,
            _sketch.compact_topk_sketch, frozenset({"keys", "k"}),
            {"keys": "keys", "value_col": "value_col", "k": "k"},
        ),
        "quantile": _SummaryKind(
            "quantile", _quantile.start_quantile_sketch_sink,
            _quantile.serve_quantiles, _quantile.compact_quantile_sketch,
            frozenset({"keys", "quantiles"}),
            {"keys": "keys", "value_col": "value_col", "k": "k"},
        ),
        "state": _SummaryKind(
            "state", _state.start_state_durations_sink,
            _state.serve_state_durations, _state.compact_state_durations,
            frozenset(),
            {
                "key": "key", "value_col": "state", "ts_col": "ts",
                "order_tiebreak": "order_tiebreak",
            },
        ),
        "theta": _SummaryKind(
            "theta", _theta.start_theta_sketch_sink, _theta.serve_theta,
            _theta.compact_theta_sketch,
            frozenset({"keys", "overlap_key", "overlap_k"}),
            {"keys": "keys", "value_col": "value_col"},
        ),
    }

    def _summary_kind(self, kind: str) -> "_SummaryKind":
        if kind not in self._SUMMARY_KINDS:
            raise ValueError(
                f"unknown summary-store kind {kind!r} — one of "
                f"{sorted(self._SUMMARY_KINDS)}"
            )
        return self._SUMMARY_KINDS[kind]

    def summary_store_path(self, kind: str, name: str | None = None) -> str:
        """Warehouse-relative location of a facade-managed summary
        store: ``<warehouse>/summary_<kind>[_<name>]``. The raw
        streaming-module functions accept this path directly, so
        facade-started stores stay reachable from the module API
        (and vice versa — derive the module-side path with this
        method).

        The kind is ALWAYS part of the layout (ADVICE r17): keying on
        ``name or kind`` alone let a topk store and a quantile store
        that shared a ``name`` collide on one directory — and, worse,
        one streaming CHECKPOINT, so the second sink resumed the
        first's source offsets and silently skipped every
        already-processed file (surfacing only as a baffling
        'every applied batch was empty' serve error)."""
        self._summary_kind(kind)
        suffix = f"{kind}_{name}" if name else kind
        return os.path.join(self.warehouse_dir, f"summary_{suffix}")

    def start_summary_store(
        self,
        source_dir: str,
        kind: str,
        keys: "list[str] | None" = None,
        value_col: str = "value",
        k: Optional[int] = None,
        ts_col: str = "ts",
        order_tiebreak: Optional[str] = None,
        name: Optional[str] = None,
        trigger_seconds: Optional[int] = None,
        available_now: bool = False,
    ):
        """Keep a mergeable summary store current from the telemetry
        drop directory (round 17 — VERDICT r16 next-round #3, facade
        symmetry with ``start_telemetry_sink``): one call wires the
        JSON-lines source through per-batch normalization into one of
        the four CAS-manifest summary stores, so "keep a quantile
        store current from the telemetry stream" no longer requires
        knowing the streaming module layout.

        ``kind`` selects the store (all on the versioned-summaries +
        CAS-manifest + fold-compaction protocol,
        streaming/store_common.py):

        - ``"topk"``      exact-integer heavy hitters per cell
          (streaming/sketch.py; ``k`` = list size, default 16)
        - ``"quantile"``  mergeable KLL sketches per cell
          (streaming/quantile.py; ``k`` = sketch size, default 200)
        - ``"state"``     state-residence durations per key
          (streaming/state.py; ``keys`` must be exactly one column,
          ``value_col`` is the STATE column, ``ts_col`` orders the
          intervals, ``order_tiebreak`` breaks ts ties)
        - ``"theta"``     Theta segment-membership sketches per cell
          (streaming/theta.py; set algebra at serve time — no
          watermark needed, sketch unions are lossless under any
          arrival order)

        The stream is normalized per micro-batch with the SAME
        ``normalize_payload`` the telemetry sink applies, so ``keys``/
        ``value_col``/``ts_col`` name CANONICAL columns
        (``timeseries_id``, ``ts``, ``value``, ``fc1_flag``,
        ``sensor_name``). Defaults: ``keys=["timeseries_id"]``,
        ``value_col="value"``. Serve any time with
        :meth:`serve_summary`; run :meth:`compact_summary_store`
        periodically to keep the serve cost flat. Returns the started
        ``StreamingQuery``."""
        from .schema import normalize_payload
        from .streaming.ingest import read_telemetry_stream

        path = self.summary_store_path(kind, name)  # validates kind
        keys = keys if keys is not None else ["timeseries_id"]
        if kind == "state" and len(keys) != 1:
            raise ValueError(
                "kind='state' tracks durations per ONE key column "
                f"— got keys={keys}"
            )
        # checkpoint mirrors the store layout (kind always included —
        # ADVICE r17: a shared name across kinds must not share source
        # offsets, or the second sink silently skips every file the
        # first already processed)
        checkpoint = os.path.join(
            self.warehouse_dir, "_checkpoints",
            os.path.basename(path),
        )
        stream = read_telemetry_stream(self.spark, source_dir)
        stream = normalize_payload(stream)
        given = {
            "keys": keys, "key": keys[0] if keys else None,
            "value_col": value_col, "k": k, "ts_col": ts_col,
            "order_tiebreak": order_tiebreak,
        }
        row = self._SUMMARY_KINDS[kind]
        # an unset optional argument keeps the sink's own default
        args = {
            param: given[arg]
            for arg, param in row.sink_args.items()
            if given[arg] is not None
        }
        return row.start(
            stream, path, checkpoint, **args,
            trigger_seconds=trigger_seconds, available_now=available_now,
        )

    def serve_summary(
        self,
        kind: str,
        keys: "list[str] | None" = None,
        name: Optional[str] = None,
        quantiles: "tuple[float, ...] | None" = None,
        k: Optional[int] = None,
        overlap_key: Optional[str] = None,
        overlap_k: Optional[int] = None,
    ) -> DataFrame:
        """Serve a facade-managed summary store (round 17): merged
        estimates over everything the sink has committed — O(stored
        summaries), never O(events). ``keys`` may be any subset of the
        stored cell keys (default: the stored keys, read from the
        store manifest). Kind-specific knobs: ``quantiles`` for
        ``"quantile"``; ``k`` caps the ``"topk"`` list;
        ``overlap_key`` switches ``"theta"`` to segment-overlap
        serving (pairwise at ``overlap_k=2``, k-way intersection
        grids above). Raises the store's own honest errors when the
        sink has not committed anything yet.

        A knob the selected kind cannot honor RAISES when explicitly
        passed (ADVICE r17) — previously ``keys`` on a ``'state'``
        store (or ``quantiles``/``k``/``overlap_key`` on the wrong
        kind) was silently dropped, so a caller expecting key-subset
        coarsening got full-granularity output with no signal. Every
        knob defaults to None so "explicitly passed" is detectable;
        ``quantiles`` falls back to ``(0.5, 0.95, 0.99)`` and
        ``overlap_k`` to 2 when applicable-but-unset. Two follow-on
        guards (ADVICE r18): ``overlap_k`` without ``overlap_key``
        raises (it only means anything in overlap mode — accepting it
        on a plain ``'theta'`` serve would be the same silent-drop
        class), and a falsy-but-explicit value (``quantiles=()``,
        ``overlap_k=0``/``1``) raises instead of silently becoming
        the default through an ``or``-fallback."""
        row = self._summary_kind(kind)
        knobs = {
            knob: val
            for knob, val in (
                ("keys", keys), ("quantiles", quantiles), ("k", k),
                ("overlap_key", overlap_key), ("overlap_k", overlap_k),
            )
            if val is not None
        }
        bad = set(knobs) - row.knobs
        if bad:
            raise ValueError(
                f"serve_summary(kind={kind!r}) cannot honor "
                f"{sorted(bad)} — kind {kind!r} accepts "
                f"{sorted(row.knobs) or 'no knobs'}"
            )
        if overlap_key is not None and keys is not None:
            raise ValueError(
                "serve_summary(kind='theta'): overlap_key switches to "
                "segment-overlap serving, which ignores keys — pass "
                "one or the other"
            )
        if overlap_k is not None and overlap_key is None:
            # ADVICE r18: overlap_k only means anything in overlap
            # mode — on a plain serve it would be silently ignored,
            # the exact drop class the knob validation exists to stop
            raise ValueError(
                "serve_summary: overlap_k only applies with "
                "overlap_key (theta segment-overlap serving) — pass "
                "overlap_key as well"
            )
        if overlap_k is not None and overlap_k < 2:
            raise ValueError(
                f"serve_summary: overlap_k must be >= 2 (pairwise), "
                f"got {overlap_k!r}"
            )
        if quantiles is not None and len(quantiles) == 0:
            # ADVICE r18: an explicitly-passed empty tuple would fall
            # through an `or`-default into (0.5, 0.95, 0.99) — the
            # caller asked for nothing and would silently get the
            # defaults instead of an answer-shaped error
            raise ValueError(
                "serve_summary: quantiles must be a non-empty tuple "
                "of fractions in (0, 1)"
            )
        path = self.summary_store_path(kind, name)
        if overlap_key is not None:  # theta segment-overlap serving
            return _theta.serve_theta_overlap(
                self.spark, path, overlap_key,
                k=overlap_k if overlap_k is not None else 2,
            )
        if keys is None and "keys" in row.knobs:
            man = read_store_manifest(self.spark, path, row.tag)
            if man is None:
                raise FileNotFoundError(
                    f"no {kind} summary store at {path} — start the "
                    "sink (start_summary_store) first"
                )
            knobs["keys"] = list(man["keys"])
        # the knob names are the server's keyword names; an unset knob
        # keeps the server's own default
        return row.serve(self.spark, path, **knobs)

    def compact_summary_store(
        self, kind: str, name: Optional[str] = None
    ) -> int:
        """Fold a facade-managed summary store's committed summaries
        into its base snapshot (round 17): the maintenance verb that
        keeps :meth:`serve_summary` O(base + post-compact batches) as
        micro-batches accrue — same cadence stance as
        :meth:`compact_exactly_once`. Safe beside the live sink (the
        stores' CAS manifests serialize cooperating writers with
        bounded retry). Returns the number of summary batches folded
        (0 = nothing to do)."""
        path = self.summary_store_path(kind, name)
        return self._SUMMARY_KINDS[kind].compact(self.spark, path)

    def profile(self, exact: bool = True) -> DataFrame:
        """One-pass column profile of the canonical telemetry view
        (operators/profile.py): per column — row count, null count,
        distinct cardinality (exact by default; ``exact=False`` for
        the HLL cluster-scale mode), numeric [min, max] (timestamps
        via unix_micros). The post-ingest data-quality check; also a
        REPL verb (``profile``)."""
        from .operators.profile import profile_columns

        t = self.telemetry()
        return profile_columns(
            t,
            ["sensor_name", "ts", "value", "fc1_flag", "timeseries_id",
             "ingest_seq"],
            numeric={"ts": F.unix_micros(F.col("ts"))},
            exact=exact,
        )

    def latest(
        self,
        prefer_snapshot: bool = True,
        timeseries_id: Optional[str] = None,
    ) -> DataFrame:
        """Current state: the latest row per series. Also a REPL verb
        (``latest``) and the GET /latest route's source.

        Serving strategy (VERDICT r8 what's-wrong #1, fixed round 9):
        when a streaming last-value sink
        (streaming/ingest.py start_latest_value_sink) has committed a
        snapshot into this warehouse, serve THAT — an O(#series) read
        of one snapshot directory, never touching history — with the
        flag overlay merged on the ≤ #series rows. Only when no
        snapshot exists (no sink attached, or none committed yet) fall
        back to the batch formulation: one max_by running argmax on
        (ts, ingest_seq) over the full overlay-merged telemetry view —
        correct anywhere, but an O(history) scan+shuffle, the classic
        TSDB anti-query a dashboard poll must not pay at 100 TB.
        ``prefer_snapshot=False`` forces the batch scan (parity tests;
        or when the caller needs overlay updates that MOVE a row's ts,
        which the snapshot path cannot re-rank — see below).

        ``timeseries_id`` (round 9) narrows to ONE series — "what is
        sensor X now", the single most common serving question. On the
        snapshot face that is a point read of an O(#series) file; on
        the batch face the equality predicate is applied BEFORE a
        top-1 on (ts, ingest_seq), one Spark job, so it pushes down to
        the parquet scan (files are sorted by (timeseries_id, ts)
        within partitions — row-group min/max skip non-matching
        groups), and only the series' own ``series_bucket`` dir is
        read, as in ``query_by_id``. The probe
        is 32-char truncated like ``query_by_id``'s (stored ids are
        truncated on ingest, main.rs:179).

        Snapshot-path overlay semantics: overlay rows substitute
        payload/flag values of rows that are already the per-series
        latest, keyed by ``ingest_seq``. That key only matches when
        the telemetry sink and the last-value sink numbered their
        micro-batches identically — true for the supported wiring
        (``start_streaming_ingest`` starting BOTH sinks over one
        source with fresh checkpoints; ``normalize_batch`` then stamps
        the same batch-id-embedded seq on both sides), but NOT
        enforceable for a last-value sink attached later to a
        warehouse whose telemetry checkpoint already advanced — there
        the overlay keys miss the snapshot's rows and flag updates
        silently stay invisible on the snapshot face (code-review r9).
        For such retrofitted wirings serve ``prefer_snapshot=False``
        (or restart both sinks with fresh checkpoints). An overlay
        update that changes a NON-latest row, or changes WHICH row is
        latest (a ts rewrite), is likewise only reflected by the batch
        face — flag/value updates (R2, FDD write-back: the reference's
        only update shapes, main.rs:106-117, 397-405) never move ts,
        so the served answer matches the batch face for every
        reference-shaped workload under the supported wiring
        (divergence pinned in tests/test_streaming_windows.py).
        """
        probe = (
            timeseries_id[:32] if timeseries_id is not None else None
        )
        # Mixed-path guard (code-review r9): a snapshot only reflects
        # STREAM-ingested rows. Once this engine instance appends
        # through the batch path (REPL insert / ingest_rows /
        # ingest_df), the snapshot may be stale relative to the base
        # table, so fall back to the batch argmax from then on. (The
        # flag is per-instance; a snapshot over a warehouse that some
        # OTHER process batch-appends into remains the caller's choice
        # via prefer_snapshot — the wiring contract is streaming-fed
        # warehouses, see start_streaming_ingest.)
        if prefer_snapshot and not self._batch_ingested:
            snap = self._latest_from_snapshot()
            if snap is not None:
                if probe is not None:
                    snap = snap.filter(F.col("timeseries_id") == probe)
                return snap
        if probe is not None:
            # one series: a top-1 (one Spark job) in place of the
            # argmax aggregate (two). ts desc nulls last then
            # ingest_seq desc is max_by's struct order, in which a
            # null ts sorts first
            t = self._series_rows(probe)
            return (
                t.select(
                    "timeseries_id",
                    *[c for c in t.columns if c != "timeseries_id"],
                )
                .orderBy(
                    F.col("ts").desc_nulls_last(), F.col("ingest_seq").desc()
                )
                .limit(1)
            )
        t = self.telemetry()
        order = F.struct(F.col("ts"), F.col("ingest_seq"))
        return (
            t.groupBy("timeseries_id")
            .agg(
                F.max_by(
                    F.struct(*[c for c in t.columns if c != "timeseries_id"]),
                    order,
                ).alias("_r")
            )
            .select("timeseries_id", "_r.*")
        )

    def _latest_from_snapshot(self) -> Optional[DataFrame]:
        """The last-value sink's committed snapshot (overlay-merged,
        batch-face column order), or None when no sink has committed
        into this warehouse — or when the snapshot pointer exists but
        is DAMAGED: the damage contract raises for the WRITER (the
        sink must never rebuild over a damaged pointer,
        streaming/ingest.py), but this is a READER with a fully
        correct fallback one line away (the batch argmax), so a
        damaged pointer degrades to the fallback with a warning
        instead of turning every dashboard poll into a 400
        (code-review r9, 3rd pass)."""
        from .streaming.ingest import read_latest_values

        try:
            snap = read_latest_values(self.spark, self.warehouse_dir)
        except IOError as e:
            import warnings

            warnings.warn(
                f"last-value snapshot unreadable ({e}); serving "
                "latest() from the batch scan until it is repaired",
                stacklevel=2,
            )
            return None
        if snap is None:
            return None
        if self._eo_wired():
            # pure exactly-once wiring (2nd review pass): the
            # last-value sink shares the EO sink's source and batch
            # numbering, so the snapshot's raw seqs belong to the EO
            # lineage — remap them exactly like _read_committed_eo
            # does, or overlay rows built from the (remapped) union
            # can never match and flag updates silently vanish from
            # the snapshot face
            snap = snap.withColumn(
                "ingest_seq", F.col("ingest_seq") + F.lit(_EO_SEQ_OFFSET)
            )
        overlay = self._read_overlay()
        if overlay is not None:
            self._warn_if_retrofitted_snapshot()
            snap = apply_overlay(snap, overlay)
        cols = ["timeseries_id"] + [
            c for c in snap.columns if c != "timeseries_id"
        ]
        return snap.select(*cols)

    def _checkpoint_epoch(self, sink: str) -> Optional[int]:
        """Highest committed offsets-file epoch of a streaming sink's
        checkpoint under this warehouse, or None when the sink has no
        checkpoint here (local-FS layout — the assumption the version
        pointer already makes)."""
        d = os.path.join(self.warehouse_dir, "_checkpoints", sink, "offsets")
        try:
            return max(
                (int(n) for n in os.listdir(d) if n.isdigit()),
                default=None,
            )
        except OSError:
            return None

    def _eo_wired(self) -> bool:
        """True when this warehouse's streaming lineage is
        UNAMBIGUOUSLY the exactly-once sink's: the EO checkpoint
        exists and the at-least-once one does not (the two wirings
        are exclusive per ``start_streaming_ingest`` call). A
        warehouse carrying BOTH checkpoints has an unknowable snapshot
        lineage — it is treated as batch-lineage and
        ``_warn_if_retrofitted_snapshot`` warns on the AMBIGUITY
        itself (3rd review pass: a stale at-least-once checkpoint
        from an earlier wiring previously made flags vanish from the
        snapshot face with no signal, since the epoch comparison
        alone stayed quiet)."""
        return (
            self._checkpoint_epoch("ingest") is None
            and self._checkpoint_epoch("ingest_eo") is not None
        )

    def _warn_if_retrofitted_snapshot(self) -> None:
        """Turn the one SILENT snapshot-face divergence window into an
        operational signal (VERDICT r9 next-round #3): a last-value
        sink retrofitted onto a warehouse whose telemetry checkpoint
        already advanced numbers its micro-batches from 0 while the
        telemetry rows carry higher batch-id-embedded ``ingest_seq`` —
        the overlay merge below keys on ``ingest_seq``, so flag
        updates silently stay invisible on the snapshot face (the
        docstring contract on ``latest``). Detection: compare the two
        sinks' committed checkpoint epochs. Under the supported wiring
        (``start_streaming_ingest`` starting both sinks over one
        source with fresh checkpoints) they track within one batch of
        each other; a telemetry checkpoint MORE than one epoch ahead
        means the snapshot's seq lineage cannot match the overlay
        keys. Warned once per engine instance, and only when an
        overlay actually exists to merge (without one there is nothing
        to diverge). Local-FS checkpoint layout only — same assumption
        the engine's version pointer already makes."""
        if getattr(self, "_retrofit_warned", False):
            return

        tel = self._checkpoint_epoch("ingest")
        eo = self._checkpoint_epoch("ingest_eo")
        lat = self._checkpoint_epoch("latest")
        if tel is not None and eo is not None and lat is not None:
            # BOTH ingest lineages present: the snapshot's seq lineage
            # is unknowable (it numbered with whichever sink shared
            # its source), so overlay keys may or may not match — the
            # one case the epoch comparison below cannot adjudicate.
            # Warn on the ambiguity itself (3rd review pass).
            self._retrofit_warned = True
            import warnings

            warnings.warn(
                "this warehouse carries BOTH at-least-once and "
                "exactly-once ingest checkpoints — the last-value "
                "snapshot's ingest_seq lineage is ambiguous and "
                "overlay flag updates may not be visible on the "
                "snapshot face; serve latest(prefer_snapshot=False) "
                "or rebuild the warehouse with one wiring",
                stacklevel=3,
            )
            return
        if tel is None:
            # exactly-once wiring checkpoints under ingest_eo — the
            # same retrofit geometry applies to that sink's lineage
            # (2nd review pass)
            tel = eo
        if tel is None or lat is None:
            return  # not a dual-sink streaming warehouse (or remote FS)
        if tel > lat + 1:
            self._retrofit_warned = True
            import warnings

            warnings.warn(
                f"last-value sink checkpoint (epoch {lat}) trails the "
                f"telemetry sink checkpoint (epoch {tel}) by more than "
                "one batch — the snapshot was likely retrofitted onto "
                "an already-advanced warehouse, so overlay flag "
                "updates CANNOT match the snapshot's ingest_seq "
                "lineage and are invisible on the snapshot face; serve "
                "latest(prefer_snapshot=False) or restart both sinks "
                "with fresh checkpoints (engine.latest docstring)",
                stacklevel=3,
            )

    def start_streaming_ingest(
        self,
        source_dir: str,
        exactly_once: bool = False,
        latest_cache: bool = False,
        trigger_seconds: Optional[int] = None,
        available_now: bool = False,
        quarantine_dir: Optional[str] = None,
        rollup=None,
    ) -> list:
        """Wire the reference's live ingest path (HTTP POST /telemetry,
        main.rs:325-331) end-to-end as Structured Streaming over a
        JSON-lines drop directory — one call starts the telemetry sink
        and, with ``latest_cache=True``, the last-value cache that
        ``latest()`` / GET /latest then serve in O(#series). Returns
        the started StreamingQuery handles (telemetry sink first).

        Both sinks read the same source through separate checkpoints;
        ``normalize_batch`` stamps both with the same batch-id-embedded
        ``ingest_seq`` per row, which is the key contract the
        snapshot path's overlay merge relies on (see ``latest``).

        ``exactly_once=True`` routes ingest through the manifest-
        committed sink instead — the table lands in ``telemetry_eo``
        and, since round 10, is SERVED through the same engine surface
        as everything else: ``telemetry()`` / ``query_by_id`` /
        ``latest()`` / REPL / HTTP auto-detect the committed manifest
        and union the committed rows in (constructor ``exactly_once``
        pins the mode explicitly; the raw reader remains
        ``streaming.ingest.read_committed_telemetry``).
        ``quarantine_dir``/``rollup`` forward to whichever sink is
        wired — since round 11 the exactly-once sink supports both
        (quarantine is per-batch-dir OVERWRITE there, so replays do
        not duplicate bad lines; rollup refreshes only on batches
        that actually wrote), closing the r9 pick-one guard.
        """
        from .streaming.ingest import (
            read_telemetry_stream,
            start_latest_value_sink,
            start_telemetry_sink,
            start_telemetry_sink_exactly_once,
        )

        queries = []
        stream = read_telemetry_stream(
            self.spark,
            source_dir,
            with_corrupt_record=quarantine_dir is not None,
        )
        if exactly_once:
            queries.append(
                start_telemetry_sink_exactly_once(
                    stream,
                    self.warehouse_dir,
                    trigger_seconds=trigger_seconds,
                    available_now=available_now,
                    rollup=rollup,
                    quarantine_dir=quarantine_dir,
                )
            )
        else:
            queries.append(
                start_telemetry_sink(
                    stream,
                    self.warehouse_dir,
                    trigger_seconds=trigger_seconds,
                    available_now=available_now,
                    rollup=rollup,
                    quarantine_dir=quarantine_dir,
                )
            )
        if latest_cache:
            queries.append(
                start_latest_value_sink(
                    read_telemetry_stream(self.spark, source_dir),
                    self.warehouse_dir,
                    trigger_seconds=trigger_seconds,
                    available_now=available_now,
                )
            )
        return queries

    def start_corpus_ingest(
        self,
        source_dir: str,
        min_tokens: int = 5,
        max_tokens: int = 100_000,
        min_quality: Optional[float] = None,
        dedup_watermark: Optional[str] = "10 minutes",
        quarantine_dir: Optional[str] = None,
        rejects_dir: Optional[str] = None,
        trigger_seconds: Optional[int] = None,
        available_now: bool = False,
    ):
        """The documents-domain sibling of ``start_streaming_ingest``:
        continuously-arriving JSON documents through the corpus
        pipeline's stage-1 decisions (quality gate, watermark-bounded
        content dedup, quarantine/reject side channels) into
        ``<warehouse>/documents``, partitioned by source. See
        ``streaming.corpus.start_corpus_sink`` for the contracts;
        returns the started StreamingQuery."""
        from .streaming.corpus import read_document_stream, start_corpus_sink

        stream = read_document_stream(
            self.spark,
            source_dir,
            with_corrupt_record=quarantine_dir is not None,
        )
        return start_corpus_sink(
            stream,
            self.warehouse_dir,
            min_tokens=min_tokens,
            max_tokens=max_tokens,
            min_quality=min_quality,
            dedup_watermark=dedup_watermark,
            quarantine_dir=quarantine_dir,
            rejects_dir=rejects_dir,
            trigger_seconds=trigger_seconds,
            available_now=available_now,
        )

    def fault_count(
        self, df: DataFrame, threshold: float = DEFAULT_FAULT_THRESHOLD
    ) -> int:
        """R11 (py_client.py:40-49): count rows with value strictly above
        the threshold (boundary value == threshold is NOT a fault)."""
        return df.filter(F.col("value") > threshold).count()

    def run_fault_detection(
        self,
        timeseries_id: str,
        start: str,
        end: str,
        threshold: float = DEFAULT_FAULT_THRESHOLD,
        flag_value: int = DEFAULT_FLAG_VALUE,
    ) -> int:
        """R4 (main.rs:384-406): flag rows with ``value > threshold`` in
        the window by setting ``fc1_flag``; returns rows flagged.

        Implemented as a flag overlay append — the declarative analog of
        the reference's read-modify-write loop (main.rs:397-405) — so no
        data file is rewritten.
        """
        hits = self.query_by_id(timeseries_id, start, end).filter(
            F.col("value") > threshold
        )
        overlay = hits.select(
            "sensor_name",
            "ts",
            "ts_raw",
            "value",
            F.lit(flag_value).cast("tinyint").alias("fc1_flag"),
            "timeseries_id",
            "ingest_seq",
        )
        with self._write_lock:
            overlay = overlay.withColumn(
                "overlay_version", F.lit(self._next_overlay_version())
            )
            n = overlay.count()
            if n:
                overlay.write.mode("append").parquet(self.overlay_path)
        return n
