"""REPL-verb facade: the reference's interactive surface (R7/R8,
main.rs:244-315) as a thin parser over the engine API.

Parsing semantics preserved exactly:
- ``insert <sensor_name> <timestamp> <value> <timeseries_id> [fc1_flag]``
  (main.rs:252-284): whitespace tokenization, <5 tokens → usage error;
  unparseable value defaults to 0.0 (main.rs:263); unparseable flag
  defaults to 0 (main.rs:266) — which the codec then erases to NULL;
  absent flag is NULL.
- ``select <timeseries_id> <start> <end>`` (main.rs:300-315): exactly 4
  tokens required.
- ``set_interval <seconds>`` (main.rs:285-299): re-schedules the FDD
  cadence. The reference's version runs FDD once then sleeps once and
  never repeats (bug); here it restarts a properly recurring trigger
  via the attached ``FddScheduler`` (streaming/fdd.py) — stop + restart
  on the same checkpoint with the new processing-time trigger.
"""

from __future__ import annotations

from typing import TYPE_CHECKING, Optional

from pyspark.sql import DataFrame

from .api import TimeseriesEngine

if TYPE_CHECKING:  # pragma: no cover
    from .streaming.fdd import FddScheduler

USAGE_INSERT = "Usage: insert <sensor_name> <timestamp> <value> <timeseries_id> [fc1_flag]"
USAGE_SELECT = "Usage: select <timeseries_id> <start_time> <end_time>"


def parse_insert(line: str) -> Optional[dict]:
    """Tokenize an ``insert`` line with the reference's defaulting rules;
    returns the row payload or None (usage error)."""
    parts = line.split()
    if len(parts) < 5:
        return None
    try:
        value = float(parts[3])
    except ValueError:
        value = 0.0  # main.rs:263 unwrap_or(0.0)
    flag: Optional[int]
    if len(parts) > 5:
        try:
            flag = int(parts[5])
        except ValueError:
            flag = 0  # main.rs:266 unwrap_or(0) — erased to NULL by codec
    else:
        flag = None
    return {
        "sensor_name": parts[1],
        "timestamp": parts[2],
        "value": value,
        "fc1_flag": flag,
        "timeseries_id": parts[4],
    }


class Repl:
    """Dispatch loop body (one call per line) over a TimeseriesEngine.

    ``fdd``: optional ``FddScheduler`` owning the live FDD stream;
    when attached, ``set_interval`` re-arms its trigger for real."""

    def __init__(
        self, engine: TimeseriesEngine, fdd: "FddScheduler | None" = None
    ) -> None:
        self.engine = engine
        self.fdd = fdd

    def execute(self, line: str) -> str | DataFrame:
        line = line.strip()
        if line.startswith("insert"):
            row = parse_insert(line)
            if row is None:
                return USAGE_INSERT
            try:
                self.engine.ingest_rows([row])
            except RuntimeError:
                return "Error: Table Full"  # main.rs:280
            return "Inserted successfully"  # main.rs:282
        if line.startswith("select"):
            parts = line.split()
            if len(parts) != 4:  # main.rs:301-305 arity check
                return USAGE_SELECT
            return self.engine.query_by_id(parts[1], parts[2], parts[3])
        if line == ".exit":
            return "Exiting..."  # main.rs:316-318
        if line.startswith("sql "):
            # capability extension beyond the reference's 3 verbs: full
            # SQL with the dialect rewrites (ASOF JOIN, QUALIFY) over
            # freshly registered views, so rows inserted since the last
            # statement are visible
            return self.engine.sql(line[4:])
        if line.startswith("explain "):
            # physical plan of a dialect statement — what a user checks
            # before running something expensive
            df = self.engine.sql(line[8:])
            return df._jdf.queryExecution().explainString(
                self.engine.spark._jvm.org.apache.spark.sql.execution
                .ExplainMode.fromString("formatted")
            )
        if line == "compact_files":
            # maintenance verb (round 8): incremental small-file
            # compaction of the active base (operators/maintenance.py)
            stats = self.engine.compact_small_files()
            if not stats:
                return "Compaction: nothing to do."
            parts = ", ".join(
                f"{k}: {b}->{a}" for k, (b, a) in sorted(stats.items())
            )
            return f"Compacted {len(stats)} partition(s) ({parts})."
        if line.startswith("retention "):
            # maintenance verb (round 8): chunk-drop retention; needs
            # the date-partitioned layout, reported plainly otherwise
            cutoff = line.split(None, 1)[1].strip()
            try:
                dropped = self.engine.drop_chunks_before(cutoff)
            except ValueError as e:
                return f"Error: {e}"
            if not dropped:
                return "Retention: nothing older than " + cutoff + "."
            return f"Dropped {len(dropped)} chunk(s): {', '.join(dropped)}."
        if line == "compact_eo":
            # maintenance verb (round 11): fold the exactly-once
            # table's per-micro-batch dirs into one compacted
            # generation (api.compact_exactly_once) — the small-files
            # counterpart to retention_eo, same layout
            n = self.engine.compact_exactly_once()
            if not n:
                return "Compaction: nothing to fold."
            return f"Folded {n} committed dir(s) into one generation."
        if line.startswith("retention_eo "):
            # maintenance verb (round 10): retention on the
            # exactly-once batch_id=N/compact=N layout — whole
            # committed dirs fully older than the cutoff, dropped
            # manifest-atomically (api.drop_exactly_once_before)
            cutoff = line.split(None, 1)[1].strip()
            try:
                dropped = self.engine.drop_exactly_once_before(cutoff)
            except ValueError as e:
                return f"Error: {e}"
            if not dropped:
                return "Retention: nothing fully older than " + cutoff + "."
            return (
                f"Dropped {len(dropped)} committed dir(s): "
                f"{', '.join(dropped)}."
            )
        if line == "latest" or line.startswith("latest "):
            # current-state verb (round 8): latest row per series.
            # Round 9: served from the streaming last-value snapshot
            # when one is committed (O(#series)), falling back to the
            # batch argmax over the live view; `latest <timeseries_id>`
            # narrows to one series (the point read, same as
            # GET /latest?timeseries_id=)
            sid = line.split(None, 1)[1].strip() if " " in line else None
            return self.engine.latest(timeseries_id=sid)
        if line == "profile":
            # data-quality verb (round 8): one-pass column profile of
            # the canonical telemetry view (operators/profile.py) —
            # what an operator checks after a suspicious ingest batch
            return self.engine.profile()
        if line.startswith("set_interval"):
            parts = line.split()
            if len(parts) == 2 and parts[1].isdigit():
                if self.fdd is not None:
                    self.fdd.set_interval(int(parts[1]))
                    return f"Interval set to {parts[1]} seconds."
                # no live FDD stream to re-arm — still record intent via
                # the same reply the reference prints, but say so
                return (
                    f"Interval set to {parts[1]} seconds. "
                    "(no FDD stream attached)"
                )
            return "Invalid interval value."
        return f"Unrecognized command: {line}"
