"""Plan-inspection helpers: assert that the physical plan has the shape
we designed for (pushdown reached the scan, joins broadcast, codegen
spans exist). Used by tests and the bench harness — "measure, don't
guess".
"""

from __future__ import annotations

import io
from contextlib import redirect_stdout

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def scan_read_schema(df: DataFrame) -> str:
    """The ReadSchema of the first parquet scan — verifies column
    pruning (a scan reading all columns for a 2-column projection is a
    bug)."""
    for line in formatted_plan(df).splitlines():
        line = line.strip()
        if line.startswith("ReadSchema:"):
            return line.removeprefix("ReadSchema:").strip()
    return ""


def uses_broadcast_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in formatted_plan(df)


def executed_plan(df: DataFrame) -> str:
    """Final physical plan *after* execution — with AQE on, the
    pre-execution formatted plan hides the adaptively-chosen plan
    (and its WholeStageCodegen spans)."""
    df.collect()  # count() would build a *separate* query execution
    return df._jdf.queryExecution().executedPlan().toString()


def whole_stage_codegen_spans(df: DataFrame) -> int:
    """Number of distinct whole-stage-codegen spans in the final plan.
    In compact plan strings a span shows as a ``*(N)`` operator prefix;
    the verbose form spells out ``WholeStageCodegen``."""
    import re

    plan = formatted_plan(df)
    n = plan.count("WholeStageCodegen")
    if n == 0 and "AdaptiveSparkPlan" in plan:
        ex = executed_plan(df)
        n = max(
            ex.count("WholeStageCodegen"),
            len(set(re.findall(r"\*\((\d+)\)", ex))),
        )
    return n
