"""Local DuckDB-oracle differential harness — mirrors the driver's
correctness gate (row-count + schema + order-insensitive value match
with columns sorted by name) so mismatches are caught before submission.
"""

from __future__ import annotations

import math
import os
from typing import Any

import duckdb
import pandas as pd

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def duck_connect(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    # Pin the session zone: DuckDB's to_timestamp
    # yields TIMESTAMPTZ and strftime/CAST render it in the session
    # TimeZone (host default), while the Spark side pins
    # spark.sql.session.timeZone=UTC — on a non-UTC host every
    # bucket-label oracle would shift. Same pin the driver's UTC hosts
    # get implicitly.
    con.execute("SET TimeZone='UTC'")
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    # canonical row order: sort by every column (stringified for mixed types)
    if len(df):
        key = df.astype(str)
        df = df.loc[key.sort_values(by=list(df.columns)).index].reset_index(drop=True)
    return df


def _eq(a: Any, b: Any) -> bool:
    import numpy as np

    if isinstance(a, np.ndarray):
        a = a.tolist()
    if isinstance(b, np.ndarray):
        b = b.tolist()
    if a is None and b is None:
        return True
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) and math.isnan(b):
            return True
        return a == b or abs(a - b) <= 1e-12 * max(1.0, abs(a), abs(b))
    if isinstance(a, (list, tuple)) and isinstance(b, (list, tuple)):
        return len(a) == len(b) and all(_eq(x, y) for x, y in zip(a, b))
    if not isinstance(a, (list, tuple, dict)) and not isinstance(b, (list, tuple, dict)):
        if pd.isna(a) and pd.isna(b):  # covers NaT / pd.NA
            return True
    return str(a) == str(b)


def compare(spark_df, oracle_sql: str, sf_dir: str) -> tuple[bool, str]:
    """Run both sides, canonicalize, compare. Returns (ok, message)."""
    sp = spark_df.toPandas()
    con = duck_connect(sf_dir)
    try:
        du = con.execute(oracle_sql).fetchdf()
    finally:
        con.close()
    if sorted(sp.columns) != sorted(du.columns):
        return False, f"column mismatch: spark={sorted(sp.columns)} duck={sorted(du.columns)}"
    if len(sp) != len(du):
        return False, f"row count mismatch: spark={len(sp)} duck={len(du)}"
    a, b = _canon(sp), _canon(du)
    for i in range(len(a)):
        for c in a.columns:
            va, vb = a[c].iloc[i], b[c].iloc[i]
            if not _eq(va, vb):
                return (
                    False,
                    f"value mismatch at row {i} col {c}: spark={va!r} duck={vb!r}",
                )
    return True, f"ok ({len(a)} rows)"
