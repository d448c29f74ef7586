"""UDF/UDAF/UDTF surface (SURVEY §2.2 UDF rows — capability extension;
the reference has no UDFs).

Policy: built-in expressions first, Arrow-batched pandas UDFs only where
per-group/model-style Python logic is genuinely needed. Row-at-a-time
Python UDFs are deliberately absent from every hot path.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import DoubleType


# ---------------------------------------------------- scalar pandas UDF

@pandas_udf(DoubleType())
def minmax_scale(v: pd.Series) -> pd.Series:
    """Vectorized scalar pandas UDF (Arrow batches): clip to [0, 1]."""
    return v.clip(lower=0.0, upper=1.0)


# ------------------------------------------------- grouped-agg pandas UDF

@pandas_udf(DoubleType())
def median_udaf(v: pd.Series) -> float:
    """Grouped-aggregate pandas UDF: exact median per group."""
    return float(v.median())


# --------------------------------------------------- grouped-map (apply)

def zscore_per_group(
    df: DataFrame, keys: list[str], value_col: str = "value"
) -> DataFrame:
    """Per-group z-score via ``applyInPandas`` — the grouped-map shape
    used for per-series model fits. Sample stddev (ddof=1) to match the
    SQL ``stddev_samp`` oracle; single-member groups yield NULL."""
    schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
    ) + ", zscore double"

    def fit(pdf: pd.DataFrame) -> pd.DataFrame:
        sd = pdf[value_col].std(ddof=1)
        mu = pdf[value_col].mean()
        pdf = pdf.copy()
        pdf["zscore"] = (pdf[value_col] - mu) / sd if sd and sd > 0 else None
        return pdf

    return df.groupBy(*keys).applyInPandas(fit, schema)


# -------------------------------------------------------- mapInPandas

def clip_outliers_stream(
    df: DataFrame, value_col: str = "value", lo: float = 0.0, hi: float = 100.0
) -> DataFrame:
    """Iterator-style ``mapInPandas``: batch-wise transformation with
    constant memory (the shape for large per-partition Python work)."""
    schema = df.schema

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pdf[value_col] = pdf[value_col].clip(lower=lo, upper=hi)
            yield pdf

    return df.mapInPandas(run, schema)


def scale_values_arrow(
    df: DataFrame, value_col: str = "value", factor: float = 2.0
) -> DataFrame:
    """Iterator-style ``mapInArrow``: like ``mapInPandas`` but the
    batches stay ``pyarrow.RecordBatch`` end-to-end — no Arrow→pandas
    materialization, so columnar kernels (pyarrow.compute) run with
    zero conversion overhead. The right boundary when the Python work
    is itself vectorized-columnar rather than pandas-shaped.

    The value column is declared ``double`` in the OUTPUT schema and the
    Arrow batch is cast to float64 before the multiply — ``pc.multiply``
    widens int × float to double, so emitting it under the input field's
    type would be an Arrow schema mismatch for non-double columns."""
    import pyarrow as pa
    import pyarrow.compute as pc

    from pyspark.sql.types import DoubleType, StructField, StructType

    out_schema = StructType(
        [
            StructField(f.name, DoubleType(), f.nullable)
            if f.name == value_col
            else f
            for f in df.schema.fields
        ]
    )
    idx = df.columns.index(value_col)

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for rb in batches:
            col = pc.cast(rb.column(idx), pa.float64())
            scaled = pc.multiply(col, pa.scalar(factor, pa.float64()))
            yield rb.set_column(
                idx, pa.field(value_col, pa.float64()), scaled
            )

    return df.mapInArrow(run, out_schema)
