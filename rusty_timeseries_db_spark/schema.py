"""Canonical schemas + ingest normalization expressions.

The reference has exactly one fixed schema — the ``TimeseriesData``
struct (rusty_timeseries/src/main.rs:23-30) — serialized as fixed-width
105-byte rows (main.rs:9-16). We keep the same logical fields, add
``ts`` (parsed TimestampType), ``ts_raw`` (the original ≤32-char string,
preserving the reference's lexicographic-compare fidelity, main.rs:132),
and ``ingest_seq`` (monotonic arrival order replacing physical row
order, main.rs:126-137).

Normalization reproduces the reference codec's observable semantics:
- 32-char silent truncation of string fields (main.rs:154,161,179);
- ``fc1_flag = 0`` is indistinguishable from NULL (main.rs:172-176,
  205-209) → ``nullif(flag, 0)`` on ingest.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ByteType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

# Field widths from main.rs:9-13.
SENSOR_NAME_SIZE = 32
TIMESTAMP_SIZE = 32
TIMESERIES_ID_SIZE = 32

#: Schema of the raw ingest payload — the HTTP POST /telemetry body shape
#: (main.rs:23-30, py_client.py:10-16).
TELEMETRY_INGEST_SCHEMA = StructType(
    [
        StructField("sensor_name", StringType(), False),
        StructField("timestamp", StringType(), False),
        StructField("value", DoubleType(), False),
        StructField("fc1_flag", ByteType(), True),
        StructField("timeseries_id", StringType(), False),
    ]
)

#: Canonical stored telemetry schema (FIXTURES.md §1).
TELEMETRY_SCHEMA = StructType(
    [
        StructField("sensor_name", StringType(), False),
        StructField("ts", TimestampType(), True),
        StructField("ts_raw", StringType(), False),
        StructField("value", DoubleType(), False),
        StructField("fc1_flag", ByteType(), True),
        StructField("timeseries_id", StringType(), False),
        StructField("ingest_seq", LongType(), False),
    ]
)

#: On-disk telemetry schema = canonical schema + the physical bucket
#: partition column (moved here from api.py in round 11 so the
#: streaming module can read committed dirs with a KNOWN schema — a
#: committed zero-row batch dir has no part files and would otherwise
#: fail schema inference, ADVICE r10 #3). Built as a fresh StructType
#: (StructType.add mutates in place — never call it on the shared
#: schema).
STORED_TELEMETRY_SCHEMA = StructType(
    list(TELEMETRY_SCHEMA.fields)
    + [StructField("series_bucket", IntegerType(), True)]
)

#: series_catalog dimension — realizes the dead ``TimeseriesReference``
#: struct (main.rs:32-36) as a proper Brick-style mapping table.
SERIES_CATALOG_SCHEMA = StructType(
    [
        StructField("timeseries_id", StringType(), False),
        StructField("sensor_name", StringType(), True),
        StructField("unit", StringType(), True),
        StructField("site", StringType(), True),
        StructField("stored_at", StringType(), True),
    ]
)

#: fdd_rules — parameterizes run_fault_detection (main.rs:384-406).
FDD_RULES_SCHEMA = StructType(
    [
        StructField("rule_id", StringType(), False),
        StructField("timeseries_id", StringType(), False),
        StructField("threshold", DoubleType(), False),
        StructField("window_start", TimestampType(), True),
        StructField("window_end", TimestampType(), True),
        StructField("flag_value", ByteType(), False),
    ]
)


def truncate32(col: Column, width: int = 32) -> Column:
    """Reproduce the codec's silent fixed-width truncation
    (main.rs:154,161,179): keep the first ``width`` characters."""
    return F.substring(col, 1, width)


def normalize_flag(col: Column) -> Column:
    """``Some(0)`` and ``None`` are indistinguishable on disk
    (main.rs:172-176, 205-209): flag domain is NULL ∪ [1,255]."""
    return F.nullif(col.cast(ByteType()), F.lit(0).cast(ByteType()))


def normalize_payload(df: DataFrame) -> DataFrame:
    """Raw ingest payload → canonical columns, without ``ingest_seq``
    (streaming-safe: usable on streaming DataFrames)."""
    return df.select(
            truncate32(F.col("sensor_name"), SENSOR_NAME_SIZE).alias("sensor_name"),
            # try_to_timestamp: the reference never validates timestamps
            # (main.rs:160-166) — unparseable input must store (ts NULL,
            # ts_raw kept), not raise (ANSI to_timestamp throws).
            F.try_to_timestamp(truncate32(F.col("timestamp"), TIMESTAMP_SIZE)).alias("ts"),
            truncate32(F.col("timestamp"), TIMESTAMP_SIZE).alias("ts_raw"),
            F.col("value").cast(DoubleType()).alias("value"),
            normalize_flag(F.col("fc1_flag")).alias("fc1_flag"),
            truncate32(F.col("timeseries_id"), TIMESERIES_ID_SIZE).alias(
                "timeseries_id"
            ),
        )


def normalize_ingest(df: DataFrame, seq_offset: int = 0) -> DataFrame:
    """Raw ingest payload → canonical telemetry rows (batch path).

    Adds ``ingest_seq`` via a monotonic id; callers that need *strictly
    dense* sequence numbers (fidelity tests) pass a pre-ordered
    single-partition frame or use ``api.ingest_rows``.
    """
    return normalize_payload(df).withColumn(
        "ingest_seq",
        (F.monotonically_increasing_id() + F.lit(seq_offset)).cast(LongType()),
    )


#: Number of hash buckets for the physical telemetry layout. At 100 TB,
#: partitioning by raw ``timeseries_id`` would create millions of tiny
#: partitions; bucketing the id into a bounded number of hash buckets
#: (plus a date partition) keeps partition counts sane while still
#: enabling partition pruning on point-series queries.
N_SERIES_BUCKETS = 64


def series_bucket(col: Column, n_buckets: int = N_SERIES_BUCKETS) -> Column:
    """Deterministic bucket for a series id (partition-pruning key)."""
    return F.pmod(F.xxhash64(col), F.lit(n_buckets)).cast("int")


#: XXH64's primes (Spark's ``XXH64``, the function behind ``xxhash64``).
_P1, _P2, _P3, _P4, _P5 = (
    0x9E3779B185EBCA87,
    0xC2B2AE3D27D4EB4F,
    0x165667B19E3779F9,
    0x85EBCA77C2B2AE63,
    0x27D4EB2F165667C5,
)
_U64 = (1 << 64) - 1


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _U64


def _xxh_round(acc: int, lane: int) -> int:
    return _rotl((acc + lane * _P2) & _U64, 31) * _P1 & _U64


def _xxh64(data: bytes, seed: int) -> int:
    """XXH64 of ``data`` as an unsigned 64-bit int."""
    n, i = len(data), 0

    def word(at: int, width: int) -> int:
        return int.from_bytes(data[at:at + width], "little")

    if n >= 32:
        acc = [(seed + _P1 + _P2) & _U64, (seed + _P2) & _U64, seed,
               (seed - _P1) & _U64]
        while i + 32 <= n:
            acc = [_xxh_round(a, word(i + 8 * k, 8)) for k, a in enumerate(acc)]
            i += 32
        h = (_rotl(acc[0], 1) + _rotl(acc[1], 7) + _rotl(acc[2], 12)
             + _rotl(acc[3], 18)) & _U64
        for a in acc:
            h = ((h ^ _xxh_round(0, a)) * _P1 + _P4) & _U64
    else:
        h = (seed + _P5) & _U64
    h = (h + n) & _U64
    while i + 8 <= n:
        h = (_rotl(h ^ _xxh_round(0, word(i, 8)), 27) * _P1 + _P4) & _U64
        i += 8
    if i + 4 <= n:
        h = (_rotl(h ^ (word(i, 4) * _P1 & _U64), 23) * _P2 + _P3) & _U64
        i += 4
    for b in data[i:]:
        h = _rotl(h ^ (b * _P5 & _U64), 11) * _P1 & _U64
    h = (h ^ (h >> 33)) * _P2 & _U64
    h = (h ^ (h >> 29)) * _P3 & _U64
    return h ^ (h >> 32)


def series_bucket_of(timeseries_id: str) -> int:
    """``series_bucket`` of one id, computed on the driver in Python:
    ``xxhash64`` is XXH64 with seed 42 over the id's UTF-8 bytes, and
    ``pmod`` of the signed hash by ``N_SERIES_BUCKETS`` (a power of two)
    equals ``%`` of the unsigned one. No py4j call and no Spark job, so
    a read names its bucket dir for free."""
    return _xxh64(timeseries_id.encode("utf-8"), 42) % N_SERIES_BUCKETS
