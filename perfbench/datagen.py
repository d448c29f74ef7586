"""Seeded inputs for the benchmark workloads.

Every generator here is a pure function of ``(seed, size)``: the same seed
gives the same rows, so two runs at one seed see identical inputs.

- ``write_analytic_tables`` writes the TPC-H-like star schema plus the
  ``events``/``documents``/``embeddings`` tables the headline queries read,
  with the column names, parquet types and value domains of the project's
  test data (``TESTDATA.md``), at a chosen scale factor.
- ``telemetry_base`` builds the seeded telemetry history as a Spark frame
  in the ``POST /telemetry`` body shape; ``base_value``/``base_row`` give
  the same rows in Python, so reads can be checked without asking Spark.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ----------------------------------------------------------- analytic tables

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
_VOCAB = (
    "a the agg batch big column customer data fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table value vector window"
).split()
_PART_ADJ = ["blue", "cold", "hot", "red", "small"]
_PART_NOUN = ["bolt", "gear", "gizmo", "ring", "widget"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]

_DAY_US = 86_400_000_000
_EPOCH = dt.datetime(1970, 1, 1)


def _us(d: dt.datetime) -> int:
    return (d - _EPOCH) // dt.timedelta(microseconds=1)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def analytic_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """The analytic star schema at scale factor ``sf`` (sf=1 would be
    1.5M orders). Small tables keep a floor so every join has partners."""
    rng = np.random.default_rng([seed, 1])
    n_cust = max(100, int(150_000 * sf))
    n_ord = max(1000, int(1_500_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_events = max(1000, int(1_000_000 * sf))
    n_docs, n_vecs = 500, 500

    region = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": _REGIONS,
    })
    nation = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    customer = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(_SEGMENTS, n_cust),
    })
    supplier = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    part = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [
            f"{a} {b}"
            for a, b in zip(rng.choice(_PART_ADJ, n_part), rng.choice(_PART_NOUN, n_part))
        ],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(_PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + rng.integers(0, 1000, n_part) / 10, 1),
    })

    first_day = _us(dt.datetime(1995, 1, 1))
    order_days = rng.integers(0, 2404, n_ord)  # 1995-01-01 .. 2001-08-01
    orders = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000, 500_000, n_ord),
        "o_orderdate": _ts(first_day + order_days * _DAY_US),
        "o_orderpriority": rng.choice(_PRIORITIES, n_ord),
    })

    lines = rng.integers(1, 8, n_ord)
    n_li = int(lines.sum())
    l_order = np.repeat(np.arange(n_ord), lines)
    l_lineno = np.concatenate([np.arange(1, k + 1) for k in lines])
    qty = rng.integers(1, 51, n_li).astype("float64")
    lineitem = pa.table({
        "l_orderkey": pa.array(l_order, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(l_lineno, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100,
        "l_tax": rng.integers(0, 9, n_li) / 100,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": _ts(
            first_day + (order_days[l_order] + rng.integers(1, 122, n_li)) * _DAY_US
        ),
    })

    ev_start = _us(dt.datetime(2024, 1, 1))
    ev_ts = np.sort(rng.integers(0, 30 * _DAY_US, n_events))
    events = pa.table({
        "event_id": pa.array(np.arange(n_events), pa.int64()),
        "ts": _ts(ev_start + ev_ts),
        "user_id": pa.array(rng.integers(0, 150, n_events), pa.int64()),
        "event_type": rng.choice(_EVENT_TYPES, n_events),
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, n_events), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
    })

    texts = [
        " ".join(rng.choice(_VOCAB, int(rng.integers(8, 90))))
        for _ in range(n_docs)
    ]
    documents = pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": rng.choice(_LANGS, n_docs),
        "source": [f"src{s}" for s in rng.integers(0, 20, n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })

    vecs = rng.normal(size=(n_vecs, 64)).astype("float32")
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    embeddings = pa.table({
        "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vecs), pa.int32()),
    })

    return {
        "region": region, "nation": nation, "customer": customer,
        "supplier": supplier, "part": part, "orders": orders,
        "lineitem": lineitem, "events": events, "documents": documents,
        "embeddings": embeddings,
    }


def write_analytic_tables(out_dir: str, seed: int, sf: float) -> None:
    """Write every table as ``<out_dir>/<name>.parquet``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in analytic_tables(seed, sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


# ----------------------------------------------------------- telemetry

#: First point of the seeded history; points are ``STEP_S`` apart.
T0 = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
STEP_S = 300


def series_id(s: int) -> str:
    return f"series-{s:05d}"


def sensor_name(s: int) -> str:
    return f"AHU{s % 16:02d}_SaTemp"


def iso(k: int) -> str:
    """Timestamp string of point ``k`` (the stored raw form)."""
    return (T0 + dt.timedelta(seconds=k * STEP_S)).strftime("%Y-%m-%dT%H:%M:%SZ")


def base_value(seed: int, s: int, k: int) -> float:
    """Value of point ``k`` of series ``s``. Integer arithmetic and one
    exact division, so Spark and Python compute the same double."""
    return ((s * 7919 + k * 104_729 + seed * 31_337) % 100_000) / 1000.0


def base_row(seed: int, s: int, k: int) -> dict:
    return {
        "sensor_name": sensor_name(s),
        "timestamp": iso(k),
        "value": base_value(seed, s, k),
        "fc1_flag": None,
        "timeseries_id": series_id(s),
    }


def row_bytes(row: dict) -> int:
    """Bytes of one user row: UTF-8 strings, 8 for the value, 1 for the flag."""
    return (
        len(row["sensor_name"].encode()) + len(row["timestamp"].encode())
        + len(row["timeseries_id"].encode()) + 9
    )


def base_bytes(n_series: int, n_points: int) -> int:
    """``row_bytes`` summed over the whole seeded history (closed form:
    every id, sensor name and timestamp string has a fixed width)."""
    per_row = len(series_id(0)) + len(sensor_name(0)) + len(iso(0)) + 9
    return per_row * n_series * n_points


def telemetry_base(spark, seed: int, n_series: int, n_points: int, partitions: int = 4):
    """The seeded history as a Spark frame in the ingest payload shape:
    ``n_series`` series, each with ``n_points`` points ``STEP_S`` apart.
    Row ``id`` is ``k * n_series + s``, so ingest order is time order."""
    from pyspark.sql import functions as F

    t0 = int(T0.timestamp())
    s = F.col("id") % n_series
    k = (F.col("id") / n_series).cast("long")
    return (
        spark.range(n_series * n_points, numPartitions=partitions)
        .select(s.alias("s"), k.alias("k"))
        .select(
            F.concat(
                F.lit("AHU"), F.lpad((F.col("s") % 16).cast("string"), 2, "0"),
                F.lit("_SaTemp"),
            ).alias("sensor_name"),
            F.date_format(
                F.timestamp_seconds(F.lit(t0) + F.col("k") * STEP_S),
                "yyyy-MM-dd'T'HH:mm:ss'Z'",
            ).alias("timestamp"),
            (
                (F.col("s") * 7919 + F.col("k") * 104_729 + F.lit(seed * 31_337))
                % 100_000
                / 1000.0
            ).alias("value"),
            F.lit(None).cast("tinyint").alias("fc1_flag"),
            F.concat(
                F.lit("series-"), F.lpad(F.col("s").cast("string"), 5, "0")
            ).alias("timeseries_id"),
        )
    )
