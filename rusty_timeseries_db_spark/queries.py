"""Declared-query manifest (SURVEY §2.2/§2.3): every operator surface
the engine claims, as a (Spark callable, DuckDB oracle SQL) pair. The
driver runs both at sf0.01 and hash-compares row values with columns
sorted by name — so every computed column is aliased identically on
both sides, and every float output is made *deterministic* on both
engines:

- money sums (2-dp doubles) go through ``decimal(18,2)`` so the sum is
  exact and order-independent, then cast to double at the end;
- stddev/variance are computed from exact decimal sums with identical
  double arithmetic on both sides (single-pass formula), not the
  engines' internal accumulators;
- remaining float outputs are ``round(x, 6)`` on both sides.

Queries with no SQL-expressible oracle (xxhash64-based MinHash/SimHash,
LSH, multimodal stubs) are declared with ``oracle=None`` → the driver
records a rows-only check.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .operators.asof import asof_join, asof_join_tolerance
from .operators.dedup import (
    content_hash,
    minhash_dedup_pairs,
    ngram_jaccard_pairs,
    simhash_pairs,
)
from .operators.similarity import cosine_topk, lsh_cosine_topk
from .operators.topk import topk, topk_per_group
from .functions.text import detect_language, quality_score, token_array
from .functions.vectors import cosine

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: str | None
    doc: str = ""


_REGISTRY: list[QuerySpec] = []


def declare(name: str, oracle: str | None, doc: str = ""):
    def wrap(fn: QueryFn) -> QueryFn:
        _REGISTRY.append(QuerySpec(name, fn, oracle, doc))
        return fn

    return wrap


def all_queries() -> dict[str, QueryFn]:
    return {q.name: q.fn for q in _REGISTRY}


def all_oracles() -> dict[str, str]:
    return {q.name: q.oracle for q in _REGISTRY if q.oracle is not None}


def T(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load a TESTDATA table, normalizing timestamp precision.

    ``events.ts`` has shipped as parquet TIMESTAMP(NANOS) in some
    testdata generations and TIMESTAMP(MICROS) in others. Spark's
    TimestampType is µs and refuses nanos, so the session must carry
    ``spark.sql.legacy.parquet.nanosAsLong=true`` (``session.py`` sets
    it, with ``session.timeZone=UTC``); this loader sets no conf and
    normalizes by the *observed* read dtype: long → floor-divide
    ns→µs (matches DuckDB's own truncation on read);
    timestamp/timestamp_ntz → cast to TimestampType (the UTC session
    tz makes the NTZ cast value-identical to DuckDB's naive read).
    Both engines see identical µs values either way.
    """
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events":
        ts_type = df.schema["ts"].dataType.typeName()
        if ts_type in ("long", "bigint"):  # TIMESTAMP(NANOS) via legacy conf
            ts_col = F.timestamp_micros(F.expr("ts div 1000"))
        else:  # TIMESTAMP(MICROS), tz-naive or instant
            ts_col = F.col("ts").cast("timestamp")
        df = df.withColumn("ts", ts_col)
        df = df.select("event_id", "ts", "user_id", "event_type", "value", "props")
    return df


# helpers -----------------------------------------------------------------

def dec(col, scale: int = 2):
    """Exact-decimal view of a 2-dp double (order-independent sums)."""
    return col.cast(f"decimal(18,{scale})")


def dsum(col, scale: int = 2):
    """Exact decimal sum of a fixed-scale double, as double."""
    return F.sum(dec(col, scale)).cast("double")


def _fixture_path(name: str) -> str:
    """The per-process fixture path FORMULA, with no side effects —
    shared by ``_fixture_dir`` (which clears it) and by oracle SQL
    strings that must reference the same location at declare time
    (q_zorder_stats), so the two can never drift apart."""
    import tempfile

    return os.path.join(
        tempfile.gettempdir(), f"rtsdb_fixture_{os.getpid()}_{name}"
    )


def _fixture_dir(name: str) -> str:
    """Stable per-process scratch dir for in-fixture write-then-read
    queries (ORC round-trip, schema evolution, continuous rollup):
    repeated invocations in one process REUSE one cleared directory
    instead of leaking a fresh mkdtemp per call (a full parity sweep
    calls each query once; bench repeats them). Pid-scoping keeps
    concurrent sessions apart."""
    import shutil

    path = _fixture_path(name)
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path, exist_ok=True)
    return path


def attach_scalar(df: DataFrame, scalar: DataFrame) -> DataFrame:
    """Attach a 1-row aggregate (a scalar like a global count) to every
    row via a constant-key BROADCAST equi-join. Plans as a
    BroadcastHashJoin instead of the BroadcastNestedLoopJoin a
    ``crossJoin`` produces — same cost for one broadcast row, but the
    cartesian-shaped operator never appears in plans users will copy.

    Both keys must be expressions Catalyst cannot fold to a literal
    (a ``lit(1)`` key — or any branch-free rewrite of it — is
    constant-folded and the then-trivially-true condition planned right
    back into a nested-loop join), so the key derives a constant 1
    from an actual column value."""
    k = "_scalar_key"
    one = lambda c: F.least(  # noqa: E731
        F.lit(1), F.greatest(F.lit(1), F.length(F.col(c).cast("string")))
    )
    return (
        df.withColumn(k, one(df.columns[0]))
        .join(
            F.broadcast(scalar.withColumn(k, one(scalar.columns[0]))), k
        )
        .drop(k)
    )


# ======================================================================
# Fidelity queries (reference semantics, VALUES-based — no table reads)
# ======================================================================

_TELEMETRY_VALUES_SQL = """
(VALUES
  ('Sa_FanSpeed', '2024-08-28T12:00:00Z', 0.8, CAST(NULL AS TINYINT), '8f541ba4-c437-43ba-ba1d-5c946583'),
  ('Sa_FanSpeed', '2024-08-28T12:01:00Z', 0.9, CAST(NULL AS TINYINT), '8f541ba4-c437-43ba-ba1d-5c946583'),
  ('Sa_FanSpeed', '2024-08-28T12:02:00Z', 1.0, CAST(NULL AS TINYINT), '8f541ba4-c437-43ba-ba1d-5c946583'),
  ('Oa_DamperPos', '2024-08-28T12:00:30Z', 0.4, CAST(1 AS TINYINT), '11111111-2222-3333-4444-55556666')
) AS telemetry_fixture(sensor_name, ts_raw, value, fc1_flag, timeseries_id)
"""

_FIXTURE_ROWS = [
    ("Sa_FanSpeed", "2024-08-28T12:00:00Z", 0.8, None, "8f541ba4-c437-43ba-ba1d-5c946583"),
    ("Sa_FanSpeed", "2024-08-28T12:01:00Z", 0.9, None, "8f541ba4-c437-43ba-ba1d-5c946583"),
    ("Sa_FanSpeed", "2024-08-28T12:02:00Z", 1.0, None, "8f541ba4-c437-43ba-ba1d-5c946583"),
    ("Oa_DamperPos", "2024-08-28T12:00:30Z", 0.4, 1, "11111111-2222-3333-4444-55556666"),
]


def _fixture_df(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(
        _FIXTURE_ROWS,
        "sensor_name string, ts_raw string, value double, fc1_flag tinyint, timeseries_id string",
    )


@declare(
    "q_r3_query_by_id",
    f"""
    SELECT sensor_name, ts_raw, value, fc1_flag, timeseries_id
    FROM {_TELEMETRY_VALUES_SQL}
    WHERE timeseries_id = '8f541ba4-c437-43ba-ba1d-5c946583'
      AND ts_raw >= '2024-08-28T12:00:00Z' AND ts_raw <= '2024-08-28T12:01:00Z'
    """,
    doc="R3 filtered range scan, inclusive bounds (main.rs:119-139)",
)
def q_r3(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _fixture_df(spark)
    return df.filter(
        (F.col("timeseries_id") == "8f541ba4-c437-43ba-ba1d-5c946583")
        & (F.col("ts_raw") >= "2024-08-28T12:00:00Z")
        & (F.col("ts_raw") <= "2024-08-28T12:01:00Z")
    )


@declare(
    "q_r4_fdd_overlay",
    f"""
    SELECT sensor_name, ts_raw, value,
           CASE WHEN value > 0.95 THEN CAST(1 AS TINYINT) ELSE fc1_flag END AS fc1_flag,
           timeseries_id
    FROM {_TELEMETRY_VALUES_SQL}
    """,
    doc="R4 threshold flag overlay (main.rs:384-406), strict >",
)
def q_r4(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _fixture_df(spark)
    return df.withColumn(
        "fc1_flag",
        F.when(F.col("value") > 0.95, F.lit(1).cast("tinyint")).otherwise(
            F.col("fc1_flag")
        ),
    )


@declare(
    "q_r11_fault_count",
    f"""
    SELECT timeseries_id, CAST(count(*) FILTER (WHERE value > 0.95) AS BIGINT) AS fault_count
    FROM {_TELEMETRY_VALUES_SQL}
    GROUP BY timeseries_id
    """,
    doc="R11 client-side fault count (py_client.py:40-49)",
)
def q_r11(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = _fixture_df(spark)
    return df.groupBy("timeseries_id").agg(
        F.sum(F.when(F.col("value") > 0.95, 1).otherwise(0))
        .cast("long")
        .alias("fault_count")
    )


# ======================================================================
# Projection / filter
# ======================================================================

@declare(
    "q_filter_range",
    """
    SELECT event_id, ts, event_type, value
    FROM events
    WHERE user_id = 7
      AND ts >= TIMESTAMP '2024-01-05 00:00:00'
      AND ts <= TIMESTAMP '2024-01-20 00:00:00'
    """,
    doc="R3-analog equality + inclusive time range on events",
)
def q_filter_range(spark, sf_dir):
    return (
        T(spark, sf_dir, "events")
        .filter(
            (F.col("user_id") == 7)
            & F.col("ts").between("2024-01-05 00:00:00", "2024-01-20 00:00:00")
        )
        .select("event_id", "ts", "event_type", "value")
    )


@declare(
    "q_filter_compound",
    """
    SELECT event_id, user_id, event_type, value, props
    FROM events
    WHERE event_type IN ('click', 'purchase')
      AND value BETWEEN 5.0 AND 50.0
      AND (props LIKE '%"k": 1%' OR user_id < 10)
      AND props IS NOT NULL
    """,
    doc="compound AND/OR, isin, LIKE, null checks",
)
def q_filter_compound(spark, sf_dir):
    return (
        T(spark, sf_dir, "events")
        .filter(
            F.col("event_type").isin("click", "purchase")
            & F.col("value").between(5.0, 50.0)
            & (F.col("props").like('%"k": 1%') | (F.col("user_id") < 10))
            & F.col("props").isNotNull()
        )
        .select("event_id", "user_id", "event_type", "value", "props")
    )


@declare(
    "q_project_compute",
    """
    SELECT l_orderkey, l_linenumber,
           CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(18,2)) AS DOUBLE) AS disc_price,
           CAST(l_quantity AS BIGINT) AS qty_int
    FROM lineitem
    WHERE l_linenumber = 1 AND l_quantity >= 45
    """,
    doc="projection with computed columns (exact decimal arithmetic)",
)
def q_project_compute(spark, sf_dir):
    li = T(spark, sf_dir, "lineitem")
    return li.filter((F.col("l_linenumber") == 1) & (F.col("l_quantity") >= 45)).select(
        "l_orderkey",
        "l_linenumber",
        (dec(F.col("l_extendedprice")) * dec(F.lit(1) - F.col("l_discount")))
        .cast("double")
        .alias("disc_price"),
        F.col("l_quantity").cast("long").alias("qty_int"),
    )


# ======================================================================
# Aggregations
# ======================================================================

@declare(
    "q_agg_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(l_quantity) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(18,2))) AS DOUBLE) AS sum_disc_price,
           ROUND(CAST(SUM(l_quantity) AS DOUBLE) / COUNT(*), 6) AS avg_qty,
           ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*), 6) AS avg_price,
           CAST(COUNT(*) AS BIGINT) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2001-06-01 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
    doc="TPC-H Q1-style grouped agg (partial+final hash agg)",
)
def q_agg_pricing_summary(spark, sf_dir):
    li = T(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= "2001-06-01 00:00:00"
    )
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum("l_quantity").alias("sum_qty"),  # integral doubles: exact
        dsum(F.col("l_extendedprice")).alias("sum_base_price"),
        F.sum(dec(F.col("l_extendedprice")) * dec(F.lit(1) - F.col("l_discount")))
        .cast("double")
        .alias("sum_disc_price"),
        F.round(F.sum("l_quantity") / F.count("*"), 6).alias("avg_qty"),
        F.round(dsum(F.col("l_extendedprice")) / F.count("*"), 6).alias("avg_price"),
        F.count("*").alias("count_order"),
    )


@declare(
    "q_agg_stats",
    """
    WITH s AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sv,
             CAST(SUM(CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS svv,
             MIN(value) AS min_value, MAX(value) AS max_value
      FROM events GROUP BY event_type
    )
    SELECT event_type, n, min_value, max_value,
           ROUND(sv / n, 6) AS avg_value,
           ROUND(SQRT((svv - sv * sv / n) / (n - 1)), 6) AS stddev_value
    FROM s
    """,
    doc="min/max/avg/stddev from exact decimal sums (engine-agnostic)",
)
def q_agg_stats(spark, sf_dir):
    ev = T(spark, sf_dir, "events")
    s = ev.groupBy("event_type").agg(
        F.count("*").alias("n"),
        dsum(F.col("value")).alias("sv"),
        F.sum(dec(F.col("value")) * dec(F.col("value"))).cast("double").alias("svv"),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
    )
    return s.select(
        "event_type",
        "n",
        "min_value",
        "max_value",
        F.round(F.col("sv") / F.col("n"), 6).alias("avg_value"),
        F.round(
            F.sqrt((F.col("svv") - F.col("sv") * F.col("sv") / F.col("n")) / (F.col("n") - 1)),
            6,
        ).alias("stddev_value"),
    )


@declare(
    "q_count_distinct",
    """
    SELECT event_type,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM events GROUP BY event_type
    """,
    doc="exact count distinct per group",
)
def q_count_distinct(spark, sf_dir):
    return (
        T(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.countDistinct("user_id").alias("n_users"),
            F.count("*").alias("n_events"),
        )
    )


@declare(
    "q_percentiles",
    """
    SELECT event_type,
           ROUND(quantile_cont(value, 0.5), 6) AS p50,
           ROUND(quantile_cont(value, 0.9), 6) AS p90
    FROM events GROUP BY event_type
    """,
    doc="exact interpolated percentiles (Spark percentile ≡ DuckDB quantile_cont)",
)
def q_percentiles(spark, sf_dir):
    return (
        T(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.round(F.expr("percentile(value, 0.5)"), 6).alias("p50"),
            F.round(F.expr("percentile(value, 0.9)"), 6).alias("p90"),
        )
    )


@declare(
    "q_rollup",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS INTEGER) AS gid,
           CAST(SUM(l_quantity) AS DOUBLE) AS sum_qty,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
    doc="hierarchical rollup with grouping ids",
)
def q_rollup(spark, sf_dir):
    li = T(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        (F.grouping("l_returnflag") * 2 + F.grouping("l_linestatus"))
        .cast("int")
        .alias("gid"),
        F.sum("l_quantity").alias("sum_qty"),
        F.count("*").alias("n"),
    )


@declare(
    "q_cube",
    """
    SELECT o_orderstatus, o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
    doc="cube over status × priority",
)
def q_cube(spark, sf_dir):
    return (
        T(spark, sf_dir, "orders")
        .cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.count("*").alias("n"),
            dsum(F.col("o_totalprice")).alias("sum_price"),
        )
    )


@declare(
    "q_grouping_sets",
    """
    SELECT o_orderstatus, o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
    """,
    doc="explicit grouping sets (SQL surface)",
)
def q_grouping_sets(spark, sf_dir):
    T(spark, sf_dir, "orders").createOrReplaceTempView("_gs_orders")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n
        FROM _gs_orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
        """
    )


@declare(
    "q_having",
    """
    SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_spend
    FROM orders
    GROUP BY o_custkey
    HAVING COUNT(*) >= 15
    """,
    doc="grouped agg + having filter",
)
def q_having(spark, sf_dir):
    return (
        T(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.count("*").alias("n_orders"),
            dsum(F.col("o_totalprice")).alias("total_spend"),
        )
        .filter(F.col("n_orders") >= 15)
    )


@declare(
    "q_collect_set",
    """
    SELECT user_id,
           array_to_string(list_sort(list_distinct(list(event_type))), ',') AS types_seen,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM events
    WHERE user_id < 20
    GROUP BY user_id
    """,
    doc="collect_set → canonical sorted string (engine-agnostic form)",
)
def q_collect_set(spark, sf_dir):
    return (
        T(spark, sf_dir, "events")
        .filter(F.col("user_id") < 20)
        .groupBy("user_id")
        .agg(
            F.concat_ws(",", F.sort_array(F.collect_set("event_type"))).alias(
                "types_seen"
            ),
            F.count("*").alias("n"),
        )
    )


# ======================================================================
# Joins
# ======================================================================

@declare(
    "q_join_inner_broadcast",
    """
    SELECT n.n_name,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_name
    """,
    doc="fact ⋈ dims, grouped revenue. Only `nation` (25 rows at every "
    "sf) carries an explicit broadcast hint; `customer` scales with sf "
    "(15M rows at sf100), so its join strategy is left to AQE + "
    "autoBroadcastJoinThreshold — a forced hint would OOM executors at "
    "cluster scale.",
)
def q_join_inner_broadcast(spark, sf_dir):
    o = T(spark, sf_dir, "orders")
    c = T(spark, sf_dir, "customer")
    n = T(spark, sf_dir, "nation")
    return (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .groupBy("n_name")
        .agg(
            F.count("*").alias("n_orders"),
            dsum(F.col("o_totalprice")).alias("revenue"),
        )
    )


@declare(
    "q_join_left_outer",
    """
    SELECT c.c_custkey, c.c_name,
           CAST(COUNT(o.o_orderkey) AS BIGINT) AS n_orders
    FROM customer c
    LEFT JOIN orders o ON o.o_custkey = c.c_custkey
    GROUP BY c.c_custkey, c.c_name
    """,
    doc="left outer join keeping customers with zero orders",
)
def q_join_left_outer(spark, sf_dir):
    c = T(spark, sf_dir, "customer")
    o = T(spark, sf_dir, "orders")
    return (
        c.join(o, c["c_custkey"] == o["o_custkey"], "left")
        .groupBy("c_custkey", "c_name")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )


@declare(
    "q_join_full_outer",
    """
    WITH cn AS (SELECT c_nationkey AS nk, CAST(COUNT(*) AS BIGINT) AS n_cust
                FROM customer GROUP BY c_nationkey),
         sn AS (SELECT s_nationkey AS nk, CAST(COUNT(*) AS BIGINT) AS n_supp
                FROM supplier GROUP BY s_nationkey)
    SELECT COALESCE(cn.nk, sn.nk) AS nationkey,
           COALESCE(cn.n_cust, 0) AS n_cust,
           COALESCE(sn.n_supp, 0) AS n_supp
    FROM cn FULL OUTER JOIN sn ON cn.nk = sn.nk
    """,
    doc="full outer join of per-nation customer/supplier counts",
)
def q_join_full_outer(spark, sf_dir):
    c = (
        T(spark, sf_dir, "customer")
        .groupBy(F.col("c_nationkey").alias("nk"))
        .agg(F.count("*").alias("n_cust"))
    )
    s = (
        T(spark, sf_dir, "supplier")
        .groupBy(F.col("s_nationkey").alias("nk"))
        .agg(F.count("*").alias("n_supp"))
    )
    return (
        c.join(s, c["nk"] == s["nk"], "outer")
        .select(
            F.coalesce(c["nk"], s["nk"]).alias("nationkey"),
            F.coalesce(F.col("n_cust"), F.lit(0)).alias("n_cust"),
            F.coalesce(F.col("n_supp"), F.lit(0)).alias("n_supp"),
        )
    )


@declare(
    "q_join_semi",
    """
    SELECT c_custkey, c_mktsegment
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F')
    """,
    doc="left semi join (EXISTS)",
)
def q_join_semi(spark, sf_dir):
    c = T(spark, sf_dir, "customer")
    o = T(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    return c.join(o, c["c_custkey"] == o["o_custkey"], "left_semi").select(
        "c_custkey", "c_mktsegment"
    )


@declare(
    "q_join_anti",
    """
    SELECT c_custkey, c_name
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
    doc="left anti join (NOT EXISTS) — customers with no orders",
)
def q_join_anti(spark, sf_dir):
    c = T(spark, sf_dir, "customer")
    o = T(spark, sf_dir, "orders")
    return c.join(o, c["c_custkey"] == o["o_custkey"], "left_anti").select(
        "c_custkey", "c_name"
    )


@declare(
    "q_join_range_bands",
    """
    SELECT b.band_name, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM events e
    JOIN (VALUES ('low', 0.0, 10.0), ('mid', 10.0, 30.0), ('high', 30.0, 1e9))
         AS b(band_name, lo, hi)
      ON e.value >= b.lo AND e.value < b.hi
    GROUP BY b.band_name
    """,
    doc="non-equi (theta/range) join against value bands",
)
def q_join_range_bands(spark, sf_dir):
    e = T(spark, sf_dir, "events")
    bands = spark.createDataFrame(
        [("low", 0.0, 10.0), ("mid", 10.0, 30.0), ("high", 30.0, 1e9)],
        "band_name string, lo double, hi double",
    )
    return (
        e.join(
            F.broadcast(bands),
            (e["value"] >= bands["lo"]) & (e["value"] < bands["hi"]),
        )
        .groupBy("band_name")
        .agg(
            F.count("*").alias("n"),
            dsum(F.col("value")).alias("sum_value"),
        )
    )


@declare(
    "q_join_cross",
    """
    SELECT r.r_name, p.o_orderpriority
    FROM region r
    CROSS JOIN (SELECT DISTINCT o_orderpriority FROM orders) p
    """,
    doc="guarded cross join (small × small)",
)
def q_join_cross(spark, sf_dir):
    r = T(spark, sf_dir, "region").select("r_name")
    p = T(spark, sf_dir, "orders").select("o_orderpriority").distinct()
    return r.crossJoin(p)


@declare(
    "q_asof_join",
    """
    WITH j AS (
      SELECT o.o_orderkey, o.o_custkey, o.o_orderdate,
             e.ts AS ev_ts, e.value AS ev_value, e.event_id,
             row_number() OVER (PARTITION BY o.o_orderkey
                                ORDER BY e.ts DESC, e.event_id DESC) AS rn
      FROM orders o
      JOIN events e ON e.user_id = o.o_custkey AND e.ts <= o.o_orderdate
    )
    SELECT o.o_orderkey, o.o_custkey,
           j.ev_value AS value_right
    FROM orders o
    LEFT JOIN (SELECT * FROM j WHERE rn = 1) j ON j.o_orderkey = o.o_orderkey
    """,
    doc="as-of join: latest event per customer at or before order date "
    "(union+window implementation, operators/asof.py)",
)
def q_asof_join(spark, sf_dir):
    o = T(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_orderdate")
    e = T(spark, sf_dir, "events").select(
        F.col("user_id").alias("o_custkey"), "ts", "value", "event_id"
    )
    joined = asof_join(
        o,
        e,
        on=["o_custkey"],
        left_ts="o_orderdate",
        right_ts="ts",
        right_cols=["value"],
        right_order="event_id",
    )
    return joined.select("o_orderkey", "o_custkey", "value_right")


@declare(
    "q_asof_tolerance",
    """
    WITH j AS (
      SELECT o.o_orderkey, e.value AS ev_value,
             row_number() OVER (PARTITION BY o.o_orderkey
                                ORDER BY e.ts DESC, e.event_id DESC) AS rn
      FROM orders o
      JOIN events e ON e.user_id = o.o_custkey
                   AND e.ts <= o.o_orderdate
                   AND e.ts >= o.o_orderdate - INTERVAL 7 DAY
    )
    SELECT o.o_orderkey, j.ev_value AS value_right
    FROM orders o
    LEFT JOIN (SELECT * FROM j WHERE rn = 1) j ON j.o_orderkey = o.o_orderkey
    """,
    doc="bounded-lookback as-of join (range join + pick-latest)",
)
def q_asof_tolerance(spark, sf_dir):
    o = T(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_orderdate")
    e = T(spark, sf_dir, "events").select(
        F.col("user_id").alias("o_custkey"), "ts", "value", "event_id"
    )
    joined = asof_join_tolerance(
        o,
        e,
        on=["o_custkey"],
        tolerance_seconds=7 * 24 * 3600,
        left_ts="o_orderdate",
        right_ts="ts",
        right_cols=["value"],
        right_order="event_id",
        broadcast_right=True,
    )
    return joined.select("o_orderkey", "value_right")


@declare(
    "q_asof_sql",
    """
    WITH j AS (
      SELECT o.o_orderkey, o.o_custkey, o.o_orderdate,
             e.ts AS ev_ts, e.value AS ev_value, e.event_id,
             row_number() OVER (PARTITION BY o.o_orderkey
                                ORDER BY e.ts DESC, e.event_id DESC) AS rn
      FROM orders o
      JOIN events e ON e.user_id = o.o_custkey AND e.ts <= o.o_orderdate
    )
    SELECT o.o_orderkey, o.o_custkey,
           j.ev_value AS value_right
    FROM orders o
    LEFT JOIN (SELECT * FROM j WHERE rn = 1) j ON j.o_orderkey = o.o_orderkey
    """,
    doc="SQL surface for the as-of join (sql_ext.sql_with_asof rewrites "
    "the DuckDB-style clause onto the union+window plan); same result "
    "as q_asof_join. Spelled ASOF LEFT JOIN — the dialect "
    "follows DuckDB join-type semantics (bare = inner, LEFT = "
    "keep unmatched with NULL payloads; this query is the LEFT form, "
    "q_asof_inner_sql certifies the bare form against DuckDB running "
    "ASOF JOIN natively)",
)
def q_asof_sql(spark, sf_dir):
    from .sql_ext import sql_with_asof

    o = T(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_orderdate")
    e = T(spark, sf_dir, "events").select(
        F.col("user_id").alias("o_custkey"), "ts", "value", "event_id"
    )
    o.createOrReplaceTempView("_q_asof_sql_orders")
    e.createOrReplaceTempView("_q_asof_sql_events")
    return sql_with_asof(
        spark,
        "SELECT o.o_orderkey, o.o_custkey, value_right "
        "FROM _q_asof_sql_orders AS o ASOF LEFT JOIN _q_asof_sql_events AS e "
        "ON o.o_custkey = e.o_custkey AND o.o_orderdate >= e.ts",
        right_order="event_id",
    )


@declare(
    "q_asof_qualify_sql",
    """
    WITH j AS (
      SELECT o.o_orderkey, o.o_custkey, o.o_orderdate,
             e.value AS ev_value,
             row_number() OVER (PARTITION BY o.o_orderkey
                                ORDER BY e.ts DESC, e.event_id DESC) AS rn
      FROM orders o
      JOIN events e ON e.user_id = o.o_custkey AND e.ts <= o.o_orderdate
    ),
    a AS (
      SELECT o.o_orderkey, o.o_custkey, o.o_orderdate,
             j.ev_value AS value_right
      FROM orders o
      LEFT JOIN (SELECT * FROM j WHERE rn = 1) j
        ON j.o_orderkey = o.o_orderkey
    )
    SELECT o_orderkey, o_custkey, value_right
    FROM (
      SELECT a.*, row_number() OVER (PARTITION BY o_custkey
                   ORDER BY o_orderdate DESC, o_orderkey) AS rn2
      FROM a
    ) q WHERE rn2 = 1
    """,
    doc="ASOF LEFT JOIN + QUALIFY composed in ONE statement (sql_ext.sql"
    "): each customer's LATEST order with "
    "its as-of event value — 'latest reading per sensor, keep rank 1', "
    "the canonical TSDB shape. The QUALIFY predicate references the "
    "left alias, exercising the inline-predicate fallback form",
)
def q_asof_qualify_sql(spark, sf_dir):
    from .sql_ext import sql as dialect_sql

    o = T(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    e = T(spark, sf_dir, "events").select(
        F.col("user_id").alias("o_custkey"), "ts", "value", "event_id"
    )
    o.createOrReplaceTempView("_q_aq_orders")
    e.createOrReplaceTempView("_q_aq_events")
    return dialect_sql(
        spark,
        "SELECT o.o_orderkey, o.o_custkey, value_right "
        "FROM _q_aq_orders AS o ASOF LEFT JOIN _q_aq_events AS e "
        "ON o.o_custkey = e.o_custkey AND o.o_orderdate >= e.ts "
        "QUALIFY row_number() OVER (PARTITION BY o.o_custkey "
        "ORDER BY o.o_orderdate DESC, o.o_orderkey) = 1",
        right_order="event_id",
    )


@declare(
    "q_pit_features",
    """
    WITH sp AS (
      SELECT event_id, user_id, ts FROM events WHERE event_id % 10 = 0
    ),
    ck AS (
      SELECT user_id, ts, value, event_id FROM events
      WHERE event_type = 'click'
    ),
    pu AS (
      SELECT user_id, ts, value, event_id FROM events
      WHERE event_type = 'purchase'
    ),
    jc AS (
      SELECT sp.event_id, f.value,
             row_number() OVER (PARTITION BY sp.event_id
                                ORDER BY f.ts DESC, f.event_id DESC) AS rn
      FROM sp JOIN ck f ON f.user_id = sp.user_id AND f.ts <= sp.ts
    ),
    jp AS (
      SELECT sp.event_id, f.value,
             row_number() OVER (PARTITION BY sp.event_id
                                ORDER BY f.ts DESC, f.event_id DESC) AS rn
      FROM sp JOIN pu f ON f.user_id = sp.user_id AND f.ts <= sp.ts
    )
    SELECT sp.event_id, sp.user_id,
           c.value AS value_click, p.value AS value_purchase
    FROM sp
    LEFT JOIN (SELECT event_id, value FROM jc WHERE rn = 1) c
      USING (event_id)
    LEFT JOIN (SELECT event_id, value FROM jp WHERE rn = 1) p
      USING (event_id)
    """,
    doc="point-in-time multi-table feature join ("
    "operators/asof.py pit_join — the Feast/Tecton "
    "get_historical_features shape): every 10th event is a training "
    "spine row; each spine row attaches its user's latest click value "
    "and latest purchase value AT OR BEFORE the spine timestamp — no "
    "future leakage by construction, missing features NULL (left "
    "semantics, what the training matrix wants). One single-shuffle "
    "union+window asof pass per feature table, chained — never an "
    "N-way join; (ts, event_id) total order on ties.",
)
def q_pit_features(spark, sf_dir):
    from .operators.asof import pit_join

    e = T(spark, sf_dir, "events")
    spine = e.filter(F.col("event_id") % 10 == 0).select(
        "event_id", "user_id", "ts"
    )
    feats = {
        name: e.filter(F.col("event_type") == name).select(
            "user_id", "ts", "value", "event_id"
        )
        for name in ("click", "purchase")
    }
    return pit_join(
        spine, feats, on=["user_id"], right_order="event_id"
    ).select(
        "event_id", "user_id", "value_click", "value_purchase"
    )


@declare(
    "q_asof_inner_sql",
    """
    SELECT p.event_id, p.user_id, e.value AS value_right
    FROM (
      SELECT event_id, user_id, ts FROM events WHERE event_id % 20 = 0
    ) p
    ASOF JOIN (
      SELECT user_id, ts, value,
             row_number() OVER (
               PARTITION BY user_id, ts ORDER BY event_id DESC
             ) AS rn
      FROM events WHERE event_id % 20 <> 0 QUALIFY rn = 1
    ) e
    ON p.user_id = e.user_id AND p.ts >= e.ts
    """,
    doc="bare ASOF JOIN through the dialect entry with DuckDB's INNER "
    "semantics (sql_ext._rewrite_asof how='inner'): every "
    "20th event probes for its user's latest EARLIER other-event; "
    "probes whose user has none DROP — and the oracle runs DuckDB's "
    "own native ASOF JOIN on the same spelling, certifying join-type "
    "parity directly against the dialect's reference implementation "
    "(q_asof_sql certifies the LEFT form). DuckDB's ASOF picks an "
    "arbitrary row among right rows tied on (key, ts) (no tie-break "
    "syntax), so the oracle's right side is pre-deduped to the "
    "max-event_id row per (user, ts) — the same total order "
    "right_order='event_id' gives the Spark plan; the engine serves "
    "the matched-row test from the payload struct's nullness "
    "(operators/asof.py how='inner').",
)
def q_asof_inner_sql(spark, sf_dir):
    from .sql_ext import sql_with_asof

    e = T(spark, sf_dir, "events")
    e.filter(F.col("event_id") % 20 == 0).select(
        "event_id", "user_id", "ts"
    ).createOrReplaceTempView("_q_ai_probes")
    e.filter(F.col("event_id") % 20 != 0).select(
        "user_id", "ts", "value", "event_id"
    ).createOrReplaceTempView("_q_ai_events")
    return sql_with_asof(
        spark,
        "SELECT p.event_id, p.user_id, value_right "
        "FROM _q_ai_probes AS p ASOF JOIN _q_ai_events AS e "
        "ON p.user_id = e.user_id AND p.ts >= e.ts",
        right_order="event_id",
    )


@declare(
    "q_sql_star_exclude",
    """
    SELECT * EXCLUDE (props)
    FROM (SELECT * EXCLUDE ts FROM events)
    WHERE event_id <= 200
    """,
    doc="DuckDB star-modifier dialect: SELECT * EXCLUDE — both the "
    "parenthesized list and the bare single-column form in one "
    "statement (outer + derived table) — rewritten to Spark's native "
    "* EXCEPT by sql_ext._rewrite_exclude (literal-masked keyword "
    "splice; the bare form gains the parens Spark requires). The "
    "oracle runs the ORIGINAL EXCLUDE spelling natively on DuckDB, so "
    "the pair certifies the rewrite preserves the DuckDB semantics "
    "exactly. Column pruning survives: the excluded columns never "
    "reach the scan's ReadSchema.",
)
def q_sql_star_exclude(spark, sf_dir):
    from .sql_ext import sql as dialect_sql

    T(spark, sf_dir, "events").createOrReplaceTempView("_q_ex_events")
    return dialect_sql(
        spark,
        "SELECT * EXCLUDE (props) "
        "FROM (SELECT * EXCLUDE ts FROM _q_ex_events) "
        "WHERE event_id <= 200",
    )


@declare(
    "q_sql_distinct_on",
    """
    SELECT DISTINCT ON (user_id) user_id, event_id, event_type, value
    FROM events
    ORDER BY user_id, ts DESC, event_id DESC
    """,
    doc="DuckDB/Postgres DISTINCT ON through the dialect entry "
    "(sql_ext._rewrite_distinct_on): latest event per user — the "
    "canonical 'current state' TSDB read in its most popular SQL "
    "spelling — rewritten to the row_number() OVER (PARTITION BY "
    "keys ORDER BY <order list>) = 1 subquery Spark optimizes "
    "(WindowGroupLimit prunes per-group). A missing ORDER BY raises "
    "(the kept row would be arbitrary — irreproducible across "
    "engines); the tiebreak on event_id makes the pick total even on "
    "duplicate truncated-second timestamps, so the oracle (running "
    "the ORIGINAL spelling natively on DuckDB) hash-matches the "
    "selected ROWS, not just the group keys.",
)
def q_sql_distinct_on(spark, sf_dir):
    from .sql_ext import sql as dialect_sql

    T(spark, sf_dir, "events").createOrReplaceTempView("_q_don_events")
    return dialect_sql(
        spark,
        "SELECT DISTINCT ON (user_id) user_id, event_id, event_type, value "
        "FROM _q_don_events "
        "ORDER BY user_id, ts DESC, event_id DESC",
    )


@declare(
    "q_sql_distinct_on_nested",
    """
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sv
    FROM (
      SELECT DISTINCT ON (user_id) user_id, event_type, value
      FROM events
      ORDER BY user_id, ts DESC, event_id DESC
    ) latest
    GROUP BY event_type
    """,
    doc="Nested DISTINCT ON through the dialect entry ("
    "sql_ext._rewrite_distinct_on_nested): "
    "the derived-table block is located deepest-first with the nested-"
    "QUALIFY block finder and rewritten IN PLACE to the row_number() "
    "= 1 form — purely textual, so CTE scope and outer references "
    "survive with no view extraction. The outer aggregate groups the "
    "per-user latest rows; the oracle runs the ORIGINAL nested "
    "spelling natively on DuckDB. Tiebreak on event_id keeps the "
    "per-user pick total; exact-decimal sum keeps the double "
    "order-independent.",
)
def q_sql_distinct_on_nested(spark, sf_dir):
    from .sql_ext import sql as dialect_sql

    T(spark, sf_dir, "events").createOrReplaceTempView("_q_donn_events")
    return dialect_sql(
        spark,
        "SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_users, "
        "CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sv "
        "FROM ("
        "  SELECT DISTINCT ON (user_id) user_id, event_type, value "
        "  FROM _q_donn_events "
        "  ORDER BY user_id, ts DESC, event_id DESC"
        ") latest "
        "GROUP BY event_type",
    )


@declare(
    "q_sql_star_replace",
    """
    SELECT event_id, event_type, user_id,
           CAST(value * 2 AS DOUBLE) AS value
    FROM (
      SELECT event_id, event_type, user_id, value
      FROM events WHERE event_id <= 200
    ) t
    """,
    doc="DuckDB ``SELECT * REPLACE (expr AS col)`` through the "
    "dialect entry (sql_ext._rewrite_star_replace): "
    "rewritten to Spark's ``* EXCEPT (col), expr AS col`` — purely "
    "textual, literal-masked, cast-safe AS parsing; the bare "
    "replace() function never matches. The oracle runs the "
    "equivalent explicit projection (DuckDB's own REPLACE keeps "
    "column position, the rewrite moves the replaced column to the "
    "tail — the differential harness compares by NAME, which is the "
    "documented contract).",
)
def q_sql_star_replace(spark, sf_dir):
    from .sql_ext import sql as dialect_sql

    T(spark, sf_dir, "events").createOrReplaceTempView("_q_rep_events")
    return dialect_sql(
        spark,
        "SELECT * REPLACE (CAST(value * 2 AS DOUBLE) AS value) "
        "FROM (SELECT event_id, event_type, user_id, value "
        "FROM _q_rep_events WHERE event_id <= 200) t",
    )


@declare(
    "q_sql_columns_expr",
    """
    SELECT l_returnflag,
           CAST(SUM(CAST(COLUMNS('^l_(quantity|tax|discount)$')
                         AS DECIMAL(18,2))) AS DOUBLE)
    FROM lineitem
    GROUP BY l_returnflag
    """,
    doc="DuckDB's COLUMNS('regex') star variant through the dialect "
    "entry (sql_ext._rewrite_columns): the select item "
    "expands to one copy per matching column of the FROM table with "
    "the wrapping expression applied to each — semantics pinned "
    "against DuckDB's native behavior (pattern is a SEARCH over "
    "column names, table column order, outputs keep the BARE column "
    "name however deep the wrapper), and the oracle runs the "
    "ORIGINAL spelling natively on DuckDB. Exact-decimal sums keep "
    "the doubles order-independent. Joins expand too "
    "(q_sql_columns_join); subqueries/USING/multi-COLUMNS items "
    "still raise honestly.",
)
def q_sql_columns_expr(spark, sf_dir):
    from .sql_ext import sql as dialect_sql

    T(spark, sf_dir, "lineitem").createOrReplaceTempView(
        "_q_cols_lineitem"
    )
    return dialect_sql(
        spark,
        "SELECT l_returnflag, "
        "CAST(SUM(CAST(COLUMNS('^l_(quantity|tax|discount)$') "
        "AS DECIMAL(18,2))) AS DOUBLE) "
        "FROM _q_cols_lineitem GROUP BY l_returnflag",
    )


@declare(
    "q_sql_columns_join",
    """
    SELECT o_orderpriority,
           CAST(SUM(CAST(
             COLUMNS('^(l_(quantity|extendedprice)|o_totalprice)$')
             AS DECIMAL(18,2))) AS DOUBLE)
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority
    """,
    doc="COLUMNS('regex') over a JOIN ("
    "sql_ext._from_table_list): the expansion now "
    "binds to the CONCATENATED column set of a depth-0 FROM join "
    "list in FROM order — DuckDB's own join-expansion semantics, "
    "pinned by running the ORIGINAL spelling natively on DuckDB as "
    "the oracle. The pattern here matches columns of BOTH sides "
    "(two lineitem measures, one orders measure), so any "
    "binding-order or single-side regression diverges the hash. "
    "Derived tables, USING joins (whose fold would shrink the "
    "expansion set) and NATURAL/SEMI/ANTI joins keep honest raises; "
    "an ambiguous cross-table name match raises instead of emitting "
    "a duplicate bare name.",
)
def q_sql_columns_join(spark, sf_dir):
    from .sql_ext import sql as dialect_sql

    T(spark, sf_dir, "lineitem").createOrReplaceTempView("_q_cj_lineitem")
    T(spark, sf_dir, "orders").createOrReplaceTempView("_q_cj_orders")
    return dialect_sql(
        spark,
        "SELECT o_orderpriority, "
        "CAST(SUM(CAST("
        "COLUMNS('^(l_(quantity|extendedprice)|o_totalprice)$') "
        "AS DECIMAL(18,2))) AS DOUBLE) "
        "FROM _q_cj_lineitem JOIN _q_cj_orders "
        "ON l_orderkey = o_orderkey "
        "GROUP BY o_orderpriority",
    )


@declare(
    "q_sql_pivot",
    """
    PIVOT events ON event_type
    USING min(CAST(round(value * 100) AS BIGINT)) AS mn,
          max(CAST(round(value * 100) AS BIGINT)) AS mx
    GROUP BY user_id
    """,
    doc="DuckDB's PIVOT statement through the dialect entry (sql_ext._maybe_pivot): PIVOT <table> ON <col> USING <agg> "
    "AS <name>[, ...] [GROUP BY <cols>] routes to "
    "groupBy().pivot(col, values).agg(...) with the pivot values "
    "resolved at rewrite time (distinct non-NULL, sorted — DuckDB's "
    "expansion) and output columns renamed <value>_<alias> to "
    "DuckDB's naming. The oracle runs the ORIGINAL statement "
    "natively on DuckDB, so value discovery, implicit NULL-row "
    "drop, grouping and cell aggregation must all line up. "
    "Exact-integer cell values (cents) keep the hash "
    "engine-agnostic. Pinned divergence (documented): an EMPTY cell "
    "under a count aggregate reads 0 in DuckDB, NULL in Spark's "
    "pivot — this query's min/max cells agree on NULL.",
)
def q_sql_pivot(spark, sf_dir):
    from .sql_ext import sql as dialect_sql

    T(spark, sf_dir, "events").createOrReplaceTempView("events")
    return dialect_sql(
        spark,
        "PIVOT events ON event_type "
        "USING min(CAST(round(value * 100) AS BIGINT)) AS mn, "
        "max(CAST(round(value * 100) AS BIGINT)) AS mx "
        "GROUP BY user_id",
    )


@declare(
    "q_sql_unpivot",
    """
    WITH l_measures AS (
      SELECT l_orderkey, l_linenumber,
             CAST(round(l_quantity * 100) AS BIGINT) AS l_quantity,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS l_extendedprice,
             CAST(round(l_discount * 100) AS BIGINT) AS l_discount
      FROM lineitem WHERE l_orderkey < 1000
    )
    UNPIVOT l_measures ON l_quantity, l_extendedprice, l_discount
    INTO NAME measure VALUE amount
    """,
    doc="DuckDB's UNPIVOT statement through the dialect entry (sql_ext._maybe_unpivot, the PIVOT verb's inverse): UNPIVOT "
    "<table> ON <cols> [INTO NAME n VALUE v] routes to "
    "DataFrame.unpivot with DuckDB's semantics pinned — id columns "
    "are every unlisted table column in order, default output names "
    "name/value, and NULL unpivoted values DROP (Spark's unpivot "
    "keeps them; the rewrite filters). ON items may be plain "
    "columns or COLUMNS('regex'). The oracle runs the statement "
    "natively on DuckDB (CTE + UNPIVOT); exact-integer cents keep "
    "the melted value column engine-agnostic.",
)
def q_sql_unpivot(spark, sf_dir):
    from .sql_ext import sql as dialect_sql

    cents = lambda c: F.round(F.col(c) * 100).cast("bigint").alias(c)  # noqa: E731
    T(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 1000).select(
        "l_orderkey", "l_linenumber",
        cents("l_quantity"), cents("l_extendedprice"), cents("l_discount"),
    ).createOrReplaceTempView("l_measures")
    return dialect_sql(
        spark,
        "UNPIVOT l_measures ON l_quantity, l_extendedprice, l_discount "
        "INTO NAME measure VALUE amount",
    )


@declare(
    "q_sql_group_by_all",
    """
    SELECT event_type, user_id % 10 AS cohort,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sv
    FROM events GROUP BY ALL
    """,
    doc="DuckDB/modern-SQL GROUP BY ALL through the same dialect entry "
    "(sql_ext.sql): Spark 4 parses it natively, so the statement "
    "passes through unchanged — the query certifies the dialect entry "
    "does not mangle pass-through statements AND that both engines "
    "infer the same grouping keys (all non-aggregate select items, "
    "including the computed cohort). Sums ride exact decimal so the "
    "double result is order-independent.",
)
def q_sql_group_by_all(spark, sf_dir):
    from .sql_ext import sql as dialect_sql

    T(spark, sf_dir, "events").createOrReplaceTempView("_q_gba_events")
    return dialect_sql(
        spark,
        "SELECT event_type, user_id % 10 AS cohort, "
        "CAST(COUNT(*) AS BIGINT) AS n, "
        "CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sv "
        "FROM _q_gba_events GROUP BY ALL",
    )


@declare(
    "q_interval_overlap_join",
    """
    SELECT w.window_id, CAST(COUNT(e.event_id) AS BIGINT) AS n_events,
           CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS n_users
    FROM (VALUES
            (1, TIMESTAMP '2024-01-03 00:00:00', TIMESTAMP '2024-01-05 00:00:00'),
            (2, TIMESTAMP '2024-01-10 12:00:00', TIMESTAMP '2024-01-11 00:00:00'),
            (3, TIMESTAMP '2024-01-20 00:00:00', TIMESTAMP '2024-01-27 00:00:00')
         ) AS w(window_id, w_start, w_end)
    LEFT JOIN events e ON e.ts >= w.w_start AND e.ts < w.w_end
    GROUP BY w.window_id
    """,
    doc="interval/overlap join: maintenance windows × event stream",
)
def q_interval_overlap_join(spark, sf_dir):
    e = T(spark, sf_dir, "events")
    w = spark.createDataFrame(
        [
            (1, "2024-01-03 00:00:00", "2024-01-05 00:00:00"),
            (2, "2024-01-10 12:00:00", "2024-01-11 00:00:00"),
            (3, "2024-01-20 00:00:00", "2024-01-27 00:00:00"),
        ],
        "window_id int, w_start string, w_end string",
    ).select(
        "window_id",
        F.to_timestamp("w_start").alias("w_start"),
        F.to_timestamp("w_end").alias("w_end"),
    )
    return (
        F.broadcast(w)
        .join(e, (e["ts"] >= w["w_start"]) & (e["ts"] < w["w_end"]), "left")
        .groupBy("window_id")
        .agg(
            F.count("event_id").alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
        )
    )


# ======================================================================
# Window functions
# ======================================================================

@declare(
    "q_window_topk_per_group",
    """
    SELECT o_custkey, o_orderkey, o_totalprice, CAST(rn AS INTEGER) AS rn
    FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM orders
    ) t WHERE rn <= 3
    """,
    doc="per-group top-k via ranking window",
)
def q_window_topk_per_group(spark, sf_dir):
    o = T(spark, sf_dir, "orders")
    return topk_per_group(
        o.select("o_custkey", "o_orderkey", "o_totalprice"),
        keys=["o_custkey"],
        order=[F.col("o_totalprice").desc(), F.col("o_orderkey")],
        k=3,
    ).withColumn("rn", F.col("rn").cast("int"))


@declare(
    "q_window_lag_lead",
    """
    SELECT event_id, user_id, value,
           lag(value) OVER w AS prev_value,
           lead(value) OVER w AS next_value,
           ROUND(value - COALESCE(lag(value) OVER w, value), 6) AS delta
    FROM events
    WHERE user_id < 30
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
    doc="lag/lead analytics per series in event order",
)
def q_window_lag_lead(spark, sf_dir):
    e = T(spark, sf_dir, "events").filter(F.col("user_id") < 30)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return e.select(
        "event_id",
        "user_id",
        "value",
        F.lag("value").over(w).alias("prev_value"),
        F.lead("value").over(w).alias("next_value"),
        F.round(
            F.col("value") - F.coalesce(F.lag("value").over(w), F.col("value")), 6
        ).alias("delta"),
    )


@declare(
    "q_window_cumulative",
    """
    SELECT event_id, user_id,
           ROUND(SUM(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6) AS cum_value,
           CAST(COUNT(*) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_n
    FROM events
    WHERE user_id < 30
    """,
    doc="cumulative aggregates per series",
)
def q_window_cumulative(spark, sf_dir):
    e = T(spark, sf_dir, "events").filter(F.col("user_id") < 30)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return e.select(
        "event_id",
        "user_id",
        F.round(F.sum("value").over(w), 6).alias("cum_value"),
        F.count("*").over(w).alias("cum_n"),
    )


@declare(
    "q_window_rank_ntile",
    """
    SELECT p_brand, p_partkey, p_retailprice,
           CAST(rank() OVER w AS INTEGER) AS rnk,
           CAST(dense_rank() OVER w AS INTEGER) AS drnk,
           CAST(ntile(4) OVER w AS INTEGER) AS quartile
    FROM part
    WINDOW w AS (PARTITION BY p_brand ORDER BY p_retailprice DESC, p_partkey)
    """,
    doc="rank / dense_rank / ntile per brand",
)
def q_window_rank_ntile(spark, sf_dir):
    p = T(spark, sf_dir, "part")
    w = Window.partitionBy("p_brand").orderBy(
        F.col("p_retailprice").desc(), F.col("p_partkey")
    )
    return p.select(
        "p_brand",
        "p_partkey",
        "p_retailprice",
        F.rank().over(w).cast("int").alias("rnk"),
        F.dense_rank().over(w).cast("int").alias("drnk"),
        F.ntile(4).over(w).cast("int").alias("quartile"),
    )


@declare(
    "q_window_rolling_time",
    """
    SELECT event_id, user_id,
           ROUND(AVG(value) OVER (PARTITION BY user_id ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
                                  RANGE BETWEEN 86400 PRECEDING AND CURRENT ROW), 6) AS rolling_avg_1d,
           CAST(COUNT(*) OVER (PARTITION BY user_id ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
                               RANGE BETWEEN 86400 PRECEDING AND CURRENT ROW) AS BIGINT) AS rolling_n_1d
    FROM events
    WHERE user_id < 20
    """,
    doc="event-time rolling window (RANGE frame over epoch seconds)",
)
def q_window_rolling_time(spark, sf_dir):
    e = T(spark, sf_dir, "events").filter(F.col("user_id") < 20)
    epoch = F.col("ts").cast("long")
    w = Window.partitionBy("user_id").orderBy(epoch).rangeBetween(-86400, 0)
    return e.select(
        "event_id",
        "user_id",
        F.round(F.avg("value").over(w), 6).alias("rolling_avg_1d"),
        F.count("*").over(w).alias("rolling_n_1d"),
    )


@declare(
    "q_window_first_last",
    """
    SELECT user_id,
           MIN(first_v) AS first_value_overall,
           MIN(last_v) AS last_value_overall
    FROM (
      SELECT user_id,
             first_value(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS first_v,
             last_value(value)  OVER (PARTITION BY user_id ORDER BY ts, event_id
                                      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_v
      FROM events
    ) t GROUP BY user_id
    """,
    doc="first/last value per series over full frame",
)
def q_window_first_last(spark, sf_dir):
    e = T(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return (
        e.select(
            "user_id",
            F.first("value").over(w).alias("first_v"),
            F.last("value").over(w).alias("last_v"),
        )
        .groupBy("user_id")
        .agg(
            F.min("first_v").alias("first_value_overall"),
            F.min("last_v").alias("last_value_overall"),
        )
    )


# ======================================================================
# Set operations
# ======================================================================

@declare(
    "q_union_all",
    """
    SELECT c_custkey AS custkey, 'builder' AS src FROM customer WHERE c_mktsegment = 'BUILDING'
    UNION ALL
    SELECT c_custkey AS custkey, 'machine' AS src FROM customer WHERE c_mktsegment = 'MACHINERY'
    """,
    doc="union all preserving duplicates",
)
def q_union_all(spark, sf_dir):
    c = T(spark, sf_dir, "customer")
    a = c.filter(F.col("c_mktsegment") == "BUILDING").select(
        F.col("c_custkey").alias("custkey"), F.lit("builder").alias("src")
    )
    b = c.filter(F.col("c_mktsegment") == "MACHINERY").select(
        F.col("c_custkey").alias("custkey"), F.lit("machine").alias("src")
    )
    return a.unionByName(b)


@declare(
    "q_union_distinct",
    """
    SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'O'
    UNION
    SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F'
    """,
    doc="union distinct",
)
def q_union_distinct(spark, sf_dir):
    o = T(spark, sf_dir, "orders")
    a = o.filter(F.col("o_orderstatus") == "O").select(
        F.col("o_custkey").alias("custkey")
    )
    b = o.filter(F.col("o_orderstatus") == "F").select(
        F.col("o_custkey").alias("custkey")
    )
    return a.union(b).distinct()


@declare(
    "q_intersect",
    """
    SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'O'
    INTERSECT
    SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F'
    """,
    doc="intersect (distinct)",
)
def q_intersect(spark, sf_dir):
    o = T(spark, sf_dir, "orders")
    a = o.filter(F.col("o_orderstatus") == "O").select(
        F.col("o_custkey").alias("custkey")
    )
    b = o.filter(F.col("o_orderstatus") == "F").select(
        F.col("o_custkey").alias("custkey")
    )
    return a.intersect(b)


@declare(
    "q_except",
    """
    SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'O'
    EXCEPT
    SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F'
    """,
    doc="except (distinct)",
)
def q_except(spark, sf_dir):
    o = T(spark, sf_dir, "orders")
    a = o.filter(F.col("o_orderstatus") == "O").select(
        F.col("o_custkey").alias("custkey")
    )
    b = o.filter(F.col("o_orderstatus") == "F").select(
        F.col("o_custkey").alias("custkey")
    )
    return a.subtract(b)


@declare(
    "q_intersect_all",
    """
    SELECT o_custkey AS custkey FROM orders WHERE o_orderpriority = '1-URGENT'
    INTERSECT ALL
    SELECT o_custkey AS custkey FROM orders WHERE o_orderpriority = '2-HIGH'
    """,
    doc="intersect all (bag semantics)",
)
def q_intersect_all(spark, sf_dir):
    o = T(spark, sf_dir, "orders")
    a = o.filter(F.col("o_orderpriority") == "1-URGENT").select(
        F.col("o_custkey").alias("custkey")
    )
    b = o.filter(F.col("o_orderpriority") == "2-HIGH").select(
        F.col("o_custkey").alias("custkey")
    )
    return a.intersectAll(b)


# ======================================================================
# Sort / limit / top-k
# ======================================================================

@declare(
    "q_topk_global",
    """
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 10
    """,
    doc="global top-k (Catalyst → TakeOrderedAndProject, no full sort)",
)
def q_topk_global(spark, sf_dir):
    return topk(
        T(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_totalprice"),
        order=[F.col("o_totalprice").desc(), F.col("o_orderkey")],
        k=10,
    )


# ======================================================================
# Scalar function families
# ======================================================================

@declare(
    "q_scalar_string",
    """
    SELECT p_partkey,
           upper(p_brand) AS brand_up,
           lower(p_type) AS type_lo,
           substring(p_name, 1, 10) AS name10,
           CAST(length(p_name) AS INTEGER) AS name_len,
           trim(concat(p_brand, ' ', p_type)) AS brand_type,
           lpad(CAST(p_size AS VARCHAR), 4, '0') AS size_pad,
           regexp_extract(p_name, '([a-z]+)', 1) AS first_word,
           regexp_replace(p_name, '[aeiou]', '_', 'g') AS devowel,
           CAST(length(p_name) - length(replace(p_name, ' ', '')) + 1 AS INTEGER) AS n_words
    FROM part WHERE p_partkey <= 500
    """,
    doc="string function family (concat/substr/trim/pad/regexp/replace)",
)
def q_scalar_string(spark, sf_dir):
    p = T(spark, sf_dir, "part").filter(F.col("p_partkey") <= 500)
    return p.select(
        "p_partkey",
        F.upper("p_brand").alias("brand_up"),
        F.lower("p_type").alias("type_lo"),
        F.substring("p_name", 1, 10).alias("name10"),
        F.length("p_name").cast("int").alias("name_len"),
        F.trim(F.concat(F.col("p_brand"), F.lit(" "), F.col("p_type"))).alias(
            "brand_type"
        ),
        F.lpad(F.col("p_size").cast("string"), 4, "0").alias("size_pad"),
        F.regexp_extract("p_name", "([a-z]+)", 1).alias("first_word"),
        F.regexp_replace("p_name", "[aeiou]", "_").alias("devowel"),
        (
            F.length("p_name")
            - F.length(F.regexp_replace("p_name", " ", ""))
            + 1
        )
        .cast("int")
        .alias("n_words"),
    )


@declare(
    "q_scalar_datetime",
    """
    SELECT o_orderkey,
           CAST(year(o_orderdate) AS INTEGER) AS yr,
           CAST(month(o_orderdate) AS INTEGER) AS mo,
           CAST(day(o_orderdate) AS INTEGER) AS dom,
           date_trunc('month', o_orderdate) AS month_start,
           CAST(date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS INTEGER) AS days_since_epoch_start,
           CAST(floor(epoch(o_orderdate)) AS BIGINT) AS unix_ts,
           CAST(o_orderdate + INTERVAL 30 DAY AS TIMESTAMP) AS due_date
    FROM orders WHERE o_orderkey <= 3000
    """,
    doc="date/time family (extract, trunc, diff, arithmetic, epoch)",
)
def q_scalar_datetime(spark, sf_dir):
    o = T(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 3000)
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").cast("int").alias("yr"),
        F.month("o_orderdate").cast("int").alias("mo"),
        F.dayofmonth("o_orderdate").cast("int").alias("dom"),
        F.date_trunc("month", "o_orderdate").alias("month_start"),
        F.datediff(F.col("o_orderdate").cast("date"), F.lit("1995-01-01").cast("date"))
        .cast("int")
        .alias("days_since_epoch_start"),
        F.unix_timestamp("o_orderdate").alias("unix_ts"),
        (F.col("o_orderdate") + F.expr("INTERVAL 30 DAY")).alias("due_date"),
    )


@declare(
    "q_scalar_math",
    """
    SELECT l_orderkey, l_linenumber,
           round(l_extendedprice, 0) AS price_round,
           floor(l_extendedprice) AS price_floor,
           ceil(l_extendedprice) AS price_ceil,
           abs(l_discount - 0.05) AS disc_dev,
           round(sqrt(l_extendedprice), 6) AS price_sqrt,
           round(l_quantity * l_quantity, 6) AS qty_sq,
           round(ln(l_extendedprice), 6) AS price_ln,
           round(exp(l_discount), 6) AS disc_exp,
           CAST(sign(l_discount - 0.05) AS DOUBLE) AS disc_sign,
           greatest(l_quantity, 25.0) AS qty_hi,
           least(l_quantity, 25.0) AS qty_lo
    FROM lineitem WHERE l_orderkey <= 1000
    """,
    doc="math family (round/floor/ceil/abs/sqrt/pow/ln/exp/sign/greatest)",
)
def q_scalar_math(spark, sf_dir):
    li = T(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") <= 1000)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.round("l_extendedprice", 0).alias("price_round"),
        F.floor("l_extendedprice").cast("double").alias("price_floor"),
        F.ceil("l_extendedprice").cast("double").alias("price_ceil"),
        F.abs(F.col("l_discount") - 0.05).alias("disc_dev"),
        F.round(F.sqrt("l_extendedprice"), 6).alias("price_sqrt"),
        F.round(F.col("l_quantity") * F.col("l_quantity"), 6).alias("qty_sq"),
        F.round(F.log("l_extendedprice"), 6).alias("price_ln"),
        F.round(F.exp("l_discount"), 6).alias("disc_exp"),
        F.signum(F.col("l_discount") - 0.05).alias("disc_sign"),
        F.greatest(F.col("l_quantity"), F.lit(25.0)).alias("qty_hi"),
        F.least(F.col("l_quantity"), F.lit(25.0)).alias("qty_lo"),
    )


@declare(
    "q_scalar_conditional",
    """
    SELECT o_orderkey,
           CASE WHEN o_totalprice > 300000 THEN 'jumbo'
                WHEN o_totalprice > 150000 THEN 'large'
                ELSE 'standard' END AS size_class,
           COALESCE(NULLIF(o_orderstatus, 'O'), 'OPEN') AS status_label,
           NULLIF(o_orderpriority, '4-NOT SPECIFIED') AS real_priority,
           CASE WHEN o_orderstatus = 'F' THEN o_totalprice ELSE 0.0 END AS finished_value
    FROM orders WHERE o_orderkey <= 5000
    """,
    doc="conditional/null family (CASE, coalesce, nullif)",
)
def q_scalar_conditional(spark, sf_dir):
    o = T(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 5000)
    return o.select(
        "o_orderkey",
        F.when(F.col("o_totalprice") > 300000, "jumbo")
        .when(F.col("o_totalprice") > 150000, "large")
        .otherwise("standard")
        .alias("size_class"),
        F.coalesce(F.nullif(F.col("o_orderstatus"), F.lit("O")), F.lit("OPEN")).alias(
            "status_label"
        ),
        F.nullif(F.col("o_orderpriority"), F.lit("4-NOT SPECIFIED")).alias(
            "real_priority"
        ),
        F.when(F.col("o_orderstatus") == "F", F.col("o_totalprice"))
        .otherwise(0.0)
        .alias("finished_value"),
    )


@declare(
    "q_scalar_json",
    """
    SELECT event_id,
           json_extract_string(props, '$.k') AS k_str,
           CAST(json_extract_string(props, '$.k') AS INTEGER) AS k_int
    FROM events WHERE event_id < 2000
    """,
    doc="JSON extraction (HTTP body handling analog, main.rs:329)",
)
def q_scalar_json(spark, sf_dir):
    e = T(spark, sf_dir, "events").filter(F.col("event_id") < 2000)
    return e.select(
        "event_id",
        F.get_json_object("props", "$.k").alias("k_str"),
        F.get_json_object("props", "$.k").cast("int").alias("k_int"),
    )


@declare(
    "q_array_ops",
    """
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens,
           CAST(len(list_distinct(string_split(text, ' '))) AS INTEGER) AS n_distinct,
           list_contains(string_split(text, ' '), 'spark') AS has_spark,
           array_to_string(list_sort(list_distinct(string_split(text, ' ')))[1:3], ',') AS first3
    FROM documents WHERE doc_id < 200
    """,
    doc="array family (split/size/distinct/contains/sort/slice)",
)
def q_array_ops(spark, sf_dir):
    d = T(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    toks = F.split(F.col("text"), " ")
    return d.select(
        "doc_id",
        F.size(toks).cast("int").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("int").alias("n_distinct"),
        F.array_contains(toks, "spark").alias("has_spark"),
        F.concat_ws(",", F.slice(F.sort_array(F.array_distinct(toks)), 1, 3)).alias(
            "first3"
        ),
    )


@declare(
    "q_hash_functions",
    """
    SELECT doc_id,
           md5(text) AS text_md5,
           sha256(text) AS text_sha256
    FROM documents WHERE doc_id < 100
    """,
    doc="hash family (md5 / sha2-256; xxhash64 is Spark-only → rows-only ops)",
)
def q_hash_functions(spark, sf_dir):
    d = T(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    return d.select(
        "doc_id",
        F.md5("text").alias("text_md5"),
        F.sha2(F.col("text"), 256).alias("text_sha256"),
    )


# ======================================================================
# Time-series ops (batch forms; streaming variants in streaming/)
# ======================================================================

@declare(
    "q_tumbling_window",
    """
    SELECT event_type,
           CAST(to_timestamp(CAST(floor(epoch(ts) / 300) * 300 AS BIGINT)) AS TIMESTAMP) AS window_start,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM events
    WHERE ts < TIMESTAMP '2024-01-03 00:00:00'
    GROUP BY event_type, floor(epoch(ts) / 300)
    """,
    doc="5-minute tumbling window aggregation (window() ≡ epoch bucketing)",
)
def q_tumbling_window(spark, sf_dir):
    e = T(spark, sf_dir, "events").filter(F.col("ts") < "2024-01-03 00:00:00")
    return (
        e.groupBy("event_type", F.window("ts", "5 minutes").alias("w"))
        .agg(
            F.count("*").alias("n"),
            dsum(F.col("value")).alias("sum_value"),
        )
        .select(
            "event_type",
            F.col("w.start").alias("window_start"),
            "n",
            "sum_value",
        )
    )


@declare(
    "q_resample_1d",
    """
    SELECT user_id, date_trunc('day', ts) AS day,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*), 6) AS avg_value,
           MIN(value) AS min_value, MAX(value) AS max_value
    FROM events WHERE user_id < 10
    GROUP BY user_id, date_trunc('day', ts)
    """,
    doc="daily resample per series (downsampling)",
)
def q_resample_1d(spark, sf_dir):
    e = T(spark, sf_dir, "events").filter(F.col("user_id") < 10)
    return (
        e.groupBy("user_id", F.date_trunc("day", "ts").alias("day"))
        .agg(
            F.count("*").alias("n"),
            F.round(dsum(F.col("value")) / F.count("*"), 6).alias("avg_value"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
        )
    )


@declare(
    "q_locf_gapfill",
    """
    WITH obs AS (
      SELECT user_id, date_trunc('hour', ts) AS hr, MAX(value) AS v
      FROM events WHERE user_id < 5 AND ts < TIMESTAMP '2024-01-08 00:00:00'
      GROUP BY user_id, date_trunc('hour', ts)
    ),
    bounds AS (
      SELECT user_id, MIN(hr) AS lo, MAX(hr) AS hi FROM obs GROUP BY user_id
    ),
    spine AS (
      SELECT b.user_id, unnest(generate_series(b.lo, b.hi, INTERVAL 1 HOUR)) AS hr
      FROM bounds b
    )
    SELECT s.user_id, s.hr,
           last_value(o.v IGNORE NULLS) OVER (PARTITION BY s.user_id ORDER BY s.hr
                                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_filled
    FROM spine s LEFT JOIN obs o ON o.user_id = s.user_id AND o.hr = s.hr
    """,
    doc="LOCF gap-fill on an hourly generated spine (operators/resample.py)",
)
def q_locf_gapfill(spark, sf_dir):
    from .operators.resample import locf_fill

    e = T(spark, sf_dir, "events").filter(
        (F.col("user_id") < 5) & (F.col("ts") < "2024-01-08 00:00:00")
    )
    obs = e.groupBy("user_id", F.date_trunc("hour", "ts").alias("hr")).agg(
        F.max("value").alias("v")
    )
    filled = locf_fill(
        obs, keys=["user_id"], ts="hr", value_cols=["v"], step="1 hour"
    )
    return filled.select("user_id", "hr", F.col("v").alias("v_filled"))


@declare(
    "q_gaps_islands_runs",
    """
    WITH marked AS (
      SELECT user_id, ts, event_id, value,
             CASE WHEN value > 20 THEN 1 ELSE 0 END AS is_hot,
             row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
             SUM(CASE WHEN value > 20 THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS hot_cum
    FROM events
    )
    SELECT user_id, CAST(rn - hot_cum AS BIGINT) AS grp,
           CAST(COUNT(*) AS BIGINT) AS run_length,
           MIN(ts) AS run_start, MAX(ts) AS run_end
    FROM marked WHERE is_hot = 1
    GROUP BY user_id, rn - hot_cum
    HAVING COUNT(*) >= 3
    """,
    doc="gaps-and-islands: runs of ≥3 consecutive over-threshold readings "
    "(streaming/fdd.py consecutive_faults)",
)
def q_gaps_islands_runs(spark, sf_dir):
    e = T(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wcum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    marked = e.withColumn("is_hot", (F.col("value") > 20).cast("int")).withColumn(
        "grp",
        (F.row_number().over(w) - F.sum("is_hot").over(wcum)).cast("long"),
    )
    return (
        marked.filter(F.col("is_hot") == 1)
        .groupBy("user_id", "grp")
        .agg(
            F.count("*").alias("run_length"),
            F.min("ts").alias("run_start"),
            F.max("ts").alias("run_end"),
        )
        .filter(F.col("run_length") >= 3)
    )


# ======================================================================
# LLM-data-pipeline: dedup
# ======================================================================

@declare(
    "q_dedup_exact",
    """
    SELECT md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fp,
           CAST(MIN(doc_id) AS BIGINT) AS keep_doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_copies
    FROM documents
    GROUP BY 1
    """,
    doc="exact dedup via normalized content hash (keep-first)",
)
def q_dedup_exact(spark, sf_dir):
    d = T(spark, sf_dir, "documents")
    return (
        d.withColumn("fp", content_hash(F.col("text")))
        .groupBy("fp")
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count("*").alias("n_copies"),
        )
    )


@declare(
    "q_ngram_jaccard",
    """
    WITH toks AS (
      SELECT doc_id, list_filter(string_split(lower(text), ' '), t -> len(t) > 0) AS ws
      FROM documents
    ),
    grams AS (
      SELECT DISTINCT doc_id, gram FROM (
        SELECT doc_id,
               array_to_string(ws[i:i+2], ' ') AS gram
        FROM toks, (SELECT unnest(generate_series(1, 4000)) AS i) idx
        WHERE i <= greatest(len(ws) - 2, 1)
      )
    ),
    sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM grams GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(COUNT(*) AS BIGINT) AS i
      FROM grams a JOIN grams b ON a.gram = b.gram AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT id_a, id_b,
           ROUND(CAST(i AS DOUBLE) / (sa.n + sb.n - i), 6) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.35
    """,
    doc="exact n-gram Jaccard near-dup pairs (inverted-index join)",
)
def q_ngram_jaccard(spark, sf_dir):
    d = T(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(d, "doc_id", "text", n=3, threshold=0.35)
    return pairs.select(
        "id_a", "id_b", F.round(F.col("jaccard"), 6).alias("jaccard")
    )


@declare(
    "q_minhash_pairs",
    None,
    doc="MinHash+LSH near-dup candidates (xxhash64 — no SQL oracle; "
    "validated against q_ngram_jaccard in tests)",
)
def q_minhash_pairs(spark, sf_dir):
    d = T(spark, sf_dir, "documents")
    return minhash_dedup_pairs(
        d, "doc_id", "text", shingle_k=3, num_hashes=128, bands=32, threshold=0.35
    )


@declare(
    "q_simhash_pairs",
    None,
    doc="SimHash near-dup candidates (xxhash64 — no SQL oracle)",
)
def q_simhash_pairs(spark, sf_dir):
    d = T(spark, sf_dir, "documents")
    return simhash_pairs(d, "doc_id", "text", max_hamming=8, bands=4)


# ======================================================================
# LLM-data-pipeline: text analysis
# ======================================================================

@declare(
    "q_token_stats",
    """
    WITH t AS (
      SELECT doc_id, lang, n_chars,
             list_filter(string_split(lower(text), ' '), x -> len(x) > 0) AS ws
      FROM documents
    )
    SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars,
           CAST(len(ws) AS INTEGER) AS n_tokens,
           CAST(len(list_distinct(ws)) AS INTEGER) AS n_unique,
           ROUND(list_aggregate(list_transform(ws, x -> CAST(len(x) AS DOUBLE)), 'sum') / len(ws), 6) AS avg_token_len
    FROM t
    """,
    doc="token counting + lexical stats per document",
)
def q_token_stats(spark, sf_dir):
    d = T(spark, sf_dir, "documents")
    toks = token_array(F.col("text"))
    return d.select(
        "doc_id",
        "lang",
        F.col("n_chars").cast("long").alias("n_chars"),
        F.size(toks).cast("int").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("int").alias("n_unique"),
        F.round(
            F.aggregate(
                F.transform(toks, lambda t: F.length(t).cast("double")),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            / F.size(toks),
            6,
        ).alias("avg_token_len"),
    )


@declare(
    "q_quality_score",
    """
    WITH t AS (
      SELECT doc_id, text,
             CAST(length(text) AS DOUBLE) AS nc,
             list_filter(string_split(lower(text), ' '), x -> len(x) > 0) AS ws
      FROM documents
    )
    SELECT doc_id,
           ROUND((least(1.0, nc / 200.0)
                + (CASE WHEN len(ws) > 0
                        AND list_aggregate(list_transform(ws, x -> CAST(len(x) AS DOUBLE)), 'sum') / len(ws) BETWEEN 3 AND 12
                        THEN 1.0 ELSE 0.0 END)
                + (CASE WHEN nc > 0 THEN length(regexp_replace(text, '[^A-Za-z]', '', 'g')) / nc ELSE 0.0 END)
               ) / 3.0, 6) AS quality
    FROM t
    """,
    doc="document quality heuristic (length/token/alpha ratios)",
)
def q_quality_score(spark, sf_dir):
    d = T(spark, sf_dir, "documents")
    return d.select(
        "doc_id", F.round(quality_score(F.col("text")), 6).alias("quality")
    )


@declare(
    "q_langid",
    """
    WITH t AS (
      SELECT doc_id, lang AS lang_true,
             list_filter(string_split(lower(text), ' '), x -> len(x) > 0) AS ws
      FROM documents
    ),
    r AS (
      SELECT doc_id, lang_true, len(ws) AS n,
        CAST(len(list_filter(ws, x -> list_contains(['the','a','and','of','to','in','is','that','for','it'], x))) AS DOUBLE) / len(ws) AS r_en,
        CAST(len(list_filter(ws, x -> list_contains(['le','la','et','de','un','une','est','que','pour','dans'], x))) AS DOUBLE) / len(ws) AS r_fr,
        CAST(len(list_filter(ws, x -> list_contains(['der','die','das','und','ist','von','zu','mit','den','ein'], x))) AS DOUBLE) / len(ws) AS r_de,
        CAST(len(list_filter(ws, x -> list_contains(['el','la','y','de','que','en','un','una','es','por'], x))) AS DOUBLE) / len(ws) AS r_es,
        CAST(len(list_filter(ws, x -> list_contains(['的','了','是','在','我','有','和','就','不','人'], x))) AS DOUBLE) / len(ws) AS r_zh
      FROM t WHERE len(ws) > 0
    )
    SELECT doc_id, lang_true,
           CASE WHEN greatest(r_en, r_fr, r_de, r_es, r_zh) <= 0 THEN 'und'
                WHEN r_en >= greatest(r_fr, r_de, r_es, r_zh) THEN 'en'
                WHEN r_fr >= greatest(r_de, r_es, r_zh) THEN 'fr'
                WHEN r_de >= greatest(r_es, r_zh) THEN 'de'
                WHEN r_es >= r_zh THEN 'es'
                ELSE 'zh' END AS lang_pred
    FROM r
    """,
    doc="stopword-ratio language ID heuristic",
)
def q_langid(spark, sf_dir):
    d = T(spark, sf_dir, "documents")
    toks = token_array(F.col("text"))
    return (
        d.filter(F.size(toks) > 0)
        .select(
            "doc_id",
            F.col("lang").alias("lang_true"),
            detect_language(F.col("text")).alias("lang_pred"),
        )
    )


def _langid_oracle():
    from .operators.langid import langid_oracle_sql

    return langid_oracle_sql()


@declare(
    "q_language_id",
    _langid_oracle(),
    doc="Char-trigram language identification ("
    "operators/langid.py, Cavnar & Trenkle 1994): "
    "per-doc integer trigram scores against pinned per-language "
    "profiles derived from pinned common-word seeds; argmax with "
    "lang-ascending tie-break, 'und' when no profile trigram occurs. "
    "EXACT integer arithmetic end-to-end, so the DuckDB oracle — "
    "rendered from the SAME profile constants by langid_oracle_sql() "
    "— recomputes it verbatim and the driver hash-matches. Scale: "
    "O(chars) trigram explode, broadcast profile join, two "
    "map-side-combining hash aggs, struct-max argmax (no window). "
    "Crafted multilingual fixtures pinned in tests/test_langid.py; "
    "wired as opt-in corpus-pipeline stage 0 (pipelines.py "
    "langid_keep, default off).",
)
def q_language_id(spark, sf_dir):
    from .operators.langid import language_id

    return language_id(T(spark, sf_dir, "documents"))


# ======================================================================
# LLM-data-pipeline: similarity search
# ======================================================================

@declare(
    "q_similarity_bruteforce",
    """
    WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 5),
    scored AS (
      SELECT q.query_id, c.vec_id,
             list_aggregate(list_transform(list_zip(c.embedding, q.qv),
                            p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), 'sum')
             / (sqrt(list_aggregate(list_transform(c.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))
              * sqrt(list_aggregate(list_transform(q.qv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))) AS cs
      FROM embeddings c, q
    )
    SELECT query_id, vec_id, ROUND(cs, 6) AS cos_sim, CAST(rank
      AS INTEGER) AS rank
    FROM (
      SELECT query_id, vec_id, cs,
             row_number() OVER (PARTITION BY query_id ORDER BY cs DESC, vec_id) AS rank
      FROM scored
    ) WHERE rank <= 10
    """,
    doc="exact brute-force cosine top-k (correctness baseline for ANN)",
)
def q_similarity_bruteforce(spark, sf_dir):
    emb = T(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = cosine_topk(emb, q, k=10, corpus_id="vec_id", corpus_vec="embedding",
                      query_id="query_id", query_vec="embedding")
    return out.select(
        "query_id",
        "vec_id",
        F.round(F.col("cos_sim"), 6).alias("cos_sim"),
        F.col("rank").cast("int").alias("rank"),
    )


@declare(
    "q_similarity_lsh",
    None,
    doc="LSH-bucketed approximate cosine top-k (scale path; recall "
    "validated against q_similarity_bruteforce in tests)",
)
def q_similarity_lsh(spark, sf_dir):
    emb = T(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return lsh_cosine_topk(emb, q, k=10, dim=64, n_planes=4, n_tables=16)


@declare(
    "q_embedding_quantization",
    """
    WITH s AS (
      SELECT vec_id,
             list_aggregate(
               list_transform(embedding, x -> abs(CAST(x AS DOUBLE))),
               'max'
             ) / 127.0 AS scale
      FROM embeddings
    ),
    q AS (
      SELECT e.vec_id, s.scale,
             list_transform(
               e.embedding,
               x -> CAST(CASE WHEN s.scale > 0
                              THEN round(CAST(x AS DOUBLE) / s.scale)
                              ELSE 0 END AS SMALLINT)
             ) AS qv
      FROM embeddings e JOIN s USING (vec_id)
    )
    SELECT vec_id, ROUND(scale, 6) AS scale,
           CAST(len(qv) AS BIGINT) AS n_dims,
           CAST(list_aggregate(qv, 'sum') AS BIGINT) AS sum_q,
           md5(array_to_string(qv, ',')) AS q_md5
    FROM q
    """,
    doc="int8 symmetric scalar quantization of the embedding store "
    "(functions/vectors.py quantize_symmetric) — the 4x "
    "byte-cut a 100 TB vector corpus takes before ANN: per-vector "
    "scale = max|x|/127, codes = round(x/scale), zero-vector guarded. "
    "Pure higher-order expressions with the scale BOUND once per row "
    "through a single-element transform (the captured-aggregate "
    "O(d²) trap word_grams documents — avoided by construction). The "
    "oracle md5-hashes the CODE ARRAYS themselves, so both engines "
    "must agree on every int8 code of every vector, not just "
    "summary statistics; round() is half-away-from-zero on both.",
)
def q_embedding_quantization(spark, sf_dir):
    from .functions.vectors import quantize_symmetric

    e = T(spark, sf_dir, "embeddings")
    return e.select(
        "vec_id", quantize_symmetric("embedding").alias("_qz")
    ).select(
        "vec_id",
        F.round("_qz.scale", 6).alias("scale"),
        F.size("_qz.q").cast("bigint").alias("n_dims"),
        F.aggregate(
            "_qz.q", F.lit(0).cast("bigint"),
            lambda a, x: a + x.cast("bigint"),
        ).alias("sum_q"),
        F.md5(
            F.array_join(
                F.transform("_qz.q", lambda x: x.cast("string")), ","
            )
        ).alias("q_md5"),
    )


@declare(
    "q_embedding_knn_classify",
    """
    WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 20),
    scored AS (
      SELECT q.query_id, c.vec_id, c.label,
             list_aggregate(list_transform(list_zip(c.embedding, q.qv),
                            p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), 'sum')
             / (sqrt(list_aggregate(list_transform(c.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))
              * sqrt(list_aggregate(list_transform(q.qv, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))) AS cs
      FROM embeddings c, q
    ),
    nn AS (
      SELECT query_id, vec_id, label
      FROM (
        SELECT query_id, vec_id, label,
               row_number() OVER (PARTITION BY query_id ORDER BY cs DESC, vec_id) AS rank
        FROM scored
      ) WHERE rank <= 6 AND vec_id <> query_id
    ),
    voted AS (
      SELECT query_id, label, CAST(COUNT(*) AS BIGINT) AS votes
      FROM nn GROUP BY query_id, label
    )
    SELECT query_id, label AS pred_label, votes
    FROM (
      SELECT query_id, label, votes,
             row_number() OVER (PARTITION BY query_id ORDER BY votes DESC, label) AS rn
      FROM voted
    ) WHERE rn = 1
    """,
    doc="kNN majority-vote label prediction over embeddings (composite). "
    "Oracle reproduces the exact double-arithmetic cosine (list_zip sum "
    "formula, same as q_similarity_bruteforce) and the identical "
    "(cos DESC, vec_id) / (votes DESC, label) tie-breaks.",
)
def q_embedding_knn_classify(spark, sf_dir):
    emb = T(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    nn = cosine_topk(emb, q, k=6, corpus_id="vec_id")
    nn = nn.filter(F.col("vec_id") != F.col("query_id")).filter(F.col("rank") <= 6)
    labels = emb.select(F.col("vec_id"), F.col("label"))
    voted = (
        nn.join(labels, "vec_id")
        .groupBy("query_id", "label")
        .agg(F.count("*").alias("votes"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("votes").desc(), F.col("label"))
    return (
        voted.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("query_id", F.col("label").alias("pred_label"), "votes")
    )


# ======================================================================
# Multimodal (binary payload plumbing; decode stubbed — no codec libs)
# ======================================================================

@declare(
    "q_multimodal_features",
    """
    SELECT CAST(doc_id AS VARCHAR) AS asset_id,
           'audio/wav' AS mime,
           8000.0 AS sample_rate,
           ROUND((32 + doc_id % 32) / 8000.0, 6) AS duration_s,
           16 AS dim
    FROM documents WHERE doc_id < 50
    """,
    doc="REAL multimodal decode end-to-end: a deterministic 16-bit PCM "
    "WAV is synthesized per doc (distributed mapInPandas, no collect), "
    "then decoded by the pure-stdlib RIFF/WAVE parser inside "
    "extract_features(fake=False). The oracle recomputes the duration "
    "from the synthesis rule — a wrong parser (bad chunk walk, wrong "
    "sample width) yields a different sample count and fails the hash.",
)
def q_multimodal_features(spark, sf_dir):
    import pandas as pd

    from .operators.multimodal import extract_features, make_assets

    d = T(spark, sf_dir, "documents").filter(F.col("doc_id") < 50).select("doc_id")

    def synth(batches):
        import struct

        for pdf in batches:
            payloads = []
            for did in pdf["doc_id"]:
                n = 32 + int(did) % 32
                samples = [
                    ((int(did) * 97 + i * 1024) % 32768) - 16384 for i in range(n)
                ]
                body = struct.pack(f"<{n}h", *samples)
                fmt = struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
                payloads.append(
                    b"RIFF" + struct.pack("<I", 36 + len(body)) + b"WAVE"
                    + b"fmt " + struct.pack("<I", len(fmt)) + fmt
                    + b"data" + struct.pack("<I", len(body)) + body
                )
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    wavs = d.mapInPandas(synth, "doc_id long, payload binary")
    assets = make_assets(wavs, id_col="doc_id", payload_col="payload", mime="audio/wav")
    feats = extract_features(assets, fake=False)
    return feats.select(
        "asset_id",
        "mime",
        F.round(F.element_at("features", 1), 6).alias("sample_rate"),
        F.round(F.element_at("features", 3), 6).alias("duration_s"),
        F.size("features").cast("int").alias("dim"),
    )


@declare(
    "q_multimodal_probe",
    """
    SELECT CAST(doc_id AS VARCHAR) AS asset_id,
           CASE WHEN doc_id % 3 = 0 THEN 'image/jpeg'
                WHEN doc_id % 3 = 1 THEN 'image/bmp'
                ELSE 'video/mp4' END AS mime,
           CAST(CASE WHEN doc_id % 3 = 0 THEN 16 + doc_id % 200
                     WHEN doc_id % 3 = 1 THEN 2 + doc_id % 7
                     ELSE 320 + doc_id % 16 END AS INT) AS width,
           CAST(CASE WHEN doc_id % 3 = 0 THEN 9 + doc_id % 100
                     WHEN doc_id % 3 = 1 THEN 1
                     ELSE 240 + doc_id % 9 END AS INT) AS height,
           CAST(CASE WHEN doc_id % 3 = 2 THEN 500 + doc_id * 10
                     ELSE NULL END AS INT) AS duration_ms
    FROM documents WHERE doc_id < 60
    """,
    doc="REAL header-only metadata probe end-to-end ("
    "operators/multimodal.py probe_asset_meta + decode_jpeg_meta + "
    "decode_mp4_meta): doc_id%3==0 synthesizes a JPEG marker stream "
    "(SOI/APP0/DQT/SOF0/SOS), %3==1 a real encode_bmp 1-row bitmap, "
    "%3==2 a minimal ISO-BMFF box tree (ftyp + moov/mvhd at "
    "timescale 1000 + an AUDIO trak with 0x0 tkhd dims that the "
    "walker must skip + the video trak with 16.16 fixed-point dims) "
    "— all distributed mapInPandas, no collect — then the probe "
    "parses ONLY the headers. The oracle recomputes "
    "width/height/duration_ms from the synthesis rule, so a broken "
    "marker walk (skipping DQT wrong, misreading the big-endian SOF "
    "dims, BMP little-endian confusion, a wrong mvhd/tkhd offset or "
    "a fixed-point shift error) fails the hash.",
)
def q_multimodal_probe(spark, sf_dir):
    import pandas as pd

    from .operators.multimodal import probe_asset_meta

    d = T(spark, sf_dir, "documents").filter(F.col("doc_id") < 60).select(
        "doc_id"
    )

    def synth(batches):
        # absolute import: the closure is unpickled on executors where
        # a relative spelling has no reliable package context
        from rusty_timeseries_db_spark.operators.multimodal import (
            encode_bmp,
        )

        def jpeg(width, height):
            app0 = b"\xff\xe0" + (16).to_bytes(2, "big") + b"JFIF\x00" + bytes(9)
            dqt = b"\xff\xdb" + (67).to_bytes(2, "big") + bytes(65)
            sof_body = (
                bytes([8]) + height.to_bytes(2, "big")
                + width.to_bytes(2, "big") + bytes([3]) + bytes(9)
            )
            sof = b"\xff\xc0" + (2 + len(sof_body)).to_bytes(2, "big") + sof_body
            sos = b"\xff\xda" + (8).to_bytes(2, "big") + bytes(6)
            return b"\xff\xd8" + app0 + dqt + sof + sos + b"\x00" + b"\xff\xd9"

        def box(t, payload):
            return (8 + len(payload)).to_bytes(4, "big") + t + payload

        def mp4(width, height, duration_ms):
            ftyp = box(b"ftyp", b"isom" + bytes(4) + b"isomiso2")
            mvhd = box(b"mvhd", bytes(12) + (1000).to_bytes(4, "big")
                       + duration_ms.to_bytes(4, "big"))
            audio_tk = box(b"trak", box(b"tkhd", bytes(84)))  # 0x0 dims
            tk = bytearray(84)
            tk[76:80] = (width << 16).to_bytes(4, "big")
            tk[80:84] = (height << 16).to_bytes(4, "big")
            video_tk = box(b"trak", box(b"tkhd", bytes(tk)))
            return ftyp + box(b"moov", mvhd + audio_tk + video_tk)

        for pdf in batches:
            payloads, mimes = [], []
            for did in pdf["doc_id"]:
                did = int(did)
                if did % 3 == 0:
                    payloads.append(jpeg(16 + did % 200, 9 + did % 100))
                    mimes.append("image/jpeg")
                elif did % 3 == 1:
                    w = 2 + did % 7
                    payloads.append(encode_bmp([[(0, 0, 0)] * w]))
                    mimes.append("image/bmp")
                else:
                    payloads.append(
                        mp4(320 + did % 16, 240 + did % 9, 500 + did * 10)
                    )
                    mimes.append("video/mp4")
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"], "mime": mimes, "payload": payloads,
            })

    imgs = d.mapInPandas(synth, "doc_id long, mime string, payload binary")
    # ONE pass: make_assets takes a constant mime, so two filtered
    # calls would run the synth stage twice —
    # inline the asset shape keeping the per-row mime column instead
    assets = imgs.select(
        F.col("doc_id").cast("string").alias("asset_id"),
        "mime",
        F.col("payload").cast("binary").alias("payload"),
        F.struct(
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            F.lit(None).cast("int").alias("duration_ms"),
            F.sha2(F.col("payload").cast("binary"), 256).alias("sha256"),
        ).alias("meta"),
    )
    probed = probe_asset_meta(assets)
    return probed.select(
        "asset_id",
        "mime",
        F.col("meta.width").alias("width"),
        F.col("meta.height").alias("height"),
        F.col("meta.duration_ms").alias("duration_ms"),
    )


# ======================================================================
# UDF surface (pandas UDFs — Arrow-batched; oracle-checked where the
# semantics are SQL-expressible, proving the UDF path is correct)
# ======================================================================

@declare(
    "q_udf_zscore_per_group",
    """
    SELECT event_id, user_id, value,
           ROUND((value - AVG(value) OVER (PARTITION BY user_id))
                 / stddev_samp(value) OVER (PARTITION BY user_id), 6) AS zscore_r
    FROM events WHERE user_id < 20
    """,
    doc="grouped-map applyInPandas z-score == SQL window z-score",
)
def q_udf_zscore_per_group(spark, sf_dir):
    from .functions.udfs import zscore_per_group

    e = T(spark, sf_dir, "events").filter(F.col("user_id") < 20).select(
        "event_id", "user_id", "value"
    )
    out = zscore_per_group(e, keys=["user_id"], value_col="value")
    return out.select(
        "event_id", "user_id", "value", F.round("zscore", 6).alias("zscore_r")
    )


@declare(
    "q_udf_grouped_agg_median",
    """
    SELECT user_id, ROUND(quantile_cont(value, 0.5), 6) AS med
    FROM events WHERE user_id < 50 GROUP BY user_id
    """,
    doc="grouped-agg pandas UDF (median) == quantile_cont oracle",
)
def q_udf_grouped_agg_median(spark, sf_dir):
    from .functions.udfs import median_udaf

    e = T(spark, sf_dir, "events").filter(F.col("user_id") < 50)
    return e.groupBy("user_id").agg(
        F.round(median_udaf(F.col("value")), 6).alias("med")
    )


@declare(
    "q_udf_mapinpandas_clip",
    """
    SELECT event_id, least(greatest(value, 2.0), 40.0) AS value
    FROM events WHERE user_id < 10
    """,
    doc="iterator mapInPandas batch transform == least/greatest oracle",
)
def q_udf_mapinpandas_clip(spark, sf_dir):
    from .functions.udfs import clip_outliers_stream

    e = T(spark, sf_dir, "events").filter(F.col("user_id") < 10).select(
        "event_id", "value"
    )
    return clip_outliers_stream(e, "value", lo=2.0, hi=40.0)


@declare(
    "q_udf_sql_registered",
    """
    SELECT event_id,
           CASE WHEN value > 30.0 THEN 'high' ELSE 'ok' END AS band
    FROM events WHERE event_id < 1000
    """,
    doc="spark.udf.register SQL surface (row-at-a-time — demo only, "
    "documented as the slow path)",
)
def q_udf_sql_registered(spark, sf_dir):
    spark.udf.register(
        "band30", lambda v: "high" if v is not None and v > 30.0 else "ok", "string"
    )
    T(spark, sf_dir, "events").filter(F.col("event_id") < 1000).createOrReplaceTempView(
        "_udf_events"
    )
    return spark.sql("SELECT event_id, band30(value) AS band FROM _udf_events")


# ======================================================================
# Rules-driven FDD (fdd_rules table, FIXTURES.md §3)
# ======================================================================

@declare(
    "q_fdd_rules_join",
    """
    WITH rules(rule_id, user_id, threshold, w_start, w_end, flag_value) AS (VALUES
      ('r1', 7,  20.0, TIMESTAMP '2024-01-01 00:00:00', TIMESTAMP '2024-01-20 00:00:00', CAST(1 AS TINYINT)),
      ('r2', 7,  40.0, TIMESTAMP '2024-01-10 00:00:00', TIMESTAMP '2024-01-31 00:00:00', CAST(2 AS TINYINT)),
      ('r3', 12, 10.0, TIMESTAMP '2024-01-05 00:00:00', TIMESTAMP '2024-01-06 00:00:00', CAST(3 AS TINYINT))
    )
    SELECT e.event_id, e.user_id, e.value,
           CAST(MIN(r.flag_value) AS TINYINT) AS fc1_flag,
           CAST(COUNT(r.rule_id) AS BIGINT) AS n_rules_matched
    FROM (SELECT * FROM events WHERE user_id IN (7, 12)) e
    LEFT JOIN rules r
      ON e.user_id = r.user_id AND e.ts >= r.w_start AND e.ts <= r.w_end
         AND e.value > r.threshold
    GROUP BY e.event_id, e.user_id, e.value
    """,
    doc="rules-table-driven FDD: interval+threshold broadcast join "
    "(streaming/fdd.py apply_rules; generalizes main.rs:388-395)",
)
def q_fdd_rules_join(spark, sf_dir):
    from .streaming.fdd import apply_rules

    e = (
        T(spark, sf_dir, "events")
        .filter(F.col("user_id").isin(7, 12))
        .select(
            "event_id",
            F.col("user_id").alias("timeseries_id"),
            "ts",
            "value",
            F.lit(None).cast("tinyint").alias("fc1_flag"),
        )
    )
    rules = spark.createDataFrame(
        [
            ("r1", 7, 20.0, "2024-01-01 00:00:00", "2024-01-20 00:00:00", 1),
            ("r2", 7, 40.0, "2024-01-10 00:00:00", "2024-01-31 00:00:00", 2),
            ("r3", 12, 10.0, "2024-01-05 00:00:00", "2024-01-06 00:00:00", 3),
        ],
        "rule_id string, timeseries_id int, threshold double, ws string, we string, flag int",
    ).select(
        "rule_id",
        "timeseries_id",
        "threshold",
        F.to_timestamp("ws").alias("window_start"),
        F.to_timestamp("we").alias("window_end"),
        F.col("flag").cast("tinyint").alias("flag_value"),
    )
    out = apply_rules(e, rules)
    return out.select(
        "event_id",
        F.col("timeseries_id").alias("user_id"),
        "value",
        "fc1_flag",
        "n_rules_matched",
    )


# ======================================================================
# Approximate aggregates (rows-only: engine-specific sketches)
# ======================================================================

@declare(
    "q_approx_aggregates",
    None,
    doc="approx_count_distinct (HLL) + percentile_approx sketches — "
    "accuracy vs exact checked in tests, no cross-engine oracle. The "
    "quartile array is JSON-serialized in the final select so external "
    "canonicalizers (pandas sort_values) never see an unhashable list.",
)
def q_approx_aggregates(spark, sf_dir):
    e = T(spark, sf_dir, "events")
    out = e.groupBy("event_type").agg(
        F.approx_count_distinct("user_id").alias("approx_users"),
        F.percentile_approx("value", 0.5).alias("p50_approx"),
        F.percentile_approx("value", [0.25, 0.75]).alias("quartiles_approx"),
    )
    return out.withColumn("quartiles_approx", F.to_json("quartiles_approx"))


# ======================================================================
# Extra scalar / window coverage
# ======================================================================

@declare(
    "q_levenshtein",
    """
    SELECT p_partkey, p_brand,
           CAST(levenshtein(p_brand, 'brand_1') AS INTEGER) AS dist
    FROM part WHERE p_partkey <= 300
    """,
    doc="string distance (levenshtein) — identical semantics both engines",
)
def q_levenshtein(spark, sf_dir):
    p = T(spark, sf_dir, "part").filter(F.col("p_partkey") <= 300)
    return p.select(
        "p_partkey",
        "p_brand",
        F.levenshtein(F.col("p_brand"), F.lit("brand_1")).cast("int").alias("dist"),
    )


@declare(
    "q_window_nth_cume",
    """
    SELECT o_custkey, o_orderkey,
           nth_value(o_totalprice, 2) OVER (PARTITION BY o_custkey
                                            ORDER BY o_orderdate, o_orderkey
                                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS second_price,
           ROUND(cume_dist() OVER (PARTITION BY o_custkey
                                   ORDER BY o_totalprice, o_orderkey), 6) AS cd,
           ROUND(percent_rank() OVER (PARTITION BY o_custkey
                                      ORDER BY o_totalprice, o_orderkey), 6) AS pr
    FROM orders WHERE o_custkey < 100
    """,
    doc="nth_value / cume_dist / percent_rank analytics",
)
def q_window_nth_cume(spark, sf_dir):
    o = T(spark, sf_dir, "orders").filter(F.col("o_custkey") < 100)
    w_time = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_price = Window.partitionBy("o_custkey").orderBy("o_totalprice", "o_orderkey")
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.nth_value("o_totalprice", 2).over(w_time).alias("second_price"),
        F.round(F.cume_dist().over(w_price), 6).alias("cd"),
        F.round(F.percent_rank().over(w_price), 6).alias("pr"),
    )


@declare(
    "q_global_sort_multi",
    """
    SELECT n_name, c_acctbal, c_custkey
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    WHERE c_acctbal > 9000
    ORDER BY n_name ASC, c_acctbal DESC, c_custkey
    """,
    doc="multi-key global sort (range-partitioned exchange)",
)
def q_global_sort_multi(spark, sf_dir):
    c = T(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 9000)
    n = T(spark, sf_dir, "nation")
    return (
        c.join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .select("n_name", "c_acctbal", "c_custkey")
        .orderBy(F.col("n_name").asc(), F.col("c_acctbal").desc(), F.col("c_custkey"))
    )


# ======================================================================
# Session windows, maps, generators, higher-order functions, from_json
# ======================================================================

@declare(
    "q_session_window",
    """
    WITH marked AS (
      SELECT user_id, ts, value,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR epoch(ts) - epoch(lag(ts) OVER w) >= 43200
                  THEN 1 ELSE 0 END AS new_sess
      FROM events WHERE user_id < 40
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    sess AS (
      SELECT user_id, ts, value,
             SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      FROM marked
    )
    SELECT user_id, MIN(ts) AS session_start,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM sess GROUP BY user_id, sid
    """,
    doc="session windows (12 h gap) — session_window() ≡ gaps-and-islands SQL",
)
def q_session_window(spark, sf_dir):
    e = T(spark, sf_dir, "events").filter(F.col("user_id") < 40)
    return (
        e.groupBy("user_id", F.session_window("ts", "12 hours").alias("sw"))
        .agg(
            F.count("*").alias("n_events"),
            dsum(F.col("value")).alias("sum_value"),
        )
        .select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            "n_events",
            "sum_value",
        )
    )


@declare(
    "q_map_ops",
    """
    SELECT doc_id,
           array_to_string(map_keys(MAP(['lang','source'], [lang, source])), '|') AS mkeys,
           array_to_string(map_values(MAP(['lang','source'], [lang, source])), '|') AS mvals,
           MAP(['lang','source'], [lang, source])['lang'][1] AS lang_via_map
    FROM documents WHERE doc_id < 100
    """,
    doc="map construction + map_keys/map_values/element access; key/value "
    "arrays are '|'-joined in the final select on BOTH engines so the "
    "output schema is flat (list-typed outputs break external "
    "canonicalizers).",
)
def q_map_ops(spark, sf_dir):
    d = T(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    m = F.create_map(
        F.lit("lang"), F.col("lang"), F.lit("source"), F.col("source")
    )
    return d.select(
        "doc_id",
        F.concat_ws("|", F.map_keys(m)).alias("mkeys"),
        F.concat_ws("|", F.map_values(m)).alias("mvals"),
        F.element_at(m, "lang").alias("lang_via_map"),
    )


@declare(
    "q_posexplode",
    """
    SELECT doc_id,
           CAST(generate_subscripts(string_split(text, ' '), 1) - 1 AS INTEGER) AS pos,
           unnest(string_split(text, ' ')) AS token
    FROM documents WHERE doc_id < 20
    """,
    doc="posexplode generator (0-based position) ≡ unnest + subscripts",
)
def q_posexplode(spark, sf_dir):
    d = T(spark, sf_dir, "documents").filter(F.col("doc_id") < 20)
    return d.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "token")
    ).withColumn("pos", F.col("pos").cast("int"))


@declare(
    "q_higher_order_fns",
    """
    WITH t AS (
      SELECT doc_id, list_filter(string_split(lower(text), ' '), x -> len(x) > 4) AS longw
      FROM documents WHERE doc_id < 100
    )
    SELECT doc_id,
           CAST(len(longw) AS INTEGER) AS n_long,
           array_to_string(list_transform(longw[1:5], x -> upper(x)), '|') AS first5_upper,
           CAST(list_aggregate(list_transform(longw, x -> CAST(len(x) AS BIGINT)), 'sum') AS BIGINT) AS total_chars
    FROM t
    """,
    doc="higher-order functions: filter / transform / aggregate on arrays; "
    "the transformed array is '|'-joined on BOTH engines so the output "
    "schema is flat (list-typed outputs break external canonicalizers).",
)
def q_higher_order_fns(spark, sf_dir):
    d = T(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    longw = F.filter(
        F.split(F.lower("text"), " "), lambda x: F.length(x) > 4
    )
    return d.select(
        "doc_id",
        F.size(longw).cast("int").alias("n_long"),
        F.concat_ws(
            "|", F.transform(F.slice(longw, 1, 5), lambda x: F.upper(x))
        ).alias("first5_upper"),
        F.aggregate(
            F.transform(longw, lambda x: F.length(x).cast("long")),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("total_chars"),
    )


@declare(
    "q_from_json_struct",
    """
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
           CASE WHEN json_extract_string(props, '$.k') IS NOT NULL THEN TRUE ELSE FALSE END AS has_k
    FROM events WHERE event_id < 500
    """,
    doc="from_json with explicit schema → typed struct projection",
)
def q_from_json_struct(spark, sf_dir):
    e = T(spark, sf_dir, "events").filter(F.col("event_id") < 500)
    parsed = e.withColumn("j", F.from_json("props", "k BIGINT"))
    return parsed.select(
        "event_id",
        F.col("j.k").alias("k"),
        F.col("j.k").isNotNull().alias("has_k"),
    )


@declare(
    "q_to_json",
    """
    SELECT doc_id,
           '{"lang":"' || lang || '","n":' || CAST(n_chars AS VARCHAR) || '}' AS js
    FROM documents WHERE doc_id < 50
    """,
    doc="to_json serialization of a struct (canonical key order)",
)
def q_to_json(spark, sf_dir):
    d = T(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    return d.select(
        "doc_id",
        F.to_json(
            F.struct(F.col("lang").alias("lang"), F.col("n_chars").alias("n"))
        ).alias("js"),
    )


@declare(
    "q_except_all",
    """
    SELECT o_custkey AS custkey FROM orders WHERE o_orderpriority = '5-LOW'
    EXCEPT ALL
    SELECT o_custkey AS custkey FROM orders WHERE o_orderpriority = '1-URGENT'
    """,
    doc="except all (bag semantics)",
)
def q_except_all(spark, sf_dir):
    o = T(spark, sf_dir, "orders")
    a = o.filter(F.col("o_orderpriority") == "5-LOW").select(
        F.col("o_custkey").alias("custkey")
    )
    b = o.filter(F.col("o_orderpriority") == "1-URGENT").select(
        F.col("o_custkey").alias("custkey")
    )
    return a.exceptAll(b)


@declare(
    "q_scalar_datetime_parts",
    """
    SELECT o_orderkey,
           CAST(hour(o_orderdate) AS INTEGER) AS hr,
           CAST(dayofweek(o_orderdate) + 1 AS INTEGER) AS dow,
           CAST(weekofyear(o_orderdate) AS INTEGER) AS woy,
           CAST(quarter(o_orderdate) AS INTEGER) AS qtr,
           CAST(o_orderdate + INTERVAL 1 MONTH AS TIMESTAMP) AS plus_month,
           CAST(date_add(CAST(o_orderdate AS DATE), 10) AS TIMESTAMP) AS plus_10d,
           CAST(last_day(CAST(o_orderdate AS DATE)) AS TIMESTAMP) AS month_end
    FROM orders WHERE o_orderkey <= 2000
    """,
    doc="date-part extraction + interval/day arithmetic "
    "(dow: Spark 1=Sunday vs DuckDB 0=Sunday, aligned via +1)",
)
def q_scalar_datetime_parts(spark, sf_dir):
    o = T(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 2000)
    return o.select(
        "o_orderkey",
        F.hour("o_orderdate").cast("int").alias("hr"),
        F.dayofweek("o_orderdate").cast("int").alias("dow"),
        F.weekofyear("o_orderdate").cast("int").alias("woy"),
        F.quarter("o_orderdate").cast("int").alias("qtr"),
        (F.col("o_orderdate") + F.expr("INTERVAL 1 MONTH")).alias("plus_month"),
        F.date_add(F.col("o_orderdate").cast("date"), 10)
        .cast("timestamp")
        .alias("plus_10d"),
        F.last_day(F.col("o_orderdate").cast("date")).cast("timestamp").alias("month_end"),
    )


@declare(
    "q_embedding_neardup_exact",
    """
    WITH pairs AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             list_aggregate(list_transform(list_zip(a.embedding, b.embedding),
                            p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), 'sum')
             / (sqrt(list_aggregate(list_transform(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))
              * sqrt(list_aggregate(list_transform(b.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))) AS cs
      FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    )
    SELECT id_a, id_b, ROUND(cs, 6) AS cos_sim
    FROM pairs WHERE cs >= 0.4
    """,
    doc="embedding-cosine near-dup pairs, exact all-pairs baseline "
    "(correctness oracle for the LSH-bucketed scale path)",
)
def q_embedding_neardup_exact(spark, sf_dir):
    emb = T(spark, sf_dir, "embeddings")
    a = emb.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("_ea"))
    b = emb.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("_eb"))
    pairs = a.join(F.broadcast(b), F.col("id_a") < F.col("id_b"))
    scored = pairs.select(
        "id_a", "id_b", cosine(F.col("_ea"), F.col("_eb")).alias("cs")
    )
    return scored.filter(F.col("cs") >= 0.4).select(
        "id_a", "id_b", F.round("cs", 6).alias("cos_sim")
    )


@declare(
    "q_embedding_neardup_lsh",
    None,
    doc="embedding-cosine near-dup via LSH buckets + exact rerank "
    "(scale path; recall vs exact checked in tests)",
)
def q_embedding_neardup_lsh(spark, sf_dir):
    from .operators.similarity import lsh_near_dup_pairs

    emb = T(spark, sf_dir, "embeddings")
    return lsh_near_dup_pairs(
        emb, id_col="vec_id", vec_col="embedding", dim=64,
        threshold=0.4, n_planes=6, n_tables=16,
    )


@declare(
    "q_semantic_dedup",
    """
    WITH seeds AS (
      SELECT vec_id AS cluster_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv
      FROM embeddings WHERE vec_id < 8
    ),
    assigned AS (
      SELECT vec_id, cluster_id FROM (
        SELECT e.vec_id, s.cluster_id,
               row_number() OVER (PARTITION BY e.vec_id ORDER BY
                 list_aggregate(list_transform(list_zip(e.embedding, s.cv),
                   p -> (CAST(p[1] AS DOUBLE) - p[2]) * (CAST(p[1] AS DOUBLE) - p[2])), 'sum'),
                 s.cluster_id) AS rn
        FROM embeddings e, seeds s
      ) WHERE rn = 1
    ),
    scored AS (
      SELECT aa.cluster_id, a.vec_id AS id_a, b.vec_id AS id_b,
             list_aggregate(list_transform(list_zip(a.embedding, b.embedding),
                            p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), 'sum')
             / (sqrt(list_aggregate(list_transform(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))
              * sqrt(list_aggregate(list_transform(b.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))) AS cs
      FROM embeddings a
      JOIN assigned aa ON aa.vec_id = a.vec_id
      JOIN assigned ab ON ab.cluster_id = aa.cluster_id AND ab.vec_id > a.vec_id
      JOIN embeddings b ON b.vec_id = ab.vec_id
    ),
    hits AS (SELECT * FROM scored WHERE cs >= 0.4),
    dec AS (
      SELECT id_b AS drop_id, min(id_a) AS keep_id,
             CAST(COUNT(*) AS BIGINT) AS n_links
      FROM hits GROUP BY id_b
    )
    SELECT h.cluster_id, d.drop_id, d.keep_id,
           ROUND(h.cs, 6) AS cos_sim, d.n_links
    FROM dec d JOIN hits h ON h.id_b = d.drop_id AND h.id_a = d.keep_id
    """,
    doc="SemDeDup-style semantic dedup (Abbas et al. 2023): assign "
    "every embedding to its nearest of 8 deterministic seed centroids "
    "(squared-L2 argmin, ties by cluster id), compare pairs ONLY "
    "within a cluster, then fold near-dup pairs into the greedy "
    "min-id-canonical drop list. The oracle reproduces the exact "
    "double arithmetic (sequential zip-sum folds) and both argmin "
    "tie-breaks, so the full cluster->pair->decision pipeline "
    "hash-matches.",
)
def q_semantic_dedup(spark, sf_dir):
    from .operators.dedup import semantic_dedup_decisions, semantic_dedup_pairs

    emb = T(spark, sf_dir, "embeddings")
    seeds = emb.filter(F.col("vec_id") < 8)
    pairs = semantic_dedup_pairs(
        emb, seeds=seeds, id_col="vec_id", vec_col="embedding", threshold=0.4
    )
    dec = semantic_dedup_decisions(pairs)
    return dec.select(
        "cluster_id",
        "drop_id",
        "keep_id",
        F.round("cos_sim", 6).alias("cos_sim"),
        "n_links",
    )


@declare(
    "q_contamination_ngram",
    """
    WITH toks AS (
      SELECT doc_id, list_filter(string_split(lower(text), ' '), t -> len(t) > 0) AS ws
      FROM documents
    ),
    grams AS (
      SELECT DISTINCT doc_id, array_to_string(ws[i:i+4], ' ') AS gram
      FROM toks, (SELECT unnest(generate_series(1, 4000)) AS i) idx
      WHERE i <= greatest(len(ws) - 4, 1)
    ),
    train AS (SELECT DISTINCT gram FROM grams WHERE doc_id % 10 <> 0),
    hits AS (
      SELECT t.doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_grams,
             CAST(COUNT(tr.gram) AS BIGINT) AS n_hit
      FROM grams t LEFT JOIN train tr ON t.gram = tr.gram
      WHERE t.doc_id % 10 = 0
      GROUP BY t.doc_id
    )
    SELECT doc_id, n_grams, n_hit,
           ROUND(CAST(n_hit AS DOUBLE) / n_grams, 6) AS contamination,
           CAST(n_hit AS DOUBLE) / n_grams >= 0.5 AS flagged
    FROM hits
    """,
    doc="train/test contamination check: fraction of each held-out "
    "doc's distinct word 5-grams that appear anywhere in the training "
    "split (docs with doc_id % 10 == 0 are the test side). "
    "Inverted-index shape — train collapses to its distinct shingle "
    "set before one shingle-keyed left join; no all-pairs step. The "
    "flagged boolean mirrors the same IEEE divide on both engines.",
)
def q_contamination_ngram(spark, sf_dir):
    from .operators.contamination import ngram_contamination

    d = T(spark, sf_dir, "documents")
    test = d.filter(F.col("doc_id") % 10 == 0)
    train = d.filter(F.col("doc_id") % 10 != 0)
    return ngram_contamination(
        test, train, id_col="doc_id", text_col="text", n=5, flag_threshold=0.5
    )


@declare(
    "q_repetition_profile",
    """
    WITH toks AS (
      SELECT doc_id, list_filter(string_split(lower(text), ' '), t -> len(t) > 0) AS ws
      FROM documents
    ),
    bi AS (
      SELECT doc_id, array_to_string(ws[i:i+1], ' ') AS gram
      FROM toks, (SELECT unnest(generate_series(1, 4000)) AS i) idx
      WHERE i <= len(ws) - 1
    ),
    cnt AS (
      SELECT doc_id, gram, CAST(COUNT(*) AS BIGINT) AS n
      FROM bi GROUP BY doc_id, gram
    ),
    top AS (
      SELECT doc_id, gram AS top_bigram, n AS top_bigram_n FROM (
        SELECT doc_id, gram, n,
               row_number() OVER (PARTITION BY doc_id ORDER BY n DESC, gram) AS rn
        FROM cnt
      ) WHERE rn = 1
    )
    SELECT t.doc_id,
           CAST(len(ws) AS BIGINT) AS n_words,
           CAST(len(list_distinct(ws)) AS BIGINT) AS n_distinct_words,
           ROUND(1.0 - CAST(len(list_distinct(ws)) AS DOUBLE) / len(ws), 6) AS dup_word_frac,
           top_bigram, top_bigram_n,
           ROUND(CAST(top_bigram_n AS DOUBLE) / (len(ws) - 1), 6) AS top_bigram_frac
    FROM toks t JOIN top USING (doc_id)
    WHERE len(ws) >= 2
    """,
    doc="Gopher-style within-document repetition metrics (Rae et al. "
    "2021 A1.1): duplicate-word fraction and most-frequent-bigram "
    "share per doc. Zero-shuffle HOF word stats + a two-level "
    "(doc,bigram)->(doc) hash aggregate whose argmax is min_by on a "
    "(-count, bigram) total order — no join back to the base table.",
)
def q_repetition_profile(spark, sf_dir):
    from .operators.profile import repetition_profile

    d = T(spark, sf_dir, "documents")
    out = repetition_profile(d, id_col="doc_id", text_col="text")
    return out.select(
        "doc_id",
        F.col("n_words").cast("long").alias("n_words"),
        F.col("n_distinct_words").cast("long").alias("n_distinct_words"),
        "dup_word_frac",
        "top_bigram",
        "top_bigram_n",
        "top_bigram_frac",
    )


@declare(
    "q_duplicate_spans",
    """
    WITH toks AS (
      SELECT doc_id, list_filter(string_split(lower(text), ' '), t -> len(t) > 0) AS ws
      FROM documents
    ),
    g AS (
      SELECT doc_id, CAST(i - 1 AS INT) AS pos, array_to_string(ws[i:i+4], ' ') AS gram
      FROM toks, (SELECT unnest(generate_series(1, 4000)) AS i) idx
      WHERE len(ws) >= 5 AND i <= len(ws) - 4
    ),
    rare AS (
      SELECT gram FROM (
        SELECT gram, COUNT(DISTINCT doc_id) AS df FROM g GROUP BY gram
      ) WHERE df <= 50
    ),
    m AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.pos AS pos_a, b.pos AS pos_b
      FROM g a JOIN rare r ON a.gram = r.gram
      JOIN g b ON b.gram = a.gram
      WHERE a.doc_id < b.doc_id
    ),
    runs AS (
      SELECT id_a, id_b, pos_a, pos_b, pos_a - pos_b AS diag,
             pos_a - row_number() OVER (
               PARTITION BY id_a, id_b, pos_a - pos_b ORDER BY pos_a
             ) AS isl
      FROM m
    ),
    spans AS (
      SELECT id_a, id_b,
             CAST(MIN(pos_a) AS INT) AS start_a,
             CAST(MIN(pos_b) AS INT) AS start_b,
             CAST(COUNT(*) + 4 AS BIGINT) AS span_tokens
      FROM runs GROUP BY id_a, id_b, diag, isl
    )
    SELECT id_a, id_b, start_a, start_b, span_tokens
    FROM spans WHERE span_tokens >= 8
    """,
    doc="cross-document duplicated token spans (Lee et al. 2021 "
    "ExactSubstr, word granularity): every maximal run of >= 8 "
    "identical consecutive tokens shared by a document pair, with "
    "0-based start offsets on both sides. 5-gram positions matched "
    "by one gram-keyed self equi-join (grams in > 50 docs dropped "
    "first — the boilerplate cap that bounds per-gram fan-out), then "
    "same-diagonal consecutive matches merged to one row via the "
    "gaps-and-islands pos - row_number() trick. The oracle replays "
    "the identical island construction in SQL.",
)
def q_duplicate_spans(spark, sf_dir):
    from .operators.dedup import duplicate_spans

    d = T(spark, sf_dir, "documents")
    return duplicate_spans(
        d, id_col="doc_id", text_col="text", k=5, min_span_tokens=8,
        max_gram_df=50,
    )


@declare(
    "q_duplicate_span_removal",
    """
    WITH toks AS (
      SELECT doc_id, list_filter(string_split(lower(text), ' '), t -> len(t) > 0) AS ws
      FROM documents
    ),
    g AS (
      SELECT doc_id, CAST(i - 1 AS INT) AS pos, array_to_string(ws[i:i+4], ' ') AS gram
      FROM toks, (SELECT unnest(generate_series(1, 4000)) AS i) idx
      WHERE len(ws) >= 5 AND i <= len(ws) - 4
    ),
    rare AS (
      SELECT gram FROM (
        SELECT gram, COUNT(DISTINCT doc_id) AS df FROM g GROUP BY gram
      ) WHERE df <= 50
    ),
    m AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.pos AS pos_a, b.pos AS pos_b
      FROM g a JOIN rare r ON a.gram = r.gram
      JOIN g b ON b.gram = a.gram
      WHERE a.doc_id < b.doc_id
    ),
    runs AS (
      SELECT id_a, id_b, pos_a, pos_b, pos_a - pos_b AS diag,
             pos_a - row_number() OVER (
               PARTITION BY id_a, id_b, pos_a - pos_b ORDER BY pos_a
             ) AS isl
      FROM m
    ),
    spans AS (
      SELECT id_a, id_b,
             CAST(MIN(pos_b) AS BIGINT) AS start_b,
             CAST(COUNT(*) + 4 AS BIGINT) AS span_tokens
      FROM runs GROUP BY id_a, id_b, diag, isl
    ),
    iv0 AS (
      SELECT id_b AS doc_id, start_b AS s, start_b + span_tokens AS e
      FROM spans WHERE span_tokens >= 8
    ),
    iv1 AS (
      SELECT doc_id, s, e,
             MAX(e) OVER (PARTITION BY doc_id ORDER BY s, e
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND 1 PRECEDING) AS pmax
      FROM iv0
    ),
    iv2 AS (
      SELECT doc_id, s, e,
             SUM(CASE WHEN pmax IS NULL OR s > pmax THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY s, e) AS isl
      FROM iv1
    ),
    mi AS (
      SELECT doc_id, MIN(s) AS s, MAX(e) AS e FROM iv2
      GROUP BY doc_id, isl
    ),
    nsp AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_spans FROM mi
      GROUP BY doc_id
    ),
    tok AS (
      SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos, ws[i] AS tok
      FROM toks, (SELECT unnest(generate_series(1, 4000)) AS i) idx
      WHERE i <= len(ws)
    ),
    keep AS (
      SELECT t.doc_id, t.pos, t.tok
      FROM tok t LEFT JOIN mi
        ON mi.doc_id = t.doc_id AND t.pos >= mi.s AND t.pos < mi.e
      WHERE mi.doc_id IS NULL
    ),
    rebuilt AS (
      SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS clean_text,
             CAST(COUNT(*) AS BIGINT) AS n_kept
      FROM keep GROUP BY doc_id
    )
    SELECT t.doc_id,
           COALESCE(r.clean_text, '') AS clean_text,
           CAST(len(t.ws) - COALESCE(r.n_kept, 0) AS BIGINT)
             AS n_tokens_removed,
           COALESCE(n.n_spans, CAST(0 AS BIGINT)) AS n_spans
    FROM toks t
    LEFT JOIN rebuilt r ON r.doc_id = t.doc_id
    LEFT JOIN nsp n ON n.doc_id = t.doc_id
    """,
    doc="span-level dedup REWRITE ("
    "#5; Lee et al. 2021's removal step, which q_duplicate_spans only "
    "reports): every >= 8-token cross-document duplicated run is CUT "
    "from the higher-id document (each span's minimum-id holder keeps "
    "the canonical copy — the pairwise id_a < id_b rows make that "
    "greedy rule emerge from plain per-pair removal), overlapping "
    "removal intervals merged with a running-max islands pass before "
    "one indexed-filter HOF splices the token array "
    "(operators/dedup.py remove_duplicate_spans). Hashes the REBUILT "
    "text of every document, plus tokens-removed and merged-interval "
    "counts; the oracle replays span discovery, interval merge, and "
    "a position-anti-join token splice in SQL. Idempotence (rewriting "
    "twice = once) is property-tested in tests/test_llm_pipeline_ops.",
)
def q_duplicate_span_removal(spark, sf_dir):
    from .operators.dedup import duplicate_spans, remove_duplicate_spans

    d = T(spark, sf_dir, "documents")
    spans = duplicate_spans(
        d, id_col="doc_id", text_col="text", k=5, min_span_tokens=8,
        max_gram_df=50,
    )
    return remove_duplicate_spans(
        d, spans, id_col="doc_id", text_col="text"
    )


@declare(
    "q_soft_dedup_weights",
    """
    WITH toks AS (
      SELECT doc_id, list_filter(string_split(lower(text), ' '), t -> len(t) > 0) AS ws
      FROM documents
    ),
    g AS (
      SELECT DISTINCT doc_id, array_to_string(ws[i:i+2], ' ') AS gram
      FROM toks, LATERAL (
        SELECT unnest(generate_series(1, greatest(len(toks.ws) - 2, 1))) AS i
      ) idx
    ),
    dfq AS (SELECT gram, CAST(COUNT(*) AS DOUBLE) AS dfc FROM g GROUP BY gram),
    tot AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs FROM documents),
    pd AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
             AVG(ln(dfc)) AS mlog
      FROM g JOIN dfq USING (gram) GROUP BY doc_id
    )
    SELECT doc_id, n_grams,
           ROUND(exp(mlog) / n_docs, 6) AS commonness,
           ROUND(least(1.0, 1.0 / (n_docs * (exp(mlog) / n_docs))), 6)
             AS soft_weight
    FROM pd, tot
    """,
    doc="soft deduplication weights (operators/dedup.py "
    "soft_dedup_weights — the reweight-don't-delete alternative after "
    "SoftDeDup, Xia et al. 2024): per doc, commonness = geometric "
    "mean of its distinct 3-shingles' document frequencies as corpus "
    "fractions; soft_weight = 1/(N*commonness) clamped to 1 — a "
    "k-times-duplicated doc weighs ~1/k (loss-mass equalization "
    "without deletion's information loss), unique docs weigh 1. "
    "Inverted-index shape: distinct (doc, gram) explode, ONE "
    "gram-keyed df aggregate (map-side combine eats boilerplate), "
    "gram-keyed join back, doc-keyed mean of logs; the corpus total "
    "rides the constant-key broadcast. Geometric mean so one "
    "ubiquitous shingle cannot dominate a long unique doc.",
)
def q_soft_dedup_weights(spark, sf_dir):
    from .operators.dedup import soft_dedup_weights

    d = T(spark, sf_dir, "documents")
    return soft_dedup_weights(d, id_col="doc_id", text_col="text", n=3)


@declare(
    "q_span_decontamination",
    """
    WITH toks AS (
      SELECT doc_id, (doc_id % 10 = 0) AS is_test,
             list_filter(string_split(lower(text), ' '), t -> len(t) > 0) AS ws
      FROM documents
    ),
    g AS (
      SELECT doc_id, is_test, CAST(i - 1 AS INT) AS pos,
             array_to_string(ws[i:i+4], ' ') AS gram
      FROM toks, (SELECT unnest(generate_series(1, 4000)) AS i) idx
      WHERE len(ws) >= 5 AND i <= len(ws) - 4
    ),
    rare AS (
      SELECT gram FROM (
        SELECT gram, COUNT(DISTINCT doc_id) AS df FROM g GROUP BY gram
      ) WHERE df <= 50
    ),
    m AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             a.pos AS pos_a, b.pos AS pos_b
      FROM g a JOIN rare r ON a.gram = r.gram
      JOIN g b ON b.gram = a.gram
      WHERE a.is_test AND NOT b.is_test
    ),
    runs AS (
      SELECT id_a, id_b, pos_a, pos_b, pos_a - pos_b AS diag,
             pos_a - row_number() OVER (
               PARTITION BY id_a, id_b, pos_a - pos_b ORDER BY pos_a
             ) AS isl
      FROM m
    ),
    spans AS (
      SELECT id_a, id_b,
             CAST(MIN(pos_b) AS BIGINT) AS start_b,
             CAST(COUNT(*) + 4 AS BIGINT) AS span_tokens
      FROM runs GROUP BY id_a, id_b, diag, isl
    ),
    iv0 AS (
      SELECT id_b AS doc_id, start_b AS s, start_b + span_tokens AS e
      FROM spans WHERE span_tokens >= 8
    ),
    iv1 AS (
      SELECT doc_id, s, e,
             MAX(e) OVER (PARTITION BY doc_id ORDER BY s, e
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND 1 PRECEDING) AS pmax
      FROM iv0
    ),
    iv2 AS (
      SELECT doc_id, s, e,
             SUM(CASE WHEN pmax IS NULL OR s > pmax THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY s, e) AS isl
      FROM iv1
    ),
    mi AS (
      SELECT doc_id, MIN(s) AS s, MAX(e) AS e FROM iv2
      GROUP BY doc_id, isl
    ),
    nsp AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_spans FROM mi
      GROUP BY doc_id
    ),
    tok AS (
      SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos, ws[i] AS tok
      FROM toks, (SELECT unnest(generate_series(1, 4000)) AS i) idx
      WHERE NOT is_test AND i <= len(ws)
    ),
    keep AS (
      SELECT t.doc_id, t.pos, t.tok
      FROM tok t LEFT JOIN mi
        ON mi.doc_id = t.doc_id AND t.pos >= mi.s AND t.pos < mi.e
      WHERE mi.doc_id IS NULL
    ),
    rebuilt AS (
      SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS clean_text,
             CAST(COUNT(*) AS BIGINT) AS n_kept
      FROM keep GROUP BY doc_id
    )
    SELECT t.doc_id,
           COALESCE(r.clean_text, '') AS clean_text,
           CAST(len(t.ws) - COALESCE(r.n_kept, 0) AS BIGINT)
             AS n_tokens_removed,
           COALESCE(n.n_spans, CAST(0 AS BIGINT)) AS n_spans
    FROM toks t
    LEFT JOIN rebuilt r ON r.doc_id = t.doc_id
    LEFT JOIN nsp n ON n.doc_id = t.doc_id
    WHERE NOT t.is_test
    """,
    doc="span-level DECONTAMINATION (operators/dedup.py "
    "cross_duplicate_spans + remove_duplicate_spans): every >= "
    "8-token run a train document shares with the held-out set "
    "(doc_id % 10 = 0 plays the eval split) is located by the "
    "cross-corpus gram join — sides are the identity, ids never "
    "compared across frames — and CUT from the train side, so "
    "evaluation text leaked into training is excised rather than the "
    "whole document dropped (the surgical alternative to "
    "q_contamination_ngram's doc-level gate). Hashes the rebuilt "
    "train corpus + removal counters; the oracle replays cross-side "
    "matching, interval merge, and the token splice in SQL.",
)
def q_span_decontamination(spark, sf_dir):
    from .operators.dedup import (
        cross_duplicate_spans,
        remove_duplicate_spans,
    )

    d = T(spark, sf_dir, "documents")
    test = d.filter(F.col("doc_id") % 10 == 0)
    train = d.filter(F.col("doc_id") % 10 != 0)
    spans = cross_duplicate_spans(
        test, train, id_col="doc_id", text_col="text", k=5,
        min_span_tokens=8, max_gram_df=50,
    )
    return remove_duplicate_spans(
        train, spans, id_col="doc_id", text_col="text"
    )


@declare(
    "q_boilerplate_profile",
    """
    WITH toks AS (
      SELECT doc_id, list_filter(string_split(lower(text), ' '), t -> len(t) > 0) AS ws
      FROM documents
    ),
    grams AS (
      SELECT DISTINCT doc_id, array_to_string(ws[i:i+2], ' ') AS gram
      FROM toks, (SELECT unnest(generate_series(1, 4000)) AS i) idx
      WHERE i <= greatest(len(ws) - 2, 1)
    ),
    boiler AS (
      SELECT gram FROM (
        SELECT gram, COUNT(*) AS gram_df FROM grams GROUP BY gram
      ) WHERE gram_df >= 5
    )
    SELECT g.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_grams,
           CAST(COUNT(b.gram) AS BIGINT) AS n_boiler,
           ROUND(CAST(COUNT(b.gram) AS DOUBLE) / COUNT(*), 6) AS boilerplate_frac
    FROM grams g LEFT JOIN boiler b ON g.gram = b.gram
    GROUP BY g.doc_id
    """,
    doc="per-document boilerplate saturation: the fraction of each "
    "doc's DISTINCT word 3-grams that are corpus boilerplate "
    "(document frequency >= 5) — templated pages score near 1.0. "
    "The vocabulary side is one doc-distinct aggregate collapsed to "
    "one row per boilerplate gram before a gram-keyed left join; "
    "per-doc totals are one hash aggregate. Complements "
    "q_duplicate_spans, which EXCLUDES these grams via max_gram_df.",
)
def q_boilerplate_profile(spark, sf_dir):
    from .operators.contamination import boilerplate_profile

    d = T(spark, sf_dir, "documents")
    return boilerplate_profile(
        d, id_col="doc_id", text_col="text", n=3, min_df=5
    )


@declare(
    "q_temperature_sample",
    """
    WITH c AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS c FROM documents GROUP BY source
    ),
    t AS (SELECT SUM(POW(CAST(c AS DOUBLE), 0.6)) AS z, SUM(c) AS n FROM c),
    r AS (
      SELECT source,
             LEAST(1.0, 0.5 * CAST(n AS DOUBLE)
                        * POW(CAST(c AS DOUBLE), 0.6)
                        / (z * CAST(c AS DOUBLE))) AS rate
      FROM c, t
    )
    SELECT d.doc_id, d.source
    FROM documents d JOIN r USING (source)
    WHERE CAST(('0x' || substr(md5('temp' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 10000
          < ROUND(rate * 10000, 0)
    """,
    doc="temperature-based mixture resampling (mT5 recipe, Xue et al. "
    "2021 §3.1; operators/sampling.py temperature_sample): sample "
    "domains with p_d ∝ c_d^0.6 at an expected half-corpus output — "
    "alpha < 1 upweights small sources relative to their natural "
    "share, and a head domain's keep rate caps at 1. The rates are "
    "computed IN the plan from the actual domain counts (one "
    "#domains-row aggregate + the constant-key broadcast), so the "
    "oracle certifies the whole count→rate→per-id-md5-decision "
    "pipeline, not a caller-supplied rate table. Data never shuffles "
    "— the decision is a map-side filter behind a broadcast join.",
)
def q_temperature_sample(spark, sf_dir):
    from .operators.sampling import temperature_sample

    d = T(spark, sf_dir, "documents")
    return temperature_sample(
        d, domain_col="source", id_col="doc_id",
        alpha=0.6, target_fraction=0.5, salt="temp",
    ).select("doc_id", "source")


@declare(
    "q_paragraph_dedup",
    """
    WITH toks AS (
      SELECT doc_id, list_filter(string_split(lower(text), ' '), t -> len(t) > 0) AS ws
      FROM documents
    ),
    paras AS (
      SELECT doc_id, CAST(i - 1 AS INT) AS pos,
             array_to_string(ws[(i-1)*20+1:(i-1)*20+20], ' ') AS para
      FROM toks, (SELECT unnest(generate_series(1, 4000)) AS i) idx
      WHERE len(ws) >= 1 AND i <= CAST(ceil(len(ws) / 20.0) AS INT)
    ),
    marked AS (
      SELECT *, row_number() OVER (
        PARTITION BY md5(para) ORDER BY doc_id, pos
      ) AS rn
      FROM paras
    ),
    agg AS (
      SELECT doc_id,
             string_agg(para, ' ' ORDER BY pos) FILTER (WHERE rn = 1) AS clean_text,
             COUNT(*) AS n_paras,
             COUNT(*) FILTER (WHERE rn = 1) AS n_kept
      FROM marked GROUP BY doc_id
    )
    SELECT d.doc_id,
           COALESCE(clean_text, '') AS clean_text,
           CAST(COALESCE(n_paras, 0) AS BIGINT) AS n_paras,
           CAST(COALESCE(n_paras, 0) - COALESCE(n_kept, 0) AS BIGINT) AS n_removed
    FROM documents d LEFT JOIN agg USING (doc_id)
    """,
    doc="CCNet-style paragraph-level dedup (Wenzek et al. 2019; "
    "operators/dedup.py duplicated_paragraph_removal): every corpus-"
    "duplicated 20-token paragraph is deleted except its corpus-wide "
    "first occurrence (min (doc_id, pos) over the paragraph's md5 "
    "group), and each document is rebuilt with paragraph order "
    "preserved — clean_text plus kept/removed counters per doc. "
    "Paragraphs shuffle ONCE on their hash into a map-side-combining "
    "groupBy (skew-immune where a count-over-hash window would buffer "
    "the whole repeated-header partition), rejoin on the same key, and "
    "reassemble via ONE doc-keyed aggregate whose "
    "array_sort(collect_list(struct(pos, para))) makes rebuild order "
    "explicit. The oracle states the same keep rule as row_number() = 1 "
    "over (hash ORDER BY doc_id, pos) — equivalent to the min-struct "
    "canonical — and rebuilds with an ordered string_agg.",
)
def q_paragraph_dedup(spark, sf_dir):
    from .operators.dedup import duplicated_paragraph_removal

    d = T(spark, sf_dir, "documents")
    return duplicated_paragraph_removal(
        d, id_col="doc_id", text_col="text", window_tokens=20
    )


@declare(
    "q_dsir_weights",
    """
    WITH toks AS (
      SELECT doc_id, list_filter(string_split(lower(text), ' '), t -> len(t) > 0) AS ws
      FROM documents
    ),
    bg AS (
      SELECT doc_id, array_to_string(ws[i:i+1], ' ') AS gram
      FROM toks, (SELECT unnest(generate_series(1, 4000)) AS i) idx
      WHERE len(ws) >= 2 AND i <= len(ws) - 1
    ),
    f AS (
      SELECT doc_id,
             CAST(('0x' || substr(md5(gram), 1, 8)) AS BIGINT) % 1024 AS b,
             COUNT(*) AS c
      FROM bg GROUP BY 1, 2
    ),
    flags AS (SELECT doc_id, source = 'src0' AS is_target FROM documents),
    fc AS (SELECT f.doc_id, b, c, is_target FROM f JOIN flags USING (doc_id)),
    dist AS (
      SELECT b,
             SUM(CASE WHEN is_target THEN c ELSE 0 END) AS ct,
             SUM(CASE WHEN NOT is_target THEN c ELSE 0 END) AS cr
      FROM fc GROUP BY b
    ),
    tot AS (SELECT SUM(ct) AS nt, SUM(cr) AS nr FROM dist),
    lr AS (
      SELECT b, ln((ct + 1.0) / (nt + 1.0 * 1024))
               - ln((cr + 1.0) / (nr + 1.0 * 1024)) AS logratio
      FROM dist, tot
    ),
    w AS (
      SELECT fc.doc_id, SUM(c) AS n_bigrams, SUM(c * logratio) AS wsum
      FROM fc JOIN lr USING (b) GROUP BY fc.doc_id
    )
    SELECT d.doc_id, (d.source = 'src0') AS is_target,
           CAST(COALESCE(w.n_bigrams, 0) AS BIGINT) AS n_bigrams,
           ROUND(COALESCE(w.wsum, 0.0), 6) AS dsir_weight
    FROM documents d LEFT JOIN w ON d.doc_id = w.doc_id
    """,
    doc="DSIR importance weights (Xie et al. 2023, Data Selection with "
    "Importance Resampling; operators/sampling.py dsir_weights): score "
    "every document by sum_f c_doc[f]*(ln p_target[f] - ln q_raw[f]) "
    "over 1024 hashed-bigram buckets (md5 bucket — engine-agnostic, "
    "unlike xxhash64), add-1 smoothed, target = source='src0'. Three "
    "aggregates and nothing wider than the 1024-row log-ratio table, "
    "which BROADCASTS (the corpus totals ride a constant-key broadcast "
    "equi-join, not a crossJoin or an unpartitioned window): per-(doc,"
    "bucket) counts with map-side combine, the bucket distributions, "
    "per-doc weight sums. Weights round at 6 decimals only after the "
    "final sum so both engines' summation orders agree; target docs "
    "score positive, out-of-distribution raw docs strongly negative — "
    "the ranking DSIR resamples by.",
)
def q_dsir_weights(spark, sf_dir):
    from .operators.sampling import dsir_weights

    d = T(spark, sf_dir, "documents").withColumn(
        "is_t", F.col("source") == "src0"
    )
    return dsir_weights(
        d, id_col="doc_id", text_col="text", target_col="is_t",
        n_buckets=1024, alpha=1.0,
    )


@declare(
    "q_dsir_select",
    """
    WITH toks AS (
      SELECT doc_id, list_filter(string_split(lower(text), ' '), t -> len(t) > 0) AS ws
      FROM documents
    ),
    bg AS (
      SELECT doc_id, array_to_string(ws[i:i+1], ' ') AS gram
      FROM toks, (SELECT unnest(generate_series(1, 4000)) AS i) idx
      WHERE len(ws) >= 2 AND i <= len(ws) - 1
    ),
    f AS (
      SELECT doc_id,
             CAST(('0x' || substr(md5(gram), 1, 8)) AS BIGINT) % 1024 AS b,
             COUNT(*) AS c
      FROM bg GROUP BY 1, 2
    ),
    flags AS (SELECT doc_id, source = 'src0' AS is_target FROM documents),
    fc AS (SELECT f.doc_id, b, c, is_target FROM f JOIN flags USING (doc_id)),
    dist AS (
      SELECT b,
             SUM(CASE WHEN is_target THEN c ELSE 0 END) AS ct,
             SUM(CASE WHEN NOT is_target THEN c ELSE 0 END) AS cr
      FROM fc GROUP BY b
    ),
    tot AS (SELECT SUM(ct) AS nt, SUM(cr) AS nr FROM dist),
    lr AS (
      SELECT b, ln((ct + 1.0) / (nt + 1.0 * 1024))
               - ln((cr + 1.0) / (nr + 1.0 * 1024)) AS logratio
      FROM dist, tot
    ),
    w AS (
      SELECT fc.doc_id, SUM(c * logratio) AS wsum
      FROM fc JOIN lr USING (b) GROUP BY fc.doc_id
    ),
    wt AS (
      SELECT d.doc_id, (d.source = 'src0') AS is_target,
             ROUND(COALESCE(w.wsum, 0.0), 6) AS dsir_weight
      FROM documents d LEFT JOIN w ON d.doc_id = w.doc_id
    ),
    sel AS (
      SELECT doc_id, dsir_weight,
             dsir_weight / 2.0 - ln(-ln(
               (CAST(('0x' || substr(md5('dsir' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) + 0.5)
               / 4294967296.0
             )) AS key
      FROM wt WHERE NOT is_target
    )
    SELECT doc_id, dsir_weight, ROUND(key, 6) AS sample_key
    FROM sel ORDER BY key DESC, doc_id LIMIT 50
    """,
    doc="DSIR's RESAMPLING half (Xie et al. 2023 §2; operators/"
    "sampling.py dsir_select): draw 50 raw-pool documents without "
    "replacement with probability proportional to exp(weight / T), "
    "T=2, via Gumbel-top-k — a DETERMINISTIC per-id Gumbel "
    "(-ln(-ln(u)), u = (md5_bucket('dsir'||id)+0.5)/2^32) added to "
    "the temperature-scaled weight, k largest keys win. The noise is "
    "content-stable and engine-agnostic, so the selected SET itself "
    "hash-matches the oracle, not merely its distribution. Composes "
    "q_dsir_weights' full scoring pipeline; selection plans as "
    "TakeOrderedAndProject (per-partition top-k heaps + a k-row "
    "driver merge), never a global sort.",
)
def q_dsir_select(spark, sf_dir):
    from .operators.sampling import dsir_select, dsir_weights

    d = T(spark, sf_dir, "documents").withColumn(
        "is_t", F.col("source") == "src0"
    )
    w = dsir_weights(
        d, id_col="doc_id", text_col="text", target_col="is_t",
        n_buckets=1024, alpha=1.0,
    ).filter(~F.col("is_target"))
    return dsir_select(
        w, id_col="doc_id", k=50, temperature=2.0, seed="dsir"
    )


# ======================================================================
# TPC-H-shaped composite queries (multi-join + agg + top-k pipelines)
# ======================================================================

@declare(
    "q_tpch_q3_shipping_priority",
    """
    SELECT l.l_orderkey,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l.l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
           o.o_orderdate
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
      AND l.l_shipdate > TIMESTAMP '1998-03-15 00:00:00'
    GROUP BY l.l_orderkey, o.o_orderdate
    ORDER BY revenue DESC, l.l_orderkey
    LIMIT 10
    """,
    doc="TPC-H Q3 shape: segment filter -> 3-way join -> agg -> top-k "
    "(exact decimal revenue makes the LIMIT boundary engine-stable). "
    "No broadcast hint on customer: it scales with sf (15M rows at "
    "sf100), so the join strategy is left to AQE + "
    "autoBroadcastJoinThreshold, which broadcasts at small sf and "
    "shuffle-joins at cluster scale.",
)
def q_tpch_q3(spark, sf_dir):
    c = T(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = T(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < "1998-03-15 00:00:00"
    )
    li = T(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > "1998-03-15 00:00:00"
    )
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .groupBy("l_orderkey", "o_orderdate")
        .agg(
            F.sum(
                dec(F.col("l_extendedprice")) * dec(F.lit(1) - F.col("l_discount"))
            )
            .cast("double")
            .alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
        .select("l_orderkey", "revenue", "o_orderdate")
    )


@declare(
    "q_tpch_q5_local_supplier",
    """
    SELECT n.n_name,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l.l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o.o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY n.n_name
    """,
    doc="TPC-H Q5 shape: 6-way snowflake join with same-nation predicate. "
    "Broadcast hints only on nation/region (fixed 25/5 rows at every "
    "sf); customer and supplier scale with sf, so their join strategy "
    "is left to AQE + autoBroadcastJoinThreshold.",
)
def q_tpch_q5(spark, sf_dir):
    c = T(spark, sf_dir, "customer")
    o = T(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01 00:00:00")
        & (F.col("o_orderdate") < "1998-01-01 00:00:00")
    )
    li = T(spark, sf_dir, "lineitem")
    s = T(spark, sf_dir, "supplier")
    n = T(spark, sf_dir, "nation")
    r = T(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(
            s,
            (li["l_suppkey"] == s["s_suppkey"])
            & (c["c_nationkey"] == s["s_nationkey"]),
        )
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .groupBy("n_name")
        .agg(
            F.sum(
                dec(F.col("l_extendedprice")) * dec(F.lit(1) - F.col("l_discount"))
            )
            .cast("double")
            .alias("revenue")
        )
    )


@declare(
    "q_tpch_q10_returned_items",
    """
    SELECT c.c_custkey, c.c_name,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l.l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
           n.n_name, c.c_acctbal
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE l.l_returnflag = 'R'
      AND o.o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND o.o_orderdate < TIMESTAMP '1997-07-01 00:00:00'
    GROUP BY c.c_custkey, c.c_name, n.n_name, c.c_acctbal
    ORDER BY revenue DESC, c.c_custkey
    LIMIT 20
    """,
    doc="TPC-H Q10 shape: returned-item revenue per customer, top-20. "
    "Broadcast hint only on nation; customer scales with sf, so its "
    "join strategy is left to AQE + autoBroadcastJoinThreshold.",
)
def q_tpch_q10(spark, sf_dir):
    c = T(spark, sf_dir, "customer")
    o = T(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1997-01-01 00:00:00")
        & (F.col("o_orderdate") < "1997-07-01 00:00:00")
    )
    li = T(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = T(spark, sf_dir, "nation")
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .groupBy("c_custkey", "c_name", "n_name", "c_acctbal")
        .agg(
            F.sum(
                dec(F.col("l_extendedprice")) * dec(F.lit(1) - F.col("l_discount"))
            )
            .cast("double")
            .alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
        .select("c_custkey", "c_name", "revenue", "n_name", "c_acctbal")
    )


@declare(
    "q_tpch_q18_large_volume",
    """
    SELECT c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice,
           CAST(SUM(CAST(l.l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE o.o_orderkey IN (
      SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
      HAVING SUM(CAST(l_quantity AS DECIMAL(12,2))) > 300
    )
    GROUP BY c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice
    ORDER BY o.o_totalprice DESC, o.o_orderdate, o.o_orderkey
    LIMIT 100
    """,
    doc="TPC-H Q18 shape (large-volume customer): group-by-having IN "
    "subquery decorrelated to a semi join that prunes orders BEFORE the "
    "3-way join — the heavy-orders list is an aggregate of lineitem "
    "only, so the big fact-fact join runs on the reduced order set. No "
    "broadcast hints on sf-scaling tables.",
)
def q_tpch_q18(spark, sf_dir):
    c = T(spark, sf_dir, "customer").select("c_custkey", "c_name")
    o = T(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"
    )
    li = T(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    heavy = (
        li.groupBy("l_orderkey")
        .agg(F.sum(dec(F.col("l_quantity"))).alias("_q"))
        .filter(F.col("_q") > 300)
        .select(F.col("l_orderkey").alias("o_orderkey"))
    )
    return (
        o.join(heavy, "o_orderkey", "left_semi")
        .join(li, F.col("o_orderkey") == li["l_orderkey"])
        .join(c, F.col("o_custkey") == c["c_custkey"])
        .groupBy("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(F.sum(dec(F.col("l_quantity"))).cast("double").alias("sum_qty"))
        .orderBy(
            F.col("o_totalprice").desc(), F.col("o_orderdate"), F.col("o_orderkey")
        )
        .limit(100)
    )


@declare(
    "q_tpch_q21_suppliers_who_wait",
    """
    WITH late AS (
      SELECT l.l_orderkey, l.l_suppkey
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
      WHERE o.o_orderstatus = 'F'
        AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
    )
    SELECT s.s_name, n.n_name, CAST(COUNT(*) AS BIGINT) AS numwait
    FROM late l1
    JOIN supplier s ON s.s_suppkey = l1.l_suppkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    WHERE EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM late l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey)
    GROUP BY s.s_name, n.n_name
    ORDER BY numwait DESC, s.s_name
    LIMIT 100
    """,
    doc="TPC-H Q21 shape (suppliers who kept orders waiting), reshaped "
    "onto this dataset's columns: late = shipped >60 days after an "
    "F-status order date. Correlated EXISTS → left-semi join with a "
    "non-equi term; NOT EXISTS → left-anti self-join of the late set. "
    "Only fixed-size nation is broadcast-hinted; supplier scales with "
    "sf and is left to AQE.",
)
def q_tpch_q21(spark, sf_dir):
    li = T(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    o = (
        T(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey", "o_orderdate")
    )
    late = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .filter(
            F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAY")
        )
        .select("l_orderkey", "l_suppkey")
    )
    # Formulation choice, MEASURED (sf0.1 local[32], 3 reps in
    # one session): these ≠-predicate self-joins beat the per-order
    # countDistinct-aggregate rewrite (~1.4-1.6 s vs ~1.9-2.0 s). The
    # self-join is NOT quadratic in practice — an order has at most a
    # handful of lineitems, so within-group multiplicity is bounded by
    # a small constant at every scale — while the distinct-agg pays a
    # 2× Expand over the full join output. Hash-identical results
    # verified for both under the DuckDB oracle.
    l2 = li.select(
        F.col("l_orderkey").alias("_ok2"), F.col("l_suppkey").alias("_sk2")
    )
    l3 = late.select(
        F.col("l_orderkey").alias("_ok3"), F.col("l_suppkey").alias("_sk3")
    )
    cand = (
        late.join(
            l2,
            (late["l_orderkey"] == l2["_ok2"])
            & (late["l_suppkey"] != l2["_sk2"]),
            "left_semi",
        )
        .join(
            l3,
            (F.col("l_orderkey") == l3["_ok3"])
            & (F.col("l_suppkey") != l3["_sk3"]),
            "left_anti",
        )
    )
    s = T(spark, sf_dir, "supplier").select("s_suppkey", "s_name", "s_nationkey")
    n = T(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        cand.join(s, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("s_name", "n_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.col("numwait").desc(), F.col("s_name"))
        .limit(100)
        .select("s_name", "n_name", "numwait")
    )


@declare(
    "q_hash_split",
    """
    SELECT doc_id,
           CASE
             WHEN bucket < 9000 THEN 'train'
             WHEN bucket < 9500 THEN 'val'
             ELSE 'test'
           END AS split
    FROM (
      SELECT doc_id,
             CAST(('0x' || substr(md5('split' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 10000 AS bucket
      FROM documents
    )
    """,
    doc="deterministic train/val/test split by md5-id bucket "
    "(operators/sampling.py): content-stable, engine-agnostic, "
    "map-side-only — the split assignment a 100 TB training pipeline "
    "needs (no seed, no shuffle, append-safe)",
)
def q_hash_split(spark, sf_dir):
    from .operators.sampling import hash_split

    d = T(spark, sf_dir, "documents")
    return hash_split(d, "doc_id").select("doc_id", "split")


@declare(
    "q_deterministic_sample",
    """
    SELECT event_id, user_id, event_type
    FROM events
    WHERE CAST(('0x' || substr(md5('ev' || CAST(event_id AS VARCHAR)), 1, 8)) AS BIGINT) % 10000 < 500
    """,
    doc="deterministic 5% sample by id-hash bucket — same rows on every "
    "engine/run/partitioning (vs seed-dependent TABLESAMPLE); pure "
    "map-side filter that composes with scan pushdown",
)
def q_deterministic_sample(spark, sf_dir):
    from .operators.sampling import deterministic_sample

    e = T(spark, sf_dir, "events")
    return deterministic_sample(e, "event_id", 0.05, salt="ev").select(
        "event_id", "user_id", "event_type"
    )


@declare(
    "q_stratified_sample",
    """
    SELECT event_type, event_id
    FROM (
      SELECT event_type, event_id,
             row_number() OVER (
               PARTITION BY event_type
               ORDER BY md5(CAST(event_id AS VARCHAR)), event_id
             ) AS rn
      FROM events
    )
    WHERE rn <= 20
    """,
    doc="deterministic stratified sample: 20 rows per event_type ranked "
    "by md5 order (a uniform deterministic shuffle) — class-balanced "
    "subset selection with one shuffle on the stratum key",
)
def q_stratified_sample(spark, sf_dir):
    from .operators.sampling import stratified_sample

    e = T(spark, sf_dir, "events")
    return stratified_sample(e, "event_type", "event_id", 20).select(
        "event_type", "event_id"
    )


@declare(
    "q_rolling_hash_fingerprint",
    None,
    doc="polynomial rolling-hash document fingerprint over token hashes "
    "(xxhash64-based — rows-only; shift/dup invariants in tests)",
)
def q_rolling_hash_fingerprint(spark, sf_dir):
    from .functions.text import rolling_hash_fingerprint

    d = T(spark, sf_dir, "documents")
    return d.select(
        "doc_id", rolling_hash_fingerprint(F.col("text")).alias("fp")
    )


@declare(
    "q_quality_filter_pipeline",
    """
    WITH t AS (
      SELECT doc_id, lang, text,
             CAST(length(text) AS DOUBLE) AS nc,
             list_filter(string_split(lower(text), ' '), x -> len(x) > 0) AS ws
      FROM documents
    ),
    scored AS (
      SELECT doc_id, lang,
             len(ws) AS n_tok,
             list_aggregate(list_transform(ws, x -> CAST(len(x) AS DOUBLE)), 'sum') / len(ws) AS mean_tok,
             CAST(len(list_distinct(ws)) AS DOUBLE) / len(ws) AS uniq_ratio,
             md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fp
      FROM t WHERE len(ws) > 0
    ),
    keep_first AS (
      SELECT *, row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn FROM scored
    )
    SELECT doc_id, lang, CAST(n_tok AS INTEGER) AS n_tok,
           ROUND(mean_tok, 6) AS mean_tok, ROUND(uniq_ratio, 6) AS uniq_ratio
    FROM keep_first
    WHERE rn = 1                -- exact-dup removal (keep first)
      AND n_tok BETWEEN 20 AND 1000   -- length gate
      AND mean_tok BETWEEN 3 AND 12   -- word-length sanity
      AND uniq_ratio >= 0.2           -- repetition gate
    """,
    doc="C4/Gopher-style end-to-end quality+dedup filter pipeline "
    "(length, word-length, repetition gates + exact dedup), one plan",
)
def q_quality_filter_pipeline(spark, sf_dir):
    d = T(spark, sf_dir, "documents")
    ws = token_array(F.col("text"))
    scored = (
        d.select("doc_id", "lang", "text")
        .withColumn("_ws", ws)
        .filter(F.size("_ws") > 0)
        .select(
            "doc_id",
            "lang",
            F.size("_ws").alias("n_tok"),
            (
                F.aggregate(
                    F.transform("_ws", lambda x: F.length(x).cast("double")),
                    F.lit(0.0),
                    lambda a, x: a + x,
                )
                / F.size("_ws")
            ).alias("mean_tok"),
            (F.size(F.array_distinct("_ws")).cast("double") / F.size("_ws")).alias(
                "uniq_ratio"
            ),
            content_hash(F.col("text")).alias("fp"),
        )
    )
    w = Window.partitionBy("fp").orderBy("doc_id")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(
            (F.col("rn") == 1)
            & F.col("n_tok").between(20, 1000)
            & F.col("mean_tok").between(3, 12)
            & (F.col("uniq_ratio") >= 0.2)
        )
        .select(
            "doc_id",
            "lang",
            F.col("n_tok").cast("int").alias("n_tok"),
            F.round("mean_tok", 6).alias("mean_tok"),
            F.round("uniq_ratio", 6).alias("uniq_ratio"),
        )
    )


# ======================================================================
# Pivot / unpivot / correlation / ordered string agg
# ======================================================================

@declare(
    "q_pivot",
    """
    SELECT user_id,
           CAST(COUNT(*) FILTER (WHERE event_type = 'click') AS BIGINT) AS click,
           CAST(COUNT(*) FILTER (WHERE event_type = 'view') AS BIGINT) AS view,
           CAST(COUNT(*) FILTER (WHERE event_type = 'purchase') AS BIGINT) AS purchase,
           CAST(COUNT(*) FILTER (WHERE event_type = 'error') AS BIGINT) AS error,
           CAST(COUNT(*) FILTER (WHERE event_type = 'signup') AS BIGINT) AS signup
    FROM events WHERE user_id < 50
    GROUP BY user_id
    """,
    doc="pivot (wide per-category counts) — df.groupBy().pivot()",
)
def q_pivot(spark, sf_dir):
    e = T(spark, sf_dir, "events").filter(F.col("user_id") < 50)
    out = (
        e.groupBy("user_id")
        .pivot("event_type", ["click", "view", "purchase", "error", "signup"])
        .count()
    )
    # pivot leaves NULL for absent categories; oracle COUNT FILTER gives 0
    return out.select(
        "user_id",
        *[F.coalesce(F.col(c), F.lit(0)).alias(c)
          for c in ["click", "view", "purchase", "error", "signup"]],
    )


@declare(
    "q_unpivot",
    """
    SELECT o_orderkey, 'totalprice' AS metric, o_totalprice AS val
    FROM orders WHERE o_orderkey <= 1000
    UNION ALL
    SELECT o_orderkey, 'custkey' AS metric, CAST(o_custkey AS DOUBLE) AS val
    FROM orders WHERE o_orderkey <= 1000
    """,
    doc="unpivot/melt wide→long — df.unpivot()",
)
def q_unpivot(spark, sf_dir):
    o = (
        T(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") <= 1000)
        .select(
            "o_orderkey",
            F.col("o_totalprice").alias("totalprice"),
            F.col("o_custkey").cast("double").alias("custkey"),
        )
    )
    return o.unpivot(
        ids=["o_orderkey"],
        values=["totalprice", "custkey"],
        variableColumnName="metric",
        valueColumnName="val",
    )


@declare(
    "q_correlation",
    """
    WITH s AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(user_id AS DECIMAL(18,0))) AS DOUBLE) AS sy,
             CAST(SUM(CAST(value AS DECIMAL(18,2)) * CAST(user_id AS DECIMAL(18,0))) AS DOUBLE) AS sxy,
             CAST(SUM(CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sxx,
             CAST(SUM(CAST(user_id AS DECIMAL(18,0)) * CAST(user_id AS DECIMAL(18,0))) AS DOUBLE) AS syy
      FROM events GROUP BY event_type
    )
    SELECT event_type,
           ROUND((n * sxy - sx * sy)
                 / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)), 6) AS corr_vu,
           ROUND((sxy - sx * sy / n) / (n - 1), 6) AS covar_vu
    FROM s
    """,
    doc="Pearson correlation + sample covariance from exact decimal "
    "moments (engine-agnostic; equals corr()/covar_samp())",
)
def q_correlation(spark, sf_dir):
    e = T(spark, sf_dir, "events")
    s = e.groupBy("event_type").agg(
        F.count("*").alias("n"),
        dsum(F.col("value")).alias("sx"),
        F.sum(F.col("user_id").cast("decimal(18,0)")).cast("double").alias("sy"),
        F.sum(dec(F.col("value")) * F.col("user_id").cast("decimal(18,0)"))
        .cast("double")
        .alias("sxy"),
        F.sum(dec(F.col("value")) * dec(F.col("value"))).cast("double").alias("sxx"),
        F.sum(
            F.col("user_id").cast("decimal(18,0)")
            * F.col("user_id").cast("decimal(18,0)")
        )
        .cast("double")
        .alias("syy"),
    )
    n, sx, sy, sxy, sxx, syy = [F.col(c) for c in ["n", "sx", "sy", "sxy", "sxx", "syy"]]
    return s.select(
        "event_type",
        F.round(
            (n * sxy - sx * sy)
            / (F.sqrt(n * sxx - sx * sx) * F.sqrt(n * syy - sy * sy)),
            6,
        ).alias("corr_vu"),
        F.round((sxy - sx * sy / n) / (n - 1), 6).alias("covar_vu"),
    )


@declare(
    "q_string_agg_ordered",
    """
    SELECT o_custkey,
           string_agg(o_orderstatus, ',' ORDER BY o_orderkey) AS statuses,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM orders WHERE o_custkey < 30
    GROUP BY o_custkey
    """,
    doc="deterministic ordered string aggregation per group",
)
def q_string_agg_ordered(spark, sf_dir):
    e = T(spark, sf_dir, "orders").filter(F.col("o_custkey") < 30)
    return e.groupBy("o_custkey").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("o_orderkey", "o_orderstatus"))
                ),
                lambda s: s["o_orderstatus"],
            ),
            ",",
        ).alias("statuses"),
        F.count("*").alias("n"),
    )


@declare(
    "q_multi_count_distinct",
    """
    SELECT l_returnflag,
           CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS nd_part,
           CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS nd_supp,
           CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS nd_order
    FROM lineitem GROUP BY l_returnflag
    """,
    doc="multiple count-distincts in one aggregate (Expand-based plan)",
)
def q_multi_count_distinct(spark, sf_dir):
    li = T(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("nd_part"),
        F.countDistinct("l_suppkey").alias("nd_supp"),
        F.countDistinct("l_orderkey").alias("nd_order"),
    )


@declare(
    "q_join_right_outer",
    """
    SELECT c.c_custkey, o.o_orderkey
    FROM orders o
    RIGHT JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE c.c_custkey < 100
    """,
    doc="right outer join (kept rows from the right side)",
)
def q_join_right_outer(spark, sf_dir):
    o = T(spark, sf_dir, "orders")
    c = T(spark, sf_dir, "customer").filter(F.col("c_custkey") < 100)
    return o.join(c, o["o_custkey"] == c["c_custkey"], "right").select(
        "c_custkey", "o_orderkey"
    )


@declare(
    "q_filter_rlike",
    """
    SELECT p_partkey, p_name
    FROM part
    WHERE regexp_matches(p_name, '^(red|blue) .*(bolt|gear)$')
    """,
    doc="regex predicate filter (rlike / regexp_matches)",
)
def q_filter_rlike(spark, sf_dir):
    p = T(spark, sf_dir, "part")
    return p.filter(F.col("p_name").rlike(r"^(red|blue) .*(bolt|gear)$")).select(
        "p_partkey", "p_name"
    )


@declare(
    "q_python_udtf",
    """
    SELECT doc_id,
           CAST(generate_subscripts(string_split(text, ' '), 1) - 1 AS INTEGER) AS pos,
           unnest(string_split(text, ' ')) AS token
    FROM documents
    WHERE doc_id < 10 AND text IS NOT NULL AND text <> ''
    """,
    doc="Python UDTF (table function) exploding docs to (pos, token) "
    "rows. Oracle: unnest+subscripts over the same explicit-separator "
    "split; the UDTF's `if text:` guard (drops NULL/empty docs) is "
    "mirrored by the oracle's WHERE clause.",
)
def q_python_udtf(spark, sf_dir):
    from pyspark.sql.functions import udtf

    @udtf(returnType="pos int, token string")
    class Tokenize:
        def eval(self, doc_id: int, text: str):
            if text:
                for i, t in enumerate(text.split(" ")):
                    yield i, t

    spark.udtf.register("tokenize_udtf", Tokenize)
    T(spark, sf_dir, "documents").filter(F.col("doc_id") < 10).createOrReplaceTempView(
        "_udtf_docs"
    )
    return spark.sql(
        """
        SELECT d.doc_id, t.pos, t.token
        FROM _udtf_docs d, LATERAL tokenize_udtf(d.doc_id, d.text) t
        """
    )


# ======================================================================
# Behavioral analytics: funnel + cohort retention
# ======================================================================

@declare(
    "q_funnel",
    """
    WITH stages AS (
      SELECT user_id,
             MIN(ts) FILTER (WHERE event_type = 'view') AS t_view,
             MIN(ts) FILTER (WHERE event_type = 'click') AS t_click,
             MIN(ts) FILTER (WHERE event_type = 'purchase') AS t_purchase
      FROM events GROUP BY user_id
    )
    SELECT
      CAST(COUNT(*) FILTER (WHERE t_view IS NOT NULL) AS BIGINT) AS n_viewed,
      CAST(COUNT(*) FILTER (WHERE t_view IS NOT NULL AND t_click > t_view) AS BIGINT) AS n_clicked_after,
      CAST(COUNT(*) FILTER (WHERE t_view IS NOT NULL AND t_click > t_view
                            AND t_purchase > t_click) AS BIGINT) AS n_purchased_after
    FROM stages
    """,
    doc="ordered funnel (view -> click -> purchase) via per-stage first-seen times",
)
def q_funnel(spark, sf_dir):
    e = T(spark, sf_dir, "events")
    stages = e.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("t_view"),
        F.min(F.when(F.col("event_type") == "click", F.col("ts"))).alias("t_click"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias(
            "t_purchase"
        ),
    )
    return stages.agg(
        F.count(F.when(F.col("t_view").isNotNull(), 1)).alias("n_viewed"),
        F.count(
            F.when(
                F.col("t_view").isNotNull() & (F.col("t_click") > F.col("t_view")), 1
            )
        ).alias("n_clicked_after"),
        F.count(
            F.when(
                F.col("t_view").isNotNull()
                & (F.col("t_click") > F.col("t_view"))
                & (F.col("t_purchase") > F.col("t_click")),
                1,
            )
        ).alias("n_purchased_after"),
    )


@declare(
    "q_cohort_retention",
    """
    WITH firsts AS (
      SELECT user_id, date_trunc('week', MIN(ts)) AS cohort_week
      FROM events GROUP BY user_id
    ),
    activity AS (
      SELECT DISTINCT e.user_id, date_trunc('week', e.ts) AS active_week
      FROM events e
    )
    SELECT f.cohort_week,
           CAST(date_diff('day', CAST(f.cohort_week AS DATE), CAST(a.active_week AS DATE)) / 7 AS INTEGER) AS week_offset,
           CAST(COUNT(DISTINCT a.user_id) AS BIGINT) AS n_active
    FROM firsts f JOIN activity a ON a.user_id = f.user_id
    GROUP BY f.cohort_week, week_offset
    """,
    doc="cohort retention: first-seen week × activity-week matrix",
)
def q_cohort_retention(spark, sf_dir):
    e = T(spark, sf_dir, "events")
    firsts = e.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    activity = e.select(
        "user_id", F.date_trunc("week", "ts").alias("active_week")
    ).distinct()
    return (
        activity.join(firsts, "user_id")
        .withColumn(
            "week_offset",
            (
                F.datediff(
                    F.col("active_week").cast("date"),
                    F.col("cohort_week").cast("date"),
                )
                / 7
            ).cast("int"),
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.countDistinct("user_id").alias("n_active"))
    )


@declare(
    "q_approx_top_k",
    None,
    doc="approximate heavy-hitters per event type (engine sketch; exact "
    "top-k equivalence asserted in tests at this cardinality). The "
    "sketch's array<struct> output is JSON-serialized in the final "
    "select so external canonicalizers never see an unhashable list.",
)
def q_approx_top_k(spark, sf_dir):
    e = T(spark, sf_dir, "events")
    out = e.groupBy("event_type").agg(
        F.expr("approx_top_k(user_id, 5)").alias("top_users")
    )
    return out.withColumn("top_users", F.to_json("top_users"))


@declare(
    "q_bool_aggs",
    """
    SELECT user_id,
           bool_and(value > 0.0) AS all_positive,
           bool_or(value > 45.0) AS any_large,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM events WHERE user_id < 40
    GROUP BY user_id
    """,
    doc="boolean aggregates (every/some)",
)
def q_bool_aggs(spark, sf_dir):
    e = T(spark, sf_dir, "events").filter(F.col("user_id") < 40)
    return e.groupBy("user_id").agg(
        F.every(F.col("value") > 0.0).alias("all_positive"),
        F.some(F.col("value") > 45.0).alias("any_large"),
        F.count("*").alias("n"),
    )


@declare(
    "q_scalar_subquery",
    """
    SELECT o_orderkey,
           ROUND(o_totalprice / (SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
                                 FROM orders), 6) AS price_vs_avg
    FROM orders WHERE o_orderkey <= 2000
    """,
    doc="scalar subquery (ratio to global average, exact-decimal mean)",
)
def q_scalar_subquery(spark, sf_dir):
    T(spark, sf_dir, "orders").createOrReplaceTempView("_sq_orders")
    return spark.sql(
        """
        SELECT o_orderkey,
               ROUND(o_totalprice / (SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
                                     FROM _sq_orders), 6) AS price_vs_avg
        FROM _sq_orders WHERE o_orderkey <= 2000
        """
    )


@declare(
    "q_similarity_ivf",
    None,
    doc="IVF (k-means inverted file) approximate cosine top-k — the "
    "clustered-data scale path; recall vs brute force in tests",
)
def q_similarity_ivf(spark, sf_dir):
    from .operators.similarity import ivf_cosine_topk

    emb = T(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return ivf_cosine_topk(emb, q, k=10, n_clusters=16, n_probe=4)


@declare(
    "q_sliding_window_batch",
    """
    WITH e AS (
      SELECT event_type, value,
             CAST(floor(epoch(ts) / 300) * 300 AS BIGINT) AS floor5
      FROM events WHERE ts < TIMESTAMP '2024-01-02 00:00:00'
    ),
    expanded AS (
      SELECT event_type, value,
             unnest([floor5 - 300, floor5]) AS ws
      FROM e
    )
    SELECT event_type,
           CAST(to_timestamp(ws) AS TIMESTAMP) AS window_start,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM expanded
    GROUP BY event_type, ws
    """,
    doc="batch sliding windows (10 min / 5 min slide): each event lands "
    "in two overlapping windows",
)
def q_sliding_window_batch(spark, sf_dir):
    e = T(spark, sf_dir, "events").filter(F.col("ts") < "2024-01-02 00:00:00")
    return (
        e.groupBy("event_type", F.window("ts", "10 minutes", "5 minutes").alias("w"))
        .agg(
            F.count("*").alias("n"),
            dsum(F.col("value")).alias("sum_value"),
        )
        .select(
            "event_type",
            F.col("w.start").alias("window_start"),
            "n",
            "sum_value",
        )
    )


@declare(
    "q_correlated_subquery",
    """
    SELECT o.o_orderkey, o.o_custkey, o.o_totalprice
    FROM orders o
    WHERE o.o_totalprice > 2 * (
        SELECT CAST(SUM(CAST(i.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
        FROM orders i WHERE i.o_custkey = o.o_custkey
    )
    """,
    doc="correlated scalar subquery (orders above 2x the customer's own "
    "average) — Catalyst decorrelates to a join",
)
def q_correlated_subquery(spark, sf_dir):
    T(spark, sf_dir, "orders").createOrReplaceTempView("_corr_orders")
    return spark.sql(
        """
        SELECT o.o_orderkey, o.o_custkey, o.o_totalprice
        FROM _corr_orders o
        WHERE o.o_totalprice > 2 * (
            SELECT CAST(SUM(CAST(i.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
            FROM _corr_orders i WHERE i.o_custkey = o.o_custkey
        )
        """
    )


@declare(
    "q_scd2_merge",
    """
    WITH dim(k, addr, valid_from, valid_to) AS (VALUES
      ('k1', 'addr_old', TIMESTAMP '2023-01-01 00:00:00', TIMESTAMP '2023-06-01 00:00:00'),
      ('k1', 'addr_v2',  TIMESTAMP '2023-06-01 00:00:00', CAST(NULL AS TIMESTAMP)),
      ('k2', 'addr_b',   TIMESTAMP '2023-01-01 00:00:00', CAST(NULL AS TIMESTAMP))
    ),
    ch(k, addr, cts) AS (VALUES
      ('k1', 'addr_v3',  TIMESTAMP '2024-01-01 00:00:00'),
      ('k2', 'addr_b',   TIMESTAMP '2024-01-01 00:00:00'),
      ('k3', 'addr_new', TIMESTAMP '2024-01-01 00:00:00')
    ),
    cur AS (SELECT * FROM dim WHERE valid_to IS NULL),
    hist AS (SELECT * FROM dim WHERE valid_to IS NOT NULL),
    j AS (
      SELECT cur.k AS ck, cur.addr AS ca, cur.valid_from AS cvf,
             ch.k AS nk, ch.addr AS na, ch.cts
      FROM cur FULL OUTER JOIN ch ON cur.k = ch.k
    )
    SELECT k, addr, valid_from, valid_to FROM hist
    UNION ALL
    SELECT ck, ca, cvf, CAST(NULL AS TIMESTAMP)
    FROM j WHERE ck IS NOT NULL AND (nk IS NULL OR ca IS NOT DISTINCT FROM na)
    UNION ALL
    SELECT ck, ca, cvf, cts
    FROM j WHERE ck IS NOT NULL AND nk IS NOT NULL AND ca IS DISTINCT FROM na
    UNION ALL
    SELECT nk, na, cts, CAST(NULL AS TIMESTAMP)
    FROM j WHERE nk IS NOT NULL AND (ck IS NULL OR ca IS DISTINCT FROM na)
    """,
    doc="SCD2/CDC merge without MERGE INTO: close-out + insert + no-op "
    "idempotence via full-outer join + union (operators/scd2.py)",
)
def q_scd2_merge(spark, sf_dir):
    from .operators.scd2 import scd2_apply

    dim = spark.createDataFrame(
        [
            ("k1", "addr_old", "2023-01-01 00:00:00", "2023-06-01 00:00:00"),
            ("k1", "addr_v2", "2023-06-01 00:00:00", None),
            ("k2", "addr_b", "2023-01-01 00:00:00", None),
        ],
        "k string, addr string, vf string, vt string",
    ).select(
        "k", "addr",
        F.to_timestamp("vf").alias("valid_from"),
        F.to_timestamp("vt").alias("valid_to"),
    )
    ch = spark.createDataFrame(
        [
            ("k1", "addr_v3", "2024-01-01 00:00:00"),
            ("k2", "addr_b", "2024-01-01 00:00:00"),
            ("k3", "addr_new", "2024-01-01 00:00:00"),
        ],
        "k string, addr string, cts string",
    ).select("k", "addr", F.to_timestamp("cts").alias("change_ts"))
    return scd2_apply(dim, ch, key="k", tracked=["addr"])


# ======================================================================
# Time-series statistics: time-weighted average, counter increase,
# duplicate clustering
# ======================================================================

@declare(
    "q_time_weighted_avg",
    """
    WITH obs AS (
      SELECT user_id, value,
             date_diff('microsecond', ts,
                       lead(ts) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id)) AS dt_us
      FROM events WHERE user_id < 50
    ),
    agg AS (
      SELECT user_id,
             SUM(CAST(value AS DECIMAL(18,2)) * dt_us) AS swv,
             CAST(SUM(dt_us) AS BIGINT) AS sw
      FROM obs WHERE dt_us IS NOT NULL GROUP BY user_id
    )
    SELECT user_id,
           ROUND(CAST(swv AS DOUBLE) / CAST(sw AS DOUBLE), 6) AS twa,
           sw AS total_us
    FROM agg WHERE sw > 0
    """,
    doc="per-series time-weighted average over irregular samples "
    "(duration-to-next weights in exact integer microseconds; weighted "
    "sum in exact decimal -> engine-agnostic)",
)
def q_time_weighted_avg(spark, sf_dir):
    from .operators.resample import time_weighted_avg

    e = T(spark, sf_dir, "events").filter(F.col("user_id") < 50)
    return time_weighted_avg(
        e, key="user_id", ts="ts", value="value", order_tiebreak="event_id"
    )


@declare(
    "q_counter_increase",
    """
    WITH d AS (
      SELECT user_id,
             CAST(value AS DECIMAL(18,2)) AS v,
             lag(CAST(value AS DECIMAL(18,2)))
               OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pv
      FROM events WHERE user_id < 50
    ),
    s AS (
      SELECT user_id,
             CASE WHEN pv IS NULL THEN NULL
                  WHEN v - pv >= 0 THEN v - pv
                  ELSE v END AS inc,
             CASE WHEN pv IS NOT NULL AND v - pv < 0 THEN 1 ELSE 0 END AS r
      FROM d
    )
    SELECT user_id,
           CAST(COALESCE(SUM(inc), 0) AS DOUBLE) AS total_increase,
           CAST(SUM(r) AS BIGINT) AS n_resets,
           CAST(COUNT(*) AS BIGINT) AS n_samples
    FROM s GROUP BY user_id
    """,
    doc="PromQL-style counter increase() with reset detection (lag "
    "window + conditional decimal deltas; one shuffle)",
)
def q_counter_increase(spark, sf_dir):
    from .operators.resample import counter_increase

    e = T(spark, sf_dir, "events").filter(F.col("user_id") < 50)
    return counter_increase(
        e, key="user_id", ts="ts", value="value", order_tiebreak="event_id"
    )


@declare(
    "q_data_quality_report",
    """
    WITH w AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN event_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS v0,
             CAST(SUM(CASE WHEN value IS NOT NULL AND (value < 0 OR value > 100) THEN 1 ELSE 0 END) AS BIGINT) AS v1,
             CAST(SUM(CASE WHEN event_type IS NOT NULL AND event_type NOT IN ('click','view','purchase','signup') THEN 1 ELSE 0 END) AS BIGINT) AS v2,
             CAST(SUM(CASE WHEN event_type IS NOT NULL AND NOT regexp_matches(event_type, '^[a-z]+$') THEN 1 ELSE 0 END) AS BIGINT) AS v3
      FROM events
    ),
    uq AS (
      SELECT CAST(COALESCE(SUM(c - 1), 0) AS BIGINT) AS v,
             CAST(COALESCE(SUM(c), 0) AS BIGINT) AS n
      FROM (SELECT COUNT(*) AS c FROM events GROUP BY event_id)
    ),
    ri AS (
      SELECT CAST(COUNT(CASE WHEN c.c_custkey IS NULL THEN 1 END) AS BIGINT) AS v,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM (SELECT o_custkey FROM orders WHERE o_custkey IS NOT NULL) o
      LEFT JOIN (SELECT DISTINCT c_custkey FROM customer) c
        ON o.o_custkey = c.c_custkey
    ),
    r AS (
      SELECT CAST(0 AS BIGINT) AS rule_id, 'not_null' AS rule,
             'event_id' AS "column", v0 AS n_violations, n AS n_checked
      FROM w
      UNION ALL SELECT 1, 'in_range', 'value', v1, n FROM w
      UNION ALL SELECT 2, 'in_set', 'event_type', v2, n FROM w
      UNION ALL SELECT 3, 'matches', 'event_type', v3, n FROM w
      UNION ALL SELECT 4, 'unique', 'event_id', v, n FROM uq
      UNION ALL SELECT 5, 'ref_integrity', 'o_custkey', v, n FROM ri
    )
    SELECT *, CASE WHEN n_checked > 0
                   THEN ROUND(CAST(n_violations AS DOUBLE) / n_checked, 6)
                   ELSE 0.0 END AS violation_frac
    FROM r
    """,
    doc="declarative data-quality assertion suite ("
    "operators/profile.py data_quality_report — the expectations "
    "surface a warehouse runs before serving a table): six rules over "
    "events + orders->customer referential integrity, one report row "
    "per rule with violation counts and fractions. The in_range "
    "[0,100] and in_set (excluding 'error') rules are deliberately "
    "violated so non-zero counts are certified, not just zeros. "
    "Scale shape: all four row-local rules fuse into ONE wide "
    "conditional aggregate — the whole rule set costs one scan "
    "(profile_columns' one-pass trick); unique is one map-side-"
    "combining groupBy; ref_integrity is a LEFT ANTI against the "
    "broadcast dimension keys; the two 1-row count frames glue via "
    "the constant-key broadcast (attach_scalar), never a cartesian.",
)
def q_data_quality_report(spark, sf_dir):
    from .operators.profile import data_quality_report

    e = T(spark, sf_dir, "events")
    o = T(spark, sf_dir, "orders")
    c = T(spark, sf_dir, "customer")
    rules = [
        {"rule": "not_null", "col": "event_id"},
        {"rule": "in_range", "col": "value", "lo": 0, "hi": 100},
        {"rule": "in_set", "col": "event_type",
         "values": ["click", "view", "purchase", "signup"]},
        {"rule": "matches", "col": "event_type", "pattern": "^[a-z]+$"},
        {"rule": "unique", "cols": ["event_id"]},
    ]
    report_e = data_quality_report(e, rules)
    report_o = data_quality_report(
        o.select(F.col("o_custkey")),
        [{"rule": "ref_integrity", "col": "o_custkey", "ref": "customer",
          "ref_col": "c_custkey"}],
        refs={"customer": c},
    ).select(
        (F.col("rule_id") + 5).alias("rule_id"),
        "rule", "column", "n_violations", "n_checked", "violation_frac",
    )
    return report_e.unionByName(report_o)


@declare(
    "q_merge_upsert",
    """
    WITH t AS (
      SELECT event_id, ts, user_id, event_type, value FROM events
    ),
    s AS (
      SELECT event_id, 'patched' AS event_type,
             CAST(value * 2 AS DOUBLE) AS value
      FROM events WHERE event_id % 5 = 0
      UNION ALL
      SELECT event_id + 10000000, 'inserted',
             CAST(value + 1000 AS DOUBLE)
      FROM events WHERE event_id % 7 = 3
    ),
    upd AS (
      SELECT t.event_id, t.ts, t.user_id,
             CASE WHEN s.event_id IS NOT NULL
                  THEN s.event_type ELSE t.event_type END AS event_type,
             CASE WHEN s.event_id IS NOT NULL
                  THEN s.value ELSE t.value END AS value
      FROM t LEFT JOIN s ON t.event_id = s.event_id
    ),
    ins AS (
      SELECT s.event_id, CAST(NULL AS TIMESTAMP) AS ts,
             CAST(NULL AS BIGINT) AS user_id, s.event_type, s.value
      FROM s LEFT JOIN t ON t.event_id = s.event_id
      WHERE t.event_id IS NULL
    )
    SELECT * FROM upd UNION ALL SELECT * FROM ins
    """,
    doc="bulk MERGE INTO semantics on immutable frames ("
    "operators/scd2.py merge_upsert — the set-level sibling of the "
    "reference's R2 point update, main.rs:106-117): WHEN MATCHED "
    "update (event_type, value) to the source's values, WHEN NOT "
    "MATCHED insert with NULLs in the columns the source lacks. "
    "Fixture: every 5th event patched, every 7th re-keyed +1e7 as an "
    "insert. Scale shape = the scd2_apply decomposition: the target "
    "NEVER shuffles — updates ride target LEFT OUTER "
    "broadcast(source), inserts ride source LEFT ANTI "
    "broadcast(matched keys from target SEMI broadcast(source)); a "
    "full-outer join (which can broadcast neither side) never "
    "appears.",
)
def q_merge_upsert(spark, sf_dir):
    from .operators.scd2 import merge_upsert

    e = T(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    updates = e.filter(F.col("event_id") % 5 == 0).select(
        "event_id",
        F.lit("patched").alias("event_type"),
        (F.col("value") * 2).cast("double").alias("value"),
    )
    inserts = e.filter(F.col("event_id") % 7 == 3).select(
        (F.col("event_id") + 10_000_000).alias("event_id"),
        F.lit("inserted").alias("event_type"),
        (F.col("value") + 1000).cast("double").alias("value"),
    )
    return merge_upsert(
        e, updates.unionByName(inserts), keys=["event_id"],
        update_cols=["event_type", "value"],
    )


@declare(
    "q_promql_irate",
    """
    WITH r AS (
      SELECT user_id,
             CAST(value AS DECIMAL(28,12)) AS v,
             epoch_us(ts) AS tus,
             row_number() OVER (
               PARTITION BY user_id ORDER BY ts DESC, event_id DESC
             ) AS rn
      FROM events WHERE user_id < 50
    ),
    p AS (
      SELECT user_id,
             MAX(CASE WHEN rn = 1 THEN v END) AS vl,
             MAX(CASE WHEN rn = 2 THEN v END) AS vp,
             MAX(CASE WHEN rn = 1 THEN tus END) AS tl,
             MAX(CASE WHEN rn = 2 THEN tus END) AS tp
      FROM r WHERE rn <= 2 GROUP BY user_id
    )
    SELECT user_id,
           CAST(vl - vp AS DOUBLE) AS idelta,
           CAST(CASE WHEN vp IS NULL THEN NULL
                     WHEN vl - vp >= 0 THEN vl - vp ELSE vl END
                AS DOUBLE) AS iinc,
           CASE WHEN tl - tp > 0 THEN
             CAST(CASE WHEN vp IS NULL THEN NULL
                       WHEN vl - vp >= 0 THEN vl - vp ELSE vl END
                  AS DOUBLE) / CAST(tl - tp AS DOUBLE) * 1e6
           END AS irate_per_second,
           tl - tp AS gap_us
    FROM p
    """,
    doc="PromQL irate()/idelta() — instantaneous rate from the LAST "
    "TWO samples per series (operators/resample.py "
    "counter_irate), completing the counter family next to rate()/"
    "increase()/predict_linear()/deriv(): raw last-pair delta (gauge "
    "idelta), reset-corrected instantaneous increase, and "
    "per-second irate, NULL on degenerate series exactly like "
    "PromQL. One rank window ordered ts-desc with row_number() <= 2 "
    "— WindowGroupLimit prunes each group to 2 rows before anything "
    "buffers — then a tiny grouped pivot; exact-decimal deltas, "
    "(ts, event_id) total order on ties.",
)
def q_promql_irate(spark, sf_dir):
    from .operators.resample import counter_irate

    e = T(spark, sf_dir, "events").filter(F.col("user_id") < 50)
    return counter_irate(
        e, key="user_id", ts="ts", value="value", order_tiebreak="event_id"
    )


@declare(
    "q_table_diff",
    """
    WITH old AS (
      SELECT event_id, event_type, user_id,
             CAST(value AS DECIMAL(18,2)) AS value
      FROM events
    ),
    new AS (
      SELECT event_id,
             CASE WHEN event_id % 11 = 3 THEN 'mutated'
                  ELSE event_type END AS event_type,
             user_id,
             CASE WHEN event_id % 7 = 2
                  THEN CAST(value AS DECIMAL(18,2)) + 1
                  ELSE CAST(value AS DECIMAL(18,2)) END AS value
      FROM events WHERE event_id % 13 <> 5
      UNION ALL
      SELECT event_id + 10000000, 'inserted', user_id,
             CAST(value AS DECIMAL(18,2))
      FROM events WHERE event_id % 17 = 1
    )
    SELECT COALESCE(o.event_id, n.event_id) AS event_id,
           CASE WHEN o.event_id IS NULL THEN 'added'
                WHEN n.event_id IS NULL THEN 'removed'
                WHEN (o.event_type IS DISTINCT FROM n.event_type)
                  OR (o.user_id IS DISTINCT FROM n.user_id)
                  OR (o.value IS DISTINCT FROM n.value)
                THEN 'changed' END AS change_type,
           CASE WHEN o.event_id IS NULL OR n.event_id IS NULL THEN ''
                ELSE array_to_string(list_filter([
                  CASE WHEN o.event_type IS DISTINCT FROM n.event_type
                       THEN 'event_type' END,
                  CASE WHEN o.user_id IS DISTINCT FROM n.user_id
                       THEN 'user_id' END,
                  CASE WHEN o.value IS DISTINCT FROM n.value
                       THEN 'value' END
                ], x -> x IS NOT NULL), ',') END AS changed_cols
    FROM old o FULL OUTER JOIN new n USING (event_id)
    WHERE o.event_id IS NULL OR n.event_id IS NULL
       OR (o.event_type IS DISTINCT FROM n.event_type)
       OR (o.user_id IS DISTINCT FROM n.user_id)
       OR (o.value IS DISTINCT FROM n.value)
    """,
    doc="snapshot diff (operators/scd2.py table_diff) — the "
    "release-validation primitive before swapping a rebuilt table "
    "in: one row per key whose presence or compared values changed "
    "(added/removed/changed + the comma-joined sorted list of "
    "differing columns, NULL-safe per column), identical keys "
    "produce NO row so the report is diff-sized. The fixture "
    "mutates event_type on one stripe, bumps value on another "
    "(overlap -> multi-column changed_cols), deletes a third and "
    "inserts clones — every change_type and a two-column diff all "
    "exercised. Shuffle shape: ONE co-keyed full-outer join "
    "(table-scale both sides — bucket on keys at 100 TB); all "
    "comparisons row-local JVM work after it.",
)
def q_table_diff(spark, sf_dir):
    from .operators.scd2 import table_diff

    e = T(spark, sf_dir, "events").select(
        "event_id", "event_type", "user_id",
        dec(F.col("value"), 2).alias("value")
    )
    mutated = e.filter(F.col("event_id") % 13 != 5).select(
        "event_id",
        F.when(F.col("event_id") % 11 == 3, F.lit("mutated"))
        .otherwise(F.col("event_type")).alias("event_type"),
        "user_id",
        F.when(F.col("event_id") % 7 == 2, F.col("value") + 1)
        .otherwise(F.col("value")).alias("value"),
    )
    inserted = e.filter(F.col("event_id") % 17 == 1).select(
        (F.col("event_id") + 10_000_000).alias("event_id"),
        F.lit("inserted").alias("event_type"),
        "user_id",
        "value",
    )
    new = mutated.unionByName(inserted)
    return table_diff(e, new, keys=["event_id"])


@declare(
    "q_pagerank",
    """
    WITH e AS (
      SELECT DISTINCT 's' || CAST(l_suppkey AS VARCHAR) AS src,
                      'c' || CAST(o_custkey AS VARCHAR) AS dst
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    ),
    nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
    od AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS outdeg
           FROM e GROUP BY src),
    r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS r FROM nodes),
    c1 AS (
      SELECT e.dst AS node, SUM(r0.r // od.outdeg) AS sc
      FROM e JOIN r0 ON e.src = r0.node JOIN od ON e.src = od.src
      GROUP BY e.dst
    ),
    r1 AS (
      SELECT n.node,
             CAST(150000 + (850 * COALESCE(c1.sc, 0)) // 1000 AS BIGINT) AS r
      FROM nodes n LEFT JOIN c1 ON n.node = c1.node
    ),
    c2 AS (
      SELECT e.dst AS node, SUM(r1.r // od.outdeg) AS sc
      FROM e JOIN r1 ON e.src = r1.node JOIN od ON e.src = od.src
      GROUP BY e.dst
    ),
    r2 AS (
      SELECT n.node,
             CAST(150000 + (850 * COALESCE(c2.sc, 0)) // 1000 AS BIGINT) AS r
      FROM nodes n LEFT JOIN c2 ON n.node = c2.node
    ),
    c3 AS (
      SELECT e.dst AS node, SUM(r2.r // od.outdeg) AS sc
      FROM e JOIN r2 ON e.src = r2.node JOIN od ON e.src = od.src
      GROUP BY e.dst
    ),
    r3 AS (
      SELECT n.node,
             CAST(150000 + (850 * COALESCE(c3.sc, 0)) // 1000 AS BIGINT) AS r
      FROM nodes n LEFT JOIN c3 ON n.node = c3.node
    )
    SELECT node, r AS rank_micro FROM r3
    """,
    doc="integer-exact PageRank (operators/graph.py "
    "pagerank) over the supplier->customer supply graph (distinct "
    "(l_suppkey, o_custkey) pairs, domain-prefixed so the two key "
    "spaces cannot collide) — the link-authority prior web-corpus "
    "curation uses as a document-quality weight; completes the graph "
    "family next to dedup's connected components. Ranks are integer "
    "MICRO-units with per-edge r div outdeg and damping "
    "(850*sum) div 1000 — every step order-independent integer "
    "arithmetic, so 3 unrolled iterations hash-match DuckDB exactly "
    "(floating PageRank could not). Dangling mass dropped; no-inlink "
    "nodes hold the 0.15 base — documented variant. Per iteration: "
    "one src-keyed join + one dst-keyed aggregate (two co-keyed "
    "shuffles); checkpoint between iterations past ~8 like "
    "duplicate_clusters.",
)
def q_pagerank(spark, sf_dir):
    from .operators.graph import pagerank

    li = T(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = T(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    edges = li.join(o, li["l_orderkey"] == o["o_orderkey"]).select(
        F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("src"),
        F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias("dst"),
    )
    return pagerank(edges, iterations=3)


@declare(
    "q_token_budget_sample",
    """
    WITH toks AS (
      SELECT doc_id, source, lang,
             CAST(len(list_filter(string_split(lower(text), ' '),
                                  x -> len(x) > 0)) AS BIGINT) AS n_tok,
             md5('budget' || CAST(doc_id AS VARCHAR)) AS hk,
             CASE WHEN source = 'src0' THEN 400
                  WHEN source = 'src1' THEN 150
                  ELSE 60 END AS budget
      FROM documents
    ),
    run AS (
      SELECT doc_id, source, lang, n_tok, budget,
             CAST(COALESCE(SUM(n_tok) OVER (
               PARTITION BY source ORDER BY hk, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ), 0) AS BIGINT) AS tokens_before
      FROM toks
    )
    SELECT doc_id, source, lang, n_tok, tokens_before
    FROM run WHERE tokens_before < budget
    """,
    doc="per-domain TOKEN-budget selection (operators/"
    "sampling.py token_budget_sample): training mixtures are "
    "specified in tokens, not documents — per domain, docs order by "
    "their deterministic md5 sampling key (an unbiased, "
    "engine-stable shuffle) and are kept while the running token "
    "total BEFORE the candidate is under the domain's budget (the "
    "crossing doc is kept — fill-until-enough semantics). src0 gets "
    "400 tokens, src1 150, everything else the 60-token default. "
    "ONE domain-keyed cumulative-sum window + map-side filter — the "
    "per-series cumulative-analytic plan; salt the window per the "
    "docstring if a single domain outgrows a reducer at 100 TB.",
)
def q_token_budget_sample(spark, sf_dir):
    from .operators.sampling import token_budget_sample

    d = T(spark, sf_dir, "documents").select(
        "doc_id", "source", "lang", "text"
    )
    out = token_budget_sample(
        d, {"src0": 400, "src1": 150}, id_col="doc_id",
        text_col="text", domain_col="source", default_budget=60,
    )
    return out.select("doc_id", "source", "lang", "n_tok", "tokens_before")


@declare(
    "q_promql_changes",
    """
    WITH s AS (
      SELECT user_id, CAST(value AS DECIMAL(28,12)) AS v,
             row_number() OVER (
               PARTITION BY user_id ORDER BY ts, event_id
             ) AS rn,
             lag(CAST(value AS DECIMAL(28,12))) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
             ) AS pv
      FROM events WHERE user_id < 60
    )
    SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_samples,
           CAST(SUM(CASE WHEN rn > 1 AND v IS DISTINCT FROM pv
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_changes
    FROM s GROUP BY user_id
    """,
    doc="PromQL changes() — consecutive-sample value changes per "
    "series (operators/resample.py gauge_changes), the "
    "flapping-detection alert primitive completing the counter/gauge "
    "range family next to rate()/increase()/irate()/resets. First "
    "sample counts no change (PromQL parity); the comparison is "
    "NULL-safe in exact decimal. One lag window + one aggregate on "
    "the series key — a single co-keyed shuffle, the "
    "counter_increase plan.",
)
def q_promql_changes(spark, sf_dir):
    from .operators.resample import gauge_changes

    e = T(spark, sf_dir, "events").filter(F.col("user_id") < 60)
    return gauge_changes(
        e, key="user_id", ts="ts", value="value", order_tiebreak="event_id"
    )


@declare(
    "q_dedup_clusters",
    """
    WITH RECURSIVE toks AS (
      SELECT doc_id, list_filter(string_split(lower(text), ' '), t -> len(t) > 0) AS ws
      FROM documents
    ),
    grams AS (
      SELECT DISTINCT doc_id, gram FROM (
        SELECT doc_id,
               array_to_string(ws[i:i+2], ' ') AS gram
        FROM toks, (SELECT unnest(generate_series(1, 4000)) AS i) idx
        WHERE i <= greatest(len(ws) - 2, 1)
      )
    ),
    sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM grams GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(COUNT(*) AS BIGINT) AS i
      FROM grams a JOIN grams b ON a.gram = b.gram AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    ),
    pairs AS (
      SELECT id_a, id_b FROM inter
      JOIN sizes sa ON sa.doc_id = id_a
      JOIN sizes sb ON sb.doc_id = id_b
      WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.35
    ),
    edges AS (
      SELECT id_a AS a, id_b AS b FROM pairs
      UNION SELECT id_b, id_a FROM pairs
    ),
    reach(id, r) AS (
      SELECT a, a FROM (SELECT DISTINCT a FROM edges) t
      UNION
      SELECT e.a, reach.r FROM edges e JOIN reach ON e.b = reach.id
    )
    SELECT id AS doc_id, CAST(MIN(r) AS BIGINT) AS cluster_id
    FROM reach GROUP BY id
    """,
    doc="connected components over exact n-gram near-dup pairs "
    "(iterative min-label propagation with localCheckpoint'd lineage; "
    "oracle = DuckDB recursive-CTE transitive closure over the same "
    "pair predicate) — dup GROUPS, the step after pair generation",
)
def q_dedup_clusters(spark, sf_dir):
    from .operators.dedup import dedup_clusters

    d = T(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(d, "doc_id", "text", n=3, threshold=0.35)
    return dedup_clusters(pairs)


@declare(
    "q_linear_interp",
    """
    WITH obs AS (
      SELECT user_id, ts, CAST(MAX(value) AS DECIMAL(18,2)) AS v, 1 AS is_obs
      FROM events WHERE user_id < 10
      GROUP BY user_id, ts
    ),
    bounds AS (SELECT user_id, MIN(ts) lo, MAX(ts) hi FROM obs GROUP BY user_id),
    spine AS (
      SELECT user_id, unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS ts,
             CAST(NULL AS DECIMAL(18,2)) AS v, 0 AS is_obs
      FROM bounds
    ),
    u AS (SELECT * FROM obs UNION ALL SELECT * FROM spine),
    filled AS (
      SELECT user_id, ts, is_obs,
             last_value(v IGNORE NULLS) OVER w_back AS pv,
             last_value(CASE WHEN v IS NOT NULL THEN ts END IGNORE NULLS) OVER w_back AS pt,
             first_value(v IGNORE NULLS) OVER w_fwd AS nv,
             first_value(CASE WHEN v IS NOT NULL THEN ts END IGNORE NULLS) OVER w_fwd AS nt
      FROM u
      WINDOW
        w_back AS (PARTITION BY user_id ORDER BY ts, is_obs DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        w_fwd AS (PARTITION BY user_id ORDER BY ts, is_obs DESC
                  ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    )
    SELECT user_id, ts,
           ROUND(CASE WHEN pt = ts THEN CAST(pv AS DOUBLE)
                 ELSE CAST(pv AS DOUBLE) + CAST(nv - pv AS DOUBLE) *
                      (CASE WHEN date_diff('microsecond', pt, nt) = 0 THEN 0.0
                            ELSE CAST(date_diff('microsecond', pt, ts) AS DOUBLE)
                                 / CAST(date_diff('microsecond', pt, nt) AS DOUBLE) END)
                 END, 6) AS value_interp
    FROM filled
    WHERE is_obs = 0 AND pv IS NOT NULL AND (nv IS NOT NULL OR pt = ts)
    """,
    doc="linear-interpolation resampling to a daily grid (LOCF's smooth "
    "sibling): spine ∪ obs, back/forward ignore-nulls frames over ONE "
    "sort; exact-µs ratio × exact-decimal delta → engine-agnostic",
)
def q_linear_interp(spark, sf_dir):
    from .operators.resample import linear_interp_fill

    e = T(spark, sf_dir, "events").filter(F.col("user_id") < 10)
    # one observation per (user, instant): deterministic MAX reduce, so
    # window tie-order cannot leak into the interpolation inputs
    obs = e.groupBy("user_id", "ts").agg(F.max("value").alias("value"))
    return linear_interp_fill(obs, key="user_id", ts="ts", value="value",
                              step="1 day")


@declare(
    "q_histogram",
    """
    SELECT event_type,
           CAST(FLOOR(value / 5.0) AS INTEGER) AS bin,
           CAST(COUNT(*) AS BIGINT) AS n,
           MIN(value) AS lo,
           MAX(value) AS hi
    FROM events
    GROUP BY event_type, CAST(FLOOR(value / 5.0) AS INTEGER)
    """,
    doc="fixed-width value histogram per event type (binning + grouped "
    "extrema; floor of an identical double division on both engines)",
)
def q_histogram(spark, sf_dir):
    e = T(spark, sf_dir, "events")
    return (
        e.withColumn("bin", F.floor(F.col("value") / 5.0).cast("int"))
        .groupBy("event_type", "bin")
        .agg(
            F.count("*").alias("n"),
            F.min("value").alias("lo"),
            F.max("value").alias("hi"),
        )
    )


# ======================================================================
# Training-pipeline ops (packing, mixture sampling), sequence
# analytics (transitions, EWMA), corpus stats (bigram vocab, TF-IDF),
# exact-sum regression, deterministic mode, TPC-H Q7
# ======================================================================

@declare(
    "q_sequence_packing",
    """
    WITH t AS (
      SELECT doc_id,
             len(list_filter(string_split(lower(text), ' '), x -> len(x) > 0)) AS n_tok,
             CAST(('0x' || substr(md5('pack' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 8 AS shard,
             md5('pack' || CAST(doc_id AS VARCHAR)) AS hk
      FROM documents
    ),
    packed AS (
      SELECT shard, n_tok,
             CAST(FLOOR((SUM(n_tok) OVER (
                 PARTITION BY shard ORDER BY hk, doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) - n_tok) / 512.0) AS BIGINT) AS pack_id
      FROM t
    )
    SELECT shard, pack_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
           ROUND(CAST(SUM(n_tok) AS BIGINT) / 512.0, 6) AS fill_ratio
    FROM packed GROUP BY shard, pack_id
    """,
    doc="sequence packing for LLM training: greedy sequential assignment "
    "of docs into 512-token packs, sharded by id-hash so every sort is "
    "shard-local (parallelism = #shards at any data size); md5 order "
    "makes the assignment deterministic and oracle-replayable",
)
def q_sequence_packing(spark, sf_dir):
    from .operators.packing import pack_stats

    d = T(spark, sf_dir, "documents").withColumn(
        "n_tok",
        F.size(F.filter(F.split(F.lower(F.col("text")), " "),
                        lambda x: F.length(x) > 0)),
    )
    return pack_stats(d, "doc_id", "n_tok", budget=512, shards=8)


@declare(
    "q_weighted_domain_sample",
    """
    SELECT doc_id, source FROM documents
    WHERE CAST(('0x' || substr(md5('mix' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 10000
          < CASE source WHEN 'src0' THEN 10000 WHEN 'src1' THEN 5000
                        WHEN 'src2' THEN 2500 ELSE 1000 END
    """,
    doc="data-mixture sampling: per-domain keep rates (100%/50%/25%, "
    "10% default) decided by an independent id-hash per row — a pure "
    "map-side filter encoding the training-mixture recipe; composes "
    "with scan pushdown, shuffles nothing",
)
def q_weighted_domain_sample(spark, sf_dir):
    from .operators.sampling import weighted_sample

    d = T(spark, sf_dir, "documents")
    return weighted_sample(
        d, "source", "doc_id",
        {"src0": 1.0, "src1": 0.5, "src2": 0.25},
        default_rate=0.1, salt="mix",
    ).select("doc_id", "source")


@declare(
    "q_event_transitions",
    """
    WITH t AS (
      SELECT event_type,
             lead(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
             ) AS next_type
      FROM events
    )
    SELECT event_type, next_type, CAST(COUNT(*) AS BIGINT) AS n
    FROM t WHERE next_type IS NOT NULL
    GROUP BY event_type, next_type
    """,
    doc="markov transition counts over per-user event sequences (lead "
    "window + grouped count): the user-path/funnel-adjacency matrix; "
    "one shuffle on user_id, one on the transition pair",
)
def q_event_transitions(spark, sf_dir):
    e = T(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        e.withColumn("next_type", F.lead("event_type").over(w))
        .filter(F.col("next_type").isNotNull())
        .groupBy("event_type", "next_type")
        .agg(F.count("*").alias("n"))
    )


@declare(
    "q_tpch_q7_volume_shipping",
    """
    SELECT supp_nation, cust_nation, l_year,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * CAST(1 - l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue
    FROM (
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             CAST(EXTRACT(year FROM l_shipdate) AS INTEGER) AS l_year,
             l_extendedprice, l_discount
      FROM supplier, lineitem, orders, customer, nation n1, nation n2
      WHERE s_suppkey = l_suppkey AND o_orderkey = l_orderkey
        AND c_custkey = o_custkey AND s_nationkey = n1.n_nationkey
        AND c_nationkey = n2.n_nationkey
        AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
          OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
        AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
    )
    GROUP BY supp_nation, cust_nation, l_year
    """,
    doc="TPC-H Q7 shape (volume shipping between two nations): 4-way "
    "fact join + two broadcast nation legs with an OR-pair predicate; "
    "exact-decimal revenue. Refs SURVEY §2.2 join family.",
)
def q_tpch_q7(spark, sf_dir):
    li = T(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01 00:00:00")
        & (F.col("l_shipdate") < "1998-01-01 00:00:00")
    )
    o = T(spark, sf_dir, "orders")
    c = T(spark, sf_dir, "customer")
    s = T(spark, sf_dir, "supplier")
    n1 = T(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = T(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | (
        (F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1")
    )
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(s, li["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .filter(pair)
        .withColumn("l_year", F.year("l_shipdate"))
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(
            F.sum(
                dec(F.col("l_extendedprice")) * dec(F.lit(1) - F.col("l_discount"))
            )
            .cast("double")
            .alias("revenue")
        )
    )


@declare(
    "q_ewma",
    """
    WITH t AS (
      SELECT event_id, event_type, value,
             lag(value, 1) OVER w AS x1, lag(value, 2) OVER w AS x2,
             lag(value, 3) OVER w AS x3, lag(value, 4) OVER w AS x4,
             lag(value, 5) OVER w AS x5, lag(value, 6) OVER w AS x6,
             lag(value, 7) OVER w AS x7,
             row_number() OVER w AS rn
      FROM events
      WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)
    )
    SELECT event_id, event_type,
           ROUND((0.5e0 * value + 0.25e0 * x1 + 0.125e0 * x2
                  + 0.0625e0 * x3 + 0.03125e0 * x4 + 0.015625e0 * x5
                  + 0.0078125e0 * x6 + 0.00390625e0 * x7) / 0.99609375e0,
                 6) AS ewma
    FROM t WHERE rn > 7
    """,
    doc="exponential moving average (alpha=0.5, 8-term truncated kernel) "
    "per series: the closed-form windowed expression replaces the "
    "sequential recurrence, so it runs as ONE window sort instead of a "
    "stateful scan; power-of-two weights are exact doubles, making the "
    "result bit-identical across engines",
)
def q_ewma(spark, sf_dir):
    e = T(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    weights = [0.5, 0.25, 0.125, 0.0625, 0.03125, 0.015625,
               0.0078125, 0.00390625]
    x = [F.col("value")] + [F.lag("value", j).over(w) for j in range(1, 8)]
    num = F.lit(weights[0]) * x[0]
    for wj, xj in zip(weights[1:], x[1:]):
        num = num + F.lit(wj) * xj
    return (
        e.withColumn("_rn", F.row_number().over(w))
        .withColumn("ewma", F.round(num / F.lit(0.99609375), 6))
        .filter(F.col("_rn") > 7)
        .select("event_id", "event_type", "ewma")
    )


@declare(
    "q_bigram_vocab",
    """
    WITH t AS (
      SELECT list_filter(string_split(lower(text), ' '), x -> len(x) > 0) AS ws
      FROM documents
    ),
    b AS (
      SELECT unnest(list_transform(range(1, greatest(len(ws), 1)),
                                   i -> ws[i] || ' ' || ws[i + 1])) AS bigram
      FROM t
    )
    SELECT bigram, CAST(COUNT(*) AS BIGINT) AS n
    FROM b GROUP BY bigram ORDER BY n DESC, bigram LIMIT 50
    """,
    doc="corpus bigram vocabulary top-50 (tokenize -> adjacent-pair "
    "HOF -> explode -> count -> deterministic top-k): the n-gram "
    "statistics pass of a tokenizer-training pipeline, all JVM-side",
)
def q_bigram_vocab(spark, sf_dir):
    from .operators.dedup import word_grams

    d = T(spark, sf_dir, "documents")
    t = F.filter(F.split(F.lower(F.col("text")), " "),
                 lambda s: F.length(s) > 0)
    n = F.size(t)
    # word_grams, not per-element element_at over the captured
    # tokenization (O(n²) per doc — see word_grams' docstring)
    bigrams = F.when(
        n >= 2, word_grams(t, 2)
    ).otherwise(F.array().cast("array<string>"))
    return (
        d.select(F.explode(bigrams).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), "bigram")
        .limit(50)
    )


@declare(
    "q_domain_kl_divergence",
    """
    WITH tok AS (
      SELECT source,
             unnest(list_filter(string_split(lower(text), ' '),
                                x -> len(x) > 0)) AS w
      FROM documents
    ),
    sw AS (
      SELECT source, w, CAST(COUNT(*) AS BIGINT) AS c_sw
      FROM tok GROUP BY source, w
    ),
    cw AS (SELECT w, SUM(c_sw) AS c_w FROM sw GROUP BY w),
    ns AS (SELECT source, SUM(c_sw) AS n_s FROM sw GROUP BY source),
    n AS (SELECT SUM(c_sw) AS n FROM sw)
    SELECT sw.source,
           CAST(ns.n_s AS BIGINT) AS n_tokens,
           ROUND(SUM(
             (CAST(c_sw AS DOUBLE) / n_s)
             * ln((CAST(c_sw AS DOUBLE) / n_s) / (CAST(c_w AS DOUBLE) / n))
           ), 6) AS kl_nats
    FROM sw JOIN cw USING (w) JOIN ns USING (source), n
    GROUP BY sw.source, ns.n_s
    """,
    doc="per-source unigram KL divergence vs the whole corpus — the "
    "domain-drift statistic a mixture pipeline monitors (a source "
    "whose KL jumps changed its content distribution; the natural "
    "companion to temperature_sample's rate table). Sum over words "
    "PRESENT in the source of p_ws·ln(p_ws/q_w) with unsmoothed exact "
    "count ratios (well-defined: corpus count >= source count > 0). "
    "Shape: one (source, word) count aggregate; the corpus word "
    "counts derive from IT (groupBy word over the per-source counts "
    "— never a second scan), totals ride the constant-key broadcast, "
    "one final per-source sum. Float division deferred to the "
    "summed terms, rounded at 6 after the per-source fold.",
)
def q_domain_kl_divergence(spark, sf_dir):
    from .operators.dedup import word_tokens

    d = T(spark, sf_dir, "documents")
    sw = (
        d.select("source", F.explode(word_tokens("text")).alias("w"))
        .groupBy("source", "w")
        .agg(F.count(F.lit(1)).alias("c_sw"))
    )
    cw = sw.groupBy("w").agg(F.sum("c_sw").alias("c_w"))
    ns = sw.groupBy("source").agg(F.sum("c_sw").alias("n_s"))
    one = lambda c: F.least(  # noqa: E731
        F.lit(1), F.greatest(F.lit(1), F.abs(c) + 1)
    ).cast("long")
    n_tot = sw.agg(
        F.sum("c_sw").alias("n"),
        F.least(F.lit(1), F.greatest(F.lit(1), F.count(F.lit(1))))
        .cast("long").alias("_k"),
    )
    term = (F.col("c_sw").cast("double") / F.col("n_s")) * F.log(
        (F.col("c_sw").cast("double") / F.col("n_s"))
        / (F.col("c_w").cast("double") / F.col("n"))
    )
    return (
        sw.join(cw, "w")
        .join(F.broadcast(ns), "source")
        .withColumn("_k", one(F.col("c_sw")))
        .join(F.broadcast(n_tot), "_k")
        .groupBy("source", "n_s")
        .agg(F.round(F.sum(term), 6).alias("kl_nats"))
        .select(
            "source",
            F.col("n_s").cast("bigint").alias("n_tokens"),
            "kl_nats",
        )
    )


@declare(
    "q_linear_regression",
    """
    WITH t AS (
      SELECT event_type,
             epoch_us(ts) // 1000000 - 1704067200 AS x,
             CAST(value AS DECIMAL(18,2)) AS y
      FROM events
    ),
    s AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n,
             SUM(x) AS sx, SUM(y) AS sy,
             SUM(x * y) AS sxy, SUM(x * x) AS sxx, SUM(y * y) AS syy
      FROM t GROUP BY event_type
    )
    SELECT event_type, n,
           ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
                 / CAST(n * sxx - sx * sx AS DOUBLE), 6) AS slope,
           ROUND((CAST(sy AS DOUBLE)
                  - CAST(n * sxy - sx * sy AS DOUBLE)
                    / CAST(n * sxx - sx * sx AS DOUBLE)
                    * CAST(sx AS DOUBLE)) / n, 6) AS intercept,
           ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
                 * CAST(n * sxy - sx * sy AS DOUBLE)
                 / (CAST(n * sxx - sx * sx AS DOUBLE)
                    * CAST(n * syy - sy * sy AS DOUBLE)), 6) AS r2
    FROM s
    """,
    doc="per-group OLS (slope/intercept/R^2) of value vs time from "
    "EXACT integer/decimal sufficient statistics — a single grouped "
    "agg (map-side partials, no second pass), with the float division "
    "deferred to the 5-row result so both engines round identically",
)
def q_linear_regression(spark, sf_dir):
    e = T(spark, sf_dir, "events")
    x = (F.expr("unix_micros(ts) div 1000000") - F.lit(1704067200)).alias("x")
    y = dec(F.col("value")).alias("y")
    # every sum is decimal(38,*): x ~ 2.6e6 s, so BIGINT sum(x*x) is
    # already ~9e18 at sf0.01 — within 3% of the long limit — and the
    # n*sxx product overflows outright at sf0.1 under ANSI mode.
    # DuckDB's integer sums are 128-bit (hugeint), so only this side
    # needs the widening; the exact values are unchanged.
    s = (
        e.select(F.col("event_type"), x, y)
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("x").cast("decimal(38,0)")).alias("sx"),
            F.sum("y").alias("sy"),
            F.sum((F.col("x") * F.col("y")).cast("decimal(38,2)")).alias("sxy"),
            F.sum((F.col("x") * F.col("x")).cast("decimal(38,0)")).alias("sxx"),
            F.sum((F.col("y") * F.col("y")).cast("decimal(38,4)")).alias("syy"),
        )
    )
    # the n*S and S*S products stay EXACT: Spark caps decimal multiply
    # precision at 38, which only rounds if the VALUE outgrows 38
    # digits — these stay ~1e21-1e25 at any realistic sf. Cast to
    # double happens once, after exact arithmetic, same as the oracle.
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    den = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    deny = (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    return s.select(
        "event_type",
        "n",
        F.round(num / den, 6).alias("slope"),
        F.round(
            (F.col("sy").cast("double") - num / den * F.col("sx").cast("double"))
            / F.col("n"),
            6,
        ).alias("intercept"),
        F.round(num * num / (den * deny), 6).alias("r2"),
    )


@declare(
    "q_predict_linear",
    """
    WITH t AS (
      SELECT event_type,
             epoch_us(ts) // 1000000 - 1704067200 AS x,
             CAST(value AS DECIMAL(18,2)) AS y
      FROM events
    ),
    s AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n,
             SUM(x) AS sx, SUM(y) AS sy,
             SUM(x * y) AS sxy, SUM(x * x) AS sxx,
             MAX(x) AS xmax
      FROM t GROUP BY event_type
    ),
    d AS (
      SELECT event_type, n, xmax,
             CAST(n * sxy - sx * sy AS DOUBLE) AS num,
             CAST(n * sxx - sx * sx AS DOUBLE) AS den,
             CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd
      FROM s
    ),
    e AS (
      SELECT event_type, n, xmax,
             CASE WHEN den <> 0 THEN num / den END AS slope,
             (syd - CASE WHEN den <> 0 THEN num / den END * sxd) / n AS icept
      FROM d
    )
    SELECT event_type, n,
           ROUND(slope, 6) AS slope_per_second,
           ROUND(icept + slope * CAST(xmax + 300 AS DOUBLE), 6) AS predicted_value,
           make_timestamp((xmax + 300 + 1704067200) * 1000000) AS at_ts
    FROM e
    """,
    doc="PromQL predict_linear()/deriv() (operators/resample.py "
    "predict_linear): per-series least-squares GAUGE trend "
    "extrapolated 300 s past the series' last sample — completes the "
    "PromQL family next to rate()/increase()/histogram_quantile. ONE "
    "grouped aggregate of exact integer/decimal sufficient statistics "
    "(the q_linear_regression pattern; decimal(38) widenings for ANSI "
    "overflow), float division deferred to the #series-row result so "
    "both engines round identically; degenerate series answer NULL, "
    "exactly PromQL's no-answer.",
)
def q_predict_linear(spark, sf_dir):
    from .operators.resample import predict_linear

    e = T(spark, sf_dir, "events")
    return predict_linear(
        e, key="event_type", ts="ts", value="value", horizon_seconds=300
    )


@declare(
    "q_bm25_topk",
    """
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split(lower(text), ' '), x -> len(x) > 0) AS ws
      FROM documents
    ),
    stats AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
             AVG(len(ws)) AS avgdl
      FROM toks
    ),
    hits AS (
      SELECT doc_id, CAST(len(ws) AS DOUBLE) AS dl,
             unnest(list_filter(ws,
               x -> list_contains(['hash', 'merge', 'scan', 'slow'], x)
             )) AS t
      FROM toks
    ),
    tf AS (
      SELECT doc_id, dl, t, CAST(COUNT(*) AS DOUBLE) AS tf
      FROM hits GROUP BY 1, 2, 3
    ),
    dfq AS (SELECT t, CAST(COUNT(*) AS DOUBLE) AS dft FROM tf GROUP BY t),
    scored AS (
      SELECT doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_terms_hit,
             ROUND(SUM(
               ln(1 + (n_docs - dft + 0.5) / (dft + 0.5))
               * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))
             ), 6) AS bm25
      FROM tf CROSS JOIN stats JOIN dfq USING (t)
      GROUP BY doc_id
    )
    SELECT doc_id, n_terms_hit, bm25
    FROM scored ORDER BY bm25 DESC, doc_id LIMIT 50
    """,
    doc="Okapi BM25 top-k lexical retrieval (operators/"
    "retrieval.py bm25_topk) — the candidate generator for RAG "
    "corpora, eval-set mining, and targeted decontamination: top 50 "
    "docs by Lucene-flavor BM25 (k1=1.2, b=0.75, idf = ln(1+(N-df+.5)"
    "/(df+.5))) against a 4-term query. Scale shape: the token array "
    "is HOF-filtered against the literal term set BEFORE the explode "
    "(fan-out O(matches), not O(corpus tokens)); N/avgdl ride the "
    "constant-key broadcast; the idf table is a <=|terms|-row "
    "broadcast join; selection plans as TakeOrderedAndProject. "
    "Scores round at 6 decimals after the <=|terms|-summand per-doc "
    "sum; ties break on doc_id so the SET is engine-reproducible.",
)
def q_bm25_topk(spark, sf_dir):
    from .operators.retrieval import bm25_topk

    d = T(spark, sf_dir, "documents")
    return bm25_topk(
        d, ["hash", "merge", "scan", "slow"], id_col="doc_id",
        text_col="text", k=50,
    )


@declare(
    "q_bm25_index",
    """
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split(lower(text), ' '), x -> len(x) > 0) AS ws
      FROM documents WHERE doc_id % 10 <> 7
    ),
    stats AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
             AVG(len(ws)) AS avgdl
      FROM toks
    ),
    hits AS (
      SELECT doc_id, CAST(len(ws) AS DOUBLE) AS dl,
             unnest(list_filter(ws,
               x -> list_contains(['dup', 'filter', 'sort', 'stream', 'vector'], x)
             )) AS t
      FROM toks
    ),
    tf AS (
      SELECT doc_id, dl, t, CAST(COUNT(*) AS DOUBLE) AS tf
      FROM hits GROUP BY 1, 2, 3
    ),
    dfq AS (SELECT t, CAST(COUNT(*) AS DOUBLE) AS dft FROM tf GROUP BY t),
    scored AS (
      SELECT doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_terms_hit,
             ROUND(SUM(
               ln(1 + (n_docs - dft + 0.5) / (dft + 0.5))
               * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))
             ), 6) AS bm25
      FROM tf CROSS JOIN stats JOIN dfq USING (t)
      GROUP BY doc_id
    )
    SELECT doc_id, n_terms_hit, bm25
    FROM scored ORDER BY bm25 DESC, doc_id LIMIT 40
    """,
    doc="PERSISTED BM25 postings index (operators/"
    "retrieval.py Bm25Index — the IvfIndex precedent applied to "
    "lexical retrieval): build once as term-sharded parquet postings "
    "+ df rows + a Hadoop-FS stats manifest, then serve query "
    "batches at INDEX-sized cost — the driver md5-shards its literal "
    "terms, the scan lists ONLY those shard directories "
    "(PartitionFilters, plan-asserted in tests/test_retrieval.py) "
    "with `term IN` pushed into the parquet inside them. This slot "
    "certifies the INCREMENTAL path end-to-end: build on ~3/4 of "
    "documents, add() the rest (postings + df-delta appends + "
    "manifest bump), then remove() every doc_id % 10 == 7 ("
    "tombstones + manifest decrement; query() drops tombstoned "
    "candidates AND subtracts their per-term df inside the probed "
    "shards), query — and the oracle is the DuckDB BM25 over the "
    "LIVE corpus (doc_id % 10 <> 7), so both the add and the "
    "logical delete must be exact, not approximately right.",
)
def q_bm25_index(spark, sf_dir):
    from .operators.retrieval import Bm25Index

    d = T(spark, sf_dir, "documents")
    path = os.path.join(_fixture_dir("q_bm25_index"), "bm25")
    idx = Bm25Index(spark, path).build(d.filter(F.col("doc_id") % 4 != 1))
    idx.add(d.filter(F.col("doc_id") % 4 == 1))
    idx.remove(d.filter(F.col("doc_id") % 10 == 7).select("doc_id"))
    return idx.query(["dup", "filter", "sort", "stream", "vector"], k=40)


@declare(
    "q_bm25_stream_indexed",
    """
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split(lower(text), ' '), x -> len(x) > 0) AS ws
      FROM documents
    ),
    stats AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
             AVG(len(ws)) AS avgdl
      FROM toks
    ),
    hits AS (
      SELECT doc_id, CAST(len(ws) AS DOUBLE) AS dl,
             unnest(list_filter(ws,
               x -> list_contains(['batch', 'key', 'window'], x)
             )) AS t
      FROM toks
    ),
    tf AS (
      SELECT doc_id, dl, t, CAST(COUNT(*) AS DOUBLE) AS tf
      FROM hits GROUP BY 1, 2, 3
    ),
    dfq AS (SELECT t, CAST(COUNT(*) AS DOUBLE) AS dft FROM tf GROUP BY t),
    scored AS (
      SELECT doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_terms_hit,
             ROUND(SUM(
               ln(1 + (n_docs - dft + 0.5) / (dft + 0.5))
               * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))
             ), 6) AS bm25
      FROM tf CROSS JOIN stats JOIN dfq USING (t)
      GROUP BY doc_id
    )
    SELECT doc_id, n_terms_hit, bm25
    FROM scored ORDER BY bm25 DESC, doc_id LIMIT 30
    """,
    doc="STREAMING BM25 index maintenance, oracle-certified end-to-end "
    "(streaming/index.py start_bm25_index_sink): the index "
    "is built on ~60% of documents, the rest arrive as a JSON "
    "drop-dir stream in two mtime-ordered micro-batches applied by "
    "the REAL foreachBatch sink (Bm25Index.add postings + df-delta "
    "appends, manifest last_applied_batch watermark making replays "
    "idempotent — contract unit-tested in tests/test_retrieval.py), "
    "then the index serves the query and the ORACLE IS THE "
    "FULL-CORPUS DuckDB BM25 — any missed batch, double-applied "
    "replay, or df-delta miscount diverges the hash.",
)
def q_bm25_stream_indexed(spark, sf_dir):
    import glob
    import json

    from .operators.retrieval import Bm25Index
    from .streaming.index import start_bm25_index_sink

    root = _fixture_dir("q_bm25_stream_indexed")
    path = os.path.join(root, "bm25")
    src = os.path.join(root, "drop")

    d = T(spark, sf_dir, "documents").select("doc_id", "text")
    base = d.filter(F.col("doc_id") % 5 < 3)
    stream_docs = d.filter(F.col("doc_id") % 5 >= 3)
    Bm25Index(spark, path).build(base)

    # micro-batch 0: one coalesced file; micro-batch 1: a second file
    # mtime-ordered after it
    stream_docs.filter(F.col("doc_id") % 5 == 3).coalesce(1) \
        .write.mode("overwrite").json(src)
    p2 = os.path.join(src, "zz_batch2.json")
    with open(p2, "w") as f:
        for r in stream_docs.filter(F.col("doc_id") % 5 == 4).collect():
            f.write(json.dumps({"doc_id": r.doc_id, "text": r.text}) + "\n")
    latest = max(
        os.path.getmtime(p) for p in glob.glob(os.path.join(src, "part-*"))
    )
    os.utime(p2, (latest + 10, latest + 10))

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", "1")
        .json(src)
    )
    q = start_bm25_index_sink(
        stream, path, os.path.join(root, "ckpt"), available_now=True
    )
    if not q.awaitTermination(300):
        q.stop()
        raise RuntimeError("bm25 index stream did not drain in 300s")

    idx = Bm25Index(spark, path)
    if idx._manifest()["last_applied_batch"] < 1:
        raise RuntimeError("expected two applied micro-batches")
    return idx.query(["batch", "key", "window"], k=30)


@declare(
    "q_hybrid_rrf",
    """
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split(lower(text), ' '), x -> len(x) > 0) AS ws
      FROM documents
    ),
    stats AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
             AVG(len(ws)) AS avgdl
      FROM toks
    ),
    hits AS (
      SELECT doc_id, CAST(len(ws) AS DOUBLE) AS dl,
             unnest(list_filter(ws,
               x -> list_contains(['hash', 'merge', 'scan', 'slow'], x)
             )) AS t
      FROM toks
    ),
    tf AS (
      SELECT doc_id, dl, t, CAST(COUNT(*) AS DOUBLE) AS tf
      FROM hits GROUP BY 1, 2, 3
    ),
    dfq AS (SELECT t, CAST(COUNT(*) AS DOUBLE) AS dft FROM tf GROUP BY t),
    bm AS (
      SELECT doc_id,
             ROUND(SUM(
               ln(1 + (n_docs - dft + 0.5) / (dft + 0.5))
               * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))
             ), 6) AS bm25
      FROM tf CROSS JOIN stats JOIN dfq USING (t)
      GROUP BY doc_id
      ORDER BY bm25 DESC, doc_id LIMIT 50
    ),
    qv AS (SELECT embedding AS v FROM embeddings WHERE vec_id = 0),
    cos AS (
      SELECT c.vec_id AS doc_id,
             list_aggregate(list_transform(list_zip(c.embedding, qv.v),
                            p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), 'sum')
             / (sqrt(list_aggregate(list_transform(c.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))
              * sqrt(list_aggregate(list_transform(qv.v, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))) AS cs
      FROM embeddings c, qv
      ORDER BY cs DESC, doc_id LIMIT 50
    ),
    ranked AS (
      SELECT doc_id,
             row_number() OVER (ORDER BY bm25 DESC, doc_id) AS r
      FROM bm
      UNION ALL
      SELECT doc_id,
             row_number() OVER (ORDER BY cs DESC, doc_id) AS r
      FROM cos
    )
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_lists,
           ROUND(SUM(1.0 / (60 + r)), 6) AS rrf
    FROM ranked GROUP BY doc_id
    ORDER BY rrf DESC, doc_id LIMIT 25
    """,
    doc="hybrid retrieval via reciprocal-rank fusion ("
    "operators/retrieval.py rrf_fuse — Cormack et al. 2009, the "
    "standard BM25-union-dense combiner in RAG stacks): the BM25 "
    "top-50 lexical list and the exact cosine top-50 dense list "
    "(query = embedding 0) fuse by 1/(60+rank) — only RANKS cross "
    "the list boundary, never score scales — and the top 25 fused "
    "candidates return. Scale shape: each retriever runs its own "
    "distributed plan (filtered-explode inverted index; broadcast-"
    "query brute cosine); the fusion itself ranks a <= 2*k-row "
    "union, broadcast-scale by construction. Oracle recomputes both "
    "lists and the fusion in DuckDB SQL; ranks make the hash immune "
    "to score-scale drift, so any retriever-ordering or fusion "
    "regression diverges it.",
)
def q_hybrid_rrf(spark, sf_dir):
    from .operators.retrieval import bm25_topk, rrf_fuse
    from .operators.similarity import cosine_topk

    d = T(spark, sf_dir, "documents")
    emb = T(spark, sf_dir, "embeddings")
    bm = bm25_topk(
        d, ["hash", "merge", "scan", "slow"], id_col="doc_id",
        text_col="text", k=50,
    )
    qv = emb.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    cos = cosine_topk(
        emb, qv, k=50, corpus_id="vec_id", corpus_vec="embedding",
        query_id="query_id", query_vec="embedding",
    ).select(F.col("vec_id").alias("doc_id"), "cos_sim")
    return rrf_fuse(
        {"lexical": (bm, "bm25"), "dense": (cos, "cos_sim")},
        id_col="doc_id", k=25,
    )


@declare(
    "q_tfidf_top_terms",
    """
    WITH tok AS (
      SELECT doc_id,
             unnest(list_filter(string_split(lower(text), ' '),
                                x -> len(x) > 0)) AS term
      FROM documents
    ),
    tf AS (
      SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
      FROM tok GROUP BY doc_id, term
    ),
    df AS (
      SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term
    ),
    nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS nd FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.term, tf.tf,
             CAST(tf.tf AS DOUBLE)
             * (CAST(nd.nd AS DOUBLE) / CAST(df.df AS DOUBLE)) AS score
      FROM tf JOIN df USING (term) CROSS JOIN nd
    )
    SELECT doc_id, term, tf, ROUND(score, 6) AS score
    FROM (
      SELECT *, row_number() OVER (
               PARTITION BY doc_id ORDER BY score DESC, term
             ) AS rn
      FROM scored
    ) WHERE rn <= 3
    """,
    doc="top-3 distinctive terms per doc by log-free TF-IDF "
    "(tf * N/df — rational in exact ints, so cross-engine "
    "deterministic where log() is not): df is a window count over the "
    "tf rows, so ONE documents scan and one term exchange replace the "
    "self-join re-aggregation; the doc-count side is a broadcast scalar",
)
def q_tfidf_top_terms(spark, sf_dir):
    d = T(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id",
        F.explode(
            F.filter(F.split(F.lower(F.col("text")), " "),
                     lambda s: F.length(s) > 0)
        ).alias("term"),
    )
    tf = tok.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    # tf rows are unique per (doc, term), so the per-term row count IS
    # the document frequency — a window count reuses tf's shuffle
    # output instead of re-scanning documents for a df aggregate.
    df_w = Window.partitionBy("term")
    nd = d.agg(F.count("*").alias("nd"))
    scored = (
        attach_scalar(tf.withColumn("df", F.count("*").over(df_w)), nd)
        .withColumn(
            "score",
            F.col("tf").cast("double")
            * (F.col("nd").cast("double") / F.col("df").cast("double")),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), "term")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("doc_id", "term", "tf", F.round("score", 6).alias("score"))
    )


@declare(
    "q_mode_per_group",
    """
    SELECT event_type, user_id, n FROM (
      SELECT event_type, user_id, CAST(COUNT(*) AS BIGINT) AS n,
             row_number() OVER (
               PARTITION BY event_type ORDER BY COUNT(*) DESC, user_id
             ) AS rn
      FROM events GROUP BY event_type, user_id
    ) WHERE rn = 1
    """,
    doc="deterministic mode: heaviest user per event type with a total "
    "tie-break (count desc, id asc) — the tie rule engines' built-in "
    "mode() leaves unspecified; grouped count + 1-row-per-group window",
)
def q_mode_per_group(spark, sf_dir):
    e = T(spark, sf_dir, "events")
    g = e.groupBy("event_type", "user_id").agg(F.count("*").alias("n"))
    w = Window.partitionBy("event_type").orderBy(F.col("n").desc(), "user_id")
    return (
        g.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("event_type", "user_id", "n")
    )


@declare(
    "q_merge_intervals",
    """
    WITH iv AS (
      SELECT user_id, ts AS lo,
             ts + INTERVAL 10 MINUTE AS hi,
             event_id
      FROM events WHERE event_type = 'error'
    ),
    marked AS (
      SELECT user_id, lo, hi, event_id,
             CASE WHEN lo > max(hi) OVER (
                    PARTITION BY user_id ORDER BY lo, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                  OR max(hi) OVER (
                    PARTITION BY user_id ORDER BY lo, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
                  THEN 1 ELSE 0 END AS new_island
      FROM iv
    ),
    islands AS (
      SELECT user_id, lo, hi,
             CAST(SUM(new_island) OVER (
               PARTITION BY user_id ORDER BY lo, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS BIGINT) AS island
      FROM marked
    )
    SELECT user_id, island, MIN(lo) AS win_start, MAX(hi) AS win_end,
           CAST(COUNT(*) AS BIGINT) AS n_merged
    FROM islands GROUP BY user_id, island
    """,
    doc="interval coalescing (merge overlapping fault windows per key): "
    "running-max island detection — a window cummax + cumsum replaces "
    "the self-join formulation, one sort per key, linear not quadratic; "
    "the arbitrary-overlap sibling of the regular-grid gaps-and-islands",
)
def q_merge_intervals(spark, sf_dir):
    e = T(spark, sf_dir, "events").filter(F.col("event_type") == "error")
    iv = e.select(
        "user_id",
        F.col("ts").alias("lo"),
        (F.col("ts") + F.expr("INTERVAL 10 MINUTES")).alias("hi"),
        "event_id",
    )
    w_prev = (
        Window.partitionBy("user_id")
        .orderBy("lo", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prev_hi = F.max("hi").over(w_prev)
    marked = iv.withColumn(
        "new_island",
        F.when((F.col("lo") > prev_hi) | prev_hi.isNull(), 1).otherwise(0),
    )
    w_cum = (
        Window.partitionBy("user_id")
        .orderBy("lo", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    islands = marked.withColumn("island", F.sum("new_island").over(w_cum))
    return islands.groupBy("user_id", "island").agg(
        F.min("lo").alias("win_start"),
        F.max("hi").alias("win_end"),
        F.count("*").alias("n_merged"),
    )


@declare(
    "q_tpch_q6_forecast_revenue",
    """
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
    doc="TPC-H Q6 shape: pure scan-side conjunctive filter + one exact "
    "decimal agg — every predicate reaches the parquet scan, zero "
    "joins, one shuffle of 1-row partials",
)
def q_tpch_q6(spark, sf_dir):
    li = T(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= "1996-01-01 00:00:00")
            & (F.col("l_shipdate") < "1997-01-01 00:00:00")
            & F.col("l_discount").between(0.05, 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum(dec(F.col("l_extendedprice")) * dec(F.col("l_discount")))
            .cast("double")
            .alias("revenue")
        )
    )


@declare(
    "q_tpch_q14_promo_revenue",
    """
    WITH j AS (
      SELECT p_type,
             CAST(l_extendedprice AS DECIMAL(18,2))
             * CAST(1 - l_discount AS DECIMAL(18,2)) AS dp
      FROM lineitem JOIN part ON l_partkey = p_partkey
      WHERE l_shipdate >= TIMESTAMP '1996-09-01 00:00:00'
        AND l_shipdate < TIMESTAMP '1996-10-01 00:00:00'
    )
    SELECT ROUND(100.0e0 * CAST(SUM(CASE WHEN p_type = 'PROMO' THEN dp END) AS DOUBLE)
                 / CAST(SUM(dp) AS DOUBLE), 6) AS promo_revenue
    FROM j
    """,
    doc="TPC-H Q14 shape: fact-dim join + conditional exact-decimal "
    "agg ratio (promo revenue share); part is un-hinted — AQE "
    "broadcasts at test scale, degrades to shuffle join at 100 TB",
)
def q_tpch_q14(spark, sf_dir):
    li = T(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-09-01 00:00:00")
        & (F.col("l_shipdate") < "1996-10-01 00:00:00")
    )
    p = T(spark, sf_dir, "part")
    dp = dec(F.col("l_extendedprice")) * dec(F.lit(1) - F.col("l_discount"))
    j = li.join(p, li["l_partkey"] == p["p_partkey"]).select(
        "p_type", dp.alias("dp")
    )
    return j.agg(
        F.round(
            F.lit(100.0)
            * F.sum(F.when(F.col("p_type") == "PROMO", F.col("dp"))).cast("double")
            / F.sum("dp").cast("double"),
            6,
        ).alias("promo_revenue")
    )


@declare(
    "q_tpch_q19_disjunctive_join",
    """
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * CAST(1 - l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
           AND l_quantity BETWEEN 1 AND 11)
       OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 25
           AND l_quantity BETWEEN 10 AND 20)
       OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 35
           AND l_quantity BETWEEN 20 AND 30)
    """,
    doc="TPC-H Q19 shape: equi-join with a 3-arm disjunctive residual "
    "predicate mixing both sides — Catalyst keeps the equi-key for the "
    "join and evaluates the OR as a post-join filter (never a "
    "cartesian); per-arm single-side conjuncts are pushed to the scans",
)
def q_tpch_q19(spark, sf_dir):
    li = T(spark, sf_dir, "lineitem")
    p = T(spark, sf_dir, "part")
    arm = lambda brand, smax, qlo, qhi: (
        (F.col("p_brand") == brand)
        & F.col("p_size").between(1, smax)
        & F.col("l_quantity").between(qlo, qhi)
    )
    return (
        li.join(p, li["l_partkey"] == p["p_partkey"])
        .filter(arm("Brand#1", 15, 1, 11) | arm("Brand#2", 25, 10, 20)
                | arm("Brand#3", 35, 20, 30))
        .agg(
            F.sum(dec(F.col("l_extendedprice")) * dec(F.lit(1) - F.col("l_discount")))
            .cast("double")
            .alias("revenue")
        )
    )


@declare(
    "q_dedup_keep_canonical",
    """
    WITH RECURSIVE toks AS (
      SELECT doc_id, list_filter(string_split(lower(text), ' '), t -> len(t) > 0) AS ws
      FROM documents
    ),
    grams AS (
      SELECT DISTINCT doc_id, gram FROM (
        SELECT doc_id,
               array_to_string(ws[i:i+2], ' ') AS gram
        FROM toks, (SELECT unnest(generate_series(1, 4000)) AS i) idx
        WHERE i <= greatest(len(ws) - 2, 1)
      )
    ),
    sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM grams GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(COUNT(*) AS BIGINT) AS i
      FROM grams a JOIN grams b ON a.gram = b.gram AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    ),
    pairs AS (
      SELECT id_a, id_b FROM inter
      JOIN sizes sa ON sa.doc_id = id_a
      JOIN sizes sb ON sb.doc_id = id_b
      WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.35
    ),
    edges AS (
      SELECT id_a AS a, id_b AS b FROM pairs
      UNION SELECT id_b, id_a FROM pairs
    ),
    reach(id, r) AS (
      SELECT a, a FROM (SELECT DISTINCT a FROM edges) t
      UNION
      SELECT e.a, reach.r FROM edges e JOIN reach ON e.b = reach.id
    ),
    dropped AS (
      SELECT id FROM reach GROUP BY id HAVING CAST(MIN(r) AS BIGINT) <> id
    )
    SELECT d.doc_id, d.source, CAST(d.n_chars AS BIGINT) AS n_chars
    FROM documents d
    WHERE d.doc_id NOT IN (SELECT id FROM dropped)
    """,
    doc="dedup DELETION (the step after clustering): keep the min-id "
    "canonical doc per near-dup cluster, anti-join the rest out of the "
    "corpus — identification (q_dedup_clusters) through removal as one "
    "pipeline; the anti-join side is the tiny cluster-membership table",
)
def q_dedup_keep_canonical(spark, sf_dir):
    from .operators.dedup import dedup_clusters

    d = T(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(d, "doc_id", "text", n=3, threshold=0.35)
    clusters = dedup_clusters(pairs)
    dropped = clusters.filter(F.col("doc_id") != F.col("cluster_id")).select(
        "doc_id"
    )
    return d.join(dropped, "doc_id", "left_anti").select(
        "doc_id", "source", F.col("n_chars").cast("long").alias("n_chars")
    )


@declare(
    "q_contamination_check",
    """
    WITH split AS (
      SELECT doc_id, text,
             CASE WHEN CAST(('0x' || substr(md5('split' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 10000 < 9000 THEN 'train'
                  WHEN CAST(('0x' || substr(md5('split' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 10000 < 9500 THEN 'val'
                  ELSE 'test' END AS split
      FROM documents
    ),
    toks AS (
      SELECT doc_id, split,
             list_filter(string_split(lower(text), ' '), t -> len(t) > 0) AS ws
      FROM split
    ),
    grams AS (
      SELECT DISTINCT doc_id, split,
             ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS gram
      FROM toks, (SELECT unnest(range(1, 4000)) AS i) idx
      WHERE i <= len(ws) - 2
    ),
    train_grams AS (SELECT DISTINCT gram FROM grams WHERE split = 'train'),
    eval_grams AS (SELECT doc_id, gram FROM grams WHERE split = 'test')
    SELECT e.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_shingles,
           CAST(COUNT(t.gram) AS BIGINT) AS n_matched,
           ROUND(CAST(COUNT(t.gram) AS DOUBLE) / COUNT(*), 6) AS containment
    FROM eval_grams e LEFT JOIN train_grams t ON e.gram = t.gram
    GROUP BY e.doc_id
    """,
    doc="train/eval contamination check (decontamination): 3-gram "
    "shingle containment of each held-out doc against the TRAIN "
    "shingle set — the published eval-leakage methodology as one "
    "distinct + one equi-join + one grouped count; shingle keys are "
    "plain token strings (engine-agnostic), split is the md5 "
    "hash_split so both engines derive identical membership",
)
def q_contamination_check(spark, sf_dir):
    from .operators.dedup import word_grams
    from .operators.sampling import hash_split

    d = hash_split(T(spark, sf_dir, "documents"), "doc_id")
    t = F.filter(F.split(F.lower(F.col("text")), " "),
                 lambda s: F.length(s) > 0)
    n = F.size(t)
    # word_grams, not per-element element_at over the captured
    # tokenization (O(n²) per doc — see word_grams' docstring)
    grams = F.when(
        n >= 3, word_grams(t, 3)
    ).otherwise(F.array().cast("array<string>"))
    with_grams = d.select(
        "doc_id", "split", F.explode(grams).alias("gram")
    ).distinct()
    train_grams = (
        with_grams.filter(F.col("split") == "train").select("gram").distinct()
    )
    eval_grams = with_grams.filter(F.col("split") == "test").select(
        "doc_id", "gram"
    )
    hit = train_grams.withColumn("_hit", F.lit(1))
    return (
        eval_grams.join(hit, "gram", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_shingles"),
            F.count("_hit").alias("n_matched"),
            F.round(F.count("_hit").cast("double") / F.count("*"), 6)
            .alias("containment"),
        )
    )


@declare(
    "q_rolling_corr",
    """
    WITH t AS (
      SELECT user_id, ts, event_id,
             CAST(value AS DECIMAL(18,2)) AS y,
             CAST(epoch_us(ts) // 1000000 - 1704067200 AS BIGINT) AS x
      FROM events WHERE user_id < 5
    ),
    s AS (
      SELECT user_id, event_id, ts,
             CAST(COUNT(*)  OVER w AS BIGINT) AS n,
             SUM(x)         OVER w AS sx,
             SUM(y)         OVER w AS sy,
             SUM(x * y)     OVER w AS sxy,
             SUM(x * x)     OVER w AS sxx,
             SUM(y * y)     OVER w AS syy
      FROM t
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
    )
    SELECT user_id, event_id,
           ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
                 / SQRT(CAST(n * sxx - sx * sx AS DOUBLE)
                        * CAST(n * syy - sy * sy AS DOUBLE)), 6) AS corr20
    FROM s WHERE n = 20
    """,
    doc="rolling 20-row correlation of value vs time per user: EXACT "
    "int/decimal sufficient statistics inside ONE window frame, float "
    "math only on the final row — the deterministic form of a rolling "
    "corr, same single-sort cost as any frame aggregate",
)
def q_rolling_corr(spark, sf_dir):
    e = T(spark, sf_dir, "events").filter(F.col("user_id") < 5)
    t = e.select(
        "user_id", "ts", "event_id",
        dec(F.col("value")).alias("y"),
        (F.expr("unix_micros(ts) div 1000000") - F.lit(1704067200))
        .cast("bigint").alias("x"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-19, Window.currentRow)
    )
    s = t.select(
        "user_id", "event_id", "ts",
        F.count("*").over(w).alias("n"),
        F.sum("x").over(w).alias("sx"),
        F.sum("y").over(w).alias("sy"),
        F.sum(F.col("x") * F.col("y")).over(w).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).over(w).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).over(w).alias("syy"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    denx = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    deny = (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    return (
        s.filter(F.col("n") == 20)
        .select(
            "user_id", "event_id",
            F.round(num / F.sqrt(denx * deny), 6).alias("corr20"),
        )
    )


@declare(
    "q_training_corpus_pipeline",
    """
    WITH RECURSIVE base AS (
      SELECT doc_id, source, text,
             list_filter(string_split(lower(text), ' '), x -> len(x) > 0) AS ws
      FROM documents
    ),
    q AS (  -- stage 1: quality gate on token count
      SELECT doc_id, source, text, ws, len(ws) AS n_tok
      FROM base WHERE len(ws) BETWEEN 10 AND 100000
    ),
    keep_exact AS (  -- stage 2: exact dedup, keep min-id per content hash
      SELECT MIN(doc_id) AS doc_id FROM (
        SELECT doc_id,
               md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fp
        FROM q
      ) GROUP BY fp
    ),
    d2 AS (SELECT q.* FROM q JOIN keep_exact USING (doc_id)),
    grams AS (  -- stage 3: near-dup 3-gram shingles over survivors
      -- LATERAL per-row series: cap-free, so arbitrarily long docs
      -- (quality gate admits up to 100k tokens) cannot diverge from
      -- the engine's uncapped word_shingles
      SELECT DISTINCT doc_id, gram FROM (
        SELECT doc_id, array_to_string(ws[i:i+2], ' ') AS gram
        FROM d2, LATERAL (
          SELECT unnest(generate_series(1, greatest(len(d2.ws) - 2, 1))) AS i
        ) idx
      )
    ),
    sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n
              FROM grams GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(COUNT(*) AS BIGINT) AS i
      FROM grams a JOIN grams b ON a.gram = b.gram AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    ),
    pairs AS (
      SELECT id_a, id_b FROM inter
      JOIN sizes sa ON sa.doc_id = id_a
      JOIN sizes sb ON sb.doc_id = id_b
      WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.35
    ),
    edges AS (
      SELECT id_a AS a, id_b AS b FROM pairs
      UNION SELECT id_b, id_a FROM pairs
    ),
    reach(id, r) AS (  -- connected components (transitive closure)
      SELECT a, a FROM (SELECT DISTINCT a FROM edges) t
      UNION
      SELECT e.a, reach.r FROM edges e JOIN reach ON e.b = reach.id
    ),
    dropped AS (SELECT id FROM reach GROUP BY id HAVING MIN(r) <> id),
    d3 AS (SELECT * FROM d2 WHERE doc_id NOT IN (SELECT id FROM dropped)),
    d4 AS (  -- stage 6a: split assignment (default 90/5/5, salt 'split')
      SELECT *,
        CASE WHEN CAST(('0x' || substr(md5('split' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 10000 < 9000 THEN 'train'
             WHEN CAST(('0x' || substr(md5('split' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 10000 < 9500 THEN 'val'
             ELSE 'test' END AS split
      FROM d3
    ),
    cg AS (  -- stage 4: contamination 3-grams (pre-mixture corpus;
             -- LATERAL = cap-free, consistent with the grams stage)
      SELECT DISTINCT doc_id, split,
             ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS gram
      FROM d4, LATERAL (
        SELECT unnest(generate_series(1, d4.n_tok - 2)) AS i
      ) idx
      WHERE n_tok >= 3
    ),
    held AS (SELECT DISTINCT gram FROM cg WHERE split = 'test'),
    contam AS (
      SELECT c.doc_id FROM cg c LEFT JOIN held h ON c.gram = h.gram
      WHERE c.split = 'train'
      GROUP BY c.doc_id
      HAVING CAST(COUNT(h.gram) AS DOUBLE) / COUNT(*) > 0.8
    ),
    d5 AS (SELECT * FROM d4
           WHERE doc_id NOT IN (SELECT doc_id FROM contam)),
    d6 AS (  -- stage 5: mixture sampling (src0 100%, src1 50%, 80% default)
      SELECT * FROM d5
      WHERE CAST(('0x' || substr(md5('mix' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 10000
            < CASE source WHEN 'src0' THEN 10000 WHEN 'src1' THEN 5000
                          ELSE 8000 END
    ),
    tp AS (  -- stage 7: pack the train split (budget 256, 4 shards)
      SELECT doc_id, source, n_tok, split, shard, hk,
             CAST(FLOOR((SUM(n_tok) OVER (
                 PARTITION BY shard ORDER BY hk, doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) - n_tok) / 256.0) AS BIGINT) AS pack_id
      FROM (
        SELECT *,
               CAST(('0x' || substr(md5('pack' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 4 AS shard,
               md5('pack' || CAST(doc_id AS VARCHAR)) AS hk
        FROM d6 WHERE split = 'train'
      )
    )
    SELECT doc_id, source, CAST(n_tok AS INTEGER) AS n_tok, split,
           CAST(shard AS BIGINT) AS shard, pack_id,
           CAST(row_number() OVER (
             PARTITION BY shard, pack_id ORDER BY hk, doc_id
           ) - 1 AS BIGINT) AS pack_pos
    FROM tp
    UNION ALL
    SELECT doc_id, source, CAST(n_tok AS INTEGER) AS n_tok, split,
           CAST(NULL AS BIGINT) AS shard, CAST(NULL AS BIGINT) AS pack_id,
           CAST(NULL AS BIGINT) AS pack_pos
    FROM d6 WHERE split <> 'train'
    """,
    doc="END-TO-END corpus pipeline (pipelines.py): quality gate -> "
    "exact dedup -> near-dup keep-canonical -> decontamination -> "
    "mixture -> split -> packing, as ONE lazy plan. The oracle is the "
    "CTE composition of the seven individually-verified stage oracles "
    "(q_quality_filter_pipeline, q_dedup_exact, q_dedup_clusters, "
    "q_hash_split, q_contamination_check, q_weighted_domain_sample, "
    "q_sequence_packing) — stage order and salts mirror "
    "CorpusPipelineConfig(min_tokens=10, mixture src0=1.0/src1=0.5/"
    "default=0.8, pack_budget=256, pack_shards=4); "
    "tests/test_pipelines.py asserts stage effects + determinism",
)
def q_training_corpus_pipeline(spark, sf_dir):
    from .pipelines import CorpusPipelineConfig, build_training_corpus

    docs = T(spark, sf_dir, "documents")
    cfg = CorpusPipelineConfig(
        min_tokens=10,
        mixture={"src0": 1.0, "src1": 0.5},
        mixture_default=0.8,
        pack_budget=256,
        pack_shards=4,
    )
    return build_training_corpus(docs, cfg)


@declare(
    "q_corpus_pipeline_dsir",
    """
    WITH RECURSIVE base AS (
      SELECT doc_id, source, text,
             list_filter(string_split(lower(text), ' '), x -> len(x) > 0) AS ws
      FROM documents
    ),
    q AS (
      SELECT doc_id, source, text, ws, len(ws) AS n_tok
      FROM base WHERE len(ws) BETWEEN 10 AND 100000
    ),
    keep_exact AS (
      SELECT MIN(doc_id) AS doc_id FROM (
        SELECT doc_id,
               md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fp
        FROM q
      ) GROUP BY fp
    ),
    d2 AS (SELECT q.* FROM q JOIN keep_exact USING (doc_id)),
    grams AS (
      SELECT DISTINCT doc_id, gram FROM (
        SELECT doc_id, array_to_string(ws[i:i+2], ' ') AS gram
        FROM d2, LATERAL (
          SELECT unnest(generate_series(1, greatest(len(d2.ws) - 2, 1))) AS i
        ) idx
      )
    ),
    sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n
              FROM grams GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(COUNT(*) AS BIGINT) AS i
      FROM grams a JOIN grams b ON a.gram = b.gram AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    ),
    pairs AS (
      SELECT id_a, id_b FROM inter
      JOIN sizes sa ON sa.doc_id = id_a
      JOIN sizes sb ON sb.doc_id = id_b
      WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.35
    ),
    edges AS (
      SELECT id_a AS a, id_b AS b FROM pairs
      UNION SELECT id_b, id_a FROM pairs
    ),
    reach(id, r) AS (
      SELECT a, a FROM (SELECT DISTINCT a FROM edges) t
      UNION
      SELECT e.a, reach.r FROM edges e JOIN reach ON e.b = reach.id
    ),
    dropped AS (SELECT id FROM reach GROUP BY id HAVING MIN(r) <> id),
    d3 AS (SELECT * FROM d2 WHERE doc_id NOT IN (SELECT id FROM dropped)),
    d4 AS (
      SELECT *,
        CASE WHEN CAST(('0x' || substr(md5('split' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 10000 < 9000 THEN 'train'
             WHEN CAST(('0x' || substr(md5('split' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 10000 < 9500 THEN 'val'
             ELSE 'test' END AS split
      FROM d3
    ),
    cg AS (
      SELECT DISTINCT doc_id, split,
             ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS gram
      FROM d4, LATERAL (
        SELECT unnest(generate_series(1, d4.n_tok - 2)) AS i
      ) idx
      WHERE n_tok >= 3
    ),
    held AS (SELECT DISTINCT gram FROM cg WHERE split = 'test'),
    contam AS (
      SELECT c.doc_id FROM cg c LEFT JOIN held h ON c.gram = h.gram
      WHERE c.split = 'train'
      GROUP BY c.doc_id
      HAVING CAST(COUNT(h.gram) AS DOUBLE) / COUNT(*) > 0.8
    ),
    d5 AS (SELECT * FROM d4
           WHERE doc_id NOT IN (SELECT doc_id FROM contam)),
    -- stage 5 (DSIR): hashed-bigram importance weights over the whole
    -- post-decontamination corpus, target = source 'src0'
    bgp AS (
      SELECT doc_id, ws[i] || ' ' || ws[i+1] AS gram
      FROM d5, LATERAL (
        SELECT unnest(generate_series(1, d5.n_tok - 1)) AS i
      ) idx
      WHERE n_tok >= 2
    ),
    fdp AS (
      SELECT doc_id,
             CAST(('0x' || substr(md5(gram), 1, 8)) AS BIGINT) % 1024 AS b,
             COUNT(*) AS c
      FROM bgp GROUP BY 1, 2
    ),
    fcp AS (
      SELECT f.doc_id, b, c, (d5.source = 'src0') AS is_target
      FROM fdp f JOIN d5 USING (doc_id)
    ),
    distp AS (
      SELECT b,
             SUM(CASE WHEN is_target THEN c ELSE 0 END) AS ct,
             SUM(CASE WHEN NOT is_target THEN c ELSE 0 END) AS cr
      FROM fcp GROUP BY b
    ),
    totp AS (SELECT SUM(ct) AS nt, SUM(cr) AS nr FROM distp),
    lrp AS (
      SELECT b, ln((ct + 1.0) / (nt + 1.0 * 1024))
               - ln((cr + 1.0) / (nr + 1.0 * 1024)) AS logratio
      FROM distp, totp
    ),
    wp AS (
      SELECT fcp.doc_id, SUM(c * logratio) AS wsum
      FROM fcp JOIN lrp USING (b) GROUP BY fcp.doc_id
    ),
    selp AS (
      SELECT d5.doc_id,
             ROUND(COALESCE(wp.wsum, 0.0), 6) / 2.0 - ln(-ln(
               (CAST(('0x' || substr(md5('dsir' || CAST(d5.doc_id AS VARCHAR)), 1, 8)) AS BIGINT) + 0.5)
               / 4294967296.0
             )) AS key
      FROM d5 LEFT JOIN wp USING (doc_id)
      WHERE d5.split = 'train' AND d5.source <> 'src0'
    ),
    chosen AS (SELECT doc_id FROM selp ORDER BY key DESC, doc_id LIMIT 50),
    d6 AS (
      SELECT * FROM d5
      WHERE split <> 'train' OR source = 'src0'
         OR doc_id IN (SELECT doc_id FROM chosen)
    ),
    tp AS (
      SELECT doc_id, source, n_tok, split, shard, hk,
             CAST(FLOOR((SUM(n_tok) OVER (
                 PARTITION BY shard ORDER BY hk, doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) - n_tok) / 256.0) AS BIGINT) AS pack_id
      FROM (
        SELECT *,
               CAST(('0x' || substr(md5('pack' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 4 AS shard,
               md5('pack' || CAST(doc_id AS VARCHAR)) AS hk
        FROM d6 WHERE split = 'train'
      )
    )
    SELECT doc_id, source, CAST(n_tok AS INTEGER) AS n_tok, split,
           CAST(shard AS BIGINT) AS shard, pack_id,
           CAST(row_number() OVER (
             PARTITION BY shard, pack_id ORDER BY hk, doc_id
           ) - 1 AS BIGINT) AS pack_pos
    FROM tp
    UNION ALL
    SELECT doc_id, source, CAST(n_tok AS INTEGER) AS n_tok, split,
           CAST(NULL AS BIGINT) AS shard, CAST(NULL AS BIGINT) AS pack_id,
           CAST(NULL AS BIGINT) AS pack_pos
    FROM d6 WHERE split <> 'train'
    """,
    doc="END-TO-END corpus pipeline with the opt-in DSIR stage (pipelines.py dsir_select_k): "
    "stage 5 becomes importance RESAMPLING toward the 'src0' domain — "
    "hashed-bigram DSIR weights estimated over the whole "
    "post-decontamination corpus, then the train split's non-target "
    "docs Gumbel-top-k resampled to k=50 at T=2 while target-domain "
    "train docs and all val/test rows ride through — before the "
    "standard packing stage. The oracle is the 7-stage CTE with the "
    "q_dsir_weights/q_dsir_select CTEs spliced in as stage 5, so the "
    "selected SET (not just its size) is certified inside the full "
    "pipeline composition. Deterministic end-to-end: md5 buckets, "
    "content-stable Gumbel, hash splits/packs.",
)
def q_corpus_pipeline_dsir(spark, sf_dir):
    from .pipelines import CorpusPipelineConfig, build_training_corpus

    docs = T(spark, sf_dir, "documents")
    cfg = CorpusPipelineConfig(
        min_tokens=10,
        pack_budget=256,
        pack_shards=4,
        dsir_target_domain="src0",
        dsir_select_k=50,
        dsir_temperature=2.0,
    )
    return build_training_corpus(docs, cfg)


@declare(
    "q_quantile_buckets",
    """
    WITH b AS (
      -- NULL values are excluded from the decile universe on BOTH
      -- sides (NULL-drift hardening: Spark orders NULLs
      -- first, DuckDB last — unguarded, the first NULL in testdata
      -- would shift every bucket boundary differently per engine)
      SELECT event_type, value,
             ntile(10) OVER (
               PARTITION BY event_type ORDER BY value, event_id
             ) AS decile
      FROM events WHERE value IS NOT NULL
    )
    SELECT event_type, decile,
           CAST(COUNT(*) AS BIGINT) AS n,
           MIN(value) AS lo, MAX(value) AS hi,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
                 / COUNT(*), 6) AS mean_value
    FROM b GROUP BY event_type, decile
    """,
    doc="equal-frequency binning (decile summary stats per group): "
    "ntile + grouped extrema/exact-decimal mean — the histogram's "
    "quantile-spaced sibling; ties broken by id so bucket membership "
    "is total-ordered and engine-identical",
)
def q_quantile_buckets(spark, sf_dir):
    e = T(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    b = e.withColumn("decile", F.ntile(10).over(w))
    return b.groupBy("event_type", "decile").agg(
        F.count("*").alias("n"),
        F.min("value").alias("lo"),
        F.max("value").alias("hi"),
        F.round(dsum(F.col("value")) / F.count("*"), 6).alias("mean_value"),
    )


@declare(
    "q_running_distinct",
    """
    WITH firsts AS (
      SELECT user_id, MIN(CAST(ts AS DATE)) AS first_day
      FROM events GROUP BY user_id
    ),
    per_day AS (
      SELECT first_day AS day, CAST(COUNT(*) AS BIGINT) AS new_users
      FROM firsts GROUP BY first_day
    )
    SELECT strftime(day, '%Y-%m-%d') AS day, new_users,
           CAST(SUM(new_users) OVER (
             ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS cumulative_users
    FROM per_day
    """,
    doc="cumulative distinct users by day: windows cannot COUNT "
    "DISTINCT over a running frame, so reduce to each user's FIRST "
    "day (one agg), then a cumulative sum over the tiny per-day "
    "series — the classic scale rewrite of running-distinct",
)
def q_running_distinct(spark, sf_dir):
    e = T(spark, sf_dir, "events")
    firsts = e.groupBy("user_id").agg(
        F.min(F.col("ts").cast("date")).alias("first_day")
    )
    per_day = firsts.groupBy(F.col("first_day").alias("day")).agg(
        F.count("*").alias("new_users")
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding,
                                          Window.currentRow)
    return per_day.withColumn(
        "cumulative_users", F.sum("new_users").over(w).cast("bigint")
    ).withColumn("day", F.date_format("day", "yyyy-MM-dd"))


@declare(
    "q_unigram_surprisal",
    """
    WITH tok AS (
      SELECT doc_id,
             unnest(list_filter(string_split(lower(text), ' '),
                                x -> len(x) > 0)) AS term
      FROM documents
    ),
    freq AS (
      SELECT term, CAST(COUNT(*) AS BIGINT) AS tc FROM tok GROUP BY term
    ),
    total AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM tok),
    scored AS (
      SELECT tok.doc_id,
             CAST(ROUND(CAST(total.n AS DOUBLE) / CAST(freq.tc AS DOUBLE), 9)
                  AS DECIMAL(28,9)) AS inv_p
      FROM tok JOIN freq USING (term) CROSS JOIN total
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tok,
           ROUND(CAST(SUM(inv_p) AS DOUBLE) / COUNT(*), 6) AS mean_inv_prob
    FROM scored GROUP BY doc_id
    """,
    doc="rare-token density scoring (perplexity proxy without log(): "
    "mean inverse unigram probability N/count(term), exact rational in "
    "doubles so cross-engine deterministic where ln() is not) — the "
    "corpus-LM quality signal of a filtering pipeline; term counts "
    "reuse ONE shuffle, the total is a broadcast scalar. Addends are "
    "9-dp decimals (identical IEEE division then a boundary-free "
    "round: N/tc either terminates within 6 digits or repeats, never "
    "landing on a half) so per-doc sums are order-INDEPENDENT — a "
    "plain double SUM would vary with partition count",
)
def q_unigram_surprisal(spark, sf_dir):
    d = T(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id",
        F.explode(
            F.filter(F.split(F.lower(F.col("text")), " "),
                     lambda s: F.length(s) > 0)
        ).alias("term"),
    )
    freq = tok.groupBy("term").agg(F.count("*").alias("tc"))
    total = tok.agg(F.count("*").alias("n"))
    scored = (
        attach_scalar(tok.join(freq, "term"), total)
        .withColumn(
            "inv_p",
            F.round(
                F.col("n").cast("double") / F.col("tc").cast("double"), 9
            ).cast("decimal(28,9)"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count("*").alias("n_tok"),
        F.round(
            F.sum("inv_p").cast("double") / F.count("*"), 6
        ).alias("mean_inv_prob"),
    )


@declare(
    "q_bigram_surprisal",
    """
    WITH t2 AS (
      SELECT doc_id, ws FROM (
        SELECT doc_id,
               list_filter(string_split(lower(text), ' '),
                           x -> len(x) > 0) AS ws
        FROM documents
      ) WHERE len(ws) >= 2
    ),
    uni AS (
      SELECT term, CAST(COUNT(*) AS BIGINT) AS c1
      FROM (SELECT unnest(ws) AS term FROM t2) GROUP BY term
    ),
    bi AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(ws)),
                                   i -> ws[i] || ' ' || ws[i + 1])) AS g
      FROM t2
    ),
    c12 AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS c12 FROM bi GROUP BY g),
    scored AS (
      SELECT bi.doc_id,
             CAST(ROUND(CAST(uni.c1 AS DOUBLE) / CAST(c12.c12 AS DOUBLE), 9)
                  AS DECIMAL(28,9)) AS inv_cp,
             c12.c12 AS cc
      FROM bi JOIN c12 USING (g)
      JOIN uni ON string_split(bi.g, ' ')[1] = uni.term
    )
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           ROUND(CAST(SUM(inv_cp) AS DOUBLE) / COUNT(*), 6)
             AS mean_inv_cond_prob,
           ROUND(CAST(SUM(CASE WHEN cc <= 2 THEN 1 ELSE 0 END) AS DOUBLE)
                 / COUNT(*), 6) AS rare_bigram_frac
    FROM scored GROUP BY doc_id
    """,
    doc="bigram-LM quality scoring (operators/"
    "contamination.py bigram_surprisal) — the CCNet-style perplexity "
    "filter against the corpus's own bigram model, kept cross-engine "
    "deterministic by the q_unigram_surprisal discipline: per "
    "position the INVERSE CONDITIONAL probability c(w1)/c(w1w2) — an "
    "exact rational of corpus counts, identical IEEE division "
    "everywhere, 9-dp rounded and summed as exact decimal so per-doc "
    "sums are order-independent (no ln(), whose last ulp differs by "
    "engine). rare_bigram_frac = share of positions whose bigram "
    "occurs <= 2 times corpus-wide. Model counts and output both "
    "restricted to docs with >= 2 tokens. Two content-keyed count "
    "aggregates + two content-keyed joins + one doc aggregate — the "
    "inverted-index shape, never all-pairs.",
)
def q_bigram_surprisal(spark, sf_dir):
    from .operators.contamination import bigram_surprisal

    return bigram_surprisal(T(spark, sf_dir, "documents"))


@declare(
    "q_chi_square_scan",
    """
    WITH c AS (
      SELECT event_type AS a, user_id % 8 AS b,
             CAST(COUNT(*) AS BIGINT) AS o
      FROM events GROUP BY 1, 2
    ),
    ma AS (SELECT a, CAST(SUM(o) AS DOUBLE) AS na FROM c GROUP BY a),
    mb AS (SELECT b, CAST(SUM(o) AS DOUBLE) AS nb FROM c GROUP BY b),
    t AS (SELECT CAST(SUM(o) AS DOUBLE) AS n FROM c),
    cells AS (
      SELECT g.a, g.b, g.na, g.nb, CAST(COALESCE(c.o, 0) AS BIGINT) AS o
      FROM (SELECT * FROM ma CROSS JOIN mb) g
      LEFT JOIN c ON g.a IS NOT DISTINCT FROM c.a
                 AND g.b IS NOT DISTINCT FROM c.b
    )
    SELECT a AS a_value, CAST(b AS BIGINT) AS b_value, o AS observed,
           ROUND(na * nb / t.n, 6) AS expected_r6,
           ROUND((CAST(o AS DOUBLE) - na * nb / t.n)
                 * (CAST(o AS DOUBLE) - na * nb / t.n)
                 / (na * nb / t.n), 9) AS chi2_term_r9
    FROM cells CROSS JOIN t
    """,
    doc="chi-square independence scan (operators/profile.py "
    "chi_square_cells) — the feature-dependence check a data-quality "
    "pass runs before trusting a stratification: the full event_type "
    "x (user_id % 8) contingency grid INCLUDING zero-observed cells "
    "(their expected count still contributes), one row per cell with "
    "observed, expected and the chi-square term; sum(chi2_term_r9) "
    "is the full statistic at (|A|-1)(|B|-1) dof. Determinism is "
    "the q_unigram_surprisal discipline — every quantity a rational "
    "of exact counts, identical IEEE arithmetic, rounded per cell "
    "BEFORE any cross-cell aggregation. One (a,b)-keyed count + two "
    "marginal aggregates + a dims-only guarded cartesian grid.",
)
def q_chi_square_scan(spark, sf_dir):
    from .operators.profile import chi_square_cells

    e = T(spark, sf_dir, "events").select(
        "event_type", (F.col("user_id") % 8).alias("user_bucket")
    )
    return chi_square_cells(e, "event_type", "user_bucket")


@declare(
    "q_seasonal_residuals",
    """
    WITH base AS (
      SELECT event_type,
             CAST(EXTRACT(hour FROM ts) AS INTEGER) AS hod,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sv,
             CAST(SUM(CAST(value AS DECIMAL(18,2))
                      * CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS svv
      FROM events GROUP BY event_type, CAST(EXTRACT(hour FROM ts) AS INTEGER)
    ),
    season AS (
      SELECT event_type, hod, sv / n AS mu,
             SQRT((svv - sv * sv / n) / (n - 1)) AS sigma
      FROM base WHERE n > 1
    )
    SELECT e.event_id, e.event_type,
           ROUND(e.value - s.mu, 6) AS residual,
           CAST(CASE WHEN ABS(e.value - s.mu) > 3.0e0 * s.sigma
                     THEN 1 ELSE 0 END AS INTEGER) AS is_anomaly
    FROM events e
    JOIN season s
      ON s.event_type = e.event_type
     AND s.hod = CAST(EXTRACT(hour FROM e.ts) AS INTEGER)
    """,
    doc="seasonal-baseline anomaly detection: hour-of-day mean/stddev "
    "per series from EXACT decimal sums (one agg), broadcast back onto "
    "the stream of readings, flag |value - mu| > 3 sigma — the "
    "profile-based FDD rule, a deseasonalized upgrade of the "
    "reference's fixed threshold (main.rs:388); baseline table is "
    "groups x 24 rows, always broadcastable",
)
def q_seasonal_residuals(spark, sf_dir):
    e = T(spark, sf_dir, "events")
    hod = F.hour("ts").cast("int")
    base = (
        e.groupBy(F.col("event_type").alias("_bt"), hod.alias("hod"))
        .agg(
            F.count("*").alias("n"),
            dsum(F.col("value")).alias("sv"),
            F.sum(dec(F.col("value")) * dec(F.col("value")))
            .cast("double")
            .alias("svv"),
        )
        .filter(F.col("n") > 1)
        .select(
            "_bt", "hod",
            (F.col("sv") / F.col("n")).alias("mu"),
            F.sqrt(
                (F.col("svv") - F.col("sv") * F.col("sv") / F.col("n"))
                / (F.col("n") - 1)
            ).alias("sigma"),
        )
    )
    return (
        e.join(
            F.broadcast(base),
            (F.col("event_type") == F.col("_bt"))
            & (F.hour("ts").cast("int") == F.col("hod")),
        )
        .select(
            "event_id", "event_type",
            F.round(F.col("value") - F.col("mu"), 6).alias("residual"),
            F.when(
                F.abs(F.col("value") - F.col("mu")) > F.lit(3.0) * F.col("sigma"),
                1,
            ).otherwise(0).cast("int").alias("is_anomaly"),
        )
    )


@declare(
    "q_dense_grid",
    """
    WITH days AS (
      SELECT DISTINCT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day FROM events
    ),
    types AS (SELECT DISTINCT event_type FROM events),
    actual AS (
      SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day, event_type,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2
    )
    SELECT d.day, t.event_type,
           CAST(COALESCE(a.n, 0) AS BIGINT) AS n
    FROM days d CROSS JOIN types t
    LEFT JOIN actual a ON a.day = d.day AND a.event_type = t.event_type
    """,
    doc="dimension densification (zero-fill the day x type grid): "
    "distinct-dims cross join + left join + coalesce — the reporting "
    "pattern that makes absent group combinations explicit; both dim "
    "sides are tiny aggregates, the cross product stays "
    "|days| x |types| regardless of fact size",
)
def q_dense_grid(spark, sf_dir):
    e = T(spark, sf_dir, "events")
    day = F.date_format(F.col("ts").cast("date"), "yyyy-MM-dd")
    days = e.select(day.alias("day")).distinct()
    types = e.select("event_type").distinct()
    actual = (
        e.groupBy(day.alias("day"), "event_type")
        .agg(F.count("*").alias("_n"))
    )
    return (
        days.crossJoin(types)
        .join(F.broadcast(actual), ["day", "event_type"], "left")
        .select(
            "day", "event_type",
            F.coalesce(F.col("_n"), F.lit(0)).cast("bigint").alias("n"),
        )
    )


@declare(
    "q_percentile_disc",
    """
    WITH ranked AS (
      -- NULLs excluded from the rank universe on BOTH sides
      -- (PERCENTILE_DISC's standard contract; NULL-drift
      -- hardening — engines disagree on NULL sort placement)
      SELECT event_type, value,
             row_number() OVER (
               PARTITION BY event_type ORDER BY value, event_id
             ) AS rn,
             CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
      FROM events WHERE value IS NOT NULL
    )
    SELECT event_type,
           MAX(CASE WHEN rn = CAST(CEIL(0.5e0 * n) AS BIGINT) THEN value END) AS p50_disc,
           MAX(CASE WHEN rn = CAST(CEIL(0.9e0 * n) AS BIGINT) THEN value END) AS p90_disc,
           MAX(CASE WHEN rn = CAST(CEIL(0.99e0 * n) AS BIGINT) THEN value END) AS p99_disc
    FROM ranked GROUP BY event_type
    """,
    doc="discrete percentiles (PERCENTILE_DISC semantics: an actual "
    "data value, never interpolated) via rank selection — one window "
    "sort + conditional agg, total-ordered ties so the selected row "
    "is engine-identical; complements the interpolated q_percentiles",
)
def q_percentile_disc(spark, sf_dir):
    e = T(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    wc = Window.partitionBy("event_type")
    ranked = e.select(
        "event_type", "value",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(wc).alias("n"),
    )
    pick = lambda p: F.max(
        F.when(
            F.col("rn") == F.ceil(F.lit(p) * F.col("n")).cast("bigint"),
            F.col("value"),
        )
    )
    return ranked.groupBy("event_type").agg(
        pick(0.5).alias("p50_disc"),
        pick(0.9).alias("p90_disc"),
        pick(0.99).alias("p99_disc"),
    )


@declare(
    "q_null_safe_join",
    """
    WITH a AS (
      SELECT CASE WHEN user_id % 7 = 0 THEN NULL ELSE user_id % 7 END AS k,
             CAST(COUNT(*) AS BIGINT) AS n_a
      FROM events WHERE event_type = 'click' GROUP BY 1
    ),
    b AS (
      SELECT CASE WHEN user_id % 7 = 0 THEN NULL ELSE user_id % 7 END AS k,
             CAST(COUNT(*) AS BIGINT) AS n_b
      FROM events WHERE event_type = 'view' GROUP BY 1
    )
    SELECT a.k, a.n_a, b.n_b
    FROM a JOIN b ON a.k IS NOT DISTINCT FROM b.k
    """,
    doc="null-safe equi-join (<=> / IS NOT DISTINCT FROM): NULL keys "
    "match each other instead of dropping — the join-family variant "
    "plain equality silently loses rows on; still hash-joinable "
    "(null-safe equality is an equi-key to Catalyst, not a theta join)",
)
def q_null_safe_join(spark, sf_dir):
    e = T(spark, sf_dir, "events")
    k = F.when(F.col("user_id") % 7 == 0, F.lit(None)).otherwise(
        F.col("user_id") % 7
    )
    a = (
        e.filter(F.col("event_type") == "click")
        .groupBy(k.alias("k"))
        .agg(F.count("*").alias("n_a"))
    )
    b = (
        e.filter(F.col("event_type") == "view")
        .groupBy(k.alias("ka"))
        .agg(F.count("*").alias("n_b"))
    )
    return a.join(b, a["k"].eqNullSafe(b["ka"])).select("k", "n_a", "n_b")


@declare(
    "q_asof_nearest",
    """
    WITH l AS (
      SELECT event_id, user_id, ts FROM events
      WHERE event_type = 'view' AND user_id < 20
    ),
    r AS (
      SELECT user_id, ts, MAX(value) AS value
      FROM events WHERE event_type = 'purchase'
      GROUP BY user_id, ts
    )
    SELECT l.event_id, l.user_id,
           (SELECT r.value FROM r
             WHERE r.user_id = l.user_id
             ORDER BY abs(epoch_us(r.ts) - epoch_us(l.ts)),
                      (r.ts > l.ts)
             LIMIT 1) AS nearest_value
    FROM l
    """,
    doc="as-of join, NEAREST direction (operators/asof.py): closest "
    "purchase in time per view, backward winning exact ties (pandas "
    "merge_asof parity); right side deduped to one obs per (key, ts) "
    "so the choice is total-ordered. Oracle = per-row min |delta| "
    "scalar subquery; the engine path is the union + window form",
)
def q_asof_nearest(spark, sf_dir):
    e = T(spark, sf_dir, "events")
    l = (
        e.filter((F.col("event_type") == "view") & (F.col("user_id") < 20))
        .select("event_id", "user_id", "ts")
    )
    r = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("value"))
    )
    out = asof_join(
        l, r, on=["user_id"], right_cols=["value"], direction="nearest"
    )
    return out.select(
        "event_id", "user_id", F.col("value_right").alias("nearest_value")
    )


# ======================================================================
# Oracle-paired source readers (ORC, schema evolution),
# mapInArrow transform, QUALIFY SQL surface
# ======================================================================

@declare(
    "q_arrow_transform",
    """
    SELECT event_id, value * 3.0 AS scaled
    FROM events WHERE user_id < 50
    """,
    doc="mapInArrow transform oracle-paired (functions/udfs.py "
    "scale_values_arrow): batches stay pyarrow.RecordBatch end-to-end "
    "(no pandas materialization), effect = one IEEE double multiply — "
    "bit-identical to the SQL expression on any engine. Lifts D5 "
    "(mapInArrow) from test-only to driver-green",
)
def q_arrow_transform(spark, sf_dir):
    from .functions.udfs import scale_values_arrow

    e = (
        T(spark, sf_dir, "events")
        .filter(F.col("user_id") < 50)
        .select("event_id", "value")
    )
    return scale_values_arrow(e, "value", 3.0).select(
        "event_id", F.col("value").alias("scaled")
    )


@declare(
    "q_orc_roundtrip",
    """
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM events WHERE user_id < 20
    GROUP BY event_type
    """,
    doc="ORC round-trip oracle-paired (sources/io.py write_orc/"
    "read_orc): a deterministic events subset is written to ORC "
    "in-fixture, read back through the ORC scan, and aggregated — the "
    "oracle computes the same aggregate from the parquet originals, so "
    "a hash match proves the ORC sink+scan preserve values exactly. "
    "Lifts S3 from test-only to driver-green",
)
def q_orc_roundtrip(spark, sf_dir):
    from .sources.io import read_orc, write_orc

    e = (
        T(spark, sf_dir, "events")
        .filter(F.col("user_id") < 20)
        .select("event_id", "event_type", "value")
    )
    path = os.path.join(_fixture_dir("q_orc_roundtrip"), "data")
    write_orc(e, path)
    back = read_orc(spark, path)
    return back.groupBy("event_type").agg(
        F.count("*").alias("n"),
        dsum(F.col("value")).alias("total_value"),
    )


@declare(
    "q_schema_evolution",
    """
    SELECT CASE WHEN user_id < 10 THEN '__missing__' ELSE event_type END
             AS event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM events WHERE user_id < 20
    GROUP BY 1
    """,
    doc="schema-evolution read oracle-paired (sources/io.py "
    "read_parquet_evolving): generation 1 files lack event_type, "
    "generation 2 adds it; the mergeSchema read surfaces the missing "
    "column as NULL for old rows (coalesced to a sentinel), then a "
    "PINNED-schema read of the same files produces the final result — "
    "the oracle derives identical groups from the original events "
    "table. Lifts S4 from test-only to driver-green",
)
def q_schema_evolution(spark, sf_dir):
    from .sources.io import read_parquet_evolving

    e = T(spark, sf_dir, "events")
    path = os.path.join(_fixture_dir("q_schema_evolution"), "data")
    # generation 1: before event_type existed
    (
        e.filter(F.col("user_id") < 10)
        .select("event_id", "user_id", "value")
        .write.mode("append").parquet(path)
    )
    # generation 2: the evolved schema
    (
        e.filter((F.col("user_id") >= 10) & (F.col("user_id") < 20))
        .select("event_id", "user_id", "value", "event_type")
        .write.mode("append").parquet(path)
    )
    merged = read_parquet_evolving(spark, path)
    # pin the evolved contract for the production read path
    pinned = read_parquet_evolving(spark, path, schema=merged.schema)
    return (
        pinned.groupBy(
            F.coalesce(F.col("event_type"), F.lit("__missing__"))
            .alias("event_type")
        )
        .agg(
            F.count("*").alias("n"),
            dsum(F.col("value")).alias("total_value"),
        )
    )


@declare(
    "q_qualify_sql",
    """
    SELECT user_id, event_id, value FROM (
      SELECT user_id, event_id, value,
             row_number() OVER (
               PARTITION BY user_id ORDER BY value DESC, event_id
             ) AS rn
      FROM events WHERE event_type = 'purchase' AND user_id < 30
    ) WHERE rn <= 3
    """,
    doc="QUALIFY SQL surface (sql_ext.sql_with_qualify): the DuckDB/"
    "Snowflake window-filter clause rewritten onto the nested-subquery "
    "plan Spark natively optimizes (WindowGroupLimit applies to the "
    "rewritten row_number filter); oracle is the explicit subquery form",
)
def q_qualify_sql(spark, sf_dir):
    from .sql_ext import sql_with_qualify

    e = T(spark, sf_dir, "events")
    e.createOrReplaceTempView("_q_qualify_events")
    return sql_with_qualify(
        spark,
        """
        SELECT user_id, event_id, value
        FROM _q_qualify_events
        WHERE event_type = 'purchase' AND user_id < 30
        QUALIFY row_number() OVER (
          PARTITION BY user_id ORDER BY value DESC, event_id
        ) <= 3
        """,
    ).select("user_id", "event_id", "value")


@declare(
    "q_qualify_nested",
    """
    SELECT user_id, n_top, top_value_sum FROM (
      SELECT user_id,
             CAST(COUNT(*) AS BIGINT) AS n_top,
             CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
               AS top_value_sum,
             rank() OVER (
               ORDER BY SUM(CAST(value AS DECIMAL(18,6))) DESC, user_id
             ) AS rk
      FROM (
        SELECT user_id, event_id, value,
               row_number() OVER (
                 PARTITION BY user_id ORDER BY value DESC, event_id
               ) AS rn
        FROM events
        WHERE event_type = 'purchase' AND user_id < 50
      ) inner_q
      WHERE rn <= 3
      GROUP BY user_id
    ) outer_q WHERE rk <= 20
    """,
    doc="NESTED QUALIFY (sql_ext._extract_nested_qualify"
    "): a QUALIFY inside a derived table "
    "(top-3 purchase events per user) composed with a top-level "
    "QUALIFY over the outer aggregate (top-20 users by their top-3 "
    "value sum) in ONE dialect statement. The nested block is "
    "extracted innermost-first into a temp view "
    "(sql_ext._extract_nested_qualify) and Catalyst inlines it, so "
    "the physical plan equals the hand-written double subquery the "
    "oracle spells out — WindowGroupLimit still prunes the row_number "
    "top-3 per group. Sums ride exact DECIMAL(18,6) on both engines "
    "so the outer rank's ORDER BY is deterministic",
)
def q_qualify_nested(spark, sf_dir):
    from .sql_ext import sql as dialect_sql

    e = T(spark, sf_dir, "events")
    e.createOrReplaceTempView("_q_qualify_nested_events")
    return dialect_sql(
        spark,
        """
        SELECT user_id,
               CAST(COUNT(*) AS BIGINT) AS n_top,
               CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
                 AS top_value_sum
        FROM (
          SELECT user_id, event_id, value
          FROM _q_qualify_nested_events
          WHERE event_type = 'purchase' AND user_id < 50
          QUALIFY row_number() OVER (
            PARTITION BY user_id ORDER BY value DESC, event_id
          ) <= 3
        ) t
        GROUP BY user_id
        QUALIFY rank() OVER (
          ORDER BY SUM(CAST(value AS DECIMAL(18,6))) DESC, user_id
        ) <= 20
        """,
    ).select("user_id", "n_top", "top_value_sum")


@declare(
    "q_tpch_q4_order_priority",
    """
    SELECT o.o_orderpriority, CAST(COUNT(*) AS BIGINT) AS order_count
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1997-04-01 00:00:00'
      AND EXISTS (
        SELECT 1 FROM lineitem l
        WHERE l.l_orderkey = o.o_orderkey
          AND l.l_shipdate > o.o_orderdate + INTERVAL 30 DAY
      )
    GROUP BY o.o_orderpriority
    """,
    doc="TPC-H Q4 shape (order-priority checking): orders in one "
    "quarter having >=1 late-shipped line (EXISTS with a CORRELATED "
    "non-equi predicate -> left-semi join; the schema has no "
    "commitdate/receiptdate, so 'late' = shipped >30 days after the "
    "order date). The semi-join probes lineitem with only (orderkey, "
    "shipdate) columns — nothing wider rides the shuffle",
)
def q_tpch_q4(spark, sf_dir):
    o = T(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1997-01-01 00:00:00")
        & (F.col("o_orderdate") < "1997-04-01 00:00:00")
    )
    li = T(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    late = o.join(
        li,
        (o["o_orderkey"] == li["l_orderkey"])
        & (li["l_shipdate"]
           > o["o_orderdate"] + F.expr("INTERVAL 30 DAYS")),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(
        F.count("*").alias("order_count")
    )


@declare(
    "q_tpch_q12_priority_class",
    """
    SELECT l.l_returnflag,
           CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE l.l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l.l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY l.l_returnflag
    """,
    doc="TPC-H Q12 shape (shipping-class priority split): fact-fact "
    "equi-join with conditional-sum aggregation (CASE inside SUM — the "
    "pivoted two-counter form; l_returnflag stands in for the absent "
    "l_shipmode). Ship-date filter pushes to the lineitem scan, so the "
    "join input is one year of lines",
)
def q_tpch_q12(spark, sf_dir):
    o = T(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    li = T(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1997-01-01 00:00:00")
        & (F.col("l_shipdate") < "1998-01-01 00:00:00")
    ).select("l_orderkey", "l_returnflag")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).alias("low_line_count"),
        )
    )


@declare(
    "q_tpch_q13_custdist",
    """
    SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
    FROM (
      SELECT c.c_custkey, CAST(COUNT(o.o_orderkey) AS BIGINT) AS c_count
      FROM customer c
      LEFT JOIN orders o ON c.c_custkey = o.o_custkey
                        AND o.o_orderpriority <> '5-LOW'
      GROUP BY c.c_custkey
    ) GROUP BY c_count
    """,
    doc="TPC-H Q13 shape (customer order-count distribution): LEFT "
    "OUTER join with an ON-clause filter (predicate must apply to the "
    "join, NOT the customer side — customers with zero qualifying "
    "orders survive as c_count=0), per-customer count, then the "
    "second aggregation over counts. Two shuffles: custkey, then the "
    "tiny c_count key",
)
def q_tpch_q13(spark, sf_dir):
    c = T(spark, sf_dir, "customer").select("c_custkey")
    o = T(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_orderpriority"
    )
    per_cust = (
        c.join(
            o,
            (c["c_custkey"] == o["o_custkey"])
            & (o["o_orderpriority"] != "5-LOW"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count("*").alias("custdist"))


@declare(
    "q_tpch_q17_small_qty_revenue",
    """
    WITH pa AS (
      SELECT l_partkey,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
               / COUNT(*) AS avg_qty
      FROM lineitem GROUP BY l_partkey
    )
    SELECT p.p_brand,
           ROUND(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2)))
                      AS DOUBLE) / 7.0, 6) AS avg_yearly,
           CAST(COUNT(*) AS BIGINT) AS n_lines
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey AND p.p_size < 10
    JOIN pa ON pa.l_partkey = l.l_partkey
    WHERE l.l_quantity < 0.2 * pa.avg_qty
    GROUP BY p.p_brand
    """,
    doc="TPC-H Q17 shape (small-quantity-order revenue): the "
    "correlated per-part average becomes ONE grouped aggregate joined "
    "back to the fact on partkey — the decorrelated plan Spark/DuckDB "
    "both want; threshold avg is an exact decimal sum / count so the "
    "0.2x cut is engine-identical. Part filter prunes before the join; "
    "grouped by brand (vs Q17's single scalar) to exercise the final "
    "agg",
)
def q_tpch_q17(spark, sf_dir):
    li = T(spark, sf_dir, "lineitem")
    p = T(spark, sf_dir, "part").filter(F.col("p_size") < 10).select(
        "p_partkey", "p_brand"
    )
    pa = li.groupBy("l_partkey").agg(
        (dsum(F.col("l_quantity")) / F.count("*")).alias("avg_qty")
    ).withColumnRenamed("l_partkey", "pa_partkey")
    return (
        li.join(p, li["l_partkey"] == p["p_partkey"])
        .join(pa, li["l_partkey"] == pa["pa_partkey"])
        .filter(F.col("l_quantity") < 0.2 * F.col("avg_qty"))
        .groupBy("p_brand")
        .agg(
            F.round(dsum(F.col("l_extendedprice")) / 7.0, 6)
            .alias("avg_yearly"),
            F.count("*").alias("n_lines"),
        )
    )


@declare(
    "q_tpch_q22_global_sales_opportunity",
    """
    WITH ab AS (
      SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
               / COUNT(*) AS avg_bal
      FROM customer WHERE c_acctbal > 0.0
    )
    SELECT c.c_nationkey,
           CAST(COUNT(*) AS BIGINT) AS numcust,
           CAST(SUM(CAST(c.c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
             AS totacctbal
    FROM customer c CROSS JOIN ab
    WHERE c.c_acctbal > ab.avg_bal
      AND NOT EXISTS (
        SELECT 1 FROM orders o
        WHERE o.o_custkey = c.c_custkey
          AND o.o_orderdate >= TIMESTAMP '2000-01-01 00:00:00'
      )
    GROUP BY c.c_nationkey
    """,
    doc="TPC-H Q22 shape (lapsed customers likely to buy): "
    "global-average scalar (attach_scalar broadcast — exact decimal "
    "mean) -> filter -> NOT EXISTS as LEFT ANTI against RECENT orders "
    "(every customer in this testdata has ordered at some point, so "
    "the classic never-ordered predicate is vacuous; 'no order since "
    "2000' keeps the result non-empty) -> grouped count/sum per "
    "nation (c_nationkey stands in for the absent phone country "
    "code). The anti-join probe carries only o_custkey",
)
def q_tpch_q22(spark, sf_dir):
    c = T(spark, sf_dir, "customer")
    o = (
        T(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= "2000-01-01 00:00:00")
        .select("o_custkey")
    )
    ab = c.filter(F.col("c_acctbal") > 0.0).agg(
        (dsum(F.col("c_acctbal")) / F.count("*")).alias("avg_bal")
    )
    rich = attach_scalar(c, ab).filter(
        F.col("c_acctbal") > F.col("avg_bal")
    )
    never = rich.join(
        o, rich["c_custkey"] == o["o_custkey"], "left_anti"
    )
    return never.groupBy("c_nationkey").agg(
        F.count("*").alias("numcust"),
        dsum(F.col("c_acctbal")).alias("totacctbal"),
    )


# ----------------------------------------------------------------------
# The remaining TPC-H shapes — Q2/Q8/Q9/Q11/Q15/Q16/
# Q20 — completing all 22. The testdata has no partsupp table, so the
# four shapes that need one (Q2/Q11/Q16/Q20) derive the part-supplier
# relation from lineitem's (l_partkey, l_suppkey) pairs; cost columns
# absent from the schema (ps_supplycost) use documented stand-ins
# (unit price = l_extendedprice/l_quantity; p_retailprice for Q9).
# ----------------------------------------------------------------------

@declare(
    "q_tpch_q2_min_cost_supplier",
    """
    WITH ps AS (
      SELECT l_partkey, l_suppkey,
             MIN(l_extendedprice / l_quantity) AS unit_cost
      FROM lineitem GROUP BY l_partkey, l_suppkey
    ),
    asia AS (
      SELECT s.s_suppkey, s.s_name
      FROM supplier s
      JOIN nation n ON s.s_nationkey = n.n_nationkey
      JOIN region r ON n.n_regionkey = r.r_regionkey
      WHERE r.r_name = 'ASIA'
    ),
    costs AS (
      SELECT p.p_partkey, p.p_name, a.s_name, ps.unit_cost
      FROM part p
      JOIN ps ON ps.l_partkey = p.p_partkey
      JOIN asia a ON a.s_suppkey = ps.l_suppkey
      WHERE p.p_size < 5
    ),
    mins AS (
      SELECT p_partkey, MIN(unit_cost) AS min_cost
      FROM costs GROUP BY p_partkey
    )
    SELECT c.p_partkey, c.p_name, c.s_name,
           c.unit_cost AS unit_cost
    FROM costs c JOIN mins m
      ON m.p_partkey = c.p_partkey AND c.unit_cost = m.min_cost
    """,
    doc="TPC-H Q2 shape (minimum-cost supplier): the correlated MIN "
    "subquery decorrelated into a grouped-min joined back on (part, "
    "cost) — all min-cost suppliers per part in one region. partsupp "
    "is derived from lineitem pairs; unit cost = extendedprice/"
    "quantity (IEEE-identical division on both engines). Region "
    "filter prunes the supplier side before the cost join. unit_cost "
    "ships UNROUNDED: the double is bit-identical on both engines "
    "(one division + min selection, no re-arithmetic), and round(x,6) "
    "is the LESS deterministic choice here — Spark rounds the exact "
    "decimal expansion HALF_UP while DuckDB rounds via float "
    "multiply, which split by 1 ulp on a tie row at sf0.1 "
    "(cross-scale sweep)",
)
def q_tpch_q2(spark, sf_dir):
    li = T(spark, sf_dir, "lineitem")
    ps = li.groupBy("l_partkey", "l_suppkey").agg(
        F.min(F.col("l_extendedprice") / F.col("l_quantity"))
        .alias("unit_cost")
    )
    s = T(spark, sf_dir, "supplier")
    n = T(spark, sf_dir, "nation")
    r = T(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    asia = (
        s.join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .select("s_suppkey", "s_name")
    )
    p = T(spark, sf_dir, "part").filter(F.col("p_size") < 5).select(
        "p_partkey", "p_name"
    )
    costs = (
        ps.join(p, ps["l_partkey"] == p["p_partkey"])
        .join(asia, ps["l_suppkey"] == asia["s_suppkey"])
        .select("p_partkey", "p_name", "s_name", "unit_cost")
    )
    mins = costs.groupBy(F.col("p_partkey").alias("m_partkey")).agg(
        F.min("unit_cost").alias("min_cost")
    )
    return (
        costs.join(
            mins,
            (costs["p_partkey"] == mins["m_partkey"])
            & (costs["unit_cost"] == mins["min_cost"]),
        )
        .select("p_partkey", "p_name", "s_name", "unit_cost")
    )


@declare(
    "q_tpch_q8_market_share",
    """
    WITH flat AS (
      SELECT CAST(EXTRACT(year FROM o.o_orderdate) AS INTEGER) AS o_year,
             CAST(l.l_extendedprice AS DECIMAL(18,2))
               * CAST(1 - l.l_discount AS DECIMAL(18,2)) AS volume,
             ns.n_name AS supp_nation
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation nc ON c.c_nationkey = nc.n_nationkey
      JOIN region rc ON nc.n_regionkey = rc.r_regionkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      JOIN nation ns ON s.s_nationkey = ns.n_nationkey
      JOIN part p ON l.l_partkey = p.p_partkey
      WHERE rc.r_name = 'ASIA' AND p.p_type = 'PROMO'
    )
    SELECT o_year,
           ROUND(CAST(SUM(CASE WHEN supp_nation = 'NATION_3'
                               THEN volume ELSE CAST(0 AS DECIMAL(18,2)) END)
                      AS DOUBLE)
                 / CAST(SUM(volume) AS DOUBLE), 6) AS mkt_share,
           CAST(SUM(volume) AS DOUBLE) AS total_volume
    FROM flat GROUP BY o_year
    """,
    doc="TPC-H Q8 shape (national market share): the full 8-table "
    "star join — lineitem to orders/customer/nation/region on the "
    "demand side, supplier/nation on the supply side, part filter — "
    "then one-nation revenue share per year via conditional exact-"
    "decimal sums. Dims broadcast (nation/region fixed-size); no hint "
    "on sf-scaling tables",
)
def q_tpch_q8(spark, sf_dir):
    li = T(spark, sf_dir, "lineitem")
    o = T(spark, sf_dir, "orders").select("o_orderkey", "o_custkey",
                                          "o_orderdate")
    c = T(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = T(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nc = T(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("nc_key"),
        F.col("n_regionkey").alias("nc_region"),
    )
    ns = T(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("ns_key"), F.col("n_name").alias("supp_nation")
    )
    r = T(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    p = T(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO").select(
        "p_partkey"
    )
    volume = dec(F.col("l_extendedprice")) * dec(F.lit(1) - F.col("l_discount"))
    flat = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(nc), c["c_nationkey"] == nc["nc_key"])
        .join(F.broadcast(r), nc["nc_region"] == r["r_regionkey"])
        .join(s, li["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(ns), s["s_nationkey"] == ns["ns_key"])
        .join(p, li["l_partkey"] == p["p_partkey"])
        .select(
            F.year("o_orderdate").cast("int").alias("o_year"),
            volume.alias("volume"),
            "supp_nation",
        )
    )
    zero = F.lit(0).cast("decimal(18,2)")
    return flat.groupBy("o_year").agg(
        F.round(
            F.sum(
                F.when(F.col("supp_nation") == "NATION_3", F.col("volume"))
                .otherwise(zero)
            ).cast("double")
            / F.sum("volume").cast("double"),
            6,
        ).alias("mkt_share"),
        F.sum("volume").cast("double").alias("total_volume"),
    )


@declare(
    "q_tpch_q9_product_profit",
    """
    SELECT ns.n_name AS nation,
           CAST(EXTRACT(year FROM o.o_orderdate) AS INTEGER) AS o_year,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                      * CAST(1 - l.l_discount AS DECIMAL(18,2))
                    - CAST(p.p_retailprice AS DECIMAL(18,2))
                      * CAST(l.l_quantity AS DECIMAL(18,2))
                      * CAST(0.1 AS DECIMAL(18,2)))
                AS DOUBLE) AS sum_profit
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation ns ON s.s_nationkey = ns.n_nationkey
    JOIN part p ON l.l_partkey = p.p_partkey
    WHERE p.p_name LIKE '%red%'
    GROUP BY ns.n_name, CAST(EXTRACT(year FROM o.o_orderdate) AS INTEGER)
    """,
    doc="TPC-H Q9 shape (product-type profit): revenue minus cost per "
    "supplier nation per year over name-filtered parts; the schema has "
    "no ps_supplycost, so unit cost = 10% of p_retailprice (documented "
    "stand-in) — the point is the shape: fact x 4 joins, LIKE filter, "
    "two-key agg over an exact mixed-term decimal expression",
)
def q_tpch_q9(spark, sf_dir):
    li = T(spark, sf_dir, "lineitem")
    o = T(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    s = T(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    ns = T(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("ns_key"), F.col("n_name").alias("nation")
    )
    p = T(spark, sf_dir, "part").filter(F.col("p_name").like("%red%")).select(
        "p_partkey", "p_retailprice"
    )
    amount = (
        dec(F.col("l_extendedprice")) * dec(F.lit(1) - F.col("l_discount"))
        - dec(F.col("p_retailprice")) * dec(F.col("l_quantity"))
        * F.lit(0.1).cast("decimal(18,2)")
    )
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(s, li["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(ns), s["s_nationkey"] == ns["ns_key"])
        .join(p, li["l_partkey"] == p["p_partkey"])
        .groupBy("nation", F.year("o_orderdate").cast("int").alias("o_year"))
        .agg(F.sum(amount).cast("double").alias("sum_profit"))
    )


@declare(
    "q_tpch_q11_important_stock",
    """
    WITH ps AS (
      SELECT l.l_partkey,
             SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS value
      FROM lineitem l
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      WHERE s.s_nationkey < 5
      GROUP BY l.l_partkey
    ),
    total AS (SELECT SUM(value) AS total_value FROM ps)
    SELECT ps.l_partkey AS p_partkey,
           CAST(ps.value AS DOUBLE) AS part_value
    FROM ps CROSS JOIN total
    WHERE CAST(ps.value AS DOUBLE)
          > 0.0008 * CAST(total.total_value AS DOUBLE)
    """,
    doc="TPC-H Q11 shape (important stock identification): per-part "
    "inventory value restricted to a supplier-nation group, kept where "
    "above a FRACTION of the global total — the grouped-agg +"
    " global-scalar-threshold pattern (attach_scalar broadcast; the "
    "scalar is the sum of the same exact decimals on both engines). "
    "partsupp derived from lineitem; value = extendedprice sum",
)
def q_tpch_q11(spark, sf_dir):
    li = T(spark, sf_dir, "lineitem")
    s = T(spark, sf_dir, "supplier").filter(F.col("s_nationkey") < 5).select(
        "s_suppkey"
    )
    ps = (
        li.join(s, li["l_suppkey"] == s["s_suppkey"])
        .groupBy("l_partkey")
        .agg(F.sum(dec(F.col("l_extendedprice"))).alias("value"))
    )
    total = ps.agg(F.sum("value").alias("total_value"))
    return (
        attach_scalar(ps, total)
        .filter(
            F.col("value").cast("double")
            > F.lit(0.0008) * F.col("total_value").cast("double")
        )
        .select(
            F.col("l_partkey").alias("p_partkey"),
            F.col("value").cast("double").alias("part_value"),
        )
    )


@declare(
    "q_tpch_q15_top_supplier",
    """
    WITH rev AS (
      SELECT l_suppkey,
             SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                 * CAST(1 - l_discount AS DECIMAL(18,2))) AS total_rev
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1997-04-01 00:00:00'
      GROUP BY l_suppkey
    ),
    mx AS (SELECT MAX(total_rev) AS max_rev FROM rev)
    SELECT s.s_suppkey, s.s_name,
           CAST(r.total_rev AS DOUBLE) AS total_revenue
    FROM rev r CROSS JOIN mx
    JOIN supplier s ON s.s_suppkey = r.l_suppkey
    WHERE r.total_rev = mx.max_rev
    """,
    doc="TPC-H Q15 shape (top supplier): quarterly revenue per "
    "supplier, then select the supplier(s) achieving the global MAX — "
    "the view + scalar-max pattern as one grouped agg + attach_scalar "
    "broadcast + equality filter (exact decimals, so the max-equality "
    "is engine-stable; ties all returned, per the spec)",
)
def q_tpch_q15(spark, sf_dir):
    li = T(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1997-01-01 00:00:00")
        & (F.col("l_shipdate") < "1997-04-01 00:00:00")
    )
    rev = li.groupBy("l_suppkey").agg(
        F.sum(
            dec(F.col("l_extendedprice")) * dec(F.lit(1) - F.col("l_discount"))
        ).alias("total_rev")
    )
    mx = rev.agg(F.max("total_rev").alias("max_rev"))
    s = T(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        attach_scalar(rev, mx)
        .filter(F.col("total_rev") == F.col("max_rev"))
        .join(s, F.col("l_suppkey") == s["s_suppkey"])
        .select(
            "s_suppkey", "s_name",
            F.col("total_rev").cast("double").alias("total_revenue"),
        )
    )


@declare(
    "q_tpch_q16_supplier_count",
    """
    WITH pairs AS (
      SELECT DISTINCT l_partkey, l_suppkey FROM lineitem
    ),
    ok_supp AS (
      SELECT s_suppkey FROM supplier WHERE s_acctbal >= 0.0
    )
    SELECT p.p_brand, p.p_type, p.p_size,
           CAST(COUNT(DISTINCT pr.l_suppkey) AS BIGINT) AS supplier_cnt
    FROM pairs pr
    JOIN part p ON p.p_partkey = pr.l_partkey
    JOIN ok_supp s ON s.s_suppkey = pr.l_suppkey
    WHERE p.p_brand <> 'Brand#1' AND p.p_size IN (1, 5, 9, 13, 17)
    GROUP BY p.p_brand, p.p_type, p.p_size
    """,
    doc="TPC-H Q16 shape (supplier count by part descriptor): distinct "
    "part-supplier pairs (the derived partsupp), negative-balance "
    "suppliers excluded (stand-in for Q16's complaints NOT IN — same "
    "anti-membership shape), COUNT DISTINCT suppliers per (brand, "
    "type, size) bucket with a <>/IN filter mix",
)
def q_tpch_q16(spark, sf_dir):
    li = T(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey").distinct()
    p = T(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & F.col("p_size").isin(1, 5, 9, 13, 17)
    ).select("p_partkey", "p_brand", "p_type", "p_size")
    ok = T(spark, sf_dir, "supplier").filter(F.col("s_acctbal") >= 0.0).select(
        "s_suppkey"
    )
    return (
        li.join(p, li["l_partkey"] == p["p_partkey"])
        .join(ok, li["l_suppkey"] == ok["s_suppkey"])
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct(F.col("l_suppkey")).alias("supplier_cnt"))
    )


@declare(
    "q_tpch_q20_excess_stock",
    """
    WITH red_parts AS (
      SELECT p_partkey FROM part WHERE p_name LIKE '%red%'
    ),
    shipped AS (
      SELECT l.l_suppkey,
             SUM(CAST(l.l_quantity AS DECIMAL(18,2))) AS qty
      FROM lineitem l
      JOIN red_parts p ON p.p_partkey = l.l_partkey
      WHERE l.l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        AND l.l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
      GROUP BY l.l_suppkey
    )
    SELECT s.s_name, n.n_name AS nation,
           CAST(sh.qty AS DOUBLE) AS red_qty
    FROM shipped sh
    JOIN supplier s ON s.s_suppkey = sh.l_suppkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    WHERE CAST(sh.qty AS DOUBLE) > 300.0
    """,
    doc="TPC-H Q20 shape (suppliers with excess stock of a part "
    "family): name-filtered parts -> per-supplier shipped quantity in "
    "one year -> threshold -> join back supplier identity + nation. "
    "The quantity threshold replaces Q20's availqty comparison "
    "(partsupp absent); the semi-join-then-enrich shape is intact",
)
def q_tpch_q20(spark, sf_dir):
    p = T(spark, sf_dir, "part").filter(F.col("p_name").like("%red%")).select(
        "p_partkey"
    )
    li = T(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1997-01-01 00:00:00")
        & (F.col("l_shipdate") < "1998-01-01 00:00:00")
    )
    shipped = (
        li.join(p, li["l_partkey"] == p["p_partkey"])
        .groupBy("l_suppkey")
        .agg(F.sum(dec(F.col("l_quantity"))).alias("qty"))
        .filter(F.col("qty").cast("double") > 300.0)
    )
    s = T(spark, sf_dir, "supplier").select("s_suppkey", "s_name", "s_nationkey")
    n = T(spark, sf_dir, "nation").select("n_nationkey",
                                          F.col("n_name").alias("nation"))
    return (
        shipped.join(s, shipped["l_suppkey"] == s["s_suppkey"])
        .join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"])
        .select("s_name", "nation", F.col("qty").cast("double").alias("red_qty"))
    )


@declare(
    "q_continuous_rollup",
    """
    SELECT event_type,
           CAST(to_timestamp(CAST(floor(epoch(ts) / 900) * 900 AS BIGINT)) AS TIMESTAMP) AS window_start,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
           MIN(value) AS min_value, MAX(value) AS max_value
    FROM events
    WHERE user_id < 40
    GROUP BY event_type, floor(epoch(ts) / 900)
    """,
    doc="continuous aggregate (operators/rollup.py — the hypertable-"
    "rollup operator): a materialized 15-minute rollup refreshed "
    "incrementally via dynamic partition overwrite, served as "
    "materialized-days UNION on-the-fly tail so reads are complete "
    "between refreshes. The query runs the FULL lifecycle in-fixture "
    "(write base -> refresh -> union read); the oracle is the plain "
    "windowed aggregation the view must equal — materialized vs tail "
    "provenance must be invisible. Incremental==full equivalence, "
    "idempotent re-refresh, and the late-data escape hatch are "
    "covered in tests/test_rollup.py",
)
def q_continuous_rollup(spark, sf_dir):
    from .operators.rollup import ContinuousRollup

    e = T(spark, sf_dir, "events").filter(F.col("user_id") < 40).select(
        "event_type", "ts", "value"
    )
    tmp = _fixture_dir("q_continuous_rollup")
    base = os.path.join(tmp, "base")
    e.write.mode("overwrite").parquet(base)
    roll = ContinuousRollup(
        spark, base, os.path.join(tmp, "rollup"),
        key_cols=["event_type"], window="15 minutes",
    )
    roll.refresh()
    return roll.read().select(
        "event_type", "window_start", "n", "sum_value",
        "min_value", "max_value",
    )


@declare(
    "q_minmax_decimate",
    """
    WITH b AS (
      SELECT event_id, event_type, value,
             CAST(to_timestamp(CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT)) AS TIMESTAMP) AS bucket_start,
             row_number() OVER (
               PARTITION BY event_type, floor(epoch(ts) / 3600)
               ORDER BY value ASC, event_id
             ) AS lo,
             row_number() OVER (
               PARTITION BY event_type, floor(epoch(ts) / 3600)
               ORDER BY value DESC, event_id
             ) AS hi
      FROM events
    )
    SELECT event_id, event_type, bucket_start, value
    FROM b WHERE lo = 1 OR hi = 1
    """,
    doc="min-max decimation (operators/downsample.py): per (series, "
    "hour-bucket) keep the rows achieving the bucket min and max value "
    "— the relational, oracle-checkable downsampler a plotting UI "
    "calls (every extreme survives; <=2 rows/bucket). One window rank "
    "over the bucket key, ties total-ordered by id",
)
def q_minmax_decimate(spark, sf_dir):
    from .operators.downsample import minmax_decimate

    e = T(spark, sf_dir, "events").select(
        "event_id", "event_type", "ts", "value"
    )
    return minmax_decimate(
        e, ["event_type"], id_col="event_id", bucket_seconds=3600
    ).select("event_id", "event_type", "bucket_start", "value")


@declare(
    "q_m4_decimate",
    """
    WITH b AS (
      SELECT event_id, event_type, ts, value,
             CAST(to_timestamp(CAST(floor(epoch(ts) / 3600) * 3600
                  AS BIGINT)) AS TIMESTAMP) AS bucket_start,
             row_number() OVER (
               PARTITION BY event_type, floor(epoch(ts) / 3600)
               ORDER BY value ASC, event_id
             ) AS lo,
             row_number() OVER (
               PARTITION BY event_type, floor(epoch(ts) / 3600)
               ORDER BY value DESC, event_id
             ) AS hi,
             row_number() OVER (
               PARTITION BY event_type, floor(epoch(ts) / 3600)
               ORDER BY ts ASC, event_id
             ) AS fi,
             row_number() OVER (
               PARTITION BY event_type, floor(epoch(ts) / 3600)
               ORDER BY ts DESC, event_id
             ) AS la
      FROM events
    )
    SELECT event_id, event_type, bucket_start, value
    FROM b WHERE lo = 1 OR hi = 1 OR fi = 1 OR la = 1
    """,
    doc="M4 visualization aggregation ("
    "operators/downsample.py m4_decimate; Jugel et al. VLDB'14): per "
    "(series, pixel-bucket) the FOUR pixel-defining rows — "
    "min/max-valued plus FIRST/LAST by timestamp — the smallest row "
    "set whose line rendering is pixel-identical to the full series; "
    "strictly dominates min-max decimation for line charts (entry/"
    "exit strokes). One hash partition per bucket serves all four "
    "intra-bucket sorts (rows never leave their bucket's partition); "
    "ties total-ordered by event_id and NULLs last on every leg, so "
    "the picked rows are engine-identical",
)
def q_m4_decimate(spark, sf_dir):
    from .operators.downsample import m4_decimate

    e = T(spark, sf_dir, "events").select(
        "event_id", "event_type", "ts", "value"
    )
    return m4_decimate(
        e, ["event_type"], id_col="event_id", bucket_seconds=3600
    ).select("event_id", "event_type", "bucket_start", "value")


@declare(
    "q_lttb_downsample",
    None,
    doc="LTTB downsampling (operators/downsample.py, Steinarsson 2013): "
    "per-series largest-triangle-three-buckets to 25 points via "
    "applyInPandas (the trailing previous-pick dependency is "
    "inherently sequential per series — the grouped-map shape). "
    "Rows-only: the pick depends on float triangle areas with no SQL "
    "equivalent; endpoint/spike/determinism invariants are covered in "
    "tests/test_downsample.py",
)
def q_lttb_downsample(spark, sf_dir):
    from .operators.downsample import lttb

    e = T(spark, sf_dir, "events").filter(F.col("user_id") < 10).select(
        F.col("user_id").cast("string").alias("series"), "ts", "value"
    )
    return lttb(e, ["series"], n_out=25)


@declare(
    "q_hll_distinct_rollup",
    None,
    doc="mergeable HLL distinct-count rollup (functions/sketches.py, "
    "Spark-native DataSketches): per-(event_type, day) sketches "
    "UNIONED up to per-event_type cells — the re-aggregation exact "
    "COUNT DISTINCT cannot do, which is how 100 TB rollups serve "
    "distinct counts. Rows-only (the sketch binary is Spark-specific); "
    "tests/test_sketches.py pins <5% error vs exact, merge==whole-"
    "range equality, and parquet round-trip of the sketch column",
)
def q_hll_distinct_rollup(spark, sf_dir):
    from .functions.sketches import distinct_rollup, merge_rollup

    e = T(spark, sf_dir, "events").withColumn("day", F.to_date("ts"))
    daily = distinct_rollup(e, ["event_type", "day"], "user_id")
    return merge_rollup(daily, ["event_type"]).select(
        "event_type", "n_rows", "distinct_est"
    )


@declare(
    "q_quantile_stream_served",
    """
    -- event_id IS NOT NULL mirrors the fixture's parity split (a
    -- NULL id matches neither parity leg); HAVING mirrors the
    -- sink's all-NULL-value-cell drop (no sketch row ever lands)
    SELECT event_type,
           CAST(COUNT(value) AS BIGINT) AS n_rows
    FROM events
    WHERE event_id IS NOT NULL
    GROUP BY event_type
    HAVING COUNT(value) > 0
    """,
    doc="streaming KLL quantile store, served accounting "
    "oracle-certified end-to-end (streaming/quantile.py, "
    "the percentile member of the streaming sketch-store family): "
    "events become a JSON drop-dir split by event-id parity into TWO "
    "real micro-batches through the REAL sink (versioned "
    "summaries/batch=<id> dirs, manifest-last), the store is "
    "COMPACTED (per-cell kll_merge fold + delta cleanup), and the "
    "SERVED per-event_type row accounting — which flows through the "
    "same base ∪ deltas merge that evaluates the quantiles — is "
    "hash-matched against DuckDB's count from the source definition: "
    "any replay double-count, half-applied batch visibility, or "
    "compaction loss diverges it. The p50/p95/p99 estimates "
    "themselves are engine-specific (DataSketches KLL rank-error "
    "contract) and are pinned by tests/test_streaming_quantile.py's "
    "rank-containment suite; the fixture hard-fails if the served "
    "p50 leaves the group's [min, max] envelope",
)
def q_quantile_stream_served(spark, sf_dir):
    import glob
    import json
    import shutil

    from .streaming.quantile import (
        compact_quantile_sketch,
        serve_quantiles,
        start_quantile_sketch_sink,
    )

    root = _fixture_dir("q_quantile_stream_served")
    src = os.path.join(root, "drop")
    store = os.path.join(root, "store")

    e = (
        T(spark, sf_dir, "events")
        .filter(F.col("event_id").isNotNull())
        .select("event_type", "value", "event_id")
    )
    e.filter(F.col("event_id") % 2 == 0).select(
        "event_type", "value"
    ).coalesce(1).write.mode("overwrite").json(src)
    b_tmp = os.path.join(root, "b_tmp")
    e.filter(F.col("event_id") % 2 != 0).select(
        "event_type", "value"
    ).coalesce(1).write.mode("overwrite").json(b_tmp)
    b_part = glob.glob(os.path.join(b_tmp, "part-*.json"))
    if len(b_part) != 1:
        raise RuntimeError(f"expected one batch-1 file, got {b_part}")
    b_dst = os.path.join(src, "zz_batch1.json")
    shutil.move(b_part[0], b_dst)
    latest = max(
        os.path.getmtime(p) for p in glob.glob(os.path.join(src, "part-*"))
    )
    os.utime(b_dst, (latest + 10, latest + 10))

    stream = (
        spark.readStream.schema("event_type string, value double")
        .option("maxFilesPerTrigger", "1")
        .json(src)
    )
    q = start_quantile_sketch_sink(
        stream, store, os.path.join(root, "ckpt"),
        ["event_type"], "value", available_now=True,
    )
    if not q.awaitTermination(300):
        q.stop()
        raise RuntimeError("quantile stream fixture did not drain in 300s")
    from .streaming.store_common import read_store_manifest

    man = read_store_manifest(spark, store, "quantile")
    if man is None or int(man["last_applied_batch"]) != 1:
        raise RuntimeError(
            f"expected exactly 2 applied micro-batches, manifest: {man}"
        )
    compact_quantile_sketch(spark, store)
    served = serve_quantiles(spark, store, ["event_type"], (0.5,))
    # estimate sanity envelope (values are engine-specific, the
    # envelope is not): served p50 must lie inside the group's
    # [min, max]
    env = e.groupBy("event_type").agg(
        F.min("value").alias("_lo"), F.max("value").alias("_hi")
    )
    bad = (
        served.join(env, "event_type")
        .filter(
            F.col("p50").isNotNull()
            & ((F.col("p50") < F.col("_lo")) | (F.col("p50") > F.col("_hi")))
        )
        .count()
    )
    if bad:
        raise RuntimeError(f"{bad} served p50 values left the [min,max] envelope")
    return served.select("event_type", "n_rows")


@declare(
    "q_theta_audience_overlap",
    None,
    doc="mergeable Theta-sketch audience overlap ("
    "functions/sketches.py theta_rollup/theta_overlap, Spark-native "
    "DataSketches Theta): one sketch per event_type segment over its "
    "user ids, then every pairwise intersection/union distinct "
    "estimate and Jaccard ratio served from SKETCH BYTES — the set "
    "algebra HLL cells cannot do (union-only), and the scale path "
    "for q_audience_jaccard's exact per-pair distinct-user join, "
    "which at 100 TB cannot afford re-scanning raw events per "
    "segment pair. The pair join is a dims-only segment grid (the "
    "chi-square-scan stance). Rows-only (estimates are "
    "engine-specific); tests/test_sketches.py pins <5% error vs the "
    "exact overlap and the intersection<=min/union>=max set "
    "invariants",
)
def q_theta_audience_overlap(spark, sf_dir):
    from .functions.sketches import theta_overlap, theta_rollup

    e = T(spark, sf_dir, "events")
    segs = theta_rollup(e, ["event_type"], "user_id")
    return theta_overlap(segs, "event_type")


@declare(
    "q_kll_quantile_rollup",
    None,
    doc="mergeable KLL quantile rollup ("
    "functions/sketches.py quantile_rollup/"
    "merge_quantile_rollup, Spark-native DataSketches KLL): "
    "per-(event_type, day) quantile sketches MERGED up to "
    "per-event_type cells and queried for p50/p95/p99 — the "
    "re-aggregation per-cell percentile_approx cannot do (quantiles "
    "don't sum), completing the decomposable-aggregate family beside "
    "the HLL distinct cells; ContinuousRollup.quantile_estimate "
    "serves the same merge over materialized days ∪ live tail. "
    "Rows-only (the sketch binary and its rank-error estimates are "
    "engine-specific); tests/test_sketches.py pins the "
    "normalized-rank-error bound vs exact percentiles, "
    "merge==whole-range consistency, and the rollup-path "
    "days-∪-tail estimate",
)
def q_kll_quantile_rollup(spark, sf_dir):
    from .functions.sketches import merge_quantile_rollup, quantile_rollup

    e = T(spark, sf_dir, "events").withColumn("day", F.to_date("ts"))
    daily = quantile_rollup(e, ["event_type", "day"], "value")
    return merge_quantile_rollup(daily, ["event_type"])


@declare(
    "q_json_roundtrip",
    """
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
           CAST(SUM(user_id) AS BIGINT) AS sum_users
    FROM events WHERE user_id >= 20 AND user_id < 40
    GROUP BY event_type
    """,
    doc="JSON-lines scan oracle-paired (sources/io.py read_json with an "
    "explicit schema — no inference pass): a deterministic events "
    "subset is written as JSON in-fixture, read back through the "
    "engine's JSON source, and aggregated; the oracle computes the "
    "same aggregate from the parquet originals, so a hash match "
    "proves the JSON sink+scan round-trips values exactly (doubles "
    "survive full-precision serialization). Lifts S2-JSON from "
    "test-only to driver-green",
)
def q_json_roundtrip(spark, sf_dir):
    from pyspark.sql.types import (
        DoubleType, LongType, StringType, StructField, StructType,
    )

    from .sources.io import read_json

    schema = StructType([
        StructField("event_id", LongType(), True),
        StructField("user_id", LongType(), True),
        StructField("event_type", StringType(), True),
        StructField("value", DoubleType(), True),
    ])
    e = (
        T(spark, sf_dir, "events")
        .filter((F.col("user_id") >= 20) & (F.col("user_id") < 40))
        .select("event_id", "user_id", "event_type", "value")
    )
    path = os.path.join(_fixture_dir("q_json_roundtrip"), "data")
    e.write.mode("overwrite").json(path)
    back = read_json(spark, path, schema=schema)
    return back.groupBy("event_type").agg(
        F.count("*").alias("n"),
        dsum(F.col("value")).alias("total_value"),
        F.sum("user_id").alias("sum_users"),
    )


@declare(
    "q_csv_roundtrip",
    """
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM events WHERE user_id < 15
    GROUP BY event_type
    """,
    doc="CSV scan oracle-paired (sources/io.py read_csv, explicit "
    "schema + header): same in-fixture write-read-aggregate protocol "
    "as q_json_roundtrip. Lifts S2-CSV from test-only to driver-green",
)
def q_csv_roundtrip(spark, sf_dir):
    from pyspark.sql.types import (
        DoubleType, LongType, StringType, StructField, StructType,
    )

    from .sources.io import read_csv

    schema = StructType([
        StructField("event_id", LongType(), True),
        StructField("user_id", LongType(), True),
        StructField("event_type", StringType(), True),
        StructField("value", DoubleType(), True),
    ])
    e = (
        T(spark, sf_dir, "events")
        .filter(F.col("user_id") < 15)
        .select("event_id", "user_id", "event_type", "value")
    )
    path = os.path.join(_fixture_dir("q_csv_roundtrip"), "data")
    e.write.mode("overwrite").option("header", "true").csv(path)
    back = read_csv(spark, path, schema=schema)
    return back.groupBy("event_type").agg(
        F.count("*").alias("n"),
        dsum(F.col("value")).alias("total_value"),
    )


@declare(
    "q_histogram_quantile",
    """
    WITH b AS (
      SELECT event_type, (floor(value / 50.0) + 1) * 50.0 AS le,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY event_type, (floor(value / 50.0) + 1) * 50.0
    ),
    c AS (
      SELECT event_type, le, n,
             SUM(n) OVER (PARTITION BY event_type ORDER BY le) AS cum,
             SUM(n) OVER (PARTITION BY event_type) AS total
      FROM b
    ),
    p AS (
      SELECT *, 0.95 * total AS rk,
             row_number() OVER (PARTITION BY event_type ORDER BY le) AS pick
      FROM c WHERE cum >= 0.95 * total
    )
    SELECT event_type,
           le - 50.0 + (rk - (cum - n)) / n * 50.0 AS p95
    FROM p WHERE pick = 1
    """,
    doc="PromQL-style histogram_quantile: p95 per series from "
    "FIXED-BUCKET counts — the monitoring-native quantile that stays "
    "mergeable/decomposable at 100 TB (bucket counts are sums, unlike "
    "exact percentiles which need a global sort; constant state per "
    "series = #buckets). Linear interpolation inside the target bucket, "
    "PromQL semantics. One narrow agg on (series,bucket) then windows "
    "over #buckets rows/series",
)
def q_histogram_quantile(spark, sf_dir):
    w = 50.0
    phi = 0.95
    e = T(spark, sf_dir, "events").select("event_type", "value")
    b = (
        e.withColumn("le", (F.floor(F.col("value") / w) + 1) * w)
        .groupBy("event_type", "le")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    cum_w = Window.partitionBy("event_type").orderBy("le")
    tot_w = Window.partitionBy("event_type")
    c = (
        b.withColumn("cum", F.sum("n").over(cum_w))
        .withColumn("total", F.sum("n").over(tot_w))
        .withColumn("rk", F.lit(phi) * F.col("total"))
    )
    p = (
        c.filter(F.col("cum") >= F.col("rk"))
        .withColumn("pick", F.row_number().over(cum_w))
        .filter(F.col("pick") == 1)
    )
    return p.select(
        "event_type",
        (
            F.col("le") - F.lit(w)
            + (F.col("rk") - (F.col("cum") - F.col("n")))
            / F.col("n") * F.lit(w)
        ).alias("p95"),
    )


@declare(
    "q_topn_with_others",
    """
    WITH c AS (
      SELECT event_type, user_id, CAST(COUNT(*) AS BIGINT) AS n,
             SUM(CAST(CAST(value AS DECIMAL(18,2)) AS DOUBLE)) AS sv
      FROM events GROUP BY event_type, user_id
    ),
    r AS (
      SELECT *, row_number() OVER (PARTITION BY event_type
                                   ORDER BY n DESC, user_id) AS rk
      FROM c
    )
    SELECT event_type,
           CASE WHEN rk <= 5 THEN CAST(user_id AS VARCHAR)
                ELSE 'other' END AS who,
           CAST(SUM(n) AS BIGINT) AS n_events,
           CAST(SUM(CAST(sv AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM r
    GROUP BY event_type,
             CASE WHEN rk <= 5 THEN CAST(user_id AS VARCHAR)
                  ELSE 'other' END
    """,
    doc="top-N with 'others' rollup: per series keep the 5 "
    "heaviest users and collapse the long tail into one 'other' row — "
    "the dashboard query every TSDB UI issues. Pre-aggregate to "
    "(series,user) BEFORE ranking so the window sees #users rows per "
    "series, not #events (map-side partial agg shrinks the shuffle); "
    "ties total-ordered by user_id. Exact decimal inner sums so "
    "regrouping cannot drift the double total",
)
def q_topn_with_others(spark, sf_dir):
    e = T(spark, sf_dir, "events").select("event_type", "user_id", "value")
    c = e.groupBy("event_type", "user_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sv"),
    )
    rk_w = Window.partitionBy("event_type").orderBy(
        F.col("n").desc(), F.col("user_id")
    )
    r = c.withColumn("rk", F.row_number().over(rk_w))
    who = F.when(
        F.col("rk") <= 5, F.col("user_id").cast("string")
    ).otherwise(F.lit("other"))
    return (
        r.withColumn("who", who)
        .groupBy("event_type", "who")
        .agg(
            F.sum("n").alias("n_events"),
            F.sum(F.col("sv").cast("decimal(18,2)")).cast("double")
            .alias("sum_value"),
        )
    )


@declare(
    "q_rate_per_second",
    """
    WITH d AS (
      SELECT user_id,
             epoch_us(ts) AS tus,
             CAST(value AS DECIMAL(18,2)) AS v,
             lag(CAST(value AS DECIMAL(18,2)))
               OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pv
      FROM events WHERE user_id < 50
    ),
    s AS (
      SELECT user_id, tus,
             CASE WHEN pv IS NULL THEN NULL
                  WHEN v - pv >= 0 THEN v - pv
                  ELSE v END AS inc,
             CASE WHEN pv IS NOT NULL AND v - pv < 0 THEN 1 ELSE 0 END AS r
      FROM d
    ),
    a AS (
      SELECT user_id,
             CAST(COALESCE(SUM(inc), 0) AS DOUBLE) AS total_increase,
             CAST(SUM(r) AS BIGINT) AS n_resets,
             CAST(COUNT(*) AS BIGINT) AS n_samples,
             MAX(tus) - MIN(tus) AS span_us
      FROM s GROUP BY user_id
    )
    SELECT user_id,
           CASE WHEN span_us > 0
                THEN total_increase / CAST(span_us AS DOUBLE) * 1000000.0
           END AS rate_per_second,
           total_increase, n_resets, n_samples, span_us
    FROM a
    """,
    doc="PromQL-style rate() (operators/resample.py "
    "counter_rate): reset-corrected increase per observed second. Same "
    "single lag-window + single aggregate as counter_increase — the "
    "span rides the same agg as min/max microseconds, so rate costs no "
    "extra shuffle; NULL for single-sample series (PromQL returns "
    "nothing there too)",
)
def q_rate_per_second(spark, sf_dir):
    from .operators.resample import counter_rate

    e = T(spark, sf_dir, "events").filter(F.col("user_id") < 50)
    return counter_rate(
        e, key="user_id", ts="ts", value="value", order_tiebreak="event_id"
    )


@declare(
    "q_chunk_documents",
    """
    WITH t AS (
      SELECT doc_id,
             list_filter(string_split(text, ' '), x -> len(x) > 0) AS ws
      FROM documents
    ),
    c AS (
      SELECT doc_id, ws, len(ws) AS n,
             CASE WHEN len(ws) <= 32 THEN 1
                  ELSE (len(ws) - 32 + 23) // 24 + 1 END AS nc
      FROM t
    )
    SELECT doc_id, i AS chunk_id,
           array_to_string(ws[i * 24 + 1 : i * 24 + 32], ' ') AS chunk_text,
           CAST(len(ws[i * 24 + 1 : i * 24 + 32]) AS BIGINT) AS n_tokens
    FROM c, LATERAL (  -- per-row series: cap-free, like the grams CTEs
      SELECT unnest(generate_series(0, c.nc - 1)) AS i
    ) idx
    """,
    doc="document chunking (operators/chunking.py): explode "
    "each doc into 32-token windows with 8-token overlap — the "
    "corpus->context-budget step before packing/embedding/indexing. "
    "Pure JVM higher-order functions (split/filter/sequence/explode/"
    "slice/array_join), ZERO shuffles — one WholeStageCodegen map over "
    "the scan; every input row survives (short docs -> 1 chunk)",
)
def q_chunk_documents(spark, sf_dir):
    from .operators.chunking import chunk_documents

    d = T(spark, sf_dir, "documents").select("doc_id", "text")
    return chunk_documents(
        d, ["doc_id"], text_col="text", chunk_tokens=32, overlap=8
    )


@declare(
    "q_corpus_pipeline_chunked",
    """
    WITH RECURSIVE base AS (
      SELECT doc_id, source, text,
             list_filter(string_split(lower(text), ' '), x -> len(x) > 0) AS ws
      FROM documents
    ),
    q AS (  -- stage 1: quality gate on token count
      SELECT doc_id, source, text, ws, len(ws) AS n_tok
      FROM base WHERE len(ws) BETWEEN 10 AND 100000
    ),
    keep_exact AS (  -- stage 2: exact dedup, keep min-id per content hash
      SELECT MIN(doc_id) AS doc_id FROM (
        SELECT doc_id,
               md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS fp
        FROM q
      ) GROUP BY fp
    ),
    d2 AS (SELECT q.* FROM q JOIN keep_exact USING (doc_id)),
    grams AS (  -- stage 3: near-dup 3-gram shingles over survivors
      -- LATERAL per-row series: cap-free, so arbitrarily long docs
      -- (quality gate admits up to 100k tokens) cannot diverge from
      -- the engine's uncapped word_shingles
      SELECT DISTINCT doc_id, gram FROM (
        SELECT doc_id, array_to_string(ws[i:i+2], ' ') AS gram
        FROM d2, LATERAL (
          SELECT unnest(generate_series(1, greatest(len(d2.ws) - 2, 1))) AS i
        ) idx
      )
    ),
    sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n
              FROM grams GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(COUNT(*) AS BIGINT) AS i
      FROM grams a JOIN grams b ON a.gram = b.gram AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    ),
    pairs AS (
      SELECT id_a, id_b FROM inter
      JOIN sizes sa ON sa.doc_id = id_a
      JOIN sizes sb ON sb.doc_id = id_b
      WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.35
    ),
    edges AS (
      SELECT id_a AS a, id_b AS b FROM pairs
      UNION SELECT id_b, id_a FROM pairs
    ),
    reach(id, r) AS (  -- connected components (transitive closure)
      SELECT a, a FROM (SELECT DISTINCT a FROM edges) t
      UNION
      SELECT e.a, reach.r FROM edges e JOIN reach ON e.b = reach.id
    ),
    dropped AS (SELECT id FROM reach GROUP BY id HAVING MIN(r) <> id),
    d3 AS (SELECT * FROM d2 WHERE doc_id NOT IN (SELECT id FROM dropped)),
    d4 AS (  -- stage 6a: split assignment (default 90/5/5, salt 'split')
      SELECT *,
        CASE WHEN CAST(('0x' || substr(md5('split' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 10000 < 9000 THEN 'train'
             WHEN CAST(('0x' || substr(md5('split' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 10000 < 9500 THEN 'val'
             ELSE 'test' END AS split
      FROM d3
    ),
    cg AS (  -- stage 4: contamination 3-grams (pre-mixture corpus;
             -- LATERAL = cap-free, consistent with the grams stage)
      SELECT DISTINCT doc_id, split,
             ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS gram
      FROM d4, LATERAL (
        SELECT unnest(generate_series(1, d4.n_tok - 2)) AS i
      ) idx
      WHERE n_tok >= 3
    ),
    held AS (SELECT DISTINCT gram FROM cg WHERE split = 'test'),
    contam AS (
      SELECT c.doc_id FROM cg c LEFT JOIN held h ON c.gram = h.gram
      WHERE c.split = 'train'
      GROUP BY c.doc_id
      HAVING CAST(COUNT(h.gram) AS DOUBLE) / COUNT(*) > 0.8
    ),
    d5 AS (SELECT * FROM d4
           WHERE doc_id NOT IN (SELECT doc_id FROM contam)),
    d6 AS (  -- stage 5: mixture sampling (src0 100%, src1 50%, 80% default)
      SELECT * FROM d5
      WHERE CAST(('0x' || substr(md5('mix' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 10000
            < CASE source WHEN 'src0' THEN 10000 WHEN 'src1' THEN 5000
                          ELSE 8000 END
    ),
    tr AS (SELECT doc_id, source, split, ws, n_tok FROM d6
           WHERE split = 'train'),
    nc AS (  -- stage 6b: chunk count per train doc (chunk 16, overlap 4)
      SELECT *, CASE WHEN n_tok <= 16 THEN 1
                     ELSE (n_tok - 16 + 11) // 12 + 1 END AS nchunks
      FROM tr
    ),
    ch AS (  -- explode to chunks; n_tok becomes the chunk's token count
      SELECT doc_id, source, split, CAST(i AS BIGINT) AS chunk_id,
             CAST(len(ws[i*12+1 : i*12+16]) AS BIGINT) AS n_tok,
             CAST(doc_id AS VARCHAR) || '#' || CAST(i AS VARCHAR) AS cid
      FROM nc, LATERAL (  -- cap-free per-row series (grams pattern)
        SELECT unnest(generate_series(0, nc.nchunks - 1)) AS i
      ) idx
    ),
    tp AS (  -- stage 7: pack CHUNKS (budget 64, 4 shards, composite id)
      SELECT doc_id, chunk_id, source, n_tok, split, shard, hk, cid,
             CAST(FLOOR((SUM(n_tok) OVER (
                 PARTITION BY shard ORDER BY hk, cid
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) - n_tok) / 64.0) AS BIGINT) AS pack_id
      FROM (
        SELECT *,
               CAST(('0x' || substr(md5('pack' || cid), 1, 8)) AS BIGINT) % 4 AS shard,
               md5('pack' || cid) AS hk
        FROM ch
      )
    )
    SELECT doc_id, chunk_id, source, n_tok, split,
           CAST(shard AS BIGINT) AS shard, pack_id,
           CAST(row_number() OVER (
             PARTITION BY shard, pack_id ORDER BY hk, cid
           ) - 1 AS BIGINT) AS pack_pos
    FROM tp
    UNION ALL
    SELECT doc_id, CAST(NULL AS BIGINT) AS chunk_id, source,
           CAST(n_tok AS BIGINT) AS n_tok, split,
           CAST(NULL AS BIGINT) AS shard, CAST(NULL AS BIGINT) AS pack_id,
           CAST(NULL AS BIGINT) AS pack_pos
    FROM d6 WHERE split <> 'train'
    """,
    doc="the CHUNKED corpus pipeline (pipelines.py "
    "chunk_tokens): same 6 selection stages as "
    "q_training_corpus_pipeline, then train docs split into "
    "16-token/4-overlap windows and the CHUNKS packed (budget 64) "
    "under a composite doc#chunk id — the context-budget assembly "
    "flow, end-to-end oracle-paired like the unchunked flagship",
)
def q_corpus_pipeline_chunked(spark, sf_dir):
    from .pipelines import CorpusPipelineConfig, build_training_corpus

    docs = T(spark, sf_dir, "documents")
    cfg = CorpusPipelineConfig(
        min_tokens=10,
        mixture={"src0": 1.0, "src1": 0.5},
        mixture_default=0.8,
        pack_budget=64,
        pack_shards=4,
        chunk_tokens=16,
        chunk_overlap=4,
    )
    return build_training_corpus(docs, cfg)


@declare(
    "q_similarity_ivf_index",
    None,
    doc="PERSISTED IVF index (operators/similarity.py "
    "IvfIndex; FULL lifecycle): build once on ~3/4 of the corpus — "
    "k-means cells "
    "written as cell-PARTITIONED parquet + Hadoop-FS centroid "
    "manifest — add() the rest against the frozen centroids "
    "(nearest-cell appends, no refit), remove() every vec_id % 10 == "
    "3 (tombstone sidecar; query() anti-joins it on the SAME "
    "cell-pruned scan, so post-delete results are EXACT for the live "
    "corpus), then serve. Rows-only like q_similarity_ivf (k-means "
    "has no SQL oracle); the semantic pins live in pytest: "
    "index==ad-hoc equality, restart-from-manifest, add exactness "
    "(tests/test_dedup_similarity.py), and remove==compact equality "
    "+ the removed_ids policy matrix (same file).",
)
def q_similarity_ivf_index(spark, sf_dir):
    from .operators.similarity import IvfIndex

    emb = T(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    corpus = emb.filter(F.col("vec_id") >= 20)
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    path = os.path.join(_fixture_dir("q_similarity_ivf_index"), "ivf")
    idx = IvfIndex(spark, path).build(
        corpus.filter(F.col("vec_id") % 4 != 1), n_clusters=16, seed=42
    )
    idx.add(corpus.filter(F.col("vec_id") % 4 == 1))
    idx.remove(corpus.filter(F.col("vec_id") % 10 == 3).select("vec_id"))
    return idx.query(queries, k=5, n_probe=4)


@declare(
    "q_moving_median",
    """
    SELECT event_id, event_type, ts, value,
           median(value) OVER (
             PARTITION BY event_type ORDER BY ts, event_id
             ROWS BETWEEN 6 PRECEDING AND CURRENT ROW
           ) AS med7,
           abs(value - median(value) OVER (
             PARTITION BY event_type ORDER BY ts, event_id
             ROWS BETWEEN 6 PRECEDING AND CURRENT ROW
           )) AS dev
    FROM events WHERE user_id < 40
    """,
    doc="moving median despiking: exact 7-sample rolling "
    "median per series — the robust smoother a TSDB uses where a "
    "rolling MEAN chases spikes. Spark has no median window function; "
    "expressed as sort_array(collect_list) over the frame + middle "
    "element(s) with even/odd interpolation matching DuckDB's "
    "median(). O(w log w) per row at w=7 — fine for small despiking "
    "frames; for wide frames use the bucketed histogram quantile "
    "instead (q_histogram_quantile)",
)
def q_moving_median(spark, sf_dir):
    e = T(spark, sf_dir, "events").filter(F.col("user_id") < 40).select(
        "event_id", "event_type", "ts", "value"
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(-6, 0)
    )
    arr = F.sort_array(F.collect_list("value").over(w))
    n = F.size(arr)
    # exact median with linear interpolation on even counts (DuckDB
    # semantics): odd -> middle element; even -> mean of the two.
    # collect_list drops NULLs, so an all-NULL frame has n = 0: guard
    # with when(n > 0) — element_at(arr, 0) would raise — returning
    # NULL exactly like DuckDB's median over an empty value set
    lo = F.element_at(arr, ((n + 1) / 2).cast("int"))
    hi = F.element_at(arr, (n / 2 + 1).cast("int"))
    med = F.when(n > 0, (lo + hi) / 2)
    return e.select(
        "event_id",
        "event_type",
        "ts",
        "value",
        med.alias("med7"),
        F.abs(F.col("value") - med).alias("dev"),
    )


@declare(
    "q_series_align_ratio",
    """
    WITH b AS (
      SELECT CAST(to_timestamp(CAST(floor(epoch(ts) / 300) * 300 AS BIGINT)) AS TIMESTAMP) AS bucket,
             CAST(CAST(SUM(CASE WHEN event_type = 'click'
                  THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS DOUBLE) AS click_sum,
             CAST(CAST(SUM(CASE WHEN event_type = 'view'
                  THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS DOUBLE) AS view_sum,
             CAST(COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS BIGINT) AS n_click,
             CAST(COUNT(CASE WHEN event_type = 'view' THEN 1 END) AS BIGINT) AS n_view
      FROM events WHERE event_type IN ('click', 'view')
      GROUP BY 1
    )
    SELECT bucket, click_sum, view_sum, n_click, n_view,
           CASE WHEN view_sum > 0 THEN click_sum / view_sum END AS ratio
    FROM b
    """,
    doc="cross-series alignment + binary op: the PromQL "
    "'vector matching' shape — two series aligned on shared 5-min "
    "buckets, then a ratio between them. ONE conditional aggregation "
    "instead of the naive bucket-self-join (halves the shuffles and "
    "cannot drop buckets where one side is absent); exact decimal "
    "sums keep the double ratio deterministic; NULL where the "
    "denominator side is 0/absent (PromQL drops unmatched vectors)",
)
def q_series_align_ratio(spark, sf_dir):
    e = T(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "view")
    )
    bucket = F.timestamp_seconds(
        (F.unix_timestamp("ts") / 300).cast("bigint") * 300
    )
    is_click = F.col("event_type") == "click"
    dec = F.col("value").cast("decimal(18,2)")
    b = e.groupBy(bucket.alias("bucket")).agg(
        F.sum(F.when(is_click, dec)).cast("double").alias("click_sum"),
        F.sum(F.when(~is_click, dec)).cast("double").alias("view_sum"),
        F.count(F.when(is_click, 1)).alias("n_click"),
        F.count(F.when(~is_click, 1)).alias("n_view"),
    )
    ratio = F.when(
        F.col("view_sum") > 0, F.col("click_sum") / F.col("view_sum")
    )
    return b.select(
        "bucket", "click_sum", "view_sum", "n_click", "n_view",
        ratio.alias("ratio"),
    )


@declare(
    "q_cusum_changepoints",
    """
    WITH s AS (
      SELECT event_id, event_type, ts,
             CAST(value AS DECIMAL(18,2)) AS v,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY ts, event_id) AS rn,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER (
                 PARTITION BY event_type ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS DOUBLE) AS cum,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER (
                 PARTITION BY event_type) AS DOUBLE) AS tot,
             CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) *
                           CAST(value AS DECIMAL(18,2)) AS DECIMAL(38,4)))
                  OVER (PARTITION BY event_type) AS DOUBLE) AS tot2,
             CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
      FROM events WHERE user_id < 60
    ),
    d AS (
      SELECT event_id, event_type, ts, rn, n,
             cum - rn * (tot / n) AS s_stat,
             sqrt((tot2 - tot * (tot / n)) / (n - 1)) AS sigma
      FROM s
    )
    SELECT event_id, event_type, ts, s_stat, sigma
    FROM d WHERE abs(s_stat) > 5.0 * sigma
    """,
    doc="CUSUM change-point flags: per series, the cumulative "
    "sum of deviations from the series mean; rows where |S| exceeds "
    "5 sigma mark sustained level shifts a per-point 3-sigma rule "
    "misses. Deterministic by construction: the running sum is EXACT "
    "decimal in window order and the mean/sigma come from exact "
    "decimal sufficient statistics, so the double arithmetic is "
    "order-fixed and oracle-checkable. One shuffle (series key) "
    "serves the running window, the series totals, and the count",
)
def q_cusum_changepoints(spark, sf_dir):
    e = T(spark, sf_dir, "events").filter(F.col("user_id") < 60).select(
        "event_id", "event_type", "ts", "value"
    )
    dec = F.col("value").cast("decimal(18,2)")
    run = (
        Window.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    allw = Window.partitionBy("event_type")
    s = e.select(
        "event_id",
        "event_type",
        "ts",
        F.row_number().over(
            Window.partitionBy("event_type").orderBy("ts", "event_id")
        ).alias("rn"),
        F.sum(dec).over(run).cast("double").alias("cum"),
        F.sum(dec).over(allw).cast("double").alias("tot"),
        F.sum((dec * dec).cast("decimal(38,4)")).over(allw)
        .cast("double").alias("tot2"),
        F.count(F.lit(1)).over(allw).alias("n"),
    )
    mean = F.col("tot") / F.col("n")
    s_stat = F.col("cum") - F.col("rn") * mean
    sigma = F.sqrt(
        (F.col("tot2") - F.col("tot") * mean) / (F.col("n") - 1)
    )
    return (
        s.select(
            "event_id", "event_type", "ts",
            s_stat.alias("s_stat"), sigma.alias("sigma"),
        )
        .filter(F.abs(F.col("s_stat")) > F.lit(5.0) * F.col("sigma"))
    )


@declare(
    "q_sax_symbols",
    """
    WITH stats AS (
      SELECT event_type,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS tot,
             CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) *
                           CAST(value AS DECIMAL(18,2)) AS DECIMAL(38,4)))
                  AS DOUBLE) AS tot2,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY event_type
    ),
    paa AS (
      SELECT e.event_type,
             CAST(to_timestamp(CAST(floor(epoch(e.ts) / 21600) * 21600 AS BIGINT)) AS TIMESTAMP) AS frame,
             CAST(SUM(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE)
               / COUNT(*) AS seg_mean,
             CAST(COUNT(*) AS BIGINT) AS seg_n
      FROM events e
      GROUP BY e.event_type,
               CAST(to_timestamp(CAST(floor(epoch(e.ts) / 21600) * 21600 AS BIGINT)) AS TIMESTAMP)
    )
    SELECT p.event_type, p.frame, p.seg_mean, p.seg_n,
           CASE
             WHEN z < -0.6745 THEN 'a'
             WHEN z < 0.0 THEN 'b'
             WHEN z < 0.6745 THEN 'c'
             ELSE 'd'
           END AS sax
    FROM (
      SELECT p.*,
             (p.seg_mean - s.tot / s.n)
               / sqrt((s.tot2 - s.tot * (s.tot / s.n)) / (s.n - 1)) AS z
      FROM paa p JOIN stats s ON p.event_type = s.event_type
    ) p
    """,
    doc="SAX symbolization (Lin et al. 2003, the classic "
    "time-series-mining representation): PAA 6-hour frame means "
    "z-normalized per series, mapped to a 4-letter alphabet at the "
    "standard gaussian breakpoints (-0.6745, 0, 0.6745 = N(0,1) "
    "quartiles). Exact decimal sums make every double expression "
    "order-fixed; the per-series stats join is a broadcast "
    "(#series rows). Downstream: SAX words feed motif/discord "
    "discovery and cheap string-distance similarity",
)
def q_sax_symbols(spark, sf_dir):
    e = T(spark, sf_dir, "events").select("event_type", "ts", "value")
    dec = F.col("value").cast("decimal(18,2)")
    stats = e.groupBy("event_type").agg(
        F.sum(dec).cast("double").alias("tot"),
        F.sum((dec * dec).cast("decimal(38,4)")).cast("double").alias("tot2"),
        F.count(F.lit(1)).alias("n"),
    )
    frame = F.timestamp_seconds(
        (F.unix_timestamp("ts") / 21600).cast("bigint") * 21600
    )
    paa = e.groupBy("event_type", frame.alias("frame")).agg(
        (F.sum(dec).cast("double") / F.count(F.lit(1))).alias("seg_mean"),
        F.count(F.lit(1)).alias("seg_n"),
    )
    mean = F.col("tot") / F.col("n")
    sigma = F.sqrt((F.col("tot2") - F.col("tot") * mean) / (F.col("n") - 1))
    z = (F.col("seg_mean") - mean) / sigma
    sax = (
        F.when(z < -0.6745, "a")
        .when(z < 0.0, "b")
        .when(z < 0.6745, "c")
        .otherwise("d")
    )
    return (
        paa.join(F.broadcast(stats), "event_type")
        .select("event_type", "frame", "seg_mean", "seg_n", sax.alias("sax"))
    )


@declare(
    "q_autocorr_lag1",
    """
    WITH o AS (
      SELECT event_type,
             CAST(value AS DECIMAL(18,2)) AS v,
             lead(CAST(value AS DECIMAL(18,2))) OVER (
               PARTITION BY event_type ORDER BY ts, event_id
             ) AS nxt
      FROM events WHERE user_id < 80
    ),
    a AS (
      SELECT event_type,
             CAST(SUM(v) AS DOUBLE) AS tot,
             CAST(SUM(CAST(v * v AS DECIMAL(38,4))) AS DOUBLE) AS tot2,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN nxt IS NOT NULL
                  THEN CAST(v * nxt AS DECIMAL(38,4)) END) AS DOUBLE) AS sxy,
             CAST(SUM(CASE WHEN nxt IS NOT NULL THEN v END) AS DOUBLE) AS sx,
             CAST(SUM(nxt) AS DOUBLE) AS sy,
             CAST(COUNT(nxt) AS BIGINT) AS np
      FROM o GROUP BY event_type
    )
    SELECT event_type, n, np,
           (sxy - (tot / n) * sx - (tot / n) * sy
              + np * ((tot / n) * (tot / n)))
             / (tot2 - tot * (tot / n)) AS acf1
    FROM a
    """,
    doc="lag-1 autocorrelation per series: the core "
    "stationarity/seasonality diagnostic — r1 = sum((x_t-m)(x_{t+1}-m))"
    " / sum((x_t-m)^2), expanded so every input is an EXACT decimal "
    "sufficient statistic (sum v, sum v^2, sum v*next, pairwise edge "
    "sums) and the double arithmetic is order-fixed -> oracle-"
    "checkable. One lead window + one aggregate on the series key — "
    "a single shuffle, the counter_increase shape",
)
def q_autocorr_lag1(spark, sf_dir):
    e = T(spark, sf_dir, "events").filter(F.col("user_id") < 80).select(
        "event_type", "ts", "event_id", "value"
    )
    dec = F.col("value").cast("decimal(18,2)")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    o = e.select(
        "event_type",
        dec.alias("v"),
        F.lead(dec).over(w).alias("nxt"),
    )
    a = o.groupBy("event_type").agg(
        F.sum("v").cast("double").alias("tot"),
        F.sum((F.col("v") * F.col("v")).cast("decimal(38,4)"))
        .cast("double").alias("tot2"),
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.when(
                F.col("nxt").isNotNull(),
                (F.col("v") * F.col("nxt")).cast("decimal(38,4)"),
            )
        ).cast("double").alias("sxy"),
        F.sum(F.when(F.col("nxt").isNotNull(), F.col("v")))
        .cast("double").alias("sx"),
        F.sum("nxt").cast("double").alias("sy"),
        F.count("nxt").alias("np"),
    )
    m = F.col("tot") / F.col("n")
    acf1 = (
        F.col("sxy") - m * F.col("sx") - m * F.col("sy")
        + F.col("np") * (m * m)
    ) / (F.col("tot2") - F.col("tot") * m)
    return a.select("event_type", "n", "np", acf1.alias("acf1"))


@declare(
    "q_series_gap_report",
    """
    WITH d AS (
      SELECT event_type,
             epoch_us(ts) - epoch_us(lag(ts) OVER (
               PARTITION BY event_type ORDER BY ts, event_id
             )) AS gap_us
      FROM events WHERE user_id < 70
    )
    SELECT event_type,
           CAST(COUNT(*) + 1 AS BIGINT) AS n_samples,
           CAST(COUNT(CASE WHEN gap_us > 3600000000 THEN 1 END) AS BIGINT)
             AS n_gaps_over_1h,
           CAST(MAX(gap_us) AS BIGINT) AS max_gap_us,
           CAST(CAST(SUM(CAST(gap_us AS DECIMAL(38,0))) AS DOUBLE)
                / COUNT(gap_us) AS DOUBLE) AS mean_gap_us
    FROM d WHERE gap_us IS NOT NULL
    GROUP BY event_type
    """,
    doc="heartbeat gap report: per series, how often and how "
    "badly the feed went silent — count of inter-sample gaps over 1h, "
    "the worst gap, and the mean cadence. The monitoring query behind "
    "every 'stale sensor' alert. One lag window + one aggregate on the "
    "series key (single shuffle); integer-microsecond gaps and an "
    "exact decimal sum keep the mean order-fixed",
)
def q_series_gap_report(spark, sf_dir):
    e = T(spark, sf_dir, "events").filter(F.col("user_id") < 70).select(
        "event_type", "ts", "event_id"
    )
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    gap = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
    d = e.select("event_type", gap.alias("gap_us")).filter(
        F.col("gap_us").isNotNull()
    )
    return d.groupBy("event_type").agg(
        (F.count(F.lit(1)) + 1).alias("n_samples"),
        F.count(F.when(F.col("gap_us") > 3_600_000_000, 1))
        .alias("n_gaps_over_1h"),
        F.max("gap_us").alias("max_gap_us"),
        (
            F.sum(F.col("gap_us").cast("decimal(38,0)")).cast("double")
            / F.count("gap_us")
        ).alias("mean_gap_us"),
    )


@declare(
    "q_topk_with_ties",
    """
    WITH r AS (
      SELECT event_type, user_id,
             CAST(COUNT(*) AS BIGINT) AS n,
             rank() OVER (PARTITION BY event_type ORDER BY COUNT(*) DESC)
               AS rk
      FROM events GROUP BY event_type, user_id
    )
    SELECT event_type, user_id, n, rk FROM r WHERE rk <= 3
    """,
    doc="top-k WITH TIES: rank() <= k keeps every row tying "
    "at the boundary — the SQL:2008 FETCH ... WITH TIES semantic, "
    "distinct from the row_number top-k (q_window_topk_per_group) "
    "which drops tied peers arbitrarily. Same single-shuffle window "
    "shape; output size is k + ties, not exactly k",
)
def q_topk_with_ties(spark, sf_dir):
    e = T(spark, sf_dir, "events").select("event_type", "user_id")
    c = e.groupBy("event_type", "user_id").agg(
        F.count(F.lit(1)).alias("n")
    )
    w = Window.partitionBy("event_type").orderBy(F.col("n").desc())
    return (
        c.withColumn("rk", F.rank().over(w))
        .filter(F.col("rk") <= 3)
        .select("event_type", "user_id", "n", "rk")
    )


@declare(
    "q_interarrival_burstiness",
    """
    WITH d AS (
      SELECT event_type,
             CAST(epoch_us(ts) - epoch_us(lag(ts) OVER (
               PARTITION BY event_type ORDER BY ts, event_id
             )) AS DECIMAL(38,0)) AS g
      FROM events WHERE user_id < 70
    ),
    a AS (
      SELECT event_type,
             CAST(SUM(g) AS DOUBLE) AS sg,
             CAST(SUM(CAST(g * g AS DECIMAL(38,0))) AS DOUBLE) AS sg2,
             CAST(COUNT(g) AS BIGINT) AS n
      FROM d WHERE g IS NOT NULL GROUP BY event_type
    )
    SELECT event_type, n,
           sg / n AS mean_gap_us,
           sqrt((sg2 - sg * (sg / n)) / (n - 1)) AS std_gap_us,
           (sqrt((sg2 - sg * (sg / n)) / (n - 1)) - sg / n)
             / (sqrt((sg2 - sg * (sg / n)) / (n - 1)) + sg / n)
             AS burstiness
    FROM a
    """,
    doc="interarrival burstiness (Goh & Barabasi 2008 "
    "B=(sigma-mu)/(sigma+mu)): -1 = metronome, 0 = Poisson, ->1 = "
    "bursty — the cadence diagnostic that tells scheduled telemetry "
    "from event-driven firehoses. Integer-microsecond gaps summed as "
    "exact decimals (g and g^2 both fit decimal(38,0)) make the "
    "double formula order-fixed. Same single-shuffle lag+agg shape "
    "as the gap report",
)
def q_interarrival_burstiness(spark, sf_dir):
    e = T(spark, sf_dir, "events").filter(F.col("user_id") < 70).select(
        "event_type", "ts", "event_id"
    )
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    g = (
        F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
    ).cast("decimal(38,0)")
    d = e.select("event_type", g.alias("g")).filter(F.col("g").isNotNull())
    a = d.groupBy("event_type").agg(
        F.sum("g").cast("double").alias("sg"),
        F.sum((F.col("g") * F.col("g")).cast("decimal(38,0)"))
        .cast("double").alias("sg2"),
        F.count("g").alias("n"),
    )
    mean = F.col("sg") / F.col("n")
    std = F.sqrt((F.col("sg2") - F.col("sg") * mean) / (F.col("n") - 1))
    return a.select(
        "event_type",
        "n",
        mean.alias("mean_gap_us"),
        std.alias("std_gap_us"),
        ((std - mean) / (std + mean)).alias("burstiness"),
    )


@declare(
    "q_heavy_hitter_share",
    """
    WITH c AS (
      SELECT event_type, user_id, CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY event_type, user_id
    ),
    t AS (
      SELECT event_type, user_id, n,
             ntile(10) OVER (PARTITION BY event_type
                             ORDER BY n DESC, user_id) AS decile,
             CAST(SUM(n) OVER (PARTITION BY event_type) AS BIGINT) AS tot
      FROM c
    )
    SELECT event_type,
           CAST(SUM(CASE WHEN decile = 1 THEN n END) AS BIGINT)
             AS top_decile_events,
           tot AS total_events,
           CAST(SUM(CASE WHEN decile = 1 THEN n END) AS DOUBLE)
             / tot AS top_decile_share
    FROM t GROUP BY event_type, tot
    """,
    doc="heavy-hitter concentration: what share of a series' "
    "events its top-decile users generate — the skew diagnostic that "
    "predicts which keys need salting (operators/skew.py) BEFORE a "
    "join degrades. Pre-aggregated to (series,user) so the ntile "
    "window ranks users not events; ties total-ordered by user_id",
)
def q_heavy_hitter_share(spark, sf_dir):
    e = T(spark, sf_dir, "events").select("event_type", "user_id")
    c = e.groupBy("event_type", "user_id").agg(
        F.count(F.lit(1)).alias("n")
    )
    w = Window.partitionBy("event_type").orderBy(
        F.col("n").desc(), F.col("user_id")
    )
    tot_w = Window.partitionBy("event_type")
    t = c.withColumn("decile", F.ntile(10).over(w)).withColumn(
        "tot", F.sum("n").over(tot_w)
    )
    top = F.sum(F.when(F.col("decile") == 1, F.col("n")))
    return t.groupBy("event_type", F.col("tot").alias("total_events")).agg(
        top.alias("top_decile_events"),
        (top.cast("double") / F.col("total_events"))
        .alias("top_decile_share"),
    ).select(
        "event_type", "top_decile_events", "total_events",
        "top_decile_share",
    )


@declare(
    "q_sax_motifs",
    """
    WITH stats AS (
      SELECT event_type,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS tot,
             CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) *
                           CAST(value AS DECIMAL(18,2)) AS DECIMAL(38,4)))
                  AS DOUBLE) AS tot2,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY event_type
    ),
    paa AS (
      SELECT event_type,
             CAST(to_timestamp(CAST(floor(epoch(ts) / 86400) * 86400 AS BIGINT)) AS DATE) AS day,
             CAST(floor(epoch(ts) / 21600) AS BIGINT) AS frame6h,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
               / COUNT(*) AS seg_mean
      FROM events
      GROUP BY event_type,
               CAST(to_timestamp(CAST(floor(epoch(ts) / 86400) * 86400 AS BIGINT)) AS DATE),
               CAST(floor(epoch(ts) / 21600) AS BIGINT)
    ),
    lets AS (
      SELECT p.event_type, p.day, p.frame6h,
             CASE
               WHEN z < -0.6745 THEN 'a'
               WHEN z < 0.0 THEN 'b'
               WHEN z < 0.6745 THEN 'c'
               ELSE 'd'
             END AS letter
      FROM (
        SELECT p.*,
               (p.seg_mean - s.tot / s.n)
                 / sqrt((s.tot2 - s.tot * (s.tot / s.n)) / (s.n - 1)) AS z
        FROM paa p JOIN stats s ON p.event_type = s.event_type
      ) p
    ),
    words AS (
      SELECT event_type, day,
             string_agg(letter, '' ORDER BY frame6h) AS word
      FROM lets GROUP BY event_type, day
    )
    SELECT event_type, word, CAST(COUNT(*) AS BIGINT) AS n_days
    FROM words WHERE len(word) = 4
    GROUP BY event_type, word
    """,
    doc="SAX motif counting: each day's four 6-hour SAX "
    "letters concatenated into a word, identical words counted per "
    "series — motif discovery lite: a word recurring across many days "
    "IS that series' daily shape; rare words are discord candidates. "
    "Letters ride the q_sax_symbols plan; the word is an ordered "
    "string_agg per (series, day) — deterministic because frame ids "
    "are unique within the group; partial days (<4 frames) excluded",
)
def q_sax_motifs(spark, sf_dir):
    e = T(spark, sf_dir, "events").select("event_type", "ts", "value")
    dec = F.col("value").cast("decimal(18,2)")
    stats = e.groupBy("event_type").agg(
        F.sum(dec).cast("double").alias("tot"),
        F.sum((dec * dec).cast("decimal(38,4)")).cast("double").alias("tot2"),
        F.count(F.lit(1)).alias("n"),
    )
    epoch = F.unix_timestamp("ts")
    day = F.timestamp_seconds(
        (epoch / 86400).cast("bigint") * 86400
    ).cast("date")
    frame6h = (epoch / 21600).cast("bigint")
    paa = e.groupBy(
        "event_type", day.alias("day"), frame6h.alias("frame6h")
    ).agg(
        (F.sum(dec).cast("double") / F.count(F.lit(1))).alias("seg_mean")
    )
    mean = F.col("tot") / F.col("n")
    sigma = F.sqrt((F.col("tot2") - F.col("tot") * mean) / (F.col("n") - 1))
    z = (F.col("seg_mean") - mean) / sigma
    letter = (
        F.when(z < -0.6745, "a")
        .when(z < 0.0, "b")
        .when(z < 0.6745, "c")
        .otherwise("d")
    )
    lets = paa.join(F.broadcast(stats), "event_type").select(
        "event_type", "day", "frame6h", letter.alias("letter")
    )
    words = lets.groupBy("event_type", "day").agg(
        F.array_join(
            F.array_sort(
                F.collect_list(F.struct("frame6h", "letter"))
            ).getField("letter"),
            "",
        ).alias("word")
    )
    return (
        words.filter(F.length("word") == 4)
        .groupBy("event_type", "word")
        .agg(F.count(F.lit(1)).alias("n_days"))
    )


@declare(
    "q_daily_vs_trailing_week",
    """
    WITH d AS (
      SELECT event_type,
             strftime(CAST(to_timestamp(CAST(floor(epoch(ts) / 86400) * 86400 AS BIGINT)) AS DATE), '%Y-%m-%d') AS day,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2
    ),
    r AS (
      SELECT event_type, day, n,
             CAST(SUM(n) OVER (
               PARTITION BY event_type ORDER BY day
               ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING
             ) AS DOUBLE) AS wk_sum,
             CAST(COUNT(n) OVER (
               PARTITION BY event_type ORDER BY day
               ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING
             ) AS BIGINT) AS wk_n
      FROM d
    )
    SELECT event_type, day, n,
           CASE WHEN wk_n >= 7
                THEN CAST(n AS DOUBLE) / (wk_sum / wk_n) END AS vs_week
    FROM r
    """,
    doc="today-vs-trailing-week ratio: each day's event "
    "count against the mean of the preceding 7 days — THE alerting "
    "primitive ('traffic is 3x normal'/'ingest fell to 0.2x'). NULL "
    "until a full trailing week exists (no partial-baseline false "
    "alarms). Two cheap shuffles: the daily pre-aggregation (map-side "
    "partial) then a 7-row frame over #days rows per series",
)
def q_daily_vs_trailing_week(spark, sf_dir):
    e = T(spark, sf_dir, "events").select("event_type", "ts")
    day = F.date_format(
        F.timestamp_seconds(
            (F.unix_timestamp("ts") / 86400).cast("bigint") * 86400
        ),
        "yyyy-MM-dd",
    )
    d = e.groupBy("event_type", day.alias("day")).agg(
        F.count(F.lit(1)).alias("n")
    )
    w = (
        Window.partitionBy("event_type").orderBy("day").rowsBetween(-7, -1)
    )
    r = d.withColumn(
        "wk_sum", F.sum("n").over(w).cast("double")
    ).withColumn("wk_n", F.count("n").over(w))
    vs = F.when(
        F.col("wk_n") >= 7,
        F.col("n").cast("double") / (F.col("wk_sum") / F.col("wk_n")),
    )
    return r.select("event_type", "day", "n", vs.alias("vs_week"))


# ======================================================================
# Z-order layout as a driver-visible query
# ======================================================================

def _zorder_glob() -> str:
    """The q_zorder_stats fixture's parquet glob, computable at declare
    time (``_fixture_path`` — the same builder ``_fixture_dir`` clears,
    so the two cannot drift) so the DuckDB oracle string can embed it:
    both engines read the SAME files the Spark side just wrote.
    Requires the driver's spark-then-oracle order (the same order
    run_parity.py/oracle.compare use)."""
    return os.path.join(
        _fixture_path("q_zorder_stats"), "data", "*.parquet"
    )


@declare(
    "q_zorder_stats",
    f"""
    WITH f AS (
      SELECT CAST(regexp_extract(filename, 'part-(\\d+)', 1) AS INT)
               AS file_ord,
             user_id, value
      FROM read_parquet('{_zorder_glob()}', filename=true)
    )
    SELECT file_ord, CAST(COUNT(*) AS BIGINT) AS n,
           MIN(user_id) AS min_user, MAX(user_id) AS max_user,
           MIN(value) AS min_value, MAX(value) AS max_value
    FROM f GROUP BY file_ord
    """,
    doc="Z-order layout maintenance, oracle-paired ("
    "operators/layout.py zorder_layout): rewrites the "
    "events table z-ordered on (user_id, value) into 8 files — one "
    "range exchange on the Morton key of equi-depth bucket ids — then "
    "returns each file's row count and per-column [min, max], i.e. "
    "exactly the stats a reader's file-skipping logic sees. The oracle "
    "recomputes the same per-file stats with DuckDB's filename-bearing "
    "parquet scan over the SAME written files, so a hash match proves "
    "the layout+stats are engine-agnostically real (no Spark-private "
    "metadata). File identity is the part-NNNNN ordinal — identical "
    "strings in both engines' filenames. Disjointness itself "
    "(overlap_fraction) is asserted in tests/test_layout.py; min/max "
    "values are untouched doubles read from the same pages on both "
    "sides, so no rounding is needed",
)
def q_zorder_stats(spark, sf_dir):
    from .operators.layout import zorder_layout

    e = T(spark, sf_dir, "events").select("event_id", "user_id", "value")
    path = os.path.join(_fixture_dir("q_zorder_stats"), "data")
    zorder_layout(e, path, ["user_id", "value"], target_files=8)
    back = spark.read.parquet(path).withColumn(
        "file_ord",
        F.regexp_extract(F.input_file_name(), r"part-(\d+)", 1).cast("int"),
    )
    return back.groupBy("file_ord").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("user_id").alias("min_user"),
        F.max("user_id").alias("max_user"),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
    )


# ======================================================================
# OHLC bars, robust MAD outliers, Spearman trend
# ======================================================================

@declare(
    "q_ohlc_bars",
    """
    WITH b AS (
      SELECT event_type,
             -- make_timestamp(micros) is a NAIVE timestamp: unlike
             -- to_timestamp (TIMESTAMPTZ, rendered in the session
             -- zone), this strftime is timezone-independent, matching
             -- Spark's UTC-pinned date_format on any host
             strftime(make_timestamp(CAST(floor(epoch(ts) / 3600) * 3600
                                          AS BIGINT) * 1000000),
                      '%Y-%m-%d %H:00') AS bar,
             value,
             ROW_NUMBER() OVER (
               PARTITION BY event_type,
                            CAST(floor(epoch(ts) / 3600) AS BIGINT)
               ORDER BY ts, event_id) AS rn_a,
             ROW_NUMBER() OVER (
               PARTITION BY event_type,
                            CAST(floor(epoch(ts) / 3600) AS BIGINT)
               ORDER BY ts DESC, event_id DESC) AS rn_d
      FROM events
    )
    SELECT event_type, bar,
           MAX(CASE WHEN rn_a = 1 THEN value END) AS open,
           MAX(value) AS high, MIN(value) AS low,
           MAX(CASE WHEN rn_d = 1 THEN value END) AS close,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS volume
    FROM b GROUP BY event_type, bar
    """,
    doc="OHLC candlestick bars: per (event_type, hour) the "
    "open/high/low/close/volume tuple — THE financial-TSDB downsample "
    "(Timescale time_bucket+first/last, InfluxDB FIRST/LAST). "
    "open/close are made total-order deterministic by the (ts, "
    "event_id) tiebreak — both engines pick the same row even with "
    "duplicate timestamps. One shuffle: the two ROW_NUMBER frames and "
    "the final agg share the (event_type, hour) hash partitioning; at "
    "100 TB the window state is one row per partition key (streamable "
    "rank). The epoch-floor hour bucket is timezone-proof",
)
def q_ohlc_bars(spark, sf_dir):
    e = T(spark, sf_dir, "events").select(
        "event_type", "ts", "value", "event_id"
    )
    # floor (not truncate) — matches the oracle on negative epochs too
    hour = F.floor(F.unix_timestamp("ts") / 3600)
    d = e.withColumn("hour_num", hour).withColumn(
        "bar",
        F.date_format(
            F.timestamp_seconds(F.col("hour_num") * 3600), "yyyy-MM-dd HH:00"
        ),
    )
    wa = Window.partitionBy("event_type", "hour_num").orderBy(
        "ts", "event_id"
    )
    wd = Window.partitionBy("event_type", "hour_num").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    d = d.withColumn("rn_a", F.row_number().over(wa)).withColumn(
        "rn_d", F.row_number().over(wd)
    )
    # group on (event_type, hour_num) + the functionally-dependent bar:
    # HashPartitioning(event_type, hour_num) from the window frames is a
    # subset of the grouping keys, so the aggregate REUSES that exchange
    # — the whole query is one shuffle (plan-checked: 1 Exchange)
    return (
        d.groupBy("event_type", "hour_num", "bar")
        .agg(
            F.max(F.when(F.col("rn_a") == 1, F.col("value"))).alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max(F.when(F.col("rn_d") == 1, F.col("value"))).alias("close"),
            F.count(F.lit(1)).alias("n"),
            dsum(F.col("value")).alias("volume"),
        )
        .drop("hour_num")
    )


@declare(
    "q_outlier_mad",
    """
    WITH med AS (
      SELECT event_type, quantile_cont(value, 0.5) AS med
      FROM events GROUP BY event_type
    ),
    dev AS (
      SELECT e.event_type, e.value, m.med, abs(e.value - m.med) AS adev
      FROM events e JOIN med m USING (event_type)
    ),
    mad AS (
      SELECT event_type, quantile_cont(adev, 0.5) AS mad FROM dev
      GROUP BY event_type
    )
    SELECT d.event_type,
           ROUND(ANY_VALUE(d.med), 6) AS med,
           ROUND(ANY_VALUE(m.mad), 6) AS mad,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN d.adev > 3 * 1.4826 * m.mad
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
    FROM dev d JOIN mad m USING (event_type)
    GROUP BY d.event_type
    """,
    doc="robust outlier detection via median absolute deviation "
    ": per event_type, median m, MAD = median(|v-m|), and the "
    "count of rows beyond the classic 3-sigma-equivalent fence "
    "3*1.4826*MAD — the despiking rule that, unlike z-scores, is not "
    "itself dragged by the outliers it hunts (50% breakdown point vs "
    "0%). Exact interpolated medians (Spark percentile ≡ DuckDB "
    "quantile_cont, same IEEE lerp); the fence compare is exact on "
    "both engines because med/mad enter it unrounded. Plan: two "
    "percentile shuffles over #event_type groups + two BROADCAST "
    "joins of the tiny per-group stats back onto the stream — the "
    "fact table is never reshuffled",
)
def q_outlier_mad(spark, sf_dir):
    e = T(spark, sf_dir, "events").select("event_type", "value")
    med = e.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("med")
    )
    dev = e.join(F.broadcast(med), "event_type").withColumn(
        "adev", F.abs(F.col("value") - F.col("med"))
    )
    mad = dev.groupBy("event_type").agg(
        F.expr("percentile(adev, 0.5)").alias("mad")
    )
    d = dev.join(F.broadcast(mad), "event_type")
    return d.groupBy("event_type").agg(
        F.round(F.first("med"), 6).alias("med"),
        F.round(F.first("mad"), 6).alias("mad"),
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.when(
                F.col("adev") > 3 * 1.4826 * F.col("mad"), 1
            ).otherwise(0)
        ).alias("n_outliers"),
    )


@declare(
    "q_spearman_corr",
    """
    WITH r AS (
      -- NULL ts/value rows excluded from the rank universe on BOTH
      -- sides (NULL-drift hardening — engines disagree on
      -- NULL sort placement, which would scramble every rank)
      SELECT event_type,
             RANK() OVER (PARTITION BY event_type ORDER BY ts) AS rx,
             RANK() OVER (PARTITION BY event_type ORDER BY value) AS ry
      FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
    ),
    s AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(rx AS DECIMAL(28,0))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(ry AS DECIMAL(28,0))) AS DOUBLE) AS sy,
             CAST(SUM(CAST(rx AS DECIMAL(28,0)) * CAST(ry AS DECIMAL(28,0))) AS DOUBLE) AS sxy,
             CAST(SUM(CAST(rx AS DECIMAL(28,0)) * CAST(rx AS DECIMAL(28,0))) AS DOUBLE) AS sxx,
             CAST(SUM(CAST(ry AS DECIMAL(28,0)) * CAST(ry AS DECIMAL(28,0))) AS DOUBLE) AS syy
      FROM r GROUP BY event_type
    )
    SELECT event_type, n,
           ROUND((n * sxy - sx * sy)
                 / NULLIF(sqrt(n * sxx - sx * sx)
                          * sqrt(n * syy - sy * sy), 0.0),
                 6) AS spearman_trend
    FROM s
    """,
    doc="Spearman rank correlation of value against time: "
    "a monotonic-trend detector per series that, unlike Pearson "
    "(q_correlation), is invariant to the value scale and robust to "
    "spikes — the nonparametric cousin of the Mann-Kendall trend "
    "test. Tie policy is pinned to min-rank (RANK(), identical "
    "semantics both engines) so the statistic is engine-exact; "
    "moments of the integer ranks go through DECIMAL(28,0) so the "
    "final Pearson-on-ranks is computed from exact sums in one "
    "documented double expression. Plan: one hash partition by "
    "event_type serves both rank sorts AND the grouped moment agg",
)
def q_spearman_corr(spark, sf_dir):
    e = (
        T(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull() & F.col("value").isNotNull())
        .select("event_type", "ts", "value")
    )
    wx = Window.partitionBy("event_type").orderBy("ts")
    wy = Window.partitionBy("event_type").orderBy("value")
    r = e.select(
        "event_type",
        F.rank().over(wx).cast("decimal(28,0)").alias("rx"),
        F.rank().over(wy).cast("decimal(28,0)").alias("ry"),
    )
    s = r.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("rx").cast("double").alias("sx"),
        F.sum("ry").cast("double").alias("sy"),
        F.sum(F.col("rx") * F.col("ry")).cast("double").alias("sxy"),
        F.sum(F.col("rx") * F.col("rx")).cast("double").alias("sxx"),
        F.sum(F.col("ry") * F.col("ry")).cast("double").alias("syy"),
    )
    n, sx, sy, sxy, sxx, syy = [
        F.col(c) for c in ["n", "sx", "sy", "sxy", "sxx", "syy"]
    ]
    # NULLIF the denominator: a degenerate group (one row, or all-tied
    # ranks) makes it exactly 0.0, and Spark's ANSI double division
    # RAISES where DuckDB nulls — the guard makes both engines emit
    # NULL
    denom = F.nullif(
        F.sqrt(n * sxx - sx * sx) * F.sqrt(n * syy - sy * sy), F.lit(0.0)
    )
    return s.select(
        "event_type",
        "n",
        F.round((n * sxy - sx * sy) / denom, 6).alias("spearman_trend"),
    )


# ======================================================================
# PII scrubbing for the training corpus
# ======================================================================

def _pii_oracle() -> str:
    """The q_pii_scrub oracle, assembled around the SAME pattern
    strings Spark uses (functions/text.py PII_PATTERNS) — a parity
    match therefore proves the regexes behave identically under Java
    regex (Spark) and RE2 (DuckDB), not just that two hand-copied
    patterns happen to agree. Built by substitution (not an f-string)
    because the patterns contain ``{m,n}`` repeat braces."""
    from .functions.text import PII_PATTERNS, PII_SCRUB_ORDER

    scrub = "txt"
    for kind in PII_SCRUB_ORDER:
        scrub = (
            "regexp_replace(" + scrub + ", '" + PII_PATTERNS[kind]
            + "', '[" + kind.upper() + "]', 'g')"
        )
    counts = ",\n             ".join(
        "len(regexp_extract_all(txt, '" + PII_PATTERNS[k]
        + "')) AS c_" + k
        for k in PII_SCRUB_ORDER
    )
    return """
    WITH inj AS (
      SELECT source,
             COALESCE(text, '')
               || CASE WHEN doc_id % 7 = 0
                       THEN ' contact u' || CAST(doc_id AS VARCHAR)
                            || '@example.com or 555-01'
                            || CAST(doc_id % 10 AS VARCHAR) || '-4567'
                       ELSE '' END
               || CASE WHEN doc_id % 11 = 0
                       THEN ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR)
                            || '.1 id 123-45-6789'
                       ELSE '' END AS txt
      FROM documents
    ),
    c AS (
      SELECT source, txt,
             {counts},
             {scrub} AS scrubbed
      FROM inj
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(c_email) AS BIGINT) AS n_emails,
           CAST(SUM(c_ssn) AS BIGINT) AS n_ssns,
           CAST(SUM(c_phone) AS BIGINT) AS n_phones,
           CAST(SUM(c_ipv4) AS BIGINT) AS n_ipv4s,
           CAST(SUM(CASE WHEN scrubbed <> txt THEN 1 ELSE 0 END) AS BIGINT)
             AS n_redacted,
           CAST(SUM(length(scrubbed) - length(txt)) AS BIGINT)
             AS char_delta
    FROM c GROUP BY source
    """.replace("{counts}", counts).replace("{scrub}", scrub)


@declare(
    "q_pii_scrub",
    _pii_oracle(),
    doc="PII redaction pass, oracle-paired (functions/text.py "
    "scrub_pii/pii_count): the synthetic corpus carries no PII, so the "
    "query PLANTS deterministic emails/phones/SSNs/IPs (same CASE "
    "expression both engines, keyed on doc_id) and then scrubs and "
    "counts them — per source: match counts per category, docs "
    "redacted, and the redaction's exact character delta. The oracle "
    "is assembled from the IDENTICAL pattern strings Spark compiles, "
    "so the hash match certifies Java-regex/RE2 agreement on the "
    "shared dialect subset. 100% JVM regexp expressions, zero "
    "shuffles beyond the final tiny per-source agg",
)
def q_pii_scrub(spark, sf_dir):
    from .functions.text import PII_SCRUB_ORDER, pii_count, scrub_pii

    d = T(spark, sf_dir, "documents")
    txt = (
        F.concat(
            F.coalesce(F.col("text"), F.lit("")),
            F.when(
                F.col("doc_id") % 7 == 0,
                F.concat(
                    F.lit(" contact u"),
                    F.col("doc_id").cast("string"),
                    F.lit("@example.com or 555-01"),
                    (F.col("doc_id") % 10).cast("string"),
                    F.lit("-4567"),
                ),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 11 == 0,
                F.concat(
                    F.lit(" from 10.0."),
                    (F.col("doc_id") % 256).cast("string"),
                    F.lit(".1 id 123-45-6789"),
                ),
            ).otherwise(F.lit("")),
        )
    )
    c = d.select("source", txt.alias("txt")).withColumn(
        "scrubbed", scrub_pii(F.col("txt"))
    )
    aggs = [
        F.sum(pii_count(F.col("txt"), k)).alias(
            "n_" + {"email": "emails", "ssn": "ssns",
                    "phone": "phones", "ipv4": "ipv4s"}[k]
        )
        for k in PII_SCRUB_ORDER
    ]
    return c.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        *aggs,
        F.sum(
            F.when(F.col("scrubbed") != F.col("txt"), 1).otherwise(0)
        ).alias("n_redacted"),
        F.sum(F.length("scrubbed") - F.length("txt")).alias("char_delta"),
    )


def _luhn_oracle() -> str:
    from .functions.text import CARD_CANDIDATE_PATTERN

    luhn_sql = (
        "list_sum(list_transform(generate_series(1, length(x)), i -> "
        "CASE WHEN i % 2 = 0 THEN "
        "CASE WHEN 2 * CAST(substr(x, length(x) - CAST(i AS INT) + 1, 1) AS INT) > 9 "
        "THEN 2 * CAST(substr(x, length(x) - CAST(i AS INT) + 1, 1) AS INT) - 9 "
        "ELSE 2 * CAST(substr(x, length(x) - CAST(i AS INT) + 1, 1) AS INT) END "
        "ELSE CAST(substr(x, length(x) - CAST(i AS INT) + 1, 1) AS INT) END"
        ")) % 10 = 0"
    )
    return f"""
    WITH t AS (
      SELECT source, coalesce(text, '') || CASE CAST(doc_id % 5 AS INT)
          WHEN 0 THEN ' pay 4111111111111111 now'
          WHEN 1 THEN ' ref 4111111111111112 x'
          WHEN 2 THEN ' amex 378282246310005 ok'
          WHEN 3 THEN ' id 123456789012 t'
          ELSE '' END AS s
      FROM documents
    ),
    v AS (
      SELECT source,
             len(regexp_extract_all(s, '{CARD_CANDIDATE_PATTERN}'))
               AS n_cand,
             len(list_filter(regexp_extract_all(s, '{CARD_CANDIDATE_PATTERN}'),
                             x -> {luhn_sql})) AS n_valid
      FROM t
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_cand) AS BIGINT) AS n_candidates,
           CAST(SUM(n_valid) AS BIGINT) AS n_valid_cards,
           CAST(SUM(CASE WHEN n_valid > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_docs_with_card
    FROM v GROUP BY source
    """


@declare(
    "q_pii_luhn_cards",
    _luhn_oracle(),
    doc="Payment-card PII detection with Luhn validation ("
    "functions/text.py card_candidates + luhn_valid): candidate "
    "13-19-digit runs via the SHARED regex constant, then the "
    "ISO/IEC 7812 Luhn checksum as a pure integer transform+aggregate "
    "over digit positions — no UDF, and the DuckDB oracle recomputes "
    "the identical arithmetic, so a hash match certifies the checksum "
    "itself. The synthetic corpus carries no digit runs, so the query "
    "PLANTS fixed public test numbers keyed on doc_id (valid Visa 16 "
    "/ Amex 15, an off-by-one invalid, a too-short run the candidate "
    "regex must ignore). The length gate matters: timestamps and ids "
    "are digit runs too — Luhn is what separates a card from noise.",
)
def q_pii_luhn_cards(spark, sf_dir):
    from .functions.text import card_candidates, luhn_valid

    d = T(spark, sf_dir, "documents")
    planted = F.concat(
        F.coalesce(F.col("text"), F.lit("")),
        F.when(F.col("doc_id") % 5 == 0, F.lit(" pay 4111111111111111 now"))
        .when(F.col("doc_id") % 5 == 1, F.lit(" ref 4111111111111112 x"))
        .when(F.col("doc_id") % 5 == 2, F.lit(" amex 378282246310005 ok"))
        .when(F.col("doc_id") % 5 == 3, F.lit(" id 123456789012 t"))
        .otherwise(F.lit("")),
    )
    c = d.select("source", card_candidates(planted).alias("_cands"))
    n_valid = F.size(F.filter(F.col("_cands"), luhn_valid))
    return c.select(
        "source",
        F.size("_cands").alias("_nc"),
        n_valid.alias("_nv"),
    ).groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("_nc").cast("bigint").alias("n_candidates"),
        F.sum("_nv").cast("bigint").alias("n_valid_cards"),
        F.sum(F.when(F.col("_nv") > 0, 1).otherwise(0))
        .cast("bigint").alias("n_docs_with_card"),
    )


@declare(
    "q_char_entropy",
    """
    WITH norm AS (
      SELECT doc_id, lower(coalesce(text, '')) AS s FROM documents
    ),
    ch AS (
      SELECT doc_id, substr(s, CAST(i AS INT), 1) AS ch
      FROM (
        SELECT doc_id, s, unnest(generate_series(1, length(s))) AS i
        FROM norm
      )
    ),
    counts AS (
      SELECT doc_id, ch, CAST(COUNT(*) AS BIGINT) AS c
      FROM ch GROUP BY 1, 2
    ),
    per AS (
      SELECT doc_id, SUM(c) AS n,
             SUM(CAST(c AS DOUBLE) * log2(CAST(c AS DOUBLE))) AS clogc
      FROM counts GROUP BY 1
    )
    SELECT d.doc_id,
           CAST(coalesce(p.n, 0) AS BIGINT) AS n_chars,
           coalesce(ROUND(log2(CAST(p.n AS DOUBLE))
                          - p.clogc / CAST(p.n AS DOUBLE), 6), 0.0)
             AS entropy_bits
    FROM documents d LEFT JOIN per p USING (doc_id)
    """,
    doc="Per-document character-level Shannon entropy ("
    "operators/profile.py char_entropy): the classic gibberish/"
    "repetition quality signal at the character level, complementing "
    "the word/bigram repetition_profile. Exact integer char counts "
    "through the algebraic form H = log2(n) - (sum c*log2 c)/n, "
    "rounded 6 dp on both engines. O(chars) explode + two map-side-"
    "combining hash aggs, no window.",
)
def q_char_entropy(spark, sf_dir):
    from .operators.profile import char_entropy

    return char_entropy(T(spark, sf_dir, "documents"))


@declare(
    "q_column_profile",
    """
    SELECT 'event_id' AS column_name, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(*) - COUNT(event_id) AS BIGINT) AS n_nulls,
           CAST(COUNT(DISTINCT event_id) AS BIGINT) AS n_distinct,
           CAST(MIN(event_id) AS DOUBLE) AS min_num,
           CAST(MAX(event_id) AS DOUBLE) AS max_num
    FROM events
    UNION ALL
    SELECT 'ts', CAST(COUNT(*) AS BIGINT),
           CAST(COUNT(*) - COUNT(ts) AS BIGINT),
           CAST(COUNT(DISTINCT ts) AS BIGINT),
           CAST(MIN(epoch_us(ts)) AS DOUBLE),
           CAST(MAX(epoch_us(ts)) AS DOUBLE)
    FROM events
    UNION ALL
    SELECT 'user_id', CAST(COUNT(*) AS BIGINT),
           CAST(COUNT(*) - COUNT(user_id) AS BIGINT),
           CAST(COUNT(DISTINCT user_id) AS BIGINT),
           CAST(MIN(user_id) AS DOUBLE), CAST(MAX(user_id) AS DOUBLE)
    FROM events
    UNION ALL
    SELECT 'event_type', CAST(COUNT(*) AS BIGINT),
           CAST(COUNT(*) - COUNT(event_type) AS BIGINT),
           CAST(COUNT(DISTINCT event_type) AS BIGINT),
           CAST(MIN(TRY_CAST(event_type AS DOUBLE)) AS DOUBLE),
           CAST(MAX(TRY_CAST(event_type AS DOUBLE)) AS DOUBLE)
    FROM events
    UNION ALL
    SELECT 'value', CAST(COUNT(*) AS BIGINT),
           CAST(COUNT(*) - COUNT(value) AS BIGINT),
           CAST(COUNT(DISTINCT value) AS BIGINT),
           CAST(MIN(value) AS DOUBLE), CAST(MAX(value) AS DOUBLE)
    FROM events
    UNION ALL
    SELECT 'props', CAST(COUNT(*) AS BIGINT),
           CAST(COUNT(*) - COUNT(props) AS BIGINT),
           CAST(COUNT(DISTINCT props) AS BIGINT),
           CAST(MIN(TRY_CAST(props AS DOUBLE)) AS DOUBLE),
           CAST(MAX(TRY_CAST(props AS DOUBLE)) AS DOUBLE)
    FROM events
    """,
    doc="one-pass column profiling (operators/profile.py "
    "profile_columns): per column of events — row count, null count, "
    "EXACT distinct cardinality, numeric [min, max] (timestamps via "
    "unix_micros; non-numeric strings NULL through try_cast, which is "
    "load-bearing under Spark 4's ANSI default). Spark computes ALL "
    "columns in ONE aggregate (Catalyst Expand feeding a two-level "
    "hash agg) then explodes the 1-row result into tidy per-column "
    "rows; exact=False swaps in HLL approx_count_distinct and drops "
    "the Expand — the 100 TB default. The oracle is the honest "
    "6-branch UNION ALL of per-column scans",
)
def q_column_profile(spark, sf_dir):
    from .operators.profile import profile_columns

    e = T(spark, sf_dir, "events")
    return profile_columns(
        e,
        ["event_id", "ts", "user_id", "event_type", "value", "props"],
        numeric={"ts": F.unix_micros(F.col("ts"))},
    )


@declare(
    "q_kmeans_step",
    """
    WITH ex AS (
      SELECT label, vec_id,
             generate_subscripts(embedding, 1) - 1 AS dim,
             unnest(embedding) AS comp
      FROM embeddings
    ),
    pd AS (
      SELECT label, dim,
             list_aggregate(list_transform(list(comp ORDER BY vec_id),
                            x -> CAST(x AS DOUBLE)), 'sum') AS s,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM ex GROUP BY label, dim
    ),
    cent AS (
      SELECT label AS c_label, list(s / n ORDER BY dim) AS cv
      FROM pd GROUP BY label
    ),
    scored AS (
      SELECT e.vec_id, e.label, c.c_label,
             list_aggregate(list_transform(list_zip(e.embedding, c.cv),
               p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))
                  * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))),
               'sum') AS d2
      FROM embeddings e, cent c
    ),
    a AS (
      SELECT vec_id, label, c_label,
             row_number() OVER (PARTITION BY vec_id
                                ORDER BY d2, c_label) AS rn
      FROM scored
    )
    SELECT label, c_label AS assigned_label, CAST(COUNT(*) AS BIGINT) AS n
    FROM a WHERE rn = 1 GROUP BY label, c_label
    """,
    doc="one full Lloyd/k-means step over the embeddings, oracle-paired "
    "(operators/clustering.py): per-label centroids (the M "
    "step, deterministic in-order fold so both engines sum components "
    "in vec_id order — bit-identical means), then every vector "
    "re-assigned to its nearest centroid by squared L2 with a "
    "(distance, label) total-order tie-break (the E step), returning "
    "the label-vs-assigned confusion counts — integer-exact, so the "
    "hash certifies the whole distributed vector pipeline: explode, "
    "per-dim tree agg, broadcast of k centroids, codegen'd zip_with "
    "fold, per-vector argmin window. The plain-avg centroid mode "
    "(deterministic=False) is the 100 TB path — same result modulo "
    "float-order, no per-cell list materialization",
)
def q_kmeans_step(spark, sf_dir):
    from .operators.clustering import assign_nearest, label_centroids

    emb = T(spark, sf_dir, "embeddings").select(
        "vec_id", "label", "embedding"
    )
    cent = label_centroids(emb, deterministic=True)
    a = assign_nearest(emb, cent.select("label", "centroid"))
    return a.groupBy("label", "assigned_label").agg(
        F.count(F.lit(1)).alias("n")
    )


@declare(
    "q_seasonal_backtest",
    """
    WITH hourly AS (
      SELECT event_type,
             CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day,
             CAST(floor(epoch(ts) / 3600) AS BIGINT) % 24 AS hod,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS v
      FROM events GROUP BY 1, 2, 3
    ),
    pred AS (
      SELECT event_type, day, hod, v,
             CAST(SUM(CAST(v AS DECIMAL(18,2))) OVER w AS DOUBLE)
               / COUNT(v) OVER w AS yhat,
             CAST(COUNT(v) OVER w AS BIGINT) AS n_hist
      FROM hourly
      WINDOW w AS (PARTITION BY event_type, hod ORDER BY day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    ),
    err AS (
      SELECT event_type, day, hod, abs(v - yhat) AS ae
      FROM pred WHERE n_hist >= 3
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_forecasts,
           ROUND(list_aggregate(list_transform(
                   list(ae ORDER BY day, hod), x -> CAST(x AS DOUBLE)),
                 'sum') / COUNT(*), 6) AS mae
    FROM err GROUP BY event_type
    """,
    doc="seasonal-naive forecast backtest: forecast each "
    "(event_type, day, hour-of-day) hourly total as the expanding mean "
    "of ALL PRIOR days' same-hour totals — the hour-of-day seasonal "
    "baseline every capacity dashboard starts from — and report the "
    "walk-forward MAE per series (first 3 observations warm up, never "
    "scored: no lookahead leakage by construction). Determinism: "
    "hourly totals and the expanding-mean numerator go through exact "
    "DECIMAL sums; the MAE itself sums |error| doubles in pinned "
    "(day, hod) order via the in-order fold (same technique as "
    "q_kmeans_step), so both engines add in the same sequence. Two "
    "bounded shuffles: the hourly pre-agg, then (event_type, hod) "
    "frames + the final per-type fold over #days*24 rows",
)
def q_seasonal_backtest(spark, sf_dir):
    e = T(spark, sf_dir, "events").select("event_type", "ts", "value")
    epoch = F.unix_timestamp("ts")
    hourly = (
        e.groupBy(
            "event_type",
            F.floor(epoch / 86400).alias("day"),
            (F.floor(epoch / 3600) % 24).alias("hod"),
        )
        .agg(dsum(F.col("value")).alias("v"))
    )
    w = (
        Window.partitionBy("event_type", "hod")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    pred = hourly.select(
        "event_type",
        "day",
        "hod",
        "v",
        (
            F.sum(dec(F.col("v"))).over(w).cast("double")
            / F.count("v").over(w)
        ).alias("yhat"),
        F.count("v").over(w).alias("n_hist"),
    )
    err = pred.filter(F.col("n_hist") >= 3).withColumn(
        "ae", F.abs(F.col("v") - F.col("yhat"))
    )
    return err.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_forecasts"),
        F.round(
            F.aggregate(
                F.array_sort(F.collect_list(F.struct("day", "hod", "ae"))),
                F.lit(0.0),
                lambda acc, x: acc + x["ae"],
            )
            / F.count(F.lit(1)),
            6,
        ).alias("mae"),
    )


@declare(
    "q_delta_compression_stats",
    """
    WITH s AS (
      SELECT event_type,
             CAST(value AS DECIMAL(18,2))
               - lag(CAST(value AS DECIMAL(18,2))) OVER
                 (PARTITION BY event_type ORDER BY ts, event_id) AS d
      FROM events
    )
    SELECT event_type,
           CAST(COUNT(d) AS BIGINT) AS n_deltas,
           CAST(SUM(CASE WHEN d = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_zero,
           CAST(SUM(CASE WHEN abs(d) <= 0.5 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_small,
           CAST(SUM(CASE WHEN d < 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_down,
           CAST(SUM(CAST(abs(d) AS DECIMAL(18,2))) AS DOUBLE)
             / COUNT(d) AS mean_abs_delta
    FROM s GROUP BY event_type
    """,
    doc="delta-encoding compressibility telemetry: per "
    "series, the distribution of consecutive-sample deltas — zero "
    "deltas (RLE-able), small deltas (|d| <= 0.5: few-bit Gorilla/"
    "delta-of-delta residues), sign flips, and the exact mean "
    "|delta| — the stats a storage engine consults to pick its "
    "timestamp/value codecs (SCALE.md storage table). Deltas are "
    "computed in DECIMAL(18,2) of the 2-dp values, so every compare "
    "and the mean are exact on both engines; ordering is pinned by "
    "the (ts, event_id) total order. One shuffle: the lag window and "
    "the group agg share the event_type partitioning",
)
def q_delta_compression_stats(spark, sf_dir):
    e = T(spark, sf_dir, "events").select(
        "event_type", "ts", "event_id", "value"
    )
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    v = dec(F.col("value"))
    s = e.withColumn("d", v - F.lag(v).over(w))
    d = F.col("d")
    return s.groupBy("event_type").agg(
        F.count("d").alias("n_deltas"),
        F.sum(F.when(d == 0, 1).otherwise(0)).alias("n_zero"),
        F.sum(F.when(F.abs(d) <= 0.5, 1).otherwise(0)).alias("n_small"),
        F.sum(F.when(d < 0, 1).otherwise(0)).alias("n_down"),
        (F.sum(F.abs(d).cast("decimal(18,2)")).cast("double") / F.count("d"))
        .alias("mean_abs_delta"),
    )


@declare(
    "q_audience_jaccard",
    """
    WITH s AS (
      SELECT DISTINCT event_type, user_id FROM events
    ),
    sz AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n
      FROM s GROUP BY event_type
    ),
    inter AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             CAST(COUNT(*) AS BIGINT) AS n_common
      FROM s a JOIN s b
        ON a.user_id = b.user_id AND a.event_type < b.event_type
      GROUP BY 1, 2
    )
    SELECT i.type_a, i.type_b, i.n_common,
           ROUND(CAST(i.n_common AS DOUBLE)
                 / (za.n + zb.n - i.n_common), 6) AS jaccard
    FROM inter i
    JOIN sz za ON za.event_type = i.type_a
    JOIN sz zb ON zb.event_type = i.type_b
    """,
    doc="audience-overlap Jaccard between event types: for "
    "each unordered type pair, |users_a ∩ users_b| / |users_a ∪ "
    "users_b| from exact distinct audiences — the set-similarity "
    "query behind cohort overlap, feature co-occurrence, and "
    "cross-sell dashboards. Spark-first shape: ONE distinct "
    "(event_type, user_id) projection is reused three ways — pair "
    "self-join on user_id (keys are users, so the join never "
    "explodes past sum-of-pairs-per-user; the < predicate halves it), "
    "per-type sizes, and the union by inclusion-exclusion — no "
    "per-pair re-scan of the fact table. Sizes are a tiny broadcast. "
    "At 100 TB the distinct is the only big shuffle and is exactly "
    "the dedup shuffle the engine already optimizes",
)
def q_audience_jaccard(spark, sf_dir):
    e = T(spark, sf_dir, "events")
    s = e.select("event_type", "user_id").distinct()
    sz = s.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    a = s.select(F.col("event_type").alias("type_a"), "user_id")
    b = s.select(F.col("event_type").alias("type_b"), "user_id")
    inter = (
        a.join(b, "user_id")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    za = F.broadcast(sz.select(F.col("event_type").alias("type_a"),
                               F.col("n").alias("na")))
    zb = F.broadcast(sz.select(F.col("event_type").alias("type_b"),
                               F.col("n").alias("nb")))
    return (
        inter.join(za, "type_a")
        .join(zb, "type_b")
        .select(
            "type_a",
            "type_b",
            "n_common",
            F.round(
                F.col("n_common").cast("double")
                / (F.col("na") + F.col("nb") - F.col("n_common")),
                6,
            ).alias("jaccard"),
        )
    )


@declare(
    "q_value_heatmap_2d",
    """
    SELECT event_type,
           CAST(floor(epoch(ts) / 21600) AS BIGINT) AS time_bin,
           CAST(CASE WHEN value <= 0 THEN 0
                     WHEN value >= 100 THEN 11
                     ELSE CAST(floor(value / 10) AS BIGINT) + 1 END
                AS BIGINT) AS value_bin,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM events
    GROUP BY 1, 2, 3
    """,
    doc="2-D heatmap binning: counts per (series, 6-hour "
    "time bin, fixed value band) — the Grafana/Chronograf heatmap "
    "primitive that shows a metric's DISTRIBUTION drifting over time "
    "where a mean line hides bimodality. Closed-form bucket edges "
    "(width 10 over [0,100], clamped outer bands) keep the cell ids "
    "engine-exact and MERGEABLE: cells re-aggregate across any "
    "rollup, same decomposability argument as q_histogram_quantile. "
    "One map-side-combined shuffle on the cell key; epoch-floor time "
    "bins are timezone-proof",
)
def q_value_heatmap_2d(spark, sf_dir):
    e = T(spark, sf_dir, "events").select("event_type", "ts", "value")
    # F.floor, not a truncating cast: cast rounds toward zero, which
    # diverges from the oracle's floor() for pre-1970 (negative-epoch)
    # timestamps
    tbin = F.floor(F.unix_timestamp("ts") / 21600)
    v = F.col("value")
    vbin = (
        F.when(v <= 0, 0)
        .when(v >= 100, 11)
        .otherwise(F.floor(v / 10).cast("bigint") + 1)
        .cast("bigint")
    )
    return (
        e.groupBy(
            "event_type",
            tbin.alias("time_bin"),
            vbin.alias("value_bin"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )


@declare(
    "q_top_movers",
    """
    WITH halves AS (
      SELECT user_id,
             CASE WHEN CAST(epoch_us(ts) AS DOUBLE) <
                       (SELECT (min(epoch_us(ts)) + max(epoch_us(ts))) / 2
                        FROM events)
                  THEN 0 ELSE 1 END AS half,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2
    ),
    ranked AS (
      SELECT user_id, half, n,
             RANK() OVER (PARTITION BY half ORDER BY n DESC, user_id)
               AS rnk
      FROM halves
    )
    SELECT a.user_id,
           a.rnk AS rank_before, b.rnk AS rank_after,
           CAST(a.rnk - b.rnk AS BIGINT) AS rank_gain,
           a.n AS n_before, b.n AS n_after
    FROM ranked a JOIN ranked b USING (user_id)
    WHERE a.half = 0 AND b.half = 1
      AND abs(a.rnk - b.rnk) >= 10
    """,
    doc="top movers / trending entities: each user's "
    "activity rank in the first half of the observed window vs the "
    "second, keeping movers of >= 10 rank places — the 'what changed' "
    "leaderboard behind trending dashboards and regression triage. "
    "The midpoint is a 1-row scalar aggregate (broadcast on the Spark "
    "side via attach_scalar's pattern — a scalar subquery to DuckDB); "
    "rank ties pinned by (count DESC, user_id). Two shuffles: the "
    "(user, half) pre-agg, then the per-half rank window over #users "
    "rows; the halves self-join keys on user_id at #users scale, "
    "never events",
)
def q_top_movers(spark, sf_dir):
    e = T(spark, sf_dir, "events").select("user_id", "ts")
    # microsecond epoch on BOTH sides: second-truncating unix_timestamp
    # would give Spark a different midpoint than DuckDB's fractional
    # epoch() whenever timestamps carry sub-second parts; the sums stay
    # exact in double (< 2^53)
    bounds = e.agg(
        ((F.min(F.unix_micros("ts")) + F.max(F.unix_micros("ts"))) / 2)
        .alias("mid")
    )
    halves = (
        attach_scalar(e, bounds)
        .withColumn(
            "half",
            F.when(
                F.unix_micros("ts").cast("double") < F.col("mid"), 0
            ).otherwise(1),
        )
        .groupBy("user_id", "half")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    # asc_nulls_last pins the tiebreak to DuckDB's ASC default (nulls
    # LAST) — Spark's bare asc is nulls-first, which would shift every
    # rank in an n-tied run containing a NULL user
    w = Window.partitionBy("half").orderBy(
        F.col("n").desc(), F.col("user_id").asc_nulls_last()
    )
    ranked = halves.withColumn("rnk", F.rank().over(w))
    a = ranked.filter(F.col("half") == 0).select(
        "user_id", F.col("rnk").alias("rank_before"),
        F.col("n").alias("n_before"),
    )
    b = ranked.filter(F.col("half") == 1).select(
        "user_id", F.col("rnk").alias("rank_after"),
        F.col("n").alias("n_after"),
    )
    return (
        a.join(b, "user_id")
        .filter(F.abs(F.col("rank_before") - F.col("rank_after")) >= 10)
        .select(
            "user_id",
            "rank_before",
            "rank_after",
            (F.col("rank_before") - F.col("rank_after"))
            .cast("bigint")
            .alias("rank_gain"),
            "n_before",
            "n_after",
        )
    )


# ======================================================================
# Serving + maintenance surfaces, oracle-paired
# ======================================================================

@declare(
    "q_latest_values",
    """
    WITH src AS (
      SELECT 'series-' || CAST(user_id AS VARCHAR) AS timeseries_id,
             event_type AS sensor_name,
             strftime(ts, '%Y-%m-%dT%H:%M:%SZ') AS ts_raw,
             value,
             CAST(NULL AS TINYINT) AS fc1_flag,
             event_id
      FROM events
      WHERE user_id IS NOT NULL AND ts IS NOT NULL
    ), ranked AS (
      SELECT *, row_number() OVER (
               PARTITION BY timeseries_id
               ORDER BY ts_raw DESC, event_id DESC
             ) AS rn
      FROM src
    )
    SELECT timeseries_id, sensor_name, ts_raw, value, fc1_flag
    FROM ranked WHERE rn = 1
    """,
    doc="last-value serving read (api.py "
    "TimeseriesEngine.latest): the latest row per series from a REAL "
    "warehouse the query builds in-fixture from the events table — "
    "the batch face of the streaming last-value cache and the answer "
    "GET /latest and the REPL `latest` verb serve. One max_by running "
    "argmax on (ts, ingest_seq) — a single shuffle on the series key, "
    "no sort, no window state beyond one row per key; DuckDB "
    "certifies it as the arg-max row per series. Determinism: the "
    "fixture ingests in dense-seq mode sorted by (ts_raw, event_id), "
    "so the engine's ingest_seq tiebreak equals the oracle's "
    "(ts_raw DESC, event_id DESC) pick even on duplicate truncated-"
    "second timestamps. The O(#series) snapshot path "
    "(latest(prefer_snapshot=True) over a committed last-value sink) "
    "is hash-equality-tested against this batch face in "
    "tests/test_streaming_windows.py",
)
def q_latest_values(spark, sf_dir):
    from .api import TimeseriesEngine

    e = T(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull() & F.col("ts").isNotNull()
    )
    raw = e.select(
        F.col("event_type").alias("sensor_name"),
        F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss'Z'").alias("timestamp"),
        F.col("value").cast("double").alias("value"),
        F.lit(None).cast("tinyint").alias("fc1_flag"),
        F.concat(F.lit("series-"), F.col("user_id").cast("string")).alias(
            "timeseries_id"
        ),
        "event_id",
    )
    # dense-seq fidelity ingest over a deterministic total order: the
    # engine breaks (ts) ties by ingest_seq, so arrival order IS the
    # tiebreak — pin it to (ts_raw, event_id) for the oracle. (The
    # bulk path, dense_seq=False, stays parallel but has no
    # deterministic tie order — fine for serving, not for a hash gate.)
    raw = (
        raw.repartition(1)
        .sortWithinPartitions("timestamp", "event_id")
        .drop("event_id")
    )
    eng = TimeseriesEngine(spark, _fixture_dir("q_latest_values"))
    eng.ingest_df(raw)
    return eng.latest().select(
        "timeseries_id", "sensor_name", "ts_raw", "value", "fc1_flag"
    )


def _compaction_glob() -> str:
    """The q_compaction_stats fixture's parquet glob at declare time
    (the q_zorder_stats pattern: ``_fixture_path`` is the same formula
    ``_fixture_dir`` clears, so Spark writer and DuckDB reader cannot
    drift apart)."""
    return os.path.join(
        _fixture_path("q_compaction_stats"), "data", "part=*", "*.parquet"
    )


@declare(
    "q_compaction_stats",
    f"""
    WITH f AS (
      SELECT CAST(regexp_extract(filename, 'part=(\\d+)', 1) AS INT) AS part,
             filename, event_id, ts, value
      FROM read_parquet('{_compaction_glob()}', filename=true)
    )
    SELECT part,
           CAST(COUNT(DISTINCT event_id % 6) AS INT) AS files_before,
           CAST(COUNT(DISTINCT filename) AS INT) AS files_after,
           CAST(COUNT(*) AS BIGINT) AS n,
           MIN(epoch_us(ts)) AS min_ts_us,
           MAX(epoch_us(ts)) AS max_ts_us,
           MIN(value) AS min_value,
           MAX(value) AS max_value
    FROM f GROUP BY part
    """,
    doc="small-file compaction, oracle-paired ("
    "#5; operators/maintenance.py compact_partitions): writes a "
    "deterministically fragmented partition set (6 single-file append "
    "jobs — one per event_id%6 slot — over 4 event_id%4 partitions, "
    "so every partition holds exactly 6 files by construction), "
    "compacts every partition past min_files=1 down to its "
    "target-size file count, and returns per-partition (files_before "
    "as MEASURED by the operator, files_after, row count, ts/value "
    "min-max). DuckDB certifies every column from the SAME swapped-in "
    "files (the q_zorder_stats pattern): files_after via the "
    "filename-bearing scan's distinct file count, files_before as "
    "COUNT(DISTINCT event_id%6) — equal to the measured value because "
    "each nonempty (slot, partition) pair wrote exactly one file — "
    "and n/min/max from the file contents, proving the rewrite lost "
    "nothing and the swap is engine-agnostically real. Rewrite cost "
    "is O(touched partitions' bytes); at scale only fragmented "
    "partitions are touched and the swap is rename-based "
    "(crash-safe, concurrent-append-guarded — tests/test_maintenance)",
)
def q_compaction_stats(spark, sf_dir):
    from .operators.maintenance import compact_partitions

    e = T(spark, sf_dir, "events").filter(F.col("event_id").isNotNull()).select(
        "event_id", "ts", "value",
        (F.col("event_id") % 4).cast("int").alias("part"),
        (F.col("event_id") % 6).cast("int").alias("slot"),
    )
    path = os.path.join(_fixture_dir("q_compaction_stats"), "data")
    for i in range(6):
        (
            e.filter(F.col("slot") == i)
            .drop("slot")
            .coalesce(1)
            .write.mode("append")
            .partitionBy("part")
            .parquet(path)
        )
    res = compact_partitions(
        spark, path, "part", target_file_mb=128, min_files=1
    )
    # a LEFT join + data-derived fallback, not an inner join: a
    # partition the operator skipped (<= min_files, or the (b, -1)
    # concurrent-append marker) must still appear in the result with
    # its observable state — the oracle's glob sees every partition
    # regardless. With the 6-slot construction every
    # partition compacts in practice; the fallback keeps the query
    # scale-robust rather than construction-dependent.
    fb = spark.createDataFrame(
        [(int(lbl), b, a) for lbl, (b, a) in res.items() if a >= 0],
        "part int, files_before int, files_after int",
    )
    # input_file_name is nondeterministic — project it to a real
    # column first; aggregates may not take it as a direct argument
    back = spark.read.parquet(path).withColumn(
        "_fname", F.input_file_name()
    )
    stats = back.groupBy("part").agg(
        F.count(F.lit(1)).alias("n"),
        F.min(F.unix_micros("ts")).alias("min_ts_us"),
        F.max(F.unix_micros("ts")).alias("max_ts_us"),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
        # fallbacks for untouched partitions — same formulas the
        # oracle uses, so parity holds with or without the operator row
        F.countDistinct(F.col("event_id") % 6).cast("int").alias("_slots"),
        F.countDistinct("_fname").cast("int").alias("_files"),
    )
    return stats.join(F.broadcast(fb), "part", "left").select(
        "part",
        F.coalesce("files_before", F.col("_slots")).alias("files_before"),
        F.coalesce("files_after", F.col("_files")).alias("files_after"),
        "n", "min_ts_us", "max_ts_us", "min_value", "max_value",
    )


# ======================================================================
# Exactly-once serving + EO time travel + QUALIFY-in-EXISTS,
# oracle-paired
# ======================================================================

def _eo_fixture_source(spark, sf_dir):
    """Deterministic ingest payload for the exactly-once fixtures:
    events rows shaped like the POST /telemetry body (the
    q_latest_values derivation), plus a ``_b = event_id % 4``
    micro-batch assignment the oracle can recompute."""
    e = T(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull()
        & F.col("ts").isNotNull()
        & F.col("event_id").isNotNull()
    )
    return e.select(
        F.col("event_type").alias("sensor_name"),
        F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss'Z'").alias("timestamp"),
        F.col("value").cast("double").alias("value"),
        F.lit(None).cast("tinyint").alias("fc1_flag"),
        F.concat(
            F.lit("series-"), F.col("user_id").cast("string")
        ).alias("timeseries_id"),
        (F.col("event_id") % 4).cast("int").alias("_b"),
    )


def _eo_commit_batches(spark, sf_dir, name):
    """Commit the 4 fixture micro-batches into a fresh exactly-once
    warehouse; returns (engine, path, source_frame)."""
    from .api import TimeseriesEngine
    from .streaming.ingest import commit_batch_exactly_once, normalize_batch

    raw = _eo_fixture_source(spark, sf_dir)
    wh = _fixture_dir(name)
    path = os.path.join(wh, "telemetry_eo")
    for k in range(4):
        b = raw.filter(F.col("_b") == k).drop("_b")
        if not commit_batch_exactly_once(normalize_batch(b, k), k, path):
            raise RuntimeError(f"exactly-once fixture: batch {k} did not commit")
    return TimeseriesEngine(spark, wh), path, raw


def _eo_served_projection(served):
    """Engine-served EO rows with the committed micro-batch id
    re-derived from ingest_seq's high bits (the read surface remaps EO
    seqs into the negative band — api._EO_SEQ_OFFSET — so the shift is
    undone first). Proves the seq lineage maps 1:1 back to the commit
    protocol, engine-agnostically."""
    from .api import _EO_SEQ_OFFSET
    from .streaming.ingest import _BATCH_SEQ_STRIDE

    raw_seq = F.col("ingest_seq") - F.lit(_EO_SEQ_OFFSET)
    return served.select(
        "timeseries_id",
        "sensor_name",
        "ts_raw",
        "value",
        "fc1_flag",
        F.floor(raw_seq / F.lit(_BATCH_SEQ_STRIDE))
        .cast("int")
        .alias("committed_batch"),
    )


@declare(
    "q_exactly_once_served",
    """
    SELECT 'series-' || CAST(user_id AS VARCHAR) AS timeseries_id,
           event_type AS sensor_name,
           strftime(ts, '%Y-%m-%dT%H:%M:%SZ') AS ts_raw,
           CAST(value AS DOUBLE) AS value,
           CAST(NULL AS TINYINT) AS fc1_flag,
           CAST(event_id % 4 AS INT) AS committed_batch
    FROM events
    WHERE user_id IS NOT NULL AND ts IS NOT NULL AND event_id IS NOT NULL
    """,
    doc="exactly-once serving, oracle-certified end-to-end ("
    "api.py _read_base_union_eo, "
    "streaming/ingest.py commit_batch_exactly_once): 4 micro-batches "
    "committed through the manifest protocol, one batch CRASH-REPLAYED "
    "(must fingerprint-skip), the layout compacted (dirs folded into "
    "compact=0, ledger folded to hwm+pooled fps), and another batch "
    "replayed AFTER the fold (must skip via the pooled fingerprints) — "
    "then engine.telemetry() serves the union read path and DuckDB "
    "certifies the result against the SOURCE definition: any replay "
    "duplication, torn-write visibility, or compaction loss diverges "
    "the hash. committed_batch is re-derived from ingest_seq's high "
    "bits (undoing the negative-band EO remap), proving the served "
    "seq lineage maps bijectively back to the commit protocol. The "
    "reference's POST /telemetry ingest (main.rs:325-331) has no "
    "delivery guarantee at all — this is the Spark-first upgrade "
    "path's certification",
)
def q_exactly_once_served(spark, sf_dir):
    from .streaming.ingest import (
        commit_batch_exactly_once,
        compact_exactly_once,
        normalize_batch,
    )

    eng, path, raw = _eo_commit_batches(spark, sf_dir, "q_exactly_once_served")
    # crash-replay of committed batch 1: identical content must skip
    b1 = raw.filter(F.col("_b") == 1).drop("_b")
    if commit_batch_exactly_once(normalize_batch(b1, 1), 1, path):
        raise RuntimeError("replayed committed batch was not skipped")
    # compaction folds the per-batch dirs AND the ledger; a replay of
    # folded content must still skip (pooled fingerprints)
    compact_exactly_once(spark, eng.warehouse_dir)
    b2 = raw.filter(F.col("_b") == 2).drop("_b")
    if commit_batch_exactly_once(normalize_batch(b2, 2), 2, path):
        raise RuntimeError("replay of folded batch was not skipped")
    return _eo_served_projection(eng.telemetry())


@declare(
    "q_exactly_once_asof",
    """
    SELECT 'series-' || CAST(user_id AS VARCHAR) AS timeseries_id,
           event_type AS sensor_name,
           strftime(ts, '%Y-%m-%dT%H:%M:%SZ') AS ts_raw,
           CAST(value AS DOUBLE) AS value,
           CAST(NULL AS TINYINT) AS fc1_flag,
           CAST(event_id % 4 AS INT) AS committed_batch
    FROM events
    WHERE user_id IS NOT NULL AND ts IS NOT NULL AND event_id IS NOT NULL
      AND event_id % 4 <= 2
    """,
    doc="exactly-once TIME TRAVEL, oracle-certified ("
    "api.py telemetry(as_of_eo_hwm=N)): "
    "after committing 4 micro-batches AND compacting them into one "
    "generation, the as-of read at hwm=2 must reconstruct exactly "
    "batches 0-2 — the consistent cut the EO manifest's high-water "
    "mark defines — via the batch id embedded in ingest_seq's high "
    "bits, since the per-batch directories no longer exist. DuckDB "
    "certifies the cut from the source definition (event_id % 4 <= "
    "2). Uncompacted batch dirs above the cursor are dir-level "
    "pruned (never scanned); compacted generations are row-filtered "
    "— O(cut) work either way at 100 TB",
)
def q_exactly_once_asof(spark, sf_dir):
    from .streaming.ingest import compact_exactly_once

    eng, path, raw = _eo_commit_batches(spark, sf_dir, "q_exactly_once_asof")
    compact_exactly_once(spark, eng.warehouse_dir)
    return _eo_served_projection(eng.telemetry(as_of_eo_hwm=2))


@declare(
    "q_corpus_stream_served",
    """
    WITH t AS (
      SELECT doc_id, source, text,
             CAST(length(text) AS DOUBLE) AS nc,
             list_filter(string_split(lower(text), ' '), x -> len(x) > 0) AS ws,
             md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS content_hash
      FROM documents
    ),
    k AS (
      SELECT *, row_number() OVER (
        PARTITION BY content_hash ORDER BY doc_id
      ) AS rn FROM t
    )
    SELECT doc_id, source,
           CAST(len(ws) AS BIGINT) AS n_tok,
           ROUND((least(1.0, nc / 200.0)
                + (CASE WHEN len(ws) > 0
                        AND list_aggregate(list_transform(ws, x -> CAST(len(x) AS DOUBLE)), 'sum') / len(ws) BETWEEN 3 AND 12
                        THEN 1.0 ELSE 0.0 END)
                + (CASE WHEN nc > 0 THEN length(regexp_replace(text, '[^A-Za-z]', '', 'g')) / nc ELSE 0.0 END)
               ) / 3.0, 6) AS quality,
           content_hash,
           CAST(0 AS BIGINT) AS batch_id
    FROM k WHERE rn = 1
    """,
    doc="streaming corpus ingest, oracle-certified end-to-end (streaming/corpus.py, the "
    "q_exactly_once_served pattern): the documents table is dropped "
    "as a JSON-lines file into the REAL drop-dir source (keep-first "
    "content-deduped so the feed is deterministic at every SF — the "
    "batch pipeline's own stage-1 pre-pass), then a second file — "
    "mtime-ordered into its own micro-batch — delivers a DUPLICATE of "
    "the minimum-id document (must fold against batch-0 state via "
    "dropDuplicatesWithinWatermark), a 2-token document (must land in "
    "the rejects side-channel as too_short), and an unparseable line "
    "(must land verbatim in the quarantine). The sink runs with "
    "availableNow; DuckDB then certifies WHAT LANDED — doc ids, "
    "sources, token counts, the quality heuristic, content hashes, "
    "and every row's micro-batch id — against the source definition. "
    "Any dedup-state miss, gate misfire, quarantine leak into the "
    "table, or batch misattribution diverges the hash; the fixture "
    "additionally hard-fails if the side channels hold the wrong "
    "rows.",
)
def q_corpus_stream_served(spark, sf_dir):
    import glob
    import json

    from .operators.dedup import content_hash
    from .streaming.corpus import read_document_stream, start_corpus_sink

    root = _fixture_dir("q_corpus_stream_served")
    src = os.path.join(root, "drop")
    wh = os.path.join(root, "wh")
    quarantine = os.path.join(root, "quarantine")
    rejects = os.path.join(root, "rejects")

    d = T(spark, sf_dir, "documents")
    # keep-first exact dedup pre-pass (testdata carries a few
    # duplicate contents at sf0.1): duplicates INSIDE one micro-batch
    # would fold to an arbitrary survivor — the injected cross-batch
    # duplicate below is the determinism-safe dedup probe
    wdup = Window.partitionBy(content_hash(F.col("text"))).orderBy("doc_id")
    corpus = (
        d.withColumn("_rn", F.row_number().over(wdup))
        .filter(F.col("_rn") == 1)
        .select(
            "doc_id",
            "text",
            "lang",
            "source",
            # bounded arrival spread (<= 5 min) keeps every doc inside
            # the dedup watermark horizon at any scale factor
            F.date_format(
                F.timestamp_seconds(
                    F.unix_timestamp(
                        F.lit("2026-01-01 00:00:00"),
                        "yyyy-MM-dd HH:mm:ss",
                    )
                    + (F.col("doc_id") % 300)
                ),
                "yyyy-MM-dd'T'HH:mm:ss",
            ).alias("ingest_ts"),
        )
    )
    # ONE corpus file -> the whole corpus is micro-batch 0
    corpus.coalesce(1).write.mode("overwrite").json(src)

    first = d.orderBy("doc_id").select("doc_id", "text", "source").first()
    inject = os.path.join(src, "zz_inject.json")
    with open(inject, "w") as f:
        f.write(
            json.dumps(
                {
                    "doc_id": 9_000_001,
                    "text": first["text"],
                    "lang": "en",
                    "source": first["source"],
                    "ingest_ts": "2026-01-01T00:06:40",
                }
            )
            + "\n"
        )
        f.write(
            json.dumps(
                {
                    "doc_id": 9_000_002,
                    "text": "tiny doc",
                    "lang": "en",
                    "source": "srcX",
                    "ingest_ts": "2026-01-01T00:06:41",
                }
            )
            + "\n"
        )
        f.write("{this is not json\n")
    latest = max(
        os.path.getmtime(p) for p in glob.glob(os.path.join(src, "part-*"))
    )
    os.utime(inject, (latest + 10, latest + 10))

    stream = read_document_stream(
        spark, src, with_corrupt_record=True, max_files_per_trigger=1
    )
    q = start_corpus_sink(
        stream,
        wh,
        min_tokens=5,
        dedup_watermark="2 hours",
        quarantine_dir=quarantine,
        rejects_dir=rejects,
        available_now=True,
    )
    if not q.awaitTermination(300):
        q.stop()
        raise RuntimeError("corpus stream fixture did not drain in 300s")

    # side channels hard-checked here; the TABLE is what DuckDB hashes
    if spark.read.text(quarantine).count() != 1:
        raise RuntimeError("quarantine must hold exactly the 1 bad line")
    rej = spark.read.parquet(rejects).collect()
    if len(rej) != 1 or rej[0]["doc_id"] != 9_000_002 or (
        rej[0]["reject_reason"] != "too_short"
    ):
        raise RuntimeError(f"rejects channel wrong: {rej}")
    landed = spark.read.parquet(os.path.join(wh, "documents"))
    if landed.filter(F.col("doc_id") >= 9_000_000).count() != 0:
        raise RuntimeError(
            "cross-batch duplicate was NOT folded by the dedup state"
        )
    return landed.select(
        "doc_id", "source", "n_tok", "quality", "content_hash", "batch_id"
    )


@declare(
    "q_enriched_stream_served",
    """
    WITH ev AS (
      SELECT event_id, user_id,
             TIMESTAMP '2026-01-01 00:00:00'
               + (event_id % 300) * INTERVAL 1 SECOND AS ts,
             CAST(value AS DOUBLE) AS value,
             CAST(0 AS BIGINT) AS batch_id
      FROM events WHERE user_id < 100
      UNION ALL
      SELECT * FROM (VALUES
        (9000001, 7, TIMESTAMP '2026-01-01 00:04:10', 1.5, CAST(1 AS BIGINT)),
        (9000002, 3, TIMESTAMP '2026-01-01 00:00:40', 2.5, CAST(1 AS BIGINT))
      ) AS t(event_id, user_id, ts, value, batch_id)
    ),
    users AS (SELECT DISTINCT user_id FROM events WHERE user_id < 100),
    prof AS (
      SELECT user_id,
             TIMESTAMP '2026-01-01 00:00:00' - INTERVAL 3600 SECOND AS fts,
             CAST(user_id + 0.25 AS DOUBLE) AS v
      FROM users
      UNION ALL
      SELECT user_id,
             TIMESTAMP '2026-01-01 00:00:00' + INTERVAL 100 SECOND,
             CAST(user_id + 0.5 AS DOUBLE)
      FROM users
      UNION ALL
      SELECT user_id,
             TIMESTAMP '2026-01-01 00:00:00' + INTERVAL 1000000 SECOND,
             CAST(user_id + 0.75 AS DOUBLE)
      FROM users
    ),
    act AS (
      SELECT user_id,
             TIMESTAMP '2026-01-01 00:00:00' + INTERVAL 50 SECOND AS fts,
             CAST(user_id * 2.0 AS DOUBLE) AS a
      FROM users WHERE user_id % 3 = 0
    ),
    j1 AS (
      SELECT ev.event_id, ev.user_id, ev.ts, ev.value, ev.batch_id,
             CASE WHEN ev.ts - p.fts <= INTERVAL 1800 SECOND
                  THEN p.v END AS v_prof
      FROM ev ASOF LEFT JOIN prof p
        ON ev.user_id = p.user_id AND ev.ts >= p.fts
    )
    SELECT j1.event_id, j1.user_id, j1.ts, j1.value, j1.v_prof,
           CASE WHEN j1.ts - a.fts <= INTERVAL 1800 SECOND
                THEN a.a END AS a_act,
           j1.batch_id
    FROM j1 ASOF LEFT JOIN act a
      ON j1.user_id = a.user_id AND j1.ts >= a.fts
    """,
    doc="streaming PIT enrichment, oracle-certified end-to-end (streaming/enrich.py, the "
    "q_corpus_stream_served pattern): events become a JSON drop-dir "
    "stream enriched per micro-batch through the REAL "
    "start_enriched_sink against two feature tables with as-of + "
    "30-min staleness-tolerance semantics. The features are built to "
    "trap every leak mode — each user has a STALE profile row "
    "(outside tolerance: must read NULL), a live row, and a "
    "FUTURE-dated row (must never leak); the activity table covers "
    "only every third user (missing feature must read NULL) and is "
    "future-dated for early events. A second mtime-ordered file "
    "delivers micro-batch 1 (one event picking live features, one "
    "early event that must read all-NULL). DuckDB certifies the "
    "landed parquet — values, both feature columns, and per-row "
    "micro-batch ids — via its NATIVE ASOF LEFT JOIN plus the "
    "tolerance CASE (exact: any older row than the asof match is "
    "outside the window whenever the match is).",
)
def q_enriched_stream_served(spark, sf_dir):
    import glob
    import json

    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
        TimestampType,
    )

    from .streaming.enrich import read_enriched, start_enriched_sink

    root = _fixture_dir("q_enriched_stream_served")
    src = os.path.join(root, "drop")
    wh = os.path.join(root, "wh")

    base = "2026-01-01 00:00:00"
    base_unix = F.unix_timestamp(F.lit(base), "yyyy-MM-dd HH:mm:ss")
    ev = (
        T(spark, sf_dir, "events")
        .filter(F.col("user_id") < 100)
        .select(
            "event_id",
            "user_id",
            F.date_format(
                F.timestamp_seconds(base_unix + F.col("event_id") % 300),
                "yyyy-MM-dd'T'HH:mm:ss",
            ).alias("ts"),
            F.col("value").cast("double").alias("value"),
        )
    )
    # ONE file -> the whole spine is micro-batch 0
    ev.coalesce(1).write.mode("overwrite").json(src)
    inject = os.path.join(src, "zz_inject.json")
    with open(inject, "w") as f:
        # picks the live prof row AND (user 7 % 3 != 0) no act feature
        f.write(json.dumps({
            "event_id": 9_000_001, "user_id": 7,
            "ts": "2026-01-01T00:04:10", "value": 1.5,
        }) + "\n")
        # early event: prof live row is future, stale row out of
        # tolerance, act future -> every feature column must be NULL
        f.write(json.dumps({
            "event_id": 9_000_002, "user_id": 3,
            "ts": "2026-01-01T00:00:40", "value": 2.5,
        }) + "\n")
    latest = max(
        os.path.getmtime(p) for p in glob.glob(os.path.join(src, "part-*"))
    )
    os.utime(inject, (latest + 10, latest + 10))

    users = (
        T(spark, sf_dir, "events")
        .filter(F.col("user_id") < 100)
        .select("user_id")
        .distinct()
    )
    uts = lambda s: F.timestamp_seconds(base_unix + F.lit(s))  # noqa: E731
    prof = (
        users.select(
            "user_id", uts(-3600).alias("ts"),
            (F.col("user_id") + F.lit(0.25)).alias("v"))
        .unionByName(users.select(
            "user_id", uts(100).alias("ts"),
            (F.col("user_id") + F.lit(0.5)).alias("v")))
        .unionByName(users.select(
            "user_id", uts(1_000_000).alias("ts"),
            (F.col("user_id") + F.lit(0.75)).alias("v")))
    )
    act = users.filter(F.col("user_id") % 3 == 0).select(
        "user_id", uts(50).alias("ts"),
        (F.col("user_id") * F.lit(2.0)).alias("a"),
    )

    schema = StructType([
        StructField("event_id", LongType()),
        StructField("user_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("value", DoubleType()),
    ])
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .json(src)
    )
    q = start_enriched_sink(
        stream,
        {"prof": prof, "act": act},
        wh,
        on=["user_id"],
        tolerance_seconds=1800,
        available_now=True,
        with_batch_id=True,
    )
    if not q.awaitTermination(300):
        q.stop()
        raise RuntimeError("enrich stream fixture did not drain in 300s")

    landed = read_enriched(spark, wh)
    # batch attribution hard-checked here; DuckDB hashes it per row too
    if landed.filter(
        (F.col("event_id") >= 9_000_000) != (F.col("batch_id") == 1)
    ).count() != 0:
        raise RuntimeError("micro-batch attribution wrong")
    return landed.select(
        "event_id", "user_id", "ts", "value", "v_prof", "a_act", "batch_id"
    )


@declare(
    "q_qualify_in_exists",
    """
    SELECT c.c_custkey, c.c_name
    FROM customer c
    WHERE c.c_acctbal > 0 AND c.c_custkey IN (
      SELECT o_custkey FROM orders GROUP BY o_custkey HAVING COUNT(*) >= 2
    )
    """,
    doc="QUALIFY inside a CORRELATED EXISTS predicate ("
    "sql_ext._extract_nested_qualify): the "
    "EXISTS body references the outer query's c_custkey, so the block "
    "cannot be planned standalone — the extraction's textual fallback "
    "rewrites it IN PLACE (inline form: the predicate evaluates in "
    "the original block where the o alias resolves, filtered one "
    "level up with * EXCEPT(__qualify)), and Spark decorrelates the "
    "window-over-correlated-filter subquery. Semantics: customers "
    "with a second-highest order, i.e. >= 2 orders — row_number() = 2 "
    "exists iff COUNT(*) >= 2, which is what the oracle spells out "
    "relationally. Locks the textual-fallback path under the "
    "driver's hash gate (previously pytest-only)",
)
def q_qualify_in_exists(spark, sf_dir):
    from .sql_ext import sql as dialect_sql

    T(spark, sf_dir, "customer").createOrReplaceTempView(
        "_q_qx_customer"
    )
    T(spark, sf_dir, "orders").createOrReplaceTempView("_q_qx_orders")
    return dialect_sql(
        spark,
        """
        SELECT c.c_custkey, c.c_name
        FROM _q_qx_customer c
        WHERE c.c_acctbal > 0 AND EXISTS (
          SELECT 1 FROM _q_qx_orders o
          WHERE o.o_custkey = c.c_custkey
          QUALIFY row_number() OVER (
            ORDER BY o.o_totalprice DESC, o.o_orderkey
          ) = 2
        )
        """,
    ).select("c_custkey", "c_name")


@declare(
    "q_zipf_slope",
    """
    WITH tok AS (
      SELECT source,
             unnest(list_filter(string_split(lower(text), ' '),
                                x -> len(x) > 0)) AS term
      FROM documents
    ),
    cnt AS (
      SELECT source, term, CAST(COUNT(*) AS BIGINT) AS c
      FROM tok GROUP BY source, term
    ),
    rk AS (
      SELECT source, c,
             ROW_NUMBER() OVER (
               PARTITION BY source ORDER BY c DESC, term ASC
             ) AS r
      FROM cnt
    ),
    xy AS (
      SELECT source,
             CAST(ROUND(ln(CAST(r AS DOUBLE)), 9) AS DECIMAL(18,9)) AS x,
             CAST(ROUND(ln(CAST(c AS DOUBLE)), 9) AS DECIMAL(18,9)) AS y
      FROM rk WHERE r <= 100
    ),
    s AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_terms,
             SUM(x) AS sx, SUM(y) AS sy, SUM(x * y) AS sxy,
             SUM(x * x) AS sxx, SUM(y * y) AS syy
      FROM xy GROUP BY source
    )
    SELECT source, n_terms,
           ROUND(CAST(n_terms * sxy - sx * sy AS DOUBLE)
                 / CAST(n_terms * sxx - sx * sx AS DOUBLE), 6) AS zipf_slope,
           CASE WHEN n_terms * syy - sy * sy <> 0 THEN
             ROUND(CAST(n_terms * sxy - sx * sy AS DOUBLE)
                   * CAST(n_terms * sxy - sx * sy AS DOUBLE)
                   / (CAST(n_terms * sxx - sx * sx AS DOUBLE)
                      * CAST(n_terms * syy - sy * sy AS DOUBLE)), 6)
           END AS r2
    FROM s WHERE n_terms >= 3
    """,
    doc="per-source Zipf rank-frequency slope"
    ": OLS of ln(count) on ln(rank) over "
    "each source's top-100 terms, the corpus-naturalness signal "
    "(natural language ~ -1; template spam bends it). Ranks are a "
    "TOTAL order (count DESC, term ASC) so ranking is deterministic "
    "cross-engine; every ln is rounded at 9 dp into DECIMAL(18,9) "
    "before aggregation so all five sufficient statistics are exact "
    "decimal sums (order-independent), with only the final slope/r2 "
    "divisions in floats, rounded at 6 dp",
)
def q_zipf_slope(spark, sf_dir):
    from .operators.profile import zipf_slope

    return zipf_slope(
        T(spark, sf_dir, "documents"),
        group_col="source",
        text_col="text",
        top_n=100,
    )


@declare(
    "q_funnel_stages",
    """
    WITH s1 AS (
      SELECT user_id, MIN(ts) AS t FROM events
      WHERE event_type = 'view' GROUP BY user_id
    ),
    s2 AS (
      SELECT e.user_id, MIN(e.ts) AS t
      FROM events e JOIN s1 ON e.user_id = s1.user_id
      WHERE e.event_type = 'click'
        AND e.ts > s1.t AND e.ts <= s1.t + INTERVAL 24 HOUR
      GROUP BY e.user_id
    ),
    s3 AS (
      SELECT e.user_id, MIN(e.ts) AS t
      FROM events e JOIN s2 ON e.user_id = s2.user_id
      WHERE e.event_type = 'purchase'
        AND e.ts > s2.t AND e.ts <= s2.t + INTERVAL 24 HOUR
      GROUP BY e.user_id
    ),
    c AS (
      SELECT 1 AS stage_idx, 'view' AS stage,
             CAST(COUNT(*) AS BIGINT) AS users FROM s1
      UNION ALL
      SELECT 2, 'click', CAST(COUNT(*) AS BIGINT) FROM s2
      UNION ALL
      SELECT 3, 'purchase', CAST(COUNT(*) AS BIGINT) FROM s3
    ),
    top AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM s1)
    SELECT stage_idx, stage, users,
           CASE WHEN top.n > 0 THEN
             ROUND(CAST(users AS DOUBLE) / CAST(top.n AS DOUBLE), 6)
           END AS conversion_frac
    FROM c CROSS JOIN top
    """,
    doc="first-touch anchored funnel view -> click -> purchase, each "
    "within 24h of the previous anchor (operators/funnel.py): "
    "stage k+1 counts a user iff an event lands strictly after their "
    "stage-k anchor and within the horizon, earliest such event "
    "becoming the next anchor. Pure composition of grouped MINs and "
    "user-keyed equi-joins — no window, no sequence scan — so both "
    "engines compute the identical exact timestamps; the only float "
    "is the conversion ratio of two exact counts, rounded at 6 dp",
)
def q_funnel_stages(spark, sf_dir):
    from .operators.funnel import funnel

    return funnel(
        T(spark, sf_dir, "events"),
        stages=["view", "click", "purchase"],
        horizon="24 hours",
    )


@declare(
    "q_cohort_retention_matrix",
    """
    WITH f AS (
      SELECT user_id,
             CAST(date_trunc('week', MIN(ts)) AS DATE) AS cohort
      FROM events GROUP BY user_id
    ),
    a AS (
      SELECT DISTINCT user_id,
             CAST(date_trunc('week', ts) AS DATE) AS p
      FROM events
    ),
    j AS (
      SELECT f.cohort,
             CAST(date_diff('day', f.cohort, a.p) // 7 AS BIGINT)
               AS period_offset,
             a.user_id
      FROM a JOIN f USING (user_id)
    ),
    r AS (
      SELECT cohort, period_offset,
             CAST(COUNT(*) AS BIGINT) AS active_users
      FROM j GROUP BY cohort, period_offset
    ),
    s AS (
      SELECT cohort, CAST(COUNT(*) AS BIGINT) AS cohort_size
      FROM f GROUP BY cohort
    )
    SELECT strftime(r.cohort, '%Y-%m-%d') AS cohort,
           r.period_offset, r.active_users, s.cohort_size,
           ROUND(CAST(r.active_users AS DOUBLE)
                 / CAST(s.cohort_size AS DOUBLE), 6) AS retention_frac
    FROM r JOIN s USING (cohort)
    """,
    doc="weekly cohort retention matrix (operators/funnel.py "
    "cohort_retention; the richer sibling of q_cohort_retention, "
    "adding cohort sizes and 6-dp retention fractions — renamed from "
    "its original declaration, which silently collided with that "
    "name in the query manifest): users cohorted by the Monday-aligned week of "
    "their FIRST event, then per (cohort, week-offset) the count who "
    "came back. Offsets are exact integer day-diffs / 7 (both periods "
    "Monday-aligned, division exact) — never engine-specific 'week "
    "difference' semantics; the only float is active/size, rounded at "
    "6 dp. The (user, period) distinct and the per-cohort sizes each "
    "reuse one natural-key shuffle; cohort sizes broadcast onto the "
    "matrix",
)
def q_cohort_retention_matrix(spark, sf_dir):
    from .operators.funnel import cohort_retention

    return cohort_retention(T(spark, sf_dir, "events"), granularity="week")


@declare(
    "q_state_durations",
    """
    WITH seq AS (
      SELECT user_id,
             event_type AS state,
             epoch_us(LEAD(ts) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id))
               - epoch_us(ts) AS dt_us
      FROM events
    ),
    agg AS (
      SELECT user_id, state,
             CAST(SUM(dt_us) AS BIGINT) AS state_us,
             CAST(COUNT(*) AS BIGINT) AS n_intervals
      FROM seq WHERE dt_us IS NOT NULL
      GROUP BY user_id, state
    )
    SELECT user_id, state, state_us, n_intervals,
           CASE WHEN SUM(state_us) OVER (PARTITION BY user_id) > 0 THEN
             ROUND(CAST(state_us AS DOUBLE)
                   / CAST(SUM(state_us) OVER (PARTITION BY user_id)
                          AS DOUBLE), 6)
           END AS frac
    FROM agg
    """,
    doc="per-(user, state) residence time — TimescaleDB state_agg's "
    "duration query (operators/resample.py "
    "state_durations): each event pins the user to its event_type "
    "until their NEXT event (LOCF; the last event carries no "
    "duration, the time_weighted_avg convention). Durations are "
    "exact integer microseconds; the only float is the per-user "
    "share, a ratio of exact integers rounded 6 dp (NULL on a "
    "zero-span series). One lead window + one (user,state) agg + one "
    "user-keyed share window, all co-keyed on the series",
)
def q_state_durations(spark, sf_dir):
    from .operators.resample import state_durations

    return state_durations(
        T(spark, sf_dir, "events"),
        key="user_id",
        state="event_type",
        ts="ts",
        order_tiebreak="event_id",
    )


@declare(
    "q_state_durations_served",
    """
    WITH src AS (
      SELECT user_id, event_type, ts, event_id FROM events
      WHERE user_id IS NOT NULL AND ts IS NOT NULL
        AND event_id IS NOT NULL
    ),
    seq AS (
      SELECT user_id,
             event_type AS state,
             epoch_us(LEAD(ts) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id))
               - epoch_us(ts) AS dt_us
      FROM src
    ),
    agg AS (
      SELECT user_id, state,
             CAST(SUM(dt_us) AS BIGINT) AS state_us,
             CAST(COUNT(*) AS BIGINT) AS n_intervals
      FROM seq WHERE dt_us IS NOT NULL
      GROUP BY user_id, state
    )
    SELECT user_id, state, state_us, n_intervals,
           CASE WHEN SUM(state_us) OVER (PARTITION BY user_id) > 0 THEN
             ROUND(CAST(state_us AS DOUBLE)
                   / CAST(SUM(state_us) OVER (PARTITION BY user_id)
                          AS DOUBLE), 6)
           END AS frac
    FROM agg
    """,
    doc="streaming state-residence durations, oracle-certified "
    "end-to-end ("
    "streaming/state.py, the q_corpus_stream_served pattern): events "
    "become a JSON drop-dir split at the midpoint timestamp into TWO "
    "real micro-batches (every user's state interval across the cut "
    "is a boundary-spanner the sink must bridge via its carryover), "
    "plus an injected LATE row — strictly older than its user's "
    "batch-0 carryover, with a sentinel state that would surface as "
    "a brand-new served row if the drop policy missed it. The sink "
    "drains with availableNow, the store is then COMPACTED (base "
    "fold + delta cleanup on the served path), and DuckDB certifies "
    "the SERVED per-(user, state) totals/interval counts/shares "
    "against the source definition: any double-counted bridge "
    "interval, replay duplication, late-row leak, or compaction "
    "loss diverges the hash. Timestamps travel as exact epoch "
    "microseconds (no format round-trip)",
)
def q_state_durations_served(spark, sf_dir):
    import glob
    import json
    import shutil

    from .streaming.state import (
        compact_state_durations,
        serve_state_durations,
        start_state_durations_sink,
    )

    root = _fixture_dir("q_state_durations_served")
    src = os.path.join(root, "drop")
    store = os.path.join(root, "store")

    feed = (
        T(spark, sf_dir, "events")
        .filter(
            F.col("user_id").isNotNull()
            & F.col("ts").isNotNull()
            & F.col("event_id").isNotNull()
        )
        .select(
            "user_id",
            "event_type",
            F.unix_micros("ts").alias("ts_us"),
            "event_id",
        )
    )
    lo, hi = feed.agg(F.min("ts_us"), F.max("ts_us")).first()
    cut = (int(lo) + int(hi)) // 2
    a = feed.filter(F.col("ts_us") < cut)
    b = feed.filter(F.col("ts_us") >= cut)
    # the late probe needs a user whose carryover exists after batch 0
    probe = (
        a.groupBy("user_id")
        .agg(F.min("ts_us").alias("first_us"))
        .orderBy("user_id")
        .first()
    )
    if probe is None:
        raise RuntimeError(
            "state-served fixture: batch 0 is empty — the midpoint "
            "split degenerated; inspect the testdata time span"
        )
    a.coalesce(1).write.mode("overwrite").json(src)
    b_tmp = os.path.join(root, "b_tmp")
    b.coalesce(1).write.mode("overwrite").json(b_tmp)
    b_part = glob.glob(os.path.join(b_tmp, "part-*.json"))
    if len(b_part) != 1:
        raise RuntimeError(f"expected one batch-1 file, got {b_part}")
    b_dst = os.path.join(src, "zz_batch1.json")
    shutil.move(b_part[0], b_dst)
    with open(b_dst, "a") as f:
        # strictly older than the probe user's whole batch-0 history;
        # the sentinel state would be a NEW served row if not dropped
        f.write(
            json.dumps(
                {
                    "user_id": probe["user_id"],
                    "event_type": "late_probe",
                    "ts_us": int(probe["first_us"]) - 3_600_000_000,
                    "event_id": 9_000_001,
                }
            )
            + "\n"
        )
    latest = max(
        os.path.getmtime(p) for p in glob.glob(os.path.join(src, "part-*"))
    )
    os.utime(b_dst, (latest + 10, latest + 10))

    stream = (
        spark.readStream.schema(
            "user_id bigint, event_type string, ts_us bigint, "
            "event_id bigint"
        )
        .option("maxFilesPerTrigger", "1")
        .json(src)
    )
    q = start_state_durations_sink(
        stream.select(
            "user_id",
            "event_type",
            F.timestamp_micros(F.col("ts_us")).alias("ts"),
            "event_id",
        ),
        store,
        os.path.join(root, "ckpt"),
        key="user_id",
        state="event_type",
        ts="ts",
        order_tiebreak="event_id",
        available_now=True,
    )
    if not q.awaitTermination(300):
        q.stop()
        raise RuntimeError("state stream fixture did not drain in 300s")
    from .streaming.store_common import read_store_manifest

    man = read_store_manifest(spark, store, "state")
    if man is None or int(man["last_applied_batch"]) != 1:
        raise RuntimeError(
            f"expected exactly 2 applied micro-batches, manifest: {man}"
        )
    # fold the store — the oracle certifies the post-compaction serve
    compact_state_durations(spark, store)
    return serve_state_durations(spark, store)


@declare(
    "q_mann_kendall",
    """
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             SUM(CAST(value AS DECIMAL(18,2))) AS v
      FROM events GROUP BY event_type, CAST(ts AS DATE)
    ),
    s AS (
      SELECT a.event_type,
             CAST(SUM(CASE WHEN b.v > a.v THEN 1
                           WHEN b.v < a.v THEN -1
                           ELSE 0 END) AS BIGINT) AS s_stat
      FROM daily a JOIN daily b
        ON a.event_type = b.event_type AND a.day < b.day
      GROUP BY a.event_type
    ),
    n AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n
      FROM daily GROUP BY event_type
    ),
    ties AS (
      SELECT event_type,
             CAST(SUM(t*(t-1)*(2*t+5)) AS BIGINT) AS tie_term
      FROM (SELECT event_type, v, CAST(COUNT(*) AS BIGINT) AS t
            FROM daily GROUP BY event_type, v)
      GROUP BY event_type
    )
    SELECT n.event_type, n.n,
           COALESCE(s.s_stat, 0) AS s_stat,
           ROUND(CAST(n.n*(n.n-1)*(2*n.n+5) - ties.tie_term AS DOUBLE)
                 / 18.0, 6) AS var_s,
           ROUND(CASE
             WHEN n.n*(n.n-1)*(2*n.n+5) - ties.tie_term <= 0 THEN NULL
             WHEN COALESCE(s.s_stat, 0) > 0
               THEN CAST(s.s_stat - 1 AS DOUBLE)
               / sqrt(CAST(n.n*(n.n-1)*(2*n.n+5) - ties.tie_term
                           AS DOUBLE) / 18.0)
             WHEN COALESCE(s.s_stat, 0) < 0
               THEN CAST(s.s_stat + 1 AS DOUBLE)
               / sqrt(CAST(n.n*(n.n-1)*(2*n.n+5) - ties.tie_term
                           AS DOUBLE) / 18.0)
             ELSE 0.0 END, 6) AS z_score
    FROM n LEFT JOIN s USING (event_type) JOIN ties USING (event_type)
    """,
    doc="Mann-Kendall trend test per event_type over DAILY value sums "
    "(operators/trend.py): S = sum of pairwise signs, "
    "tie-corrected variance, continuity-corrected z. Run on the "
    "bucketed series (30 points/series here), never raw ticks — the "
    "pair join is keyed per series and bounded by the resample "
    "granularity (max_points guard available). Daily sums are exact "
    "decimals, so S / n / tie-term are exact integers on both "
    "engines; var_s and z are identical IEEE doubles rounded 6 dp",
)
def q_mann_kendall(spark, sf_dir):
    from .operators.trend import mann_kendall

    daily = (
        T(spark, sf_dir, "events")
        .groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(F.sum(F.col("value").cast("decimal(18,2)")).alias("v"))
    )
    return mann_kendall(daily, key="event_type", order="day", value="v")


@declare(
    "q_theil_sen",
    """
    WITH daily AS (
      SELECT event_type,
             date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS d,
             SUM(CAST(value AS DECIMAL(18,2))) AS v
      FROM events GROUP BY 1, 2
    ),
    pairs AS (
      SELECT a.event_type,
             CAST(b.v - a.v AS DOUBLE) / CAST(b.d - a.d AS DOUBLE)
               AS slope,
             a.d AS d1, b.d AS d2
      FROM daily a JOIN daily b
        ON a.event_type = b.event_type AND a.d < b.d
    ),
    ranked AS (
      SELECT event_type, slope,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY slope, d1, d2) AS rn,
             COUNT(*) OVER (PARTITION BY event_type) AS np
      FROM pairs
    )
    SELECT event_type, CAST(np AS BIGINT) AS n_pairs,
           ROUND(slope, 6) AS slope
    FROM ranked WHERE rn = (np + 1) // 2
    """,
    doc="Theil-Sen robust slope per event_type over daily value sums "
    "(operators/trend.py): the LOWER MEDIAN of all "
    "pairwise slopes — immune to ~29% outliers where "
    "q_linear_regression's OLS is not. Median selection is fully "
    "deterministic: slopes are identical IEEE doubles on both "
    "engines (exact-decimal numerator / integer day denominator) and "
    "the rank order ties-breaks on the pair's day indexes, so both "
    "engines pick the IDENTICAL pair. Same per-series pair-join "
    "contract as q_mann_kendall",
)
def q_theil_sen(spark, sf_dir):
    from .operators.trend import theil_sen

    daily = (
        T(spark, sf_dir, "events")
        .groupBy(
            "event_type", F.unix_date(F.to_date("ts")).alias("d")
        )
        .agg(F.sum(F.col("value").cast("decimal(18,2)")).alias("v"))
    )
    return theil_sen(daily, key="event_type", order="d", value="v")


@declare(
    "q_fuzzy_vocab_match",
    """
    WITH vocab AS (SELECT DISTINCT p_name AS name FROM part),
    probes AS (
      SELECT DISTINCT substr(name, 1, length(name) - 1) AS probe
      FROM vocab
    )
    SELECT p.probe, v.name,
           CAST(levenshtein(p.probe, v.name) AS INT) AS edit_dist
    FROM probes p JOIN vocab v
      ON split_part(p.probe, ' ', 1) = split_part(v.name, ' ', 1)
     AND levenshtein(p.probe, v.name) <= 1
    """,
    doc="blocked fuzzy string join (operators/linkage.py "
    "fuzzy_join): dirty probes (part-name vocabulary with the last "
    "char dropped) resolved against the clean vocabulary at edit "
    "distance <= 1. Candidates come from conjunctive blocking "
    "(first-token key) composed with a LOSSLESS length band (edit "
    "distance >= |len diff|, so width-(k+1) buckets exploded to "
    "adjacent bands can never drop a true match) — never all-pairs; "
    "verification is Spark's thresholded levenshtein. The band is "
    "invisible in the result, so DuckDB recomputes it as plain "
    "blocker-equality + levenshtein <= k",
)
def q_fuzzy_vocab_match(spark, sf_dir):
    from .operators.linkage import fuzzy_join

    vocab = (
        T(spark, sf_dir, "part")
        .select(F.col("p_name").alias("name"))
        .distinct()
    )
    probes = vocab.select(
        F.expr("substr(name, 1, length(name) - 1)").alias("probe")
    ).distinct()
    return fuzzy_join(probes, vocab, "probe", "name", max_dist=1)


@declare(
    "q_catalog_fuzzy_link",
    """
    WITH src AS (
      SELECT user_id, event_type, event_id,
             strftime(ts, '%Y-%m-%dT%H:%M:%SZ') AS ts_raw
      FROM events
      WHERE user_id IS NOT NULL AND ts IS NOT NULL
        AND event_id IS NOT NULL
    ),
    named AS (
      SELECT 'series-' || CAST(user_id AS VARCHAR) AS timeseries_id,
             event_type || '-' || CAST(user_id % 10 AS VARCHAR) AS nm,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts_raw, event_id) AS rn
      FROM src
    ),
    cat AS (
      SELECT timeseries_id, nm AS sensor_name FROM named WHERE rn = 1
    ),
    probes AS (
      SELECT DISTINCT
             substr(sensor_name, 1, length(sensor_name) - 1) AS probe
      FROM cat
    )
    SELECT p.probe, c.timeseries_id, c.sensor_name,
           CAST(levenshtein(p.probe, c.sensor_name) AS INT) AS edit_dist
    FROM probes p JOIN cat c
      ON substr(p.probe, 1, 4) = substr(c.sensor_name, 1, 4)
     AND levenshtein(p.probe, c.sensor_name) <= 1
    """,
    doc="series-catalog fuzzy linkage through the ENGINE surface "
    "(api.py "
    "link_external_names over build_series_catalog): a real warehouse "
    "is built in-fixture (the q_latest_values dense-seq discipline, "
    "so the catalog's min_by-ingest_seq sensor_name is the oracle's "
    "first-row-by-(ts_raw, event_id) pick), then dirty external "
    "probes — every catalog name with its last char dropped — are "
    "resolved at edit distance <= 1 with a 4-char-prefix blocker "
    "(catalog names are compact identifiers; the linkage module's "
    "first-token default would collapse them into one block). "
    "Candidates stay blocked + length-banded (linkage.py's lossless "
    "band), never all-pairs; DuckDB recomputes catalog, probes, "
    "blocker equality and levenshtein directly from the source "
    "definition",
)
def q_catalog_fuzzy_link(spark, sf_dir):
    from .api import TimeseriesEngine

    e = T(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull()
        & F.col("ts").isNotNull()
        & F.col("event_id").isNotNull()
    )
    raw = e.select(
        F.concat(
            F.col("event_type"),
            F.lit("-"),
            (F.col("user_id") % 10).cast("string"),
        ).alias("sensor_name"),
        F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss'Z'").alias("timestamp"),
        F.col("value").cast("double").alias("value"),
        F.lit(None).cast("tinyint").alias("fc1_flag"),
        F.concat(F.lit("series-"), F.col("user_id").cast("string")).alias(
            "timeseries_id"
        ),
        "event_id",
    )
    # dense-seq ingest over the oracle's total order (q_latest_values)
    raw = (
        raw.repartition(1)
        .sortWithinPartitions("timestamp", "event_id")
        .drop("event_id")
    )
    eng = TimeseriesEngine(spark, _fixture_dir("q_catalog_fuzzy_link"))
    eng.ingest_df(raw)
    probes = (
        eng.build_series_catalog()
        .select(
            F.expr(
                "substr(sensor_name, 1, length(sensor_name) - 1)"
            ).alias("probe")
        )
        .distinct()
    )
    return eng.link_external_names(probes, name_col="probe").select(
        "probe", "timeseries_id", "sensor_name", "edit_dist"
    )


_FROM_FIRST_STMT = (
    "FROM lineitem "
    "SELECT l_returnflag, l_linestatus, "
    "CAST(COUNT(*) AS BIGINT) AS n, "
    "CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty "
    "WHERE l_shipdate >= TIMESTAMP '1998-06-01' "
    "GROUP BY l_returnflag, l_linestatus "
    "ORDER BY l_returnflag, l_linestatus"
)


@declare(
    "q_sql_from_first",
    _FROM_FIRST_STMT,
    doc="DuckDB's FROM-first statement syntax through the dialect "
    "(sql_ext.py _rewrite_from_first): the statement LEADS "
    "with its FROM clause, the select list follows, the remaining "
    "clauses keep their usual order; a missing SELECT means SELECT *. "
    "The dialect canonicalizes to SELECT-first textually (depth-0 "
    "keyword scan on a comment/string-masked copy) BEFORE any other "
    "pass, so ASOF/QUALIFY/star-modifiers all compose. DuckDB runs "
    "the ORIGINAL FROM-first spelling natively — the strongest "
    "possible oracle pairing (the q_sql_pivot pattern)",
)
def q_sql_from_first(spark, sf_dir):
    from .sql_ext import sql as dialect_sql

    T(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return dialect_sql(spark, _FROM_FIRST_STMT)


@declare(
    "q_tfidf_index",
    """
    WITH live AS (
      SELECT doc_id, text FROM documents WHERE doc_id % 50 <> 13
    ),
    toks AS (
      SELECT doc_id,
             list_filter(string_split(lower(text), ' '), x -> len(x) > 0) AS ws
      FROM live
    ),
    stats AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs FROM toks),
    tf_all AS (
      SELECT doc_id, t, CAST(COUNT(*) AS DOUBLE) AS tf
      FROM (SELECT doc_id, unnest(ws) AS t FROM toks)
      GROUP BY doc_id, t
    ),
    norms AS (
      SELECT doc_id, sqrt(SUM(tf * tf)) AS dnorm
      FROM tf_all GROUP BY doc_id
    ),
    hits AS (
      SELECT doc_id, t, tf FROM tf_all
      WHERE list_contains(['hash', 'merge', 'scan', 'slow'], t)
    ),
    dfq AS (
      SELECT t, CAST(COUNT(*) AS DOUBLE) AS dft FROM hits GROUP BY t
    ),
    w AS (
      SELECT t, ln(1 + (n_docs - dft + 0.5) / (dft + 0.5)) AS wq
      FROM dfq CROSS JOIN stats
    ),
    qn AS (SELECT sqrt(SUM(wq * wq)) AS qnorm FROM w),
    scored AS (
      SELECT h.doc_id, CAST(COUNT(*) AS BIGINT) AS n_terms_hit,
             ROUND(SUM(h.tf * w.wq / (n.dnorm * qn.qnorm)), 6) AS cosine
      FROM hits h
      JOIN w USING (t)
      JOIN norms n USING (doc_id)
      CROSS JOIN qn
      GROUP BY h.doc_id
    )
    SELECT doc_id, n_terms_hit, cosine
    FROM scored ORDER BY cosine DESC, doc_id LIMIT 50
    """,
    doc="TF-IDF cosine retrieval over the PERSISTED BM25 index "
    "(retrieval.py Bm25Index.query_tfidf): the SAME "
    "term-sharded postings serve a second scorer, SMART nnc.ltc — "
    "doc side raw-tf with a stored cosine norm over ALL doc terms "
    "(tfn2 rides in the postings like dl; exact integers, no ln() "
    "ulp drift, df-independent so add()/remove() never stale it), "
    "query side Lucene idf on deduped terms. The query exercises the "
    "lifecycle: build on doc_id%4!=1, add the rest, remove "
    "doc_id%50==13 — the oracle recomputes nnc.ltc over exactly the "
    "LIVE corpus in DuckDB, certifying the tombstone df-subtraction "
    "leg under the second scorer too",
)
def q_tfidf_index(spark, sf_dir):
    from .operators.retrieval import Bm25Index

    d = T(spark, sf_dir, "documents")
    path = os.path.join(_fixture_dir("q_tfidf_index"), "bm25")
    idx = Bm25Index(spark, path).build(d.filter(F.col("doc_id") % 4 != 1))
    idx.add(d.filter(F.col("doc_id") % 4 == 1))
    idx.remove(d.filter(F.col("doc_id") % 50 == 13).select("doc_id"))
    return idx.query_tfidf(["hash", "merge", "scan", "slow"], k=50)


@declare(
    "q_topk_sketch_merge",
    """
    WITH base AS (
      SELECT event_type, CAST(ts AS DATE) AS day, user_id % 97 AS value
      FROM events
    ),
    counts AS (
      SELECT event_type, day, value, CAST(COUNT(*) AS BIGINT) AS c
      FROM base GROUP BY 1, 2, 3
    ),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type, day
                                   ORDER BY c DESC, value) AS rn
      FROM counts
    ),
    cells AS (
      SELECT event_type, day,
             COALESCE(MAX(CASE WHEN rn = 6 THEN c END), 0) AS dropped_max,
             CAST(SUM(c) AS BIGINT) AS cell_rows
      FROM ranked GROUP BY 1, 2
    ),
    tot AS (
      SELECT event_type,
             CAST(SUM(dropped_max) AS BIGINT) AS total_err,
             CAST(SUM(cell_rows) AS BIGINT) AS n_rows
      FROM cells GROUP BY 1
    ),
    pv AS (
      SELECT k.event_type, k.value,
             CAST(SUM(k.c) AS BIGINT) AS count_lo,
             CAST(SUM(cl.dropped_max) AS BIGINT) AS present_err
      FROM (SELECT * FROM ranked WHERE rn <= 5) k
      JOIN cells cl ON k.event_type = cl.event_type AND k.day = cl.day
      GROUP BY 1, 2
    ),
    merged AS (
      SELECT pv.event_type, pv.value, pv.count_lo,
             CAST(tot.total_err - pv.present_err AS BIGINT) AS err_ub,
             tot.n_rows
      FROM pv JOIN tot USING (event_type)
    ),
    final AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
                                   ORDER BY count_lo DESC, value) AS rn
      FROM merged
    )
    SELECT event_type, value, count_lo, err_ub, n_rows
    FROM final WHERE rn <= 10
    """,
    doc="mergeable heavy-hitter sketch rollup (functions/"
    "sketches.py topk_sketch / merge_topk_sketch; the SpaceSaving/"
    "Misra-Gries merge, Agarwal et al. PODS'12): per (event_type, "
    "day) cell keep the exact top-5 user buckets + the (k+1)-th "
    "count as dropped_max, then merge the per-day summaries to "
    "per-type top-10 WITHOUT revisiting the data — count_lo is a "
    "lower bound, err_ub (sum of dropped_max over cells where the "
    "value did not survive) bounds the truth: true IN [count_lo, "
    "count_lo+err_ub] always. Unlike the hash-seeded sketch "
    "families every number is an exact integer, so DuckDB replays "
    "the whole decomposition and hash-matches. Scale: map-side "
    "combining counts, WindowGroupLimit per-cell top-k, value-keyed "
    "merge — the decomposable answer to 'top users per type over "
    "any date range' at 100 TB",
)
def q_topk_sketch_merge(spark, sf_dir):
    from .functions.sketches import merge_topk_sketch, topk_sketch

    base = T(spark, sf_dir, "events").select(
        "event_type",
        F.to_date("ts").alias("day"),
        (F.col("user_id") % 97).alias("value"),
    )
    cells = topk_sketch(base, ["event_type", "day"], "value", k=5)
    return merge_topk_sketch(cells, ["event_type"], k=10)


@declare(
    "q_ngram_containment",
    """
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split(lower(text), ' '), t -> len(t) > 0) AS ws
      FROM documents
    ),
    grams AS (
      SELECT DISTINCT doc_id, gram FROM (
        SELECT doc_id,
               array_to_string(ws[i:i+2], ' ') AS gram
        FROM toks, (SELECT unnest(generate_series(1, 4000)) AS i) idx
        WHERE i <= greatest(len(ws) - 2, 1)
      )
    ),
    ev AS (SELECT doc_id AS eval_id, gram FROM grams WHERE doc_id % 20 = 3),
    tr AS (SELECT doc_id AS train_id, gram FROM grams WHERE doc_id % 20 <> 3),
    sizes AS (
      SELECT eval_id, CAST(COUNT(*) AS BIGINT) AS ne FROM ev GROUP BY eval_id
    ),
    inter AS (
      SELECT ev.eval_id, tr.train_id, CAST(COUNT(*) AS BIGINT) AS i
      FROM ev JOIN tr USING (gram)
      GROUP BY ev.eval_id, tr.train_id
    )
    SELECT eval_id, train_id,
           ROUND(CAST(i AS DOUBLE) / ne, 6) AS containment
    FROM inter JOIN sizes USING (eval_id)
    WHERE ROUND(CAST(i AS DOUBLE) / ne, 6) >= 0.4
    """,
    doc="directional n-gram containment of held-out eval docs in "
    "train docs (operators/dedup.py "
    "ngram_containment_pairs; the asymmetric cousin of "
    "q_ngram_jaccard): containment = |grams(eval) AND grams(train)| "
    "/ |grams(eval)| — the GPT-3/PaLM eval-overlap metric. Jaccard "
    "UNDER-FLAGS a short eval doc buried verbatim in a long train "
    "doc (union dominated by the train side); containment reads 1.0 "
    "there. Same inverted-index posting join (never all-pairs), "
    "eval-side sizes broadcast; exact integer counts, ratio rounded "
    "6 dp",
)
def q_ngram_containment(spark, sf_dir):
    from .operators.dedup import ngram_containment_pairs

    d = T(spark, sf_dir, "documents")
    return ngram_containment_pairs(
        d.filter(F.col("doc_id") % 20 == 3),
        d.filter(F.col("doc_id") % 20 != 3),
        "doc_id",
        "text",
        n=3,
        threshold=0.4,
    )


@declare(
    "q_ranking_eval",
    """
    WITH qt AS (
      SELECT * FROM (VALUES
        ('q1','hash'),('q1','merge'),('q1','scan'),('q1','slow'),
        ('q2','dup'),('q2','filter'),('q2','sort'),('q2','stream')
      ) v(q, t)
    ),
    toks AS (
      SELECT doc_id,
             list_filter(string_split(lower(text), ' '), x -> len(x) > 0) AS ws
      FROM documents
    ),
    stats AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs, AVG(len(ws)) AS avgdl
      FROM toks
    ),
    doc_t AS (SELECT DISTINCT doc_id, unnest(ws) AS t FROM toks),
    labels AS (
      SELECT qt.q, doc_t.doc_id, CAST(COUNT(*) AS INT) AS rel
      FROM doc_t JOIN qt USING (t) GROUP BY 1, 2
    ),
    tf AS (
      SELECT qt.q, x.doc_id, x.dl, x.t, x.tf FROM (
        SELECT doc_id, CAST(len(ws) AS DOUBLE) AS dl, t,
               CAST(COUNT(*) AS DOUBLE) AS tf
        FROM (SELECT doc_id, ws, unnest(ws) AS t FROM toks)
        GROUP BY 1, 2, 3
      ) x JOIN qt ON x.t = qt.t
    ),
    dfq AS (SELECT q, t, CAST(COUNT(*) AS DOUBLE) AS dft FROM tf GROUP BY 1, 2),
    scored AS (
      SELECT tf.q, tf.doc_id,
             SUM(ln(1 + (n_docs - dft + 0.5) / (dft + 0.5))
                 * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))) AS bm25
      FROM tf CROSS JOIN stats JOIN dfq USING (q, t)
      GROUP BY 1, 2
    ),
    ranked AS (
      SELECT q, doc_id,
             ROW_NUMBER() OVER (PARTITION BY q
                                ORDER BY ROUND(bm25, 6) DESC, doc_id) AS rank
      FROM scored
    ),
    hits AS (
      SELECT r.q, r.rank, COALESCE(l.rel, 0) AS rel
      FROM (SELECT * FROM ranked WHERE rank <= 20) r
      LEFT JOIN labels l ON r.q = l.q AND r.doc_id = l.doc_id
      WHERE r.rank <= 10
    ),
    dcg AS (
      SELECT q,
             SUM(CAST(ROUND((POW(2.0, rel) - 1) / log2(rank + 1.0), 9)
                      AS DECIMAL(38,9))) AS dcg_q,
             COALESCE(MIN(CASE WHEN rel > 0 THEN rank END), 0) AS first_rel,
             CAST(COUNT(CASE WHEN rel > 0 THEN 1 END) AS BIGINT) AS n_hit
      FROM hits GROUP BY q
    ),
    ideal AS (
      SELECT q,
             SUM(CASE WHEN irank <= 10 THEN
               CAST(ROUND((POW(2.0, rel) - 1) / log2(irank + 1.0), 9)
                    AS DECIMAL(38,9)) END) AS idcg_q,
             CAST(COUNT(*) AS BIGINT) AS n_rel
      FROM (SELECT q, rel, doc_id,
                   ROW_NUMBER() OVER (PARTITION BY q
                                      ORDER BY rel DESC, doc_id) AS irank
            FROM labels WHERE rel > 0)
      GROUP BY q
    )
    SELECT d.q AS query_id,
           CASE WHEN COALESCE(i.idcg_q, 0) > 0 THEN
             ROUND(CAST(d.dcg_q AS DOUBLE) / CAST(i.idcg_q AS DOUBLE), 6)
           ELSE 0.0 END AS ndcg,
           CASE WHEN d.first_rel > 0 THEN ROUND(1.0 / d.first_rel, 6)
           ELSE 0.0 END AS mrr,
           CASE WHEN COALESCE(i.n_rel, 0) > 0 THEN
             ROUND(CAST(d.n_hit AS DOUBLE) / i.n_rel, 6)
           ELSE 0.0 END AS recall_k,
           COALESCE(i.n_rel, 0) AS n_rel
    FROM dcg d LEFT JOIN ideal i USING (q)
    """,
    doc="offline ranking evaluation — NDCG@10 / MRR / recall@10 of "
    "the BM25 retriever against graded term-coverage labels, two "
    "query sets in one table-driven pass (retrieval.py "
    "ranking_metrics; closes the retrieve->fuse->EVALUATE loop). "
    "Gains (2^rel - 1) with log2(rank+1) discounts; each position's "
    "term is 9-dp-quantized and summed as exact decimal (the "
    "q_bigram_surprisal discipline) so DCG/IDCG are order-"
    "independent despite log2's engine ulp; the ideal ordering "
    "tie-breaks on doc id, so both engines build the identical "
    "ideal list. Everything is keyed on the query id — eval sets "
    "are tiny per query; the corpus-sized work stays in the "
    "retriever",
)
def q_ranking_eval(spark, sf_dir):
    from .operators.dedup import word_tokens
    from .operators.retrieval import bm25_topk, ranking_metrics

    d = T(spark, sf_dir, "documents")
    term_sets = {
        "q1": ["hash", "merge", "scan", "slow"],
        "q2": ["dup", "filter", "sort", "stream"],
    }
    res = None
    for qid, ts in term_sets.items():
        r = bm25_topk(d, ts, k=20).select(
            F.lit(qid).alias("query_id"), "doc_id", "bm25"
        )
        res = r if res is None else res.unionByName(r)
    w = Window.partitionBy("query_id").orderBy(
        F.col("bm25").desc(), F.col("doc_id")
    )
    results = res.withColumn("rank", F.row_number().over(w)).select(
        "query_id", "doc_id", "rank"
    )
    qt = spark.createDataFrame(
        [(q, t) for q, ts in term_sets.items() for t in ts],
        "query_id string, t string",
    )
    doc_t = d.select(
        "doc_id",
        F.explode(F.array_distinct(word_tokens("text"))).alias("t"),
    )
    labels = (
        doc_t.join(F.broadcast(qt), "t")
        .groupBy("query_id", "doc_id")
        .agg(F.count(F.lit(1)).cast("int").alias("rel"))
    )
    return ranking_metrics(results, labels, k=10)


@declare(
    "q_winsorized_stats",
    """
    WITH ranked AS (
      -- NULL values are excluded from the rank universe, matching the
      -- engine operator (profile.winsorize) — without this filter the
      -- two engines would disagree on every bound the moment testdata
      -- regenerates with NULLs (DuckDB also orders NULLs last vs
      -- Spark's nulls-first)
      SELECT event_type, value,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY value) AS rn,
             CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
      FROM events WHERE value IS NOT NULL
    ),
    bounds AS (
      SELECT event_type,
             MAX(CASE WHEN rn = greatest(CAST(CEIL(0.05e0 * n) AS BIGINT), 1)
                 THEN value END) AS p_lo,
             MAX(CASE WHEN rn = greatest(CAST(CEIL(0.95e0 * n) AS BIGINT), 1)
                 THEN value END) AS p_hi
      FROM ranked GROUP BY event_type
    ),
    clipped AS (
      -- guard the clip: a NULL value passes through as NULL vw (the
      -- engine's contract) regardless of DuckDB's greatest/least NULL
      -- semantics; LEFT JOIN keeps rows of an all-NULL group (no
      -- bounds row) alive, mirroring the operator's left bounds join
      SELECT e.event_type,
             CASE WHEN e.value IS NOT NULL THEN
               CAST(least(greatest(e.value, b.p_lo), b.p_hi)
                    AS DECIMAL(18,2)) END AS vw,
             CASE WHEN e.value < b.p_lo THEN 1 ELSE 0 END AS lo,
             CASE WHEN e.value > b.p_hi THEN 1 ELSE 0 END AS hi,
             b.p_lo, b.p_hi
      FROM events e LEFT JOIN bounds b USING (event_type)
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(lo) AS BIGINT) AS n_clip_lo,
           CAST(SUM(hi) AS BIGINT) AS n_clip_hi,
           MIN(p_lo) AS p_lo, MIN(p_hi) AS p_hi,
           ROUND(CAST(SUM(vw) AS DOUBLE) / COUNT(*), 6) AS mean_w
    FROM clipped GROUP BY event_type
    """,
    doc="per-type winsorized mean (operators/profile.py "
    "winsorize): values clipped to the exact PERCENTILE_DISC "
    "[p05, p95] bounds (rank selection, floored at rank 1 — actual "
    "data values, so the clipped column stays exactly 2-dp and the "
    "mean numerator sums as exact decimal), plus clip counts. The "
    "robust-mean companion to q_outlier_mad (flagging) and "
    "q_moving_median (despiking). One ranked window per group + a "
    "broadcast bounds join",
)
def q_winsorized_stats(spark, sf_dir):
    from .operators.profile import winsorize

    e = T(spark, sf_dir, "events")
    wz = winsorize(e, ["event_type"], "value", 0.05, 0.95)
    return wz.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(
            F.when(F.col("value") < F.col("p_lo"), 1).otherwise(0)
        ).cast("long").alias("n_clip_lo"),
        F.sum(
            F.when(F.col("value") > F.col("p_hi"), 1).otherwise(0)
        ).cast("long").alias("n_clip_hi"),
        F.min("p_lo").alias("p_lo"),
        F.min("p_hi").alias("p_hi"),
        F.round(
            F.sum(F.col("value_w").cast("decimal(18,2)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("mean_w"),
    )


@declare(
    "q_attribution_last_touch",
    """
    WITH touched AS (
      SELECT event_type, value,
             last_value(CASE WHEN event_type <> 'purchase'
                             THEN event_type END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING
                          AND 1 PRECEDING) AS src
      FROM events
    ),
    conv AS (
      SELECT COALESCE(src, '(direct)') AS source,
             CAST(value AS DECIMAL(18,2)) AS v
      FROM touched WHERE event_type = 'purchase'
    ),
    agg AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_conversions,
             SUM(v) AS sv
      FROM conv GROUP BY source
    ),
    tot AS (SELECT CAST(SUM(n_conversions) AS BIGINT) AS t FROM agg)
    SELECT source, n_conversions,
           CAST(sv AS DOUBLE) AS attributed_value,
           ROUND(CAST(n_conversions AS DOUBLE) / CAST(tot.t AS DOUBLE), 6)
             AS share
    FROM agg CROSS JOIN tot
    """,
    doc="last-touch conversion attribution (operators/"
    "funnel.py attribute_conversions; the revenue-facing companion "
    "of q_funnel_stages): each purchase attributes to the user's "
    "most recent strictly-preceding non-purchase event type via "
    "last(..., ignorenulls) over ROWS UNBOUNDED PRECEDING..1 "
    "PRECEDING (same-ts events ordered by event_id on both engines); "
    "no preceding touch -> '(direct)'. Value sums are exact decimal; "
    "the share denominator attaches via the constant-key broadcast "
    "equi-join, not a global window. One user-keyed window + one "
    "tiny per-source agg",
)
def q_attribution_last_touch(spark, sf_dir):
    from .operators.funnel import attribute_conversions

    return attribute_conversions(
        T(spark, sf_dir, "events"), order_tiebreak="event_id"
    )


@declare(
    "q_hybrid_index_rrf",
    """
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split(lower(text), ' '), x -> len(x) > 0) AS ws
      FROM documents
    ),
    stats AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
             AVG(len(ws)) AS avgdl
      FROM toks
    ),
    tf_all AS (
      SELECT doc_id, t, CAST(COUNT(*) AS DOUBLE) AS tf
      FROM (SELECT doc_id, unnest(ws) AS t FROM toks)
      GROUP BY doc_id, t
    ),
    dl AS (SELECT doc_id, CAST(len(ws) AS DOUBLE) AS dl FROM toks),
    norms AS (
      SELECT doc_id, sqrt(SUM(tf * tf)) AS dnorm
      FROM tf_all GROUP BY doc_id
    ),
    hits AS (
      SELECT doc_id, t, tf FROM tf_all
      WHERE list_contains(['hash', 'merge', 'scan', 'slow'], t)
    ),
    dfq AS (
      SELECT t, CAST(COUNT(*) AS DOUBLE) AS dft FROM hits GROUP BY t
    ),
    bm AS (
      SELECT h.doc_id,
             ROUND(SUM(
               ln(1 + (n_docs - dft + 0.5) / (dft + 0.5))
               * h.tf * 2.2
               / (h.tf + 1.2 * (0.25 + 0.75 * dl.dl / avgdl))
             ), 6) AS s
      FROM hits h
      CROSS JOIN stats JOIN dfq USING (t) JOIN dl USING (doc_id)
      GROUP BY h.doc_id
      ORDER BY s DESC, doc_id LIMIT 40
    ),
    w AS (
      SELECT t, ln(1 + (n_docs - dft + 0.5) / (dft + 0.5)) AS wq
      FROM dfq CROSS JOIN stats
    ),
    qn AS (SELECT sqrt(SUM(wq * wq)) AS qnorm FROM w),
    ti AS (
      SELECT h.doc_id,
             ROUND(SUM(h.tf * w.wq / (n.dnorm * qn.qnorm)), 6) AS s
      FROM hits h
      JOIN w USING (t) JOIN norms n USING (doc_id) CROSS JOIN qn
      GROUP BY h.doc_id
      ORDER BY s DESC, doc_id LIMIT 40
    ),
    ranked AS (
      SELECT doc_id, row_number() OVER (ORDER BY s DESC, doc_id) AS r
      FROM bm
      UNION ALL
      SELECT doc_id, row_number() OVER (ORDER BY s DESC, doc_id) AS r
      FROM ti
    )
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_lists,
           ROUND(SUM(1.0 / (60 + r)), 6) AS rrf
    FROM ranked GROUP BY doc_id
    ORDER BY rrf DESC, doc_id LIMIT 20
    """,
    doc="one persisted index, two scorers, one fused list: "
    "Bm25Index.query (Okapi BM25) and Bm25Index.query_tfidf (SMART "
    "nnc.ltc cosine) rank the SAME term-sharded postings — both "
    "shard-pruned, zero extra index bytes — and rrf_fuse combines "
    "the two top-40 lists by 1/(60+rank) into the top 20. The "
    "lexical-score disagreement between the two weighting schemes is "
    "exactly what RRF's rank-only fusion absorbs. Oracle recomputes "
    "both scorers from the raw corpus and replays the fusion",
)
def q_hybrid_index_rrf(spark, sf_dir):
    from .operators.retrieval import Bm25Index, rrf_fuse

    d = T(spark, sf_dir, "documents")
    path = os.path.join(_fixture_dir("q_hybrid_index_rrf"), "bm25")
    idx = Bm25Index(spark, path).build(d)
    terms = ["hash", "merge", "scan", "slow"]
    return rrf_fuse(
        {
            "bm25": (idx.query(terms, k=40), "bm25"),
            "tfidf": (idx.query_tfidf(terms, k=40), "cosine"),
        },
        id_col="doc_id",
        k=20,
    )


@declare(
    "q_sql_pivot_multi",
    """
    WITH base AS (
      SELECT user_id % 10 AS cohort, event_type,
             CASE WHEN day(ts) % 2 = 0 THEN 'even' ELSE 'odd' END AS half,
             CAST(round(value * 100) AS BIGINT) AS v
      FROM events
    )
    SELECT cohort,
           CAST(SUM(CASE WHEN event_type = 'click' AND half = 'even'
               THEN v END) AS BIGINT) AS click_even_s,
           CAST(SUM(CASE WHEN event_type = 'click' AND half = 'odd'
               THEN v END) AS BIGINT) AS click_odd_s,
           CAST(SUM(CASE WHEN event_type = 'view' AND half = 'even'
               THEN v END) AS BIGINT) AS view_even_s,
           CAST(SUM(CASE WHEN event_type = 'view' AND half = 'odd'
               THEN v END) AS BIGINT) AS view_odd_s
    FROM base GROUP BY cohort
    """,
    doc="multi-column PIVOT statement ("
    "sql_ext._maybe_pivot): ON event_type IN ('click','view'), half "
    "pivots the CROSS PRODUCT of the two value sets into "
    "<v1>_<v2>_<alias> columns, DuckDB's naming and order (IN order "
    "for the pinned column, sorted discovery for the other). "
    "Implemented by pivoting a NULL-propagating combo column whose "
    "values map through typed CASE chains — no raw casts, so literal "
    "spelling can't drift; rows with unlisted/NULL ON values drop on "
    "both engines. The oracle is the equivalent conditional "
    "aggregation",
)
def q_sql_pivot_multi(spark, sf_dir):
    from .sql_ext import sql as dialect_sql

    T(spark, sf_dir, "events").select(
        (F.col("user_id") % 10).alias("cohort"),
        "event_type",
        F.when(F.dayofmonth("ts") % 2 == 0, "even")
        .otherwise("odd")
        .alias("half"),
        F.round(F.col("value") * 100).cast("bigint").alias("v"),
    ).createOrReplaceTempView("events_mp")
    return dialect_sql(
        spark,
        "PIVOT events_mp ON event_type IN ('click', 'view'), half "
        "USING sum(v) AS s GROUP BY cohort",
    )


@declare(
    "q_k_anonymity",
    """
    WITH q AS (
      SELECT lang, source, CAST(n_chars // 100 AS BIGINT) AS len_bucket
      FROM documents
    ),
    classes AS (
      SELECT lang, source, len_bucket, CAST(COUNT(*) AS BIGINT) AS sz
      FROM q GROUP BY 1, 2, 3
    ),
    stats AS (
      SELECT CAST(SUM(sz) AS BIGINT) AS n_rows,
             CAST(COUNT(*) AS BIGINT) AS n_classes
      FROM classes
    ),
    ks AS (SELECT CAST(unnest([2, 5, 10]) AS INT) AS k)
    SELECT ks.k,
           CAST(COUNT(CASE WHEN c.sz < ks.k THEN 1 END) AS BIGINT)
             AS n_classes_below,
           CAST(COALESCE(SUM(CASE WHEN c.sz < ks.k THEN c.sz END), 0)
                AS BIGINT) AS n_rows_below,
           ROUND(CAST(COALESCE(SUM(CASE WHEN c.sz < ks.k THEN c.sz END),
                               0) AS DOUBLE)
                 / CAST(s.n_rows AS DOUBLE), 6) AS frac_rows_below,
           s.n_rows, s.n_classes
    FROM ks CROSS JOIN classes c CROSS JOIN stats s
    GROUP BY ks.k, s.n_rows, s.n_classes
    """,
    doc="k-anonymity audit over the (lang, source, length-bucket) "
    "quasi-identifier tuple (operators/profile.py "
    "k_anonymity_report, the privacy face of the data-quality "
    "suite): per threshold k in {2,5,10}, how many equivalence "
    "classes and rows fall below k — the release-review question "
    "'what fraction of rows are re-identifiable at k=5'. NULL "
    "quasi-values form their own class on both engines. One "
    "map-side-combining groupBy on the quasi tuple; every threshold "
    "reuses the same class-size table. Exact integers, one 6-dp "
    "ratio",
)
def q_k_anonymity(spark, sf_dir):
    from .operators.profile import k_anonymity_report

    d = T(spark, sf_dir, "documents").select(
        "lang",
        "source",
        F.floor(F.col("n_chars") / 100).cast("long").alias("len_bucket"),
    )
    return k_anonymity_report(
        d, ["lang", "source", "len_bucket"], thresholds=[2, 5, 10]
    )


@declare(
    "q_benford_profile",
    """
    WITH d AS (
      SELECT regexp_extract(
               CAST(CAST(abs(l_extendedprice) AS DECIMAL(18,2))
                    AS VARCHAR), '[1-9]', 0) AS digit
      FROM lineitem
    ),
    counts AS (
      SELECT CAST(digit AS INT) AS digit, CAST(COUNT(*) AS BIGINT) AS n
      FROM d WHERE digit <> '' GROUP BY digit
    ),
    tot AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM counts)
    SELECT digit, n,
           ROUND(CAST(n AS DOUBLE) / total, 6) AS obs_share,
           ROUND(log10(1 + 1.0 / digit), 6) AS benford_share,
           ROUND(pow(n - log10(1 + 1.0 / digit) * total, 2)
                 / (log10(1 + 1.0 / digit) * total), 6) AS chi2_term
    FROM counts CROSS JOIN tot
    """,
    doc="Benford first-significant-digit profile of l_extendedprice "
    "(operators/profile.py benford_profile, the forensic "
    "data-quality check for fabricated/truncated numeric feeds): "
    "per digit, observed count/share vs Benford's log10(1+1/d) and "
    "the per-digit chi-square contribution. Digit extraction is "
    "TEXTUAL over the decimal(18,2) rendering — fixed notation on "
    "both engines, where a raw double cast drifts into scientific "
    "notation — first [1-9] wins; zero/NULL carry no digit. Exact "
    "counts; shares round 6 dp",
)
def q_benford_profile(spark, sf_dir):
    from .operators.profile import benford_profile

    return benford_profile(
        T(spark, sf_dir, "lineitem"), value_col="l_extendedprice"
    )


@declare(
    "q_session_stats",
    """
    WITH seq AS (
      SELECT user_id, ts, event_id,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR epoch_us(ts) - epoch_us(lag(ts) OVER w)
                       > 1800 * 1000000
                  THEN 1 ELSE 0 END AS new_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
      SELECT user_id, ts,
             SUM(new_s) OVER (PARTITION BY user_id
                              ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING) AS sid
      FROM seq
    ),
    per_session AS (
      SELECT user_id, sid,
             CAST(COUNT(*) AS BIGINT) AS n_events,
             CAST(epoch_us(MAX(ts)) - epoch_us(MIN(ts)) AS BIGINT)
               AS dur_us,
             CAST(MIN(ts) AS DATE) AS day
      FROM sess GROUP BY user_id, sid
    )
    SELECT strftime(day, '%Y-%m-%d') AS day,
           CAST(COUNT(*) AS BIGINT) AS n_sessions,
           CAST(SUM(n_events) AS BIGINT) AS n_events,
           ROUND(CAST(SUM(n_events) AS DOUBLE) / COUNT(*), 6)
             AS avg_events,
           ROUND(CAST(SUM(dur_us) AS DOUBLE) / COUNT(*) / 1e6, 6)
             AS avg_duration_s,
           ROUND(CAST(COUNT(CASE WHEN n_events = 1 THEN 1 END)
                      AS DOUBLE) / COUNT(*), 6) AS bounce_rate
    FROM per_session GROUP BY day
    """,
    doc="daily session statistics: sessions split on 30-min "
    "inactivity per user (lag + cumulative-flag-sum — the "
    "gaps-and-islands sessionizer), then per-day session count, "
    "events/session, average duration and bounce rate (1-event "
    "share), the product-analytics KPI row. Durations are exact "
    "integer microseconds; every ratio is exact-int/exact-int at 6 "
    "dp. Two co-keyed user windows + one (user, session) agg + one "
    "day agg — no self-join, no collect",
)
def q_session_stats(spark, sf_dir):
    e = T(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))
    seq = e.select(
        "user_id", "ts", "event_id",
        F.when(
            F.lag("ts").over(w).isNull() | (gap > 1800 * 1_000_000), 1
        ).otherwise(0).alias("new_s"),
    )
    sess = seq.select(
        "user_id", "ts",
        F.sum("new_s").over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ).alias("sid"),
    )
    per_session = sess.groupBy("user_id", "sid").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        (
            F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts"))
        ).cast("long").alias("dur_us"),
        F.date_format(F.min("ts"), "yyyy-MM-dd").alias("day"),
    )
    return per_session.groupBy("day").agg(
        F.count(F.lit(1)).cast("long").alias("n_sessions"),
        F.sum("n_events").cast("long").alias("n_events"),
        F.round(
            F.sum("n_events").cast("double") / F.count(F.lit(1)), 6
        ).alias("avg_events"),
        F.round(
            F.sum("dur_us").cast("double") / F.count(F.lit(1)) / 1e6, 6
        ).alias("avg_duration_s"),
        F.round(
            F.count(F.when(F.col("n_events") == 1, 1)).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("bounce_rate"),
    )


@declare(
    "q_pmi_scan",
    """
    WITH counts AS (
      SELECT lang AS a_value, source AS b_value,
             CAST(COUNT(*) AS BIGINT) AS n_ab
      FROM documents GROUP BY lang, source
    ),
    ma AS (SELECT a_value, CAST(SUM(n_ab) AS BIGINT) AS na
           FROM counts GROUP BY a_value),
    mb AS (SELECT b_value, CAST(SUM(n_ab) AS BIGINT) AS nb
           FROM counts GROUP BY b_value),
    tot AS (SELECT CAST(SUM(n_ab) AS BIGINT) AS n FROM counts)
    SELECT c.a_value, c.b_value, c.n_ab,
           ROUND(log2(CAST(c.n_ab AS DOUBLE) * n
                      / (CAST(ma.na AS DOUBLE) * mb.nb)), 6)
             AS pmi_bits,
           ROUND((CAST(c.n_ab AS DOUBLE) / n)
                 * log2(CAST(c.n_ab AS DOUBLE) * n
                        / (CAST(ma.na AS DOUBLE) * mb.nb)), 9)
             AS mi_contrib_r9
    FROM counts c
    JOIN ma ON c.a_value IS NOT DISTINCT FROM ma.a_value
    JOIN mb ON c.b_value IS NOT DISTINCT FROM mb.b_value
    CROSS JOIN tot
    """,
    doc="pointwise mutual information per (lang, source) cell (operators/profile.py pmi_cells, the information-theoretic "
    "sibling of q_chi_square_scan): which value pairs co-occur more "
    "or less than independence predicts, with per-cell MI "
    "contributions (n_ab/N * pmi, 9-dp quantized before any sum) "
    "whose total is the columns' mutual information in bits. One "
    "data scan (marginals derive from the joint counts); max_cells "
    "guards the dims-only work",
)
def q_pmi_scan(spark, sf_dir):
    from .operators.profile import pmi_cells

    return pmi_cells(
        T(spark, sf_dir, "documents"), "lang", "source"
    )


@declare(
    "q_word_dispersion",
    """
    WITH toks AS (
      SELECT source, unnest(list_filter(string_split(lower(text), ' '),
                                        t -> len(t) > 0)) AS w
      FROM documents
    ),
    per_sw AS (
      SELECT source, w, CAST(COUNT(*) AS BIGINT) AS c
      FROM toks GROUP BY source, w
    ),
    word_tot AS (
      SELECT w, CAST(SUM(c) AS BIGINT) AS cw FROM per_sw GROUP BY w
    ),
    src_tot AS (
      SELECT source, CAST(SUM(c) AS BIGINT) AS cs
      FROM per_sw GROUP BY source
    ),
    corpus AS (SELECT CAST(SUM(cs) AS BIGINT) AS n FROM src_tot),
    top AS (
      SELECT w, cw FROM word_tot
      ORDER BY cw DESC, w LIMIT 20
    ),
    grid AS (
      SELECT t.w, t.cw, s.source, s.cs,
             COALESCE(p.c, 0) AS c
      FROM top t CROSS JOIN src_tot s
      LEFT JOIN per_sw p ON p.w = t.w AND p.source = s.source
    )
    SELECT w AS word, MIN(cw) AS n_total,
           ROUND(0.5 * SUM(ABS(
             CAST(c AS DOUBLE) / cw
             - CAST(cs AS DOUBLE) / corpus.n
           )), 6) AS dp
    FROM grid CROSS JOIN corpus
    GROUP BY w
    """,
    doc="Gries' DP dispersion of the top-20 corpus words across "
    "sources: DP = 0.5 * sum_s |share of the word's "
    "occurrences in s - s's share of the corpus| — 0 means the word "
    "spreads exactly like the corpus (a true stopword), near 1 means "
    "it clumps in one source (boilerplate / template leakage; "
    "complements q_boilerplate_profile, which needs the doc-level "
    "signal). Every term is a ratio of exact integer counts; the "
    "<=|sources| summands per word are summed after identical IEEE "
    "arithmetic, rounded 6 dp. The grid is top-20 x sources — "
    "dims-only; the data-scale work is the one (source, word) count",
)
def q_word_dispersion(spark, sf_dir):
    from .operators.dedup import word_tokens
    from .operators.topk import topk

    toks = T(spark, sf_dir, "documents").select(
        "source", F.explode(word_tokens("text")).alias("w")
    )
    per_sw = toks.groupBy("source", "w").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    word_tot = per_sw.groupBy("w").agg(F.sum("c").cast("long").alias("cw"))
    src_tot = per_sw.groupBy("source").agg(
        F.sum("c").cast("long").alias("cs")
    )
    corpus = src_tot.agg(F.sum("cs").cast("long").alias("n"))
    top = topk(word_tot, order=[F.col("cw").desc(), F.col("w")], k=20)
    grid = (
        top.crossJoin(src_tot)
        .join(per_sw, on=["w", "source"], how="left")
        .withColumn("c", F.coalesce(F.col("c"), F.lit(0)))
    )
    return (
        attach_scalar(grid, corpus)
        .groupBy("w")
        .agg(
            F.min("cw").cast("long").alias("n_total"),
            F.round(
                0.5
                * F.sum(
                    F.abs(
                        F.col("c").cast("double") / F.col("cw")
                        - F.col("cs").cast("double") / F.col("n")
                    )
                ),
                6,
            ).alias("dp"),
        )
        .withColumnRenamed("w", "word")
    )


@declare(
    "q_psi_drift",
    """
    WITH banded AS (
      SELECT event_type,
             CASE WHEN CAST(ts AS DATE) < DATE '2024-01-16'
                  THEN 'ref' ELSE 'cur' END AS period,
             least(CAST(floor(value / 50) AS BIGINT), 9) AS band
      FROM events
    ),
    counts AS (
      SELECT event_type, period, band,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM banded GROUP BY 1, 2, 3
    ),
    grid AS (
      SELECT DISTINCT et.event_type, b.band, p.period
      FROM (SELECT DISTINCT event_type FROM counts) et
      CROSS JOIN (SELECT unnest(generate_series(0, 9)) AS band) b
      CROSS JOIN (SELECT unnest(['ref', 'cur']) AS period) p
    ),
    filled AS (
      SELECT g.event_type, g.band, g.period,
             COALESCE(c.c, 0) + 0.5 AS cs
      FROM grid g LEFT JOIN counts c
        ON g.event_type = c.event_type AND g.band = c.band
       AND g.period = c.period
    ),
    tot AS (
      SELECT event_type, period, SUM(cs) AS t
      FROM filled GROUP BY 1, 2
    ),
    shares AS (
      SELECT f.event_type, f.band,
             MAX(CASE WHEN f.period = 'ref' THEN f.cs / tot.t END) AS p_ref,
             MAX(CASE WHEN f.period = 'cur' THEN f.cs / tot.t END) AS p_cur
      FROM filled f JOIN tot
        ON f.event_type = tot.event_type AND f.period = tot.period
      GROUP BY 1, 2
    )
    SELECT event_type,
           ROUND(SUM(CAST(ROUND((p_ref - p_cur) * ln(p_ref / p_cur), 9)
                          AS DECIMAL(38,9))), 6) AS psi
    FROM shares GROUP BY event_type
    """,
    doc="population stability index per event_type: the "
    "standard ML-monitoring drift metric between the first half-month "
    "(ref) and the rest (cur) over 10 closed-form value bands "
    "(floor(value/50) clamped; the q_value_heatmap_2d banding "
    "discipline, so bins are engine-exact), Laplace-smoothed +0.5 so "
    "empty bins are defined. PSI = sum (p_ref - p_cur) * "
    "ln(p_ref/p_cur) with per-band terms 9-dp-quantized and summed "
    "as exact decimal (<= 10 ln() summands, the bm25-idf exposure "
    "class). One banded count + dims-only grid fill",
)
def q_psi_drift(spark, sf_dir):
    e = T(spark, sf_dir, "events")
    banded = e.select(
        "event_type",
        F.when(
            F.to_date("ts") < F.lit("2024-01-16").cast("date"), "ref"
        ).otherwise("cur").alias("period"),
        F.least(F.floor(F.col("value") / 50), F.lit(9))
        .cast("long").alias("band"),
    )
    counts = banded.groupBy("event_type", "period", "band").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    ets = counts.select("event_type").distinct()
    bands = spark.range(10).select(F.col("id").cast("long").alias("band"))
    periods = spark.createDataFrame(
        [("ref",), ("cur",)], "period string"
    )
    grid = ets.crossJoin(F.broadcast(bands)).crossJoin(
        F.broadcast(periods)
    )
    filled = grid.join(
        counts, on=["event_type", "band", "period"], how="left"
    ).select(
        "event_type", "band", "period",
        (F.coalesce(F.col("c"), F.lit(0)) + F.lit(0.5)).alias("cs"),
    )
    tot = filled.groupBy("event_type", "period").agg(
        F.sum("cs").alias("t")
    )
    shares = (
        filled.join(tot, on=["event_type", "period"])
        .groupBy("event_type", "band")
        .agg(
            F.max(
                F.when(F.col("period") == "ref", F.col("cs") / F.col("t"))
            ).alias("p_ref"),
            F.max(
                F.when(F.col("period") == "cur", F.col("cs") / F.col("t"))
            ).alias("p_cur"),
        )
    )
    term = (F.col("p_ref") - F.col("p_cur")) * F.log(
        F.col("p_ref") / F.col("p_cur")
    )
    return shares.groupBy("event_type").agg(
        F.round(
            F.sum(F.round(term, 9).cast("decimal(38,9)")), 6
        ).cast("double").alias("psi")
    )


@declare(
    "q_rbo_lexical_dense",
    """
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split(lower(text), ' '), x -> len(x) > 0) AS ws
      FROM documents
    ),
    stats AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
             AVG(len(ws)) AS avgdl
      FROM toks
    ),
    hits AS (
      SELECT doc_id, CAST(len(ws) AS DOUBLE) AS dl,
             unnest(list_filter(ws,
               x -> list_contains(['hash', 'merge', 'scan', 'slow'], x)
             )) AS t
      FROM toks
    ),
    tf AS (
      SELECT doc_id, dl, t, CAST(COUNT(*) AS DOUBLE) AS tf
      FROM hits GROUP BY 1, 2, 3
    ),
    dfq AS (SELECT t, CAST(COUNT(*) AS DOUBLE) AS dft FROM tf GROUP BY t),
    bm AS (
      SELECT doc_id,
             ROUND(SUM(
               ln(1 + (n_docs - dft + 0.5) / (dft + 0.5))
               * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))
             ), 6) AS s
      FROM tf CROSS JOIN stats JOIN dfq USING (t)
      GROUP BY doc_id ORDER BY s DESC, doc_id LIMIT 30
    ),
    qv AS (SELECT embedding AS v FROM embeddings WHERE vec_id = 0),
    cos AS (
      SELECT c.vec_id AS doc_id,
             ROUND(
               list_aggregate(list_transform(list_zip(c.embedding, qv.v),
                 p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), 'sum')
               / (sqrt(list_aggregate(list_transform(c.embedding,
                    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))
                * sqrt(list_aggregate(list_transform(qv.v,
                    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))),
               6) AS s
      FROM embeddings c, qv
      ORDER BY s DESC, doc_id LIMIT 30
    ),
    ra AS (
      SELECT doc_id, row_number() OVER (ORDER BY s DESC, doc_id) AS r
      FROM bm
    ),
    rb AS (
      SELECT doc_id, row_number() OVER (ORDER BY s DESC, doc_id) AS r
      FROM cos
    ),
    m AS (
      SELECT greatest(ra.r, rb.r) AS mx
      FROM ra JOIN rb USING (doc_id)
    ),
    depths AS (SELECT unnest(generate_series(1, 30)) AS d),
    terms AS (
      SELECT d,
             CAST((SELECT COUNT(*) FROM m WHERE mx <= d) AS BIGINT)
               AS overlap,
             CAST(ROUND(0.1 * pow(0.9, d - 1)
                        * (SELECT COUNT(*) FROM m WHERE mx <= d) / d, 9)
                  AS DECIMAL(38,9)) AS term
      FROM depths
    )
    SELECT CAST(30 AS INT) AS depth_k,
           CAST(MAX(CASE WHEN d = 30 THEN overlap END) AS BIGINT)
             AS overlap_k,
           CAST(ROUND(SUM(term), 6) AS DOUBLE) AS rbo
    FROM terms
    """,
    doc="truncated rank-biased overlap (Webber et al. 2010, p=0.9, "
    "prefix form without extrapolation) between the lexical BM25 "
    "top-30 and the dense exact-cosine top-30 (query = embedding 0) "
    "— the retriever-AGREEMENT readout that tells a hybrid-retrieval "
    "deployment whether its two legs are redundant (rbo near 1) or "
    "complementary (near 0); completes the ranking toolkit next to "
    "q_ranking_eval (quality) and q_hybrid_index_rrf (fusion). "
    "Per-depth overlap counts are exact integers (docs whose "
    "max(rank_a, rank_b) <= d); each p^(d-1)-weighted term is "
    "9-dp-quantized and summed as exact decimal. All work is over "
    "two top-k lists; the retrievers carry the corpus-scale plans",
)
def q_rbo_lexical_dense(spark, sf_dir):
    from .operators.retrieval import bm25_topk
    from .operators.similarity import cosine_topk

    d = T(spark, sf_dir, "documents")
    emb = T(spark, sf_dir, "embeddings")
    k = 30
    lex = bm25_topk(d, ["hash", "merge", "scan", "slow"], k=k)
    qv = emb.filter(F.col("vec_id") == 0).select(
        F.lit(0).alias("query_id"), "embedding"
    )
    dense = cosine_topk(emb, qv, k=k)
    wa = Window.orderBy(F.col("bm25").desc(), F.col("doc_id"))
    ra = lex.select("doc_id", F.row_number().over(wa).alias("ra"))
    # cosine_topk rounds cos_sim internally only at output decimals?
    # rank deterministically on the 6-dp-rounded score like the oracle
    wb = Window.orderBy(
        F.round(F.col("cos_sim"), 6).desc(), F.col("vec_id")
    )
    rb = dense.select(
        F.col("vec_id").alias("doc_id"),
        F.row_number().over(wb).alias("rb"),
    )
    m = ra.join(rb, "doc_id").select(
        F.greatest("ra", "rb").alias("mx")
    )
    depths = spark.range(1, k + 1).select(F.col("id").alias("d"))
    counted = depths.join(
        F.broadcast(m), F.col("mx") <= F.col("d"), "left"
    ).groupBy("d").agg(
        F.count("mx").cast("long").alias("overlap")
    )
    term = F.round(
        F.lit(0.1)
        * F.pow(F.lit(0.9), F.col("d") - 1)
        * F.col("overlap")
        / F.col("d"),
        9,
    ).cast("decimal(38,9)")
    return counted.agg(
        F.lit(k).cast("int").alias("depth_k"),
        F.max(F.when(F.col("d") == k, F.col("overlap")))
        .cast("long").alias("overlap_k"),
        F.round(F.sum(term), 6).cast("double").alias("rbo"),
    )


@declare(
    "q_theta_stream_served",
    """
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_rows
    FROM events
    WHERE event_id IS NOT NULL AND user_id IS NOT NULL
      AND event_type IS NOT NULL
    GROUP BY event_type
    """,
    doc="streaming Theta segment store served END-TO-END ("
    "streaming/theta.py, the set-operation "
    "face completing the streaming sketch family beside topk/"
    "durations/KLL): two real micro-batches (even/odd event_id) "
    "through the real foreachBatch sink maintain per-event_type "
    "Theta sketches of the user population at versioned "
    "summaries/batch=<id> dirs with a CAS manifest; serving merges "
    "base ∪ deltas via theta_union_agg. The served per-cell "
    "ACCOUNTING (n_rows) hash-matches the oracle through the real "
    "sink AND a compaction fold (accounting re-asserted identical "
    "post-compact in-fixture); the distinct estimates are "
    "engine-specific, so the fixture hard-fails if they leave the "
    "5%-vs-exact envelope and tests/test_streaming_theta.py pins "
    "them across crash/replay points. The 100 TB path for "
    "continuously-maintained audience overlap: segments stay "
    "current per micro-batch, every overlap answered from sketch "
    "bytes without re-scanning raw events",
)
def q_theta_stream_served(spark, sf_dir):
    import glob
    import shutil

    from .streaming.theta import (
        compact_theta_sketch,
        serve_theta,
        start_theta_sketch_sink,
    )

    root = _fixture_dir("q_theta_stream_served")
    src = os.path.join(root, "drop")

    e = (
        T(spark, sf_dir, "events")
        .filter(
            F.col("event_id").isNotNull()
            & F.col("user_id").isNotNull()
            & F.col("event_type").isNotNull()
        )
        .select("event_type", "user_id", "event_id")
    )
    e.filter(F.col("event_id") % 2 == 0).select(
        "event_type", "user_id"
    ).coalesce(1).write.mode("overwrite").json(src)
    b_tmp = os.path.join(root, "b_tmp")
    e.filter(F.col("event_id") % 2 != 0).select(
        "event_type", "user_id"
    ).coalesce(1).write.mode("overwrite").json(b_tmp)
    b_part = glob.glob(os.path.join(b_tmp, "part-*.json"))
    if len(b_part) != 1:
        raise RuntimeError(f"expected one batch-1 file, got {b_part}")
    b_dst = os.path.join(src, "zz_batch1.json")
    shutil.move(b_part[0], b_dst)
    latest = max(
        os.path.getmtime(p) for p in glob.glob(os.path.join(src, "part-*"))
    )
    os.utime(b_dst, (latest + 10, latest + 10))

    store = os.path.join(root, "store")
    stream = (
        spark.readStream.schema("event_type string, user_id long")
        .option("maxFilesPerTrigger", "1")
        .json(src)
    )
    q = start_theta_sketch_sink(
        stream, store, os.path.join(root, "ckpt"),
        ["event_type"], "user_id", available_now=True,
    )
    if not q.awaitTermination(300):
        q.stop()
        raise RuntimeError("theta stream fixture did not drain in 300s")
    from .streaming.store_common import read_store_manifest

    man = read_store_manifest(spark, store, "theta")
    if man is None or int(man["last_applied_batch"]) != 1:
        raise RuntimeError(
            f"expected exactly 2 applied micro-batches, manifest: {man}"
        )
    served = {
        r.event_type: r for r in serve_theta(spark, store, ["event_type"]).collect()
    }
    # estimate envelope (values are engine-specific, the envelope is
    # not): served distinct_est must sit within 5% of the exact
    # per-segment distinct-user count
    exact = {
        r.event_type: r.n
        for r in e.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    for g, truth in exact.items():
        est = served[g].distinct_est
        if abs(est - truth) > max(2, 0.05 * truth):
            raise RuntimeError(
                f"theta estimate for {g} left the 5% envelope: "
                f"{est} vs exact {truth}"
            )
    # compaction must preserve the exact accounting bit-for-bit
    compact_theta_sketch(spark, store)
    after = serve_theta(spark, store, ["event_type"])
    if {(r.event_type, r.n_rows) for r in after.collect()} != {
        (g, r.n_rows) for g, r in served.items()
    }:
        raise RuntimeError("compaction changed the served accounting")
    return after.select("event_type", "n_rows")


@declare(
    "q_topk_stream_served",
    """
    WITH base AS (
      SELECT event_type, CAST(event_id % 2 AS INT) AS b,
             user_id % 97 AS value
      FROM events
      WHERE event_id IS NOT NULL AND user_id IS NOT NULL
        AND event_type IS NOT NULL
    ),
    counts AS (
      SELECT event_type, b, value, CAST(COUNT(*) AS BIGINT) AS c
      FROM base GROUP BY 1, 2, 3
    ),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type, b
                                   ORDER BY c DESC, value) AS rn
      FROM counts
    ),
    cells AS (
      SELECT event_type, b,
             COALESCE(MAX(CASE WHEN rn = 6 THEN c END), 0) AS dropped_max,
             CAST(SUM(c) AS BIGINT) AS cell_rows
      FROM ranked GROUP BY 1, 2
    ),
    tot AS (
      SELECT event_type,
             CAST(SUM(dropped_max) AS BIGINT) AS total_err,
             CAST(SUM(cell_rows) AS BIGINT) AS n_rows
      FROM cells GROUP BY 1
    ),
    pv AS (
      SELECT k.event_type, k.value,
             CAST(SUM(k.c) AS BIGINT) AS count_lo,
             CAST(SUM(cl.dropped_max) AS BIGINT) AS present_err
      FROM (SELECT * FROM ranked WHERE rn <= 5) k
      JOIN cells cl ON k.event_type = cl.event_type AND k.b = cl.b
      GROUP BY 1, 2
    ),
    merged AS (
      SELECT pv.event_type, pv.value, pv.count_lo,
             CAST(tot.total_err - pv.present_err AS BIGINT) AS err_ub,
             tot.n_rows
      FROM pv JOIN tot USING (event_type)
    ),
    final AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
                                   ORDER BY count_lo DESC, value) AS rn
      FROM merged
    )
    SELECT event_type, value, count_lo, err_ub, n_rows
    FROM final WHERE rn <= 10
    """,
    doc="streaming top-k heavy-hitter store served END-TO-END: unlike the KLL/Theta stores, "
    "the top-k store's served values are EXACT INTEGERS "
    "(functions/sketches.py topk_sketch decomposition), so the FULL "
    "served [count_lo, err_ub, n_rows] table hash-matches an oracle "
    "that replays the same per-(cell, micro-batch) decomposition in "
    "SQL — a strictly stronger external check than the store's "
    "pytest-only coverage had. Two real micro-batches (even/odd "
    "event_id) through the real foreachBatch sink "
    "(streaming/sketch.py, k=5 per batch-cell), served merged top-10 "
    "per event_type; the fixture also runs the compaction fold and "
    "hard-fails unless the served table is BIT-IDENTICAL before and "
    "after (the exact-fold guarantee the decomposition base exists "
    "to provide)",
)
def q_topk_stream_served(spark, sf_dir):
    import glob
    import shutil

    from .streaming.sketch import (
        compact_topk_sketch,
        serve_topk,
        start_topk_sketch_sink,
    )

    root = _fixture_dir("q_topk_stream_served")
    src = os.path.join(root, "drop")

    e = (
        T(spark, sf_dir, "events")
        .filter(
            F.col("event_id").isNotNull()
            & F.col("user_id").isNotNull()
            & F.col("event_type").isNotNull()
        )
        .select(
            "event_type",
            (F.col("user_id") % 97).cast("long").alias("value"),
            "event_id",
        )
    )
    e.filter(F.col("event_id") % 2 == 0).select(
        "event_type", "value"
    ).coalesce(1).write.mode("overwrite").json(src)
    b_tmp = os.path.join(root, "b_tmp")
    e.filter(F.col("event_id") % 2 != 0).select(
        "event_type", "value"
    ).coalesce(1).write.mode("overwrite").json(b_tmp)
    b_part = glob.glob(os.path.join(b_tmp, "part-*.json"))
    if len(b_part) != 1:
        raise RuntimeError(f"expected one batch-1 file, got {b_part}")
    b_dst = os.path.join(src, "zz_batch1.json")
    shutil.move(b_part[0], b_dst)
    latest = max(
        os.path.getmtime(p) for p in glob.glob(os.path.join(src, "part-*"))
    )
    os.utime(b_dst, (latest + 10, latest + 10))

    store = os.path.join(root, "store")
    stream = (
        spark.readStream.schema("event_type string, value long")
        .option("maxFilesPerTrigger", "1")
        .json(src)
    )
    q = start_topk_sketch_sink(
        stream, store, os.path.join(root, "ckpt"),
        ["event_type"], "value", k=5, available_now=True,
    )
    if not q.awaitTermination(300):
        q.stop()
        raise RuntimeError("topk stream fixture did not drain in 300s")
    from .streaming.store_common import read_store_manifest

    man = read_store_manifest(spark, store, "sketch")
    if man is None or int(man["last_applied_batch"]) != 1:
        raise RuntimeError(
            f"expected exactly 2 applied micro-batches, manifest: {man}"
        )
    served = serve_topk(spark, store, ["event_type"], k=10)
    before = {tuple(r) for r in served.collect()}
    # the exact-fold guarantee, asserted in the served surface itself:
    # compaction must not move a single integer
    compact_topk_sketch(spark, store)
    after = serve_topk(spark, store, ["event_type"], k=10)
    if {tuple(r) for r in after.collect()} != before:
        raise RuntimeError("compaction changed the served top-k table")
    return after.select(
        "event_type",
        F.col("value").cast("bigint").alias("value"),
        "count_lo",
        "err_ub",
        "n_rows",
    )


@declare(
    "q_theta_overlap_kway",
    None,
    doc="k-way Theta segment intersections ("
    "functions/sketches.py theta_overlap_kway): for "
    "every event_type triple, the distinct-user estimate of members "
    "in ALL THREE segments, chained theta_intersection over the "
    "dims-only segment grid — the question pairwise Jaccard cannot "
    "answer (A∩B and B∩C large says nothing about A∩B∩C), served "
    "entirely from sketch bytes with no second pass over events. "
    "Rows-only (Theta estimates are engine-specific); "
    "tests/test_sketches.py::test_theta_overlap_kway_vs_exact_3way "
    "pins <=5%-vs-exact against the exact 3-way distinct-user "
    "intersection for every triple at sf0.001, and the streaming "
    "store serves the same grid via serve_theta_overlap(k=3)",
)
def q_theta_overlap_kway(spark, sf_dir):
    from .functions.sketches import theta_overlap_kway, theta_rollup

    e = T(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    segs = theta_rollup(e, ["event_type"], "user_id")
    return theta_overlap_kway(segs, "event_type", k=3)


@declare(
    "q_rfm_segmentation",
    """
    WITH agg AS (
      SELECT user_id,
             MAX(ts) AS last_ts,
             CAST(COUNT(*) AS BIGINT) AS frequency,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS monetary
      FROM events
      WHERE user_id IS NOT NULL AND ts IS NOT NULL AND value IS NOT NULL
      GROUP BY user_id
    ),
    scored AS (
      SELECT user_id, frequency, monetary,
             CAST(NTILE(5) OVER (ORDER BY last_ts DESC, user_id)
                  AS INT) AS r_score,
             CAST(NTILE(5) OVER (ORDER BY frequency DESC, user_id)
                  AS INT) AS f_score,
             CAST(NTILE(5) OVER (ORDER BY monetary DESC, user_id)
                  AS INT) AS m_score
      FROM agg
    )
    SELECT user_id, frequency, monetary, r_score, f_score, m_score,
           CASE WHEN r_score <= 2 AND f_score <= 2 THEN 'champion'
                WHEN f_score <= 2 THEN 'loyal'
                WHEN r_score <= 2 THEN 'recent'
                WHEN r_score >= 4 AND f_score >= 4 THEN 'at_risk'
                ELSE 'regular' END AS segment
    FROM scored
    """,
    doc="RFM customer segmentation ("
    "#7; the classic recency/frequency/monetary quintile scoring): "
    "one grouped aggregate reduces events to a per-user (last_ts, "
    "count, exact-decimal spend) table, then three NTILE(5) windows "
    "score each axis — every ORDER BY carries user_id as the "
    "tiebreak so bucket membership is total-ordered and "
    "engine-identical, and the NULL-rank-universe discipline "
    "(queries.py:73 notes) excludes NULL user/ts/value rows on BOTH "
    "sides. Scale shape: the windows run over the REDUCED per-user "
    "aggregate, never raw events (the q_running_distinct stance); "
    "the global sort is the price of EXACT oracle-checkable "
    "quintiles — a production 100 TB scorer would swap in "
    "approx-percentile thresholds once certified against this exact "
    "form",
)
def q_rfm_segmentation(spark, sf_dir):
    e = T(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull()
        & F.col("ts").isNotNull()
        & F.col("value").isNotNull()
    )
    agg = e.groupBy("user_id").agg(
        F.max("ts").alias("last_ts"),
        F.count("*").cast("bigint").alias("frequency"),
        dsum(F.col("value")).alias("monetary"),
    )
    wr = Window.orderBy(F.col("last_ts").desc(), F.col("user_id"))
    wf = Window.orderBy(F.col("frequency").desc(), F.col("user_id"))
    wm = Window.orderBy(F.col("monetary").desc(), F.col("user_id"))
    scored = agg.select(
        "user_id",
        "frequency",
        "monetary",
        F.ntile(5).over(wr).cast("int").alias("r_score"),
        F.ntile(5).over(wf).cast("int").alias("f_score"),
        F.ntile(5).over(wm).cast("int").alias("m_score"),
    )
    return scored.withColumn(
        "segment",
        F.when((F.col("r_score") <= 2) & (F.col("f_score") <= 2), "champion")
        .when(F.col("f_score") <= 2, "loyal")
        .when(F.col("r_score") <= 2, "recent")
        .when((F.col("r_score") >= 4) & (F.col("f_score") >= 4), "at_risk")
        .otherwise("regular"),
    )


@declare(
    "q_rollup_theta_overlap",
    None,
    doc="continuous-aggregate Theta segment cells ("
    "operators/rollup.py theta_col, completing the sketch-cell "
    "family beside the HLL distinct and KLL quantile cells): the "
    "rollup stores one Theta sketch of the user population per "
    "(event_type, window) cell, and segment_overlap_estimate unions "
    "them per segment ACROSS materialized days AND the live tail, "
    "then serves every pairwise intersection/union/Jaccard from "
    "sketch bytes — the set operation HLL cells cannot do, and the "
    "materialized-view answer to audience overlap at 100 TB (the "
    "streaming store q_theta_stream_served is the push-based twin). "
    "Rows-only (Theta estimates are engine-specific); "
    "tests/test_rollup.py::test_theta_cells_segment_overlap_estimate "
    "pins <=5%-vs-exact incl. a tail-only segment pair, 3-way grids, "
    "and one-shot==incremental value idempotency",
)
def q_rollup_theta_overlap(spark, sf_dir):
    from .operators.rollup import ContinuousRollup

    root = _fixture_dir("q_rollup_theta_overlap")
    roll = ContinuousRollup(
        spark,
        lambda: T(spark, sf_dir, "events").select(
            "event_type", "ts", "value", "user_id"
        ),
        os.path.join(root, "roll"),
        key_cols=["event_type"],
        window="1 hour",
        theta_col="user_id",
    )
    roll.refresh()
    return roll.segment_overlap_estimate("event_type")


@declare(
    "q_pareto_abc",
    """
    WITH spend AS (
      SELECT event_type, user_id,
             SUM(CAST(value AS DECIMAL(18,2))) AS spend
      FROM events
      WHERE user_id IS NOT NULL AND value IS NOT NULL
      GROUP BY event_type, user_id
    ),
    ranked AS (
      SELECT event_type, user_id, spend,
             SUM(spend) OVER (
               PARTITION BY event_type ORDER BY spend DESC, user_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS cum,
             SUM(spend) OVER (PARTITION BY event_type) AS total
      FROM spend
    ),
    classed AS (
      -- class boundaries decided in EXACT decimal arithmetic
      -- (cum*5 <= total*4 is cum/total <= 0.8): a double division
      -- could ulp-flip a boundary user between engines
      SELECT event_type, spend,
             CASE WHEN cum * 5 <= total * 4 THEN 'A'
                  WHEN cum * 20 <= total * 19 THEN 'B'
                  ELSE 'C' END AS abc_class,
             total
      FROM ranked
    )
    SELECT event_type, abc_class,
           CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(SUM(spend) AS DOUBLE) AS class_value,
           ROUND(CAST(SUM(spend) AS DOUBLE) / CAST(MAX(total) AS DOUBLE),
                 6) AS value_share
    FROM classed
    GROUP BY event_type, abc_class
    """,
    doc="Pareto / ABC inventory classification: per "
    "event_type, users ranked by exact-decimal total spend; class A "
    "holds the top spenders up to 80% of cumulative value, B to 95%, "
    "C the tail — the classic concentration rollup behind 'which 20% "
    "of customers drive 80% of revenue'. Class boundaries are decided "
    "in EXACT decimal arithmetic (cum*5 <= total*4), never a double "
    "division whose last ulp could flip a boundary user between "
    "engines; the cumulative window is an exact decimal sum ordered "
    "(spend DESC, user_id) so membership is total-ordered. Scale "
    "shape: grouped reduce to per-user spend, then per-segment "
    "windows over the REDUCED table",
)
def q_pareto_abc(spark, sf_dir):
    e = T(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull() & F.col("value").isNotNull()
    )
    spend = e.groupBy("event_type", "user_id").agg(
        F.sum(dec(F.col("value"))).alias("spend")
    )
    wcum = (
        Window.partitionBy("event_type")
        .orderBy(F.col("spend").desc(), F.col("user_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wtot = Window.partitionBy("event_type")
    ranked = spend.select(
        "event_type",
        "spend",
        F.sum("spend").over(wcum).alias("cum"),
        F.sum("spend").over(wtot).alias("total"),
    )
    classed = ranked.select(
        "event_type",
        "spend",
        "total",
        F.when(F.col("cum") * 5 <= F.col("total") * 4, "A")
        .when(F.col("cum") * 20 <= F.col("total") * 19, "B")
        .otherwise("C")
        .alias("abc_class"),
    )
    return classed.groupBy("event_type", "abc_class").agg(
        F.count("*").cast("bigint").alias("n_users"),
        F.sum("spend").cast("double").alias("class_value"),
        F.round(
            F.sum("spend").cast("double") / F.max("total").cast("double"), 6
        ).alias("value_share"),
    )


@declare(
    "q_gini_concentration",
    """
    WITH spend AS (
      SELECT event_type, user_id,
             SUM(CAST(value AS DECIMAL(18,2))) AS spend
      FROM events
      WHERE user_id IS NOT NULL AND value IS NOT NULL
      GROUP BY event_type, user_id
    ),
    ranked AS (
      SELECT event_type, spend,
             ROW_NUMBER() OVER (
               PARTITION BY event_type ORDER BY spend, user_id
             ) AS i
      FROM spend
    ),
    terms AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n,
             SUM(spend) AS s,
             SUM(i * spend) AS s1
      FROM ranked GROUP BY event_type
    )
    SELECT event_type, n,
           CAST(s AS DOUBLE) AS total_value,
           ROUND(
             2.0 * CAST(s1 AS DOUBLE) / (n * CAST(s AS DOUBLE))
             - (n + 1.0) / n,
             6
           ) AS gini
    FROM terms
    """,
    doc="Gini concentration coefficient: per event_type, "
    "the inequality of per-user spend via the rank formula "
    "G = 2*SUM(i*x_i)/(n*SUM(x)) - (n+1)/n over ascending-sorted "
    "exact-decimal spends — 0 = perfectly even, ->1 = one user "
    "carries everything; the standard revenue/token-count "
    "concentration readout next to q_heavy_hitter_share's top-k "
    "view. Both sums are EXACT decimals (i is a bigint rank, spend "
    "a decimal sum), so the one double division computes from "
    "identical inputs on both engines (ties contribute the same "
    "SUM(i*x_i) under any permutation — equal x collapse); scale "
    "shape: grouped reduce, one per-segment window, 3-term agg",
)
def q_gini_concentration(spark, sf_dir):
    e = T(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull() & F.col("value").isNotNull()
    )
    spend = e.groupBy("event_type", "user_id").agg(
        F.sum(dec(F.col("value"))).alias("spend")
    )
    w = Window.partitionBy("event_type").orderBy("spend", "user_id")
    ranked = spend.select(
        "event_type", "spend", F.row_number().over(w).alias("i")
    )
    terms = ranked.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("spend").alias("s"),
        F.sum(F.col("i") * F.col("spend")).alias("s1"),
    )
    return terms.select(
        "event_type",
        "n",
        F.col("s").cast("double").alias("total_value"),
        F.round(
            F.lit(2.0) * F.col("s1").cast("double")
            / (F.col("n") * F.col("s").cast("double"))
            - (F.col("n") + F.lit(1.0)) / F.col("n"),
            6,
        ).alias("gini"),
    )


@declare(
    "q_mann_whitney",
    """
    WITH pop AS (
      SELECT event_type, value,
             CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END AS in_a
      FROM events
      WHERE user_id IS NOT NULL AND value IS NOT NULL
    ),
    per_value AS (
      SELECT event_type, value,
             CAST(COUNT(*) AS BIGINT) AS cnt,
             CAST(SUM(in_a) AS BIGINT) AS cnt_a
      FROM pop GROUP BY event_type, value
    ),
    spans AS (
      SELECT event_type, cnt, cnt_a,
             COALESCE(SUM(cnt) OVER (
               PARTITION BY event_type ORDER BY value
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ), 0) AS cum_before
      FROM per_value
    ),
    agg AS (
      SELECT event_type,
             CAST(SUM(cnt_a) AS BIGINT) AS n1,
             CAST(SUM(cnt - cnt_a) AS BIGINT) AS n2,
             -- 2*R1: each tie block's members share the average rank
             -- (2*cum_before + cnt + 1)/2, so doubling keeps every
             -- term an exact integer; the accumulation runs in
             -- HUGEINT (DECIMAL(38,0) on the Spark side) because the
             -- doubled sum is Theta(n^2) and wraps int64 past ~2.1e9
             -- rows per group (the markov/binary_auc overflow class)
             SUM(CAST(cnt_a AS HUGEINT) * (2 * cum_before + cnt + 1))
               AS r1_x2
      FROM spans GROUP BY event_type
    ),
    u AS (
      SELECT event_type, n1, n2,
             2 * CAST(n1 AS HUGEINT) * n2 + CAST(n1 AS HUGEINT)
               * (n1 + 1) - r1_x2 AS u1_x2h
      FROM agg
    )
    SELECT event_type, n1, n2,
           CAST(u1_x2h AS BIGINT) AS u1_x2,
           -- U1 + U2 = n1*n2, so u2_x2 = 2*n1*n2 - u1_x2
           CAST(2 * CAST(n1 AS HUGEINT) * n2 - u1_x2h AS BIGINT)
             AS u2_x2,
           ROUND(
             CAST(u1_x2h AS DOUBLE) / (2.0 * n1 * n2),
             6
           ) AS effect_u1
    FROM u
    """,
    doc="Mann-Whitney U rank-sum test statistic: per "
    "event_type, compares the value distributions of two user "
    "populations (even vs odd user_id — the A/B-experiment split "
    "shape) via exact tied-rank sums. Per distinct value the tie "
    "block spans ranks [cum_before+1, cum_before+cnt] and every "
    "member takes the average rank — DOUBLING the rank sum "
    "(cnt_a*(2*cum_before+cnt+1)) keeps all arithmetic exact "
    "integers, accumulated in DECIMAL(38,0)/HUGEINT ("
    "the markov/binary_auc overflow class: the "
    "doubled sums are Theta(n^2), wrapping int64 past ~2.1e9 rows "
    "per group; decimal keeps both engines exact at any group "
    "size, and effect_u1 divides from the decimal form so its "
    "double survives any n — only the raw x2 OUTPUT columns stay "
    "bigint, serve effect_u1 past that envelope); the "
    "common-language effect size U1/(n1*n2) is the one rounded "
    "double. Complements q_spearman_corr/q_mann_kendall in the "
    "nonparametric family. Scale shape: value-keyed count agg (tie "
    "blocks), one per-segment cumulative window over DISTINCT "
    "values, 3-term agg — never a per-row global rank",
)
def q_mann_whitney(spark, sf_dir):
    e = T(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull() & F.col("value").isNotNull()
    )
    pop = e.select(
        "event_type",
        "value",
        F.when(F.col("user_id") % 2 == 0, 1).otherwise(0).alias("in_a"),
    )
    per_value = pop.groupBy("event_type", "value").agg(
        F.count("*").cast("bigint").alias("cnt"),
        F.sum("in_a").cast("bigint").alias("cnt_a"),
    )
    wb = (
        Window.partitionBy("event_type")
        .orderBy("value")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    spans = per_value.select(
        "event_type",
        "cnt",
        "cnt_a",
        F.coalesce(F.sum("cnt").over(wb), F.lit(0)).alias("cum_before"),
    )
    # doubled rank sums accumulate in DECIMAL(38,0) (the markov/binary_auc
    # overflow
    # class): each term and the per-group sum are Theta(n^2), which
    # wraps bigint past ~2.1e9 rows per group while the DuckDB
    # oracle (HUGEINT) raises — decimal keeps both engines exact at
    # any group size; effect_u1 divides from the decimal form, so
    # the one rounded double survives any n. Only the raw x2
    # OUTPUT columns stay bigint-casted (their values themselves
    # outgrow int64 at that scale; serve effect_u1 there).
    agg = spans.groupBy("event_type").agg(
        F.sum("cnt_a").cast("bigint").alias("n1"),
        F.sum(F.col("cnt") - F.col("cnt_a")).cast("bigint").alias("n2"),
        F.sum(
            F.col("cnt_a").cast("decimal(38,0)")
            * (2 * F.col("cum_before") + F.col("cnt") + 1)
        ).cast("decimal(38,0)").alias("r1_x2"),
    )
    u1_x2 = (
        (
            2 * F.col("n1").cast("decimal(38,0)") * F.col("n2")
            + F.col("n1").cast("decimal(38,0)") * (F.col("n1") + 1)
            - F.col("r1_x2")
        )
    ).cast("decimal(38,0)")
    # U1 + U2 = n1*n2, so u2_x2 = 2*n1*n2 - u1_x2 (same identity as
    # the oracle)
    u2_x2 = (
        2 * F.col("n1").cast("decimal(38,0)") * F.col("n2") - u1_x2
    ).cast("decimal(38,0)")
    return agg.select(
        "event_type",
        "n1",
        "n2",
        u1_x2.cast("bigint").alias("u1_x2"),
        u2_x2.cast("bigint").alias("u2_x2"),
        F.round(
            u1_x2.cast("double") / (F.lit(2.0) * F.col("n1") * F.col("n2")),
            6,
        ).alias("effect_u1"),
    )


@declare(
    "q_weighted_median",
    """
    WITH w AS (
      SELECT l_returnflag AS flag, l_extendedprice AS price,
             SUM(CAST(l_quantity AS DECIMAL(18,2))) AS wt
      FROM lineitem
      GROUP BY l_returnflag, l_extendedprice
    ),
    cum AS (
      SELECT flag, price, wt,
             SUM(wt) OVER (
               PARTITION BY flag ORDER BY price
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS cw,
             SUM(wt) OVER (PARTITION BY flag) AS total
      FROM w
    )
    SELECT flag,
           CAST(MIN(CASE WHEN cw * 2 >= total THEN price END)
                AS DOUBLE) AS weighted_median,
           CAST(MAX(total) AS DOUBLE) AS total_weight
    FROM cum
    GROUP BY flag
    """,
    doc="weighted median: per returnflag, the smallest "
    "l_extendedprice whose cumulative l_quantity weight reaches half "
    "the total — the PERCENTILE_DISC-style lower weighted median "
    "(an ACTUAL data value, so it hash-matches; interpolated "
    "variants are engine-arithmetic). The half-total comparison is "
    "cw*2 >= total in EXACT decimal — a double-ratio comparison "
    "could ulp-flip the selected row between engines. The shape "
    "behind 'median price paid per unit sold' and any "
    "frequency-weighted percentile at 100 TB: value-keyed weight "
    "agg, one per-segment cumulative window over DISTINCT values",
)
def q_weighted_median(spark, sf_dir):
    li = T(spark, sf_dir, "lineitem")
    w = li.groupBy(
        F.col("l_returnflag").alias("flag"),
        F.col("l_extendedprice").alias("price"),
    ).agg(F.sum(dec(F.col("l_quantity"))).alias("wt"))
    wcum = (
        Window.partitionBy("flag")
        .orderBy("price")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wtot = Window.partitionBy("flag")
    cum = w.select(
        "flag",
        "price",
        F.sum("wt").over(wcum).alias("cw"),
        F.sum("wt").over(wtot).alias("total"),
    )
    return cum.groupBy("flag").agg(
        F.min(
            F.when(F.col("cw") * 2 >= F.col("total"), F.col("price"))
        ).cast("double").alias("weighted_median"),
        F.max("total").cast("double").alias("total_weight"),
    )


@declare(
    "q_markov_stationary",
    """
    WITH seq AS (
      SELECT user_id, event_type, ts, event_id
      FROM events
      WHERE user_id IS NOT NULL AND event_type IS NOT NULL
        AND ts IS NOT NULL AND event_id IS NOT NULL
    ),
    pairs AS (
      SELECT event_type AS s,
             LEAD(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
             ) AS d
      FROM seq
    ),
    e AS (
      SELECT s, d, CAST(COUNT(*) AS BIGINT) AS w
      FROM pairs WHERE d IS NOT NULL GROUP BY s, d
    ),
    states AS (
      SELECT DISTINCT s FROM (
        SELECT s FROM e UNION ALL SELECT d AS s FROM e
      )
    ),
    outw AS (SELECT s, CAST(SUM(w) AS BIGINT) AS o FROM e GROUP BY s),
    p0 AS (SELECT s, CAST(1000000 AS BIGINT) AS p FROM states),
    c1 AS (
      SELECT e.d AS s, CAST(SUM(CAST(p0.p AS HUGEINT) * e.w // outw.o) AS BIGINT) AS p
      FROM e JOIN p0 ON e.s = p0.s JOIN outw ON e.s = outw.s
      GROUP BY e.d
    ),
    p1 AS (
      SELECT st.s, CAST(COALESCE(c1.p, 0) AS BIGINT) AS p
      FROM states st LEFT JOIN c1 ON st.s = c1.s
    ),
    c2 AS (
      SELECT e.d AS s, CAST(SUM(CAST(p1.p AS HUGEINT) * e.w // outw.o) AS BIGINT) AS p
      FROM e JOIN p1 ON e.s = p1.s JOIN outw ON e.s = outw.s
      GROUP BY e.d
    ),
    p2 AS (
      SELECT st.s, CAST(COALESCE(c2.p, 0) AS BIGINT) AS p
      FROM states st LEFT JOIN c2 ON st.s = c2.s
    ),
    c3 AS (
      SELECT e.d AS s, CAST(SUM(CAST(p2.p AS HUGEINT) * e.w // outw.o) AS BIGINT) AS p
      FROM e JOIN p2 ON e.s = p2.s JOIN outw ON e.s = outw.s
      GROUP BY e.d
    ),
    p3 AS (
      SELECT st.s, CAST(COALESCE(c3.p, 0) AS BIGINT) AS p
      FROM states st LEFT JOIN c3 ON st.s = c3.s
    ),
    tot AS (SELECT CAST(SUM(p) AS BIGINT) AS t FROM p3)
    SELECT p3.s AS state,
           CAST(CAST(p3.p AS HUGEINT) * 1000000 // tot.t AS BIGINT) AS mass_micro
    FROM p3, tot
    """,
    doc="Markov-chain stationary distribution of user behavior (operators/graph.py markov_stationary): consecutive-event "
    "transition counts per user (the q_event_transitions shape) feed "
    "an integer-exact power iteration — each step "
    "p'(j) = SUM_i p(i)*w_ij div out_i with PER-TERM floor division, "
    "order-independent and therefore bit-identical on any engine or "
    "partitioning (the q_pagerank micro-unit discipline; this IS "
    "weighted PageRank at damping 1.0); the per-term product runs in "
    "DECIMAL(38,0) on Spark / HUGEINT in the oracle so hub-mass x "
    "unbounded-count cannot wrap 2^63 — answering 'where "
    "does user "
    "attention settle at equilibrium', the summary a raw transition "
    "matrix cannot give. 3 iterations unrolled identically in the "
    "DuckDB oracle; final masses floor-normalized to sum to 1e6. "
    "Scale: one co-keyed join + one dst-keyed integer agg per "
    "iteration, all JVM-side",
)
def q_markov_stationary(spark, sf_dir):
    from .operators.graph import markov_stationary

    e = T(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull()
        & F.col("event_type").isNotNull()
        & F.col("ts").isNotNull()
        & F.col("event_id").isNotNull()
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = e.select(
        F.col("event_type").alias("s"),
        F.lead("event_type").over(w).alias("d"),
    ).filter(F.col("d").isNotNull())
    edges = pairs.groupBy("s", "d").agg(
        F.count(F.lit(1)).cast("bigint").alias("w")
    )
    return markov_stationary(
        edges, src="s", dst="d", weight="w", iterations=3
    ).select(F.col("state"), "mass_micro")


@declare(
    "q_trimmed_mean",
    """
    WITH ranked AS (
      SELECT event_type, value,
             ROW_NUMBER() OVER (
               PARTITION BY event_type ORDER BY value, event_id
             ) AS rn,
             COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM events
      WHERE value IS NOT NULL AND event_id IS NOT NULL
    )
    SELECT event_type,
           CAST(MAX(n) AS BIGINT) AS n,
           CAST(MAX(n) - 2 * (MAX(n) // 10) AS BIGINT) AS n_kept,
           ROUND(
             CAST(SUM(CASE WHEN rn > n // 10 AND rn <= n - n // 10
                           THEN CAST(value AS DECIMAL(18,2)) END)
                  AS DOUBLE)
             / (MAX(n) - 2 * (MAX(n) // 10)),
             6
           ) AS trimmed_mean,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
                 / MAX(n), 6) AS raw_mean
    FROM ranked
    GROUP BY event_type
    """,
    doc="10% trimmed mean: per event_type, drop exactly "
    "floor(n/10) rows from EACH tail by total-ordered rank (value, "
    "event_id — engine-identical membership, the same discipline as "
    "q_quantile_buckets) and average the exact-decimal middle — the "
    "robust-location sibling of winsorize (which CLIPS the tails to "
    "the fence values; trimming DROPS them). Trim membership is an "
    "integer rank comparison (rn > n div 10), never a percentile "
    "float; reported next to the raw mean so the tail influence is "
    "the visible delta. Scale shape: one per-segment rank window + "
    "one agg",
)
def q_trimmed_mean(spark, sf_dir):
    e = T(spark, sf_dir, "events").filter(
        F.col("value").isNotNull() & F.col("event_id").isNotNull()
    )
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    wn = Window.partitionBy("event_type")
    ranked = e.select(
        "event_type",
        "value",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(wn).alias("n"),
    )
    k = F.expr("n div 10")
    kept = F.when(
        (F.col("rn") > k) & (F.col("rn") <= F.col("n") - k),
        dec(F.col("value")),
    )
    return ranked.groupBy("event_type").agg(
        F.max("n").cast("bigint").alias("n"),
        (F.max("n") - 2 * F.expr("max(n) div 10")).cast("bigint")
        .alias("n_kept"),
        F.round(
            F.sum(kept).cast("double")
            / (F.max("n") - 2 * F.expr("max(n) div 10")),
            6,
        ).alias("trimmed_mean"),
        F.round(dsum(F.col("value")) / F.max("n"), 6).alias("raw_mean"),
    )


@declare(
    "q_lateral_topk",
    """
    SELECT n.n_name, c.c_name, c.c_acctbal
    FROM nation n, LATERAL (
      SELECT c_name, c_acctbal FROM customer
      WHERE c_nationkey = n.n_nationkey
      ORDER BY c_acctbal DESC, c_name LIMIT 2
    ) c
    """,
    doc="correlated LATERAL subquery with per-row ORDER BY + LIMIT "
    ": for each nation the top-2 customers by balance via "
    "a LATERAL derived table — the SQL-standard spelling of "
    "per-group top-k that both engines now parse NATIVELY (Spark 4 "
    "decorrelates the lateral into a ranked window under the hood — "
    "same physical plan family as q_window_topk_per_group, arrived "
    "at from the correlated form); exercises Spark's "
    "DecorrelateInnerQuery path with a LIMIT under correlation, "
    "which older Sparks rejected outright. Ties broken by name so "
    "the kept set is total-ordered; raw stored values, no "
    "arithmetic — exact hash match",
)
def q_lateral_topk(spark, sf_dir):
    T(spark, sf_dir, "nation").createOrReplaceTempView("_lat_nation")
    T(spark, sf_dir, "customer").createOrReplaceTempView("_lat_customer")
    return spark.sql(
        """
        SELECT n.n_name, c.c_name, c.c_acctbal
        FROM _lat_nation n, LATERAL (
          SELECT c_name, c_acctbal FROM _lat_customer
          WHERE c_nationkey = n.n_nationkey
          ORDER BY c_acctbal DESC, c_name LIMIT 2
        ) c
        """
    )


@declare(
    "q_quality_classifier",
    """
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split(lower(text), ' '),
                         t -> len(t) > 0) AS ws
      FROM documents
    ),
    uni AS (
      SELECT doc_id, unnest(ws) AS feat FROM toks
    ),
    bg AS (
      SELECT doc_id, array_to_string(ws[i:i+1], ' ') AS feat
      FROM toks, (SELECT unnest(generate_series(1, 4000)) AS i) idx
      WHERE len(ws) >= 2 AND i <= len(ws) - 1
    ),
    f AS (
      SELECT doc_id,
             CAST(('0x' || substr(md5(feat), 1, 8)) AS BIGINT) % 1024 AS b,
             COUNT(*) AS c
      FROM (SELECT * FROM uni UNION ALL SELECT * FROM bg)
      GROUP BY 1, 2
    ),
    wt AS (
      SELECT b,
             CAST(('0x' || substr(md5('qw' || CAST(b AS VARCHAR)), 1, 8))
                  AS BIGINT) % 2000001 - 1000000 AS w
      FROM (SELECT unnest(generate_series(0, 1023)) AS b)
    ),
    dots AS (
      SELECT f.doc_id,
             CAST(SUM(c) AS BIGINT) AS n_feats,
             CAST(SUM(c * w) AS BIGINT) AS dot
      FROM f JOIN wt USING (b) GROUP BY f.doc_id
    ),
    scored AS (
      SELECT d.doc_id,
             CAST(COALESCE(n_feats, 0) AS BIGINT) AS n_feats,
             CASE WHEN COALESCE(n_feats, 0) > 0 THEN
               ROUND(1.0 / (1.0 + exp(-(CAST(dot AS DOUBLE)
                 / CAST(n_feats * 1000000 AS DOUBLE)))), 9)
             ELSE 0.5 END AS quality_score
      FROM documents d LEFT JOIN dots ON d.doc_id = dots.doc_id
    )
    SELECT doc_id, n_feats, quality_score,
           quality_score >= 0.5 AS keep
    FROM scored
    """,
    doc="fastText-style pretrained linear quality gate ("
    "operators/quality.py "
    "quality_classifier_score): score = sigmoid(mean_f w[f]) over "
    "each document's md5-hashed word unigram+bigram feature multiset "
    "against a broadcast 1024-bucket integer-micro weight table (the "
    "dsir_weights log-ratio-table shape with pretrained weights — "
    "here the deterministic md5-derived stand-in both engines "
    "derive identically, hashed_linear_weights), keep = score >= "
    "0.5 on the QUANTIZED score — the model-based quality face "
    "CCNet/LLaMA pipelines run beside the heuristic family "
    "(surprisal, repetition, entropy, langid). Exactness: the dot "
    "product and feature count are order-independent bigints, the "
    "logit is ONE double division of exact integers, the sigmoid is "
    "the single transcendental quantized at 9dp (the established "
    "single-call exp posture), and the keep boundary compares the "
    "quantized score — no engine split possible. Scale: explode -> "
    "map-side-combined (doc,bucket) counts -> broadcast weight join "
    "-> one doc-keyed integer aggregate; nothing wider than 1024 "
    "rows travels",
)
def q_quality_classifier(spark, sf_dir):
    from .operators.quality import (
        hashed_linear_weights,
        quality_classifier_score,
    )

    d = T(spark, sf_dir, "documents").select("doc_id", "text")
    w = hashed_linear_weights(spark, n_buckets=1024, salt="qw")
    return quality_classifier_score(
        d, id_col="doc_id", text_col="text", weights=w,
        n_buckets=1024, threshold=0.5,
    )


@declare(
    "q_kaplan_meier",
    """
    WITH ev AS (
      SELECT user_id, CAST(ts AS DATE) AS d
      FROM events
      WHERE user_id IS NOT NULL AND ts IS NOT NULL
        AND event_type = 'purchase'
    ),
    u AS (
      SELECT user_id, MIN(d) AS first_d, MAX(d) AS last_d
      FROM ev GROUP BY user_id
    ),
    obs AS (SELECT MAX(d) AS obs_end FROM ev),
    lab AS (
      SELECT strftime(CAST(date_trunc('week', first_d) AS DATE),
                      '%Y-%m-%d') AS cohort,
             date_diff('day', first_d, last_d) AS t,
             date_diff('day', first_d, obs_end) AS horizon
      FROM u, obs
    ),
    steps AS (
      SELECT cohort, CAST(t AS BIGINT) AS t,
             CAST(SUM(CASE WHEN t < horizon THEN 1 ELSE 0 END)
                  AS BIGINT) AS churned,
             CAST(SUM(CASE WHEN t >= horizon THEN 1 ELSE 0 END)
                  AS BIGINT) AS censored
      FROM lab GROUP BY cohort, t
    ),
    risk AS (
      SELECT cohort, t, churned, censored,
             CAST(SUM(churned + censored) OVER (PARTITION BY cohort)
                  - COALESCE(SUM(churned + censored) OVER (
                      PARTITION BY cohort ORDER BY t
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                    ), 0) AS BIGINT) AS n_at_risk
      FROM steps
    ),
    logs AS (
      SELECT cohort, t, churned, censored, n_at_risk,
             CAST(CASE WHEN churned > 0 AND churned < n_at_risk THEN
               ROUND(ln(CAST(n_at_risk - churned AS DOUBLE)
                        / CAST(n_at_risk AS DOUBLE)), 12)
             ELSE 0.0 END AS DECIMAL(24,12)) AS logstep,
             MAX(CASE WHEN churned = n_at_risk THEN 1 ELSE 0 END)
               OVER (PARTITION BY cohort ORDER BY t
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS extinct
      FROM risk
    )
    SELECT cohort, t, n_at_risk, churned, censored,
           CASE WHEN extinct = 1 THEN 0.0
                ELSE ROUND(exp(CAST(SUM(logstep) OVER (
                  PARTITION BY cohort ORDER BY t
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                ) AS DOUBLE)), 9)
           END AS survival
    FROM logs
    """,
    doc="Kaplan-Meier survival / churn curve per weekly cohort (operators/funnel.py "
    "kaplan_meier): the right-censoring-aware answer to 'what "
    "fraction of the cohort survives past day t' that a naive "
    "retention ratio undercounts — a user's lifetime runs first to "
    "last event day, users whose observable horizon (to the global "
    "max event day) equals their duration are CENSORED, everyone "
    "else churned; the tracked activity is the PURCHASE stream (the 'when do buyers stop buying' curve — full-stream lifetimes are degenerate on always-on telemetry); S(t) = prod (n_s - d_s)/n_s over churn steps with "
    "exact bigint risk sets, each step's single ln() quantized at "
    "12dp into exact decimal and the cumulative product taken as "
    "exp of the exact-decimal log sum, rounded at 9dp (the zipf/"
    "surprisal ln discipline) — extinct cohorts pin survival 0. "
    "DuckDB replays the identical arithmetic. Scale: one user-keyed "
    "MIN/MAX shuffle + a 1-row attach-scalar broadcast; all windows "
    "run over the reduced cohorts x durations table (the RFM "
    "reduced-aggregate discipline)",
)
def q_kaplan_meier(spark, sf_dir):
    from .operators.funnel import kaplan_meier

    e = T(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull()
        & F.col("ts").isNotNull()
        & (F.col("event_type") == "purchase")
    )
    return kaplan_meier(
        e, user_col="user_id", ts_col="ts",
        granularity="week", unit_days=1,
    )


@declare(
    "q_quality_classifier_trained",
    """
    WITH toks AS (
      SELECT doc_id, source,
             list_filter(string_split(lower(text), ' '),
                         t -> len(t) > 0) AS ws
      FROM documents
    ),
    feats AS (
      SELECT doc_id, source, feat FROM (
        SELECT doc_id, source, unnest(ws) AS feat FROM toks
        UNION ALL
        SELECT doc_id, source, array_to_string(ws[i:i+1], ' ') AS feat
        FROM toks, (SELECT unnest(generate_series(1, 4000)) AS i) idx
        WHERE len(ws) >= 2 AND i <= len(ws) - 1
      )
    ),
    fb AS (
      SELECT doc_id, source,
             CAST(('0x' || substr(md5(feat), 1, 8)) AS BIGINT) % 1024 AS b
      FROM feats
    ),
    cnt AS (
      SELECT b,
             CAST(SUM(CASE WHEN source = 'src0' THEN 1 ELSE 0 END)
                  AS BIGINT) AS cp,
             CAST(SUM(CASE WHEN source <> 'src0' THEN 1 ELSE 0 END)
                  AS BIGINT) AS cn
      FROM fb GROUP BY b
    ),
    spine AS (SELECT unnest(generate_series(0, 1023)) AS b),
    filled AS (
      SELECT spine.b, COALESCE(cp, 0) AS cp, COALESCE(cn, 0) AS cn
      FROM spine LEFT JOIN cnt ON spine.b = cnt.b
    ),
    tot AS (SELECT SUM(cp) AS np, SUM(cn) AS nn FROM filled),
    wt AS (
      SELECT b,
             CAST(ROUND((ln((cp + 1.0) / (np + 1.0 * 1024))
                       - ln((cn + 1.0) / (nn + 1.0 * 1024)))
                  * 1000000, 0) AS BIGINT) AS w
      FROM filled, tot
    ),
    dc AS (
      SELECT doc_id, b, COUNT(*) AS c FROM fb GROUP BY doc_id, b
    ),
    dots AS (
      SELECT dc.doc_id, CAST(SUM(c) AS BIGINT) AS n_feats,
             CAST(SUM(c * w) AS BIGINT) AS dot
      FROM dc JOIN wt USING (b) GROUP BY dc.doc_id
    ),
    scored AS (
      SELECT d.doc_id,
             CAST(COALESCE(n_feats, 0) AS BIGINT) AS n_feats,
             CASE WHEN COALESCE(n_feats, 0) > 0 THEN
               ROUND(1.0 / (1.0 + exp(-(CAST(dot AS DOUBLE)
                 / CAST(n_feats * 1000000 AS DOUBLE)))), 9)
             ELSE 0.5 END AS quality_score
      FROM documents d LEFT JOIN dots ON d.doc_id = dots.doc_id
    )
    SELECT doc_id, n_feats, quality_score,
           quality_score >= 0.5 AS keep
    FROM scored
    """,
    doc="TRAINED quality gate, end-to-end (operators/"
    "quality.py train_quality_weights + quality_classifier_score): "
    "the CCNet flow in one composed plan — Naive-Bayes log-odds "
    "weights trained over the labeled split (positive = source="
    "'src0', the wiki-vs-crawl stand-in), add-1 smoothed per bucket "
    "over the FULL 1024-bucket spine (absent buckets carry the prior "
    "log-odds), quantized ONCE to integer micro units "
    "(round(logratio*1e6) — one shared-double multiply + half-up "
    "round, exact below 2^53), then the same md5 unigram+bigram "
    "featurization scores every document through the broadcast model "
    "and gates at the 9dp-quantized sigmoid 0.5. Training docs score "
    "high, out-of-distribution docs low — the trained complement of "
    "q_quality_classifier's stand-in weights. Scale: two explode "
    "passes with map-side combine (train counts, doc counts), an "
    "O(1024) model aggregate that BROADCASTS, one doc-keyed integer "
    "aggregate — the model never outgrows its bucket count no matter "
    "the corpus",
)
def q_quality_classifier_trained(spark, sf_dir):
    from .operators.quality import (
        quality_classifier_score,
        train_quality_weights,
    )

    d = T(spark, sf_dir, "documents").select("doc_id", "source", "text")
    w = train_quality_weights(
        d.withColumn("_pos", F.col("source") == "src0"),
        text_col="text", label_col="_pos", n_buckets=1024, alpha=1.0,
    )
    return quality_classifier_score(
        d, id_col="doc_id", text_col="text", weights=w,
        n_buckets=1024, threshold=0.5,
    )


@declare(
    "q_classifier_auc",
    """
    WITH toks AS (
      SELECT doc_id, source,
             list_filter(string_split(lower(text), ' '),
                         t -> len(t) > 0) AS ws
      FROM documents
    ),
    feats AS (
      SELECT doc_id, source, feat FROM (
        SELECT doc_id, source, unnest(ws) AS feat FROM toks
        UNION ALL
        SELECT doc_id, source, array_to_string(ws[i:i+1], ' ') AS feat
        FROM toks, (SELECT unnest(generate_series(1, 4000)) AS i) idx
        WHERE len(ws) >= 2 AND i <= len(ws) - 1
      )
    ),
    fb AS (
      SELECT doc_id, source,
             CAST(('0x' || substr(md5(feat), 1, 8)) AS BIGINT) % 1024 AS b
      FROM feats
    ),
    cnt AS (
      SELECT b,
             CAST(SUM(CASE WHEN source = 'src0' THEN 1 ELSE 0 END)
                  AS BIGINT) AS cp,
             CAST(SUM(CASE WHEN source <> 'src0' THEN 1 ELSE 0 END)
                  AS BIGINT) AS cn
      FROM fb GROUP BY b
    ),
    spine AS (SELECT unnest(generate_series(0, 1023)) AS b),
    filled AS (
      SELECT spine.b, COALESCE(cp, 0) AS cp, COALESCE(cn, 0) AS cn
      FROM spine LEFT JOIN cnt ON spine.b = cnt.b
    ),
    tot AS (SELECT SUM(cp) AS np, SUM(cn) AS nn FROM filled),
    wt AS (
      SELECT b,
             CAST(ROUND((ln((cp + 1.0) / (np + 1.0 * 1024))
                       - ln((cn + 1.0) / (nn + 1.0 * 1024)))
                  * 1000000, 0) AS BIGINT) AS w
      FROM filled, tot
    ),
    dc AS (
      SELECT doc_id, b, COUNT(*) AS c FROM fb GROUP BY doc_id, b
    ),
    dots AS (
      SELECT dc.doc_id, CAST(SUM(c) AS BIGINT) AS n_feats,
             CAST(SUM(c * w) AS BIGINT) AS dot
      FROM dc JOIN wt USING (b) GROUP BY dc.doc_id
    ),
    scored AS (
      SELECT d.doc_id, d.lang, (d.source = 'src0') AS pos,
             CASE WHEN COALESCE(n_feats, 0) > 0 THEN
               ROUND(1.0 / (1.0 + exp(-(CAST(dot AS DOUBLE)
                 / CAST(n_feats * 1000000 AS DOUBLE)))), 9)
             ELSE 0.5 END AS sc
      FROM documents d LEFT JOIN dots ON d.doc_id = dots.doc_id
    ),
    per_score AS (
      SELECT lang, sc,
             CAST(COUNT(*) AS BIGINT) AS cnt,
             CAST(SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT)
               AS cnt_pos
      FROM scored GROUP BY lang, sc
    ),
    spans AS (
      SELECT lang, cnt, cnt_pos,
             COALESCE(SUM(cnt) OVER (
               PARTITION BY lang ORDER BY sc
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ), 0) AS cum_before
      FROM per_score
    ),
    agg2 AS (
      SELECT lang,
             CAST(SUM(cnt_pos) AS BIGINT) AS n_pos,
             CAST(SUM(cnt - cnt_pos) AS BIGINT) AS n_neg,
             SUM(CAST(cnt_pos AS HUGEINT)
                 * (2 * cum_before + cnt + 1)) AS r1_x2
      FROM spans GROUP BY lang
    )
    SELECT lang, n_pos, n_neg,
           CASE WHEN n_pos > 0 AND n_neg > 0 THEN
             ROUND(CAST(r1_x2 - CAST(n_pos AS HUGEINT) * (n_pos + 1)
                        AS DOUBLE)
                   / (2.0 * n_pos * n_neg), 9)
           END AS auc
    FROM agg2
    """,
    doc="per-language ROC-AUC of the TRAINED quality classifier "
    "(operators/quality.py binary_auc) — the evaluation "
    "face closing the model-based-curation loop (train_quality_"
    "weights -> quality_classifier_score -> evaluate), the "
    "classifier-side sibling of retrieval's NDCG/MRR. AUC via the "
    "rank identity (R1 - n1(n1+1)/2)/(n1*n0) with average-rank tie "
    "blocks — the q_mann_whitney doubled-integer discipline, per-term "
    "products in DECIMAL(38,0)/HUGEINT (the markov overflow class "
    "pre-empted) — so the only float is the final rounded division. "
    "Scores quantized at 9dp bound the distinct-score tie-block "
    "table far below row count; grouping by lang keeps the "
    "cumulative window partitioned (the ungrouped form would be a "
    "global sort — documented in the operator). Training docs rank "
    "above the pool, so per-lang AUC >> 0.5 — the signal a curation "
    "pipeline monitors for classifier drift",
)
def q_classifier_auc(spark, sf_dir):
    from .operators.quality import (
        binary_auc,
        quality_classifier_score,
        train_quality_weights,
    )

    d = T(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "text"
    )
    w = train_quality_weights(
        d.withColumn("_pos", F.col("source") == "src0"),
        text_col="text", label_col="_pos", n_buckets=1024, alpha=1.0,
    )
    scored = quality_classifier_score(
        d, id_col="doc_id", text_col="text", weights=w, n_buckets=1024,
    ).select("doc_id", "quality_score")
    lab = d.select(
        "doc_id", "lang", (F.col("source") == "src0").alias("pos")
    ).join(scored, "doc_id")
    return binary_auc(
        lab, score_col="quality_score", label_col="pos", group_col="lang"
    )


@declare(
    "q_logrank_cohorts",
    """
    WITH ev AS (
      SELECT user_id, CAST(ts AS DATE) AS d
      FROM events
      WHERE user_id IS NOT NULL AND ts IS NOT NULL
        AND event_type = 'purchase'
    ),
    u AS (
      SELECT user_id, MIN(d) AS first_d, MAX(d) AS last_d
      FROM ev GROUP BY user_id
    ),
    obs AS (SELECT MAX(d) AS obs_end FROM ev),
    lab AS (
      SELECT strftime(CAST(date_trunc('week', first_d) AS DATE),
                      '%Y-%m-%d') AS g,
             CAST(date_diff('day', first_d, last_d) AS BIGINT) AS t,
             CASE WHEN date_diff('day', first_d, obs_end)
                       > date_diff('day', first_d, last_d)
                  THEN 1 ELSE 0 END AS churned
      FROM u, obs
    ),
    steps AS (
      SELECT g, t, CAST(SUM(churned) AS BIGINT) AS d,
             CAST(COUNT(*) AS BIGINT) AS x
      FROM lab GROUP BY g, t
    ),
    ct AS (
      SELECT t, CAST(SUM(d) AS BIGINT) AS d_all
      FROM steps GROUP BY t HAVING SUM(d) > 0
    ),
    grid AS (
      SELECT gs.g, ct.t FROM (SELECT DISTINCT g FROM steps) gs, ct
    ),
    ru AS (
      SELECT g, t, CAST(SUM(d) AS BIGINT) AS d,
             CAST(SUM(x) AS BIGINT) AS x, MAX(is_grid) AS is_grid
      FROM (
        SELECT g, t, d, x, 0 AS is_grid FROM steps
        UNION ALL
        SELECT g, t, CAST(0 AS BIGINT) AS d, CAST(0 AS BIGINT) AS x,
               1 AS is_grid
        FROM grid
      ) GROUP BY g, t
    ),
    risk AS (
      SELECT g, t, d, is_grid,
             CAST(SUM(x) OVER (PARTITION BY g)
                  - COALESCE(SUM(x) OVER (
                      PARTITION BY g ORDER BY t
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                    ), 0) AS BIGINT) AS n1,
             CAST(SUM(x) OVER (PARTITION BY g) AS BIGINT) AS n_g
      FROM ru
    ),
    pooled AS (
      SELECT r.g, r.t, r.d, r.n1, r.n_g, ct.d_all,
             CAST(SUM(r.n1) OVER (PARTITION BY r.t) AS BIGINT) AS n_all
      FROM risk r JOIN ct ON r.t = ct.t
      WHERE r.is_grid = 1
    ),
    terms AS (
      SELECT g, n_g, d,
             CAST(ROUND(
               CAST(CAST(d_all AS HUGEINT) * n1 AS DOUBLE)
               / CAST(n_all AS DOUBLE), 12) AS DECIMAL(38,12)) AS e_term,
             CAST(CASE WHEN n_all > 1 THEN ROUND(
               CAST(CAST(d_all AS HUGEINT) * n1 * (n_all - n1)
                    * (n_all - d_all) AS DOUBLE)
               / CAST(CAST(n_all AS HUGEINT) * n_all * (n_all - 1)
                      AS DOUBLE), 12)
             ELSE 0.0 END AS DECIMAL(38,12)) AS v_term
      FROM pooled
    ),
    agg AS (
      SELECT g, CAST(MAX(n_g) AS BIGINT) AS n_subjects,
             CAST(SUM(d) AS BIGINT) AS observed,
             SUM(e_term) AS e, SUM(v_term) AS v
      FROM terms GROUP BY g
    ),
    final AS (
      SELECT g, n_subjects, observed, e, v,
             CASE WHEN v > 0 THEN ROUND(
               CAST(CAST(observed AS DECIMAL(38,12)) - e AS DOUBLE)
               * CAST(CAST(observed AS DECIMAL(38,12)) - e AS DOUBLE)
               / CAST(v AS DOUBLE), 6) END AS chi2
      FROM agg
    )
    SELECT g AS cohort, n_subjects, observed,
           CAST(e AS DOUBLE) AS expected,
           CAST(v AS DOUBLE) AS variance,
           chi2,
           CASE WHEN v <= 0 THEN 'undefined'
                WHEN chi2 >= 6.634897 THEN 'p<0.01'
                WHEN chi2 >= 3.841459 THEN 'p<0.05'
                ELSE 'ns' END AS p_class
    FROM final
    """,
    doc="log-rank (Mantel-Cox) cohort-survival test ("
    "operators/funnel.py logrank / "
    "logrank_cohorts): the question q_kaplan_meier's curve alone "
    "cannot answer — does THIS acquisition cohort's churn DIFFER "
    "from everyone else's, or is the gap chance? Same purchase-"
    "stream lifetimes as the KM curve (first to last purchase day, "
    "censored at the observation boundary); per cohort a df=1 "
    "group-vs-rest contrast: observed churns vs the hypergeometric "
    "expectation/variance at every pooled churn time, chi2 = "
    "(O-E)^2/V, significance classed on the ROUNDED statistic "
    "against the df=1 critical values (3.841459/6.634897). "
    "Exactness: all counts exact bigints; per-term numerator/"
    "denominator products in DECIMAL(38,0)/HUGEINT (n^4 — past the "
    "int64 envelope); each term ONE double division quantized at "
    "12dp into exact decimal; sums exact decimal; the statistic one "
    "double division rounded at 6dp (the q_mann_whitney/PSI "
    "discipline — operator validated against the published "
    "Freireich 6-MP trial worked example, chi2=16.79). Scale: one "
    "user-keyed MIN/MAX shuffle, then everything runs over the "
    "cohorts x churn-times grid (dimension-sized), built by a "
    "BROADCAST HASH equi-join on a derived constant key — no "
    "nested-loop shape; windows partition by cohort or by time, "
    "never unpartitioned",
)
def q_logrank_cohorts(spark, sf_dir):
    from .operators.funnel import logrank_cohorts

    e = T(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull()
        & F.col("ts").isNotNull()
        & (F.col("event_type") == "purchase")
    )
    return logrank_cohorts(
        e, user_col="user_id", ts_col="ts",
        granularity="week", unit_days=1,
    )


@declare(
    "q_quality_classifier_by_lang",
    """
    WITH toks AS (
      SELECT doc_id, lang, source,
             list_filter(string_split(lower(text), ' '),
                         t -> len(t) > 0) AS ws
      FROM documents
    ),
    feats AS (
      SELECT doc_id, lang, source, feat FROM (
        SELECT doc_id, lang, source, unnest(ws) AS feat FROM toks
        UNION ALL
        SELECT doc_id, lang, source,
               array_to_string(ws[i:i+1], ' ') AS feat
        FROM toks, (SELECT unnest(generate_series(1, 4000)) AS i) idx
        WHERE len(ws) >= 2 AND i <= len(ws) - 1
      )
    ),
    fb AS (
      SELECT doc_id, lang, source,
             CAST(('0x' || substr(md5(feat), 1, 8)) AS BIGINT) % 1024 AS b
      FROM feats
    ),
    cnt AS (
      SELECT lang, b,
             CAST(SUM(CASE WHEN source = 'src0' THEN 1 ELSE 0 END)
                  AS BIGINT) AS cp,
             CAST(SUM(CASE WHEN source <> 'src0' THEN 1 ELSE 0 END)
                  AS BIGINT) AS cn
      FROM fb GROUP BY lang, b
    ),
    spine AS (
      SELECT l.lang, s.b
      FROM (SELECT DISTINCT lang FROM documents) l,
           (SELECT unnest(generate_series(0, 1023)) AS b) s
    ),
    filled AS (
      SELECT spine.lang, spine.b,
             COALESCE(cp, 0) AS cp, COALESCE(cn, 0) AS cn
      FROM spine LEFT JOIN cnt
        ON spine.lang = cnt.lang AND spine.b = cnt.b
    ),
    tot AS (
      SELECT lang, SUM(cp) AS np, SUM(cn) AS nn
      FROM filled GROUP BY lang
    ),
    wt AS (
      SELECT f.lang, f.b,
             CAST(ROUND((ln((cp + 1.0) / (np + 1.0 * 1024))
                       - ln((cn + 1.0) / (nn + 1.0 * 1024)))
                  * 1000000, 0) AS BIGINT) AS w
      FROM filled f JOIN tot USING (lang)
    ),
    dc AS (
      SELECT doc_id, lang, b, COUNT(*) AS c
      FROM fb GROUP BY doc_id, lang, b
    ),
    dots AS (
      SELECT dc.doc_id, CAST(SUM(c) AS BIGINT) AS n_feats,
             CAST(SUM(c * w) AS BIGINT) AS dot
      FROM dc JOIN wt ON dc.lang = wt.lang AND dc.b = wt.b
      GROUP BY dc.doc_id
    ),
    scored AS (
      SELECT d.doc_id, d.lang,
             CAST(COALESCE(n_feats, 0) AS BIGINT) AS n_feats,
             CASE WHEN COALESCE(n_feats, 0) > 0 THEN
               ROUND(1.0 / (1.0 + exp(-(CAST(dot AS DOUBLE)
                 / CAST(n_feats * 1000000 AS DOUBLE)))), 9)
             ELSE 0.5 END AS quality_score
      FROM documents d LEFT JOIN dots ON d.doc_id = dots.doc_id
    )
    SELECT doc_id, lang, n_feats, quality_score,
           quality_score >= 0.5 AS keep
    FROM scored
    """,
    doc="per-language trained quality gates ("
    "operators/quality.py train_quality_weights("
    "group_col=...) + quality_classifier_score(group_col=...)): the "
    "CCNet production shape — one INDEPENDENT Naive-Bayes log-odds "
    "head per lang (counts, the full 1024-bucket spine, smoothing "
    "totals, and the single micro-quantization all carry the lang "
    "key, so each head equals the ungrouped trainer run on that "
    "language alone — pytest-pinned), and every document scores "
    "through ITS language's head via a (lang, bucket) broadcast "
    "join. A bucket that reads high-quality in one language can "
    "read spam in another — the separation a single global table "
    "cannot express (pytest: identical text, opposite per-lang "
    "labels, opposite scores). Same exactness contract as "
    "q_quality_classifier_trained: exact-bigint dot, one 9dp-"
    "quantized sigmoid, keep decided on the quantized score. "
    "Scale: two explodes with map-side combine, an O(n_langs x "
    "1024) model that still BROADCASTS, one doc-keyed integer "
    "aggregate; the grouped spine is distinct-langs x range via a "
    "broadcast hash equi-join on a derived constant key",
)
def q_quality_classifier_by_lang(spark, sf_dir):
    from .operators.quality import (
        quality_classifier_score,
        train_quality_weights,
    )

    d = T(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "text"
    )
    w = train_quality_weights(
        d.withColumn("_pos", F.col("source") == "src0"),
        text_col="text", label_col="_pos", n_buckets=1024, alpha=1.0,
        group_col="lang",
    )
    scored = quality_classifier_score(
        d, id_col="doc_id", text_col="text", weights=w,
        n_buckets=1024, threshold=0.5, group_col="lang",
    )
    return scored.join(
        d.select("doc_id", "lang"), "doc_id"
    ).select("doc_id", "lang", "n_feats", "quality_score", "keep")


@declare(
    "q_nelson_aalen",
    """
    WITH ev AS (
      SELECT user_id, CAST(ts AS DATE) AS d
      FROM events
      WHERE user_id IS NOT NULL AND ts IS NOT NULL
        AND event_type = 'purchase'
    ),
    u AS (
      SELECT user_id, MIN(d) AS first_d, MAX(d) AS last_d
      FROM ev GROUP BY user_id
    ),
    obs AS (SELECT MAX(d) AS obs_end FROM ev),
    lab AS (
      SELECT strftime(CAST(date_trunc('week', first_d) AS DATE),
                      '%Y-%m-%d') AS cohort,
             date_diff('day', first_d, last_d) AS t,
             date_diff('day', first_d, obs_end) AS horizon
      FROM u, obs
    ),
    steps AS (
      SELECT cohort, CAST(t AS BIGINT) AS t,
             CAST(SUM(CASE WHEN t < horizon THEN 1 ELSE 0 END)
                  AS BIGINT) AS churned,
             CAST(SUM(CASE WHEN t >= horizon THEN 1 ELSE 0 END)
                  AS BIGINT) AS censored
      FROM lab GROUP BY cohort, t
    ),
    risk AS (
      SELECT cohort, t, churned, censored,
             CAST(SUM(churned + censored) OVER (PARTITION BY cohort)
                  - COALESCE(SUM(churned + censored) OVER (
                      PARTITION BY cohort ORDER BY t
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                    ), 0) AS BIGINT) AS n_at_risk
      FROM steps
    ),
    hs AS (
      SELECT cohort, t, churned, censored, n_at_risk,
             CAST(CASE WHEN churned > 0 THEN
               ROUND(CAST(churned AS DOUBLE)
                     / CAST(n_at_risk AS DOUBLE), 12)
             ELSE 0.0 END AS DECIMAL(24,12)) AS hstep
      FROM risk
    ),
    cum AS (
      SELECT cohort, t, n_at_risk, churned, censored,
             SUM(hstep) OVER (
               PARTITION BY cohort ORDER BY t
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS h
      FROM hs
    )
    SELECT cohort, t, n_at_risk, churned, censored,
           CAST(h AS DOUBLE) AS cum_hazard,
           ROUND(exp(-CAST(h AS DOUBLE)), 9) AS fh_survival
    FROM cum
    """,
    doc="Nelson-Aalen cumulative hazard per weekly acquisition "
    "cohort (operators/"
    "funnel.py nelson_aalen / nelson_aalen_cohorts): the survival "
    "family's third face beside q_kaplan_meier (the curve) and "
    "q_logrank_cohorts (the test) — H(t) = sum d_s/n_s over the "
    "same purchase-stream lifetimes, the churn-PRESSURE readout "
    "whose slope is the hazard rate. Exactness: exact bigint risk "
    "sets; each step's d/n is ONE double division quantized at 12dp "
    "into exact decimal; the cumulative hazard is the exact-decimal "
    "running sum (NO transcendental in the sum — simpler than KM's "
    "ln discipline); the Fleming-Harrington survival exp(-H) is the "
    "single exp call rounded at 9dp (value <= 1, far above double "
    "ulp). Operator validated against the published Freireich 6-MP "
    "NA table (H(6)=3/21, +1/17, +1/15 ...). Scale: one user-keyed "
    "MIN/MAX shuffle + a 1-row attach-scalar broadcast; all windows "
    "run over the reduced cohorts x durations table",
)
def q_nelson_aalen(spark, sf_dir):
    from .operators.funnel import nelson_aalen_cohorts

    e = T(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull()
        & F.col("ts").isNotNull()
        & (F.col("event_type") == "purchase")
    )
    return nelson_aalen_cohorts(
        e, user_col="user_id", ts_col="ts",
        granularity="week", unit_days=1,
    )


@declare(
    "q_rmst",
    """
    WITH ev AS (
      SELECT user_id, CAST(ts AS DATE) AS d
      FROM events
      WHERE user_id IS NOT NULL AND ts IS NOT NULL
        AND event_type = 'purchase'
    ),
    u AS (
      SELECT user_id, MIN(d) AS first_d, MAX(d) AS last_d
      FROM ev GROUP BY user_id
    ),
    obs AS (SELECT MAX(d) AS obs_end FROM ev),
    lab AS (
      SELECT strftime(CAST(date_trunc('week', first_d) AS DATE),
                      '%Y-%m-%d') AS cohort,
             date_diff('day', first_d, last_d) AS t,
             date_diff('day', first_d, obs_end) AS horizon
      FROM u, obs
    ),
    steps AS (
      SELECT cohort, CAST(t AS BIGINT) AS t,
             CAST(SUM(CASE WHEN t < horizon THEN 1 ELSE 0 END)
                  AS BIGINT) AS churned,
             CAST(SUM(CASE WHEN t >= horizon THEN 1 ELSE 0 END)
                  AS BIGINT) AS censored
      FROM lab GROUP BY cohort, t
    ),
    risk AS (
      SELECT cohort, t, churned, censored,
             CAST(SUM(churned + censored) OVER (PARTITION BY cohort)
                  - COALESCE(SUM(churned + censored) OVER (
                      PARTITION BY cohort ORDER BY t
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                    ), 0) AS BIGINT) AS n_at_risk
      FROM steps
    ),
    logs AS (
      SELECT cohort, t, churned, censored, n_at_risk,
             CAST(CASE WHEN churned > 0 AND churned < n_at_risk THEN
               ROUND(ln(CAST(n_at_risk - churned AS DOUBLE)
                        / CAST(n_at_risk AS DOUBLE)), 12)
             ELSE 0.0 END AS DECIMAL(24,12)) AS logstep,
             MAX(CASE WHEN churned = n_at_risk THEN 1 ELSE 0 END)
               OVER (PARTITION BY cohort ORDER BY t
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS extinct
      FROM risk
    ),
    km AS (
      SELECT cohort, t, churned, censored,
             CASE WHEN extinct = 1 THEN 0.0
                  ELSE ROUND(exp(CAST(SUM(logstep) OVER (
                    PARTITION BY cohort ORDER BY t
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                  ) AS DOUBLE)), 9)
             END AS survival
      FROM logs
    ),
    seg AS (
      SELECT cohort, t, churned + censored AS exits,
             CAST(survival AS DECIMAL(12,9)) AS s,
             COALESCE(LEAD(t) OVER (
               PARTITION BY cohort ORDER BY t
             ), 21) AS nxt,
             ROW_NUMBER() OVER (
               PARTITION BY cohort ORDER BY t
             ) AS rn
      FROM km
    )
    SELECT cohort, CAST(21 AS BIGINT) AS horizon,
           CAST(SUM(exits) AS BIGINT) AS n_subjects,
           CAST(SUM(
             CAST(CASE WHEN rn = 1 THEN LEAST(t, 21) ELSE 0 END
                  AS DECIMAL(23,9))
             + CAST(s * CAST(GREATEST(0, LEAST(nxt, 21)
                                         - LEAST(t, 21))
                             AS DECIMAL(10,0))
                    AS DECIMAL(23,9))
           ) AS DOUBLE) AS rmst
    FROM seg GROUP BY cohort
    """,
    doc="restricted mean survival time to a 21-day horizon per "
    "weekly cohort (operators/"
    "funnel.py rmst): the area under q_kaplan_meier's step curve on "
    "[0, 21] — 'average retained days in the first three weeks', "
    "the single number churn dashboards report, defined even where "
    "censoring leaves the unrestricted mean undefined (Royston & "
    "Parmar 2013). Composes kaplan_meier's exact output: S is "
    "right-continuous (segment [t_i, t_i+1) carries the post-step "
    "value, S=1 before the first step), widths are exact integer "
    "day counts, heights the 9dp-quantized KM survivals recast into "
    "DECIMAL(12,9) — NARROW operand types, so width x height "
    "products land exactly in DECIMAL(23,9) without touching "
    "Spark's 38-digit precision-loss path — and the area is the "
    "exact-decimal sum, cast once to double. Operator pinned "
    "against the published 6-MP value (~23.3 weeks at tau=35). "
    "Scale: everything after the KM reduction is dimension-sized; "
    "one lead() window and one grouped sum per cohort",
)
def q_rmst(spark, sf_dir):
    from .operators.funnel import kaplan_meier, rmst

    e = T(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull()
        & F.col("ts").isNotNull()
        & (F.col("event_type") == "purchase")
    )
    return rmst(
        kaplan_meier(
            e, user_col="user_id", ts_col="ts",
            granularity="week", unit_days=1,
        ),
        horizon=21,
        group_col="cohort",
    )


@declare(
    "q_logrank_omnibus",
    """
    WITH ev AS (
      SELECT user_id, CAST(ts AS DATE) AS d
      FROM events
      WHERE user_id IS NOT NULL AND ts IS NOT NULL
        AND event_type = 'purchase'
    ),
    u AS (
      SELECT user_id, MIN(d) AS first_d, MAX(d) AS last_d
      FROM ev GROUP BY user_id
    ),
    obs AS (SELECT MAX(d) AS obs_end FROM ev),
    lab AS (
      SELECT strftime(CAST(date_trunc('week', first_d) AS DATE),
                      '%Y-%m-%d') AS g,
             CAST(date_diff('day', first_d, last_d) AS BIGINT) AS t,
             CASE WHEN date_diff('day', first_d, obs_end)
                       > date_diff('day', first_d, last_d)
                  THEN 1 ELSE 0 END AS churned
      FROM u, obs
    ),
    steps AS (
      SELECT g, t, CAST(SUM(churned) AS BIGINT) AS d,
             CAST(COUNT(*) AS BIGINT) AS x
      FROM lab GROUP BY g, t
    ),
    ct AS (
      SELECT t, CAST(SUM(d) AS BIGINT) AS d_all
      FROM steps GROUP BY t HAVING SUM(d) > 0
    ),
    grid AS (
      SELECT gs.g, ct.t FROM (SELECT DISTINCT g FROM steps) gs, ct
    ),
    ru AS (
      SELECT g, t, CAST(SUM(d) AS BIGINT) AS d,
             CAST(SUM(x) AS BIGINT) AS x, MAX(is_grid) AS is_grid
      FROM (
        SELECT g, t, d, x, 0 AS is_grid FROM steps
        UNION ALL
        SELECT g, t, CAST(0 AS BIGINT) AS d, CAST(0 AS BIGINT) AS x,
               1 AS is_grid
        FROM grid
      ) GROUP BY g, t
    ),
    risk AS (
      SELECT g, t, d, is_grid,
             CAST(SUM(x) OVER (PARTITION BY g)
                  - COALESCE(SUM(x) OVER (
                      PARTITION BY g ORDER BY t
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                    ), 0) AS BIGINT) AS n1,
             CAST(SUM(x) OVER (PARTITION BY g) AS BIGINT) AS n_g
      FROM ru
    ),
    pooled AS (
      SELECT r.g, r.t, r.d, r.n1, r.n_g, ct.d_all,
             CAST(SUM(r.n1) OVER (PARTITION BY r.t) AS BIGINT) AS n_all
      FROM risk r JOIN ct ON r.t = ct.t
      WHERE r.is_grid = 1
    ),
    terms AS (
      SELECT g, n_g, d,
             CAST(ROUND(
               CAST(CAST(d_all AS HUGEINT) * n1 AS DOUBLE)
               / CAST(n_all AS DOUBLE), 12) AS DECIMAL(38,12)) AS e_term
      FROM pooled
    ),
    agg AS (
      SELECT g, CAST(MAX(n_g) AS BIGINT) AS n_subjects,
             CAST(SUM(d) AS BIGINT) AS observed,
             SUM(e_term) AS e
      FROM terms GROUP BY g
    ),
    t2 AS (
      SELECT g, n_subjects, observed,
             CAST(CASE WHEN e > 0 THEN ROUND(
               (CAST(observed AS DOUBLE) - CAST(e AS DOUBLE))
               * (CAST(observed AS DOUBLE) - CAST(e AS DOUBLE))
               / CAST(e AS DOUBLE), 12)
             ELSE 0.0 END AS DECIMAL(38,12)) AS term
      FROM agg
    ),
    omni AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS k_groups,
             CAST(SUM(n_subjects) AS BIGINT) AS n_subjects,
             SUM(term) AS ss
      FROM t2
    ),
    fin AS (
      SELECT k_groups, n_subjects,
             CASE WHEN k_groups >= 2
                  THEN CAST(k_groups - 1 AS BIGINT) END AS df,
             CASE WHEN k_groups >= 2
                  THEN ROUND(CAST(ss AS DOUBLE), 6) END AS chi2
      FROM omni
    ),
    crit AS (
      SELECT k_groups, n_subjects, df, chi2,
             CASE WHEN df = 1 THEN 3.841459
                  WHEN df = 2 THEN 5.991465
                  ELSE CAST(df AS DOUBLE) * pow(
                    1.0 - 2.0 / (9.0 * CAST(df AS DOUBLE))
                    + 1.644854 * sqrt(2.0 / (9.0 * CAST(df AS DOUBLE))),
                    3.0) END AS c05,
             CASE WHEN df = 1 THEN 6.634897
                  WHEN df = 2 THEN 9.210340
                  ELSE CAST(df AS DOUBLE) * pow(
                    1.0 - 2.0 / (9.0 * CAST(df AS DOUBLE))
                    + 2.326348 * sqrt(2.0 / (9.0 * CAST(df AS DOUBLE))),
                    3.0) END AS c01
      FROM fin
    )
    SELECT k_groups, n_subjects, df, chi2,
           CASE WHEN k_groups < 2 THEN 'undefined'
                WHEN chi2 >= c01 THEN 'p<0.01'
                WHEN chi2 >= c05 THEN 'p<0.05'
                ELSE 'ns' END AS p_class
    FROM crit
    """,
    doc="k-sample omnibus log-rank test over the weekly acquisition "
    "cohorts (operators/"
    "funnel.py logrank_omnibus): ONE df=k-1 statistic for 'do these "
    "k churn curves differ anywhere', beside q_logrank_cohorts' "
    "per-cohort group-vs-rest drill-downs. Statistic: the "
    "sum-of-squares approximation chi2 = sum_g (O_g - E_g)^2 / E_g "
    "over the SAME per-group observed/expected totals the "
    "Mantel-Cox grid produces — the form the survival texts "
    "hand-compute (Freireich 6-MP: 15.23 vs the exact "
    "variance-based 16.79; conservative, documented honestly — the "
    "full covariance quadratic form needs a matrix inversion, not "
    "a DataFrame shape). Significance: rounded statistic vs df=k-1 "
    "critical values — exact table constants for df <= 2, "
    "Wilson-Hilferty cube approximation above; both engines "
    "evaluate the identical closed form so classing never splits. "
    "Exactness: O exact bigint, E exact 12dp-decimal sums "
    "round-tripped through identical doubles, per-group terms "
    "quantized at 12dp, exact-decimal sum rounded at 6dp. Scale: "
    "the logrank dims-sized grid plan plus one k-row aggregate",
)
def q_logrank_omnibus(spark, sf_dir):
    from .operators.funnel import logrank_omnibus, user_lifetimes

    e = T(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull()
        & F.col("ts").isNotNull()
        & (F.col("event_type") == "purchase")
    )
    return logrank_omnibus(
        user_lifetimes(
            e, user_col="user_id", ts_col="ts",
            granularity="week", unit_days=1,
        ),
        group_col="cohort",
        t_col="t",
        churned_col="churned",
    )


@declare(
    "q_quality_multiclass",
    """
    WITH toks AS (
      SELECT doc_id, source,
             list_filter(string_split(lower(text), ' '),
                         t -> len(t) > 0) AS ws
      FROM documents
    ),
    feats AS (
      SELECT doc_id, source, feat FROM (
        SELECT doc_id, source, unnest(ws) AS feat FROM toks
        UNION ALL
        SELECT doc_id, source, array_to_string(ws[i:i+1], ' ') AS feat
        FROM toks, (SELECT unnest(generate_series(1, 4000)) AS i) idx
        WHERE len(ws) >= 2 AND i <= len(ws) - 1
      )
    ),
    fb AS (
      SELECT doc_id, source,
             CAST(('0x' || substr(md5(feat), 1, 8)) AS BIGINT) % 1024 AS b
      FROM feats
    ),
    cnt AS (
      SELECT source AS cls, b, CAST(COUNT(*) AS BIGINT) AS c
      FROM fb GROUP BY source, b
    ),
    tot_b AS (
      SELECT b, CAST(SUM(c) AS BIGINT) AS tb FROM cnt GROUP BY b
    ),
    tot_c AS (
      SELECT cls, CAST(SUM(c) AS BIGINT) AS np FROM cnt GROUP BY cls
    ),
    gtot AS (SELECT CAST(SUM(c) AS BIGINT) AS n_all FROM cnt),
    spine AS (
      SELECT s.cls, gs.b
      FROM (SELECT DISTINCT source AS cls FROM documents) s,
           (SELECT unnest(generate_series(0, 1023)) AS b) gs
    ),
    filled AS (
      SELECT spine.cls, spine.b,
             COALESCE(cnt.c, 0) AS cp,
             COALESCE(tot_b.tb, 0) - COALESCE(cnt.c, 0) AS cn,
             COALESCE(tot_c.np, 0) AS np
      FROM spine
      LEFT JOIN cnt ON spine.cls = cnt.cls AND spine.b = cnt.b
      LEFT JOIN tot_b ON spine.b = tot_b.b
      LEFT JOIN tot_c ON spine.cls = tot_c.cls
    ),
    wt AS (
      SELECT cls, b,
             CAST(ROUND((ln((cp + 1.0) / (np + 1.0 * 1024))
                       - ln((cn + 1.0)
                            / ((n_all - np) + 1.0 * 1024)))
                  * 1000000, 0) AS BIGINT) AS w
      FROM filled, gtot
    ),
    dc AS (
      SELECT source AS cls, CAST(COUNT(*) AS BIGINT) AS dcnt
      FROM documents GROUP BY source
    ),
    dtot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS d_all,
             CAST(COUNT(DISTINCT source) AS BIGINT) AS k_cls
      FROM documents
    ),
    priors AS (
      SELECT cls,
             CAST(ROUND((ln((dcnt + 1.0) / (d_all + 1.0 * k_cls))
                       - ln(((d_all - dcnt) + 1.0)
                            / (d_all + 1.0 * k_cls)))
                  * 1000000, 0) AS BIGINT) AS bias
      FROM dc, dtot
    ),
    docb AS (
      SELECT doc_id, b, CAST(COUNT(*) AS BIGINT) AS c
      FROM fb GROUP BY doc_id, b
    ),
    dots AS (
      SELECT docb.doc_id, wt.cls,
             CAST(SUM(docb.c) AS BIGINT) AS n_feats,
             CAST(SUM(docb.c * wt.w) AS BIGINT) AS dot
      FROM docb JOIN wt ON docb.b = wt.b
      GROUP BY docb.doc_id, wt.cls
    ),
    dspine AS (
      SELECT d.doc_id, s.cls
      FROM documents d,
           (SELECT DISTINCT source AS cls FROM documents) s
    ),
    full0 AS (
      SELECT dspine.doc_id, dspine.cls,
             COALESCE(dots.n_feats, 0) AS n_feats,
             COALESCE(dots.dot, 0) AS dot,
             priors.bias AS bias
      FROM dspine
      LEFT JOIN dots ON dspine.doc_id = dots.doc_id
                    AND dspine.cls = dots.cls
      JOIN priors ON dspine.cls = priors.cls
    ),
    lg AS (
      SELECT doc_id, cls, n_feats,
             CAST(ROUND(CASE WHEN n_feats > 0 THEN
                 CAST(bias * n_feats + dot AS DOUBLE)
                 / CAST(n_feats * 1000000 AS DOUBLE)
               ELSE CAST(bias AS DOUBLE) / 1000000.0 END, 12)
               AS DECIMAL(24,12)) AS logit
      FROM full0
    ),
    sm AS (
      SELECT doc_id, cls, n_feats, logit,
             MAX(logit) OVER (PARTITION BY doc_id) AS lmax
      FROM lg
    ),
    sz AS (
      SELECT doc_id, cls, n_feats, logit,
             CAST(ROUND(exp(CAST(logit - lmax AS DOUBLE)), 12)
                  AS DECIMAL(24,12)) AS z
      FROM sm
    ),
    zz AS (
      SELECT doc_id, cls, n_feats, z,
             SUM(z) OVER (PARTITION BY doc_id) AS zsum,
             ROW_NUMBER() OVER (PARTITION BY doc_id
                                ORDER BY logit DESC, cls ASC) AS rn
      FROM sz
    )
    SELECT doc_id, CAST(n_feats AS BIGINT) AS n_feats,
           cls AS pred_class,
           ROUND(CAST(z AS DOUBLE) / CAST(zsum AS DOUBLE), 9) AS prob
    FROM zz WHERE rn = 1
    """,
    doc="calibrated multi-class quality/router head, end-to-end "
    "(operators/quality.py "
    "train_multiclass_weights + multiclass_classify): the k-class "
    "generalization of q_quality_classifier_trained — one "
    "one-vs-rest NB log-odds weight table per source domain (each "
    "class's rows pinned EQUAL to the binary trainer on class==c), "
    "plus document-count priors, trained and applied in ONE lazy "
    "plan; every document routes to its argmax class with a "
    "calibrated softmax probability — the 'which of k quality "
    "tiers / source domains' decision mixture pipelines route on, "
    "which k binary gates cannot express (pytest: docs two binary "
    "rejections cannot tell apart route to distinct classes). "
    "Exactness: exact-bigint dots and priors; per-(doc, class) "
    "logit is ONE double division quantized at 12dp; softmax "
    "follows the max-shift discipline (exact-decimal max, exp in "
    "(0,1] quantized at 12dp — far above double ulp — exact-"
    "decimal normalizer, one 9dp-rounded ratio); argmax ties break "
    "to the smallest class name on QUANTIZED decimals. Scale: one "
    "explode with map-side combine, a k x 1024 model that "
    "BROADCASTS, one (doc, class)-keyed integer aggregate, then "
    "k-row per-document windows; the doc x class spine is a "
    "derived-constant-key broadcast hash join — no nested loop",
)
def q_quality_multiclass(spark, sf_dir):
    from .operators.quality import (
        multiclass_classify,
        train_multiclass_weights,
    )

    d = T(spark, sf_dir, "documents").select("doc_id", "source", "text")
    w = train_multiclass_weights(
        d, text_col="text", class_col="source", n_buckets=1024,
        alpha=1.0,
    )
    return multiclass_classify(
        d, id_col="doc_id", text_col="text", weights=w,
        class_col="source", n_buckets=1024,
    )
