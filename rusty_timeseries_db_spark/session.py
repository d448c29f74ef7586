"""SparkSession factory with scale-oriented defaults.

The reference engine (rusty_timeseries/src/main.rs:230) serializes every
operation behind one global mutex on a single thread. Here the execution
substrate is Spark: we centralize the tuned configuration in one factory
so every entry point (tests, bench, driver contract) gets the same
scale-ready session.

Design notes for the 100 TB target:
- AQE on (runtime partition coalescing, skew-join splitting) — hot
  series / hot keys are the expected skew source in telemetry data.
- Arrow enabled for the few pandas-UDF paths (multimodal stubs,
  per-series model fits); everything else stays JVM-side.
- `spark.sql.session.timeZone=UTC`: telemetry timestamps are ISO-8601
  UTC strings in the reference (main.rs:10); storing/parsing in UTC
  keeps TimestampType comparisons identical to the reference's
  lexicographic string compare for valid inputs.
- shuffle partitions default to the local test sizing (32); a real
  cluster deployment overrides via env/conf — AQE coalescing makes the
  static number less critical.
- partition discovery always lists on the driver
  (``parallelPartitionDiscovery.threshold`` at int max). Spark's
  default of 32 paths sends the listing of a warehouse's 64
  ``series_bucket=`` dirs to a Spark job, which every serving read
  that re-reads the base paid. Building a read of one small file per
  dir with an explicit schema, local[4] on a 4-CPU VM: 64 dirs
  0.60-0.73 s and 1 job -> 0.03-0.05 s and 0 jobs; 1,024 dirs
  4.5-5.5 s -> 0.11-0.18 s. The engine's storage is local-FS by
  contract (the version pointer is read with ``open()``), so a
  listing job never pays for itself here.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_DEFAULT_CONF: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.parquet.aggregatePushdown": "true",
    # INT96 (the legacy default) carries NO parquet min/max statistics,
    # which silently disables row-group/file skipping on every
    # timestamp predicate — fatal for a time-series engine at scale.
    "spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # Files: pack small test files, stay at the 128 MiB default split at scale.
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    "spark.sql.shuffle.partitions": "32",
    "spark.sql.sources.parallelPartitionDiscovery.threshold": "2147483647",
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
    "spark.ui.enabled": "false",
}


#: Opt-in large-state streaming config: pass as ``extra_conf`` (or set
#: on an existing session) to keep stateful-streaming state (dedup
#: keys, window panes, applyInPandasWithState rows) in RocksDB —
#: off-heap, spillable, incrementally checkpointed — instead of the
#: default in-memory HashMap provider, whose state must fit executor
#: heap. The provider that makes billions of streaming keys viable;
#: verified runnable in tests/test_streaming.py (RocksDB is bundled
#: with Spark 4).
ROCKSDB_STATE_STORE_CONF: dict[str, str] = {
    "spark.sql.streaming.stateStore.providerClass":
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
}


def get_spark(
    app_name: str = "rusty-timeseries-db-spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the tuned SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (driver contract)
    or ``local[*]``.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    builder = SparkSession.builder.appName(app_name).master(master)
    conf = dict(_DEFAULT_CONF)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def tune_existing(spark: SparkSession) -> SparkSession:
    """Apply the runtime-settable subset of our defaults to a session we
    did not create (e.g. the driver hands us one in ``entry(spark)``)."""
    for k in (
        "spark.sql.adaptive.enabled",
        "spark.sql.adaptive.coalescePartitions.enabled",
        "spark.sql.adaptive.skewJoin.enabled",
        "spark.sql.session.timeZone",
        "spark.sql.parquet.filterPushdown",
        "spark.sql.parquet.outputTimestampType",
        "spark.sql.execution.arrow.pyspark.enabled",
        "spark.sql.sources.parallelPartitionDiscovery.threshold",
    ):
        try:
            spark.conf.set(k, _DEFAULT_CONF.get(k, "true"))
        except Exception:
            pass  # conf not runtime-settable in this deployment — keep going
    return spark
