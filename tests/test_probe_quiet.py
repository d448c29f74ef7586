"""Probe-failure log hygiene:
expected-missing store reads never issue a probing ``spark.read``
(FS pre-check instead), and the inherent QUALIFY analysis probes
suppress the JVM ExecutionListenerBus logger only for their own
window (reentrancy-counted, drained, restored to the prior level)."""

from __future__ import annotations

import pytest
from pyspark.sql import Observation
from pyspark.sql import functions as F

import rusty_timeseries_db_spark.sql_ext as sx
from rusty_timeseries_db_spark.fsutil import parquet_data_exists


def _bus_level(spark) -> str:
    jvm = spark.sparkContext._jvm
    return str(
        jvm.org.apache.logging.log4j.LogManager.getLogger(
            sx._LISTENER_BUS_LOGGER
        ).getLevel()
    )


def test_parquet_data_exists(spark, tmp_path):
    d = str(tmp_path / "x")
    assert not parquet_data_exists(spark, d)
    import os

    os.makedirs(d)
    assert not parquet_data_exists(spark, d)  # exists but empty
    with open(os.path.join(d, "_SUCCESS"), "w"):
        pass
    assert not parquet_data_exists(spark, d)  # bookkeeping only
    # a data-named file inside a '_'-prefixed bookkeeping DIRECTORY
    # does not count either: the reader's file index
    # prunes hidden directories, so counting it here would pass the
    # pre-check and then fail the read this check exists to avoid
    os.makedirs(os.path.join(d, "_tmp"))
    with open(os.path.join(d, "_tmp", "part-0.parquet"), "w") as f:
        f.write("x")
    assert not parquet_data_exists(spark, d)
    os.makedirs(os.path.join(d, "_spark_metadata", "deep"))
    with open(
        os.path.join(d, "_spark_metadata", "deep", "data.parquet"), "w"
    ) as f:
        f.write("x")
    assert not parquet_data_exists(spark, d)
    spark.range(3).write.mode("overwrite").parquet(d + "/batch=0")
    assert parquet_data_exists(spark, d)  # recursive data hit


def test_data_file_filter_fails_closed_on_base_mismatch():
    """A listed path that does not prefix-match the base
    (a URI-rendering mismatch — unreachable when both come from the
    same FileSystem) must NOT fall back to basename-only filtering:
    that silently reverted to counting data-named files inside
    bookkeeping directories. Fail closed = skip the file."""
    from rusty_timeseries_db_spark.fsutil import _is_visible_data_file

    base = "file:/tmp/store"
    assert _is_visible_data_file(base, "file:/tmp/store/p=1/d.parquet")
    assert not _is_visible_data_file(
        base, "file:/tmp/store/_tmp/d.parquet"
    )
    # mismatched rendering, data-named basename: the old fallback
    # returned True here — now unknown-hidden, skipped
    assert not _is_visible_data_file(
        base, "hdfs://nn/tmp/store/_tmp/d.parquet"
    )
    assert not _is_visible_data_file(
        base, "hdfs://nn/tmp/store/p=1/d.parquet"
    )


def test_probe_window_scoped_and_restored(spark):
    # register the ObservationManager listener — the trigger that
    # would make every expected probe failure an ERROR trace
    obs = Observation()
    spark.range(5).observe(obs, F.count(F.lit(1)).alias("n")).count()
    assert obs.get["n"] == 5

    assert sx._probe_depth == 0
    prior = _bus_level(spark)
    assert prior != "OFF"
    with sx._quiet_probe_errors(spark):
        assert sx._probe_depth == 1
        assert _bus_level(spark) == "OFF"
        with sx._quiet_probe_errors(spark):  # nested probe
            assert sx._probe_depth == 2
            assert _bus_level(spark) == "OFF"
        # inner exit must NOT un-suppress the outer window
        assert _bus_level(spark) == "OFF"
        with pytest.raises(Exception):
            spark.sql("SELECT definitely_not_a_column FROM range(1)")
    assert sx._probe_depth == 0
    # restored to the PRIOR configured level (no longer
    # a hardcoded ERROR), so a genuine listener failure outside the
    # window logs again exactly as the deployment configured
    assert _bus_level(spark) == prior


def test_probe_restores_prior_configured_level(spark):
    """Restore puts back the level configured BEFORE the
    window — a deployment running the bus logger at WARN for its own
    diagnostics must not come out of every probe at ERROR."""
    jvm = spark.sparkContext._jvm
    Configurator = jvm.org.apache.logging.log4j.core.config.Configurator
    Configurator.setLevel(
        sx._LISTENER_BUS_LOGGER, jvm.org.apache.logging.log4j.Level.WARN
    )
    try:
        assert _bus_level(spark) == "WARN"
        with sx._quiet_probe_errors(spark):
            assert _bus_level(spark) == "OFF"
        assert _bus_level(spark) == "WARN"
    finally:
        Configurator.setLevel(
            sx._LISTENER_BUS_LOGGER,
            jvm.org.apache.logging.log4j.Level.ERROR,
        )


def test_qualify_probe_path_still_routes(spark):
    spark.range(10).selectExpr(
        "id", "id % 3 AS g", "id * 2 AS v"
    ).createOrReplaceTempView("_pq_t")
    got = sx.sql_with_qualify(
        spark,
        "SELECT g, v FROM _pq_t QUALIFY "
        "row_number() OVER (PARTITION BY g ORDER BY v DESC) = 1",
    ).collect()
    assert len(got) == 3
    assert sx._probe_depth == 0
