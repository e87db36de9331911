"""Shared pytest fixtures: one SparkSession per test session (local
mode, AQE on, UTC, small shuffle partitioning for test speed) and a
DuckDB connection with the fixture tables pre-registered as views —
mirroring the driver's oracle setup."""

from __future__ import annotations

import os

import duckdb
import pytest
from pyspark.sql import SparkSession

from dust_spark.tables import TABLES, table_path

SF_DIR = os.environ.get("DUST_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = (
        SparkSession.builder.master("local[8]")
        .appName("dust_spark_tests")
        .config("spark.sql.shuffle.partitions", "2")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # 12g: the suite shares ONE JVM across ~900 tests; at 8g the
        # r11 run died of heap exhaustion between test_sql_surface and
        # test_streaming (ConnectionRefused cascade from a dead
        # gateway) — the 2-8-member chain machines alone compile
        # hundreds of multi-KB codegen classes
        .config("spark.driver.memory", "12g")
        # r14 suite-duration work (the driver's verify window): test
        # tables are rows-to-hundreds — whole-stage Janino compilation
        # costs more than the interpreted row work (the bench's
        # interpret-small-input finding applied to the suite), and 2
        # shuffle partitions cut per-job task overhead on the OLTP
        # statement path (1-3 jobs per statement, pinned in
        # test_write_jobs.py). Semantics identical; slice-sensitive
        # tests pass explicit n_slices.
        .config("spark.sql.codegen.wholeStage", "false")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for name in TABLES:
        p = table_path(SF_DIR, name)
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")
    yield con
    con.close()
