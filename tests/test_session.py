"""Session configuration: the engine reads only deployment settings from the
environment, and pins its physical configuration as constants."""

from __future__ import annotations

import pathlib
import re

import flink_streaming_gnn_spark

DEPLOYMENT_SETTINGS = {
    "SPARK_GRAFT_CPUS",
    "SPARK_GRAFT_DRIVER_MEM",
    "SPARK_GRAFT_ON_CLUSTER",
    "SPARK_GRAFT_SF_DIR",
    "SPARK_GRAFT_TEST_SF_DIR",
}


def test_only_deployment_settings_read_from_env():
    package = pathlib.Path(flink_streaming_gnn_spark.__file__).parent
    found = {
        (name, str(path.relative_to(package)))
        for path in package.rglob("*.py")
        for name in re.findall(r"SPARK_GRAFT_\w+", path.read_text())
    }
    assert {(n, p) for n, p in found if n not in DEPLOYMENT_SETTINGS} == set()


def test_session_constants(spark):
    expect = {
        "spark.sql.streaming.stateStore.providerClass": (
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
        ),
        "spark.sql.parquet.compression.codec": "zstd",
        "spark.sql.files.maxPartitionBytes": str(16 * 1024 * 1024),
        "spark.executor.heartbeatInterval": "30s",
        "spark.network.timeout": "600s",
    }
    assert {k: spark.conf.get(k) for k in expect} == expect
