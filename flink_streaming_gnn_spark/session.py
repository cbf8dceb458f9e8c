"""SparkSession factory with the engine's physical configuration.

SURVEY.md §4.3: AQE on, Arrow on, UTC session timezone (so timestamps agree
with the UTC-naive DuckDB oracle), shuffle partitions sized to cores instead
of the 200 default. At cluster scale the same builder is used with
``master`` unset (picked up from spark-submit) and shuffle partitions sized
to input volume.

Configuration: the only environment settings are deployment ones —
``SPARK_GRAFT_CPUS`` (local cores and partition count; default: the CPUs
this process may run on), ``SPARK_GRAFT_DRIVER_MEM`` (driver heap; default:
half of MemTotal, at most 24g), ``SPARK_GRAFT_ON_CLUSTER`` (leave
``master`` to spark-submit), ``SPARK_GRAFT_SF_DIR`` and
``SPARK_GRAFT_TEST_SF_DIR`` (corpus directories). Any Spark setting,
including those fixed below, is overridden through
``get_spark(extra_conf=...)``.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))


def _host_driver_mem() -> str:
    """Half of the host's MemTotal, capped at 24g: the driver JVM shares
    the host with the Python workers and the OS."""
    with open("/proc/meminfo") as f:
        total_kb = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
    return f"{min(24 * 1024, total_kb // 1024 // 2)}m"


def get_spark(
    app_name: str = "flink_streaming_gnn_spark",
    cpus: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    local[N] for tests/bench; on a real cluster the ``master`` line is a
    no-op override via spark-submit. Every config here survives a 1000-
    executor deployment: AQE handles skew/coalescing at runtime, Arrow
    keeps the Python boundary vectorized, UTC keeps event-time math stable.
    """
    n = cpus or DEFAULT_CPUS
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.default.parallelism", str(n))
        # Scan-split size follows the same sizing rule as shuffle
        # partitions: fixtures here are ~100 MB, so the 128 MB default
        # collapses scans to one task and starves the other cores — 16 MB
        # keeps every core fed. On a 1000-executor/100 TB deployment set
        # it back to 128 MB+ through extra_conf (fewer, fuller tasks; the
        # scheduler, not the split size, is the parallelism source there).
        .config("spark.sql.files.maxPartitionBytes", str(16 * 1024 * 1024))
        # ContextCleaner only releases per-query broadcast/shuffle state
        # after a driver GC processes the weak references; with a 24g heap
        # a session can go MANY queries between collections and later
        # queries slow 10× under the accumulated state (measured in
        # bench.py — see _time_best). The default periodicGC.interval of
        # 30min is tuned for clusters, not a 200-query single-JVM session;
        # 2min keeps the cleaner fed with negligible pause cost.
        .config("spark.cleaner.periodicGC.interval", "2min")
        # RocksDB state store (round 8 — the ×100 probe killed
        # stream_windowed_topk at 100M events: the default HDFSBacked
        # provider keeps EVERY partition's state map in JVM heap, and
        # ~50M (window, user) entries plus retained versions took the
        # whole 24g JVM down mid-query). RocksDB holds state off-heap
        # and disk-backed — the production choice for large keyed state;
        # per-query memory becomes a bounded block-cache, so state size
        # scales with DISK, not heap, exactly the 100 TB posture.
        .config(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider",
        )
        # Parquet codec for everything the engine WRITES (spools, sinks,
        # scratch, blown corpora): zstd per guide §6/§9 — smaller than
        # snappy at similar read speed. Unlike the SHUFFLE codec (no
        # signal on a page-cache shuffle, Spark's lz4 kept), parquet
        # output hits disk and is re-read; on the disk-bound ×1000 ladder
        # the ratio is the difference between fitting the run in the
        # sandbox disk budget and ENOSPC (round-9 rung attempt).
        .config("spark.sql.parquet.compression.codec", "zstd")
        # Single-JVM large-state robustness (round-9 ×100 soak catch): at
        # 10⁸-row streaming state a >10 s full-GC (24g heap) or transient
        # host stall blows the IN-PROCESS executor heartbeat
        # (spark.executor.heartbeatInterval default 10s → RpcTimeout →
        # executor declared dead → SparkContext shuts down mid-stream;
        # tools/probe_r9_soak_x100.log, first attempt). 30s/600s are the
        # standard large-heap settings; timeouts change no plan and are
        # inert at bench scale.
        .config("spark.executor.heartbeatInterval", "30s")
        .config("spark.network.timeout", "600s")
        .config("spark.ui.enabled", "false")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _host_driver_mem(),
        )
        # ANSI mode off: engine follows classic Spark SQL null-on-error
        # semantics, matching the permissive oracle comparisons.
        .config("spark.sql.ansi.enabled", "false")
    )
    if not os.environ.get("SPARK_GRAFT_ON_CLUSTER"):
        builder = builder.master(f"local[{n}]")
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
