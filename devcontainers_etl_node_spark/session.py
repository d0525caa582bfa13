"""SparkSession factory.

One session, UTC timezone (the reference UTC-normalizes every timestamp,
``src/etl/loaders.py:128-133``), AQE on for runtime re-planning, Arrow on
for the Pandas-UDF extension operators.

Scale notes (100 TB / 1000-executor design stance):
- shuffle partitions are a config knob, not hardcoded; at cluster scale set
  ~2-3x total cores or rely on AQE coalescing (enabled here).
- AQE skew-join handling is enabled so hot keys split automatically.
- maxPartitionBytes left at default 128m — right for large parquet scans.
- the driver heap is half the host's physical memory, capped at 48g: the
  local-mode driver JVM shares the host with its Python workers, and a
  fixed 48g heap on a 15 GB host let G1 grow the JVM until the kernel
  OOM-killed it.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from devcontainers_etl_node_spark.config import DEFAULT, EngineConfig


def driver_memory() -> str:
    """The ``spark.driver.memory`` value: half of physical memory, at most 48g."""
    phys = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    return f"{min(48 << 10, phys // 2 >> 20)}m"


def get_spark(config: EngineConfig | None = None) -> SparkSession:
    cfg = config or DEFAULT
    builder = (
        SparkSession.builder.master(cfg.master)
        .appName(cfg.app_name)
        .config("spark.sql.shuffle.partitions", str(cfg.shuffle_partitions))
        .config("spark.sql.session.timeZone", cfg.session_timezone)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", driver_memory())
        .config("spark.ui.enabled", "false")
        # JVM unified logging goes to STDOUT by default, so a GC warning
        # (e.g. "[...][warning][gc,alloc] ... GCLocker ...") can interleave
        # with the one-line JSON contract bench.py prints on stdout — the
        # exact failure that made BENCH_r13 unparseable. Route JVM logs to
        # stderr; Spark's own log4j output already goes there.
        .config("spark.driver.extraJavaOptions", "-Xlog:all=warning:stderr:uptime,level,tags")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
