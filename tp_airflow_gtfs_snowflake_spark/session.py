"""SparkSession factory.

Config choices (scale rationale):
- AQE on: runtime shuffle-partition coalescing + skew-join splitting;
  on a 1000-executor cluster this is what keeps the silver joins and
  KPI aggregations balanced without hand-tuning per scale factor.
- shuffle.partitions sized to local cores here; on a real cluster this
  is overridden (AQE coalesces down from a higher initial value).
- session timezone pinned UTC: the driver's DuckDB oracle compares
  timestamp values; DuckDB timestamps are UTC-naive.  The reference's
  Europe/Paris wall-clock convention (gtfs_static_daily.py:58) is
  applied explicitly with convert_timezone in the GTFS layer instead
  of via session state.
- Arrow on: every Pandas-UDF / toPandas path is Arrow-batched.
- driver heap sized from the host (SPARK_DRIVER_MEMORY overrides):
  a local-mode heap past physical RAM ends in the OOM killer on a
  host without swap, long before the collector would reclaim it.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_driver_memory(meminfo: str | None = None) -> str:
    """min(24g, 3/4 of MemTotal) from /proc/meminfo text (read from
    the host when not given); 24g where MemTotal is unknown."""
    if meminfo is None:
        try:
            with open("/proc/meminfo") as f:
                meminfo = f.read()
        except OSError:
            return "24g"
    for line in meminfo.splitlines():
        if line.startswith("MemTotal:"):
            total_mb = int(line.split()[1]) // 1024
            return f"{min(24 * 1024, total_mb * 3 // 4)}m"
    return "24g"


def get_spark(app_name: str = "tp_airflow_gtfs_snowflake_spark",
              extra_conf: dict[str, str] | None = None) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get(
            "SPARK_DRIVER_MEMORY") or _default_driver_memory())
        # Local-mode liveness hardening: one long driver stall (GC or
        # host hiccup) past the default timeouts marks the in-process
        # executor's BlockManager dead, and local mode cannot
        # re-register it (the CoarseGrainedScheduler RPC endpoint only
        # exists on a real cluster) — every later heartbeat fails
        # until the 60th kills the whole JVM mid-run (observed twice
        # in full-suite pytest).  In a single JVM the executor cannot
        # die independently of the driver, so heartbeat liveness buys
        # nothing: stretch the windows far past any plausible pause.
        # Cluster deployments override these per their own SLOs.
        .config("spark.network.timeout", "800s")
        .config("spark.executor.heartbeatInterval", "60s")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
