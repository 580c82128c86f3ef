"""SparkSession factory with scale-oriented defaults.

Defaults chosen for correctness-critical semantics (UTC session tz,
Arrow enabled) and for 100 TB readiness (AQE + skew join on, partial
aggregation pushdown). ``spark.sql.shuffle.partitions`` defaults to the
local core count; on a real cluster it should be ~2-3x total cores.

The core count is the process's affinity mask (what the scheduler lets
it run on, which a container may cap below the host's core count) and
the driver heap is half of physical RAM; ``SPARK_GRAFT_CPUS`` and
``SPARK_DRIVER_MEM`` override either. Parquet is written
zstd-compressed: tier rows are mostly doubles, where snappy saves
almost nothing.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _host_driver_mem() -> str:
    """Driver heap that fits the host: half of physical RAM, at least 1g.
    The other half is left to the Python workers and the OS."""
    with open("/proc/meminfo") as f:
        kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal"))
    return f"{max(1, kb // (2 * 1024 * 1024))}g"


def get_spark(
    app_name: str = "s2tt_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or cpus

    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.driver.memory",
                os.environ.get("SPARK_DRIVER_MEM") or _host_driver_mem())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
