"""SparkSession factory with engine defaults.

Local testing runs ``local[N]``; the confs are chosen so the same code
is correct on a multi-executor cluster (AQE on, Arrow on, shuffle
partitions sized by caller).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Default driver heap: this share of physical memory, rounded down to
# 256 MB, within [HEAP_FLOOR_MB, HEAP_CAP_MB]. Local mode runs all
# executors inside the driver JVM, but the host also carries Python
# workers, off-heap buffers, tmpfs shuffle scratch and sometimes more
# drivers (concurrent writers each start their own JVM).
HEAP_SHARE = 0.25
HEAP_FLOOR_MB = 1024
HEAP_CAP_MB = 24 * 1024


def default_driver_memory(meminfo: str = "/proc/meminfo") -> str:
    """``spark.driver.memory`` sized to this host's MemTotal; 4g when
    the memory size cannot be read."""
    try:
        with open(meminfo) as f:
            total_kb = next(int(ln.split()[1]) for ln in f if ln.startswith("MemTotal:"))
    except (OSError, StopIteration, ValueError):
        return "4g"
    mb = int(total_kb / 1024 * HEAP_SHARE) // 256 * 256
    return f"{max(HEAP_FLOOR_MB, min(HEAP_CAP_MB, mb))}m"


def get_spark(
    app_name: str = "dexspark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    master = master or os.environ.get("DEXSPARK_MASTER", "local[*]")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # AQE: runtime coalesce of shuffle partitions + skew-join splitting.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Arrow for all pandas interchange (mapInPandas validators).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # Deterministic timestamps across JVM/pandas/DuckDB comparisons.
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        # DEXSPARK_DRIVER_MEM (e.g. "24g") overrides the host-sized default
        .config(
            "spark.driver.memory",
            os.environ.get("DEXSPARK_DRIVER_MEM") or default_driver_memory(),
        )
    )
    # Shuffle/spill scratch on tmpfs when available: this sandbox's
    # buffered disk writes cap at ~90MB/s, which would put a serial
    # floor under every shuffle. On a real cluster this is local NVMe.
    local_dir = os.environ.get("DEXSPARK_LOCAL_DIR") or (
        "/dev/shm/dexspark-scratch" if os.path.isdir("/dev/shm") else None
    )
    if local_dir:
        builder = builder.config("spark.local.dir", local_dir)
    if shuffle_partitions is not None:
        builder = builder.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
