"""SparkSession factory with the engine's scale-oriented defaults.

Tuned for the sandbox (local[N], single JVM) but expressed exactly as it
would be on a 1000-executor cluster: AQE on (runtime re-plan + skew-join
splitting, SURVEY.md §4 O7), Arrow transport for every pandas UDF, shuffle
partitions sized to parallelism rather than the 200 default.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# the CPUs this process may run on, unless SPARK_GRAFT_CPUS says otherwise
DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS")
                   or len(os.sched_getaffinity(0)))


def _default_driver_mem() -> str:
    """Two fifths of physical memory (``SPARK_DRIVER_MEM`` overrides it):
    the rest stays for the Python workers and the page cache, so the heap
    cannot outgrow the host."""
    with open("/proc/meminfo") as f:
        total_kb = int(next(ln for ln in f
                            if ln.startswith("MemTotal:")).split()[1])
    return f"{total_kb * 2 // 5 // 1024}m"


def get_spark(app: str = "air_health_gis_tools_spark",
              cpus: int | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    cpus = cpus or DEFAULT_CPUS
    shuffle_partitions = shuffle_partitions or max(cpus, 8)
    b = (
        SparkSession.builder
        .master(f"local[{cpus}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.driver.memory",
                os.environ.get("SPARK_DRIVER_MEM") or _default_driver_mem())
        .config("spark.ui.enabled", "false")
    )
    # shuffle/spill on tmpfs when available: local-mode shuffles otherwise
    # serialize on one overlay disk and flatten the core-count scaling the
    # cluster's distributed shuffle fabric would provide
    shm = "/dev/shm/spark-local"
    try:
        os.makedirs(shm, exist_ok=True)
        b = b.config("spark.local.dir", shm)
    except OSError:
        pass
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
