"""SparkSession factory tuned for this engine.

Local-mode defaults mirror what we would set on a real cluster: AQE on,
shuffle partitions ≈ cores, Arrow enabled for the pandas-UDF kernels,
UTC session timezone so DuckDB oracle comparisons are stable.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# JDK 14+ throws a SPURIOUS OutOfMemoryError ("Retried waiting for GCLocker
# too often") when allocation retries race JNI critical regions (Arrow/netty
# buffers) under co-tenant CPU starvation — observed intermittently on
# 4x-scale builds with plenty of free heap. Raising the retry count is the
# documented mitigation; it changes nothing when allocations succeed first
# try. IgnoreUnrecognizedVMOptions comes first so that a JDK which dropped
# the flag still starts. KESC_DRIVER_JAVA_OPTS replaces the whole string.
DEFAULT_DRIVER_JAVA_OPTS = (
    "-XX:+IgnoreUnrecognizedVMOptions -XX:+UnlockDiagnosticVMOptions "
    "-XX:GCLockerRetryAllocationCount=128"
)


def get_spark(
    app_name: str = "kesc-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        # match parallelism, not the 200 default (wrong at both ends)
        n = master[master.find("[") + 1 : master.find("]")] if "[" in master else str(cpus)
        shuffle_partitions = cpus if n == "*" else int(n)
    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("KESC_DRIVER_MEM", "12g"))
        .config(
            "spark.driver.extraJavaOptions",
            os.environ.get("KESC_DRIVER_JAVA_OPTS", DEFAULT_DRIVER_JAVA_OPTS),
        )
        .config("spark.ui.enabled", "false")
    )
    # Shuffle/spill scratch: prefer RAM-backed scratch when present. On a
    # real cluster each executor spills to its own local NVMe (aggregate
    # bandwidth scales with node count); in a single-VM sandbox the one
    # shared virtual disk would serialize every level of parallelism.
    local_dir = os.environ.get("KESC_SPARK_LOCAL_DIR")
    if local_dir is None and os.path.isdir("/dev/shm"):
        local_dir = "/dev/shm/kesc-spark-local"
    if local_dir:
        os.makedirs(local_dir, exist_ok=True)
        b = b.config("spark.local.dir", local_dir)
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
