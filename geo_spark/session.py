"""SparkSession factory with the engine's scale-oriented defaults.

Local-mode testing (local[N]) with settings that translate to cluster runs:
AQE on (runtime re-plan + skew-join splitting), Arrow enabled for the pandas
UDF exchange, shuffle partitions sized to cores rather than the 200 default.
On a real cluster the same builder is used by spark-submit --py-files jobs;
only master/memory come from the environment.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_driver_memory(meminfo: str = "/proc/meminfo") -> str:
    """Driver heap sized to the host: min(20g, ~40% of MemTotal).

    The heap is pinned and pre-touched below, so it must fit in physical
    memory next to the Python workers; 20g (enough for a 10x-scale bench
    mirror without GCLocker allocation stalls) is the ceiling on large
    hosts. Falls back to 20g where /proc/meminfo is unreadable.
    """
    cap_mb = 20 * 1024
    try:
        with open(meminfo) as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    total_mb = int(line.split()[1]) // 1024
                    return f"{max(512, min(cap_mb, total_mb * 2 // 5))}m"
    except OSError:
        pass
    return f"{cap_mb}m"


def get_spark(
    app_name: str = "geo_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    master = master or os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 8)
    driver_mem = os.environ.get("SPARK_DRIVER_MEMORY") or default_driver_memory()
    # Pin and pre-fault the driver heap (-Xms=-Xmx + AlwaysPreTouch): the
    # production-standard JVM setting (executors pin their heap the same
    # way). Without it, first-touch page faults spread across the heap as
    # G1 cycles through regions; on this kernel that manifests as
    # multi-second whole-machine sys-time storms (~90% system CPU, all
    # cores spinning in mmap paths) hitting queries at random — measured
    # 5-30x inflation of individual bench samples. Pre-touching moves that
    # cost to one untimed session startup (~1.7 s/GB; the default heap is
    # sized to the host by default_driver_memory — override with
    # SPARK_DRIVER_MEMORY for larger driver-side state).
    # -Xlog:...:stderr: JVM unified-logging warnings default to STDOUT and
    # would corrupt the bench CLI's one-JSON-line stdout contract.
    driver_java_opts = os.environ.get(
        "SPARK_DRIVER_JAVA_OPTIONS",
        f"-Xms{driver_mem} -XX:+AlwaysPreTouch -Xlog:all=warning:stderr",
    )
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.driver.extraJavaOptions", driver_java_opts)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # large Arrow batches: fewer Python round trips per partition; the
        # vectorized kernels want big batches (~65k rows ≈ 2 MB of coords)
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        # smaller file splits → enough scan tasks to feed 32 cores on the
        # medium-sized bench inputs (default 128 MB starves local[32])
        .config("spark.sql.files.maxPartitionBytes", "33554432")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", driver_mem)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
