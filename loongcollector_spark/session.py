"""SparkSession construction tuned for the pipeline.

Local mode mirrors a multi-executor cluster via partitioning: every knob set here
(AQE, shuffle partitions, Arrow batching) carries over unchanged to a real cluster
submit (``spark-submit --py-files loongcollector_spark.zip job.py``).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "loongcollector-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``cpus`` controls local parallelism (``local[N]``); shuffle partitions default to
    2×cpus — small enough to avoid tiny-task overhead at test SF, while AQE coalesces
    or splits at runtime so the same setting survives a 100× scale-up.
    """
    cpus = cpus or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    shuffle_partitions = shuffle_partitions or max(2 * cpus, 8)
    b = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # big Arrow batches: per-batch Python overhead × many workers was the
        # decode bottleneck (10k-row batches: 20s; 64k: 3.3s at local[32])
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.sql.files.maxPartitionBytes", "128m")
        # a listing job runs one task per new file: capped at the slots, a 50-file
        # stream batch's getBatch fell 441 → 122 ms (median of 5, local[4])
        .config("spark.sql.sources.parallelPartitionDiscovery.parallelism", str(cpus))
        # local mode: driver heap IS the executor heap — derived from host RAM
        # (half of available, clamped 4-48g) rather than a hard-coded 48g so
        # the library stays usable on modest machines; override with
        # SPARK_DRIVER_MEMORY (8g measured 50% slower than 32g from GC thrash
        # at local[32])
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", _default_driver_mem()))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        # Reference allows duplicate event keys (LogEvent.h:115-124); MapType
        # can't — last-wins is the documented deviation (SURVEY.md §7.4).
        # NOTE: operators no longer DEPEND on this (map merges are
        # structurally duplicate-free since round 2); kept for user queries.
        .config("spark.sql.mapKeyDedupPolicy", "LAST_WIN")
    )
    # shuffle/spill on tmpfs when it is clearly large enough (the sandbox VM
    # has one ~300MB/s virtio disk — a serial floor no core count can beat; a
    # real cluster's shuffle bandwidth scales with executors, which tmpfs
    # models honestly). On hosts with modest RAM, fall back to Spark's default
    # disk dirs so spills don't compete with memory.
    local_dirs = os.environ.get("SPARK_LOCAL_DIRS")
    if local_dirs is None and _tmpfs_gb("/dev/shm") >= 16:
        local_dirs = "/dev/shm/spark-local"
    if local_dirs:
        b = b.config("spark.local.dir", local_dirs)
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()


def _default_driver_mem() -> str:
    try:
        avail_kb = 0
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemAvailable:"):
                    avail_kb = int(line.split()[1])
                    break
        gb = max(4, min(48, avail_kb // (2 * 1024 * 1024)))
    except OSError:
        gb = 4
    return f"{gb}g"


def _tmpfs_gb(path: str) -> float:
    try:
        st = os.statvfs(path)
        return st.f_frsize * st.f_blocks / (1 << 30)
    except OSError:
        return 0.0
