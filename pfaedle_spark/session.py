"""SparkSession factory tuned for this engine.

Local mode for tests/bench; the same config block is what we'd pass to
``spark-submit --py-files pfaedle_spark.zip`` on a real cluster — AQE
for runtime skew handling, Arrow for the pandas-UDF hot paths.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _local_dir() -> str:
    """Shuffle/spill dir. tmpfs (/dev/shm) restores the per-core shuffle
    I/O a real cluster's per-node SSDs provide on this one-virtual-disk
    box, but it spends RAM — a shuffle bigger than the tmpfs cap dies
    with ENOSPC/OOM, exactly the large-shuffle workloads this engine
    targets. So: explicit SPARK_GRAFT_LOCAL_DIR always wins; tmpfs is
    used only when /dev/shm has comfortable headroom (>= 16 GiB free);
    otherwise the normal disk temp dir."""
    explicit = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if explicit:
        return explicit
    try:
        st = os.statvfs("/dev/shm")
        if st.f_bavail * st.f_frsize >= 16 << 30:
            return "/dev/shm/spark-local"
    except OSError:
        pass
    return os.path.join(os.environ.get("TMPDIR", "/tmp"), "spark-local")


def host_defaults(meminfo: str = "/proc/meminfo") -> tuple[int, str]:
    """(cores, driver memory) sized from the host: the CPUs this process
    may run on, and half of MemTotal for the driver JVM (local mode runs
    the executors inside it; the other half is left to the Python
    workers, the page cache and whatever else shares the machine).
    ``SPARK_GRAFT_CPUS`` / ``SPARK_DRIVER_MEM`` override either."""
    cores = os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0))
    mem = os.environ.get("SPARK_DRIVER_MEM") or f"{mem_total_mb(meminfo) // 2}m"
    return int(cores), mem


def mem_total_mb(meminfo: str = "/proc/meminfo") -> int:
    """The host's MemTotal in MiB."""
    with open(meminfo) as fh:
        kb = next(int(ln.split()[1]) for ln in fh if ln.startswith("MemTotal:"))
    return kb // 1024


def get_spark(
    app: str = "pfaedle_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    host_cores, driver_mem = host_defaults()
    cores = cores or host_cores
    shuffle_partitions = shuffle_partitions or max(cores, 8)
    return (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # AQE coalescing, parallelism-first (the default): KB-scale
        # shuffles collapse to one task (minPartitionSize floor), while
        # CPU-heavy shuffles keep one partition per core — byte-first
        # sizing (parallelismFirst=false) was measured to serialize the
        # candidate-join stages and cap scaling efficiency at ~0.47.
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "true")
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "1m")
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64m")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", driver_mem)
        .config("spark.local.dir", _local_dir())
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
