"""SparkSession factory tuned for this engine.

Local mode for tests/bench; the same config block is what we'd pass to
``spark-submit --py-files pfaedle_spark.zip`` on a real cluster — AQE
for runtime skew handling, Arrow for the pandas-UDF hot paths.

The driver JVM compiles with C1 only (:data:`DRIVER_JAVA_OPTIONS`). A
batch job starts a fresh driver JVM and runs most of its Java code only
a few times, so HotSpot's C2 compiler threads spend more CPU optimizing
it than the optimized code ever saves: in a benchmark ``lifecycle`` run
(``tools/cpu_split.py``, 4 cores) C2 took 38-46 s of the JVM's 79-94 s
of CPU, against 11-13 s for the executor task threads. The flag goes in
``spark.driver.defaultJavaOptions``, which Spark puts in front of
``spark.driver.extraJavaOptions``, so the flag survives a launcher
that sets the latter (``PYSPARK_SUBMIT_ARGS``, ``spark-submit
--conf``). ``tools/run_spark_submit.sh`` passes the same constant,
because ``spark-submit`` starts the driver JVM before any session
builder runs.

Executor JVM options are left alone: long-lived cluster executors run
the same task code for hours and earn C2's compile cost back. Local
mode shows the same trade, since its executors share the driver JVM.
At 8x the benchmark's input (``match_corpus`` on 160k images, one run
each) executor task-thread CPU rose from 52 s to 66 s and GC from 5 s
to 12 s under C1, and the wall from 54.9 s to 57.4 s, while the run's
total CPU still fell from 170 s to 134 s. A JVM that runs many queries
for many minutes (the test suite's one session) is slower under C1.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# the driver JVM's JIT: C1 only (module docstring)
DRIVER_JAVA_OPTIONS = "-XX:TieredStopAtLevel=1"


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
        .config("spark.driver.defaultJavaOptions", DRIVER_JAVA_OPTIONS)
        .config("spark.local.dir", _local_dir())
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
