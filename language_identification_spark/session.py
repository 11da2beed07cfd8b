"""SparkSession factory with the scale-minded defaults used everywhere.

Local-mode testing stands in for a multi-executor cluster; every knob here
is chosen to behave the same way on 1000 executors (SURVEY.md §4.2):
AQE on, Arrow on with a bounded batch size (contents are large — the Arrow
batch is the analog of the reference's bounded chunked read,
``/root/reference/disconnected_language_detector.py:843-859``).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_DRIVER_MEM_CAP_MB = 24 * 1024


def _default_driver_memory() -> str:
    """Half the host's physical RAM, capped at 24g, as a Spark size string.

    A fixed 24g let G1 grow the local-mode JVM (driver + executors) past
    the RAM of a 15 GB host until the kernel's OOM killer ended the run.
    ``SPARK_DRIVER_MEM`` overrides this per deployment.
    """
    try:
        ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (AttributeError, ValueError, OSError):  # no sysconf (Windows)
        return f"{_DRIVER_MEM_CAP_MB}m"
    return f"{min(_DRIVER_MEM_CAP_MB, ram // 2 // (1 << 20))}m"


def get_spark(app: str = "language_identification_spark",
              cores: int | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or (os.cpu_count() or 8)
    if shuffle_partitions is None:
        shuffle_partitions = max(2 * cores, 8)
    # keep numpy's large temporaries on the reusable brk heap instead of
    # fresh mmaps — this host pays a very high first-touch cost on new
    # mappings, and numpy frees >1MB buffers back to the OS by default, so
    # every Arrow batch would re-fault hundreds of MB.  Must be set before
    # the JVM (and hence the python workers) starts.
    os.environ.setdefault("MALLOC_MMAP_THRESHOLD_", "536870912")
    os.environ.setdefault("MALLOC_TRIM_THRESHOLD_", "536870912")
    # pyarrow defaults to its bundled jemalloc, which ignores the glibc
    # thresholds above and hands pages back to the OS between Arrow batches
    # — every batch then re-faults its buffers.  The system pool routes
    # Arrow allocations through the tuned glibc arena instead.
    os.environ.setdefault("ARROW_DEFAULT_MEMORY_POOL", "system")
    return (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
        .config("spark.sql.session.timeZone", "UTC")
        # W6 straggler policy (reference watchdog analog, SURVEY §2.4): the
        # task reaper guarantees cancelled tasks — e.g. a bucket killed by
        # the runner's wall-clock watchdog (checkpoint.BucketTimeout) —
        # cannot linger as zombies.  Speculative re-launch is a CLUSTER
        # knob: in local mode the duplicate attempt contends with the
        # original for the same cores/python workers (measured ~18% on the
        # UDF path), so jobs/run_pipeline.py enables it via --conf on real
        # clusters instead of here.
        .config("spark.speculation", os.environ.get("SPARK_SPECULATION", "false"))
        .config("spark.speculation.multiplier", "4")
        .config("spark.speculation.quantile", "0.9")
        .config("spark.task.reaper.enabled", "true")
        .config("spark.task.reaper.killTimeout", "60s")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEM", _default_driver_memory()),
        )
        .config("spark.python.worker.reuse", "true")
        .config("spark.executorEnv.MALLOC_MMAP_THRESHOLD_", "536870912")
        .config("spark.executorEnv.MALLOC_TRIM_THRESHOLD_", "536870912")
        .config("spark.executorEnv.ARROW_DEFAULT_MEMORY_POOL", "system")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
