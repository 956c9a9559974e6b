"""SparkSession factory with the engine's standard configuration."""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def host_defaults() -> tuple[int, str]:
    """(cpus, driver memory) for a local session on this host: the CPUs
    this process may run on, and half of MemAvailable (at least 1 GB).
    ``SPARK_GRAFT_CPUS`` / ``SPARK_GRAFT_DRIVER_MEM`` override them."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if not mem:
        with open("/proc/meminfo") as f:
            kb = next(int(ln.split()[1]) for ln in f
                      if ln.startswith("MemAvailable:"))
        mem = f"{max(1, kb // 2**21)}g"
    return int(cpus) if cpus else len(os.sched_getaffinity(0)), mem


def get_spark(app: str = "osm_sidewalkreator_spark",
              master: str | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for the engine.

    AQE is on (skew-join handling for hot urban cells is a north-rule
    requirement); Arrow is on (every geometry kernel crosses the
    JVM<->Python boundary as Arrow batches).
    """
    # glibc malloc: without these, every large NumPy temporary is a
    # fresh mmap/munmap — 32 workers hammering page-zeroing serializes
    # in the kernel and caps parallel scaling at ~0.68 (measured via a
    # Spark-free multiprocessing control); raising the thresholds keeps
    # temporaries on the reused heap (measured 0.85 scaling, 8->32).
    # Must be set before the JVM forks the Python worker daemon.
    os.environ.setdefault(
        "GLIBC_TUNABLES",
        "glibc.malloc.mmap_threshold=134217728"
        ":glibc.malloc.trim_threshold=134217728")
    cpus, driver_mem = host_defaults()
    master = master or f"local[{cpus}]"
    shuffle = shuffle_partitions or cpus
    builder = (
        SparkSession.builder
        .master(master)
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", driver_mem)
        .config("spark.ui.enabled", "false")
        # propagate the malloc tunables to executor-side Python workers
        # on real clusters (local mode inherits the driver env)
        .config("spark.executorEnv.GLIBC_TUNABLES",
                os.environ["GLIBC_TUNABLES"])
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
