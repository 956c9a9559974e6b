"""SparkSession factory with the engine's standard configuration."""

from __future__ import annotations

import os
import shlex

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

# The driver JVM's profile: JDK 17's four Tier-4 (C2) thresholds at
# 10x their defaults (5000, 600, 15000, 40000).
LOCAL_JIT_PROFILE = ("-XX:Tier4InvocationThreshold=50000"
                     " -XX:Tier4MinInvocationThreshold=6000"
                     " -XX:Tier4CompileThreshold=150000"
                     " -XX:Tier4BackEdgeThreshold=400000")


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


def get_spark(app: str = "osm_sidewalkreator_spark") -> SparkSession:
    """Build (or reuse) a SparkSession tuned for the engine.

    The master is the one ``spark-submit`` was given, when it started
    this driver (``PYSPARK_GATEWAY_PORT`` is set) or when
    ``PYSPARK_SUBMIT_ARGS`` carries a ``--master``; otherwise
    ``local[cpus]`` (``host_defaults``). ``SparkConf`` alone cannot tell
    the two apart: under plain ``python`` it reads ``local[*]`` too.
    Shuffle partitions = cores.

    AQE is on (skew-join handling for hot urban cells is a north-rule
    requirement); Arrow is on (every geometry kernel crosses the
    JVM<->Python boundary as Arrow batches).

    The driver JVM starts with ``LOCAL_JIT_PROFILE`` as
    ``spark.driver.defaultJavaOptions``. A session lasts a minute or
    two, and most of its setup and first-call CPU went to C2 compiling
    Spark methods that run only a few thousand times before the process
    exits. With C2's thresholds at 10x, C1 still compiles everything
    early and only code that stays hot, such as the whole-stage-codegen
    loops of an sf0.1 run, reaches C2 (city_dense, 4 vCPU: setup CPU
    25.7 -> 19.2 s, first call 38.6 -> 28.3 s; sf0.1 ``bench.py``
    headline unchanged). C1 alone saved more CPU but ran the sf0.1
    headline 34% slower (knn, int8 cosine top-k and the DEM kerb slope
    2-5x), so C2 stays. In local mode the driver JVM is the executor,
    so the profile reaches every task. Driver options never reach a
    cluster's executors, which keep the JDK defaults, and a JVM that
    ``spark-submit`` already started keeps its own options;
    ``--driver-java-options`` come later on the JVM's command line and
    win.
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
    builder = (
        SparkSession.builder
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", driver_mem)
        .config("spark.driver.defaultJavaOptions", LOCAL_JIT_PROFILE)
        .config("spark.ui.enabled", "false")
        # propagate the malloc tunables to executor-side Python workers
        # on real clusters (local mode inherits the driver env)
        .config("spark.executorEnv.GLIBC_TUNABLES",
                os.environ["GLIBC_TUNABLES"])
    )
    args = shlex.split(os.environ.get("PYSPARK_SUBMIT_ARGS", ""))
    if "PYSPARK_GATEWAY_PORT" not in os.environ and not any(
            a == "--master" or a.startswith("--master=") for a in args):
        builder = builder.master(f"local[{cpus}]")
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def local_frame(spark: SparkSession, rows, schema: T.StructType | str
                ) -> DataFrame:
    """``rows`` (tuples in ``schema`` order) as a LocalRelation.

    Built as an Arrow table, the frame runs no Spark job when it is
    collected, joined or broadcast. ``createDataFrame`` of a Python list
    is an RDD instead, and every evaluation of it is a job of
    ``defaultParallelism`` Python tasks (see ``pipeline.run_tiles``)."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    arrow = to_arrow_schema(schema)
    cols = list(zip(*rows)) or [()] * len(arrow)
    return spark.createDataFrame(pa.Table.from_arrays(
        [pa.array(c, f.type) for c, f in zip(cols, arrow)], schema=arrow),
        schema)
