"""SparkSession factory with the engine's standard configuration."""

from __future__ import annotations

import atexit
import fcntl
import hashlib
import logging
import os
import shlex
import shutil
import subprocess
from pathlib import Path

from pyspark import SparkContext
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

# The driver JVM's profile: JDK 17's four Tier-4 (C2) thresholds at
# 10x their defaults (5000, 600, 15000, 40000).
LOCAL_JIT_PROFILE = ("-XX:Tier4InvocationThreshold=50000"
                     " -XX:Tier4MinInvocationThreshold=6000"
                     " -XX:Tier4CompileThreshold=150000"
                     " -XX:Tier4BackEdgeThreshold=400000")

# Class-data archives of local driver JVMs, one per JDK and jar list,
# with the empty conf dir their classpath starts with.
JVM_DIR = Path(__file__).resolve().parent.parent / "data" / "jvm"
# the first four bytes of a complete JDK 17 static archive
_CDS_MAGIC = 0xF00BABA2
# environment that puts more entries on the driver's classpath
_CLASSPATH_ENV = ("HADOOP_CONF_DIR", "YARN_CONF_DIR", "SPARK_DIST_CLASSPATH")

_log = logging.getLogger(__name__)


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


def _complete(archive: Path) -> bool:
    """``archive`` exists and starts with the static-archive magic."""
    if not archive.is_file():
        return False
    with open(archive, "rb") as f:
        return int.from_bytes(f.read(4), "little") == _CDS_MAGIC


def cds_options(jvm_dir: Path, conf_dir: Path, java_home: Path,
                jars_dir: Path
                ) -> tuple[str | None, Path | None, Path | None]:
    """(class-data-sharing options, SPARK_CONF_DIR, class list to dump)
    for a driver JVM of ``java_home`` about to start on the jars of
    ``jars_dir``, with ``conf_dir`` its Spark conf dir; all None when it
    gets no option.

    The archive is ``jvm_dir/<key>.jsa``. ``<key>`` hashes the JDK (its
    path and ``release`` file), ``jvm_dir`` and the name, size and
    mtime of every jar: what the JVM checks before it maps an archive.
    Files with another key are deleted. A complete archive (one that
    starts with the static-archive magic) is mapped, and its CDS log
    goes to ``jvm_dir/<key>.log``, none to stdout. Otherwise the JVM
    lists the classes it loads in ``jvm_dir/<key>.<pid>.classlist``
    (``pid`` this process's), which costs it nothing measurable, and
    that list comes back as the third item: ``dump_archive`` builds the
    archive from it in a JVM of its own.

    JDK 17 dumps no archive of a class path with a non-empty directory
    on it, and spark-class puts the conf dir first on the JVM's, so the
    JVM gets the empty ``jvm_dir/conf`` instead. That changes nothing only
    when the conf dir holds nothing but ``*.template`` files; if it
    holds any other file, the JVM gets no CDS option."""
    real = next((n for n in (os.listdir(conf_dir) if conf_dir.is_dir()
                             else ()) if not n.endswith(".template")), None)
    if real:
        _log.warning("no class-data archive: Spark conf dir %s holds %s",
                     conf_dir, real)
        return None, None, None
    release = java_home / "release"
    h = hashlib.sha256(f"{java_home}\n{jvm_dir}\n".encode())
    h.update(release.read_bytes() if release.is_file() else b"")
    for jar in sorted(jars_dir.glob("*.jar")):
        st = jar.stat()
        h.update(f"{jar.name} {st.st_size} {st.st_mtime_ns}\n".encode())
    key = h.hexdigest()[:16]
    empty_conf = jvm_dir / "conf"
    empty_conf.mkdir(parents=True, exist_ok=True)
    for old in jvm_dir.iterdir():
        if old.is_file() and not old.name.startswith(key + "."):
            old.unlink()
    archive = jvm_dir / f"{key}.jsa"
    if _complete(archive):
        return (shlex.join([f"-XX:SharedArchiveFile={archive}",
                            "-Xlog:cds*=off", "-Xlog:cds=info:file="
                            f"{archive.with_suffix('.log')}::filecount=0"]),
                empty_conf, None)
    if archive.exists():
        _log.warning("class-data archive %s is incomplete: recording "
                     "it again", archive)
    classlist = jvm_dir / f"{key}.{os.getpid()}.classlist"
    return (shlex.join([f"-XX:DumpLoadedClassList={classlist}"]),
            empty_conf, classlist)


def dump_archive(classlist: Path, java: Path, classpath: str) -> None:
    """Build the archive ``<key>.jsa`` beside ``classlist``
    (``<key>.<pid>.classlist``) with a static dump (``java
    -Xshare:dump``) of the classes it lists, on ``classpath``, the class
    path of the JVM that listed them.

    The dump runs in a JVM of its own, after the session's work: about
    36-45 s of one core on a 4 vCPU host for Spark's 14,000 classes (the
    JDK interprets a static dump), and a file of up to about 200 MB. It
    writes ``<key>.tmp`` and renames it to ``<key>.jsa`` only when the
    JVM exits 0 and the file is complete, so no JVM maps a part-written
    archive. Its output goes to ``<key>.log``, none to stdout. A
    process that finds the archive complete, or another process dumping
    it, dumps nothing. A built archive makes every class list of its key
    useless, so they all go."""
    key = classlist.name.split(".", 1)[0]
    archive = classlist.with_name(f"{key}.jsa")
    tmp = archive.with_suffix(".tmp")
    with open(archive.with_suffix(".lock"), "w") as lock:
        try:
            fcntl.flock(lock, fcntl.LOCK_EX | fcntl.LOCK_NB)
        except OSError:
            return
        if _complete(archive) or not classlist.is_file():
            return
        with open(archive.with_suffix(".log"), "w") as log:
            rc = subprocess.run(
                [str(java), "-Xshare:dump",
                 f"-XX:SharedClassListFile={classlist}",
                 f"-XX:SharedArchiveFile={tmp}", "-cp", classpath],
                stdin=subprocess.DEVNULL, stdout=log,
                stderr=subprocess.STDOUT).returncode
        if rc == 0 and _complete(tmp):
            os.replace(tmp, archive)
            for done in archive.parent.glob(f"{key}.*.classlist"):
                done.unlink()
        else:
            _log.warning("class-data archive %s: the dump exited %d (see "
                         "%s)", archive, rc, archive.with_suffix(".log"))
            tmp.unlink(missing_ok=True)
            classlist.unlink(missing_ok=True)


def _launch_cds() -> tuple[str | None, Path | None, Path | None]:
    """``cds_options`` for the driver JVM this process is about to
    launch: the JDK and Spark home that spark-class would use."""
    from pyspark.find_spark_home import _find_spark_home
    args = os.environ.get("PYSPARK_SUBMIT_ARGS", "")
    extra = [v for v in _CLASSPATH_ENV if os.environ.get(v)]
    if extra or "--driver-class-path" in args or "extraClassPath" in args:
        _log.warning("no class-data archive: the driver classpath has "
                     "extra entries (%s)", ", ".join(extra) or args)
        return None, None, None
    java_home = os.environ.get("JAVA_HOME")
    if not java_home:
        java = shutil.which("java")
        if not java:
            return None, None, None
        java_home = Path(os.path.realpath(java)).parent.parent
    spark_home = Path(_find_spark_home())
    conf_dir = Path(os.environ.get("SPARK_CONF_DIR")
                    or spark_home / "conf")
    return cds_options(JVM_DIR, conf_dir, Path(java_home),
                       spark_home / "jars")


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

    A driver JVM that this call launches also maps the class-data
    archive of ``cds_options``. The first such session in a checkout
    only lists its classes; at its process's exit ``dump_archive``
    builds the archive, so that exit is 36-45 s later.
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
    java_opts, conf_dir, classlist = LOCAL_JIT_PROFILE, None, None
    # only a JVM this call launches takes driver options
    if SparkContext._gateway is None \
            and "PYSPARK_GATEWAY_PORT" not in os.environ:
        cds, conf_dir, classlist = _launch_cds()
        java_opts = " ".join(filter(None, (java_opts, cds)))
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
        .config("spark.driver.defaultJavaOptions", java_opts)
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
    saved = os.environ.get("SPARK_CONF_DIR")
    if conf_dir is not None:
        os.environ["SPARK_CONF_DIR"] = str(conf_dir)
    try:
        spark = builder.getOrCreate()
    finally:
        if conf_dir is not None:
            if saved is None:
                del os.environ["SPARK_CONF_DIR"]
            else:
                os.environ["SPARK_CONF_DIR"] = saved
    if classlist is not None:
        jvm_props = spark.sparkContext._jvm.System.getProperties()
        atexit.register(dump_archive, classlist,
                        Path(jvm_props["java.home"]) / "bin" / "java",
                        jvm_props["java.class.path"])
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
