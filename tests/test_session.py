"""The session factory: the driver JVM starts with delayed C2
thresholds and a class-data archive, and the master is spark-submit's
when it gave one, else the host's cores."""

import fcntl
import json
import logging
import os
import re
import shlex
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

from osm_sidewalkreator_spark import session as S

TIER4_FLAGS = ["-XX:Tier4InvocationThreshold=50000",
               "-XX:Tier4MinInvocationThreshold=6000",
               "-XX:Tier4CompileThreshold=150000",
               "-XX:Tier4BackEdgeThreshold=400000"]
ROOT = Path(__file__).resolve().parent.parent


@pytest.fixture(scope="module")
def spark():
    return S.get_spark()


def test_local_session_jvm_runs_the_jit_profile(spark):
    assert spark.sparkContext.master.startswith("local")
    args = list(spark.sparkContext._jvm.java.lang.management
                .ManagementFactory.getRuntimeMXBean().getInputArguments())
    assert set(TIER4_FLAGS) <= set(args), args


CDS_FLAGS = ("-XX:SharedArchiveFile=", "-XX:DumpLoadedClassList=")


def test_local_session_jvm_runs_with_a_class_data_archive(spark):
    args = list(spark.sparkContext._jvm.java.lang.management
                .ManagementFactory.getRuntimeMXBean().getInputArguments())
    cds = [a for a in args if a.startswith(CDS_FLAGS)]
    assert len(cds) == 1, args
    assert Path(cds[0].split("=", 1)[1]).parent == ROOT / "data" / "jvm"


PROBE = """
import json, os
from osm_sidewalkreator_spark.session import get_spark
before = os.environ.get("SPARK_CONF_DIR")
s = get_spark()
print("MASTER", s.sparkContext.master,
      s.conf.get("spark.sql.shuffle.partitions"))
print("CONF", json.dumps(sorted(s.sparkContext.getConf().getAll())))
print("ENV", json.dumps([before, os.environ.get("SPARK_CONF_DIR")]))
s.stop()
"""


def _probe(launcher, tmp_path, **env_extra):
    """stdout of a ``get_spark()`` session in a fresh driver started by
    ``launcher`` with SPARK_GRAFT_CPUS=2: a MASTER line (master, shuffle
    partitions), a CONF line (the SparkConf as JSON) and an ENV line
    (``SPARK_CONF_DIR`` before and after ``get_spark``)."""
    from pyspark.find_spark_home import _find_spark_home
    script = tmp_path / "probe.py"
    script.write_text(PROBE)
    env = {k: v for k, v in os.environ.items()
           if k not in ("PYSPARK_SUBMIT_ARGS", "PYSPARK_GATEWAY_PORT")}
    env.update(SPARK_GRAFT_CPUS="2", SPARK_GRAFT_DRIVER_MEM="1g",
               PYSPARK_PYTHON=sys.executable,
               PYSPARK_DRIVER_PYTHON=sys.executable,
               PYTHONPATH=str(ROOT), **env_extra)
    if launcher == "spark-submit":
        cmd = [os.path.join(_find_spark_home(), "bin", "spark-submit"),
               "--master", "local[1]", str(script)]
    else:
        cmd = [sys.executable, str(script)]
    out = subprocess.run(cmd, env=env, capture_output=True, text=True,
                         timeout=600)
    assert re.search(r"^MASTER ", out.stdout, re.M), \
        out.stdout + out.stderr[-2000:]
    # CDS logging, and the archive dump at exit, go to data/jvm/<key>.log,
    # never to stdout
    assert "[cds]" not in out.stdout, out.stdout
    assert out.stdout.splitlines()[-1].startswith("ENV "), out.stdout
    return out.stdout


def _master(launcher, tmp_path):
    found = re.search(r"^MASTER (\S+) (\S+)$",
                      _probe(launcher, tmp_path), re.M)
    return found.groups()


def test_spark_submit_master_is_kept(tmp_path):
    assert _master("spark-submit", tmp_path) == ("local[1]", "2")


def test_plain_python_runs_on_the_host_cores(tmp_path):
    assert _master("python", tmp_path) == ("local[2]", "2")


def _conf(stdout):
    """(the probe's SparkConf without the keys each launch sets anew,
    its ``SPARK_CONF_DIR`` before and after ``get_spark``)."""
    conf = dict(json.loads(re.search(r"^CONF (.*)$", stdout, re.M)[1]))
    for k in ("spark.app.id", "spark.app.startTime", "spark.app.submitTime",
              "spark.driver.port"):
        conf.pop(k)
    return conf, json.loads(re.search(r"^ENV (.*)$", stdout, re.M)[1])


def test_conf_dir_override_changes_only_the_java_options(tmp_path):
    """A session whose template-only conf dir was swapped for the empty
    ``data/jvm/conf`` has the SparkConf of one that kept a conf dir
    holding a real (empty) file, and so got no CDS flag, apart from the
    java options; ``SPARK_CONF_DIR`` reads the same after ``get_spark``
    as before it, unset or set."""
    swapped, (before, after) = _conf(_probe("python", tmp_path))
    assert before is None and after is None
    conf_dir = tmp_path / "conf"
    conf_dir.mkdir()
    (conf_dir / "spark-defaults.conf").write_text("")
    kept, env = _conf(_probe("python", tmp_path,
                             SPARK_CONF_DIR=str(conf_dir)))
    assert env == [str(conf_dir)] * 2
    opts = "spark.driver.defaultJavaOptions"
    assert kept.pop(opts) == S.LOCAL_JIT_PROFILE
    assert swapped.pop(opts).startswith(S.LOCAL_JIT_PROFILE + " -XX:")
    assert swapped == kept


JAVA = shutil.which("java", path=os.path.join(
    os.environ.get("JAVA_HOME", ""), "bin")) or shutil.which("java")


def test_jvm_ignores_an_archive_with_a_zeroed_header(tmp_path):
    """A JVM pointed at a file whose header is zeroed, as a write cut
    short leaves it, starts without it."""
    archive = tmp_path / "a.jsa"
    archive.write_bytes(bytes(1 << 20))
    out = subprocess.run([JAVA, f"-XX:SharedArchiveFile={archive}",
                          "-version"], capture_output=True, timeout=120)
    assert out.returncode == 0, out.stderr


# ---- the archive decision (no Spark) ----

@pytest.fixture
def cds_dirs(tmp_path):
    """(jvm dir, conf dir, JDK home, jars dir): a template-only conf dir,
    a JDK with a ``release`` file and one jar."""
    dirs = [tmp_path / n for n in ("jvm", "conf", "jdk", "jars")]
    for d in dirs[1:]:
        d.mkdir()
    (dirs[1] / "spark-env.sh.template").write_text("# template\n")
    (dirs[2] / "release").write_text('JAVA_VERSION="17.0.20"\n')
    (dirs[3] / "spark-core.jar").write_bytes(b"PK" * 10)
    return dirs


STATIC_MAGIC = (0xF00BABA2).to_bytes(4, "little")


def _flag(opts):
    """(flag name, path) of ``cds_options``' options."""
    flag = next(a for a in shlex.split(opts) if a.startswith(CDS_FLAGS))
    name, path = flag.split("=", 1)
    return name, Path(path)


def _archive(classlist):
    """The archive that ``<key>.<pid>.classlist`` is dumped to."""
    return classlist.with_name(classlist.name.split(".")[0] + ".jsa")


def test_empty_jvm_dir_records(cds_dirs):
    jvm = cds_dirs[0]
    opts, conf, classlist = S.cds_options(*cds_dirs)
    assert _flag(opts) == ("-XX:DumpLoadedClassList", classlist)
    assert classlist.parent == jvm
    assert classlist.name.endswith(f".{os.getpid()}.classlist")
    assert conf == jvm / "conf" and list(conf.iterdir()) == []


def test_complete_archive_is_mapped(cds_dirs):
    archive = _archive(S.cds_options(*cds_dirs)[2])
    archive.write_bytes(STATIC_MAGIC + bytes(60))
    opts, conf, classlist = S.cds_options(*cds_dirs)
    assert _flag(opts) == ("-XX:SharedArchiveFile", archive)
    assert classlist is None and conf == cds_dirs[0] / "conf"
    assert f"file={archive.with_suffix('.log')}" in opts
    assert "-Xlog:cds*=off" in shlex.split(opts)


def test_zeroed_header_is_recorded_again(cds_dirs, caplog):
    archive = _archive(S.cds_options(*cds_dirs)[2])
    archive.write_bytes(bytes(64))
    with caplog.at_level(logging.WARNING, logger=S.__name__):
        opts, _, classlist = S.cds_options(*cds_dirs)
    assert _flag(opts)[0] == "-XX:DumpLoadedClassList"
    assert _archive(classlist) == archive
    assert len(caplog.records) == 1
    assert str(archive) in caplog.records[0].getMessage()


def test_conf_dir_with_a_real_file_gets_no_archive(cds_dirs, caplog):
    (cds_dirs[1] / "spark-defaults.conf").write_text("")
    with caplog.at_level(logging.WARNING, logger=S.__name__):
        assert S.cds_options(*cds_dirs) == (None, None, None)
    assert len(caplog.records) == 1
    assert not cds_dirs[0].exists()


def test_key_follows_the_jars_and_the_jdk(cds_dirs):
    def key():
        return _archive(S.cds_options(*cds_dirs)[2]).stem
    first = key()
    assert key() == first
    (cds_dirs[3] / "extra.jar").write_bytes(b"PK")
    with_jar = key()
    (cds_dirs[2] / "release").write_text('JAVA_VERSION="17.0.21"\n')
    assert len({first, with_jar, key()}) == 3


def test_archives_with_another_key_are_removed(cds_dirs):
    jvm = cds_dirs[0]
    jvm.mkdir()
    stale = [jvm / f"0123456789abcdef.{ext}"
             for ext in ("jsa", "log", "lock", "1.classlist")]
    for f in stale:
        f.write_bytes(b"old")
    archive = _archive(S.cds_options(*cds_dirs)[2])
    assert not any(f.exists() for f in stale)
    assert archive.stem != "0123456789abcdef"


def test_extra_classpath_entries_get_no_archive(monkeypatch, caplog):
    """A dump fails on any non-empty directory on the class path, and
    ``HADOOP_CONF_DIR`` puts one there."""
    monkeypatch.setenv("HADOOP_CONF_DIR", str(ROOT))
    with caplog.at_level(logging.WARNING, logger=S.__name__):
        assert S._launch_cds() == (None, None, None)
    assert "HADOOP_CONF_DIR" in caplog.records[0].getMessage()


# ---- the archive dump (a JVM, no Spark) ----

@pytest.fixture
def listed(tmp_path):
    """(class list of this process, class path): two JDK classes, an
    empty directory as the class path."""
    (tmp_path / "empty").mkdir()
    classlist = tmp_path / f"k.{os.getpid()}.classlist"
    classlist.write_text("java/lang/Object\njava/lang/String\n")
    return classlist, str(tmp_path / "empty")


def test_dump_builds_an_archive_the_jvm_maps(listed, capfd):
    classlist, cp = listed
    other = classlist.with_name("k.1.classlist")
    other.write_text("java/lang/Object\n")
    S.dump_archive(classlist, Path(JAVA), cp)
    archive = _archive(classlist)
    assert archive.read_bytes()[:4] == STATIC_MAGIC
    assert not classlist.exists() and not other.exists()
    assert not archive.with_suffix(".tmp").exists()
    assert capfd.readouterr().out == ""
    # -Xshare:on fails rather than start without the archive
    out = subprocess.run([JAVA, "-Xshare:on",
                          f"-XX:SharedArchiveFile={archive}", "-cp", cp,
                          "-version"], capture_output=True, timeout=120)
    assert out.returncode == 0, out.stderr


def test_failed_dump_leaves_no_archive(listed, caplog):
    classlist, cp = listed
    with caplog.at_level(logging.WARNING, logger=S.__name__):
        S.dump_archive(classlist, Path(shutil.which("false")), cp)
    assert not _archive(classlist).exists()
    assert not classlist.exists()
    assert len(caplog.records) == 1


def test_no_dump_while_another_dump_holds_the_lock(listed):
    """flock locks are per open file, so this process's own lock
    stands for another process's."""
    classlist, cp = listed
    with open(_archive(classlist).with_suffix(".lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        S.dump_archive(classlist, Path(JAVA), cp)
    assert not _archive(classlist).exists() and classlist.exists()
