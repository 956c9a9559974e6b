"""The session factory: the driver JVM starts with delayed C2
thresholds, and the master is spark-submit's when it gave one, else the
host's cores."""

import os
import re
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


PROBE = """
from osm_sidewalkreator_spark.session import get_spark
s = get_spark()
print("MASTER", s.sparkContext.master,
      s.conf.get("spark.sql.shuffle.partitions"))
s.stop()
"""


def _master(launcher, tmp_path):
    """(master, shuffle partitions) of a ``get_spark()`` session in a
    fresh driver started by ``launcher`` with SPARK_GRAFT_CPUS=2."""
    from pyspark.find_spark_home import _find_spark_home
    script = tmp_path / "probe.py"
    script.write_text(PROBE)
    env = {k: v for k, v in os.environ.items()
           if k not in ("PYSPARK_SUBMIT_ARGS", "PYSPARK_GATEWAY_PORT")}
    env.update(SPARK_GRAFT_CPUS="2", SPARK_GRAFT_DRIVER_MEM="1g",
               PYSPARK_PYTHON=sys.executable,
               PYSPARK_DRIVER_PYTHON=sys.executable,
               PYTHONPATH=str(ROOT))
    if launcher == "spark-submit":
        cmd = [os.path.join(_find_spark_home(), "bin", "spark-submit"),
               "--master", "local[1]", str(script)]
    else:
        cmd = [sys.executable, str(script)]
    out = subprocess.run(cmd, env=env, capture_output=True, text=True,
                         timeout=600)
    found = re.search(r"^MASTER (\S+) (\S+)$", out.stdout, re.M)
    assert found, out.stdout + out.stderr[-2000:]
    return found.groups()


def test_spark_submit_master_is_kept(tmp_path):
    assert _master("spark-submit", tmp_path) == ("local[1]", "2")


def test_plain_python_runs_on_the_host_cores(tmp_path):
    assert _master("python", tmp_path) == ("local[2]", "2")
