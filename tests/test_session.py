"""The session factory's JVM profile: the driver JVM starts with delayed
C2 thresholds."""

import pytest

from osm_sidewalkreator_spark import session as S

TIER4_FLAGS = ["-XX:Tier4InvocationThreshold=50000",
               "-XX:Tier4MinInvocationThreshold=6000",
               "-XX:Tier4CompileThreshold=150000",
               "-XX:Tier4BackEdgeThreshold=400000"]


@pytest.fixture(scope="module")
def spark():
    return S.get_spark(shuffle_partitions=8)


def test_local_session_jvm_runs_the_jit_profile(spark):
    assert spark.sparkContext.master.startswith("local")
    args = list(spark.sparkContext._jvm.java.lang.management
                .ManagementFactory.getRuntimeMXBean().getInputArguments())
    assert set(TIER4_FLAGS) <= set(args), args
