"""Skew tests: the Zipf geocode is skewed, and the PIP join's hot cells
are left to AQE's skew join (its refine is JVM column math, so there is
no grouped Python refine to salt)."""

import contextlib
import io
import re

import pytest
from pyspark.sql import functions as F

from osm_sidewalkreator_spark import params as P
from osm_sidewalkreator_spark.operators import joins as J
from osm_sidewalkreator_spark.pages import geocode_pages, load_pages
from osm_sidewalkreator_spark.session import get_spark
from osm_sidewalkreator_spark.synth import ensure_synth

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    return get_spark(app="tests")


def _pages_and_blocks(spark):
    pages = geocode_pages(load_pages(spark, SF), SF).select("url", "x", "y")
    blocks = spark.read.parquet(str(ensure_synth(SF) / "blocks.parquet"))
    return pages, blocks


def test_zipf_geocode_is_skewed(spark):
    """The synthetic geocode must actually exercise skew handling."""
    pages = geocode_pages(load_pages(spark, SF), SF)
    counts = (pages.groupBy("block_truth").count()
              .orderBy(F.col("count").desc()).collect())
    hottest = counts[0]["count"]
    median = counts[len(counts) // 2]["count"]
    assert hottest > 5 * max(median, 1)


def test_pip_refine_runs_in_the_jvm(spark):
    """No grouped pandas refine; the one Python eval node decodes the
    polygon table, and nothing of the point side reaches Python."""
    pages, blocks = _pages_and_blocks(spark)
    polys = blocks.select(F.col("block_id").alias("poly_id"), "geometry")
    out = J.pip_join_points_polygons(pages, polys, cell_size=P.CELL_SIZE_M)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain(mode="extended")
    plan = buf.getvalue().split("== Optimized Logical Plan ==")[1] \
        .split("== Physical Plan ==")[0]
    assert "FlatMapGroupsInPandas" not in plan, plan
    lines = plan.splitlines()
    evals = [i for i, ln in enumerate(lines)
             if re.search(r"(Arrow|Batch)EvalPython", ln)]
    assert len(evals) == 1, plan
    depth = len(lines[evals[0]]) - len(lines[evals[0]].lstrip(" :+-"))
    below = []
    for ln in lines[evals[0] + 1:]:
        if len(ln) - len(ln.lstrip(" :+-")) <= depth:
            break
        below.append(ln)
    scans = [ln for ln in below if "Relation " in ln]
    assert len(scans) == 1 and "geometry" in scans[0], below
    assert not any(re.search(r"\burl#", ln) for ln in below), below


def test_pip_cell_join_is_skew_split(spark):
    """The hot cell is AQE's to split: with broadcast off and the skew
    thresholds lowered, the executed point x cover-cell join is a skew
    join, and its pairs are the ones the default plan finds."""
    pages, blocks = _pages_and_blocks(spark)
    polys = blocks.select(F.col("block_id").alias("poly_id"), "geometry")
    # AQE splits a skewed partition between map outputs: the one-file
    # page table is spread over several map tasks first
    pages = pages.repartition(8)

    def run():
        out = J.pip_join_points_polygons(pages, polys,
                                         cell_size=P.CELL_SIZE_M)
        rows = sorted(tuple(r) for r in out.collect())
        return rows, out._jdf.queryExecution().executedPlan().toString()

    want, _ = run()
    conf = {"spark.sql.autoBroadcastJoinThreshold": "-1",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes":
                "1k",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes": "1k"}
    old = {k: spark.conf.get(k, None) for k in conf}
    try:
        for k, v in conf.items():
            spark.conf.set(k, v)
        got, plan = run()
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    assert re.search(r"(SortMergeJoin|ShuffledHashJoin)\(skew=true\)",
                     plan), plan
    assert got == want and len(want) > 0
