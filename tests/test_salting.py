"""Skew tests: the Zipf geocode is skewed, and the PIP refine's salt
spreads the hottest polygon's candidates."""

import contextlib
import io
import re

import pytest
from pyspark.sql import functions as F

from osm_sidewalkreator_spark import params as P
from osm_sidewalkreator_spark.operators import joins as J
from osm_sidewalkreator_spark.operators.tiling import box_cells, cell_id
from osm_sidewalkreator_spark.pages import geocode_pages, load_pages
from osm_sidewalkreator_spark.session import get_spark
from osm_sidewalkreator_spark.synth import ensure_synth

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    return get_spark(app="tests", shuffle_partitions=8)


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


def test_pip_refine_is_grouped_by_polygon_and_salt(spark):
    pages, blocks = _pages_and_blocks(spark)
    polys = blocks.select(F.col("block_id").alias("poly_id"), "geometry")
    out = J.pip_join_points_polygons(pages, polys, cell_size=P.CELL_SIZE_M)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain(mode="extended")
    optimized = buf.getvalue().split("== Optimized Logical Plan ==")[1]
    assert re.search(r"FlatMapGroupsInPandas \[poly_id#\d+L?, _salt#\d+L?\]",
                     optimized), optimized


def test_pip_salt_spreads_hottest_polygon(spark):
    pages, blocks = _pages_and_blocks(spark)
    # the refine's candidates: a page's cell against each block's cover
    cand = (pages.withColumn("cell", cell_id(F.col("x"), F.col("y"),
                                             P.CELL_SIZE_M))
            .join(blocks.select("block_id", box_cells(P.CELL_SIZE_M)
                                .alias("cell")), "cell"))
    hot = (cand.groupBy("block_id").count()
           .orderBy(F.col("count").desc()).first()["block_id"])
    per_salt = (cand.filter(F.col("block_id") == hot)
                .groupBy(J.pip_salt("url")).count().collect())
    assert len(per_salt) == J.PIP_N_SALT == 8
    total = sum(r["count"] for r in per_salt)
    assert max(r["count"] for r in per_salt) <= 0.35 * total
