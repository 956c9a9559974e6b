"""J8 incidence joins on hand cases: the separating-axis test, a
corner touch, and a way counted once across segments and cells."""

import pytest

from osm_sidewalkreator_spark.operators import joins as J
from osm_sidewalkreator_spark.session import get_spark

CELL = 10.0


@pytest.fixture(scope="module")
def spark():
    return get_spark()


@pytest.fixture(scope="module")
def inputs(spark):
    rects = spark.createDataFrame(
        [(1, 0.0, 0.0, 10.0, 10.0), (2, 30.0, 0.0, 40.0, 10.0)],
        "block_id long, xmin double, ymin double, xmax double, ymax double")
    segs = spark.createDataFrame([
        # bbox overlaps rect 1, but the line x + y = 25 passes all four
        # corners on one side: rejected by the separating-axis test
        ("w10", 100.0, 5.0, 20.0, 20.0, 5.0),
        # the line x + y = 20 meets rect 1 only at its corner (10, 10)
        ("w20", 7.0, 5.0, 15.0, 15.0, 5.0),
        # one way, two segments, both inside rect 1; the second spans
        # cells (0, 0) and (1, 0), both shared with rect 1
        ("w30", 3.0, 5.0, -8.0, 5.0, 5.0),
        ("w30", 3.0, 5.0, 5.0, 18.0, 5.0),
    ], "way_id string, way_len double, ax double, ay double, "
       "bx double, by double")
    return rects, segs


def test_incidence_length_join(inputs):
    rects, segs = inputs
    got = {r["block_id"]: r["inc_len"] for r in
           J.incidence_length_join(rects, segs, cell_size=CELL).collect()}
    assert got == {1: 10.0}


def test_incidence_ids_join(inputs):
    rects, segs = inputs
    got = {r["block_id"]: (r["inc_ids"], r["n_inc"]) for r in
           J.incidence_ids_join(rects, segs, cell_size=CELL).collect()}
    assert got == {1: ("w20 w30", 2)}
