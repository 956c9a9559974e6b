"""Point-in-polygon join (J9): the JVM crossing count against the numpy
even-odd test it replaces (``core.points_in_polygon``)."""

import numpy as np
import pytest
from pyspark.sql import types as T

from osm_sidewalkreator_spark.geometry import core, wkb
from osm_sidewalkreator_spark.operators import joins as J
from osm_sidewalkreator_spark.session import get_spark

PT = T.StructType([T.StructField("url", T.StringType()),
                   T.StructField("x", T.DoubleType()),
                   T.StructField("y", T.DoubleType())])
PG = T.StructType([T.StructField("poly_id", T.LongType()),
                   T.StructField("geometry", T.BinaryType())])


@pytest.fixture(scope="session")
def spark():
    return get_spark(app="tests")


def _square(x0, y0, s):
    return np.array([[x0, y0], [x0 + s, y0], [x0 + s, y0 + s],
                     [x0, y0 + s], [x0, y0]], dtype=float)


def _pip(spark, points, polys, cell_size=16.0):
    pts = spark.createDataFrame(
        [(u, float(x), float(y)) for u, x, y in points], PT)
    pgs = spark.createDataFrame(polys, PG)
    out = J.pip_join_points_polygons(pts, pgs, cell_size=cell_size)
    return {(r.url, r.poly_id) for r in out.collect()}


def test_pip_multipolygon_parts_and_holes(spark):
    """Every part of a MultiPolygon counts, and a hole excludes."""
    two_parts = wkb.multipolygon_wkb([(_square(0, 0, 10), []),
                                      (_square(40, 40, 10), [])])
    holed = wkb.polygon_wkb(_square(100, 0, 30), [_square(110, 10, 10)])
    points = [("in_part1", 5, 5), ("in_part2", 45, 45),
              ("between_parts", 25, 25), ("in_ring", 105, 5),
              ("in_hole", 115, 15), ("outside", 200, 200)]
    got = _pip(spark, points, [(1, two_parts), (2, holed)])
    assert got == {("in_part1", 1), ("in_part2", 1), ("in_ring", 2)}


def _star(rng, cx, cy, n, r0, r1):
    """A closed star-shaped ring whose vertices sit on a 0.5 m grid, so
    it has horizontal edges and exact-coordinate vertices."""
    ang = np.sort(rng.uniform(0, 2 * np.pi, n))
    rad = rng.uniform(r0, r1, n)
    ring = np.column_stack([cx + rad * np.cos(ang), cy + rad * np.sin(ang)])
    ring = np.round(ring * 2) / 2
    ring[1::4, 1] = ring[0::4, 1][:len(ring[1::4])]    # horizontal edges
    return np.vstack([ring, ring[:1]])


def test_pip_jvm_refine_matches_numpy_even_odd(spark):
    """Identical (point, polygon) sets under the session's ANSI mode:
    seeded random points, points exactly on every vertex, and points on
    (and at the ends of) horizontal edges."""
    assert spark.conf.get("spark.sql.ansi.enabled") == "true"
    rng = np.random.default_rng(7)
    polys = {}
    for pid in range(6):
        cx, cy = rng.uniform(0, 200, 2)
        shell = _star(rng, cx, cy, 24, 10, 40)
        if pid % 3 == 0:
            polys[pid] = wkb.polygon_wkb(shell, [_star(rng, cx, cy, 8, 2, 6)])
        elif pid % 3 == 1:
            polys[pid] = wkb.multipolygon_wkb(
                [(shell, []), (_star(rng, cx + 90, cy, 12, 5, 20), [])])
        else:
            polys[pid] = wkb.polygon_wkb(shell)
    xy = [rng.uniform(-40, 330, (3000, 2))]
    for blob in polys.values():
        for r in wkb.decode_rings(blob):
            xy.append(r)
            flat = r[:-1][r[:-1, 1] == r[1:, 1]]
            nxt = r[1:][r[:-1, 1] == r[1:, 1]]
            xy.append((flat + nxt) / 2)
    xy = np.vstack(xy)
    points = [(f"p{i}", x, y) for i, (x, y) in enumerate(xy)]

    want = set()
    for pid, blob in polys.items():
        rings = wkb.decode_rings(blob)
        inside = core.points_in_polygon(xy[:, 0], xy[:, 1], rings)
        want |= {(f"p{i}", pid) for i in np.flatnonzero(inside)}
    got = _pip(spark, points, list(polys.items()))
    assert len(want) > 300
    assert got == want
