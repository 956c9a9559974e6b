"""J1 spatial-relation predicates + G9 convex hull tests."""

import numpy as np
import pytest

from osm_sidewalkreator_spark.geometry.hull import convex_hull


# ---------- G9 convex hull ----------

def test_hull_square_with_interior_and_collinear():
    pts = np.array([[0, 0], [4, 0], [4, 4], [0, 4],   # corners
                    [2, 2], [1, 3],                     # interior
                    [2, 0], [4, 2]], float)             # collinear on edges
    h = convex_hull(pts)
    assert sorted(map(tuple, h)) == [(0, 0), (0, 4), (4, 0), (4, 4)]
    # CCW orientation
    x, y = h[:, 0], h[:, 1]
    area2 = np.dot(x, np.roll(y, -1)) - np.dot(y, np.roll(x, -1))
    assert area2 > 0


def test_hull_contains_all_points():
    rng = np.random.default_rng(5)
    pts = rng.normal(0, 10, (200, 2))
    h = convex_hull(pts)
    # every input point is inside or on the hull (cross products >= 0)
    nxt = np.roll(h, -1, axis=0)
    for p in pts:
        cr = (nxt[:, 0] - h[:, 0]) * (p[1] - h[:, 1]) \
            - (nxt[:, 1] - h[:, 1]) * (p[0] - h[:, 0])
        assert (cr >= -1e-9).all()
    # hull vertices are input points
    keys = {tuple(p) for p in pts}
    assert all(tuple(v) in keys for v in h)


def test_hull_degenerate():
    assert convex_hull(np.empty((0, 2))).shape == (0, 2)
    assert len(convex_hull(np.array([[1.0, 2.0]]))) == 1
    col = convex_hull(np.array([[0, 0], [1, 1], [2, 2], [3, 3]], float))
    assert sorted(map(tuple, col)) == [(0.0, 0.0), (3.0, 3.0)]


# ---------- J1 predicates (Spark) ----------

@pytest.fixture(scope="module")
def spark():
    from osm_sidewalkreator_spark.session import get_spark
    return get_spark()


def test_relation_flags_against_de9im_cases(spark):
    from osm_sidewalkreator_spark.operators.predicates import flag_pairs
    rect = spark.createDataFrame([(0.0, 0.0, 10.0, 10.0)],
                                 "xmin double, ymin double, "
                                 "xmax double, ymax double")
    cases = [
        # (name, seg, expected-true predicates)
        ("inside", (2, 2, 8, 8), {"intersects", "within"}),
        ("crossing", (-5, 5, 15, 5), {"intersects", "crosses"}),
        ("half_in", (5, 5, 15, 5), {"intersects", "crosses"}),
        ("outside", (20, 20, 30, 20), {"disjoint"}),
        ("on_edge", (0, 2, 0, 8), {"intersects", "touches"}),
        ("corner_touch", (-5, 5, 5, -5), {"intersects", "touches"}),
        ("end_on_edge", (-5, 5, 0, 5), {"intersects", "touches"}),
        ("end_inside", (5, 5, 15, 15), {"intersects", "crosses"}),
    ]
    segs = spark.createDataFrame(
        [(n, float(a), float(b), float(c), float(d))
         for n, (a, b, c, d), _want in cases],
        "name string, ax double, ay double, bx double, by double")
    # one 64 m cell holds the rect, so every case is a candidate pair
    rows = {r["name"]: r
            for r in flag_pairs(segs, rect, cell_size=64.0).collect()}
    assert set(rows) == {name for name, _seg, _want in cases}
    for name, _seg, want in cases:
        got = {p for p in ("intersects", "contains", "disjoint", "equals",
                           "touches", "overlaps", "within", "crosses")
               if rows[name][p]}
        assert got == want, f"{name}: {got} != {want}"


def test_extract_by_location_semi_and_disjoint(spark):
    # QGIS extractbylocation over the candidate pairs: a feature matches
    # if any pair carries the predicate; disjoint is the anti-set of
    # intersects (a disjoint pair never shares a cell)
    from osm_sidewalkreator_spark.operators.predicates import flag_pairs
    rects = spark.createDataFrame(
        [(1, 0.0, 0.0, 10.0, 10.0), (2, 100.0, 0.0, 110.0, 10.0)],
        "rid int, xmin double, ymin double, xmax double, ymax double")
    segs = spark.createDataFrame(
        [("a", 2.0, 2.0, 8.0, 2.0),       # within rect 1
         ("b", 105.0, -5.0, 105.0, 5.0),  # crosses rect 2
         ("c", 50.0, 50.0, 60.0, 50.0)],  # disjoint from both
        "osm_id string, ax double, ay double, bx double, by double")
    flags = flag_pairs(segs, rects, cell_size=128.0).collect()

    def ids(p):
        return {r["osm_id"] for r in flags if r[p]}

    assert ids("intersects") == {"a", "b"}
    assert {"a", "b", "c"} - ids("intersects") == {"c"}
    assert ids("crosses") == {"b"}
    assert ids("within") == {"a"}
