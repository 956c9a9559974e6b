"""J2/J3 generic overlay vs a brute-force NumPy interval oracle."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from osm_sidewalkreator_spark.operators import overlay as OV


@pytest.fixture(scope="module")
def spark():
    from osm_sidewalkreator_spark.session import get_spark
    return get_spark()


def _interval(seg, rect):
    """Brute Liang-Barsky [t0, t1] of seg within rect, or None."""
    ax, ay, bx, by = seg
    xmin, ymin, xmax, ymax = rect
    dx, dy = bx - ax, by - ay
    t0, t1 = 0.0, 1.0
    for p, q in ((-dx, ax - xmin), (dx, xmax - ax),
                 (-dy, ay - ymin), (dy, ymax - ay)):
        if p == 0:
            if q < 0:
                return None
            continue
        r = q / p
        if p < 0:
            t0 = max(t0, r)
        else:
            t1 = min(t1, r)
    if t0 < t1:
        return (t0, t1)
    return None


def _union(ivs):
    """Sorted union of [t0, t1] intervals, overlapping ones merged."""
    merged = []
    for t0, t1 in sorted(ivs):
        if merged and t0 <= merged[-1][1]:
            merged[-1][1] = max(merged[-1][1], t1)
        else:
            merged.append([t0, t1])
    return merged


def _rand_data(seed, nseg=60, nrect=15):
    rng = np.random.default_rng(seed)
    a = rng.uniform(0, 100, (nseg, 2))
    b = a + rng.uniform(-40, 40, (nseg, 2))
    segs = np.column_stack([a, b])
    lo = rng.uniform(0, 80, (nrect, 2))
    hi = lo + rng.uniform(5, 30, (nrect, 2))
    rects = np.column_stack([lo, hi])
    return segs, rects


def _dfs(spark, segs, rects):
    sdf = spark.createDataFrame(
        [(i, *map(float, s)) for i, s in enumerate(segs)],
        "osm_id long, ax double, ay double, bx double, by double")
    rdf = spark.createDataFrame(
        [(i, *map(float, r)) for i, r in enumerate(rects)],
        "block_id long, xmin double, ymin double, xmax double,"
        " ymax double")
    return sdf, rdf


def _mm(v):
    return int(round(v * 1000))


def test_intersection_overlay_matches_brute(spark):
    segs, rects = _rand_data(11)
    sdf, rdf = _dfs(spark, segs, rects)
    got = {(r.osm_id, r.block_id,
            _mm(r.px_a), _mm(r.py_a), _mm(r.px_b), _mm(r.py_b))
           for r in OV.intersection_overlay(sdf, rdf, cell_size=16.0)
           .collect()}
    want = set()
    for i, s in enumerate(segs):
        for j, r in enumerate(rects):
            iv = _interval(s, r)
            if iv is None:
                continue
            t0, t1 = iv
            ax, ay, bx, by = s
            want.add((i, j,
                      _mm(ax if t0 == 0 else ax + t0 * (bx - ax)),
                      _mm(ay if t0 == 0 else ay + t0 * (by - ay)),
                      _mm(bx if t1 == 1 else ax + t1 * (bx - ax)),
                      _mm(by if t1 == 1 else ay + t1 * (by - ay))))
    assert got == want and len(want) > 20


def test_difference_overlay_matches_brute(spark):
    segs, rects = _rand_data(7)
    sdf, rdf = _dfs(spark, segs, rects)
    rows = OV.difference_overlay(sdf, rdf, cell_size=16.0).collect()
    got = {(r.osm_id, _mm(r.px_a), _mm(r.py_a), _mm(r.px_b), _mm(r.py_b))
           for r in rows}
    want = set()
    n_pass = n_gap = 0
    for i, s in enumerate(segs):
        ivs = [iv for r in rects if (iv := _interval(s, r))]
        merged = _union(ivs)
        bounds = [0.0] + [t for m in merged for t in m] + [1.0]
        pieces = [(bounds[k], bounds[k + 1])
                  for k in range(0, len(bounds), 2)
                  if bounds[k] < bounds[k + 1]]
        if not ivs:
            n_pass += 1
        else:
            n_gap += len(pieces)
        ax, ay, bx, by = s
        for t0, t1 in pieces:
            want.add((i,
                      _mm(ax if t0 == 0 else ax + t0 * (bx - ax)),
                      _mm(ay if t0 == 0 else ay + t0 * (by - ay)),
                      _mm(bx if t1 == 1 else ax + t1 * (bx - ax)),
                      _mm(by if t1 == 1 else ay + t1 * (by - ay))))
    assert got == want
    assert n_pass > 0 and n_gap > 0  # both branches exercised


def test_difference_overlay_single_shuffle(spark):
    segs, rects = _rand_data(3, nseg=10, nrect=4)
    sdf, rdf = _dfs(spark, segs, rects)
    plan = OV.difference_overlay(sdf, rdf, cell_size=16.0) \
        ._jdf.queryExecution().executedPlan().toString()
    # candidate join + per-seg interval merge; no Python evaluation
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def _l_shape_wkb(ox, oy, w, h, t):
    """L-polygon = union of rects [ox,ox+w]x[oy,oy+t] and
    [ox,ox+t]x[oy,oy+h] (concave corner at (ox+t, oy+t))."""
    from osm_sidewalkreator_spark.geometry import wkb as W
    shell = np.array([[ox, oy], [ox + w, oy], [ox + w, oy + t],
                      [ox + t, oy + t], [ox + t, oy + h],
                      [ox, oy + h], [ox, oy]])
    return W.polygon_wkb(shell)


def test_concave_overlay_matches_rect_decomposition(spark):
    """L-shaped polygon inside-intervals == the union of the brute
    Liang-Barsky intervals of its two constituent rectangles (exact
    piece parity in mm; the L has no interior seam edge, so each of
    its pieces is already a maximal merged interval)."""
    segs, _ = _rand_data(23, nseg=80)
    sdf, _ = _dfs(spark, segs, np.empty((0, 4)))
    ox, oy, w, h, t = 10.137, 20.261, 60.0, 50.0, 18.0
    lw = _l_shape_wkb(ox, oy, w, h, t)
    pdf = spark.createDataFrame(
        [(1, ox, oy, ox + w, oy + h, bytearray(lw))],
        "poly_id long, xmin double, ymin double, xmax double,"
        " ymax double, geometry binary")

    def piece(i, t0, t1):
        ax, ay, bx, by = segs[i]
        return (i, _mm(ax + t0 * (bx - ax)), _mm(ay + t0 * (by - ay)),
                _mm(ax + t1 * (bx - ax)), _mm(ay + t1 * (by - ay)))

    got = [piece(r.osm_id, r._t0, r._t1) for r in
           OV.polygon_clip_intervals(sdf, pdf, cell_size=16.0).collect()]
    want = []
    for i, s in enumerate(segs):
        ivs = [iv for r in ((ox, oy, ox + w, oy + t), (ox, oy, ox + t, oy + h))
               if (iv := _interval(s, r))]
        want += [piece(i, t0, t1) for t0, t1 in _union(ivs)]
    assert sorted(got) == sorted(want) and len(want) > 10
    # a segment across the notch leaves the L and re-enters it
    assert any(len([g for g in got if g[0] == i]) > 1 for i in range(80))


def test_difference_overlay_leaves_no_cached_frame(spark):
    """A collected polygon difference leaves nothing in the session's
    cache: no frame of the overlay stays persisted after the call."""
    from osm_sidewalkreator_spark.geometry import wkb as W

    def rect(x0, y0, x1, y1):
        return bytearray(W.polygon_wkb(np.array(
            [[x0, y0], [x1, y0], [x1, y1], [x0, y1], [x0, y0]], float)))

    schema = ("{} long, xmin double, ymin double, xmax double,"
              " ymax double, geometry binary")
    a = spark.createDataFrame(
        [(1, 10.0, 20.0, 70.0, 70.0, bytearray(_l_shape_wkb(
            10.0, 20.0, 60.0, 50.0, 18.0)))], schema.format("a_id"))
    b = spark.createDataFrame(
        [(1, 0.0, 0.0, 30.0, 40.0, rect(0.0, 0.0, 30.0, 40.0)),
         (2, 20.0, 30.0, 50.0, 60.0, rect(20.0, 30.0, 50.0, 60.0))],
        schema.format("b_id"))
    spark.catalog.clearCache()
    rows = OV.polygon_overlay_polygons(a, b, op="difference").collect()
    assert rows and all(r.b_id == -1 for r in rows)
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
