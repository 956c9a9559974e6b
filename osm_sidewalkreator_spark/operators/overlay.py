"""Generic overlay operators (J2/J3): line-layer x polygon-layer
``native:intersection`` / ``native:difference`` as first-class DataFrame
ops (reference: ``generic_functions.py:124-143``, used at
``osm_sidewalkreator.py:3553-3555`` (Voronoi split), ``:1925``,
``:2250-2259`` (exclusion zones), ``sidewalk_generation_logic.py:369-376``).

Shape chosen for 100 TB: a bounded cell equi-join produces candidate
(segment, polygon) pairs, the clip is pure column algebra (Liang-Barsky
interval, JVM whole-stage codegen), and the difference merges covered
t-intervals per segment with ONE groupBy on the segment id — no Python
in the hot path, no per-feature loops, no cartesian.

Two polygon tiers share the same downstream interval algebra:

- axis-aligned rectangles (`intersection_overlay`/`difference_overlay`)
  stay 100% JVM (Liang-Barsky columns);
- arbitrary (multi)polygons with holes, concave included, get their
  inside-intervals from an Arrow-batched even-odd clipping kernel
  (`polygon_clip_intervals`); `polygon_overlay_polygons` then reuses
  the same JVM piece/subtraction plans. (The Voronoi split kernel in
  ``plans/refine.py`` remains the tile-local convex path.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .predicates import _clipped, _piece_coords
from .tiling import box_cells, seg_box_overlap, seg_box_pairs

_IV = "array<struct<t0:double,t1:double>>"


def _candidates(segs: DataFrame, rects: DataFrame, cell_size: float
                ) -> DataFrame:
    """Distinct (segment, rect) candidate pairs sharing a grid cell,
    with the clip interval columns attached."""
    return _clipped(seg_box_pairs(segs, rects, cell_size)
                    .dropDuplicates(["osm_id", "block_id"]))


def intersection_overlay(segs: DataFrame, rects: DataFrame,
                         cell_size: float = 128.0) -> DataFrame:
    """J2 ``native:intersection``: one output row per (segment, polygon)
    pair that truly overlaps, geometry cut to the overlap, attributes of
    BOTH inputs carried (QGIS keeps input+overlay fields). Zero-length
    touches are dropped (line output)."""
    cand = _candidates(segs, rects, cell_size)
    keep = [c for c in cand.columns if c not in
            ("_t0", "_t1", "ax", "ay", "bx", "by")]
    return cand.select(*keep, *_piece_coords())


def difference_overlay(segs: DataFrame, rects: DataFrame,
                       cell_size: float = 128.0) -> DataFrame:
    """J3 ``native:difference``: each segment minus the UNION of all
    overlapping polygons; segments touching nothing pass through whole.

    One shuffle: candidates groupBy(seg_id) -> sorted interval list ->
    JVM fold merges overlapping/touching intervals -> complement pieces
    explode. Segment attrs ride along via first() (seg_id is unique in
    the input layer)."""
    cand = _candidates(segs, rects, cell_size) \
        .select("osm_id", "_t0", "_t1")
    return _subtract_intervals(segs, cand, "osm_id")


def _subtract_intervals(segs: DataFrame, cand: DataFrame,
                        seg_id: str) -> DataFrame:
    """Each segment minus the union of covered [t0, t1] intervals in
    ``cand`` (seg_id, _t0, _t1); untouched segments pass through whole.
    One groupBy(seg_id) shuffle + a JVM interval-merge fold."""
    attrs = [c for c in segs.columns
             if c not in (seg_id, "ax", "ay", "bx", "by")]
    iv = (cand.groupBy(seg_id)
          .agg(F.sort_array(F.collect_list(
              F.struct(F.col("_t0").alias("t0"),
                       F.col("_t1").alias("t1")))).alias("_iv")))
    covered = segs.join(iv, seg_id, "inner")
    merged = F.aggregate(
        F.col("_iv"),
        F.expr(f"CAST(array() AS {_IV})"),
        lambda acc, x: F.when(
            (F.size(acc) > 0)
            & (x["t0"] <= F.element_at(acc, -1)["t1"]),
            F.concat(
                F.slice(acc, F.lit(1), F.size(acc) - 1),
                F.array(F.struct(
                    F.element_at(acc, -1)["t0"].alias("t0"),
                    F.greatest(F.element_at(acc, -1)["t1"],
                               x["t1"]).alias("t1"))))
        ).otherwise(F.concat(acc, F.array(x))))
    starts = F.concat(F.array(F.lit(0.0)),
                      F.transform(merged, lambda m: m["t1"]))
    ends = F.concat(F.transform(merged, lambda m: m["t0"]),
                    F.array(F.lit(1.0)))
    pieces = F.filter(
        F.zip_with(starts, ends,
                   lambda s, e: F.struct(s.alias("t0"), e.alias("t1"))),
        lambda p: p["t0"] < p["t1"])
    gaps = (covered.withColumn("_p", F.explode(pieces))
            .select(seg_id, *attrs, "ax", "ay", "bx", "by",
                    F.col("_p.t0").alias("_t0"),
                    F.col("_p.t1").alias("_t1"))
            .select(seg_id, *attrs, *_piece_coords()))
    whole = (segs.join(iv.select(seg_id), seg_id, "left_anti")
             .select(seg_id, *attrs,
                     F.col("ax").alias("px_a"), F.col("ay").alias("py_a"),
                     F.col("bx").alias("px_b"), F.col("by").alias("py_b")))
    return gaps.unionByName(whole)


def polygon_clip_intervals(segs: DataFrame, polys: DataFrame,
                           cell_size: float = 128.0,
                           seg_id: str = "osm_id",
                           poly_id: str = "poly_id") -> DataFrame:
    """Inside-intervals of segments vs ARBITRARY (multi)polygons with
    holes (concave allowed): even-odd interval clipping.

    ``polys``: (poly_id, xmin, ymin, xmax, ymax, geometry WKB). Cell
    equi-join bounds the candidate pairs; an Arrow-batched kernel
    computes, per pair, the parametric t of every transversal edge
    crossing and classifies the midpoints of consecutive pieces by
    even-odd ray casting (vectorized per distinct polygon in the
    batch). Returns (seg_id, poly_id, ax, ay, bx, by, _t0, _t1) rows —
    one per inside-piece. Boundary-collinear segments are undefined
    (same as GEOS within float noise); callers at grid-aligned data
    should offset the overlay layer off the lattice.
    """
    import numpy as np
    import pandas as pd

    from ..geometry import core, wkb
    from ..geometry.morph import rings_to_edges

    s = segs.select(seg_id, "ax", "ay", "bx", "by")
    p = polys.select(poly_id, "xmin", "ymin", "xmax", "ymax", "geometry")
    # one pair per (segment, polygon row): an id stored row-per-part
    # must clip against every part
    j = (seg_box_pairs(s, p, cell_size)
         .dropDuplicates([seg_id, poly_id, "geometry"])
         .filter(seg_box_overlap()))

    sid_t = segs.schema[seg_id].dataType.simpleString()
    pid_t = polys.schema[poly_id].dataType.simpleString()
    out_schema = (f"{seg_id} {sid_t}, {poly_id} {pid_t}, "
                  "ax double, ay double, bx double, by double, "
                  "_t0 double, _t1 double")

    def kernel(it):
        for pdf in it:
            rows = []
            for blob, grp in pdf.groupby("geometry", sort=False):
                rings = wkb.decode_rings(bytes(blob))
                edges = rings_to_edges(rings)
                S = grp[["ax", "ay", "bx", "by"]].to_numpy(np.float64)
                dxs = (S[:, 2] - S[:, 0])[:, None]
                dys = (S[:, 3] - S[:, 1])[:, None]
                ex = (edges[:, 2] - edges[:, 0])[None, :]
                ey = (edges[:, 3] - edges[:, 1])[None, :]
                qx = edges[None, :, 0] - S[:, 0:1]
                qy = edges[None, :, 1] - S[:, 1:2]
                denom = dxs * ey - dys * ex
                with np.errstate(divide="ignore", invalid="ignore"):
                    t = (qx * ey - qy * ex) / denom
                    u = (qx * dys - qy * dxs) / denom
                # u half-open: a crossing at a shared ring vertex
                # counts once
                ok = (np.abs(denom) > 1e-12) \
                    & (t > 0) & (t < 1) & (u >= 0) & (u < 1)
                si, _ = np.nonzero(ok)
                ts = t[ok]
                for k in range(len(S)):
                    row_ts = np.sort(ts[si == k])
                    bounds = np.concatenate([[0.0], row_ts, [1.0]])
                    mids_t = (bounds[:-1] + bounds[1:]) / 2
                    mx = S[k, 0] + mids_t * (S[k, 2] - S[k, 0])
                    my = S[k, 1] + mids_t * (S[k, 3] - S[k, 1])
                    inside = core.points_in_polygon(mx, my, rings)
                    for b0, b1, ins in zip(bounds[:-1], bounds[1:],
                                           inside):
                        if ins and b0 < b1:
                            r = grp.iloc[k]
                            rows.append((r[seg_id], r[poly_id],
                                         r["ax"], r["ay"], r["bx"],
                                         r["by"], float(b0), float(b1)))
            cols = [seg_id, poly_id, "ax", "ay", "bx", "by",
                    "_t0", "_t1"]
            yield pd.DataFrame(rows, columns=cols)

    return j.mapInPandas(kernel, out_schema)


def polygon_boundary_segments(polys: DataFrame, poly_id: str,
                              prefix: str) -> DataFrame:
    """Explode (multi)polygon WKB boundaries (shells + holes) into
    2-point segments with a per-segment string key ``_sk``.

    The WKB parse is per-polygon Python (unavoidable), but the explode
    is one ``core.explode_parts`` per batch — no per-vertex loop. ``_sk``
    is CONTENT-DERIVED (prefix + id + segment coordinates, concatenated
    JVM-side): stable across plan re-evaluations (the segment frame
    feeds both the interval kernel and the subtraction input, which are
    separate evaluations), and collision-free across rows of the same
    ``poly_id`` (e.g. a multipolygon stored as several rows) because
    the coordinates participate. Exact-duplicate segments of one
    polygon collapse to one key and receive the same — correct —
    interval set."""
    import pandas as pd

    from ..geometry import core, wkb

    pid_t = polys.schema[poly_id].dataType.simpleString()
    out_schema = (f"{poly_id} {pid_t}, "
                  "ax double, ay double, bx double, by double")

    def kernel(it):
        for pdf in it:
            flat, nv, rows = wkb.decode_column(pdf["geometry"],
                                               wkb.decode_paths)
            segs, part = core.explode_parts(flat, nv)
            yield pd.DataFrame({
                poly_id: pdf[poly_id].to_numpy()[rows[part]],
                "ax": segs[:, 0], "ay": segs[:, 1],
                "bx": segs[:, 2], "by": segs[:, 3]})

    seg = polys.select(poly_id, "geometry").mapInPandas(kernel,
                                                        out_schema)
    return seg.withColumn(
        "_sk", F.concat_ws(
            "#", F.lit(prefix), F.col(poly_id).cast("string"),
            F.col("ax").cast("string"), F.col("ay").cast("string"),
            F.col("bx").cast("string"), F.col("by").cast("string")))


def _assemble_faces(seg_arr, member_fn):
    """Piece segments -> noded boundary cycles -> per-face region
    contribution for the region defined by ``member_fn`` (a point
    predicate over the ORIGINAL geometries).

    polygonize returns every CCW cycle: MINIMAL faces within a
    connected boundary component (disjoint interiors), but cycles of
    DISCONNECTED components may nest (a donut's ∂A and ∂B cycles).
    Each cycle is probed just inside the midpoint of its longest edge
    (``eps`` along the left normal — a point guaranteed to be in the
    MINIMAL face, never inside a nested component), kept iff the probe
    is in the region, and the areas of its DIRECT child cycles
    (probe-contained, not inside an intermediate child) are subtracted
    — so A-minus-inner-B reports area(A) - area(B-union), and a nested
    island chain A>B>C telescopes correctly (C emits as its own face).
    Returns (area, perimeter) per kept face; the sum is the exact
    region area. Boundaries closer than ``eps`` to each other
    (collinear overlapping inputs) are undefined, same contract as the
    even-odd interval kernel.
    """
    snap = 1e-7
    eps = 1e-4
    import numpy as np

    from ..geometry import core, faces, noding
    noded, par = noding.node_segments(seg_arr, snap=snap)
    noded, par = noding.dedup_undirected(noded, par, snap=snap)
    cycles = []
    for ring in faces.polygonize(noded, snap=snap, min_area=1e-9):
        a = ring
        b = np.roll(ring, -1, axis=0)
        dx, dy = b[:, 0] - a[:, 0], b[:, 1] - a[:, 1]
        ln = np.hypot(dx, dy)
        i = int(np.argmax(ln))
        mx, my = (a[i, 0] + b[i, 0]) / 2, (a[i, 1] + b[i, 1]) / 2
        nx, ny = -dy[i] / ln[i], dx[i] / ln[i]   # left normal (CCW ring)
        probe = (mx + nx * eps, my + ny * eps)
        cycles.append({
            "ring": ring, "probe": probe,
            "keep": bool(member_fn(*probe)),
            "area": abs(core.ring_signed_area(ring)),
            "perim": core.ring_perimeter(ring)})
    # probe-containment matrix (minimal faces of one component are
    # disjoint, so only disconnected nested components register here)
    n = len(cycles)
    probes = np.array([g["probe"] for g in cycles]).reshape(n, 2)
    inside = np.zeros((n, n), dtype=bool)
    for fi, f in enumerate(cycles):
        inside[:, fi] = core.points_in_ring(probes[:, 0], probes[:, 1],
                                            f["ring"])
    np.fill_diagonal(inside, False)
    out = []
    for fi, f in enumerate(cycles):
        if not f["keep"]:
            continue
        kids = [gi for gi in range(n) if inside[gi, fi]]
        direct = [gi for gi in kids
                  if not any(inside[gi, hi] for hi in kids if hi != gi)]
        out.append((f["area"] - sum(cycles[gi]["area"] for gi in direct),
                    f["perim"]))
    return out


def polygon_overlay_polygons(a_polys: DataFrame, b_polys: DataFrame,
                             op: str = "intersection",
                             a_id: str = "a_id",
                             b_id: str = "b_id") -> DataFrame:
    """J2/J3 ``native:intersection``/``native:difference`` for POLYGON x
    POLYGON layers (the reference calls polygon difference directly for
    the donut at osm_sidewalkreator.py:1921-1926 and the exclusion
    zones, sidewalk_generation_logic.py:600-623).

    Layers: (id, xmin, ymin, xmax, ymax, geometry WKB) — arbitrary
    (multi)polygons with holes, concave included.

    Shape: both boundaries explode to segments; the SAME even-odd
    interval kernel classifies boundary pieces (``polygon_clip_
    intervals``); the result region's boundary is reassembled per group
    key (one shuffle) by the NumPy noding+polygonize kernel, each face
    classified by a probe against the ORIGINAL geometries with direct
    nested-cycle subtraction — holes and nesting report correctly (a
    donut result is one row with area(A) - area(hole union)). Returns
    one row per result face: (a_id, b_id, area, perim of the outer
    ring); sum(area) per group is the exact region area. For
    ``difference`` b_id is -1 and the region is A minus the UNION of
    all overlapping B's (B-boundary pieces are additionally clipped
    against OTHER B polygons, so overlapping B's union correctly).
    """
    if op not in ("intersection", "difference"):
        raise ValueError(op)
    cell_size = 128.0
    import numpy as np
    import pandas as pd

    from ..geometry import core, wkb

    # id dtypes flow from the input schemas (string ids etc. work the
    # same as the boundary-segment path)
    aid_t = a_polys.schema[a_id].dataType.simpleString()
    bid_t = b_polys.schema[b_id].dataType.simpleString()
    b_none = (-1 if bid_t in ("tinyint", "smallint", "int", "bigint",
                              "float", "double") else None)
    aseg = polygon_boundary_segments(a_polys, a_id, "a")
    bseg = polygon_boundary_segments(b_polys, b_id, "b")
    bp = b_polys.select(F.col(b_id), "xmin", "ymin", "xmax", "ymax",
                        "geometry")
    ap = a_polys.select(F.col(a_id), "xmin", "ymin", "xmax", "ymax",
                        "geometry")

    # pieces of dB inside A, keyed (b seg -> owner b, poly side -> a)
    ivb = polygon_clip_intervals(
        bseg.select("_sk", "ax", "ay", "bx", "by"),
        ap.withColumnRenamed(a_id, "_aid"), cell_size,
        seg_id="_sk", poly_id="_aid")
    owners_b = bseg.select("_sk", F.col(b_id).alias("_bid_own"))
    pb = (ivb.join(owners_b, "_sk")
          .select(F.col("_aid"), F.col("_bid_own"), *_piece_coords()))

    # pieces of dA inside B, per (a, b)
    iva = polygon_clip_intervals(
        aseg.select("_sk", "ax", "ay", "bx", "by"),
        bp.withColumnRenamed(b_id, "_bid"), cell_size,
        seg_id="_sk", poly_id="_bid")
    if op == "intersection":
        owners_a = aseg.select("_sk", F.col(a_id).alias("_aid"))
        pa = (iva.join(owners_a, "_sk")
              .select("_aid", F.col("_bid").alias("_bid_own"),
                      *_piece_coords()))
        pieces = pa.unionByName(pb)
        key = ["_aid", "_bid_own"]
    else:
        # dA pieces OUTSIDE the union of B: subtract all inside-B
        # intervals
        pa_out = _subtract_intervals(
            aseg.select("_sk", F.col(a_id).alias("_aid"),
                        "ax", "ay", "bx", "by"),
            iva.select("_sk", "_t0", "_t1"), "_sk"
        ).select("_aid", "px_a", "py_a", "px_b", "py_b")
        # dB pieces inside A, then minus OTHER B polygons (B union
        # boundary). content-derived key: the DF is evaluated twice
        # (interval source + subtraction input) and the keys must
        # match across both plans, so no monotonically_increasing_id
        pb_seg = (pb.withColumn(
            "_pk", F.concat_ws("#", F.col("_aid").cast("string"),
                               F.col("_bid_own").cast("string"),
                               F.col("px_a").cast("string"),
                               F.col("py_a").cast("string"),
                               F.col("px_b").cast("string"),
                               F.col("py_b").cast("string")))
            .select("_pk", "_aid", "_bid_own",
                    F.col("px_a").alias("ax"), F.col("py_a").alias("ay"),
                    F.col("px_b").alias("bx"), F.col("py_b").alias("by")))
        ivo = polygon_clip_intervals(
            pb_seg.select("_pk", "ax", "ay", "bx", "by"),
            bp.withColumnRenamed(b_id, "_bid2"), cell_size,
            seg_id="_pk", poly_id="_bid2")
        ivo = (ivo.join(pb_seg.select("_pk", "_bid_own"), "_pk")
               .filter(F.col("_bid2") != F.col("_bid_own"))
               .select("_pk", "_t0", "_t1"))
        pb_out = _subtract_intervals(
            pb_seg.select("_pk", "_aid", "ax", "ay", "bx", "by"),
            ivo, "_pk").select("_aid", "px_a", "py_a", "px_b", "py_b")
        pieces = pa_out.unionByName(pb_out)
        key = ["_aid"]
    # per group: its A wkb + every candidate B wkb (cell join on bboxes)
    ac = ap.select(box_cells(cell_size).alias("cell"),
                   F.col(a_id).alias("_aid"),
                   F.col("geometry").alias("a_wkb"))
    bc = bp.select(box_cells(cell_size).alias("cell"),
                   F.col(b_id).alias("_bid_own"),
                   F.col("geometry").alias("b_wkb"))
    geoms = (ac.join(bc, "cell").drop("cell")
             .dropDuplicates([*key, "a_wkb", "b_wkb"]))
    want_b = op == "intersection"

    def kernel(k, pieces_pdf, geoms_pdf):
        cols = [a_id, b_id, "area", "perim"]
        if len(pieces_pdf) == 0 or len(geoms_pdf) == 0:
            return pd.DataFrame(columns=cols)
        # an id may span several rows (multipolygon row-per-part)
        arings = [r for blob in geoms_pdf["a_wkb"].drop_duplicates()
                  for r in wkb.decode_rings(bytes(blob))]
        bsets = [wkb.decode_rings(bytes(blob))
                 for blob in geoms_pdf["b_wkb"].drop_duplicates()]
        if want_b:
            # one B: union every part's rings (even-odd over disjoint
            # parts)
            bsets = [[r for rings in bsets for r in rings]]
        segs = pieces_pdf[["px_a", "py_a", "px_b", "py_b"]] \
            .to_numpy(np.float64)

        def keep(x, y):
            xx = np.array([x])
            yy = np.array([y])
            return bool(core.points_in_polygon(xx, yy, arings)[0]) and \
                any(core.points_in_polygon(xx, yy, rings)[0]
                    for rings in bsets) == want_b

        b = k[1] if want_b else b_none
        rows = [(k[0], b, a, p) for a, p in _assemble_faces(segs, keep)]
        return pd.DataFrame(rows, columns=cols)

    return (pieces.groupBy(*key).cogroup(geoms.groupBy(*key))
            .applyInPandas(kernel,
                           f"{a_id} {aid_t}, {b_id} {bid_t}, "
                           "area double, perim double"))
