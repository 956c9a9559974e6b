"""Spatial joins as cell equi-joins + exact refinement (SURVEY.md §2.3).

Design for 100 TB: every join here is a Catalyst-planned equi-join on an
int64 ``cell`` column — shuffle partitioning, broadcast decisions, and
AQE skew splitting all come for free. The exact predicate refinement is
pure column math (point-segment distance, rectangle containment,
segment-box incidence, the point-in-polygon crossing count over a
polygon's edge array — JVM); Python only decodes polygon WKB, once per
polygon.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.geo import st_explode_segments
from .tiling import (box_cells, cell_id, neighbor_cells, seg_box_overlap,
                     seg_box_pairs, seg_cells)


def knn_join_points_segments(points: DataFrame, segments: DataFrame,
                             k: int = 1, max_dist: float = 50.0,
                             cell_size: float = 128.0) -> DataFrame:
    """k nearest segments per point within ``max_dist`` (J7/W1).

    The reference's ``QgsSpatialIndex.nearestNeighbor`` with
    ``knn_max_dist=50`` (osm_sidewalkreator.py:1727-1757, parameters.py:157).

    points: (point_id, x, y); segments: (seg_id, ax, ay, bx, by).
    Distance math is closed-form Spark column algebra (JVM), candidates
    via 3x3 cell ring; ``cell_size`` must be >= max_dist for the ring to
    be a superset of the true neighborhood.
    """
    if cell_size < max_dist:
        raise ValueError("cell_size must be >= max_dist for ring coverage")
    # The 3x3 ring covers every segment within one grid pitch of the
    # point, so correctness needs pitch >= max_dist — nothing more. A
    # caller-sized pitch (e.g. 128 m for a 50 m query) scans a
    # (3*pitch)^2 neighborhood; shrinking the pitch to max_dist cuts
    # the candidate-pair count quadratically (measured 41M -> ~7M at
    # sf0.1) while the exact distance refine keeps results identical.
    g = min(cell_size, max_dist) if max_dist > 0 else cell_size
    p = points.withColumn(
        "cell", F.explode(neighbor_cells(F.col("x"), F.col("y"), g)))
    # project to the join's needed columns: callers may carry extra
    # attributes (the bench's segment table has fid) and an equi-join
    # would shuffle them into every candidate pair (guide §2.3)
    s = segments.select("seg_id", "ax", "ay", "bx", "by").withColumn(
        "cell", seg_cells(g))
    # SHUFFLE_HASH (§3.1): the planner broadcasts the exploded segment
    # side when its estimate fits (452k rows at sf0.1) and the
    # single-threaded broadcast build then dominates the join (measured
    # 0.85 s of the 1.15 s query; shuffled-hash per-partition builds cut
    # the full query to 0.80 s). It is also the scale-correct shape: the
    # exploded segment table is corpus-sized at target scale, far over
    # any broadcast bound, while both sides shuffled by cell stay
    # AQE-coalesced/skew-split. Row set is unchanged (same equi-key),
    # and min(struct) below is order-independent, so results are
    # identical under either strategy.
    j = p.join(s.hint("SHUFFLE_HASH"), "cell")
    dx = F.col("bx") - F.col("ax")
    dy = F.col("by") - F.col("ay")
    ll = dx * dx + dy * dy
    t = ((F.col("x") - F.col("ax")) * dx + (F.col("y") - F.col("ay")) * dy) / ll
    tc = F.when(ll == 0, F.lit(0.0)).otherwise(
        F.least(F.greatest(t, F.lit(0.0)), F.lit(1.0)))
    cx = F.col("ax") + tc * dx
    cy = F.col("ay") + tc * dy
    dist = F.sqrt(F.pow(F.col("x") - cx, 2) + F.pow(F.col("y") - cy, 2))
    j = j.withColumn("dist", dist).filter(F.col("dist") <= max_dist)
    if k == 1:
        # single-aggregation fast path: min(struct(dist, seg_id)) IS the
        # rank-1 row under (dist asc, seg_id asc), duplicates from
        # multiple shared cells collapse inside the same min — one
        # shuffle instead of the dedup-groupBy + window pair (the double
        # shuffle measured 4x slower and anti-scaling at sf0.1)
        best = j.groupBy("url").agg(
            F.min(F.struct("dist", "seg_id")).alias("b"))
        return best.select("url", F.col("b.seg_id").alias("seg_id"),
                           F.col("b.dist").alias("dist"),
                           F.lit(1).alias("knn_rank"))
    # a segment can reach a point from several candidate cells
    j = j.groupBy("url", "seg_id").agg(F.min("dist").alias("dist"))
    w = Window.partitionBy("url").orderBy(F.col("dist").asc(),
                                             F.col("seg_id").asc())
    return (j.withColumn("knn_rank", F.row_number().over(w))
             .filter(F.col("knn_rank") <= k))


def pip_join_points_rects(points: DataFrame, rects: DataFrame,
                          cell_size: float = 128.0) -> DataFrame:
    """Point-in-axis-aligned-rectangle containment join (J9 fast path).

    rects: (block_id, xmin, ymin, xmax, ymax). Pure column predicates.
    """
    p = points.withColumn("cell", cell_id(F.col("x"), F.col("y"), cell_size))
    r = rects.withColumn("cell", box_cells(cell_size))
    return (p.join(r, "cell")
             .filter((F.col("x") >= F.col("xmin")) & (F.col("x") < F.col("xmax"))
                     & (F.col("y") >= F.col("ymin")) & (F.col("y") < F.col("ymax")))
             .drop("cell"))


def _incident_pairs(rects: DataFrame, segments: DataFrame,
                    cell_size: float) -> DataFrame:
    """J8 exact segment-vs-rect incidence over the cell candidates: bbox
    overlap plus the separating-axis test — the rect's four corners not
    all strictly on one side of the segment line. Pure column algebra
    (JVM codegen); a pair repeats once per shared cell."""
    dx = F.col("bx") - F.col("ax")
    dy = F.col("by") - F.col("ay")
    sides = [dx * (F.col(cy) - F.col("ay")) - dy * (F.col(cx) - F.col("ax"))
             for cx, cy in (("xmin", "ymin"), ("xmax", "ymin"),
                            ("xmax", "ymax"), ("xmin", "ymax"))]
    above = sides[0] > 0
    below = sides[0] < 0
    for v in sides[1:]:
        above = above & (v > 0)
        below = below & (v < 0)
    return (seg_box_pairs(segments, rects, cell_size)
            .filter(seg_box_overlap() & ~above & ~below))


def incidence_length_join(rects: DataFrame, segments: DataFrame,
                          cell_size: float = 128.0) -> DataFrame:
    """J8 summed-length incidence (``create_incidence_field_layers_A_B``
    with ``total_length_instead=True``, generic_functions.py:1408-1465,
    used for the A10 protoblock filter at osm_sidewalkreator.py:733-762).

    rects: (block_id, xmin, ymin, xmax, ymax); segments: (way_id,
    way_len, ax, ay, bx, by) — ways intersecting a rect contribute their
    FULL ``way_len`` once (``_incident_pairs`` is the predicate)."""
    return (_incident_pairs(rects, segments, cell_size)
            .groupBy("block_id", "way_id")
            .agg(F.first("way_len").alias("way_len"))
            .groupBy("block_id")
            .agg(F.sum("way_len").alias("inc_len")))


def incidence_ids_join(rects: DataFrame, segments: DataFrame,
                       cell_size: float = 128.0) -> DataFrame:
    """J8 id-list incidence (``create_incidence_field_layers_A_B``
    default mode, generic_functions.py:1408-1465 — writes the incident
    feature ids as a space-joined string field, used for sidewalk ids
    per protoblock at osm_sidewalkreator.py:988).

    Same predicate as ``incidence_length_join``; emits per rect the
    sorted distinct incident way ids as ``"id1 id2 ..."`` plus their
    count."""
    return (_incident_pairs(rects, segments, cell_size)
            .groupBy("block_id")
            .agg(F.array_sort(F.collect_set("way_id")).alias("_ids"))
            .select("block_id",
                    F.array_join("_ids", " ").alias("inc_ids"),
                    F.size("_ids").alias("n_inc")))


def pip_join_points_polygons(points: DataFrame, polys: DataFrame,
                             cell_size: float = 128.0) -> DataFrame:
    """Generic point-in-polygon join (J9): cell candidates + an even-odd
    crossing count in the JVM.

    points: (point_id, x, y); polys: (poly_id, geometry WKB in the same
    CRS). Python only decodes each polygon once, to its edge array
    (every ring of every part, ``st_explode_segments``); the bbox, its
    cover cells, the candidate join and the refine are Spark columns.
    The refine is ``core.points_in_polygon``'s test, expression for
    expression: an edge crosses the point's rightward ray when its ends
    lie on either side of ``y`` and ``x`` is left of the intersection.
    ``AND`` evaluates its right side only when the left holds, so the
    division never sees a horizontal edge (ANSI raises on x / 0). Hot
    cells are left to AQE's skew join on the one cell equi-join.
    """
    def over_edges(agg, c):
        return agg(F.transform("edges", lambda e: e[c]))

    pl = (polys.select("poly_id",
                       st_explode_segments("geometry").alias("edges"))
               .select("poly_id", "edges",
                       over_edges(F.array_min, "ax").alias("xmin"),
                       over_edges(F.array_min, "ay").alias("ymin"),
                       over_edges(F.array_max, "ax").alias("xmax"),
                       over_edges(F.array_max, "ay").alias("ymax"))
               .withColumn("cell", box_cells(cell_size)))
    p = points.select("url", "x", "y").withColumn(
        "cell", cell_id(F.col("x"), F.col("y"), cell_size))
    x, y = F.col("x"), F.col("y")

    def crossing(e):
        return (((e["ay"] > y) != (e["by"] > y))
                & (x < (e["bx"] - e["ax"]) * (y - e["ay"])
                   / (e["by"] - e["ay"]) + e["ax"]))

    odd = F.aggregate("edges", F.lit(0), lambda n, e: n + F.when(
        crossing(e), 1).otherwise(0)) % 2 == 1
    # No edge crosses a row outside [ymin, ymax), so this codegen'd cut
    # drops candidates before the interpreted lambda without changing
    # the result (an x cut would: xint carries the division's rounding).
    # coalesce: a bare comparison would let Catalyst infer isnotnull
    # (ymin) and push it below the UDF's project, decoding twice.
    in_rows = F.coalesce((y >= F.col("ymin")) & (y < F.col("ymax")),
                         F.lit(False))
    return p.join(pl, "cell").filter(in_rows & odd).select("url", "poly_id")

