"""J1 spatial-relation extraction (``qgis:extractbylocation`` predicates
0-7 via ``extract_with_spatial_relation`` generic_functions.py:314-350).

Line-feature vs axis-aligned-region predicates as pure column algebra
(whole-stage codegen; an exact DuckDB oracle uses the same formulas).
DE-9IM for a 1-D segment vs a 2-D region:

- ``intersects``: closed clip interval nonempty
- ``disjoint``: complement of intersects
- ``within``: no point in the exterior AND the clipped piece's midpoint
  lies strictly inside (a segment ON the boundary is not within)
- ``crosses``: interior∩interior nonempty AND some point in the exterior
- ``touches``: intersects but interior∩interior empty
- ``contains`` / ``equals`` / ``overlaps``: dimensionally impossible for
  line-vs-area, always false (QGIS returns the empty set for them too)

The clip interval is Liang-Barsky unrolled into greatest/least columns.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .tiling import seg_box_pairs

PREDICATES = ("intersects", "contains", "disjoint", "equals", "touches",
              "overlaps", "within", "crosses")


def _clip_interval() -> tuple[Column, Column, Column]:
    """(t0, t1, degenerate_outside) of segment∩rect, columns over
    ax/ay/bx/by/xmin/ymin/xmax/ymax."""
    dx = F.col("bx") - F.col("ax")
    dy = F.col("by") - F.col("ay")
    t0 = F.lit(0.0)
    t1 = F.lit(1.0)
    outside = F.lit(False)
    for p, q in ((-dx, F.col("ax") - F.col("xmin")),
                 (dx, F.col("xmax") - F.col("ax")),
                 (-dy, F.col("ay") - F.col("ymin")),
                 (dy, F.col("ymax") - F.col("ay"))):
        r = q / p
        t0 = F.when(p < 0, F.greatest(t0, r)).otherwise(t0)
        t1 = F.when(p > 0, F.least(t1, r)).otherwise(t1)
        outside = outside | ((p == 0) & (q < 0))
    return t0, t1, outside


def relation_flags(segs: DataFrame, rect: DataFrame) -> DataFrame:
    """Per (segment, rect) row: boolean columns for every J1 predicate.

    segs: (..., ax, ay, bx, by); rect: (xmin, ymin, xmax, ymax [, id]).
    Rect side is broadcast (AOI-sized); for many-rect workloads use
    ``extract_by_location`` below (cell equi-join).
    """
    j = segs.crossJoin(F.broadcast(rect))
    return _with_flags(j)


def _with_flags(j: DataFrame) -> DataFrame:
    t0, t1, outside = _clip_interval()
    j = (j.withColumn("_t0", t0).withColumn("_t1", t1)
          .withColumn("_out", outside))
    inter = ~F.col("_out") & (F.col("_t0") <= F.col("_t1"))
    tm = (F.col("_t0") + F.col("_t1")) / 2
    mx = F.col("ax") + tm * (F.col("bx") - F.col("ax"))
    my = F.col("ay") + tm * (F.col("by") - F.col("ay"))
    mid_interior = ((mx > F.col("xmin")) & (mx < F.col("xmax"))
                    & (my > F.col("ymin")) & (my < F.col("ymax")))
    int_int = inter & mid_interior
    has_exterior = (F.col("_t0") > 0) | (F.col("_t1") < 1)
    return (j.withColumn("intersects", inter)
            .withColumn("disjoint", ~inter)
            .withColumn("within", int_int & ~has_exterior)
            .withColumn("crosses", int_int & has_exterior)
            .withColumn("touches", inter & ~int_int)
            .withColumn("contains", F.lit(False))
            .withColumn("equals", F.lit(False))
            .withColumn("overlaps", F.lit(False))
            .drop("_t0", "_t1", "_out"))


def flag_pairs(segs: DataFrame, rects: DataFrame,
               cell_size: float) -> DataFrame:
    """Cell-candidate (segment, rect) pairs with every J1 flag attached.
    A pair repeats once per shared cell, and pairs that share no cell
    are absent (so ``disjoint`` is never true here)."""
    return _with_flags(seg_box_pairs(segs, rects, cell_size))


def extract_by_location(segs: DataFrame, rects: DataFrame,
                        predicates: list[str],
                        cell_size: float = 128.0,
                        feature_id: str = "osm_id") -> DataFrame:
    """QGIS extractbylocation: input features matching ANY predicate vs
    ANY compared feature. Cell equi-join keeps the candidate space
    bounded at scale; ``disjoint`` is computed as the anti-set of
    ``intersects`` (a disjoint pair never shares a cell, so the
    candidate join cannot see it directly)."""
    bad = set(predicates) - set(PREDICATES)
    if bad:
        raise ValueError(f"unknown predicates {bad}")
    pos = [p for p in predicates if p != "disjoint"]
    out = None
    if pos:
        flags = flag_pairs(segs, rects, cell_size)
        cond = None
        for p in pos:
            cond = F.col(p) if cond is None else (cond | F.col(p))
        hits = flags.filter(cond).select(feature_id).distinct()
        out = segs.join(hits, feature_id, "left_semi")
    if "disjoint" in predicates:
        inter = extract_by_location(segs, rects, ["intersects"],
                                    cell_size, feature_id)
        dis = segs.join(inter.select(feature_id).distinct(),
                        feature_id, "left_anti")
        out = dis if out is None else out.unionByName(dis).distinct()
    return out
