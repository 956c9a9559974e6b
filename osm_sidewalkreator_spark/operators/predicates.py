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
This module owns the segment x rect clip: ``_clipped`` (the
positive-length filter) and ``_piece_coords`` (the piece's endpoints)
serve the overlays, the AOI clip of ``plans/pipeline.py`` and the
rasterizer.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .tiling import seg_box_pairs

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


def _clipped(j: DataFrame) -> DataFrame:
    """Rows of ``j`` whose segment meets its rect in a piece of positive
    length, with the piece's parameter interval as ``_t0``/``_t1``."""
    t0, t1, outside = _clip_interval()
    return (j.withColumn("_t0", t0).withColumn("_t1", t1)
             .filter(~outside & (t0 < t1)))


def _piece_coords() -> list[Column]:
    """Endpoint columns ``px_a, py_a, px_b, py_b`` of the ``[_t0, _t1]``
    piece; untouched endpoints stay bit-identical (t=0/1 interpolation
    would drift by an ULP: ax + 1.0*(bx-ax) != bx in general)."""
    t0, t1 = F.col("_t0"), F.col("_t1")
    dx = F.col("bx") - F.col("ax")
    dy = F.col("by") - F.col("ay")
    return [
        F.when(t0 == 0.0, F.col("ax"))
         .otherwise(F.col("ax") + t0 * dx).alias("px_a"),
        F.when(t0 == 0.0, F.col("ay"))
         .otherwise(F.col("ay") + t0 * dy).alias("py_a"),
        F.when(t1 == 1.0, F.col("bx"))
         .otherwise(F.col("ax") + t1 * dx).alias("px_b"),
        F.when(t1 == 1.0, F.col("by"))
         .otherwise(F.col("ay") + t1 * dy).alias("py_b"),
    ]


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

