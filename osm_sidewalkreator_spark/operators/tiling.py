"""Integer-grid cell / tile encoding as JVM-side Spark columns.

The engine's H3/S2 analog (BASELINE.json north_rule): a cell id packs
``(floor(x/size), floor(y/size))`` into one int64. All encodings are
``pyspark.sql.functions`` expressions — whole-stage-codegen'd, no Python.
The cross-partition join pattern is: encode both sides to cells
(points: 1 cell; segments and boxes: bbox cover, exploded), equi-join on
``cell``, then refine exactly. The cover rule lives here once
(``seg_cells``/``box_cells``; ``seg_box_pairs`` is the segment x box
candidate join). Hot cells are split by AQE's skew join; every refine
is JVM column math, so nothing is salted.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def cell_id(x: Column, y: Column, size: float) -> Column:
    """Pack a point's grid cell into int64: (ix << 32) | (iy & 0xffffffff)."""
    ix = F.floor(x / F.lit(size)).cast("long")
    iy = F.floor(y / F.lit(size)).cast("long")
    return F.shiftleft(ix, 32).bitwiseOR(iy.bitwiseAND(F.lit(0xFFFFFFFF)))


def cover_cells(xmin: Column, ymin: Column, xmax: Column, ymax: Column,
                size: float, pad: float = 0.0) -> Column:
    """Array of cell ids covering a (padded) bbox — JVM-side via
    sequence + transform + flatten; explode downstream for the equi-join."""
    ix0 = F.floor((xmin - F.lit(pad)) / F.lit(size)).cast("long")
    ix1 = F.floor((xmax + F.lit(pad)) / F.lit(size)).cast("long")
    iy0 = F.floor((ymin - F.lit(pad)) / F.lit(size)).cast("long")
    iy1 = F.floor((ymax + F.lit(pad)) / F.lit(size)).cast("long")
    xs = F.sequence(ix0, ix1)
    ys = F.sequence(iy0, iy1)
    return F.flatten(F.transform(
        xs, lambda ix: F.transform(
            ys, lambda iy: F.shiftleft(ix, 32).bitwiseOR(
                iy.bitwiseAND(F.lit(0xFFFFFFFF))))))


def neighbor_cells(x: Column, y: Column, size: float) -> Column:
    """The 3x3 cell ring around a point (kNN candidate expansion, J7)."""
    return cover_cells(x, y, x, y, size, pad=size)


def seg_cells(size: float, pad: float = 0.0) -> Column:
    """Exploded cells of the (padded) bbox of segment ``ax/ay/bx/by``."""
    return F.explode(cover_cells(
        F.least("ax", "bx"), F.least("ay", "by"),
        F.greatest("ax", "bx"), F.greatest("ay", "by"), size, pad=pad))


def box_cells(size: float) -> Column:
    """Exploded cells of the box ``xmin/ymin/xmax/ymax``."""
    return F.explode(cover_cells(F.col("xmin"), F.col("ymin"),
                                 F.col("xmax"), F.col("ymax"), size))


def seg_box_overlap() -> Column:
    """Closed bbox overlap of segment ``ax/ay/bx/by`` and box
    ``xmin/ymin/xmax/ymax``."""
    return ((F.greatest("ax", "bx") >= F.col("xmin"))
            & (F.least("ax", "bx") <= F.col("xmax"))
            & (F.greatest("ay", "by") >= F.col("ymin"))
            & (F.least("ay", "by") <= F.col("ymax")))


def seg_box_pairs(segs: DataFrame, boxes: DataFrame,
                  size: float) -> DataFrame:
    """Candidate (segment, box) pairs that share a grid cell: both
    sides' covers exploded and equi-joined on ``cell``. A pair repeats
    once per shared cell; callers dedup or aggregate."""
    return (segs.withColumn("cell", seg_cells(size))
            .join(boxes.withColumn("cell", box_cells(size)), "cell")
            .drop("cell"))
