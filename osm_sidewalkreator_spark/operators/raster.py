"""Raster<->vector joins as pure Spark column algebra.

Raster -> vector: ``dem_kerb_slope`` samples the DEM's finite-difference
slope at kerb points (``q_dem_kerb_slope``, ``bench.py``'s
``dem_kerb_slope``).

Vector -> raster: ``rasterize_segments`` burns line features onto a
regular grid, one output row per touched cell with exact in-cell
length — the DataFrame analog of a GDAL length-weighted rasterize
(reference raster surface: the plugin only ships a raster test asset,
``test/tenbytenraster.asc``; the grid math here matches the DEM table
layout of FIXTURES.md §6).

Burn plan (100 TB-safe): candidate cells come from the segment's bbox
cover (JVM ``sequence``/``transform``/``explode`` — no Python), the
exact in-cell length comes from the Liang-Barsky parameter-interval
clip of ``operators/predicates.py`` against the cell's rect (the clip
the overlays and the AOI clip use, whole-stage-codegen'd column
expressions), zero-length candidates are filtered, and one
``groupBy(cell)`` aggregates the burn. One shuffle, on the cell key;
AQE splits skewed hot cells as in every other cell join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import params as P
from .predicates import _clipped
from .tiling import seg_cells


def dem_kerb_slope(kerbs: DataFrame, dem: DataFrame) -> DataFrame:
    """Slope (percent) of the DEM at each kerb point.

    ``kerbs`` has ``fid``, ``x``, ``y``; ``dem`` has ``cell_x``,
    ``cell_y``, ``elev_m`` on the ``P.DEM_CELL_M`` grid. Returns
    ``fid`` and ``slope_pct``, the central-difference slope of the
    kerb's cell, for every kerb whose four neighbour cells exist.
    """
    cs = P.DEM_CELL_M
    k = kerbs.withColumn("cx", F.floor(F.col("x") / cs).cast("int")) \
             .withColumn("cy", F.floor(F.col("y") / cs).cast("int"))
    # ONE pass over the DEM: each cell contributes its elevation to its
    # four neighbors tagged by direction; join once and pivot. One scan
    # and one shuffle of the raster, where a self-join per direction
    # would take four.
    offs = F.array(*[
        F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"),
                 F.lit(tag).alias("t"))
        for dx, dy, tag in ((1, 0, "e_e"), (-1, 0, "e_w"),
                            (0, 1, "e_n"), (0, -1, "e_s"))])
    c = (dem.select("cell_x", "cell_y", "elev_m",
                    F.explode(offs).alias("o"))
         .select((F.col("cell_x") - F.col("o.dx")).alias("cx"),
                 (F.col("cell_y") - F.col("o.dy")).alias("cy"),
                 F.col("o.t").alias("t"), "elev_m"))
    g = (k.join(c, ["cx", "cy"])
         .groupBy("fid")
         .agg(*[F.max(F.when(F.col("t") == tag, F.col("elev_m")))
                .alias(tag)
                for tag in ("e_e", "e_w", "e_n", "e_s")],
              F.countDistinct("t").alias("_n"))
         .filter(F.col("_n") == 4))   # inner-join-all-4 semantics:
    # 4 DISTINCT directions present — a duplicate DEM cell row would
    # otherwise let a 3-direction kerb through with a null neighbor
    slope = F.sqrt(F.pow((F.col("e_e") - F.col("e_w")) / (2 * cs), 2)
                   + F.pow((F.col("e_n") - F.col("e_s")) / (2 * cs), 2))
    return g.select("fid", (F.round(slope * 100, 4) + 0.0).alias("slope_pct"))


def rasterize_segments(segs: DataFrame, cell_size: float) -> DataFrame:
    """Burn segments (ax, ay, bx, by) onto the grid.

    Returns one row per touched cell: ``cell_x``, ``cell_y``,
    ``n_segs`` (segments with positive in-cell length) and ``len_m``
    (exact summed in-cell length).
    """
    cs = float(cell_size)
    s = segs.withColumn("_cell", seg_cells(cs))
    cx = F.shiftright(F.col("_cell"), 32).cast("long")  # arithmetic:
    # sign of a negative cell_x survives the unpack
    # sign-extend the low 32 bits (negative cell_y survives the pack)
    cy = F.shiftright(F.shiftleft(
        F.col("_cell").bitwiseAND(F.lit(0xFFFFFFFF)), 32), 32)
    s = (s.withColumn("_cx", cx).withColumn("_cy", cy)
         .withColumn("xmin", F.col("_cx") * F.lit(cs))
         .withColumn("ymin", F.col("_cy") * F.lit(cs))
         .withColumn("xmax", F.col("xmin") + F.lit(cs))
         .withColumn("ymax", F.col("ymin") + F.lit(cs)))
    dx = F.col("bx") - F.col("ax")
    dy = F.col("by") - F.col("ay")
    seg_len = F.sqrt(dx * dx + dy * dy)
    in_len = (F.col("_t1") - F.col("_t0")) * seg_len
    return (_clipped(s).withColumn("_len", in_len)
            .filter(F.col("_len") > 0)
            .groupBy(F.col("_cx").alias("cell_x"),
                     F.col("_cy").alias("cell_y"))
            .agg(F.count("*").alias("n_segs"),
                 F.sum("_len").alias("len_m")))
