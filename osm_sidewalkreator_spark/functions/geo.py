"""Scalar geometry pandas UDFs over WKB columns.

The UDFs and the reference per-feature operations they mirror
(SURVEY.md §2.2):

- ``st_length``: the length fields of ``generic_functions.py:518-557``
- ``st_endpoints``: the first and last vertex of a line
- ``st_transform_tm`` and ``make_transform_udf``:
  ``reproject_layer_localTM`` (``generic_functions.py:619-665``)
- ``st_explode_segments``: the 2-point segments of a geometry's edges
- ``st_interpolate``: ``QgsGeometry.interpolate``
  (``osm_sidewalkreator.py:1365``)

All are Series->Series Arrow-batched (no per-row Python at the DataFrame
level; the per-geometry decode loop runs over a batch inside the worker).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from ..geometry import core, wkb
from ..geometry.projection import tm_forward, tm_inverse


@pandas_udf(T.DoubleType())
def st_length(col: pd.Series) -> pd.Series:
    out = np.empty(len(col))
    for i, blob in enumerate(col):
        t, parts = wkb.decode(blob)
        out[i] = sum(core.polyline_length(p) for p in parts if len(p) > 1)
    return pd.Series(out)


@pandas_udf(T.StructType([T.StructField("x1", T.DoubleType()),
                          T.StructField("y1", T.DoubleType()),
                          T.StructField("x2", T.DoubleType()),
                          T.StructField("y2", T.DoubleType())]))
def st_endpoints(col: pd.Series) -> pd.DataFrame:
    n = len(col)
    a = np.empty((n, 4))
    for i, blob in enumerate(col):
        _, parts = wkb.decode(blob)
        a[i, 0], a[i, 1] = parts[0][0]
        a[i, 2], a[i, 3] = parts[-1][-1]
    return pd.DataFrame({"x1": a[:, 0], "y1": a[:, 1],
                         "x2": a[:, 2], "y2": a[:, 3]})


def _reencode(t: int, parts: list[np.ndarray]) -> bytes:
    if t == wkb.POINT:
        return wkb.point_wkb(parts[0][0, 0], parts[0][0, 1])
    if t == wkb.LINESTRING:
        return wkb.linestring_wkb(parts[0])
    if t == wkb.MULTILINESTRING:
        return wkb.multilinestring_wkb(parts)
    raise ValueError(f"transform of wkb type {t} unsupported here")


def make_transform_udf(lon0: float, lat0: float, forward: bool):
    """Projection UDF factory bound to an AOI-local TM origin."""
    proj = tm_forward if forward else tm_inverse

    def xy(a: np.ndarray) -> np.ndarray:
        return np.column_stack(proj(a[:, 0], a[:, 1], lon0, lat0))

    @pandas_udf(T.BinaryType())
    def _udf(col: pd.Series) -> pd.Series:
        out = []
        for blob in col:
            t = wkb.geom_type(blob)
            if t in (wkb.POLYGON, wkb.MULTIPOLYGON):
                newp = [(xy(rings[0]), [xy(r) for r in rings[1:]])
                        for rings in wkb.decode_polygons(blob)]
                out.append(wkb.multipolygon_wkb(newp) if t == wkb.MULTIPOLYGON
                           else wkb.polygon_wkb(*newp[0]))
                continue
            out.append(_reencode(t, [xy(p) for p in wkb.decode(blob)[1]]))
        return pd.Series(out)

    return _udf


def st_transform_tm(col, lon0: float, lat0: float):
    """EPSG:4326 WKB -> local TM meters WKB (P2/P3 of SURVEY §2.2)."""
    return make_transform_udf(lon0, lat0, True)(col)


_SEG_SCHEMA = T.ArrayType(T.StructType([
    T.StructField("ax", T.DoubleType()), T.StructField("ay", T.DoubleType()),
    T.StructField("bx", T.DoubleType()), T.StructField("by", T.DoubleType()),
]))


@pandas_udf(_SEG_SCHEMA)
def st_explode_segments(col: pd.Series) -> pd.Series:
    """(Multi)LineString WKB -> array of 2-point segments (to explode).

    A (Multi)Polygon gives every edge of every ring of every part, each
    ring closed back to its first vertex (``core.points_in_ring``'s
    wrap-around). Zero-length segments are dropped either way; a row
    without a segment gets an empty array."""
    flat, nv, rows = wkb.decode_column(col, wkb.decode_paths)
    segs, part = core.explode_parts(flat, nv)
    cut = np.searchsorted(rows[part], np.arange(len(col) + 1))
    recs = [dict(zip(("ax", "ay", "bx", "by"), s)) for s in segs.tolist()]
    return pd.Series([recs[a:b] for a, b in zip(cut[:-1], cut[1:])])


def st_interpolate(col, frac_col):
    """P13 ``QgsGeometry.interpolate`` (osm_sidewalkreator.py:1365) as
    a scalar function: the point at fraction ``frac`` of the polyline's
    length (frac is clamped to [0, 1] via the underlying distance
    clamp). Returns struct(x, y)."""
    @pandas_udf(T.StructType([T.StructField("x", T.DoubleType()),
                              T.StructField("y", T.DoubleType())]))
    def _interp(blobs: pd.Series, fracs: pd.Series) -> pd.DataFrame:
        xs, ys = [], []
        for blob, fr in zip(blobs, fracs):
            if blob is None:
                xs.append(None)
                ys.append(None)
                continue
            cs = wkb.decode_lines(bytes(blob))[0]
            p = core.interpolate_along(
                cs, float(fr) * core.polyline_length(cs))
            xs.append(float(p[0]))
            ys.append(float(p[1]))
        return pd.DataFrame({"x": xs, "y": ys})
    return _interp(col, frac_col)
