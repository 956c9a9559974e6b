"""Scalar geometry pandas UDFs over WKB columns.

Each mirrors a reference per-feature operation (SURVEY.md §2.2):

- ``st_length`` / ``st_area`` / ``st_perimeter``: ``create_area_field`` /
  ``create_perimeter_field`` (``generic_functions.py:518-557``)
- ``st_centroid``: ``gen_centroids_layer`` (``generic_functions.py:363-370``)
- ``st_transform_tm`` / ``st_transform_4326``: ``reproject_layer_localTM``
  (``generic_functions.py:619-665``)
- ``st_num_points``: ``count_of_vertex`` (``generic_functions.py:1615-1630``)

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


@pandas_udf(T.DoubleType())
def st_area(col: pd.Series) -> pd.Series:
    out = np.empty(len(col))
    for i, blob in enumerate(col):
        total = 0.0
        for rings in wkb.decode_polygons(blob):
            total += abs(core.ring_signed_area(rings[0]))
            for h in rings[1:]:
                total -= abs(core.ring_signed_area(h))
        out[i] = total
    return pd.Series(out)


@pandas_udf(T.DoubleType())
def st_perimeter(col: pd.Series) -> pd.Series:
    out = np.empty(len(col))
    for i, blob in enumerate(col):
        out[i] = sum(core.ring_perimeter(r)
                     for rings in wkb.decode_polygons(blob) for r in rings)
    return pd.Series(out)


@pandas_udf(T.StructType([T.StructField("x", T.DoubleType()),
                          T.StructField("y", T.DoubleType())]))
def st_centroid(col: pd.Series) -> pd.DataFrame:
    xs = np.empty(len(col))
    ys = np.empty(len(col))
    for i, blob in enumerate(col):
        t, parts = wkb.decode(blob)
        if t in (wkb.POLYGON, wkb.MULTIPOLYGON):
            cx, cy = core.ring_centroid(parts[0])
        elif t == wkb.POINT:
            cx, cy = parts[0][0]
        else:
            allc = np.vstack(parts)
            cx, cy = float(allc[:, 0].mean()), float(allc[:, 1].mean())
        xs[i], ys[i] = cx, cy
    return pd.DataFrame({"x": xs, "y": ys})


@pandas_udf(T.IntegerType())
def st_num_points(col: pd.Series) -> pd.Series:
    out = np.empty(len(col), dtype=np.int32)
    for i, blob in enumerate(col):
        _, parts = wkb.decode(blob)
        out[i] = sum(len(p) for p in parts)
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

    @pandas_udf(T.BinaryType())
    def _udf(col: pd.Series) -> pd.Series:
        out = []
        for blob in col:
            t, parts = wkb.decode(blob)
            if t in (wkb.POLYGON, wkb.MULTIPOLYGON):
                polys = wkb.decode_polygons(blob)
                newp = []
                for rings in polys:
                    nr = []
                    for r in rings:
                        if forward:
                            x, y = tm_forward(r[:, 0], r[:, 1], lon0, lat0)
                        else:
                            x, y = tm_inverse(r[:, 0], r[:, 1], lon0, lat0)
                        nr.append(np.column_stack([x, y]))
                    newp.append((nr[0], nr[1:]))
                out.append(wkb.multipolygon_wkb(newp) if t == wkb.MULTIPOLYGON
                           else wkb.polygon_wkb(newp[0][0], newp[0][1]))
                continue
            np_parts = []
            for p in parts:
                if forward:
                    x, y = tm_forward(p[:, 0], p[:, 1], lon0, lat0)
                else:
                    x, y = tm_inverse(p[:, 0], p[:, 1], lon0, lat0)
                np_parts.append(np.column_stack([x, y]))
            out.append(_reencode(t, np_parts))
        return pd.Series(out)

    return _udf


def st_transform_tm(col, lon0: float, lat0: float):
    """EPSG:4326 WKB -> local TM meters WKB (P2/P3 of SURVEY §2.2)."""
    return make_transform_udf(lon0, lat0, True)(col)


def st_transform_4326(col, lon0: float, lat0: float):
    """Local TM meters WKB -> EPSG:4326 WKB."""
    return make_transform_udf(lon0, lat0, False)(col)


_SEG_SCHEMA = T.ArrayType(T.StructType([
    T.StructField("ax", T.DoubleType()), T.StructField("ay", T.DoubleType()),
    T.StructField("bx", T.DoubleType()), T.StructField("by", T.DoubleType()),
]))


@pandas_udf(_SEG_SCHEMA)
def st_explode_segments(col: pd.Series) -> pd.Series:
    """(Multi)LineString WKB -> array of 2-point segments (to explode).

    A (Multi)Polygon gives every edge of every ring of every part, each
    ring closed back to its first vertex (``core.points_in_ring``'s
    wrap-around). Zero-length segments are dropped either way."""
    out = []
    for blob in col:
        segs = []
        if wkb.geom_type(blob) in (wkb.POLYGON, wkb.MULTIPOLYGON):
            lines = [np.vstack([r, r[:1]])
                     for rings in wkb.decode_polygons(blob) for r in rings]
        else:
            lines = wkb.decode_lines(blob)
        for p in lines:
            s = core.explode_polyline_to_segments(p)
            segs.extend({"ax": float(a), "ay": float(b),
                         "bx": float(c), "by": float(d)}
                        for a, b, c, d in s)
        out.append(segs)
    return pd.Series(out)


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
