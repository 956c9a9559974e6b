"""Minimal WKB codec (little-endian, 2D) in pure NumPy.

Replaces the reference's reliance on QGIS/GEOS geometry objects
(``/root/reference/generic_functions.py:1062-1116``) with a byte-level
codec so geometry columns are plain Spark ``BinaryType``.

Supported: Point(1), LineString(2), Polygon(3), MultiPoint(4),
MultiLineString(5), MultiPolygon(6).
"""

from __future__ import annotations

import struct

import numpy as np

POINT, LINESTRING, POLYGON = 1, 2, 3
MULTIPOINT, MULTILINESTRING, MULTIPOLYGON = 4, 5, 6

_HDR = struct.Struct("<BI")
_U32 = struct.Struct("<I")
_D2 = struct.Struct("<2d")


# ---------- encode ----------

def point_wkb(x: float, y: float) -> bytes:
    return _HDR.pack(1, POINT) + _D2.pack(x, y)


def linestring_wkb(coords: np.ndarray) -> bytes:
    c = np.ascontiguousarray(coords, dtype="<f8")
    return _HDR.pack(1, LINESTRING) + _U32.pack(len(c)) + c.tobytes()


def polygon_wkb(shell: np.ndarray, holes: list[np.ndarray] | None = None) -> bytes:
    rings = [shell] + list(holes or [])
    out = [_HDR.pack(1, POLYGON), _U32.pack(len(rings))]
    for r in rings:
        c = np.ascontiguousarray(r, dtype="<f8")
        out.append(_U32.pack(len(c)))
        out.append(c.tobytes())
    return b"".join(out)


def multilinestring_wkb(lines: list[np.ndarray]) -> bytes:
    out = [_HDR.pack(1, MULTILINESTRING), _U32.pack(len(lines))]
    for ln in lines:
        out.append(linestring_wkb(ln))
    return b"".join(out)


def multipolygon_wkb(polys: list[tuple[np.ndarray, list[np.ndarray]]]) -> bytes:
    out = [_HDR.pack(1, MULTIPOLYGON), _U32.pack(len(polys))]
    for shell, holes in polys:
        out.append(polygon_wkb(shell, holes))
    return b"".join(out)


# ---------- decode ----------

def geom_type(wkb: bytes) -> int:
    _, t = _HDR.unpack_from(wkb, 0)
    return t & 0xFF  # mask Z/M/SRID flag variants


def _read_coords(wkb: bytes, off: int) -> tuple[np.ndarray, int]:
    (n,) = _U32.unpack_from(wkb, off)
    off += 4
    arr = np.frombuffer(wkb, dtype="<f8", count=2 * n, offset=off).reshape(n, 2)
    return arr, off + 16 * n


def _read(wkb: bytes, off: int) -> tuple[int, list[list[np.ndarray]], int]:
    """The geometry at ``off`` -> (type, its coordinate arrays grouped
    by part, end offset). Point, LineString and Polygon are one part (a
    polygon's arrays are its rings, shell first); a Multi* has one part
    per member."""
    _, t = _HDR.unpack_from(wkb, off)
    t &= 0xFF  # mask Z/M/SRID flag variants
    off += _HDR.size
    if t == POINT:
        arr = np.frombuffer(wkb, dtype="<f8", count=2, offset=off).reshape(1, 2)
        return t, [[arr]], off + 16
    if t == LINESTRING:
        arr, off = _read_coords(wkb, off)
        return t, [[arr]], off
    if t not in (POLYGON, MULTIPOINT, MULTILINESTRING, MULTIPOLYGON):
        raise ValueError(f"unsupported wkb type {t}")
    (n,) = _U32.unpack_from(wkb, off)
    off += 4
    if t == POLYGON:
        rings = []
        for _ in range(n):
            r, off = _read_coords(wkb, off)
            rings.append(r)
        return t, [rings], off
    parts = []
    for _ in range(n):
        _, sub, off = _read(wkb, off)
        parts += sub
    return t, parts, off


def decode(wkb: bytes) -> tuple[int, list[np.ndarray]]:
    """Decode any supported geometry to (type, list of coordinate arrays).

    Points -> one (1,2) array; LineString -> one (n,2); Polygon -> one array
    per ring (shell first); Multi* -> concatenation of each part's arrays.
    For MultiPolygon, ring grouping is recoverable via ``decode_polygons``.
    """
    t, parts, _ = _read(wkb, 0)
    return t, [a for part in parts for a in part]


def decode_lines(wkb: bytes) -> list[np.ndarray]:
    """LineString or MultiLineString -> list of (n,2) arrays."""
    t, parts = decode(wkb)
    if t not in (LINESTRING, MULTILINESTRING):
        raise ValueError(f"expected (multi)linestring, got {t}")
    return parts


def decode_polygons(wkb: bytes) -> list[list[np.ndarray]]:
    """Polygon or MultiPolygon -> list of [shell, hole, ...] ring lists."""
    t, parts, _ = _read(wkb, 0)
    if t not in (POLYGON, MULTIPOLYGON):
        raise ValueError(f"expected (multi)polygon, got {t}")
    return parts


def decode_rings(wkb: bytes) -> list[np.ndarray]:
    """Polygon or MultiPolygon -> every ring of every part, shells and
    holes, each as stored."""
    return [r for rings in decode_polygons(wkb) for r in rings]


def decode_paths(wkb: bytes) -> list[np.ndarray]:
    """The polylines whose segments are the geometry's edges: the lines
    of a (Multi)LineString, or every ring of a (Multi)Polygon closed
    back to its first vertex (a ring stored closed gains a zero-length
    last edge, which ``core.explode_parts`` drops)."""
    if geom_type(wkb) in (POLYGON, MULTIPOLYGON):
        return [np.vstack([r, r[:1]]) for r in decode_rings(wkb)]
    return decode_lines(wkb)


def decode_column(blobs, decode_one) -> tuple[np.ndarray, np.ndarray,
                                              np.ndarray]:
    """A batch of WKB values -> the parts ``decode_one`` gives for each,
    as ``core.explode_parts`` takes them: one flat (N,2) vertex array
    and each part's vertex count, plus the row each part came from."""
    parts: list[np.ndarray] = []
    rows: list[int] = []
    for i, blob in enumerate(blobs):
        ps = decode_one(bytes(blob))
        parts += ps
        rows += [i] * len(ps)
    nv = np.fromiter(map(len, parts), np.int64, len(parts))
    flat = np.concatenate(parts) if parts else np.empty((0, 2))
    return flat, nv, np.asarray(rows, dtype=np.int64)
