"""Vectorized coordinate math (lengths, areas, interpolation, PIP,
point-segment distance, segment crossing).

Reference semantics anchors:
- length/area/perimeter columns: ``generic_functions.py:518-557``
- interpolate along line: ``generic_functions.py:1330-1335``
- perpendicular vector: ``osm_sidewalkreator.py:1421-1429``
- duplicate-vertex removal: ``generic_functions.py:98-105`` (tol
  ``duplicate_points_tol=0.1``, parameters.py:163)
"""

from __future__ import annotations

import numpy as np


def polyline_length(coords: np.ndarray) -> float:
    d = np.diff(coords, axis=0)
    return float(np.hypot(d[:, 0], d[:, 1]).sum())


def segment_lengths(segs: np.ndarray) -> np.ndarray:
    """segs: (n,4) [x1,y1,x2,y2] -> (n,) lengths."""
    return np.hypot(segs[:, 2] - segs[:, 0], segs[:, 3] - segs[:, 1])


def _next1(a: np.ndarray) -> np.ndarray:
    """a shifted left by one with wraparound (np.roll(a, -1) without its
    per-call dispatch overhead — these run once per ring)."""
    return np.concatenate((a[1:], a[:1]))


def ring_signed_area(coords: np.ndarray) -> float:
    """Shoelace; positive = CCW. Ring may or may not repeat first point."""
    x, y = coords[:, 0], coords[:, 1]
    return 0.5 * float(np.dot(x, _next1(y)) - np.dot(y, _next1(x)))


def ring_perimeter(coords: np.ndarray) -> float:
    d = np.diff(np.vstack([coords, coords[:1]]), axis=0)
    return float(np.hypot(d[:, 0], d[:, 1]).sum())


def ring_centroid(coords: np.ndarray) -> tuple[float, float]:
    """Area-weighted polygon centroid of a single ring."""
    x, y = coords[:, 0], coords[:, 1]
    xn, yn = _next1(x), _next1(y)
    cross = x * yn - xn * y
    a = cross.sum() / 2.0
    if abs(a) < 1e-12:  # degenerate: fall back to vertex mean
        return float(x.mean()), float(y.mean())
    cx = float(((x + xn) * cross).sum() / (6.0 * a))
    cy = float(((y + yn) * cross).sum() / (6.0 * a))
    return cx, cy


def interpolate_along(coords: np.ndarray, dist: float) -> np.ndarray:
    """Point at ``dist`` meters along a polyline (clamped to ends).

    Mirrors QgsGeometry.interpolate used at osm_sidewalkreator.py:1365.
    """
    seg = np.diff(coords, axis=0)
    seglen = np.hypot(seg[:, 0], seg[:, 1])
    cum = np.concatenate([[0.0], np.cumsum(seglen)])
    total = cum[-1]
    d = min(max(dist, 0.0), total)
    i = int(np.searchsorted(cum, d, side="right") - 1)
    i = min(i, len(seglen) - 1)
    if seglen[i] == 0:
        return coords[i].copy()
    t = (d - cum[i]) / seglen[i]
    return coords[i] + t * seg[i]


def dedup_vertices(coords: np.ndarray, tol: float = 0.1) -> np.ndarray:
    """Drop consecutive vertices closer than ``tol`` (keep endpoints).

    Mirrors native:removeduplicatevertices (generic_functions.py:98-105).
    """
    if len(coords) <= 2:
        return coords
    keep = [0]
    for i in range(1, len(coords) - 1):
        p = coords[keep[-1]]
        if np.hypot(coords[i, 0] - p[0], coords[i, 1] - p[1]) >= tol:
            keep.append(i)
    keep.append(len(coords) - 1)
    return coords[keep]


def points_in_ring(px: np.ndarray, py: np.ndarray, ring: np.ndarray) -> np.ndarray:
    """Even-odd ray-casting PIP: many points vs one ring. Vectorized over
    points x edges. Boundary points are not guaranteed either way."""
    x1, y1 = ring[:, 0], ring[:, 1]
    x2, y2 = _next1(x1), _next1(y1)
    px = px[:, None]
    py = py[:, None]
    cond = (y1 > py) != (y2 > py)
    with np.errstate(divide="ignore", invalid="ignore"):
        xint = (x2 - x1) * (py - y1) / (y2 - y1) + x1
    crossings = (cond & (px < xint)).sum(axis=1)
    return (crossings % 2) == 1


def points_in_polygon(px: np.ndarray, py: np.ndarray,
                      rings: list[np.ndarray]) -> np.ndarray:
    """PIP for polygon with holes: in shell XOR in any hole (even-odd over
    all rings is equivalent)."""
    inside = np.zeros(len(px), dtype=bool)
    for r in rings:
        inside ^= points_in_ring(px, py, r)
    return inside


def closest_on_segments(px: np.ndarray, py: np.ndarray, segs: np.ndarray
                        ) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Closest point of each segment to each point, and its distance.

    ``px``/``py`` broadcast against the (m,) columns of ``segs`` (m,4):
    (m,) points pair elementwise, (n,1) points give (n,m) results.
    Returns (cx, cy, dist); a zero-length segment's closest point is its
    start."""
    ax, ay, bx, by = segs[:, 0], segs[:, 1], segs[:, 2], segs[:, 3]
    dx, dy = bx - ax, by - ay
    ll = dx * dx + dy * dy
    with np.errstate(divide="ignore", invalid="ignore"):
        t = ((px - ax) * dx + (py - ay) * dy) / ll
    t = np.where(ll == 0, 0.0, np.clip(t, 0.0, 1.0))
    cx, cy = ax + t * dx, ay + t * dy
    return cx, cy, np.hypot(px - cx, py - cy)


def segments_cross(a1: np.ndarray, d1: np.ndarray, segs: np.ndarray
                   ) -> tuple[np.ndarray, np.ndarray]:
    """Closed segment x segment test of a1 + t*d1 against the segments
    ``segs`` [x1,y1,x2,y2] = a2 + u*d2, t and u in [0, 1]; (..., 2)
    ``a1``/``d1`` and (..., 4) ``segs`` broadcast. Parallel pairs
    (|d1 x d2| <= 1e-12) never cross. Returns (hit, t)."""
    a2 = segs[..., :2]
    d2 = segs[..., 2:] - a2
    denom = d1[..., 0] * d2[..., 1] - d1[..., 1] * d2[..., 0]
    e = a2 - a1
    with np.errstate(divide="ignore", invalid="ignore"):
        t = (e[..., 0] * d2[..., 1] - e[..., 1] * d2[..., 0]) / denom
        u = (e[..., 0] * d1[..., 1] - e[..., 1] * d1[..., 0]) / denom
    hit = ((np.abs(denom) > 1e-12) & (t >= 0) & (t <= 1)
           & (u >= 0) & (u <= 1))
    return hit, t


def explode_parts(flat: np.ndarray, nv) -> tuple[np.ndarray, np.ndarray]:
    """A batch of polylines -> their 2-point segments.

    ``flat`` (N,2) holds every part's vertices back to back, ``nv`` the
    vertex count of each part. Returns the (M,4) [x1,y1,x2,y2] segments
    in part and vertex order, zero-length ones dropped, and the index of
    the part each came from."""
    nv = np.asarray(nv, dtype=np.int64)
    sel = np.ones(len(flat), dtype=bool)
    sel[np.cumsum(nv)[nv > 0] - 1] = False      # each part's last vertex
    ai = np.flatnonzero(sel)
    segs = np.hstack([flat[ai], flat[ai + 1]])
    keep = (segs[:, 0] != segs[:, 2]) | (segs[:, 1] != segs[:, 3])
    part = np.repeat(np.arange(len(nv)), np.maximum(nv - 1, 0))
    return segs[keep], part[keep]
