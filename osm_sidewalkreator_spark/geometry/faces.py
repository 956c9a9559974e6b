"""Half-edge face extraction over a noded segment set.

Gives the engine its ``native:polygonize`` equivalent
(``generic_functions.py:195-217``, used for protoblocks at
``osm_sidewalkreator.py:724``), and owns the SNAP vertex key
(``build_vertices``) that ``morph.py``'s directed ring tracing also
uses.

Standard planar-subdivision traversal: at every vertex the outgoing
directed edges are sorted by angle; the successor of directed edge (u,v)
is the edge at v immediately *clockwise* of the reversed edge (v,u).
Cycles traced this way have their interior on the left; counter-clockwise
(positive signed area) cycles are the bounded faces.
"""

from __future__ import annotations

import numpy as np

from .core import ring_signed_area
from .noding import SNAP


def build_vertices(segs: np.ndarray, snap: float = SNAP
                   ) -> tuple[np.ndarray, np.ndarray]:
    """Unique snapped endpoints.

    Returns (verts (k,2) float, edge_vidx (n,2) int) — vertex ids per
    segment endpoint. Zero-length (same-vertex) edges are kept here;
    callers should have dropped them during noding.
    """
    pts = np.vstack([segs[:, :2], segs[:, 2:]])
    q = np.round(pts / snap).astype(np.int64)
    key = np.ascontiguousarray(q).view(np.dtype((np.void, 16))).ravel()
    uniq, inv = np.unique(key, return_inverse=True)
    # representative coordinates: first occurrence of each unique key
    first = np.full(len(uniq), len(key), dtype=np.int64)
    np.minimum.at(first, inv, np.arange(len(key)))
    verts = pts[first]
    n = len(segs)
    edge_vidx = np.column_stack([inv[:n], inv[n:]])
    return verts, edge_vidx


def trace_faces(verts: np.ndarray, edge_vidx: np.ndarray
                ) -> list[dict]:
    """Trace all face cycles.

    Returns a list of dicts: {"vids": [vertex ids...], "area": signed_area,
    "edges": [(eid, forward_bool), ...]}. Every directed edge belongs to
    exactly one cycle.
    """
    n = len(edge_vidx)
    if n == 0:
        return []
    u = edge_vidx[:, 0]
    v = edge_vidx[:, 1]
    # drop self-loops
    ok = u != v
    eids = np.flatnonzero(ok)
    u, v = u[ok], v[ok]
    m = len(u)
    # directed edges: 2m entries; dir edge d in [0,2m): origin o, dest t
    origin = np.concatenate([u, v])
    dest = np.concatenate([v, u])
    ang = np.arctan2(verts[dest][:, 1] - verts[origin][:, 1],
                     verts[dest][:, 0] - verts[origin][:, 0])
    # sort directed edges by (origin, angle)
    order = np.lexsort((ang, origin))
    # position of each directed edge in its origin group
    sorted_origin = origin[order]
    grp_start = np.searchsorted(sorted_origin, np.arange(len(verts)), side="left")
    grp_end = np.searchsorted(sorted_origin, np.arange(len(verts)), side="right")
    pos_in_group = np.empty(2 * m, dtype=np.int64)
    rank = np.arange(2 * m)
    pos_in_group[order] = rank - grp_start[sorted_origin]
    # twin of directed edge d: d+m if d<m else d-m
    twin = np.concatenate([np.arange(m, 2 * m), np.arange(0, m)])
    # next(d): at vertex w=dest[d], take twin t=(w->origin[d]); successor is
    # the outgoing edge at w at position (pos(t)-1) mod deg(w)
    deg = grp_end - grp_start
    t_pos = pos_in_group[twin]
    t_origin = origin[twin]  # == dest
    nxt_pos = (t_pos - 1) % deg[t_origin]
    nxt = order[grp_start[t_origin] + nxt_pos]

    visited = np.zeros(2 * m, dtype=bool)
    faces = []
    for d0 in range(2 * m):
        if visited[d0]:
            continue
        cyc_dirs = []
        d = d0
        while not visited[d]:
            visited[d] = True
            cyc_dirs.append(d)
            d = nxt[d]
        vids = [int(origin[d]) for d in cyc_dirs]
        area = ring_signed_area(verts[vids])
        edges = [(int(eids[d % m]), d < m) for d in cyc_dirs]
        faces.append({"vids": vids, "area": area, "edges": edges})
    return faces


def polygonize(segs: np.ndarray, snap: float = SNAP,
               min_area: float = 1e-6) -> list[np.ndarray]:
    """Noded segments -> list of CCW face rings ((k,2) arrays, not closed).

    Equivalent of shapely/GEOS polygonize on noded linework; bounded faces
    only (positive signed area). Nested face handling (a face ring that
    contains another) is left to callers — for street networks every CCW
    cycle is a city block ("protoblock", osm_sidewalkreator.py:724).
    """
    verts, evi = build_vertices(segs, snap)
    out = []
    for f in trace_faces(verts, evi):
        if f["area"] > min_area:
            out.append(verts[f["vids"]])
    return out
