"""The planar graph of a noded segment set: its vertices, the successor
rule and the cycle walk.

Gives the engine its ``native:polygonize`` equivalent
(``generic_functions.py:195-217``, used for protoblocks at
``osm_sidewalkreator.py:724``) and the ring tracer of ``morph.py``
(sidewalk axis lines are the boundary rings of the closed street
buffer). Both walk the faces of one planar graph with the same three
parts: the SNAP vertex key (``build_vertices``), the successor of each
directed edge (``next_edges``) and the walk that follows it
(``cycles``).

Standard planar-subdivision traversal: at every vertex the outgoing
directed edges are sorted by angle; the successor of directed edge (u,v)
is the edge at v immediately *clockwise* of the reversed direction
(v,u). Cycles traced this way have their interior on the left; on an
undirected edge set (every edge doubled), counter-clockwise (positive
signed area) cycles are the bounded faces.
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


def next_edges(verts: np.ndarray, tail: np.ndarray, head: np.ndarray
               ) -> np.ndarray:
    """Successor of every directed edge ``tail[d] -> head[d]``: among
    the edges leaving ``head[d]``, the one with the largest angle
    strictly below the reverse direction's (less 1e-12), wrapping to
    the largest angle if none is below; -1 where no edge leaves.

    The reverse angle is the twin's own, ``arctan2`` of tail minus
    head: on a doubled edge set the twin's angle is bit-equal to it, so
    the successor is the edge just before the twin (a dead end turns
    back along its twin). Negating the forward angle's arguments would
    give a horizontal +x edge's twin -pi (``-0.0``), not +pi.

    Vectorized as one merged sort: candidates keyed by tail and queries
    keyed by head share the ordering; the predecessor CANDIDATE of each
    query slot inside its key group is the answer. Queries sort BEFORE
    candidates at equal value (tie column), preserving the strict `<`;
    tied-angle candidate runs resolve to their run start (the lowest
    edge id).
    """
    m = len(tail)
    if m == 0:
        return np.empty(0, dtype=np.int64)
    pt, ph = verts[tail], verts[head]
    ang = np.arctan2(ph[:, 1] - pt[:, 1], ph[:, 0] - pt[:, 0])
    rev = np.arctan2(pt[:, 1] - ph[:, 1], pt[:, 0] - ph[:, 0])
    keys = np.concatenate([tail, head])
    vals = np.concatenate([ang, rev - 1e-12])
    tie = np.concatenate([np.ones(m, np.int8), np.zeros(m, np.int8)])
    edge_id = np.concatenate([np.arange(m), np.arange(m)])
    order = np.lexsort((tie, vals, keys))
    k_s = keys[order]
    v_s = vals[order]
    is_cand = tie[order] == 1
    pos = np.arange(2 * m)
    new_grp = np.empty(2 * m, dtype=bool)
    new_grp[0] = True
    new_grp[1:] = k_s[1:] != k_s[:-1]
    run_new = is_cand.copy()
    run_new[1:] &= (~is_cand[:-1]) | new_grp[1:] | (v_s[1:] != v_s[:-1])
    run_first = np.maximum.accumulate(np.where(run_new, pos, -1))
    ff = np.maximum.accumulate(np.where(is_cand, run_first, -1))
    grp_first = np.maximum.accumulate(np.where(new_grp, pos, 0))
    grp_id = np.cumsum(new_grp) - 1
    grp_last_cand = np.full(grp_id[-1] + 1, -1, dtype=np.int64)
    np.maximum.at(grp_last_cand, grp_id[is_cand], pos[is_cand])
    qpos = pos[~is_cand]
    pred = ff[qpos]
    valid = pred >= grp_first[qpos]
    glc = grp_last_cand[grp_id[qpos]]
    wrap = np.where(glc >= 0, run_first[np.maximum(glc, 0)], -1)
    chosen = np.where(valid, pred, wrap)
    ok = chosen >= 0
    nxt = np.full(m, -1, dtype=np.int64)
    qd = edge_id[order][qpos]
    nxt[qd[ok]] = edge_id[order][np.maximum(chosen, 0)][ok]
    return nxt


def cycles(nxt: np.ndarray) -> list[tuple[list[int], bool]]:
    """Follow ``nxt`` from every edge not yet walked, in edge-id order:
    (edge ids, closed) per walk. A walk stops at an edge already walked
    or at -1; it is closed iff it came back to its first edge."""
    nxt = nxt.tolist()
    seen = [False] * len(nxt)
    out = []
    for d0 in range(len(nxt)):
        if seen[d0]:
            continue
        walk = []
        d = d0
        while d >= 0 and not seen[d]:
            seen[d] = True
            walk.append(d)
            d = nxt[d]
        out.append((walk, d == d0))
    return out


def polygonize(segs: np.ndarray, snap: float = SNAP,
               min_area: float = 1e-6) -> list[np.ndarray]:
    """Noded segments -> list of CCW face rings ((k,2) arrays, not closed).

    Equivalent of shapely/GEOS polygonize on noded linework; bounded faces
    only (signed area above ``min_area``). Every edge is walked in both
    directions. Nested face handling (a face ring that contains another)
    is left to callers — for street networks every CCW cycle is a city
    block ("protoblock", osm_sidewalkreator.py:724).
    """
    verts, evi = build_vertices(segs, snap)
    u, v = evi[evi[:, 0] != evi[:, 1]].T
    tail, head = np.concatenate([u, v]), np.concatenate([v, u])
    out = []
    for walk, _ in cycles(next_edges(verts, tail, head)):
        ring = verts[tail[walk]]
        if ring_signed_area(ring) > min_area:
            out.append(ring)
    return out
