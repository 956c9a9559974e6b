"""Planar noding: split a bag of segments at all mutual intersections.

This is the engine's replacement for the GEOS noder that underlies the
reference's ``native:polygonize`` / ``native:lineintersections`` /
``qgis:splitwithlines`` calls (``generic_functions.py:195-217``,
``:381-388``, ``:462-470``). Pure NumPy; candidate pairs come from a
uniform grid hash (the R-tree prefilter analog of
``generic_functions.py:999-1020``).
"""

from __future__ import annotations

from collections import OrderedDict

import numpy as np

from .gridhash import cell_index, seg_bboxes

SNAP = 1e-5  # coordinate snap grid, meters (0.01 mm)


# The cache is bounded by TOTAL BYTES, not entry count: one (n, k)
# entry is two O(n^2) int64 arrays (n=2048 -> ~33.5 MB), so an
# entry-count LRU (the first fix) still allowed multi-GB residency on
# a long-lived executor whose cell-group sizes were diverse. Entries
# above the whole budget are computed uncached; older entries evict
# LRU-first when the budget fills.
_TRIU_BUDGET_BYTES = 64 * 2 ** 20


def _triu_nbytes(val: tuple[np.ndarray, np.ndarray]) -> int:
    return val[0].nbytes + val[1].nbytes


_triu_store: "OrderedDict[tuple[int, int], tuple[np.ndarray, np.ndarray]]" \
    = OrderedDict()
_triu_store_bytes = 0


def _triu_cached(n: int, k: int) -> tuple[np.ndarray, np.ndarray]:
    """``np.triu_indices`` with a byte-budgeted LRU cache — group sizes
    repeat heavily (disc arcs bucket whole rings into one cell), and
    rebuilding the index per group was a measured hotspot. Callers
    only read the arrays."""
    global _triu_store_bytes
    key = (n, k)
    hit = _triu_store.get(key)
    if hit is not None:
        _triu_store.move_to_end(key)
        return hit
    val = np.triu_indices(n, k=k)
    nbytes = _triu_nbytes(val)
    if nbytes <= _TRIU_BUDGET_BYTES:
        _triu_store[key] = val
        _triu_store_bytes += nbytes
        while _triu_store_bytes > _TRIU_BUDGET_BYTES:
            _, old = _triu_store.popitem(last=False)
            _triu_store_bytes -= _triu_nbytes(old)
    return val


def snap_round(a: np.ndarray, snap: float = SNAP) -> np.ndarray:
    return np.round(np.asarray(a, dtype=np.float64) / snap) * snap


def _candidate_pairs(segs: np.ndarray, bin_size: float) -> np.ndarray:
    """Grid-hash bbox overlap candidates -> (k,2) index pairs i<j."""
    cells_s, segs_s = cell_index(seg_bboxes(segs, 0.0), bin_size)
    # vectorized within-group pair enumeration: for offset d, element i
    # pairs with i+d when both are in the same cell group (loop runs
    # max-group-size times, each iteration fully vectorized)
    starts = np.flatnonzero(np.concatenate([[True], cells_s[1:] != cells_s[:-1]]))
    sizes = np.diff(np.concatenate([starts, [len(cells_s)]]))
    max_run = int(sizes.max()) if len(sizes) else 0
    pairs = []
    # small groups: offset-scan (O(N) slice compare per offset d)
    small_cap = min(max_run, 32)
    for d in range(1, small_cap):
        same = np.flatnonzero(cells_s[:-d] == cells_s[d:])
        if len(same):
            pairs.append(np.column_stack([segs_s[same], segs_s[same + d]]))
    # rare large groups: explicit triangular enumeration (k=cap gives
    # exactly the offsets the scan above did not cover)
    if max_run > small_cap:
        gi, gj = [], []
        for g in np.flatnonzero(sizes > small_cap):
            s = starts[g]
            grp = segs_s[s:s + sizes[g]]
            ii, jj = _triu_cached(len(grp), small_cap)
            gi.append(grp[ii])
            gj.append(grp[jj])
        pairs.append(np.column_stack([np.concatenate(gi),
                                      np.concatenate(gj)]))
    if not pairs:
        return np.empty((0, 2), dtype=np.int64)
    pr = np.concatenate(pairs)
    lo = np.minimum(pr[:, 0], pr[:, 1])
    hi = np.maximum(pr[:, 0], pr[:, 1])
    keep = lo != hi
    key = lo[keep] * (len(segs) + 1) + hi[keep]
    _, idx = np.unique(key, return_index=True)
    return np.column_stack([lo[keep][idx], hi[keep][idx]])


def node_segments(segs: np.ndarray, snap: float = SNAP
                  ) -> tuple[np.ndarray, np.ndarray]:
    """Split segments at all mutual intersections.

    Parameters
    ----------
    segs : (n,4) float64 [x1,y1,x2,y2]

    Returns
    -------
    noded : (m,4) snapped sub-segments (zero-length dropped)
    parent : (m,) index into the input array
    """
    segs = np.asarray(segs, dtype=np.float64)
    if len(segs) == 0:
        return segs.reshape(0, 4), np.empty(0, dtype=np.int64)
    segs = snap_round(segs, snap)
    lens = np.hypot(segs[:, 2] - segs[:, 0], segs[:, 3] - segs[:, 1])
    keep = lens > 0
    segs = segs[keep]
    base_parent = np.flatnonzero(keep)
    lens = lens[keep]
    n = len(segs)
    if n == 0:
        return segs, base_parent
    # bin size: 2x median length, but never so small that one long edge
    # explodes into thousands of cells (mixed tiny-arc/long-straight
    # inputs are the norm after ring simplification)
    span = max(float(segs[:, [0, 2]].max() - segs[:, [0, 2]].min()),
               float(segs[:, [1, 3]].max() - segs[:, [1, 3]].min()), 1e-9)
    bin_size = max(float(np.median(lens)) * 2.0, span / 128.0, snap * 16)
    pairs = _candidate_pairs(segs, bin_size)

    # accumulated split points per segment: (seg_idx, x, y)
    acc_seg: list[np.ndarray] = []
    acc_pts: list[np.ndarray] = []

    if len(pairs):
        i, j = pairs[:, 0], pairs[:, 1]
        a1x, a1y, b1x, b1y = segs[i, 0], segs[i, 1], segs[i, 2], segs[i, 3]
        a2x, a2y, b2x, b2y = segs[j, 0], segs[j, 1], segs[j, 2], segs[j, 3]
        d1x, d1y = b1x - a1x, b1y - a1y
        d2x, d2y = b2x - a2x, b2y - a2y
        denom = d1x * d2y - d1y * d2x
        ex, ey = a2x - a1x, a2y - a1y
        scale = lens[i] * lens[j]
        parallel = np.abs(denom) <= 1e-12 * scale
        # --- proper (non-parallel) crossings ---
        with np.errstate(divide="ignore", invalid="ignore"):
            t = (ex * d2y - ey * d2x) / denom
            u = (ex * d1y - ey * d1x) / denom
        tol_t = snap / np.maximum(lens[i], snap)
        tol_u = snap / np.maximum(lens[j], snap)
        hit = (~parallel & (t >= -tol_t) & (t <= 1 + tol_t)
               & (u >= -tol_u) & (u <= 1 + tol_u))
        if hit.any():
            px = a1x[hit] + np.clip(t[hit], 0, 1) * d1x[hit]
            py = a1y[hit] + np.clip(t[hit], 0, 1) * d1y[hit]
            pts = np.column_stack([snap_round(px, snap), snap_round(py, snap)])
            acc_seg.append(i[hit]); acc_pts.append(pts)
            acc_seg.append(j[hit]); acc_pts.append(pts)
        # --- collinear overlap ---
        coll = parallel & (np.abs(ex * d1y - ey * d1x) <= 1e-9 * np.maximum(scale, snap))
        if coll.any():
            ci, cj = i[coll], j[coll]
            # project each pair-mate's endpoints onto the other segment
            # (vectorized over all collinear pairs x 2 endpoints)
            for src, dst in ((ci, cj), (cj, ci)):
                sdx = segs[src, 2] - segs[src, 0]
                sdy = segs[src, 3] - segs[src, 1]
                ll = lens[src] * lens[src]
                for ep in (0, 1):
                    qx = segs[dst, 2 * ep]
                    qy = segs[dst, 2 * ep + 1]
                    tt = ((qx - segs[src, 0]) * sdx
                          + (qy - segs[src, 1]) * sdy) / ll
                    m = (tt > 0) & (tt < 1)
                    if m.any():
                        acc_seg.append(src[m])
                        acc_pts.append(np.column_stack([qx[m], qy[m]]))

    if acc_seg:
        all_seg = np.concatenate(acc_seg)
        all_pts = np.concatenate(acc_pts)
    else:
        all_seg = np.empty(0, dtype=np.int64)
        all_pts = np.empty((0, 2))

    # build sub-segments — flat-vectorized chain construction: every
    # segment contributes its two endpoints (t=0, t=1) plus its split
    # points (parametric t), one lexsort orders all chains at once, and
    # consecutive same-segment rows become the sub-segments.
    ax, ay = segs[:, 0], segs[:, 1]
    dx, dy = segs[:, 2] - ax, segs[:, 3] - ay
    if len(all_seg):
        tt = ((all_pts[:, 0] - ax[all_seg]) * dx[all_seg]
              + (all_pts[:, 1] - ay[all_seg]) * dy[all_seg]) \
            / (lens[all_seg] * lens[all_seg])
        row_seg = np.concatenate([np.arange(n), np.arange(n), all_seg])
        row_t = np.concatenate([np.zeros(n), np.ones(n), tt])
        row_x = np.concatenate([ax, segs[:, 2], all_pts[:, 0]])
        row_y = np.concatenate([ay, segs[:, 3], all_pts[:, 1]])
    else:
        row_seg = np.concatenate([np.arange(n), np.arange(n)])
        row_t = np.concatenate([np.zeros(n), np.ones(n)])
        row_x = np.concatenate([ax, segs[:, 2]])
        row_y = np.concatenate([ay, segs[:, 3]])
    order = np.lexsort((row_t, row_seg))
    row_seg = row_seg[order]
    row_x = row_x[order]
    row_y = row_y[order]
    same = row_seg[:-1] == row_seg[1:]
    nz = (row_x[:-1] != row_x[1:]) | (row_y[:-1] != row_y[1:])
    keep2 = same & nz
    noded = np.column_stack([row_x[:-1][keep2], row_y[:-1][keep2],
                             row_x[1:][keep2], row_y[1:][keep2]])
    parent = base_parent[row_seg[:-1][keep2]]
    if len(noded) == 0:
        return np.empty((0, 4)), np.empty(0, dtype=np.int64)
    return noded, parent


def dedup_undirected(segs: np.ndarray, parent: np.ndarray,
                     snap: float = SNAP) -> tuple[np.ndarray, np.ndarray]:
    """Remove duplicate undirected segments (keep first occurrence)."""
    if len(segs) == 0:
        return segs, parent
    q = np.round(segs / snap).astype(np.int64)
    a = q[:, :2]
    b = q[:, 2:]
    swap = (b[:, 0] < a[:, 0]) | ((b[:, 0] == a[:, 0]) & (b[:, 1] < a[:, 1]))
    lo = np.where(swap[:, None], b, a)
    hi = np.where(swap[:, None], a, b)
    key = np.ascontiguousarray(np.hstack([lo, hi])).view(
        np.dtype((np.void, 32))).ravel()
    _, idx = np.unique(key, return_index=True)
    idx.sort()
    return segs[idx], parent[idx]
