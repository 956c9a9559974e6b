"""Uniform-grid candidate joins (the engine's R-tree-prefilter analog,
cf. ``generic_functions.py:999-1020``). Pure NumPy, used inside per-tile
kernels; the cross-partition analog is the Spark cell equi-join in
``osm_sidewalkreator_spark/operators/joins.py``.

All enumeration is flat-vectorized (no per-feature Python loops): the
kernels call these on every tile, so a Python loop here multiplies into
the whole pipeline's serial floor.
"""

from __future__ import annotations

import numpy as np


def _cell_key(ix: np.ndarray, iy: np.ndarray) -> np.ndarray:
    return (ix.astype(np.int64) << 32) ^ (iy.astype(np.int64) & 0xFFFFFFFF)


def _segmented_arange(counts: np.ndarray) -> np.ndarray:
    """[0..c0-1, 0..c1-1, ...] for counts (n,) -> (sum(counts),)."""
    counts = np.asarray(counts, dtype=np.int64)
    total = int(counts.sum())
    if total == 0:
        return np.empty(0, dtype=np.int64)
    starts = np.cumsum(counts) - counts
    return np.arange(total, dtype=np.int64) - np.repeat(starts, counts)


def explode_bbox_cells(boxes: np.ndarray, bin_size: float
                       ) -> tuple[np.ndarray, np.ndarray]:
    """boxes (n,4) [xmin,ymin,xmax,ymax] -> (owner_ids, cell_keys)."""
    n = len(boxes)
    ix0 = np.floor(boxes[:, 0] / bin_size).astype(np.int64)
    iy0 = np.floor(boxes[:, 1] / bin_size).astype(np.int64)
    ix1 = np.floor(boxes[:, 2] / bin_size).astype(np.int64)
    iy1 = np.floor(boxes[:, 3] / bin_size).astype(np.int64)
    nx = ix1 - ix0 + 1
    ny = iy1 - iy0 + 1
    counts = nx * ny
    owners = np.repeat(np.arange(n, dtype=np.int64), counts)
    k = _segmented_arange(counts)
    ny_o = ny[owners]
    cx = ix0[owners] + k // ny_o
    cy = iy0[owners] + k % ny_o
    return owners, _cell_key(cx, cy)


def _gather_ranges(lo: np.ndarray, hi: np.ndarray
                   ) -> tuple[np.ndarray, np.ndarray]:
    """For parallel range arrays, return (row_ids, flat_indices) where
    row i contributes indices lo[i]..hi[i]-1."""
    counts = hi - lo
    rows = np.repeat(np.arange(len(lo), dtype=np.int64), counts)
    idx = np.repeat(lo, counts) + _segmented_arange(counts)
    return rows, idx


def seg_bboxes(segs: np.ndarray, pad: float) -> np.ndarray:
    """(n,4) segments -> (n,4) [xmin,ymin,xmax,ymax] bboxes padded by
    ``pad``."""
    return np.column_stack([
        np.minimum(segs[:, 0], segs[:, 2]) - pad,
        np.minimum(segs[:, 1], segs[:, 3]) - pad,
        np.maximum(segs[:, 0], segs[:, 2]) + pad,
        np.maximum(segs[:, 1], segs[:, 3]) + pad])


def cell_index(boxes: np.ndarray, bin_size: float
               ) -> tuple[np.ndarray, np.ndarray]:
    """(cell_keys, owners) of the boxes' cell covers, sorted by key: the
    lookup structure of ``points_in_boxes``, built once per box set."""
    owners, cells = explode_bbox_cells(boxes, bin_size)
    order = np.argsort(cells, kind="stable")
    return cells[order], owners[order]


def points_in_boxes(px: np.ndarray, py: np.ndarray,
                    index: tuple[np.ndarray, np.ndarray], boxes: np.ndarray,
                    bin_size: float, pad: float
                    ) -> tuple[np.ndarray, np.ndarray]:
    """(point_idx, box_idx) pairs where the point lies in the box padded
    by ``pad``. ``index`` is ``cell_index`` of boxes padded by at least
    ``pad`` (a wider cover only adds candidates the exact check drops)."""
    cells_s, owners_s = index
    pk = _cell_key(np.floor(px / bin_size).astype(np.int64),
                   np.floor(py / bin_size).astype(np.int64))
    lo = np.searchsorted(cells_s, pk, side="left")
    hi = np.searchsorted(cells_s, pk, side="right")
    pi, idx = _gather_ranges(lo, hi)
    bi = owners_s[idx]
    if len(pi):
        keep = ((px[pi] >= boxes[bi, 0] - pad)
                & (px[pi] <= boxes[bi, 2] + pad)
                & (py[pi] >= boxes[bi, 1] - pad)
                & (py[pi] <= boxes[bi, 3] + pad))
        pi, bi = pi[keep], bi[keep]
    return pi, bi


def join_points_to_boxes(px: np.ndarray, py: np.ndarray, boxes: np.ndarray,
                         bin_size: float) -> tuple[np.ndarray, np.ndarray]:
    """Candidate (point_idx, box_idx) pairs where the point's cell is
    covered by the box's cell range. Exact bbox check applied."""
    if len(boxes) == 0 or len(px) == 0:
        return np.empty(0, np.int64), np.empty(0, np.int64)
    return points_in_boxes(px, py, cell_index(boxes, bin_size), boxes,
                           bin_size, 0.0)


def points_near_segments(px: np.ndarray, py: np.ndarray, segs: np.ndarray,
                         tol: float) -> tuple[np.ndarray, np.ndarray]:
    """Candidate (point_idx, seg_idx) pairs for "point within ``tol`` of
    segment": the point lies in the segment's bbox padded by ``tol``.
    Cells are the median padded bbox extent (at least ``tol``)."""
    boxes = seg_bboxes(segs, tol)
    ext = np.maximum(boxes[:, 2] - boxes[:, 0], boxes[:, 3] - boxes[:, 1])
    bin_size = max(float(np.median(ext)), tol, 1e-9)
    return join_points_to_boxes(px, py, boxes, bin_size)


def first_min_per_key(key: np.ndarray, dist: np.ndarray, tie: np.ndarray
                      ) -> np.ndarray:
    """Index of each key's smallest ``dist`` (ties to the smallest
    ``tie``), in ascending key order. ``key`` must be nonempty."""
    order = np.lexsort((tie, dist, key))
    key_s = key[order]
    return order[np.concatenate([[True], key_s[1:] != key_s[:-1]])]
