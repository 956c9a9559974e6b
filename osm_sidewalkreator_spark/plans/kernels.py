"""Per-tile geometry kernels: the sidewalk/crossing/kerb pipeline on raw
NumPy arrays (no Spark). Each function mirrors a reference stage; the
Spark layer calls ``tile_pipeline`` inside ``groupBy(tile).applyInPandas``.

Reference anchors (headless Processing path — the one that produced the
golden fixtures under ``assets/test_outputs/``):

- street self-split: ``generic_functions.py:462-470`` via
  qgis:splitwithlines, used at ``osm_sidewalkreator.py:794-800``
- dead-end removal: ``generic_functions.py:1647-1675``
- polygonize -> protoblocks: ``generic_functions.py:195-217``,
  ``osm_sidewalkreator.py:724``
- sidewalk buffer/close/donut: ``sidewalk_generation_logic.py:292-430``
- crossings + kerbs: ``full_sidewalkreator_bbox_algorithm.py:515-938``
"""

from __future__ import annotations

import numpy as np

from .. import params as P
from ..geometry import core, faces, gridhash, morph, noding


# ---------- street network cleaning ----------

def split_streets(segs: np.ndarray, widths: np.ndarray
                  ) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Self-split street segments at all mutual intersections (J5).

    Returns (noded_segs (m,4), widths (m,), parent_idx (m,)). Width (and
    any other parent attribute) is inherited through the parent index.
    """
    noded, parent = noding.node_segments(segs)
    noded, parent = noding.dedup_undirected(noded, parent)
    return noded, np.asarray(widths, dtype=np.float64)[parent], parent


def _endpoint_connected(cur: np.ndarray, tol: float
                        ) -> tuple[np.ndarray, np.ndarray]:
    """Per-endpoint connectivity over one segment set: (start_hit (n,),
    end_hit (n,)) — endpoint lies within ``tol`` of any OTHER segment.

    Grid-hash candidate join (the reference's R-tree prefilter analog):
    endpoints vs tol-expanded segment bboxes, then the exact pairwise
    distance — O(n + candidates), no n^2 scan.
    """
    n = len(cur)
    if n <= 1:
        # a lone segment has no "other" to touch
        z = np.zeros(n, dtype=bool)
        return z, z.copy()
    px = np.concatenate([cur[:, 0], cur[:, 2]])
    py = np.concatenate([cur[:, 1], cur[:, 3]])
    owner = np.tile(np.arange(n, dtype=np.int64), 2)
    pi, bi = gridhash.points_near_segments(px, py, cur, tol)
    m = bi != owner[pi]
    pi, bi = pi[m], bi[m]
    hit = np.zeros(2 * n, dtype=bool)
    if len(pi):
        d = core.closest_on_segments(px[pi], py[pi], cur[bi])[2]
        hit[pi[d <= tol]] = True
    return hit[:n], hit[n:]


def _within_buffered_blocks(segs: np.ndarray, blocks: list[np.ndarray],
                            buffer: float) -> np.ndarray:
    """Segment-within-dissolved-buffered-protoblocks test (the reference
    cul-de-sac checker geometry: dissolved protoblocks + 0.5 m buffer,
    ``osm_sidewalkreator.py:774-786``). A test point is inside the
    buffered union iff it is inside some block ring OR within ``buffer``
    of its boundary; a segment is "within" when its endpoints and
    midpoint all are (exact for convex faces, tight for street-block
    faces whose concavities exceed segment length)."""
    n = len(segs)
    if n == 0 or not blocks:
        return np.zeros(n, dtype=bool)
    px = np.concatenate([segs[:, 0], segs[:, 2],
                         (segs[:, 0] + segs[:, 2]) * 0.5])
    py = np.concatenate([segs[:, 1], segs[:, 3],
                         (segs[:, 1] + segs[:, 3]) * 0.5])
    inside = np.zeros(3 * n, dtype=bool)
    for blk in blocks:
        todo = ~inside
        if not todo.any():
            break
        tx, ty = px[todo], py[todo]
        hit = core.points_in_ring(tx, ty, blk)
        near = ~hit
        if near.any():
            edges = morph.rings_to_edges([blk])
            d = core.closest_on_segments(tx[near][:, None],
                                         ty[near][:, None], edges)[2]
            hit[near] = d.min(axis=1) <= buffer
        inside[todo] |= hit
    return inside[:n] & inside[n:2 * n] & inside[2 * n:]


def dangle_keep_mask(segs: np.ndarray, blocks: list[np.ndarray],
                     bounds: tuple | None = None) -> np.ndarray:
    """Single-pass dead-end removal mask with the cul-de-sac exemption
    (``remove_lines_from_no_block`` ``generic_functions.py:859-918``,
    called at ``osm_sidewalkreator.py:803-810`` with the dissolved
    A10-filtered protoblocks buffered 0.5 m; the GUI default
    dead_end_iters == 0 is exactly one pass WITH the exemption).

    ``bounds`` is the tile halo box: an endpoint lying on it is a cut
    point where the street continues in a neighboring tile, so it counts
    as connected (without this, tiling would invent dangles at every
    halo edge and per-tile output would diverge from the global run).
    """
    tol = 1e-6
    n = len(segs)
    if n == 0:
        return np.zeros(0, dtype=bool)
    hs, he = _endpoint_connected(segs, tol)
    if bounds is not None:
        x0, y0, x1, y1 = bounds

        def on_edge(qx, qy):
            return ((np.abs(qx - x0) <= tol) | (np.abs(qx - x1) <= tol)
                    | (np.abs(qy - y0) <= tol) | (np.abs(qy - y1) <= tol))

        hs = hs | on_edge(segs[:, 0], segs[:, 1])
        he = he | on_edge(segs[:, 2], segs[:, 3])
    keep = hs & he
    if not keep.all():
        exempt = _within_buffered_blocks(segs[~keep], blocks,
                                         P.PROTOBLOCKS_BUFFER)
        keep[np.flatnonzero(~keep)[exempt]] = True
    return keep


def filter_protoblocks_by_existing_sidewalks(
        blocks: list[np.ndarray], esw_segs: np.ndarray,
        esw_way_ids: np.ndarray,
        esw_way_lens: np.ndarray) -> list[np.ndarray]:
    """A10: drop protoblocks already surrounded by mapped sidewalks
    (osm_sidewalkreator.py:733-762,
    full_sidewalkreator_bbox_algorithm.py:1440-1487).

    For each protoblock, incident existing-sidewalk WAYS (any segment
    not disjoint from the block polygon) contribute their FULL feature
    length once (generic_functions.py:1448-1456); drop the block when
    ``((inc_len/4)^2 / area) * 100 > P.CUTOFF_PERCENT_PROTOBLOCK`` — the
    (len/4)^2 square approximation of the enclosed sidewalk loop's area.
    """
    if not blocks or len(esw_segs) == 0:
        return blocks
    esw_way_ids = np.asarray(esw_way_ids, dtype=object)
    esw_way_lens = np.asarray(esw_way_lens, dtype=np.float64)
    kept = []
    for ring in blocks:
        inc = core.points_in_ring(esw_segs[:, 0], esw_segs[:, 1], ring) \
            | core.points_in_ring(esw_segs[:, 2], esw_segs[:, 3], ring)
        if not inc.all():
            edges = morph.rings_to_edges([ring])
            a = esw_segs[:, None, :2]
            cross, _ = core.segments_cross(a, esw_segs[:, None, 2:] - a,
                                           edges)
            inc |= cross.any(axis=1)
        if not inc.any():
            kept.append(ring)
            continue
        ids = esw_way_ids[inc]
        _, first = np.unique(ids.astype(str), return_index=True)
        inc_len = float(esw_way_lens[inc][first].sum())
        area = abs(core.ring_signed_area(ring))
        ratio = (((inc_len / 4.0) ** 2) / area) * 100.0 if area > 0 else 0.0
        if ratio <= P.CUTOFF_PERCENT_PROTOBLOCK:
            kept.append(ring)
    return kept


def protoblocks(noded_segs: np.ndarray) -> list[np.ndarray]:
    """Polygonize the noded street network into city-block rings (G6).

    Dangles never form faces, so pre-removal is not required for
    correctness (the reference removes them for performance).
    """
    return faces.polygonize(noded_segs, min_area=1.0)


# ---------- building-distance width shrink ----------

def min_segseg_dists(asegs: np.ndarray, bsegs: np.ndarray) -> np.ndarray:
    """Min distance from each segment in ``asegs`` to ANY segment in
    ``bsegs`` (0 when they intersect). Chunked pairwise broadcast."""
    chunk = 64
    n = len(asegs)
    out = np.full(n, np.inf)
    if len(bsegs) == 0 or n == 0:
        return out
    for s in range(0, n, chunk):
        e = min(s + chunk, n)
        A = asegs[s:e]
        # endpoint-to-segment distances both ways (T, M)
        d1 = core.closest_on_segments(A[:, :1], A[:, 1:2], bsegs)[2]
        d2 = core.closest_on_segments(A[:, 2:3], A[:, 3:], bsegs)[2]
        d3 = core.closest_on_segments(bsegs[:, :1], bsegs[:, 1:2], A)[2]
        d4 = core.closest_on_segments(bsegs[:, 2:3], bsegs[:, 3:], A)[2]
        d = np.minimum(np.minimum(d1, d2),
                       np.minimum(d3.T, d4.T))
        # zero out crossing pairs
        a = A[:, None, :2]
        cross, _ = core.segments_cross(a, A[:, None, 2:] - a, bsegs)
        d[cross] = 0.0
        out[s:e] = d.min(axis=1)
    return out


def shrink_widths_by_buildings(segs: np.ndarray, widths: np.ndarray,
                               building_segs: np.ndarray) -> np.ndarray:
    """G20 building-overlap width shrink (osm_sidewalkreator.py:1843-1893):

    ac = w/2 + d_to_add/2; dif = (dist_to_buildings - min_d) - ac;
    if dif < 0 -> new_width = max(2*(ac + dif), min_width), with d_to_add,
    min_d and min_width = P.D_TO_ADD_TO_EACH_SIDE, P.MIN_D_TO_BUILDING and
    P.MINIMAL_BUFFER.
    """
    widths = np.asarray(widths, dtype=np.float64).copy()
    if len(building_segs) == 0 or len(segs) == 0:
        return widths
    d = min_segseg_dists(np.asarray(segs, dtype=np.float64),
                         np.asarray(building_segs, dtype=np.float64))
    ac = widths / 2 + P.D_TO_ADD_TO_EACH_SIDE / 2
    dif = (d - P.MIN_D_TO_BUILDING) - ac
    new_w = np.maximum(2 * (ac + dif), P.MINIMAL_BUFFER)
    return np.where(dif < 0, new_w, widths)


# ---------- sidewalk generation ----------

def sidewalk_rings(noded_segs: np.ndarray, widths: np.ndarray
                   ) -> tuple[list[np.ndarray], list[np.ndarray]]:
    """Street network -> sidewalk axis rings.

    buffer(width/2 + P.D_TO_ADD_TO_EACH_SIDE/2, round) -> dissolve
    -> close(P.DEFAULT_CURVE_RADIUS) -> hole rings
    -> drop area/perimeter < P.MIN_AREA_PERIMETER_RATIO
    (sidewalk_generation_logic.py:292-430 + filter at :44-77).

    Returns (sidewalk_rings, closed_exterior_rings). The exterior rings
    are returned for the protoblock-disjoint filter and zone logic.
    """
    nseg = P.ARC_SEGMENTS_PER_QUADRANT
    radii = (np.asarray(widths, dtype=np.float64) / 2
             + P.D_TO_ADD_TO_EACH_SIDE / 2)
    u_sets, ext_u, holes_u = morph.buffer_union(noded_segs, radii, nseg)
    ext_c, holes_c = morph.morphological_close(u_sets, ext_u + holes_u,
                                               P.DEFAULT_CURVE_RADIUS, nseg)
    out = []
    for h in holes_c:
        area = core.ring_signed_area(h)
        perim = core.ring_perimeter(h)
        if perim > 0 and area / perim >= P.MIN_AREA_PERIMETER_RATIO:
            out.append(h)
    return out, ext_c


# ---------- crossings + kerbs ----------

def crossings_and_kerbs(noded_segs: np.ndarray, widths: np.ndarray,
                        sidewalk_segs: np.ndarray,
                        way_ids: np.ndarray | None = None,
                        enlarge: bool = False):
    """Crossing 5-point polylines + kerb points at street endpoints.

    Mirrors ``generate_crossings_and_kerbs``
    (full_sidewalkreator_bbox_algorithm.py:515-938): for each split street
    segment endpoint with >=1 other street within
    ``P.ENDPOINT_SEARCH_BUFFER``, interpolate a crossing center inward,
    cast a perpendicular ray of half-span (max_w/2 + curve + d_to_add +
    0.5, with ``P.DEFAULT_CURVE_RADIUS`` and ``P.D_TO_ADD_TO_EACH_SIDE``)
    both ways, take the nearest sidewalk intersections as A/E, kerbs B/D
    at ``P.KERB_PERC`` along A->C and E->C.

    ``way_ids``: optional per-segment parent-way labels. Segments of the
    SAME way never count as "other streets" at an endpoint — the
    reference only ever has split points at true junctions, so this
    keeps pre-split piece joints (scale tiling) and polyline interior
    vertices from minting spurious crossings.

    Quality attributes (GUI path, osm_sidewalkreator.py:1642-1674):
    every crossing carries ``ortho_len_dif`` = round(len - (d_to_add +
    own_width), 3), ``above_tol`` = len > (d_to_add + own_width) *
    (1 + P.PERC_TOL_CROSSINGS/100), and ``nearest_centerpoint`` = rounded
    distance to the closest other crossing center within ``P.KNN_MAX_DIST``
    (:1727-1764; None when no neighbor). Crossings above tolerance are
    kept: the GUI's optional drop is a checkbox that defaults to off,
    as in the headless path.

    ``enlarge=True`` runs the GUI's bounded resolution loop
    (osm_sidewalkreator.py:3035-3170) instead of the single-shot ray:
    per side, a missing sidewalk intersection doubles that side's reach;
    a crossing longer than the tolerance steps the center inward by
    ``P.INCREMENT_INWARD`` (while it stays short of the segment midpoint);
    longer than ``P.ABS_MAX_CROSSING_LEN`` or ``P.MAX_CROSSINGS_ITERATIONS``
    iterations kills the crossing. The headless path (golden fixtures)
    is the default single-shot.

    Returns (crossings, kerbs):
    - crossings: list of dicts {coords (5,2), length, center (2,),
      ortho_len_dif, above_tol, nearest_centerpoint}
    - kerbs: list of dicts {xy (2,), crossing_index}
    Ids are assigned by the caller (deterministic per-tile ordering).
    """
    n = len(noded_segs)
    crossings: list[dict] = []
    kerbs: list[dict] = []
    if n == 0:
        return crossings, kerbs
    noded_segs = np.asarray(noded_segs, dtype=np.float64)
    widths = np.asarray(widths, dtype=np.float64)
    lens = core.segment_lengths(noded_segs)

    # ---- endpoint adjacency via grid-hash candidates (vectorized) ----
    search_buffer = P.ENDPOINT_SEARCH_BUFFER
    # endpoint within search_buffer of another segment; the reference
    # buffers the endpoint and tests polygon intersection (:683-701).
    # A point within distance r of a segment lies inside the segment's
    # bbox padded by r, so the grid join yields a candidate superset.
    ep_x = np.concatenate([noded_segs[:, 0], noded_segs[:, 2]])
    ep_y = np.concatenate([noded_segs[:, 1], noded_segs[:, 3]])
    ep_seg = np.tile(np.arange(n), 2)
    ep_end = np.repeat(np.array([0, 1]), n)       # 0 = P0, 1 = PF
    boxes = gridhash.seg_bboxes(noded_segs, search_buffer)
    med = float(np.median(lens[lens > 0])) if (lens > 0).any() else 1.0
    bin_size = max(search_buffer * 4, med)
    pi, bi = gridhash.join_points_to_boxes(ep_x, ep_y, boxes, bin_size)
    if len(pi):
        d = core.closest_on_segments(ep_x[pi], ep_y[pi], noded_segs[bi])[2]
        near = (d <= search_buffer) & (bi != ep_seg[pi])
        if way_ids is not None:
            w = np.asarray(way_ids)
            near &= w[bi] != w[ep_seg[pi]]
        pi, bi = pi[near], bi[near]
    has = np.zeros(2 * n, dtype=bool)
    max_w = np.full(2 * n, -np.inf)
    if len(pi):
        has[pi] = True
        np.maximum.at(max_w, pi, widths[bi])
    valid = has & (lens[ep_seg] > 0)
    if not valid.any():
        return crossings, kerbs

    # ---- per-endpoint crossing-center construction (vectorized) ----
    sel = np.flatnonzero(valid)
    seg_i = ep_seg[sel]
    end_i = ep_end[sel]
    a = noded_segs[seg_i, :2]
    b = noded_segs[seg_i, 2:]
    ln = lens[seg_i]
    mw = max_w[sel]
    d_interp = mw * 0.5 + P.DEFAULT_CURVE_RADIUS + P.D_TO_ADD_TO_EACH_SIDE
    d_interp = np.where(d_interp > 0.5 * ln, ln * 0.1, d_interp)  # :742-744

    def _interp(dist):
        t = np.clip(dist / ln, 0.0, 1.0)
        return a + t[:, None] * (b - a)

    is_p0 = end_i == 0
    raw_d_interp = (mw * 0.5 + P.DEFAULT_CURVE_RADIUS
                    + P.D_TO_ADD_TO_EACH_SIDE)
    di_valid = raw_d_interp <= 0.5 * ln   # GUI "curr_distance" usable
    center = np.where(is_p0[:, None], _interp(d_interp),
                      _interp(ln - d_interp))
    sd = np.where(is_p0,
                  np.minimum(d_interp + 1.0, np.maximum(0.0, ln - 1e-6)),
                  np.maximum(0.0, ln - d_interp - 1.0))
    dirpt = _interp(sd)
    dvec = dirpt - center
    norm = np.hypot(dvec[:, 0], dvec[:, 1])
    ok = norm > 0
    sel_ok = np.flatnonzero(ok)
    center = center[sel_ok]
    half_span = (mw[sel_ok] * 0.5 + P.DEFAULT_CURVE_RADIUS
                 + P.D_TO_ADD_TO_EACH_SIDE + 0.5)
    perp = np.column_stack([-dvec[sel_ok, 1], dvec[sel_ok, 0]]) \
        / norm[sel_ok][:, None] * half_span[:, None]
    a2p, b2p = a[sel_ok], b[sel_ok]
    d_int = d_interp[sel_ok]
    di_valid = di_valid[sel_ok]
    seg_i, end_i, ln = seg_i[sel_ok], end_i[sel_ok], ln[sel_ok]
    w_self = widths[seg_i]

    # deterministic order: by (center_x, center_y, seg, end)
    order = np.lexsort((end_i, seg_i,
                        np.round(center[:, 1], 6),
                        np.round(center[:, 0], 6)))
    center, perp, ln = center[order], perp[order], ln[order]
    w_self, a2p, b2p = w_self[order], a2p[order], b2p[order]
    d_int, di_valid, end_i = d_int[order], di_valid[order], end_i[order]

    # min-seg-len drop (:827)
    keep = ln >= P.MIN_SEG_LEN_FOR_CROSSING
    center, perp, ln = center[keep], perp[keep], ln[keep]
    w_self, a2p, b2p = w_self[keep], a2p[keep], b2p[keep]
    d_int, di_valid, end_i = d_int[keep], di_valid[keep], end_i[keep]
    m = len(center)
    if m == 0 or len(sidewalk_segs) == 0:
        return crossings, kerbs

    sw = np.asarray(sidewalk_segs, dtype=np.float64)
    if enlarge:
        # GUI bounded resolution loop instead of the single-shot ray
        best_pt, center, dead = _gui_enlargement_loop(
            center, perp, sw, a2p, b2p, ln, end_i == 0, d_int, di_valid,
            (P.D_TO_ADD_TO_EACH_SIDE + w_self)
            * (1 + P.PERC_TOL_CROSSINGS / 100.0))
    else:
        best_pt = _single_shot_rays(center, perp, sw)
        dead = np.zeros(m, dtype=bool)
    both = (~np.isnan(best_pt[:, 0, 0]) & ~np.isnan(best_pt[:, 1, 0])
            & ~dead)
    sel_r = np.flatnonzero(both)
    if len(sel_r) == 0:
        return crossings, kerbs
    A = best_pt[sel_r, 0]
    E = best_pt[sel_r, 1]
    C = center[sel_r]
    B = A + (C - A) * P.KERB_PERC
    D = E + (C - E) * P.KERB_PERC
    coords = np.stack([A, B, C, D, E], axis=1)    # (k,5,2)
    dif = np.diff(coords, axis=1)
    hyp = np.hypot(dif[:, :, 0], dif[:, :, 1])
    # sequential left-to-right sum matches polyline_length's np.sum order
    length = ((hyp[:, 0] + hyp[:, 1]) + hyp[:, 2]) + hyp[:, 3]

    # quality attributes (osm_sidewalkreator.py:1660-1676)
    ortholen = P.D_TO_ADD_TO_EACH_SIDE + w_self[sel_r]
    len_dif = np.round(length - ortholen, 3)
    above = length > ortholen * (1 + P.PERC_TOL_CROSSINGS / 100.0)
    k_final = len(coords)
    # nearest other crossing center within P.KNN_MAX_DIST (:1727-1764)
    nearest = [None] * k_final
    if k_final > 1:
        dx = C[:, 0][:, None] - C[:, 0][None, :]
        dy = C[:, 1][:, None] - C[:, 1][None, :]
        dd = np.hypot(dx, dy)
        np.fill_diagonal(dd, np.inf)
        d1 = dd.min(axis=1)
        nearest = [round(float(v), 3) if v <= P.KNN_MAX_DIST else None
                   for v in d1]

    for k in range(k_final):
        ci_out = len(crossings)
        crossings.append({"coords": coords[k], "length": float(length[k]),
                          "center": C[k],
                          "ortho_len_dif": float(len_dif[k]),
                          "above_tol": bool(above[k]),
                          "nearest_centerpoint": nearest[k]})
        kerbs.append({"xy": B[k], "crossing_index": ci_out})
        kerbs.append({"xy": D[k], "crossing_index": ci_out})
    return crossings, kerbs


def _single_shot_rays(center: np.ndarray, perp: np.ndarray,
                      sw: np.ndarray) -> np.ndarray:
    """The nearest sidewalk hit on each side of the rays center -+ perp:
    (ray, side A/E, xy), NaN where a side misses."""
    best_pt = np.full((len(center), 2, 2), np.nan)
    span_max = float(np.hypot(perp[:, 0], perp[:, 1]).max())
    ci, si2 = _ray_candidates(center, span_max, sw)
    if len(ci) == 0:
        return best_pt
    pA = center - perp
    pE = center + perp
    a1 = pA[ci]
    d1 = pE[ci] - a1
    hit, t = core.segments_cross(a1, d1, sw[si2])
    if not hit.any():
        return best_pt
    hci = ci[hit]
    hsi = si2[hit]
    pts = a1[hit] + t[hit][:, None] * d1[hit]
    dA = np.hypot(pts[:, 0] - pA[hci, 0], pts[:, 1] - pA[hci, 1])
    dE = np.hypot(pts[:, 0] - pE[hci, 0], pts[:, 1] - pE[hci, 1])
    a_side = dA < dE
    side = np.where(a_side, 0, 1)
    dist = np.where(a_side, dA, dE)
    # nearest hit per (ray, side), ties to the smallest sidewalk-segment
    # index (matches argmin over seg order)
    key = hci * 2 + side
    sel = gridhash.first_min_per_key(key, dist, hsi)
    best_pt[key[sel] // 2, key[sel] % 2] = pts[sel]
    return best_pt


def _ray_candidates(centers: np.ndarray, reach: float, sw: np.ndarray
                    ) -> tuple[np.ndarray, np.ndarray]:
    """Candidate (ray, sidewalk segment) pairs for rays that stay within
    ``reach`` of their ``centers``: a segment can only meet such a ray
    if its bbox padded by ``reach`` contains the center."""
    slen = core.segment_lengths(sw)
    sbin = max(reach * 2,
               float(np.median(slen[slen > 0])) if (slen > 0).any() else 1.0)
    return gridhash.join_points_to_boxes(centers[:, 0], centers[:, 1],
                                         gridhash.seg_bboxes(sw, reach), sbin)


def _side_ray_hits(cen: np.ndarray, dvec: np.ndarray, sw: np.ndarray
                   ) -> tuple[np.ndarray, np.ndarray]:
    """Nearest-to-origin intersection of rays [cen, cen+dvec] with
    sidewalk segments. Returns (has (m,), pts (m,2))."""
    m = len(cen)
    has = np.zeros(m, dtype=bool)
    pts_out = np.full((m, 2), np.nan)
    if m == 0 or len(sw) == 0:
        return has, pts_out
    reach = float(np.hypot(dvec[:, 0], dvec[:, 1]).max())
    ci, si = _ray_candidates(cen, reach, sw)
    if len(ci) == 0:
        return has, pts_out
    a1 = cen[ci]
    d1 = dvec[ci]
    hit, t = core.segments_cross(a1, d1, sw[si])
    if not hit.any():
        return has, pts_out
    hci = ci[hit]
    tt = t[hit]
    sel = gridhash.first_min_per_key(hci, tt, si[hit])
    has[hci[sel]] = True
    pts_out[hci[sel]] = a1[hit][sel] + tt[sel][:, None] * d1[hit][sel]
    return has, pts_out


def _gui_enlargement_loop(center, perp, sw, a2p, b2p, ln, is_p0, d_int,
                          di_valid, max_len):
    """GUI crossing resolution (osm_sidewalkreator.py:3035-3170): per
    side, double the ray reach while that side misses the sidewalks; a
    too-long crossing steps its center inward while it stays short of
    the segment midpoint; > ``P.ABS_MAX_CROSSING_LEN`` or the iteration
    cap kills it.
    Vectorized over the active subset each iteration."""
    m = len(center)
    center = center.copy()
    best_pt = np.full((m, 2, 2), np.nan)
    coefA = np.ones(m)
    coefE = np.ones(m)
    cur_d = d_int.copy()
    resolved = np.zeros(m, dtype=bool)
    dead = np.zeros(m, dtype=bool)
    for _ in range(P.MAX_CROSSINGS_ITERATIONS + 1):
        act = np.flatnonzero(~resolved & ~dead)
        if len(act) == 0:
            break
        hasA, Apt = _side_ray_hits(center[act],
                                   -perp[act] * coefA[act][:, None], sw)
        hasE, Ept = _side_ray_hits(center[act],
                                   perp[act] * coefE[act][:, None], sw)
        coefA[act] = np.where(hasA, coefA[act], coefA[act] * 2)
        coefE[act] = np.where(hasE, coefE[act], coefE[act] * 2)
        bh = hasA & hasE
        idx = act[bh]
        if len(idx):
            L = np.hypot(Apt[bh, 0] - Ept[bh, 0], Apt[bh, 1] - Ept[bh, 1])
            kill = L > P.ABS_MAX_CROSSING_LEN
            dead[idx[kill]] = True
            toolong = ~kill & (L > max_len[idx]) & di_valid[idx]
            nd = cur_d[idx] + P.INCREMENT_INWARD
            can_step = toolong & (nd < ln[idx] / 2)
            stepi = idx[can_step]
            if len(stepi):
                cur_d[stepi] = nd[can_step]
                t = np.clip(cur_d[stepi] / ln[stepi], 0.0, 1.0)
                t = np.where(is_p0[stepi], t, 1.0 - t)
                center[stepi] = a2p[stepi] \
                    + t[:, None] * (b2p[stepi] - a2p[stepi])
            accept = ~kill & ~can_step
            acc = idx[accept]
            best_pt[acc, 0] = Apt[bh][accept]
            best_pt[acc, 1] = Ept[bh][accept]
            resolved[acc] = True
    dead |= ~resolved
    return best_pt, center, dead


# ---------- linework utilities ----------

def clip_segments_to_box(segs: np.ndarray, box: tuple):
    """Liang-Barsky clip of segments to an axis-aligned box (vectorized).

    The tile kernel's guard against geometry leaking in from far outside
    the halo (at planet scale a long way must never be processed whole by
    every tile). Returns (clipped_segs, keep_index).
    """
    segs = np.asarray(segs, dtype=np.float64)
    if len(segs) == 0:
        return segs, np.empty(0, dtype=np.int64)
    x0, y0, x1, y1 = box
    ax, ay, bx, by = segs[:, 0], segs[:, 1], segs[:, 2], segs[:, 3]
    dx, dy = bx - ax, by - ay
    t0 = np.zeros(len(segs))
    t1 = np.ones(len(segs))
    for p, q in (((-dx), (ax - x0)), ((dx), (x1 - ax)),
                 ((-dy), (ay - y0)), ((dy), (y1 - ay))):
        with np.errstate(divide="ignore", invalid="ignore"):
            r = q / p
        ent = (p < 0)
        t0 = np.where(ent, np.maximum(t0, r), t0)
        t1 = np.where(p > 0, np.minimum(t1, r), t1)
        # parallel & outside
        out = (p == 0) & (q < 0)
        t0 = np.where(out, 1.0, t0)
        t1 = np.where(out, 0.0, t1)
    keep = t0 < t1
    idx = np.flatnonzero(keep)
    cl = np.column_stack([ax[keep] + t0[keep] * dx[keep],
                          ay[keep] + t0[keep] * dy[keep],
                          ax[keep] + t1[keep] * dx[keep],
                          ay[keep] + t1[keep] * dy[keep]])
    return cl, idx

def merge_touching_lines(segs: np.ndarray,
                         break_at: np.ndarray | None = None
                         ) -> list[np.ndarray]:
    """linemerge (A3, ``native:mergelines`` via
    ``generic_functions.py:189-192``): chain segments through degree-2
    vertices into maximal polylines; junction (degree>2) vertices stay
    breakpoints, as do any explicit ``break_at`` points (used by the
    split-with-lines refinements, where cut locations must stay ends)."""
    if len(segs) == 0:
        return []
    verts, evi = faces.build_vertices(segs, noding.SNAP)
    deg = np.bincount(evi.ravel(), minlength=len(verts))
    if break_at is not None and len(break_at):
        q = np.round(verts / noding.SNAP).astype(np.int64)
        vk = set(map(tuple, q))
        bq = np.round(np.asarray(break_at, dtype=np.float64) / noding.SNAP
                      ).astype(np.int64)
        brk = set(map(tuple, bq)) & vk
        if brk:
            lookup = {tuple(k): i for i, k in enumerate(map(tuple, q))}
            for b in brk:
                deg[lookup[b]] = 99  # force breakpoint
    # adjacency: vertex -> list of (edge, other_vertex)
    adj: dict[int, list[tuple[int, int]]] = {}
    for e, (u, v) in enumerate(evi):
        if u == v:
            continue
        adj.setdefault(int(u), []).append((e, int(v)))
        adj.setdefault(int(v), []).append((e, int(u)))
    used = np.zeros(len(segs), dtype=bool)
    out = []
    order = np.lexsort((verts[:, 1], verts[:, 0]))
    for v0 in order:
        v0 = int(v0)
        if deg[v0] == 2:
            continue  # chain interiors handled from their ends
        for e0, v1 in adj.get(v0, []):
            if used[e0]:
                continue
            chain = [v0, v1]
            used[e0] = True
            prev, cur = v0, v1
            while deg[cur] == 2:
                nxt = [(e, w) for e, w in adj[cur] if not used[e]]
                if not nxt:
                    break
                e, w = nxt[0]
                used[e] = True
                chain.append(w)
                prev, cur = cur, w
            out.append(verts[chain])
    # pure cycles (all degree-2): walk remaining edges
    for e0 in range(len(segs)):
        if used[e0] or evi[e0, 0] == evi[e0, 1]:
            continue
        u, v = int(evi[e0, 0]), int(evi[e0, 1])
        chain = [u, v]
        used[e0] = True
        cur = v
        while cur != u:
            nxt = [(e, w) for e, w in adj[cur] if not used[e]]
            if not nxt:
                break
            e, w = nxt[0]
            used[e] = True
            chain.append(w)
            cur = w
        out.append(verts[chain])
    return out


def clip_lines_outside_polygons(line_segs: np.ndarray,
                                member_sets: list) -> np.ndarray:
    """Difference of lines minus polygon union (J3 applied to sidewalk
    lines: ``excluding_exclusion_zones`` osm_sidewalkreator.py:2250-2259).

    ``member_sets`` are ConvexSet layers covering the exclusion region.
    Lines are noded against the members' boundary edges; pieces whose
    midpoint is covered are dropped.
    """
    if len(line_segs) == 0 or not member_sets:
        return line_segs
    bnd = np.concatenate([
        morph.polys_boundary_edges(cs.polys) for cs in member_sets
        if len(cs.polys)]) if member_sets else np.empty((0, 4))
    allseg = np.vstack([line_segs, bnd])
    noded, parent = noding.node_segments(allseg)
    own = parent < len(line_segs)
    noded = noded[own]
    mx = (noded[:, 0] + noded[:, 2]) / 2
    my = (noded[:, 1] + noded[:, 3]) / 2
    covered = np.zeros(len(noded), dtype=bool)
    for cs in member_sets:
        pi, _si, depth, _m = cs.query(mx, my, pad=0.0)
        covered[pi[depth > 0]] = True
    return noded[~covered]


def single_sided_zone(segs: np.ndarray, dists: np.ndarray,
                      left: bool) -> np.ndarray:
    """Single-sided rectangle zone per segment (G2,
    ``QgsGeometry.singleSidedBuffer`` osm_sidewalkreator.py:2016-2083).

    Returns (n,4,2) CCW quads on the left/right side of each segment.
    """
    segs = np.asarray(segs, dtype=np.float64)
    dists = np.broadcast_to(np.asarray(dists, dtype=np.float64),
                            (len(segs),))
    ax, ay, bx, by = segs[:, 0], segs[:, 1], segs[:, 2], segs[:, 3]
    dx, dy = bx - ax, by - ay
    ln = np.hypot(dx, dy)
    ln = np.where(ln == 0, 1.0, ln)
    s = 1.0 if left else -1.0
    nx = -dy / ln * dists * s
    ny = dx / ln * dists * s
    if left:
        quad = [(ax, ay), (bx, by), (bx + nx, by + ny), (ax + nx, ay + ny)]
    else:  # keep CCW orientation when offsetting right
        quad = [(bx, by), (ax, ay), (ax + nx, ay + ny), (bx + nx, by + ny)]
    return np.stack([np.stack(q, axis=-1) for q in quad], axis=1)


def sidewalk_tag_zones(segs: np.ndarray, widths: np.ndarray,
                       sidewalk: np.ndarray, s_left: np.ndarray,
                       s_right: np.ndarray, s_both: np.ndarray):
    """Sure / exclusion zones from OSM sidewalk tags (G21,
    ``sidewalk_generation_logic.py:436-588``).

    half_width = width/2 + D_TO_ADD_TO_EACH_SIDE/2 + 0.5 (tag_buffer_dist
    of the reference). Returns (sure_polys, exclusion_polys) as (n,V,2)
    arrays (both-sided zones are the two single-sided quads).
    """
    n = len(segs)

    def _norm(a):
        if a is None:
            return np.full(n, "", dtype=object)
        return np.asarray([x if x is not None else "" for x in a],
                          dtype=object)

    sw = _norm(sidewalk)
    sl = _norm(s_left)
    sr = _norm(s_right)
    sb = _norm(s_both)
    tag_dist = (np.asarray(widths, dtype=np.float64) / 2
                + P.D_TO_ADD_TO_EACH_SIDE / 2 + 0.5)
    segs = np.asarray(segs, dtype=np.float64)
    left_q = single_sided_zone(segs, tag_dist, True)
    right_q = single_sided_zone(segs, tag_dist, False)

    # boolean-mask translation of the reference's per-feature case chain
    # (first matching case wins, mirroring the elif ladder)
    c1 = (sw == "no") | (sb == "no")
    c2 = ~c1 & ((sw == "left") | (sl == "yes"))
    c3 = ~(c1 | c2) & ((sw == "right") | (sr == "yes"))
    c4 = ~(c1 | c2 | c3) & (sl == "no")
    c5 = ~(c1 | c2 | c3 | c4) & (sr == "no")
    prior = c1 | c2 | c3 | c4 | c5
    c6 = ~prior & (np.isin(sw.astype(str), ("both", "yes")) | (sb == "yes"))
    # untagged: default sure zone (reference :569-575)
    c7 = ~(prior | c6) & (sw == "") & (sl == "") & (sr == "") & (sb == "")
    # (cases 4/5's "other side sure" sub-branches are unreachable: a
    # yes on the other side is already consumed by case 2/3)
    sure_l = c2 | c6 | c7
    sure_r = c3 | c6 | c7
    excl_l = c1 | c3 | c4
    excl_r = c1 | c2 | c5

    def _assemble(lmask, rmask):
        keys = np.concatenate([2 * np.flatnonzero(lmask),
                               2 * np.flatnonzero(rmask) + 1])
        keys.sort()
        return [left_q[k >> 1] if k % 2 == 0 else right_q[k >> 1]
                for k in keys]

    return _assemble(sure_l, sure_r), _assemble(excl_l, excl_r)


# ---------- assembled per-tile pipeline ----------

def tile_pipeline(segs: np.ndarray, widths: np.ndarray,
                  sidewalk_tags: dict | None = None,
                  building_segs: np.ndarray | None = None,
                  pois: np.ndarray | None = None,
                  way_ids: np.ndarray | None = None,
                  existing_sw: tuple | None = None,
                  refine_lines: bool = True,
                  bounds: tuple | None = None,
                  dangle_iterations: int = 1,
                  max_split_len: float | None = None,
                  enlarge_crossings: bool = False,
                  export_snap: bool = False) -> dict:
    """Full geometry pipeline for one tile's street segments (local TM).

    ``sidewalk_tags``: optional dict of per-input-segment string arrays
    (keys ``sidewalk, sidewalk_left, sidewalk_right, sidewalk_both``) for
    the sure/exclusion-zone stage (G21/G22). ``building_segs``: building
    footprint boundary segments for the G20 width shrink. ``pois``:
    (m,2) POI points for per-block Voronoi splitting (G11).

    Stage order follows the reference lifecycle (SURVEY.md §3.1-3.2):
    width shrink -> split -> protoblocks -> A10 filter -> dead-end
    removal (G15, cul-de-sac exemption vs the filtered blocks +0.5 m)
    -> buffer/close/rings -> exclusion difference -> protoblock filter
    -> crossings/kerbs -> snap -> corner + Voronoi splitting -> vertex
    dedup -> small-stretch merge.

    ``bounds`` (tile halo box) marks halo-cut endpoints as connected so
    per-tile dead-end classification matches the global run.

    ``dangle_iterations``: number of G15 passes. The reference GUI
    exposes N extra dead-end iterations (osm_sidewalkreator.py:803-810,
    spinbox default 0 == one pass); each pass recomputes endpoint
    connectivity on the survivors WITH the cul-de-sac exemption, so a
    2-deep stub chain needs N>=2 to disappear.

    ``enlarge_crossings``: run the GUI bounded crossing-resolution loop
    (osm_sidewalkreator.py:3035-3170) instead of the single-shot ray —
    unresolved ray sides double their reach, too-long crossings step
    inward, > ABS_MAX_CROSSING_LEN dies (see ``crossings_and_kerbs``).

    Returns dict with protoblock rings, sidewalk polylines, crossings,
    kerbs, and the zone polygon lists.
    """
    if building_segs is not None and len(building_segs):
        widths = shrink_widths_by_buildings(segs, widths, building_segs)
    noded, w, parent = split_streets(segs, widths)
    noded_ways = (np.asarray(way_ids, dtype=object)[parent]
                  if way_ids is not None else None)
    blocks = protoblocks(noded)
    # A10: drop blocks whose sidewalks are already mapped — BEFORE the
    # G24 ring keep-set, so the engine does not redraw them
    if existing_sw is not None:
        blocks = filter_protoblocks_by_existing_sidewalks(
            blocks, existing_sw[0], existing_sw[1], existing_sw[2])
    # G15: the reference deletes dead-end stubs BEFORE drawing sidewalks
    # (osm_sidewalkreator.py:803-810), so stubs get no rings/crossings;
    # cul-de-sacs inside the (A10-filtered) block area stay
    if len(noded):
        for _ in range(max(1, dangle_iterations)):
            dk = dangle_keep_mask(noded, blocks, bounds=bounds)
            if dk.all():
                break
            noded, w = noded[dk], w[dk]
            if noded_ways is not None:
                noded_ways = noded_ways[dk]
    sw_rings, _ext = sidewalk_rings(noded, w)

    # G24: keep rings intersecting the protoblock area (+0.5 m buffer in
    # the reference; rings lie strictly inside their block, so the
    # representative-vertex PIP is the same predicate here)
    if blocks and sw_rings:
        reps = np.array([r[np.lexsort((r[:, 1], r[:, 0]))[0]]
                         for r in sw_rings])
        inside = np.zeros(len(sw_rings), dtype=bool)
        for blk in blocks:
            todo = ~inside
            if not todo.any():
                break
            inside[todo] |= core.points_in_ring(
                reps[todo, 0], reps[todo, 1], blk)
        sw_rings = [r for r, k in zip(sw_rings, inside) if k]

    sure_zones: list[np.ndarray] = []
    excl_zones: list[np.ndarray] = []
    if sidewalk_tags is not None:
        sure_zones, excl_zones = sidewalk_tag_zones(
            segs, widths,
            sidewalk_tags.get("sidewalk"), sidewalk_tags.get("sidewalk_left"),
            sidewalk_tags.get("sidewalk_right"),
            sidewalk_tags.get("sidewalk_both"))

    ring_edges = morph.rings_to_edges(sw_rings)
    if excl_zones:
        excl_set = morph.ConvexSet(morph._pad_polys(excl_zones))
        kept = clip_lines_outside_polygons(ring_edges, [excl_set])
        sidewalk_lines = merge_touching_lines(kept)
        sw_segs = kept
    else:
        sidewalk_lines = merge_touching_lines(ring_edges) if len(ring_edges) \
            else []
        sw_segs = ring_edges

    crossings, kerbs = crossings_and_kerbs(noded, w, sw_segs,
                                           way_ids=noded_ways,
                                           enlarge=enlarge_crossings)

    if refine_lines and sidewalk_lines:
        from . import refine
        # snap sidewalks to crossing lines (osm_sidewalkreator.py:1792-1796)
        if crossings:
            cross_segs, _ = core.explode_parts(
                np.concatenate([c["coords"] for c in crossings]),
                [len(c["coords"]) for c in crossings])
            sidewalk_lines = refine.snap_lines_to_reference(
                sidewalk_lines, cross_segs, tol=P.SNAP_DISJOINTED_TOL)
        # protoblock-corner splitting (G13)
        if blocks:
            spokes = np.concatenate([refine.corner_spokes(b)
                                     for b in blocks])
            sidewalk_lines = refine.split_lines_with_lines(
                sidewalk_lines, spokes)
        # per-block Voronoi POI splitting (G11)
        if pois is not None and len(pois) >= 3 and blocks:
            for b in blocks:
                inside = core.points_in_ring(pois[:, 0], pois[:, 1], b)
                if inside.sum() >= 3:
                    reps = np.array([ln[len(ln) // 2] for ln in
                                     sidewalk_lines]).reshape(-1, 2)
                    in_mask = core.points_in_ring(reps[:, 0], reps[:, 1], b)
                    in_block = [ln for ln, m in zip(sidewalk_lines, in_mask)
                                if m]
                    out_block = [ln for ln, m in zip(sidewalk_lines,
                                                     in_mask) if not m]
                    split = refine.voronoi_split_block(
                        in_block, pois[inside], b)
                    sidewalk_lines = out_block + split
        # duplicate-vertex removal (G14, tol 0.1) + small-stretch merge
        sidewalk_lines = [core.dedup_vertices(ln, P.DUPLICATE_POINTS_TOL)
                          for ln in sidewalk_lines]
        # optional 3-pass export snap (J11 behaviors 0/5/1,
        # osm_sidewalkreator.py:1087-1119); mutates crossing coords too
        if export_snap and crossings:
            cross_lines = [c["coords"] for c in crossings]
            sidewalk_lines, cross_lines = refine.export_snap_sequence(
                sidewalk_lines, cross_lines)
            for c, cl in zip(crossings, cross_lines):
                c["coords"] = cl
        sidewalk_lines = refine.merge_small_stretches(sidewalk_lines)
        # G12 (optional GUI stage, osm_sidewalkreator.py:3477-3491):
        # equal-piece split of each sidewalk line to <= max_split_len
        if max_split_len:
            sidewalk_lines = [
                p for ln in sidewalk_lines
                for p in refine.split_polyline_by_max_len(
                    ln, max_split_len)]

    return {"protoblocks": blocks, "sidewalks": sidewalk_lines,
            "crossings": crossings, "kerbs": kerbs,
            "sure_zones": sure_zones, "exclusion_zones": excl_zones,
            "noded": noded, "noded_widths": w}
