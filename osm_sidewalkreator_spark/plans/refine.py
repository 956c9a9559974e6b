"""Sidewalk refinement kernels: splitting, snapping, small-stretch
merging (SURVEY.md §2 G12/G13/G14, J11, J12, P18, G10/G11).

These are the post-processing stages the reference runs between raw
sidewalk extraction and export (``sidewalks_splitting``
osm_sidewalkreator.py:963-1184). All pure NumPy over per-tile arrays.
"""

from __future__ import annotations

import numpy as np

from .. import params as P
from ..geometry import core, gridhash, morph, noding, voronoi
from . import kernels


def polygon_corners(ring: np.ndarray) -> np.ndarray:
    """Polygon corner vertices with straight vertices removed (P18,
    ``select_vertex_pol_nodes`` generic_functions.py:1348-1387: interior
    angles in (160°, 200°) are dropped)."""
    n = len(ring)
    if n < 3:
        return ring
    prev = np.concatenate((ring[-1:], ring[:-1]))
    nxt = np.concatenate((ring[1:], ring[:1]))
    ang = np.degrees(np.abs(np.arctan2(
        np.cross(ring - prev, nxt - ring),
        ((ring - prev) * (nxt - ring)).sum(axis=1))))
    interior = 180.0 - ang  # deviation-from-straight -> interior angle
    keep = ~((interior > 160.0) & (interior < 200.0))
    return ring[keep]


def corner_spokes(ring: np.ndarray) -> np.ndarray:
    """Centroid→corner spoke segments for protoblock-corner splitting
    (G13, ``split_sidewalks_by_protoblocks``
    osm_sidewalkreator.py:3177-3246)."""
    corners = polygon_corners(ring)
    cx, cy = core.ring_centroid(ring)
    if len(corners) == 0:
        return np.empty((0, 4))
    return np.column_stack([
        np.full(len(corners), cx), np.full(len(corners), cy),
        corners[:, 0], corners[:, 1]])


def split_lines_with_lines(lines: list[np.ndarray], cutters: np.ndarray
                           ) -> list[np.ndarray]:
    """Split polylines at intersections with cutter segments (J5 applied
    to refinement; drop pieces shorter than ``P.TINY_SEGMENTS_TOL``,
    osm_sidewalkreator.py:3225-3246)."""
    if not lines:
        return []
    line_segs, _ = core.explode_parts(np.concatenate(lines),
                                      [len(ln) for ln in lines])
    allseg = np.vstack([line_segs, cutters]) if len(cutters) else line_segs
    noded, parent = noding.node_segments(allseg)
    own = parent < len(line_segs)
    # cut locations (shared vertices with cutter pieces) must stay ends
    cut_pts = np.vstack([noded[~own][:, :2], noded[~own][:, 2:]]) \
        if (~own).any() else None
    pieces = kernels.merge_touching_lines(noded[own], break_at=cut_pts)
    return [p for p in pieces
            if core.polyline_length(p) >= P.TINY_SEGMENTS_TOL]


def split_polyline_by_max_len(line: np.ndarray, max_len: float
                              ) -> list[np.ndarray]:
    """Split a polyline into equal pieces no longer than ``max_len``
    (G12, ``split_lines_by_max_len`` generic_functions.py:108-121 with
    the anti-float-drift ``percent_add``)."""
    percent_add = 0.01
    total = core.polyline_length(line)
    if total <= max_len:
        return [line]
    n = int(np.ceil(total / max_len))
    piece = total / n * (1 + percent_add / 100.0)
    cuts = [piece * k for k in range(1, n)]
    return split_polyline_at_distances(line, cuts)


def split_polyline_at_distances(line: np.ndarray, dists: list[float]
                                ) -> list[np.ndarray]:
    seg = np.diff(line, axis=0)
    seglen = np.hypot(seg[:, 0], seg[:, 1])
    cum = np.concatenate([[0.0], np.cumsum(seglen)])
    out = []
    cur = [line[0]]
    di = 0
    dists = sorted(d for d in dists if 0 < d < cum[-1])
    for i in range(len(seg)):
        s0, s1 = cum[i], cum[i + 1]
        while di < len(dists) and s0 < dists[di] <= s1:
            t = (dists[di] - s0) / (s1 - s0)
            p = line[i] + t * seg[i]
            cur.append(p)
            out.append(np.array(cur))
            cur = [p]
            di += 1
        cur.append(line[i + 1])
    out.append(np.array(cur))
    return [np.asarray(o) for o in out if len(o) > 1]


def snap_lines_to_reference(lines: list[np.ndarray], ref_segs: np.ndarray,
                            tol: float = P.SNAP_DISJOINTED_TOL,
                            behavior: int = 1,
                            ref_nodes: np.ndarray | None = None,
                            ref_owners: np.ndarray | None = None,
                            line_owners: list | None = None
                            ) -> list[np.ndarray]:
    """Snap vertices onto nearby reference geometry (J11,
    ``snap_layers`` generic_functions.py:230-305, tolerance 0.1-0.51 m)
    with the ``native:snapgeometries`` behavior codes the reference
    actually uses (osm_sidewalkreator.py:1087-1119):

    - ``behavior=1`` (prefer closest point, the previous sole mode):
      each vertex within ``tol`` of a reference segment moves to the
      closest point of the nearest one.
    - ``behavior=0`` (prefer aligning nodes): a reference NODE within
      ``tol`` wins over a nearer mid-segment point; only when no node
      is in reach does the vertex fall back to the closest point.
    - ``behavior=5`` (end points to end points only): only each line's
      FIRST/LAST vertex moves, and only onto a reference node.

    Vertex-move semantics only — the QGIS variants' "insert extra
    vertices where required" refinement is not modeled (the engine's
    corner/crossing splitting stages reintroduce shared vertices).

    ``ref_nodes``: (k,2) node set for behaviors 0/5 (defaults to the
    reference segment endpoints). ``ref_owners`` / ``line_owners``:
    matching labels exclude a line's OWN segments+nodes — the
    self-snap pass (sidewalks vs sidewalks) must not snap a line to
    itself."""
    if len(ref_segs) == 0:
        return lines
    if behavior == 1 and line_owners is None:
        # hot path (the in-pipeline J11 pass): all vertices, no owner
        # masking. One flat grid-hash candidate join over ALL lines'
        # vertices vs tol-padded segment boxes instead of the dense
        # (vertices x ref-segs) matrix below: any segment farther than
        # tol cannot snap. The per-vertex first minimum over
        # (d, segment index) is np.argmin's lowest-index-among-ties
        # rule, so snapped outputs equal the dense scan's bit for bit.
        if not lines:
            return lines
        counts = np.fromiter((len(l) for l in lines), np.int64,
                             len(lines))
        flat = np.concatenate(lines)
        px_f, py_f = flat[:, 0], flat[:, 1]
        pi, si = gridhash.points_near_segments(px_f, py_f, ref_segs, tol)
        snapped_flat = flat.copy()
        if len(pi):
            cx, cy, d = core.closest_on_segments(px_f[pi], py_f[pi],
                                                 ref_segs[si])
            sel = gridhash.first_min_per_key(pi, d, si)
            hit = d[sel] <= tol
            vsel = pi[sel][hit]
            snapped_flat[vsel, 0] = cx[sel][hit]
            snapped_flat[vsel, 1] = cy[sel][hit]
        ends = np.cumsum(counts)
        return [snapped_flat[e - c:e] for c, e in zip(counts, ends)]
    if behavior in (0, 5):
        if ref_nodes is None:
            ref_nodes = np.concatenate([ref_segs[:, :2], ref_segs[:, 2:]])
            node_owners = (np.concatenate([ref_owners, ref_owners])
                           if ref_owners is not None else None)
        else:
            node_owners = None
    out = []
    for li, ln in enumerate(lines):
        if behavior == 5:
            vidx = np.array([0, len(ln) - 1]) if len(ln) > 1 \
                else np.array([0])
        else:
            vidx = np.arange(len(ln))
        px = ln[vidx, 0][:, None]
        py = ln[vidx, 1][:, None]
        snapped = ln.copy()
        own = (line_owners[li] if line_owners is not None else None)

        if behavior in (0, 5):
            nd = np.hypot(px - ref_nodes[:, 0], py - ref_nodes[:, 1])
            if own is not None and node_owners is not None:
                nd[:, node_owners == own] = np.inf
            nk = np.argmin(nd, axis=1)
            rows_n = np.arange(len(vidx))
            nbest = nd[rows_n, nk]
            node_hit = nbest <= tol
        else:
            node_hit = np.zeros(len(vidx), dtype=bool)

        if behavior in (0, 1):
            cx, cy, d = core.closest_on_segments(px, py, ref_segs)
            if own is not None and ref_owners is not None:
                d[:, ref_owners == own] = np.inf
            k = np.argmin(d, axis=1)
            rows = np.arange(len(vidx))
            seg_hit = d[rows, k] <= tol
        else:
            seg_hit = np.zeros(len(vidx), dtype=bool)

        if behavior in (0, 5):
            h = node_hit
            snapped[vidx[h], 0] = ref_nodes[nk[h], 0]
            snapped[vidx[h], 1] = ref_nodes[nk[h], 1]
        if behavior in (0, 1):
            h = seg_hit & ~node_hit
            snapped[vidx[h], 0] = cx[rows[h], k[h]]
            snapped[vidx[h], 1] = cy[rows[h], k[h]]
        out.append(snapped)
    return out


def insert_extra_vertices(lines: list[np.ndarray],
                          ref_nodes: np.ndarray,
                          tol: float,
                          node_owners: np.ndarray | None = None,
                          line_owners: list | None = None
                          ) -> list[np.ndarray]:
    """The ``native:snapgeometries`` "insert extra vertices where
    required" refinement that behaviors 0/1 imply (J11,
    generic_functions.py:230-305): after vertices have moved, every
    reference NODE lying within ``tol`` of the *interior* of a subject
    segment is inserted into that segment as a new vertex (at the
    node's own coordinates, so the subject passes exactly through it —
    the property the reference's export snap relies on for topological
    joins between crossings and sidewalks).

    Nodes coincident (within ``eps``) with an existing subject vertex
    are skipped; several nodes on one segment are inserted in order of
    their projection parameter. ``node_owners``/``line_owners`` mirror
    ``snap_lines_to_reference``'s self-snap exclusion."""
    eps = 1e-9
    if len(ref_nodes) == 0:
        return lines
    out = []
    for li, ln in enumerate(lines):
        if len(ln) < 2:
            out.append(ln)
            continue
        nodes = ref_nodes
        if line_owners is not None and node_owners is not None:
            nodes = ref_nodes[node_owners != line_owners[li]]
        # a node that already IS a subject vertex (bitwise) must never
        # be inserted again — this is what makes the refinement
        # idempotent (pass 1 inserts the node into its closest segment;
        # the node may still sit within tol of ANOTHER segment's
        # interior, but it is a vertex now)
        if len(nodes):
            vkey = np.ascontiguousarray(ln).view(
                np.dtype((np.void, 16))).ravel()
            nkey = np.ascontiguousarray(nodes).view(
                np.dtype((np.void, 16))).ravel()
            nodes = nodes[~np.isin(nkey, vkey)]
        if len(nodes) == 0:
            out.append(ln)
            continue
        a, b = ln[:-1], ln[1:]
        dx = (b - a)[:, 0][None, :]
        dy = (b - a)[:, 1][None, :]
        ll = dx * dx + dy * dy
        ll_safe = np.where(ll == 0, 1.0, ll)
        rx = nodes[:, 0][:, None] - a[:, 0][None, :]
        ry = nodes[:, 1][:, None] - a[:, 1][None, :]
        t = (rx * dx + ry * dy) / ll_safe          # (n_nodes, n_segs)
        d = np.hypot(rx - t * dx, ry - t * dy)
        # strictly interior: keep clear of both endpoints by eps in
        # the projection, and not coincident with any existing vertex
        da = np.hypot(rx, ry)
        db = np.hypot(nodes[:, 0][:, None] - b[:, 0][None, :],
                      nodes[:, 1][:, None] - b[:, 1][None, :])
        hit = (d <= tol) & (t > 0.0) & (t < 1.0) & (ll[0] > 0) \
            & (da > eps) & (db > eps)
        ni, si = np.nonzero(hit)
        if len(ni) == 0:
            out.append(ln)
            continue
        # one node may sit within tol of several segments (e.g. near a
        # subject corner): insert it only into the CLOSEST hit segment,
        # matching the snapper's single-anchor semantics
        sel = gridhash.first_min_per_key(ni, d[ni, si], si)
        ni, si = ni[sel], si[sel]
        # dedup identical node coordinates (shared seg endpoints show
        # up twice in endpoint-derived node sets)
        key = np.round(nodes[ni] / max(eps, 1e-12)).astype(np.int64)
        _, uniq = np.unique(
            np.concatenate([key, si[:, None]], axis=1),
            axis=0, return_index=True)
        ni, si = ni[np.sort(uniq)], si[np.sort(uniq)]
        ts = t[ni, si]
        order = np.lexsort((ts, si))
        ni, si, ts = ni[order], si[order], ts[order]
        pieces = []
        prev = 0
        for seg in np.unique(si):
            sel = si == seg
            pieces.append(ln[prev:seg + 1])
            pieces.append(nodes[ni[sel]])
            prev = seg + 1
        pieces.append(ln[prev:])
        out.append(np.vstack(pieces))
    return out


def export_snap_sequence(sidewalk_lines: list[np.ndarray],
                         crossing_lines: list[np.ndarray],
                         disjoint_tol: float = P.SNAP_DISJOINTED_TOL
                         ) -> tuple[list[np.ndarray], list[np.ndarray]]:
    """The reference's 3-pass export snap (osm_sidewalkreator.py:
    1087-1119): (1) sidewalks self-snap, behavior 0 (prefer nodes),
    tolerance ``disjoint_tol + 0.01``; (2) crossings' END points onto
    sidewalk line END points, behavior 5, tolerance 0.1; (3) sidewalks
    onto the snapped crossings, behavior 1, tolerance 0.1. Returns the
    (sidewalks, crossings) pair after all passes.

    Behaviors 0 and 1 are the QGIS "insert extra vertices where
    required" variants, so passes 1 and 3 finish with
    ``insert_extra_vertices``: pass 1 inserts OTHER sidewalks'
    (post-snap) vertices that land inside a sidewalk segment, pass 3
    inserts crossing vertices into sidewalk segments — giving the
    crossing tip and the sidewalk a genuinely shared vertex, which is
    the topological property downstream network joins rely on.
    Behavior 5 (pass 2) is the endpoints-only variant and never
    inserts."""
    def explode(lines):
        return core.explode_parts(np.concatenate(lines),
                                  [len(ln) for ln in lines])

    if sidewalk_lines:
        segs, owners = explode(sidewalk_lines)
        sidewalk_lines = snap_lines_to_reference(
            sidewalk_lines, segs, tol=disjoint_tol + 0.01, behavior=0,
            ref_owners=owners, line_owners=list(range(len(sidewalk_lines))))
        nodes = np.concatenate([ln for ln in sidewalk_lines])
        nowners = np.concatenate([np.full(len(ln), i)
                                  for i, ln in enumerate(sidewalk_lines)])
        sidewalk_lines = insert_extra_vertices(
            sidewalk_lines, nodes, tol=disjoint_tol + 0.01,
            node_owners=nowners,
            line_owners=list(range(len(sidewalk_lines))))
    if crossing_lines and sidewalk_lines:
        sw_nodes = np.array([p for ln in sidewalk_lines
                             for p in (ln[0], ln[-1])])
        segs2, _ = explode(sidewalk_lines)
        crossing_lines = snap_lines_to_reference(
            crossing_lines, segs2, tol=0.1, behavior=5,
            ref_nodes=sw_nodes)
    if sidewalk_lines and crossing_lines:
        csegs, _ = explode(crossing_lines)
        sidewalk_lines = snap_lines_to_reference(
            sidewalk_lines, csegs, tol=0.1, behavior=1)
        cnodes = np.concatenate([ln for ln in crossing_lines])
        sidewalk_lines = insert_extra_vertices(
            sidewalk_lines, cnodes, tol=0.1)
    return sidewalk_lines, crossing_lines


def merge_small_stretches(lines: list[np.ndarray],
                          min_len: float = P.MIN_STRETCH_SIZE
                          ) -> list[np.ndarray]:
    """Merge stretches shorter than ``min_stretch_size`` into a touching
    neighbor (J12, ``try_to_merge_small_stretches``
    osm_sidewalkreator.py:3940-4068). Endpoint-shared lines are
    concatenated; unmatched short orphans are kept (reference keeps
    them too when no neighbor touches)."""
    tol = 1e-6
    lines = [ln.copy() for ln in lines if len(ln) > 1]

    def _cell(p) -> tuple[int, int]:
        return (int(np.floor(p[0] / tol)), int(np.floor(p[1] / tol)))

    _ORD = {0: 0, -1: 1}

    for _ in range(50):
        lens = [core.polyline_length(ln) for ln in lines]
        small = [i for i, l in enumerate(lens) if l < min_len]
        if not small:
            break
        # endpoint hash (tol-sized cells, 3x3 neighborhood lookup so
        # boundary-straddling matches are never missed) replaces the
        # former O(n^2) all-lines scan per small stretch; maintained
        # incrementally as merges rewrite geometries. Match priority is
        # IDENTICAL to the scan: lowest j, then end_i 0 before -1, then
        # end_j 0 before -1.
        emap: dict[tuple[int, int], set] = {}

        def _add(idx):
            for e in (0, -1):
                emap.setdefault(_cell(lines[idx][e]), set()).add((idx, e))

        def _drop(idx):
            for e in (0, -1):
                emap.get(_cell(lines[idx][e]), set()).discard((idx, e))

        for idx in range(len(lines)):
            _add(idx)
        merged_any = False
        for i in small:
            if lines[i] is None:
                continue
            best = None
            for ei in (0, -1):
                p = lines[i][ei]
                cx, cy = _cell(p)
                for dx in (-1, 0, 1):
                    for dy in (-1, 0, 1):
                        for j, ej in emap.get((cx + dx, cy + dy), ()):
                            if j == i or lines[j] is None:
                                continue
                            if np.hypot(*(p - lines[j][ej])) <= tol:
                                cand = (j, _ORD[ei], _ORD[ej])
                                if best is None or cand < best:
                                    best = cand
            if best is None:
                continue
            j, eio, ejo = best
            ei = 0 if eio == 0 else -1
            ej = 0 if ejo == 0 else -1
            _drop(i)
            _drop(j)
            a = lines[i] if ei == -1 else lines[i][::-1]
            bl = lines[j] if ej == 0 else lines[j][::-1]
            lines[j] = np.vstack([a, bl[1:]])
            lines[i] = None
            _add(j)
            merged_any = True
        lines = [ln for ln in lines if ln is not None]
        if not merged_any:
            break
    return lines


def voronoi_split_block(sidewalk_lines: list[np.ndarray],
                        pois: np.ndarray, block_ring: np.ndarray
                        ) -> list[np.ndarray]:
    """Voronoi POI splitting within one protoblock (G11,
    ``voronoi_splitting`` osm_sidewalkreator.py:3493-3557): cells of the
    block's POIs cut the block's sidewalk lines."""
    if len(pois) < 3:
        return sidewalk_lines
    env = voronoi.envelope_bbox(np.vstack([block_ring, pois]), pad=50.0)
    cells = voronoi.voronoi_cells(pois, env)
    cut = morph.rings_to_edges([c for c in cells if len(c) >= 2])
    return split_lines_with_lines(sidewalk_lines, cut)
