"""Buffer / dissolve / morphological-close pipeline, pure NumPy.

Reference semantics (headless Processing path, which produced the golden
fixtures):

- variable-distance round buffer of streets:
  ``generate_buffer`` with expression ``("width"/2)+0.5``
  (``sidewalk_generation_logic.py:297-320``, ``generic_functions.py:52-89``)
- dissolve to one geometry (``generic_functions.py:183-186``)
- morphological close: buffer(+curve_radius) then buffer(-curve_radius)
  (``sidewalk_generation_logic.py:336-355``, curve radius 3 m)
- sidewalk lines = boundaries of the *holes* of the closed union: the
  reference computes big_buffer(10km) - dissolved, drops the biggest
  (unbounded complement) polygon, and takes the remaining boundaries
  (``sidewalk_generation_logic.py:359-430``); extracting interior holes
  directly is equivalent and avoids the 10 km buffer.

Representation: the round buffer of a segment set is the union of one
*rectangle* per segment (offset ±r) and one *disc* per unique endpoint
(radius r, discretized in a single canonical angular frame). Using a
canonical frame means two discs coincide only if they are the same disc
(deduped), which kills the near-coincident-chord degeneracies that
per-segment caps would create at shared vertices.

A region R = (∪ include-members) \\ (∪ exclude-members), all members
convex, is extracted by noding all member boundary edges and keeping each
noded piece iff its two sides disagree on membership in R. Side
membership is decided combinatorially from signed depths into each
member (strictly-inside / strictly-outside / on-boundary with a
collinear interior-side test); exactly-coincident collinear boundaries
owned by two members are resolved by an owner-priority tie-break so the
edge is emitted exactly once. Kept edges are oriented with R's interior
on the left and traced into rings by ``faces``' successor rule and walk
(the ones ``faces.polygonize`` runs for protoblocks): CCW rings are
component exteriors, CW rings are holes.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

from .core import ring_signed_area
from .faces import build_vertices, cycles, next_edges
from .gridhash import cell_index, points_in_boxes
from .noding import SNAP, dedup_undirected, node_segments, snap_round

EPS_ON = 5e-5    # on-boundary band, m (must exceed snap displacement)
EPS_COLL = 1e-6  # sin(angle) floor for collinearity

# ConvexSet.query block size in MATRIX CELLS (pairs*nverts): ~32k cells
# x 8 B x ~4 live temporaries ~ 1 MB — inside per-core L2 on any
# plausible host, far under shared L3
_QUERY_CHUNK = 32768


# ---------- convex member construction ----------

def segment_rects(segs: np.ndarray, radii: np.ndarray) -> np.ndarray:
    """(n,4) segments + (n,) radii -> (n,4,2) CCW offset rectangles."""
    segs = np.asarray(segs, dtype=np.float64)
    radii = np.broadcast_to(np.asarray(radii, dtype=np.float64), (len(segs),))
    ax, ay, bx, by = segs[:, 0], segs[:, 1], segs[:, 2], segs[:, 3]
    dx, dy = bx - ax, by - ay
    ln = np.hypot(dx, dy)
    ln = np.where(ln == 0, 1.0, ln)
    nx = -dy / ln * radii
    ny = dx / ln * radii
    return np.stack([
        np.stack([ax - nx, ay - ny], axis=-1),
        np.stack([bx - nx, by - ny], axis=-1),
        np.stack([bx + nx, by + ny], axis=-1),
        np.stack([ax + nx, ay + ny], axis=-1)], axis=1)


def vertex_discs(centers: np.ndarray, radii: np.ndarray,
                 nseg: int = 5) -> np.ndarray:
    """Unique (center, radius) discs, canonical angular frame -> (m,V,2).

    V = 4*nseg; sample angles are offset half a step so no vertex lies on
    the axis directions (avoids vertex-on-line tangencies for the
    axis-aligned geometry that dominates street grids).
    """
    centers = np.asarray(centers, dtype=np.float64)
    radii = np.broadcast_to(np.asarray(radii, dtype=np.float64),
                            (len(centers),))
    key = np.column_stack([np.round(centers / SNAP),
                           np.round(radii / SNAP)]).astype(np.int64)
    kv = np.ascontiguousarray(key).view(np.dtype((np.void, 24))).ravel()
    _, idx = np.unique(kv, return_index=True)
    c = centers[idx]
    r = radii[idx][:, None]
    dtheta = np.pi / (2 * nseg)
    ang = dtheta / 2 + np.arange(4 * nseg) * dtheta
    return np.stack([c[:, 0:1] + r * np.cos(ang)[None, :],
                     c[:, 1:2] + r * np.sin(ang)[None, :]], axis=-1)


def buffer_members(segs: np.ndarray, radii: np.ndarray, nseg: int = 5
                   ) -> list[np.ndarray]:
    """Round buffer of segments as convex members: [rects, discs]."""
    segs = np.asarray(segs, dtype=np.float64)
    radii = np.broadcast_to(np.asarray(radii, dtype=np.float64), (len(segs),))
    ln = np.hypot(segs[:, 2] - segs[:, 0], segs[:, 3] - segs[:, 1])
    ok = ln > 0
    rects = segment_rects(segs[ok], radii[ok])
    centers = np.vstack([segs[:, :2], segs[:, 2:]])
    rr = np.concatenate([radii, radii])
    discs = vertex_discs(centers, rr, nseg)
    return [rects, discs]


def polys_boundary_edges(polys: np.ndarray) -> np.ndarray:
    """(S,V,2) polygons -> (S*V,4) closed boundary edges."""
    nxt = np.roll(polys, -1, axis=1)
    return np.concatenate([polys, nxt], axis=-1).reshape(-1, 4)


def polys_bboxes(polys: np.ndarray) -> np.ndarray:
    return np.column_stack([
        polys[:, :, 0].min(axis=1), polys[:, :, 1].min(axis=1),
        polys[:, :, 0].max(axis=1), polys[:, :, 1].max(axis=1)])


class ConvexSet:
    """A set of convex CCW polygons supporting batched signed-depth
    queries with a grid-hash bbox prefilter."""

    def __init__(self, polys: np.ndarray):
        # snap to the noder's grid so candidate edges coincide exactly
        # with member boundary lines (depth on own boundary ~ 0)
        polys = np.asarray(polys, dtype=np.float64)
        self.polys = snap_round(polys) if len(polys) else polys
        if len(self.polys):
            self.boxes = polys_bboxes(self.polys)
            spans = np.maximum(self.boxes[:, 2] - self.boxes[:, 0],
                               self.boxes[:, 3] - self.boxes[:, 1])
            self.bin = max(float(np.median(spans)), SNAP * 16)
            # precompute edge geometry (padded polygons may contain
            # zero-length edges: neutralized via +inf depth)
            vx, vy = self.polys[:, :, 0], self.polys[:, :, 1]
            ex = np.roll(vx, -1, axis=1) - vx
            ey = np.roll(vy, -1, axis=1) - vy
            el = np.hypot(ex, ey)
            self._degen = el == 0
            self._has_degen = bool(self._degen.any())
            iel = 1.0 / np.where(self._degen, 1.0, el)
            # Affine edge-line form: signed depth of point p to edge
            # line = (ex*(py-vy) - ey*(px-vx)) * iel
            #      = px*A + py*B + C  with A=-ey*iel, B=ex*iel,
            #        C=(ey*vx - ex*vy)*iel.
            # Precomputing (A, B, C) keeps the query chunk loop at 3
            # gathers + 4 elementwise passes — the fewest DRAM-bound
            # passes of the forms measured (wide-leg bandwidth was the
            # measured scaling limiter on a 32-core host). mdir is
            # recovered as (B, -A) at the argmin slot. Only A/B/C (+
            # the degenerate-edge mask) are retained; the intermediate
            # edge vectors are locals so per-set precompute memory is
            # 3 planes, not 7.
            # NUMERICAL ASSUMPTION: the affine form's absolute error
            # grows with |p| (no translate-to-edge-origin cancellation
            # protection). It is safe because all inputs are
            # AOI-centered local-TM meters (|p| ~ 1e4); a caller
            # feeding large-offset coordinates (e.g. UTM false
            # eastings, |p| ~ 1e6) would erode the EPS_ON margin.
            # tests/test_convexset_affine.py pins the margin at TM
            # magnitudes.
            self._A = -ey * iel
            self._B = ex * iel
            self._C = (ey * vx - ex * vy) * iel
        else:
            self.boxes = np.empty((0, 4))
            self.bin = 1.0
        self._cells = None       # lazily-built sorted (cells, owners)
        self._pad_cache = 0.0

    def _cell_index(self, pad: float) -> tuple[np.ndarray, np.ndarray]:
        """Sorted (cell_keys, owners) for boxes padded by >= ``pad``.

        A ConvexSet is queried 2-4x per region extraction (prune +
        classify passes of each region_boundary it joins); re-exploding
        and re-sorting the box cells each time dominated the prefilter
        cost. The index is built once with a pad ceiling that covers
        every pad the pipeline uses (0 or EPS_ON) — a too-large cell
        pad only widens the candidate superset; the exact bbox check in
        ``query`` applies the caller's actual pad, so results are
        bit-identical to the uncached path."""
        if self._cells is None or pad > self._pad_cache:
            self._pad_cache = max(pad, 1e-3)
            boxes = self.boxes.copy()
            boxes[:, :2] -= self._pad_cache
            boxes[:, 2:] += self._pad_cache
            self._cells = cell_index(boxes, self.bin)
        return self._cells

    def query(self, px: np.ndarray, py: np.ndarray, pad: float
              ) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
        """Candidate (point, poly) pairs with signed depth > -pad.

        Returns (pi, si, depth, min_edge_dir). Depth positive inside."""
        if len(self.polys) == 0 or len(px) == 0:
            z = np.empty(0, np.int64)
            return z, z, np.empty(0), np.empty((0, 2))
        pi, si = points_in_boxes(px, py, self._cell_index(pad), self.boxes,
                                 self.bin, pad)
        if len(pi) == 0:
            z = np.empty(0, np.int64)
            return z, z, np.empty(0), np.empty((0, 2))
        # signed dist to edge lines, computed in cache-resident CHUNKS:
        # the (pairs x nverts) temporaries would otherwise stream
        # hundreds of MB through DRAM per query, and the measured
        # scaling limiter on wide runs is shared memory bandwidth —
        # blocking keeps each temporary
        # in L2/L3 across its ~6 elementwise passes. Per-row argmin is
        # independent, so chunked results are bit-identical.
        nv = self.polys.shape[1]
        step = max(1, _QUERY_CHUNK // max(nv, 1))
        out_pi, out_si, out_depth, out_mdir = [], [], [], []
        for s0 in range(0, len(pi), step):
            cpi = pi[s0:s0 + step]
            csi = si[s0:s0 + step]
            A, B = self._A[csi], self._B[csi]
            d = np.multiply(A, px[cpi][:, None], out=A)
            d += np.multiply(B, py[cpi][:, None], out=B)
            d += self._C[csi]
            if self._has_degen:
                d = np.where(self._degen[csi], np.inf, d)
            k = np.argmin(d, axis=1)
            rows = np.arange(len(cpi))
            depth = d[rows, k]
            keep = depth > -pad
            rows = rows[keep]
            k = k[keep]
            out_pi.append(cpi[keep])
            out_si.append(csi[keep])
            out_depth.append(depth[keep])
            sk = csi[rows]
            out_mdir.append(np.column_stack(
                [self._B[sk, k], -self._A[sk, k]]))
        if len(out_pi) == 1:
            return out_pi[0], out_si[0], out_depth[0], out_mdir[0]
        return (np.concatenate(out_pi), np.concatenate(out_si),
                np.concatenate(out_depth), np.concatenate(out_mdir))


@dataclass
class Layer:
    """A convex-member set participating in a region definition."""
    cset: ConvexSet
    include: bool          # include (union) vs exclude (subtract)
    candidate: bool        # do its boundary edges seed the noding?


def region_boundary(layers: list[Layer]) -> np.ndarray:
    """Boundary of R = (∪ include-layers) \\ (∪ exclude-layers).

    Candidate edges come from layers flagged ``candidate`` — they must
    cover every line that can carry a piece of ∂R. Returns (m,4) directed
    edges with R's interior on the left.

    Tie-break: a noded piece lying on the coincident collinear boundary
    of several members is kept only for the smallest owner key, so shared
    boundaries are emitted exactly once (owner keys order candidate
    layers first, which guarantees the kept copy is candidate-backed).
    """
    layers = sorted(layers, key=lambda l: not l.candidate)
    cand_parts, owner_parts = [], []
    for li, layer in enumerate(layers):
        if not layer.candidate or len(layer.cset.polys) == 0:
            continue
        polys = layer.cset.polys
        edges = polys_boundary_edges(polys)
        keys = (np.int64(li) << 32) + np.repeat(
            np.arange(len(polys), dtype=np.int64), polys.shape[1])
        cand_parts.append(edges)
        owner_parts.append(keys)
    if not cand_parts:
        return np.empty((0, 4))
    cand = np.concatenate(cand_parts)
    owner = np.concatenate(owner_parts)

    # prune: a candidate edge strictly inside an exclude member — or an
    # include-owned edge strictly inside an include member — can never
    # carry a piece of ∂R. Convexity gives the bound depth(mid) > len/2.
    cmx = (cand[:, 0] + cand[:, 2]) / 2
    cmy = (cand[:, 1] + cand[:, 3]) / 2
    ch = np.hypot(cand[:, 2] - cand[:, 0], cand[:, 3] - cand[:, 1]) / 2
    n_inc = sum(1 for l in layers if l.candidate and l.include)
    inc_owned = owner < (np.int64(n_inc) << 32)
    drop = np.zeros(len(cand), dtype=bool)
    for layer in layers:
        pi, _si, depth, _mdir = layer.cset.query(cmx, cmy, pad=0.0)
        if len(pi) == 0:
            continue
        deep = depth > ch[pi] + EPS_ON
        if layer.include:
            hit = pi[deep][inc_owned[pi[deep]]]
        else:
            hit = pi[deep]
        drop[hit] = True
    # own polygon never strictly contains its own boundary edge (depth 0),
    # so no self-exemption is needed.
    cand = cand[~drop]
    owner = owner[~drop]

    noded, parent = node_segments(cand)
    noded, parent = dedup_undirected(noded, parent)
    if len(noded) == 0:
        return noded
    own = owner[parent]
    mx = (noded[:, 0] + noded[:, 2]) / 2
    my = (noded[:, 1] + noded[:, 3]) / 2
    dx = noded[:, 2] - noded[:, 0]
    dy = noded[:, 3] - noded[:, 1]
    ln = np.hypot(dx, dy)
    ux, uy = dx / ln, dy / ln

    n = len(noded)
    inc_l = np.zeros(n, dtype=bool)
    inc_r = np.zeros(n, dtype=bool)
    exc_l = np.zeros(n, dtype=bool)
    exc_r = np.zeros(n, dtype=bool)
    defer = np.zeros(n, dtype=bool)
    for li, layer in enumerate(layers):
        pi, si, depth, mdir = layer.cset.query(mx, my, pad=EPS_ON)
        if len(pi) == 0:
            continue
        mkey = (np.int64(li) << 32) + si
        left = inc_l if layer.include else exc_l
        right = inc_r if layer.include else exc_r
        inside = depth > EPS_ON
        np.logical_or.at(left, pi[inside], True)
        np.logical_or.at(right, pi[inside], True)
        band = ~inside & (depth >= -EPS_ON)
        if band.any():
            bi = pi[band]
            bdir = mdir[band]
            cross = ux[bi] * bdir[:, 1] - uy[bi] * bdir[:, 0]
            dot = ux[bi] * bdir[:, 0] + uy[bi] * bdir[:, 1]
            # collinearity tolerance scales with snap-induced angular noise
            coll = np.abs(cross) <= np.maximum(EPS_COLL, 6 * SNAP / ln[bi])
            same = coll & (dot > 0)
            opp = coll & (dot <= 0)
            np.logical_or.at(left, bi[same], True)
            np.logical_or.at(right, bi[opp], True)
            # coincident collinear boundary owned by a smaller key member:
            # that member's candidate carries the edge instead
            lose = coll & (mkey[band] < own[bi])
            np.logical_or.at(defer, bi[lose], True)
            # near-tangent corner fallback: depth sign decides both/neither
            corner_in = ~coll & (depth[band] > 0)
            np.logical_or.at(left, bi[corner_in], True)
            np.logical_or.at(right, bi[corner_in], True)

    in_l = inc_l & ~exc_l
    in_r = inc_r & ~exc_r
    keep = (in_l != in_r) & ~defer
    kept = noded[keep]
    flip = in_r[keep]  # interior on right -> reverse so it is on left
    out = kept.copy()
    out[flip] = kept[flip][:, [2, 3, 0, 1]]
    return out


# ---------- directed ring tracing ----------

def _repair_graph(edges: np.ndarray) -> np.ndarray:
    """Heal float-noise defects in a directed boundary edge set.

    Dilate-then-erode reconstructs coincident support lines through
    independent float computations that can end up a few snap quanta
    apart, leaving (a) chain gaps between degree-unbalanced vertices and
    (b) duplicated parallel chains. Merge imbalanced vertices within
    ``tol`` (union-find over a grid hash), rewrite endpoints, then drop
    zero-length and duplicate directed edges.
    """
    tol = 64 * SNAP
    for _ in range(2):
        n = len(edges)
        if n == 0:
            return edges
        verts, evi = build_vertices(edges)
        tail, head = evi[:, 0], evi[:, 1]
        outd = np.bincount(tail, minlength=len(verts))
        ind = np.bincount(head, minlength=len(verts))
        bad = np.flatnonzero(outd != ind)
        if len(bad) == 0:
            return edges
        # union-find over imbalanced vertices within tol
        bv = verts[bad]
        parent = np.arange(len(bad))

        def find(i):
            while parent[i] != i:
                parent[i] = parent[parent[i]]
                i = parent[i]
            return i

        cell = np.floor(bv / tol).astype(np.int64)
        import collections
        buckets = collections.defaultdict(list)
        for i, (cx, cy) in enumerate(cell):
            buckets[(cx, cy)].append(i)
        for i in range(len(bad)):
            cx, cy = cell[i]
            for dx2 in (-1, 0, 1):
                for dy2 in (-1, 0, 1):
                    for j in buckets.get((cx + dx2, cy + dy2), ()):
                        if j <= i:
                            continue
                        if np.hypot(*(bv[i] - bv[j])) <= tol:
                            parent[find(i)] = find(j)
        # rewrite merged vertices to their root representative
        repl = {}
        for i in range(len(bad)):
            r = find(i)
            if r != i:
                repl[bad[i]] = bad[r]
        if not repl:
            return edges
        new_edges = edges.copy()
        # one O(n) gather instead of a boolean mask pass per merged
        # vertex (the masks were O(n * |repl|) allocation churn in the
        # hot tile kernel); identical semantics — only endpoints whose
        # vertex id is in repl are rewritten, others keep their
        # original float coords
        vmap = np.full(len(verts), -1, dtype=np.int64)
        vmap[np.fromiter(repl.keys(), np.int64, len(repl))] = \
            np.fromiter(repl.values(), np.int64, len(repl))
        mt = vmap[tail]
        mh = vmap[head]
        selt = mt >= 0
        selh = mh >= 0
        new_edges[selt, 0:2] = verts[mt[selt]]
        new_edges[selh, 2:4] = verts[mh[selh]]
        ln = np.hypot(new_edges[:, 2] - new_edges[:, 0],
                      new_edges[:, 3] - new_edges[:, 1])
        new_edges = new_edges[ln > 0]
        # drop duplicate directed edges (merged parallel chains)
        qq = np.round(new_edges / SNAP).astype(np.int64)
        kk = np.ascontiguousarray(qq).view(np.dtype((np.void, 32))).ravel()
        _, idx = np.unique(kk, return_index=True)
        idx.sort()
        edges = new_edges[idx]
    return edges


def trace_directed_rings(edges: np.ndarray
                         ) -> tuple[list[np.ndarray], list[np.ndarray]]:
    """Directed boundary edges (interior on left) -> (exterior_rings,
    hole_rings), both CCW-normalized vertex arrays.

    The graph is ``faces``' (successor rule ``faces.next_edges``, walk
    ``faces.cycles``), run on the repaired edges as given, not doubled.
    Open chains (numerical noise) and tiny rings are dropped.
    """
    edges = _repair_graph(np.asarray(edges, dtype=np.float64))
    if len(edges) == 0:
        return [], []
    verts, evi = build_vertices(edges)
    tail, head = evi[evi[:, 0] != evi[:, 1]].T
    ext, holes = [], []
    for walk, closed in cycles(next_edges(verts, tail, head)):
        if not closed or len(walk) < 3:
            continue
        ring = verts[tail[walk]]
        area = ring_signed_area(ring)
        if abs(area) <= (SNAP * 100) ** 2:
            continue
        if area > 0:
            ext.append(ring)
        else:
            holes.append(ring[::-1])
    return ext, holes


# ---------- high-level operations ----------

def simplify_collinear(ring: np.ndarray) -> np.ndarray:
    """Drop vertices whose perpendicular deviation from the chord of their
    neighbors is below 1e-9; keeps ring topology.

    That tolerance merges only *exactly* collinear chains: a looser one
    would perturb ring edges off the convex-member boundary lines they lie
    on and create near-tangencies that break the combinatorial side
    classification downstream.
    """
    if len(ring) <= 3:
        return ring
    prev, nxt = _ring_prev_next(ring)
    chord = nxt - prev
    ln = np.hypot(chord[:, 0], chord[:, 1])
    ln = np.where(ln == 0, 1.0, ln)
    dev = np.abs(chord[:, 0] * (ring[:, 1] - prev[:, 1])
                 - chord[:, 1] * (ring[:, 0] - prev[:, 0])) / ln
    keep = dev > 1e-9
    if keep.sum() < 3:
        return ring
    return ring[keep]


def rings_to_edges(rings: list[np.ndarray]) -> np.ndarray:
    """Closed-ring vertex arrays -> stacked (E,4) edge segments."""
    if not rings:
        return np.empty((0, 4))
    lens = np.array([len(r) for r in rings], dtype=np.int64)
    flat = np.concatenate(rings)
    starts = np.cumsum(lens) - lens
    # next-vertex index: i+1 within the ring, wrapping to the ring start
    idx = np.arange(len(flat), dtype=np.int64) + 1
    ends = np.cumsum(lens) - 1
    idx[ends] = starts
    return np.hstack([flat, flat[idx]])


def buffer_union(segs: np.ndarray, radii: np.ndarray, nseg: int = 5):
    """Round-buffer each segment and dissolve (G1+A1 of SURVEY §2).

    Returns (member_sets, exterior_rings, hole_rings); member_sets define
    the union's coverage for downstream morphology stages.
    """
    rects, discs = buffer_members(segs, radii, nseg)
    sets = [ConvexSet(rects), ConvexSet(discs)]
    layers = [Layer(s, include=True, candidate=True) for s in sets]
    ext, holes = trace_directed_rings(region_boundary(layers))
    return sets, ext, holes


def _ring_prev_next(ring: np.ndarray):
    """(prev, next) vertex arrays with wraparound — np.roll(ring, ±1,
    axis=0) without per-call dispatch (runs once per ring)."""
    prev = np.concatenate((ring[-1:], ring[:-1]))
    nxt = np.concatenate((ring[1:], ring[:1]))
    return prev, nxt


def ring_wedges(ring: np.ndarray, radius: float, nseg: int = 5
                ) -> list[np.ndarray]:
    """Corner sector polygons filling the offset gaps at ring turns.

    At a vertex where consecutive edges turn by angle θ, the ±r edge
    rectangles leave an uncovered sector of angle θ on the convex side;
    the wedge [v, v + n_start, arc..., v + n_end] covers it. Far cheaper
    than a full disc per vertex (tiny bbox, 3-6 vertices), which keeps
    the pair counts of the depth queries small.
    """
    n = len(ring)
    if n < 3:
        return []
    prev, nxt = _ring_prev_next(ring)
    u1 = ring - prev
    u2 = nxt - ring
    l1 = np.hypot(u1[:, 0], u1[:, 1])
    l2 = np.hypot(u2[:, 0], u2[:, 1])
    ok = (l1 > 0) & (l2 > 0)
    u1 = u1 / np.where(l1 == 0, 1, l1)[:, None]
    u2 = u2 / np.where(l2 == 0, 1, l2)[:, None]
    cross = u1[:, 0] * u2[:, 1] - u1[:, 1] * u2[:, 0]
    dot = u1[:, 0] * u2[:, 0] + u1[:, 1] * u2[:, 1]
    theta = np.arctan2(cross, dot)      # turn angle, signed
    dtheta = np.pi / (2 * nseg)
    sel = ok & (np.abs(theta) >= 1e-9)
    if not sel.any():
        return []
    v = ring[sel]
    th = theta[sel]
    left = th > 0
    a0 = np.where(left,
                  np.arctan2(-u1[sel, 0], u1[sel, 1]),   # u1's right normal
                  np.arctan2(u2[sel, 0], -u2[sel, 1]))   # u2's left normal
    span = np.abs(th)
    nsteps = np.maximum(1, np.ceil(span / dtheta).astype(np.int64))
    jmax = int(nsteps.max())
    # padded arc: angle_j = a0 + span * min(j, nsteps)/nsteps; clamping j
    # repeats the final arc point, which ConvexSet ignores as degenerate
    j = np.minimum(np.arange(jmax + 1)[None, :], nsteps[:, None])
    angs = a0[:, None] + span[:, None] * (j / nsteps[:, None])
    pts = np.empty((len(v), jmax + 2, 2))
    pts[:, 0] = v
    pts[:, 1:, 0] = v[:, 0:1] + radius * np.cos(angs)
    pts[:, 1:, 1] = v[:, 1:2] + radius * np.sin(angs)
    return list(pts)


def _pad_polys(polys: list[np.ndarray]) -> np.ndarray:
    """Stack variable-vertex convex polygons, padding by repeating the
    last vertex (degenerate edges are ignored by ConvexSet.query)."""
    if not polys:
        return np.empty((0, 3, 2))
    vmax = max(len(p) for p in polys)
    out = np.empty((len(polys), vmax, 2))
    for i, p in enumerate(polys):
        out[i, :len(p)] = p
        out[i, len(p):] = p[-1]
    return out


def _ring_buffer_members(rings: list[np.ndarray], radius: float,
                         nseg: int) -> list[np.ndarray]:
    simp = [simplify_collinear(r) for r in rings]
    edges = rings_to_edges(simp)
    if len(edges) == 0:
        return [np.empty((0, 4, 2)), np.empty((0, 3, 2))]
    rects = segment_rects(edges, np.full(len(edges), radius))
    wedges = []
    for r in simp:
        wedges.extend(ring_wedges(r, radius, nseg))
    return [rects, _pad_polys(wedges)]


def morphological_close(u_sets: list[ConvexSet], rings_u: list[np.ndarray],
                        radius: float, nseg: int = 5):
    """close(U, r) = erode(dilate(U, r), r).

    ``u_sets`` define U's coverage; ``rings_u`` are all its boundary rings
    (exterior + holes). Returns (ext_rings, hole_rings) of the closed
    region. Mirrors buffer(+r)/buffer(-r) at
    sidewalk_generation_logic.py:336-355.
    """
    if not rings_u:
        return [], []
    # dilate: D = U ∪ buffer(∂U, r)
    d_members = _ring_buffer_members(rings_u, radius, nseg)
    d_sets = [ConvexSet(p) for p in d_members]
    layers_d = ([Layer(s, True, True) for s in d_sets]
                + [Layer(s, True, False) for s in u_sets])
    ext_d, holes_d = trace_directed_rings(region_boundary(layers_d))
    rings_d = ext_d + holes_d
    if not rings_d:
        return [], []
    # erode: C = D \ buffer(∂D, r)
    e_members = _ring_buffer_members(rings_d, radius, nseg)
    e_sets = [ConvexSet(p) for p in e_members]
    layers_c = ([Layer(s, False, True) for s in e_sets]
                + [Layer(s, True, False) for s in d_sets]
                + [Layer(s, True, False) for s in u_sets])
    return trace_directed_rings(region_boundary(layers_c))
