"""Equivalence tests: the flat-vectorized kernels must reproduce a
straightforward per-feature loop implementation bit-for-bit.

The loop references below re-state the reference semantics
(full_sidewalkreator_bbox_algorithm.py:515-938 for crossings,
sidewalk_generation_logic.py:436-588 for tag zones) the way round 1
implemented them; round 2 vectorized the engine paths for the
two-cluster-size scaling rule, so these tests pin the refactor.
"""

import numpy as np
import pytest

from osm_sidewalkreator_spark import params as P
from osm_sidewalkreator_spark.geometry import core, gridhash, noding
from osm_sidewalkreator_spark.plans import kernels


def _rand_city(rng, n=120, span=400.0):
    """Random street-ish segment soup with junction sharing."""
    pts = rng.uniform(0, span, size=(n // 2, 2))
    i = rng.integers(0, len(pts), size=n)
    j = rng.integers(0, len(pts), size=n)
    segs = np.column_stack([pts[i], pts[j]])
    keep = (segs[:, 0] != segs[:, 2]) | (segs[:, 1] != segs[:, 3])
    return segs[keep]


# ---------- gridhash ----------

def test_join_points_to_boxes_bruteforce():
    rng = np.random.default_rng(7)
    px = rng.uniform(0, 100, 300)
    py = rng.uniform(0, 100, 300)
    boxes = np.sort(rng.uniform(0, 100, (40, 4)).reshape(40, 2, 2),
                    axis=1).transpose(0, 2, 1).reshape(40, 4)
    boxes = np.column_stack([boxes[:, 0], boxes[:, 2],
                             boxes[:, 1], boxes[:, 3]])
    pi, bi = gridhash.join_points_to_boxes(px, py, boxes, 7.3)
    got = set(zip(pi.tolist(), bi.tolist()))
    want = set()
    for b in range(len(boxes)):
        m = ((px >= boxes[b, 0]) & (px <= boxes[b, 2])
             & (py >= boxes[b, 1]) & (py <= boxes[b, 3]))
        want |= {(int(p), b) for p in np.flatnonzero(m)}
    assert got == want


def test_segmented_arange():
    counts = np.array([3, 0, 1, 4])
    assert gridhash._segmented_arange(counts).tolist() == \
        [0, 1, 2, 0, 0, 1, 2, 3]
    assert gridhash._segmented_arange(np.array([], dtype=np.int64)).size == 0


# ---------- noding rebuild ----------

def test_node_segments_matches_loop_reference():
    rng = np.random.default_rng(3)
    segs = _rand_city(rng, n=80, span=60.0)
    noded, parent = noding.node_segments(segs)
    # invariants: every sub-segment lies on its parent's line and the
    # per-parent sub-lengths sum to the parent length
    lens = core.segment_lengths(segs)
    sub = core.segment_lengths(noded)
    tot = np.zeros(len(segs))
    np.add.at(tot, parent, sub)
    live = np.unique(parent)
    assert np.allclose(tot[live], lens[live], atol=1e-6)
    ax, ay = segs[parent, 0], segs[parent, 1]
    dx, dy = segs[parent, 2] - ax, segs[parent, 3] - ay
    for px, py in ((noded[:, 0], noded[:, 1]), (noded[:, 2], noded[:, 3])):
        cross = np.abs((px - ax) * dy - (py - ay) * dx) / lens[parent]
        assert cross.max() < 1e-4  # snap-grid tolerance
    # all pairwise intersections are now endpoints: re-noding is a fixpoint
    renoded, _ = noding.node_segments(noded)
    assert len(renoded) == len(noded)


# ---------- crossings_and_kerbs ----------

def _crossings_loop_reference(noded_segs, widths, sidewalk_segs,
                              way_ids=None,
                              search_buffer=P.ENDPOINT_SEARCH_BUFFER,
                              min_seg_len=P.MIN_SEG_LEN_FOR_CROSSING,
                              kerb_perc=P.KERB_PERC,
                              curve_radius=P.DEFAULT_CURVE_RADIUS,
                              d_to_add=P.D_TO_ADD_TO_EACH_SIDE):
    """Round-1 per-endpoint loop implementation (the pinned baseline)."""
    n = len(noded_segs)
    crossings, kerbs = [], []
    if n == 0:
        return crossings, kerbs
    widths = np.asarray(widths, dtype=np.float64)
    lens = core.segment_lengths(noded_segs)

    def interp(a, b, d, ln):
        t = min(max(d / ln, 0.0), 1.0)
        return a + t * (b - a)

    centers = []
    for si in range(n):
        a, b = noded_segs[si, :2], noded_segs[si, 2:]
        ln = lens[si]
        if ln == 0:
            continue
        for end_code, ep in ((0, a), (1, b)):
            d = core.closest_on_segments(
                np.full(n, ep[0]), np.full(n, ep[1]), noded_segs)[2]
            near = d <= search_buffer
            near[si] = False
            if way_ids is not None:
                near &= np.asarray(way_ids) != way_ids[si]
            if not near.any():
                continue
            max_w = float(widths[near].max())
            d_interp = max_w * 0.5 + curve_radius + d_to_add
            if d_interp > 0.5 * ln:
                d_interp = ln * 0.1
            if end_code == 0:
                center = interp(a, b, d_interp, ln)
                sd = min(d_interp + 1.0, max(0.0, ln - 1e-6))
            else:
                center = interp(a, b, ln - d_interp, ln)
                sd = max(0.0, ln - d_interp - 1.0)
            dirpt = interp(a, b, sd, ln)
            dx, dy = dirpt - center
            norm = float(np.hypot(dx, dy))
            if norm == 0:
                continue
            half_span = max_w * 0.5 + curve_radius + d_to_add + 0.5
            perp = np.array([-dy, dx]) / norm * half_span
            centers.append((center, perp, ln, si, end_code))
    centers.sort(key=lambda c: (round(c[0][0], 6), round(c[0][1], 6),
                                c[3], c[4]))
    for center, perp, ln, _si, _e in centers:
        if ln < min_seg_len:
            continue
        pA, pE = center - perp, center + perp
        best_a = best_e = None
        da_best = de_best = np.inf
        for s in np.asarray(sidewalk_segs, dtype=np.float64):
            a2, d2 = s[:2], s[2:] - s[:2]
            d1 = pE - pA
            denom = d1[0] * d2[1] - d1[1] * d2[0]
            if abs(denom) <= 1e-12:
                continue
            e = a2 - pA
            t = (e[0] * d2[1] - e[1] * d2[0]) / denom
            u = (e[0] * d1[1] - e[1] * d1[0]) / denom
            if not (0 <= t <= 1 and 0 <= u <= 1):
                continue
            pt = pA + t * d1
            dA = float(np.hypot(*(pt - pA)))
            dE = float(np.hypot(*(pt - pE)))
            if dA < dE:
                if dA < da_best:
                    da_best, best_a = dA, pt
            else:
                if dE < de_best:
                    de_best, best_e = dE, pt
        if best_a is None or best_e is None:
            continue
        B = best_a + (center - best_a) * kerb_perc
        D = best_e + (center - best_e) * kerb_perc
        coords = np.vstack([best_a, B, center, D, best_e])
        ci = len(crossings)
        crossings.append({"coords": coords,
                          "length": core.polyline_length(coords),
                          "center": center})
        kerbs.append({"xy": B, "crossing_index": ci})
        kerbs.append({"xy": D, "crossing_index": ci})
    return crossings, kerbs


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_crossings_vectorized_matches_loop(seed):
    rng = np.random.default_rng(seed)
    segs = _rand_city(rng, n=60, span=200.0)
    widths = rng.uniform(2.0, 12.0, len(segs))
    ways = rng.integers(0, 20, len(segs))
    noded, w, parent = kernels.split_streets(segs, widths)
    way_ids = ways[parent]
    # sidewalk soup: offset copies of the streets
    sw = noded + rng.normal(0, 3.0, (len(noded), 4))
    want = _crossings_loop_reference(noded, w, sw, way_ids=way_ids)
    got = kernels.crossings_and_kerbs(noded, w, sw, way_ids=way_ids)
    assert len(got[0]) == len(want[0])
    assert len(got[1]) == len(want[1])
    for g, x in zip(got[0], want[0]):
        assert np.allclose(g["coords"], x["coords"], atol=1e-12)
        assert g["length"] == pytest.approx(x["length"], abs=1e-12)
    for g, x in zip(got[1], want[1]):
        assert np.allclose(g["xy"], x["xy"], atol=1e-12)
        assert g["crossing_index"] == x["crossing_index"]


# ---------- sidewalk_tag_zones ----------

def _tag_zones_loop_reference(segs, widths, sidewalk, s_left, s_right,
                              s_both, d_to_add=P.D_TO_ADD_TO_EACH_SIDE):
    n = len(segs)

    def norm(a):
        if a is None:
            return np.full(n, "", dtype=object)
        return np.asarray([x if x is not None else "" for x in a],
                          dtype=object)

    sidewalk, s_left = norm(sidewalk), norm(s_left)
    s_right, s_both = norm(s_right), norm(s_both)
    tag_dist = np.asarray(widths, dtype=np.float64) / 2 + d_to_add / 2 + 0.5
    sure, excl = [], []
    for i in range(n):
        sw, sl = sidewalk[i] or "", s_left[i] or ""
        sr, sb = s_right[i] or "", s_both[i] or ""
        seg, d = segs[i:i + 1], tag_dist[i:i + 1]
        L = kernels.single_sided_zone(seg, d, True)[0]
        R = kernels.single_sided_zone(seg, d, False)[0]
        if sw == "no" or sb == "no":
            excl.extend([L, R])
        elif sw == "left" or sl == "yes":
            sure.append(L); excl.append(R)
        elif sw == "right" or sr == "yes":
            sure.append(R); excl.append(L)
        elif sl == "no":
            excl.append(L)
        elif sr == "no":
            excl.append(R)
        elif sw in ("both", "yes") or sb == "yes":
            sure.extend([L, R])
        elif not (sw or sl or sr or sb):
            sure.extend([L, R])
    return sure, excl


def test_tag_zones_vectorized_matches_loop():
    rng = np.random.default_rng(11)
    n = 200
    segs = rng.uniform(0, 100, (n, 4))
    widths = rng.uniform(2, 10, n)
    vocab = ["", "no", "yes", "left", "right", "both", "separate", None]
    sidewalk, s_left, s_right, s_both = [
        np.array([vocab[k] for k in rng.integers(0, len(vocab), n)],
                 dtype=object) for _ in range(4)]
    want = _tag_zones_loop_reference(segs, widths, sidewalk, s_left,
                                     s_right, s_both)
    got = kernels.sidewalk_tag_zones(segs, widths, sidewalk, s_left,
                                     s_right, s_both)
    for g_list, w_list in zip(got, want):
        assert len(g_list) == len(w_list)
        for g, x in zip(g_list, w_list):
            assert np.allclose(g, x, atol=1e-12)


# ---------- A10 existing-sidewalk protoblock filter ----------

def test_protoblock_existing_sidewalk_filter():
    """osm_sidewalkreator.py:733-762: drop blocks whose incident
    existing-sidewalk ways' (len/4)^2-to-area ratio exceeds 40%."""
    blocks = [
        np.array([[0, 0], [100, 0], [100, 100], [0, 100]], float),
        np.array([[100, 0], [200, 0], [200, 100], [100, 100]], float),
        np.array([[200, 0], [300, 0], [300, 100], [200, 100]], float),
    ]
    # way A: 82x82 ring inside block 0 -> ratio 67.24 -> drop block 0
    ra = np.array([[9, 9], [91, 9], [91, 91], [9, 91], [9, 9]], float)
    segs_a = np.hstack([ra[:-1], ra[1:]])
    # way B: 40x40 ring inside block 1 -> ratio 16 -> keep
    rb = np.array([[130, 30], [170, 30], [170, 70], [130, 70],
                   [130, 30]], float)
    segs_b = np.hstack([rb[:-1], rb[1:]])
    segs = np.vstack([segs_a, segs_b])
    ids = np.array(["A"] * 4 + ["B"] * 4, dtype=object)
    lens = np.array([328.0] * 4 + [160.0] * 4)
    kept = kernels.filter_protoblocks_by_existing_sidewalks(
        blocks, segs, ids, lens)
    assert len(kept) == 2
    assert kept[0] is blocks[1] and kept[1] is blocks[2]
    # a way SPANNING two blocks contributes its FULL length to both
    # (reference sums feature lengths, not clipped pieces)
    rc = np.array([[50, 50], [250, 50], [250, 60], [50, 60], [50, 50]],
                  float)  # 420 m perimeter crossing blocks 0..2
    segs_c = np.hstack([rc[:-1], rc[1:]])
    ids_c = np.array(["C"] * 4, dtype=object)
    lens_c = np.full(4, 420.0)
    kept2 = kernels.filter_protoblocks_by_existing_sidewalks(
        blocks, segs_c, ids_c, lens_c)
    # (420/4)^2/10000*100 = 110.25 > 40 in every touched block
    assert kept2 == []


# ---------- crossing quality attributes + GUI enlargement loop ----------

def _city_with_sidewalks(seed=4):
    rng = np.random.default_rng(seed)
    segs = _rand_city(rng, n=60, span=200.0)
    widths = rng.uniform(2.0, 12.0, len(segs))
    ways = rng.integers(0, 20, len(segs))
    noded, w, parent = kernels.split_streets(segs, widths)
    sw = noded + rng.normal(0, 3.0, (len(noded), 4))
    return noded, w, ways[parent], sw


def test_crossing_quality_attributes():
    noded, w, way_ids, sw = _city_with_sidewalks()
    crossings, kerbs = kernels.crossings_and_kerbs(noded, w, sw,
                                                   way_ids=way_ids)
    assert crossings, "fixture produced no crossings"
    for c in crossings:
        # ortho_len_dif and above_tol follow osm_sidewalkreator.py:1660-74
        assert "ortho_len_dif" in c and "above_tol" in c
        ortholen = c["length"] - c["ortho_len_dif"]
        assert c["above_tol"] == (c["length"] > ortholen
                                  * (1 + P.PERC_TOL_CROSSINGS / 100.0)) \
            or abs(c["length"] - ortholen
                   * (1 + P.PERC_TOL_CROSSINGS / 100.0)) < 2e-3
    # nearest_centerpoint: symmetric-ish sanity via brute force
    C = np.array([c["center"] for c in crossings])
    for k, c in enumerate(crossings):
        d = np.hypot(C[:, 0] - C[k, 0], C[:, 1] - C[k, 1])
        d[k] = np.inf
        want = round(float(d.min()), 3) if d.min() <= P.KNN_MAX_DIST \
            else None
        assert c["nearest_centerpoint"] == want


def test_gui_enlargement_resolves_more_crossings():
    """Sidewalks form a funnel converging toward the street: at the
    endpoint the corridor is wider than the single-shot half-span
    (miss), but the GUI loop (osm_sidewalkreator.py:3035-3170) doubles
    the reach to find them and steps the center inward until the
    crossing shortens below tolerance."""
    # junction at (0,0): horizontal street + vertical cross street
    noded = np.array([[0, 0, 100, 0], [0, -50, 0, 50]], float)
    noded, w, parent = kernels.split_streets(noded, np.array([6.0, 6.0]))
    ways = np.array(["a", "b"])[parent]
    # funnel: |y| = 15 - x for x in [0, 15] -> corridor 16 m at the
    # initial center x=7 (half-span 7.5 misses), 8 m at x=11 (below
    # max_len = (1+6)*1.25 = 8.75)
    sw = np.array([[0, 15, 15, 0], [0, -15, 15, 0]], float)
    single, _ = kernels.crossings_and_kerbs(noded, w, sw, way_ids=ways)
    gui, gk = kernels.crossings_and_kerbs(noded, w, sw, way_ids=ways,
                                          enlarge=True)
    assert len(single) == 0
    assert len(gui) > 0
    max_len = (P.D_TO_ADD_TO_EACH_SIDE + 6.0) \
        * (1 + P.PERC_TOL_CROSSINGS / 100.0)
    for c in gui:
        assert c["length"] <= max_len + 1e-9   # inward steps converged
        assert len(c["coords"]) == 5
        assert not c["above_tol"]
    assert len(gk) == 2 * len(gui)


def test_gui_inward_step_shortens_long_crossings():
    """A slanted street meets the sidewalk corridor obliquely; stepping
    the center inward must yield a shorter (or equal) crossing than the
    single-shot at the same endpoint, never a longer one."""
    rng = np.random.default_rng(9)
    noded, w, way_ids, sw = _city_with_sidewalks(9)
    gui, _ = kernels.crossings_and_kerbs(noded, w, sw, way_ids=way_ids,
                                         enlarge=True)
    for c in gui:
        assert c["length"] <= P.ABS_MAX_CROSSING_LEN
