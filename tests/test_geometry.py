"""Unit tests for the pure-NumPy geometry kernels.

Mirrors the reference's operator-level tests (SURVEY.md §5):
polygonize counts on grids, buffer/close areas, crossing invariants.
"""

import numpy as np
import pytest

from osm_sidewalkreator_spark.geometry import core, faces, noding, wkb
from osm_sidewalkreator_spark.geometry.morph import (
    buffer_union, morphological_close)
from osm_sidewalkreator_spark.geometry.projection import tm_forward, tm_inverse
from osm_sidewalkreator_spark.plans import kernels


def grid_segments(k: int, s: float = 100.0) -> np.ndarray:
    segs = []
    for i in range(k):
        segs.append([0, i * s, (k - 1) * s, i * s])
        segs.append([i * s, 0, i * s, (k - 1) * s])
    return np.array(segs, dtype=float)


# ---------- WKB ----------

def test_wkb_roundtrip_point():
    t, parts = wkb.decode(wkb.point_wkb(1.5, -2.5))
    assert t == wkb.POINT
    np.testing.assert_array_equal(parts[0], [[1.5, -2.5]])


def test_wkb_roundtrip_linestring():
    coords = np.array([[0, 0], [1, 2], [3, 4.5]])
    t, parts = wkb.decode(wkb.linestring_wkb(coords))
    assert t == wkb.LINESTRING
    np.testing.assert_array_equal(parts[0], coords)


def test_wkb_roundtrip_polygon_with_hole():
    shell = np.array([[0, 0], [10, 0], [10, 10], [0, 10]], float)
    hole = np.array([[4, 4], [6, 4], [6, 6], [4, 6]], float)
    rings = wkb.decode_polygons(wkb.polygon_wkb(shell, [hole]))
    assert len(rings) == 1 and len(rings[0]) == 2
    np.testing.assert_array_equal(rings[0][1], hole)


# ---------- parts -> segments ----------

def _explode_loop_reference(parts):
    """Per-part, per-vertex loop: every consecutive vertex pair that is
    not a repeated vertex, with the index of its part."""
    segs, owner = [], []
    for i, p in enumerate(parts):
        for a, b in zip(p[:-1], p[1:]):
            if a[0] != b[0] or a[1] != b[1]:
                segs.append([*a, *b])
                owner.append(i)
    return np.array(segs, float).reshape(-1, 4), np.array(owner, np.int64)


def _random_parts(rng, n):
    parts = []
    for _ in range(n):
        p = rng.integers(0, 4, (rng.integers(1, 8), 2)).astype(float)
        kind = rng.integers(0, 4)
        if kind == 3:       # a 1-vertex part: no segment
            p = p[:1]
        elif kind == 1:       # repeated consecutive vertices
            p = np.repeat(p, rng.integers(1, 3, len(p)), axis=0)
        elif kind == 2:     # a ring, open or stored closed
            p = np.vstack([p, p[:1]]) if rng.integers(0, 2) else p
            p = np.vstack([p, p[:1]])       # closed as decode_paths does
        parts.append(p)
    return parts


def test_explode_parts_matches_loop():
    rng = np.random.default_rng(5)
    for n in (1, 2, 7, 40, 200):
        parts = _random_parts(rng, n)
        segs, part = core.explode_parts(np.concatenate(parts),
                                        [len(p) for p in parts])
        want_segs, want_part = _explode_loop_reference(parts)
        np.testing.assert_array_equal(segs, want_segs)
        np.testing.assert_array_equal(part, want_part)
        assert part.dtype == np.int64


def test_explode_parts_of_multipolygon_wkb():
    """Every ring of every part, closed once, whether stored open or
    closed: the same edges, in order, with the wrap-around edge."""
    shell = np.array([[0, 0], [10, 0], [10, 10], [0, 10]], float)
    hole = np.array([[4, 4], [6, 4], [6, 6], [4, 6], [4, 4]], float)
    shell2 = np.array([[20, 0], [30, 0], [30, 5], [30, 5], [20, 0]], float)
    blob = wkb.multipolygon_wkb([(shell, [hole]), (shell2, [])])
    assert [len(r) for r in wkb.decode_rings(blob)] == [4, 5, 5]
    flat, nv, rows = wkb.decode_column([blob, blob], wkb.decode_paths)
    segs, part = core.explode_parts(flat, nv)
    rings = [shell, hole, shell2]
    want, want_part = _explode_loop_reference(
        [np.vstack([r, r[:1]]) for r in rings] * 2)
    np.testing.assert_array_equal(segs, want)
    np.testing.assert_array_equal(part, want_part)
    np.testing.assert_array_equal(rows[part], np.repeat([0, 1], 11))
    assert len(segs) == 22          # 4 + 4 + 3 edges per row


# ---------- noding + polygonize ----------

def test_polygonize_unit_square():
    sq = np.array([[0, 0, 1, 0], [1, 0, 1, 1], [1, 1, 0, 1], [0, 1, 0, 0]],
                  float)
    noded, p = noding.node_segments(sq)
    noded, p = noding.dedup_undirected(noded, p)
    assert len(faces.polygonize(noded, min_area=1e-9)) == 1


@pytest.mark.parametrize("k", [3, 5, 8])
def test_polygonize_grid_counts(k):
    noded, p = noding.node_segments(grid_segments(k))
    noded, p = noding.dedup_undirected(noded, p)
    assert len(faces.polygonize(noded)) == (k - 1) ** 2


def test_polygonize_dangle_no_extra_face():
    segs = np.array([[0, 0, 1, 0], [1, 0, 1, 1], [1, 1, 0, 1], [0, 1, 0, 0],
                     [0.5, 0.5, 2, 0.5]], float)
    noded, p = noding.node_segments(segs)
    noded, p = noding.dedup_undirected(noded, p)
    f = faces.polygonize(noded, min_area=1e-9)
    assert len(f) == 1
    assert abs(abs(core.ring_signed_area(f[0])) - 1.0) < 1e-9


def _faces_oracle(segs, min_area):
    """Per-vertex face walk: at the head of each directed edge, sort the
    outgoing edges by angle and take the one before the twin."""
    verts, evi = faces.build_vertices(segs)
    out = {}
    for u, v in evi:
        if u != v:
            out.setdefault(u, []).append(v)
            out.setdefault(v, []).append(u)

    def angle(a, b):
        return np.arctan2(verts[b, 1] - verts[a, 1], verts[b, 0] - verts[a, 0])

    fans = {a: sorted(bs, key=lambda b: angle(a, b)) for a, bs in out.items()}
    seen, rings = set(), []
    for a0, bs in out.items():
        for b0 in bs:
            ids, a, b = [], a0, b0
            while (a, b) not in seen:
                seen.add((a, b))
                ids.append(a)
                fan = fans[b]
                a, b = b, fan[fan.index(a) - 1]
            if ids and core.ring_signed_area(verts[ids]) > min_area:
                rings.append(verts[ids])
    return rings


def _canon(rings):
    """Rings as vertex tuples rotated to start at their least vertex."""
    out = []
    for r in rings:
        pts = [tuple(p) for p in r.tolist()]
        i = pts.index(min(pts))
        out.append(tuple(pts[i:] + pts[:i]))
    return sorted(out)


def test_polygonize_matches_per_vertex_oracle():
    """Property test over random noded graphs, half of them
    axis-aligned grids with missing edges (the successor rule's reverse
    angle must be the twin's own: a horizontal edge's twin at +pi, not
    -pi), half free segment soups with dangles."""
    rng = np.random.default_rng(16)
    for case in range(60):
        if case % 2 == 0:
            k, s = int(rng.integers(2, 7)), float(rng.choice([1.0, 5.0, 40.0]))
            h = [[j * s, i * s, (j + 1) * s, i * s]
                 for i in range(k) for j in range(k - 1)]
            segs = np.array(h + [[b, a, d, c] for a, b, c, d in h])
            segs = segs[rng.random(len(segs)) < 0.85]
            flip = rng.random(len(segs)) < 0.5
            segs[flip] = segs[flip][:, [2, 3, 0, 1]]
        else:
            segs = rng.uniform(0, 100, (int(rng.integers(3, 25)), 4))
        noded, p = noding.node_segments(segs)
        noded, p = noding.dedup_undirected(noded, p)
        got = faces.polygonize(noded, min_area=1e-9)
        assert _canon(got) == _canon(_faces_oracle(noded, 1e-9)), case


# ---------- buffer / dissolve / close ----------

def test_buffer_single_segment_area():
    _, ext, holes = buffer_union(np.array([[0, 0, 10, 0]]), np.array([1.0]))
    assert len(ext) == 1 and not holes
    # 20 + pi (slightly less: inscribed arc chords)
    area = core.ring_signed_area(ext[0])
    assert 22.9 < area < 20 + np.pi + 1e-6


def test_buffer_square_loop_hole():
    sq = np.array([[0, 0, 100, 0], [100, 0, 100, 100],
                   [100, 100, 0, 100], [0, 100, 0, 0]], float)
    sets, ext, holes = buffer_union(sq, np.full(4, 3.0))
    assert len(ext) == 1 and len(holes) == 1
    assert abs(core.ring_signed_area(holes[0]) - 94 * 94) < 0.5


def test_close_keeps_exterior_and_rounds_corners():
    sq = np.array([[0, 0, 100, 0], [100, 0, 100, 100],
                   [100, 100, 0, 100], [0, 100, 0, 0]], float)
    sets, ext, holes = buffer_union(sq, np.full(4, 3.0))
    ec, hc = morphological_close(sets, ext + holes, 3.0)
    assert len(ec) == 1 and len(hc) == 1
    # hole corners rounded: area shrinks by ~(4-pi)*r^2
    assert abs(core.ring_signed_area(hc[0]) - (94 * 94 - (4 - np.pi) * 9)) < 1.0


def test_grid_close_counts():
    segs = grid_segments(4)
    sets, ext, holes = buffer_union(segs, np.full(len(segs), 3.0))
    assert len(holes) == 9
    ec, hc = morphological_close(sets, ext + holes, 3.0)
    assert len(ec) == 1 and len(hc) == 9


# ---------- projection ----------

def test_tm_roundtrip():
    rng = np.random.default_rng(42)
    lon = -49.2957 + rng.uniform(-0.05, 0.05, 100)
    lat = -25.4599 + rng.uniform(-0.05, 0.05, 100)
    x, y = tm_forward(lon, lat, -49.2957, -25.4599)
    lon2, lat2 = tm_inverse(x, y, -49.2957, -25.4599)
    assert np.abs(lon2 - lon).max() < 1e-12
    assert np.abs(lat2 - lat).max() < 1e-12


def test_tm_meter_scale():
    x, y = tm_forward(np.array([-49.2957]), np.array([-25.4599 + 0.001]),
                      -49.2957, -25.4599)
    assert abs(y[0] - 111.195) < 0.1


# ---------- pipeline kernels ----------

@pytest.fixture(scope="module")
def city():
    k, s = 6, 100.0
    segs, widths = [], []
    for i in range(k):
        for j in range(k - 1):
            segs.append([j * s, i * s, (j + 1) * s, i * s])
            widths.append(6.0 if i % 2 else 10.0)
            segs.append([i * s, j * s, i * s, (j + 1) * s])
            widths.append(6.0)
    segs.append([0, 0, (k - 1) * s, (k - 1) * s])
    widths.append(12.0)
    return np.array(segs, float), np.array(widths)


@pytest.fixture(scope="module")
def city_out(city):
    segs, widths = city
    return kernels.tile_pipeline(segs, widths)


def test_pipeline_protoblock_count(city_out):
    # (k-1)^2 = 25 grid blocks + 5 split in two by the diagonal
    assert len(city_out["protoblocks"]) == 30


def test_pipeline_sidewalk_rings(city):
    # without refinement: one closed ring per block interior
    segs, widths = city
    out = kernels.tile_pipeline(segs, widths, refine_lines=False)
    assert len(out["sidewalks"]) == 30


def test_pipeline_refinement_preserves_length(city, city_out):
    segs, widths = city
    raw = kernels.tile_pipeline(segs, widths, refine_lines=False)
    raw_len = sum(core.polyline_length(l) for l in raw["sidewalks"])
    ref_len = sum(core.polyline_length(l) for l in city_out["sidewalks"])
    # corner splitting multiplies pieces but conserves total length
    assert len(city_out["sidewalks"]) > len(raw["sidewalks"])
    assert abs(ref_len - raw_len) / raw_len < 0.005


def test_pipeline_building_shrink(city):
    segs, widths = city
    bseg = np.array([[50, 0.8, 70, 0.8], [70, 0.8, 70, 20],
                     [70, 20, 50, 20], [50, 20, 50, 0.8]])
    out = kernels.tile_pipeline(segs, widths, building_segs=bseg,
                                refine_lines=False)
    assert len(out["sidewalks"]) == 30  # geometry still valid
    # the hugged street's width must have shrunk
    w = kernels.shrink_widths_by_buildings(segs, widths, bseg)
    assert (w < widths).any() and (w >= 3.0).all()


def test_pipeline_crossing_invariants(city_out):
    crossings = city_out["crossings"]
    kerbs = city_out["kerbs"]
    assert len(crossings) > 0
    # output-contract invariants (FIXTURES.md §7)
    assert len(kerbs) == 2 * len(crossings)
    assert all(len(c["coords"]) == 5 for c in crossings)
    assert all(c["length"] <= 100.0 for c in crossings)


def test_remove_dangles():
    # dead ends go pass after pass (the reference's
    # remove_unconnected_lines_v2 loop) under the single-pass mask
    segs = np.vstack([grid_segments(3),
                      [[0, 0, -50, -50]], [[-50, -50, -80, -50]]])
    cleaned = segs
    while not (keep := kernels.dangle_keep_mask(cleaned, [])).all():
        cleaned = cleaned[keep]
    # the two stub segments disappear, the 3x3 grid remains intact
    noded, p = noding.node_segments(cleaned)
    noded, p = noding.dedup_undirected(noded, p)
    assert len(faces.polygonize(noded)) == 4
    assert len(cleaned) == len(grid_segments(3))


def test_endpoint_degrees():
    # shared endpoints snap to one vertex: its incidence count is the
    # endpoint's degree
    segs = np.array([[0, 0, 1, 0], [1, 0, 2, 0], [1, 0, 1, 1]], float)
    verts, evi = faces.build_vertices(segs)
    deg = np.bincount(evi.ravel(), minlength=len(verts))
    d0, d1 = deg[evi[:, 0]], deg[evi[:, 1]]
    assert d1[0] == 3 and d0[1] == 3 and d0[2] == 3
    assert d0[0] == 1 and d1[1] == 1 and d1[2] == 1


def test_interpolate_along_multivertex():
    """P13 against a hand-walked reference on a 4-vertex polyline."""
    from osm_sidewalkreator_spark.geometry import core
    cs = np.array([[0.0, 0.0], [3.0, 0.0], [3.0, 4.0], [6.0, 4.0]])
    # total length 3 + 4 + 3 = 10
    assert np.allclose(core.interpolate_along(cs, 0.0), [0, 0])
    assert np.allclose(core.interpolate_along(cs, 1.5), [1.5, 0])
    assert np.allclose(core.interpolate_along(cs, 5.0), [3, 2])
    assert np.allclose(core.interpolate_along(cs, 8.5), [4.5, 4])
    assert np.allclose(core.interpolate_along(cs, 99.0), [6, 4])
    assert np.allclose(core.interpolate_along(cs, -5.0), [0, 0])


def test_noding_properties_random():
    """Property test (seeded sweep): noded pieces of random segment
    soups (a) chain back to their parents end-to-end, (b) conserve
    length, and (c) no two pieces properly cross."""
    from osm_sidewalkreator_spark.geometry import noding
    rng = np.random.default_rng(1234)
    for trial in range(8):
        n = int(rng.integers(5, 40))
        a = rng.uniform(0, 50, (n, 2))
        b = a + rng.uniform(-25, 25, (n, 2))
        segs = np.column_stack([a, b])
        noded, parent = noding.node_segments(segs)
        snapped = np.column_stack(
            [noding.snap_round(segs[:, i]) for i in range(4)])
        lens_in = np.hypot(snapped[:, 2] - snapped[:, 0],
                           snapped[:, 3] - snapped[:, 1])
        lens_out = np.hypot(noded[:, 2] - noded[:, 0],
                            noded[:, 3] - noded[:, 1])
        for p in np.unique(parent):
            m = parent == p
            # (a) pieces of one parent start at its (snapped) start and
            # end at its end, each piece beginning where the last ended
            ps = noded[m]
            assert np.allclose(ps[0, :2], snapped[p, :2], atol=1e-4)
            assert np.allclose(ps[-1, 2:], snapped[p, 2:], atol=1e-4)
            assert np.allclose(ps[1:, :2], ps[:-1, 2:], atol=1e-12)
            # (b) length conservation per parent (snap-level tolerance
            # scales with the number of split points)
            assert abs(ps_len := lens_out[m].sum() - lens_in[p]) \
                < 1e-3 * max(1, m.sum()), (trial, p, ps_len)
        # (c) no proper crossings between pieces of different parents
        if len(noded) > 1:
            pr = noding._candidate_pairs(noded, bin_size=5.0)
            for i, j in pr[:2000]:
                t, u = _seg_intersect_params(noded[i], noded[j])
                if t is None:
                    continue
                eps = 1e-6
                assert not (eps < t < 1 - eps and eps < u < 1 - eps), \
                    (trial, i, j, t, u)


def _seg_intersect_params(s1, s2):
    d1 = s1[2:] - s1[:2]
    d2 = s2[2:] - s2[:2]
    den = d1[0] * d2[1] - d1[1] * d2[0]
    if abs(den) < 1e-12:
        return None, None
    e = s2[:2] - s1[:2]
    t = (e[0] * d2[1] - e[1] * d2[0]) / den
    u = (e[0] * d1[1] - e[1] * d1[0]) / den
    return t, u


def test_pipeline_dead_end_removal(city):
    """G15 wired: a dead-end stub outside the block area gets NO
    sidewalk treatment (reference deletes it before drawing,
    osm_sidewalkreator.py:803-810), while a cul-de-sac inside the
    buffered block area is exempt (generic_functions.py:859-918)."""
    segs, widths = city
    # stub sticking outward from grid edge vertex (500, 200)
    ext = np.vstack([segs, [[500.0, 200.0, 560.0, 200.0]]])
    extw = np.append(widths, 6.0)
    out = kernels.tile_pipeline(ext, extw, refine_lines=False)
    base = kernels.tile_pipeline(segs, widths, refine_lines=False)
    assert len(out["sidewalks"]) == len(base["sidewalks"])
    assert not (out["noded"][:, [0, 2]] > 500.0 + 1e-6).any()
    # same stub with the halo box cutting it: endpoint ON the halo edge
    # counts as connected (the street continues in the next tile)
    outh = kernels.tile_pipeline(ext, extw, refine_lines=False,
                                 bounds=(0.0, 0.0, 560.0, 500.0))
    assert (outh["noded"][:, [0, 2]] > 500.0 + 1e-6).any()
    # cul-de-sac: dead end INSIDE a block -> exempt, stays in network
    ind = np.vstack([segs, [[100.0, 150.0, 150.0, 150.0]]])
    inw = np.append(widths, 6.0)
    out2 = kernels.tile_pipeline(ind, inw, refine_lines=False)
    has_culdesac = np.any(
        (np.abs(out2["noded"][:, 2] - 150.0) < 1e-9)
        & (np.abs(out2["noded"][:, 3] - 150.0) < 1e-9))
    assert has_culdesac


def test_dangle_keep_mask_single_pass(city):
    """One pass only (GUI default dead_end_iters == 0): a two-segment
    chain whose tip is a dangle loses the TIP, and the now-exposed
    middle segment survives this pass (the reference would need
    iters >= 2 to remove both)."""
    segs, widths = city
    chain = np.vstack([segs, [[500.0, 200.0, 560.0, 200.0],
                              [560.0, 200.0, 620.0, 200.0]]])
    keep = kernels.dangle_keep_mask(chain, blocks=[])
    assert not keep[-1]          # tip removed
    assert keep[-2]              # attached piece survives single pass


def test_pipeline_max_split_len_g12():
    """G12 wired behind the pipeline flag: no sidewalk line exceeds the
    max length and total length is conserved."""
    k, s = 3, 100.0
    segs, widths = [], []
    for i in range(k):
        for j in range(k - 1):
            segs.append([j * s, i * s, (j + 1) * s, i * s])
            widths.append(6.0)
            segs.append([i * s, j * s, i * s, (j + 1) * s])
            widths.append(6.0)
    segs, widths = np.array(segs, float), np.array(widths)
    base = kernels.tile_pipeline(segs, widths)
    split = kernels.tile_pipeline(segs, widths, max_split_len=20.0)
    lb = sum(core.polyline_length(l) for l in base["sidewalks"])
    ls = sum(core.polyline_length(l) for l in split["sidewalks"])
    assert abs(lb - ls) / lb < 1e-9
    assert max(core.polyline_length(l)
               for l in split["sidewalks"]) <= 20.0 * 1.02
    assert len(split["sidewalks"]) > len(base["sidewalks"])


def test_pipeline_dangle_iterations_g15(city):
    """G15 N-pass parameter (reference dead_end_iters spinbox,
    osm_sidewalkreator.py:803-810): a 2-deep stub chain hanging off
    the lattice survives partially at N=1 (only the tip goes) and
    disappears at N=2."""
    segs, widths = city
    chain = np.vstack([segs, [[500.0, 200.0, 560.0, 200.0],
                              [560.0, 200.0, 620.0, 200.0]]])
    cw = np.concatenate([widths, [6.0, 6.0]])

    def stub_count(out):
        # noding re-derives coordinates, so compare with tolerance
        nd = out["noded"]
        return int(((np.abs(nd[:, 1] - 200.0) < 1e-6)
                    & (np.abs(nd[:, 3] - 200.0) < 1e-6)
                    & (np.maximum(nd[:, 0], nd[:, 2]) > 500.0 + 1e-6)
                    ).sum())

    one = kernels.tile_pipeline(chain, cw, refine_lines=False,
                                dangle_iterations=1)
    two = kernels.tile_pipeline(chain, cw, refine_lines=False,
                                dangle_iterations=2)
    assert stub_count(one) == 1      # tip removed, middle piece stays
    assert stub_count(two) == 0      # fixpoint reached at N=2

def test_triu_cache_byte_budget():
    """The triu-index cache is bounded by TOTAL BYTES: filling it with
    many distinct sizes must keep residency under the budget (the old
    entry-count LRU allowed multi-GB in the worst case), while repeat
    lookups still hit."""
    from osm_sidewalkreator_spark.geometry import noding as ND
    ND._triu_store.clear()
    ND._triu_store_bytes = 0
    for n in range(600, 2001, 50):     # ~29 distinct sizes, MBs each
        ii, jj = ND._triu_cached(n, 1)
        assert len(ii) == n * (n - 1) // 2
    assert 0 < ND._triu_store_bytes <= ND._TRIU_BUDGET_BYTES
    stored = sum(v[0].nbytes + v[1].nbytes
                 for v in ND._triu_store.values())
    assert stored == ND._triu_store_bytes
    # a hit returns the cached arrays (identity, not a rebuild)
    n_last = 2000
    if (n_last, 1) in ND._triu_store:
        again = ND._triu_cached(n_last, 1)
        assert again[0] is ND._triu_store[(n_last, 1)][0]
    # an entry larger than the whole budget is computed but not stored
    before = ND._triu_store_bytes
    big = ND._triu_cached(4000, 1)     # ~128 MB > 64 MB budget
    assert len(big[0]) == 4000 * 3999 // 2
    assert ND._triu_store_bytes == before
