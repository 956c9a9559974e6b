"""Seeded input generators, one per workload, plus the numpy oracles the
output checks compare against.

Every value comes from ``numpy.random.default_rng(seed)``, so one seed
always yields byte-identical parquet files and a different seed yields
different ones. Tables follow the engine's city schemas (streets,
buildings, addresses, aoi, blocks) in the engine's local transverse
Mercator frame; street geometry is stored as EPSG:4326 WKB like a real
extract. The engine never sees a generator parameter, only the files.
"""

from __future__ import annotations

import math
import struct
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# The engine projects every city around this origin (its synthetic-city
# centre); generated coordinates are metres in that local frame.
LON0, LAT0 = -49.2957, -25.4599
EARTH_R = 6_371_008.8
TILE_M = 512.0          # the engine's default tile edge, for input stats
HALO_M = 128.0

CITY_SHAPES = {
    # dense downtown: short irregular quad blocks, many diagonals,
    # buildings hugging streets and POI clusters
    "dense": dict(nx=19, ny=19, sx=72.0, sy=72.0, jitter=9.0,
                  p_diag=0.06, p_stub=0.10, p_culdesac=0.02,
                  p_build=0.55, p_poi=0.05, p_esw=0.02),
}

_CLASSES = np.array(["residential", "tertiary", "secondary", "primary",
                     "unclassified"], dtype=object)
_CLASS_P = [0.55, 0.15, 0.12, 0.08, 0.10]


# ---------------- encoding helpers ----------------

def _line_wkb(xy: np.ndarray) -> bytes:
    c = np.ascontiguousarray(xy, dtype="<f8")
    return struct.pack("<BII", 1, 2, len(c)) + c.tobytes()


def _poly_wkb(shell: np.ndarray) -> bytes:
    c = np.ascontiguousarray(shell, dtype="<f8")
    return struct.pack("<BIII", 1, 3, 1, len(c)) + c.tobytes()


def _point_wkb(x: float, y: float) -> bytes:
    return struct.pack("<BIdd", 1, 1, x, y)


def decode_coords(blob: bytes) -> np.ndarray:
    """Vertices of a Point / LineString / single-ring Polygon WKB."""
    t = struct.unpack_from("<I", blob, 1)[0] & 0xFF
    if t == 1:
        return np.frombuffer(blob, "<f8", 2, 5).reshape(1, 2)
    off = 5
    if t == 3:
        off += 4
    n = struct.unpack_from("<I", blob, off)[0]
    return np.frombuffer(blob, "<f8", 2 * n, off + 4).reshape(n, 2)


def tm_to_lonlat(xy: np.ndarray) -> np.ndarray:
    """Closed-form spherical transverse Mercator inverse about LON0/LAT0."""
    x = xy[:, 0] / EARTH_R
    y = xy[:, 1] / EARTH_R + math.radians(LAT0)
    lon = np.degrees(np.arctan2(np.sinh(x), np.cos(y))) + LON0
    lat = np.degrees(np.arcsin(np.clip(np.sin(y) / np.cosh(x), -1, 1)))
    return np.column_stack([lon, lat])


def write_table(path: Path, table: pa.Table) -> None:
    path.parent.mkdir(parents=True, exist_ok=True)
    pq.write_table(table, path)


# ---------------- city ----------------

class City:
    """A seeded street network with its context layers (TM metres)."""

    def __init__(self, seed: int, shape: str):
        cfg = CITY_SHAPES[shape]
        self.rng = np.random.default_rng([seed, 1])
        r = self.rng
        nx, ny, sx, sy = cfg["nx"], cfg["ny"], cfg["sx"], cfg["sy"]
        jit = cfg["jitter"]
        gx = (np.arange(nx) - (nx - 1) / 2) * sx
        gy = (np.arange(ny) - (ny - 1) / 2) * sy
        nodes = np.stack(np.meshgrid(gx, gy, indexing="ij"), -1)
        nodes += r.uniform(-jit, jit, nodes.shape)
        self.nodes = nodes
        self.sx, self.sy = sx, sy
        self.streets: list[dict] = []
        self.buildings: list[np.ndarray] = []
        self.pois: list[tuple[float, float]] = []

        def cls():
            return _CLASSES[r.choice(len(_CLASSES), p=_CLASS_P)]

        def width_tag():
            u = r.random()
            if u < 0.10:
                return ["7.5", "9", "12", "5.5"][r.integers(4)]
            if u < 0.13:
                return "about six"
            return None

        def sidewalk_tags():
            u = r.random()
            if u < 0.03:
                return ("no", None, None, None)
            if u < 0.05:
                return ("left", None, None, None)
            if u < 0.06:
                return (None, "yes", "no", None)
            if u < 0.07:
                return (None, None, None, "yes")
            return (None, None, None, None)

        avenue_x = set(range(0, nx, 6))
        avenue_y = set(range(0, ny, 6))
        for j in range(ny):
            for i in range(nx - 1):
                hw = "primary" if j in avenue_y else cls()
                self._add([nodes[i, j], nodes[i + 1, j]], hw, width_tag(),
                          sidewalk_tags())
        for i in range(nx):
            for j in range(ny - 1):
                hw = "secondary" if i in avenue_x else cls()
                self._add([nodes[i, j], nodes[i, j + 1]], hw, width_tag(),
                          sidewalk_tags())
        # duplicate vertices on a few edges, exact duplicate ways on two
        for k in r.choice(len(self.streets), 6, replace=False):
            c = self.streets[k]["coords"]
            mid = (c[0] + c[-1]) / 2
            self.streets[k]["coords"] = np.array([c[0], mid, mid, c[-1]])
        for k in r.choice(len(self.streets), 2, replace=False):
            s = self.streets[k]
            self._add(s["coords"].copy(), s["highway"], s["width"],
                      (None, None, None, None))

        busy = np.zeros((nx - 1, ny - 1), dtype=bool)
        for bi in range(nx - 1):
            for bj in range(ny - 1):
                ll, lr = nodes[bi, bj], nodes[bi + 1, bj]
                ul, ur = nodes[bi, bj + 1], nodes[bi + 1, bj + 1]
                # inscribed axis-aligned rectangle of the convex quad
                x0, x1 = max(ll[0], ul[0]), min(lr[0], ur[0])
                y0, y1 = max(ll[1], lr[1]), min(ul[1], ur[1])
                u = r.random()
                if u < cfg["p_diag"]:
                    self._add([ll, ur], "tertiary", None,
                              (None, None, None, None))
                    busy[bi, bj] = True
                elif u < cfg["p_diag"] + cfg["p_stub"]:
                    self._stub(ll, (1, 1), min(x1 - x0, y1 - y0))
                    busy[bi, bj] = True
                elif u < cfg["p_diag"] + cfg["p_stub"] + cfg["p_culdesac"]:
                    self._culdesac(lr, (-1, 1))
                    busy[bi, bj] = True
                if busy[bi, bj]:
                    continue
                u = r.random()
                if u < cfg["p_esw"]:
                    self._footway_ring(x0, y0, x1, y1)
                elif u < cfg["p_esw"] + cfg["p_poi"]:
                    for _ in range(int(r.integers(3, 7))):
                        self.pois.append(
                            (float(r.uniform(x0 + 10, x1 - 10)),
                             float(r.uniform(y0 + 10, y1 - 10))))
                if r.random() < cfg["p_build"]:
                    self._buildings(x0, y0, x1, y1)

        ext = nodes.reshape(-1, 2)
        lo, hi = ext.min(0), ext.max(0)
        # the AOI cuts through the last column of blocks on the east side
        # (true clip at the AOI boundary) and overhangs the other sides
        self.aoi = (lo[0] - 30.0, lo[1] - 30.0,
                    hi[0] - 0.4 * sx, hi[1] + 30.0)

    # -- feature builders --
    def _add(self, coords, highway, width, tags, extra=None):
        sw, sl, sr, sb = tags
        self.streets.append({
            "osm_id": f"w{len(self.streets)}", "highway": highway,
            "width": width, "sidewalk": sw, "sidewalk_left": sl,
            "sidewalk_right": sr, "sidewalk_both": sb,
            "tags": extra or {},
            "coords": np.asarray(coords, dtype=np.float64)})

    def _stub(self, corner, d, room):
        r = self.rng
        ang = math.radians(45 + r.uniform(-12, 12))
        ln = min(r.uniform(18, 32), 0.42 * room)
        end = corner + ln * np.array([d[0] * math.cos(ang),
                                      d[1] * math.sin(ang)])
        self._add([corner, end], "residential", None,
                  (None, None, None, None))

    def _culdesac(self, corner, d):
        r = self.rng
        p = corner + np.array([d[0] * 14.0, d[1] * 14.0])
        rad = r.uniform(5.0, 7.5)
        th = np.linspace(0, 2 * math.pi, 7)[:-1] + r.uniform(0, 1)
        loop = p + rad * np.column_stack([np.cos(th), np.sin(th)])
        start = loop[np.argmin(np.hypot(*(loop - corner).T))]
        k = int(np.argmin(np.hypot(*(loop - corner).T)))
        ring = np.vstack([loop[k:], loop[:k], loop[k:k + 1]])
        self._add(np.vstack([corner[None], start[None], ring[1:]]),
                  "residential", None, (None, None, None, None))

    def _footway_ring(self, x0, y0, x1, y1):
        r = self.rng
        h = r.uniform(0.25, 0.45) * min(x1 - x0, y1 - y0)
        cx, cy = (x0 + x1) / 2, (y0 + y1) / 2
        ring = np.array([[cx - h, cy - h], [cx + h, cy - h],
                         [cx + h, cy + h], [cx - h, cy + h],
                         [cx - h, cy - h]])
        self._add(ring, "footway", None, (None, None, None, None),
                  extra={"footway": "sidewalk"})

    def _buildings(self, x0, y0, x1, y1):
        r = self.rng
        for _ in range(int(r.integers(1, 4))):
            w = r.uniform(8, 0.35 * (x1 - x0))
            h = r.uniform(8, 0.35 * (y1 - y0))
            # a third of the buildings hug a street edge (< 1.5 m)
            side = r.integers(4) if r.random() < 0.33 else -1
            off = r.uniform(0.8, 1.5)
            bx = r.uniform(x0 + 4, x1 - 4 - w)
            by = r.uniform(y0 + 4, y1 - 4 - h)
            if side == 0:
                bx = x0 + off
            elif side == 1:
                bx = x1 - off - w
            elif side == 2:
                by = y0 + off
            elif side == 3:
                by = y1 - off - h
            self.buildings.append(np.array(
                [[bx, by], [bx + w, by], [bx + w, by + h], [bx, by + h],
                 [bx, by]]))

    def add_edit_stubs(self, seed: int, share: float = 0.05) -> int:
        """Seeded edit: a new dead-end stub in ~``share`` of the tiles
        (each stub lies inside one block, so it touches the tiles whose
        halo boxes reach that block). Returns the number of stubs."""
        r = np.random.default_rng([seed, 2])
        nx, ny = self.nodes.shape[:2]
        tiles = {}
        for bi in range(nx - 1):
            for bj in range(ny - 1):
                c = self.nodes[bi, bj]
                if self.nodes[bi + 1, bj + 1, 0] > self.aoi[2] - 30:
                    continue        # the AOI clip would drop the stub
                key = (int(c[0] // TILE_M), int(c[1] // TILE_M))
                tiles.setdefault(key, []).append((bi, bj))
        keys = sorted(tiles)
        n = max(1, round(share * len(keys)))
        for t in r.choice(len(keys), n, replace=False):
            cells = tiles[keys[t]]
            bi, bj = cells[int(r.integers(len(cells)))]
            ur = self.nodes[bi + 1, bj + 1]
            self._stub_edit(ur, r)
        return n

    def _stub_edit(self, corner, r):
        ang = math.radians(45 + r.uniform(-10, 10))
        ln = r.uniform(12, 20)
        end = corner - ln * np.array([math.cos(ang), math.sin(ang)])
        self._add([corner, end], "residential", None,
                  (None, None, None, None))

    # -- output --
    def stats(self) -> dict:
        """Input properties the engine's cost depends on: segment count
        and the tile census (halo-padded cover, as the engine tiles)."""
        segs = []
        for s in self.streets:
            c = s["coords"]
            segs.append(np.column_stack([c[:-1], c[1:]]))
        segs = np.vstack(segs)
        lo = np.minimum(segs[:, :2], segs[:, 2:]) - HALO_M
        hi = np.maximum(segs[:, :2], segs[:, 2:]) + HALO_M
        i0, j0 = np.floor(lo / TILE_M).astype(int).T
        i1, j1 = np.floor(hi / TILE_M).astype(int).T
        census: dict = {}
        for a, b, c, d in zip(i0, i1, j0, j1):
            for i in range(a, b + 1):
                for j in range(c, d + 1):
                    census[(i, j)] = census.get((i, j), 0) + 1
        cost = np.array(list(census.values()), dtype=float)
        return {"segments": int(len(segs)), "tiles": len(census),
                "tile_cost_max_over_mean": round(
                    float(cost.max() / cost.mean()), 3),
                "buildings": len(self.buildings), "pois": len(self.pois)}

    def write(self, synth_dir: Path, streets_dir: Path | None = None):
        """Write the context tables into ``synth_dir`` and the streets
        into ``streets_dir`` (default: the same directory)."""
        streets_dir = streets_dir or synth_dir
        write_table(streets_dir / "streets.parquet", self._streets_table())
        if (synth_dir / "aoi.parquet").exists():
            return
        b = self.buildings
        write_table(synth_dir / "buildings.parquet", pa.table({
            "osm_id": pa.array([f"b{i}" for i in range(len(b))]),
            "building": pa.array(["yes"] * len(b)),
            "tags": pa.array([[] for _ in b],
                             type=pa.map_(pa.string(), pa.string())),
            "geometry": pa.array([_poly_wkb(s) for s in b], pa.binary())}))
        p = self.pois
        write_table(synth_dir / "addresses.parquet", pa.table({
            "osm_id": pa.array([f"a{i}" for i in range(len(p))]),
            "housenumber": pa.array([str(100 + i) for i in range(len(p))]),
            "x": pa.array([q[0] for q in p], pa.float64()),
            "y": pa.array([q[1] for q in p], pa.float64()),
            "geometry": pa.array([_point_wkb(*q) for q in p],
                                 pa.binary())}))
        x0, y0, x1, y1 = self.aoi
        shell = np.array([[x0, y0], [x1, y0], [x1, y1], [x0, y1],
                          [x0, y0]])
        write_table(synth_dir / "aoi.parquet", pa.table({
            "name": ["bench_city"], "xmin": [x0], "ymin": [y0],
            "xmax": [x1], "ymax": [y1],
            "geometry": pa.array([_poly_wkb(shell)], pa.binary())}))
        bb = self.block_rects()
        write_table(synth_dir / "blocks.parquet", pa.table({
            "block_id": pa.array(np.arange(len(bb)), pa.int64()),
            "xmin": bb[:, 0], "ymin": bb[:, 1],
            "xmax": bb[:, 2], "ymax": bb[:, 3],
            "geometry": pa.array([_poly_wkb(np.array(
                [[a, b_], [c, b_], [c, d], [a, d], [a, b_]]))
                for a, b_, c, d in bb], pa.binary())}))
        # the engine's synthetic-table guard: present means "complete"
        (synth_dir / "_SYNTH_OK_v2").write_text("ok")

    def block_rects(self) -> np.ndarray:
        n = self.nodes
        ll, lr, ul, ur = n[:-1, :-1], n[1:, :-1], n[:-1, 1:], n[1:, 1:]
        x0 = np.maximum(ll[..., 0], ul[..., 0])
        x1 = np.minimum(lr[..., 0], ur[..., 0])
        y0 = np.maximum(ll[..., 1], lr[..., 1])
        y1 = np.minimum(ul[..., 1], ur[..., 1])
        return np.stack([x0, y0, x1, y1], -1).reshape(-1, 4)

    def _streets_table(self) -> pa.Table:
        s = self.streets

        def col(k):
            return pa.array([f[k] for f in s], pa.string())
        return pa.table({
            "osm_id": col("osm_id"), "highway": col("highway"),
            "width": col("width"), "sidewalk": col("sidewalk"),
            "sidewalk_left": col("sidewalk_left"),
            "sidewalk_right": col("sidewalk_right"),
            "sidewalk_both": col("sidewalk_both"),
            "tags": pa.array([list(f["tags"].items()) for f in s],
                             type=pa.map_(pa.string(), pa.string())),
            "n_vertices": pa.array([len(f["coords"]) for f in s],
                                   pa.int32()),
            "x1": [float(f["coords"][0, 0]) for f in s],
            "y1": [float(f["coords"][0, 1]) for f in s],
            "x2": [float(f["coords"][-1, 0]) for f in s],
            "y2": [float(f["coords"][-1, 1]) for f in s],
            "geometry": pa.array([_line_wkb(tm_to_lonlat(f["coords"]))
                                  for f in s], pa.binary())})

    def pages(self, seed: int, n: int) -> dict:
        """(url, x, y) pages spread over the city's blocks."""
        r = np.random.default_rng([seed, 3])
        bb = self.block_rects()
        k = r.integers(len(bb), size=n)
        x = bb[k, 0] + r.random(n) * (bb[k, 2] - bb[k, 0])
        y = bb[k, 1] + r.random(n) * (bb[k, 3] - bb[k, 1])
        return {"url": [f"https://p{i}.example/" for i in range(n)],
                "x": x, "y": y}


# ---------------- page joins ----------------

class Pages:
    """Zipf-skewed pages over a block grid, with rectangle blocks,
    jittered quad polygons and sidewalk-like segments to join against.
    The grid's column and row widths are seeded (0.8-1.2 x ``size``)."""

    def __init__(self, seed: int, n_pages: int, nbx: int = 12,
                 nby: int = 12, size: float = 200.0):
        r = np.random.default_rng([seed, 4])

        def edges(n):
            e = np.concatenate([[0.0], np.cumsum(r.uniform(0.8, 1.2, n))])
            return (e - e[-1] / 2) * size
        self.ex, self.ey = edges(nbx), edges(nby)
        nb = nbx * nby
        self.nbx, self.nby = nbx, nby
        # rank-based Zipf: block of rank k gets weight k^-s, ranks are a
        # seeded permutation so hot blocks scatter over the grid; the
        # exponent's range is narrow so that every seed costs about the
        # same
        self.zipf_s = float(r.uniform(1.1, 1.2))
        w = np.arange(1, nb + 1, dtype=float) ** -self.zipf_s
        w /= w.sum()
        rank_to_block = r.permutation(nb)
        blk = rank_to_block[r.choice(nb, size=n_pages, p=w)]
        bi, bj = blk % nbx, blk // nbx
        self.x = self.ex[bi] + r.random(n_pages) * np.diff(self.ex)[bi]
        self.y = self.ey[bj] + r.random(n_pages) * np.diff(self.ey)[bj]
        self.url = np.array([f"https://s{i % 997}.example/p/{i}"
                             for i in range(n_pages)], dtype=object)
        counts = np.bincount(blk, minlength=nb)
        top = np.sort(counts)[::-1][:max(1, nb // 100)]
        self.hot_cell_share = float(top.sum() / n_pages)
        # polygons: the same grid with jittered nodes (convex quads that
        # tile the plane, so each page lies in at most one)
        gx, gy = np.meshgrid(self.ex, self.ey, indexing="ij")
        nodes = np.stack([gx, gy], -1) + r.uniform(-12, 12,
                                                   (nbx + 1, nby + 1, 2))
        self.quads = np.stack([nodes[:-1, :-1], nodes[1:, :-1],
                               nodes[1:, 1:], nodes[:-1, 1:]], 2)
        # sidewalk-like segments: each block rectangle inset by 3 m
        segs = []
        for i in range(nbx):
            for j in range(nby):
                x0, x1 = self.ex[i] + 3, self.ex[i + 1] - 3
                y0, y1 = self.ey[j] + 3, self.ey[j + 1] - 3
                segs += [(x0, y0, x1, y0), (x1, y0, x1, y1),
                         (x1, y1, x0, y1), (x0, y1, x0, y0)]
        self.segs = np.array(segs)
        self.knn_sample = np.sort(r.choice(n_pages, min(1500, n_pages),
                                           replace=False))

    def stats(self) -> dict:
        return {"pages": len(self.x), "blocks": self.nbx * self.nby,
                "zipf_exponent": round(self.zipf_s, 4),
                "hot_cell_share": round(self.hot_cell_share, 4)}

    def tables(self) -> dict[str, pa.Table]:
        nbx, nby = self.nbx, self.nby
        ii, jj = np.meshgrid(np.arange(nbx), np.arange(nby), indexing="ij")
        ii, jj = ii.ravel(), jj.ravel()
        bid = ii * nby + jj
        rings = [np.vstack([q, q[:1]]) for q in
                 self.quads.reshape(-1, 4, 2)]
        return {
            "pages": pa.table({"url": pa.array(self.url, pa.string()),
                               "x": self.x, "y": self.y}),
            "rects": pa.table({
                "block_id": pa.array(bid, pa.int64()),
                "xmin": self.ex[ii], "ymin": self.ey[jj],
                "xmax": self.ex[ii + 1], "ymax": self.ey[jj + 1]}),
            "polys": pa.table({
                "poly_id": pa.array(bid, pa.int64()),
                "geometry": pa.array([_poly_wkb(r) for r in rings],
                                     pa.binary())}),
            "segs": pa.table({
                "seg_id": pa.array(np.arange(len(self.segs)), pa.int64()),
                "ax": self.segs[:, 0], "ay": self.segs[:, 1],
                "bx": self.segs[:, 2], "by": self.segs[:, 3]}),
        }

    # -- oracles --
    def rect_truth(self) -> np.ndarray:
        """block_id per page under the engine's half-open predicate."""
        i = np.searchsorted(self.ex, self.x, side="right") - 1
        j = np.searchsorted(self.ey, self.y, side="right") - 1
        return i * self.nby + j

    def poly_truth(self) -> np.ndarray:
        """poly_id per page (-1 outside every quad)."""
        i0 = np.clip(np.searchsorted(self.ex, self.x, "right") - 1,
                     0, self.nbx - 1)
        j0 = np.clip(np.searchsorted(self.ey, self.y, "right") - 1,
                     0, self.nby - 1)
        out = np.full(len(self.x), -1, dtype=np.int64)
        for di in (-1, 0, 1):
            for dj in (-1, 0, 1):
                i = np.clip(i0 + di, 0, self.nbx - 1)
                j = np.clip(j0 + dj, 0, self.nby - 1)
                q = self.quads[i, j]                       # (n, 4, 2)
                e = np.roll(q, -1, axis=1) - q
                v = np.stack([self.x, self.y], -1)[:, None, :] - q
                cross = e[..., 0] * v[..., 1] - e[..., 1] * v[..., 0]
                inside = (cross > 0).all(1) & (out < 0)
                out[inside] = (i * self.nby + j)[inside]
        return out

    def knn_truth(self):
        """(nearest distance, seg ids within 1e-9 of it) per sampled page."""
        s = self.segs
        dx, dy = s[:, 2] - s[:, 0], s[:, 3] - s[:, 1]
        ll = dx * dx + dy * dy
        res = {}
        for k in self.knn_sample:
            px, py = self.x[k], self.y[k]
            t = np.clip(((px - s[:, 0]) * dx + (py - s[:, 1]) * dy) / ll,
                        0.0, 1.0)
            d = np.hypot(px - (s[:, 0] + t * dx), py - (s[:, 1] + t * dy))
            m = d.min()
            res[self.url[k]] = (m, set(np.flatnonzero(d <= m + 1e-9)))
        return res


# ---------------- corpus ----------------

_SYLL = {
    "en": ["th", "an", "er", "on", "re", "in", "ed", "nd", "ha", "at",
           "en", "es", "of", "or", "nt", "ea", "ti", "to", "it", "st"],
    "pt": ["ao", "de", "os", "ra", "ca", "da", "ma", "nh", "lh", "co",
           "es", "as", "ta", "do", "que", "ra", "ve", "po", "se", "em"],
    "es": ["el", "la", "de", "que", "en", "los", "se", "del", "las", "un",
           "por", "con", "no", "una", "su", "para", "es", "al", "lo", "co"],
    "de": ["der", "die", "und", "in", "den", "von", "zu", "das", "mit",
           "sich", "des", "auf", "fur", "ist", "im", "dem", "nicht", "ein",
           "ch", "sch"],
}


class Corpus:
    """Seeded documents (language mix, exact and near duplicates) and
    clustered embeddings."""

    def __init__(self, seed: int, n_docs: int, n_vecs: int, dim: int = 64):
        r = np.random.default_rng([seed, 5])
        langs = np.array(sorted(_SYLL), dtype=object)
        mix = r.dirichlet(np.full(len(langs), 4.0))
        vocab = {}
        for lg in langs:
            syl = _SYLL[lg]
            words = set()
            while len(words) < 1500:
                k = int(r.integers(1, 4))
                words.add("".join(syl[int(i)] for i in
                                  r.integers(len(syl), size=k)))
            vocab[lg] = np.array(sorted(words), dtype=object)
        wz = np.arange(1, 1501, dtype=float) ** -1.05
        wz /= wz.sum()
        self.near_dup_rate = float(r.uniform(0.08, 0.16))
        exact_rate = 0.02
        texts, lang_col = [], []
        for i in range(n_docs):
            u = r.random()
            if i > 10 and u < exact_rate:
                src = int(r.integers(i))
                texts.append(texts[src])
                lang_col.append(lang_col[src])
                continue
            if i > 10 and u < exact_rate + self.near_dup_rate:
                src = int(r.integers(i))
                w = texts[src].split(" ")
                for p in r.choice(len(w), max(1, len(w) // 25),
                                  replace=False):
                    w[p] = vocab[lang_col[src]][r.choice(1500, p=wz)]
                texts.append(" ".join(w))
                lang_col.append(lang_col[src])
                continue
            lg = langs[r.choice(len(langs), p=mix)]
            n = int(r.integers(60, 260))
            texts.append(" ".join(vocab[lg][r.choice(1500, n, p=wz)]))
            lang_col.append(lg)
        self.docs = pa.table({
            "doc_id": pa.array(np.arange(n_docs), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(lang_col, pa.string())})
        centers = r.normal(size=(max(8, n_vecs // 40), dim))
        lab = r.integers(len(centers), size=n_vecs)
        v = centers[lab] + 0.35 * r.normal(size=(n_vecs, dim))
        self.vecs = v.astype(np.float32)
        self.emb = pa.table({
            "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
            "embedding": pa.array(list(self.vecs),
                                  pa.list_(pa.float32())),
            "label": pa.array(lab, pa.int32())})

    def stats(self) -> dict:
        return {"docs": self.docs.num_rows, "vectors": self.emb.num_rows,
                "near_dup_rate": round(self.near_dup_rate, 4)}

    def topk_truth(self, k: int = 5, query_mod: int = 50) -> dict:
        """Exact top-k cosine neighbours of every query vector."""
        v = self.vecs.astype(np.float64)
        v = v / np.linalg.norm(v, axis=1, keepdims=True)
        q = np.arange(0, len(v), query_mod)
        sim = v[q] @ v.T
        sim[np.arange(len(q)), q] = -np.inf
        top = np.argsort(-sim, axis=1, kind="stable")[:, :k]
        return {int(a): set(map(int, b)) for a, b in zip(q, top)}
