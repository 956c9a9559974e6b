"""Deterministic synthetic city + pages tables (FIXTURES.md schemas).

No external data, no RNG state dependence: every value is a closed-form
function of indices (splitmix64 where pseudo-randomness is needed), so
the same scale always produces byte-identical parquet. Tables land under
``data/synth/<scale>/`` of this checkout (or ``$SPARK_GRAFT_SYNTH_ROOT``)
keyed by the driver's sf directory name; the DuckDB oracle SQL in
``__spark_entry__.py`` reads the same files via ``read_parquet``.

City layout mirrors the reference's test city spirit
(``assets/test_data/bbox.json`` — Curitiba) per FIXTURES.md §2: a k×k
100 m grid centered at (-49.2957, -25.4599) plus diagonals, dead-end
stubs, a cul-de-sac, tagged ``sidewalk=no/left`` edges, duplicate
vertices, and a pre-existing footway ring.
"""

from __future__ import annotations

import os
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from .geometry import wkb
from .geometry.projection import tm_inverse

CITY_LON0, CITY_LAT0 = -49.2957, -25.4599
SPACING = 100.0

SCALES = {
    "sf0.001": {"k": 6, "pages": 10_000},
    "sf0.01": {"k": 12, "pages": 100_000},
    "sf0.1": {"k": 120, "pages": 1_000_000},
    # 4x the sf0.1 street grid: scaling-evidence input (amortizes the
    # fixed per-job overhead so the N->4N ratio reflects the kernels,
    # as it would on a real multi-executor job); tiny pages side
    "sf0.4": {"k": 240, "pages": 10_000},
}

SYNTH_ROOT = Path(os.environ.get(
    "SPARK_GRAFT_SYNTH_ROOT",
    Path(__file__).resolve().parent.parent / "data" / "synth"))


def scale_name(sf_dir: str) -> str:
    name = Path(sf_dir).name
    return name if name in SCALES else "sf0.001"


def splitmix64(x: np.ndarray) -> np.ndarray:
    """Deterministic 64-bit mix in the shape of SplitMix64.

    Not SplitMix64 itself: the third multiplier, 0x94D49BBB133111EB,
    differs from SplitMix64's 0x94D049BB133111EB (the one
    ``plans.pipeline._splitmix64`` uses). It stays as it is, because
    every synthetic table, and so every gate hash, is generated with
    it; do not merge the two."""
    z = (np.asarray(x, dtype=np.uint64) + np.uint64(0x9E3779B97F4A7C15))
    z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D49BBB133111EB)
    return z ^ (z >> np.uint64(31))


# ---------------- city ----------------

def city_streets(k: int) -> dict:
    """Street features in local-TM meters. Returns dict of parallel lists:
    osm_id, highway, width, sidewalk tags, tags dict, coords (n_i,2)."""
    half = (k - 1) * SPACING / 2
    feats = []

    def node(i, j):
        return np.array([i * SPACING - half, j * SPACING - half])

    eid = 0

    def add(coords, highway, width=None, sidewalk=None, s_left=None,
            s_right=None, s_both=None, tags=None):
        nonlocal eid
        feats.append({
            "osm_id": f"w{eid}",
            "highway": highway,
            "width": width,
            "sidewalk": sidewalk,
            "sidewalk_left": s_left,
            "sidewalk_right": s_right,
            "sidewalk_both": s_both,
            "tags": tags or {},
            "coords": np.asarray(coords, dtype=np.float64),
        })
        eid += 1

    def cls(i, j, horiz):
        v = (i * 7 + j * 13 + (3 if horiz else 0)) % 12
        if v == 0:
            return "primary"
        if v in (1, 2):
            return "secondary"
        if v in (3, 4):
            return "tertiary"
        if v == 5:
            return "unclassified"
        return "residential"

    # grid edges (unit 2-point segments)
    for j in range(k):
        for i in range(k - 1):
            c = [node(i, j), node(i + 1, j)]
            h = cls(i, j, True)
            # width is a raw OSM tag string: numeric, junk, or absent
            e = i + j * (k - 1)
            if e % 7 == 0:
                w = "8.0"
            elif e % 13 == 5:
                w = "about six"  # invalid -> class-default path (try_cast)
            else:
                w = None
            add(c, h, w)
    for i in range(k):
        for j in range(k - 1):
            c = [node(i, j), node(i, j + 1)]
            h = cls(i, j, False)
            w = None
            add(c, h, w)

    # tagged sidewalk edges (deterministic positions)
    feats[0]["sidewalk"] = "no"
    feats[1]["sidewalk"] = "no"
    feats[2]["sidewalk"] = "left"

    # two diagonal avenues
    add([node(0, 0), node(k - 1, k - 1)], "primary")
    add([node(0, k - 1), node(k - 1, 0)], "secondary")

    # three dead-end stubs poking into blocks
    add([node(1, 1), node(1, 1) + [35.0, 55.0]], "residential")
    add([node(2, 2), node(2, 2) + [-40.0, 30.0]], "residential")
    add([node(3, 1), node(3, 1) + [20.0, -45.0]], "unclassified")

    # cul-de-sac loop attached to a stub
    p = node(1, 3) + [40.0, 20.0]
    loop = [node(1, 3), p, p + [15.0, 10.0], p + [25.0, -5.0],
            p + [10.0, -15.0], p]
    add(loop, "residential")

    # duplicate vertices on two edges (exercises G14 dedup)
    mid = (node(4, 0) + node(4, 1)) / 2
    add([node(4, 0), mid, mid, node(4, 1)], "residential")
    mid2 = (node(0, 2) + node(1, 2)) / 2
    add([node(0, 2), mid2, mid2, node(1, 2)], "tertiary")

    # pre-existing sidewalk footway rings (class width 0 -> dropped from
    # the street network by the width filter P7, captured separately for
    # the A10 protoblock ratio filter, osm_sidewalkreator.py:662-695):
    # - block (0,0): 60x60 ring; the diagonal avenue halves the block, so
    #   each triangle sees ratio (60^2/5000)*100 = 72 > 40 -> dropped
    # - block (1,0): 82x82 ring, ratio (82^2/10000)*100 = 67 > 40 -> drop
    # - block (0,1): 40x40 ring, ratio (40^2/10000)*100 = 16 <= 40 -> keep
    for (bi, bj), h in (((0, 0), 30.0), ((1, 0), 41.0), ((0, 1), 20.0)):
        c0 = node(bi, bj) + [50.0, 50.0]
        ring = [c0 + [-h, -h], c0 + [h, -h], c0 + [h, h],
                c0 + [-h, h], c0 + [-h, -h]]
        add(ring, "footway", tags={"footway": "sidewalk"})

    # a service alley inside a block (width 0 class)
    add([node(2, 0) + [10.0, 10.0], node(2, 0) + [80.0, 40.0]], "service")

    # exact duplicate geometries (A9 deleteduplicategeometries fixture):
    # re-add two early edges under new ids
    for src in (4, 7):
        f = feats[src]
        add(f["coords"].copy(), f["highway"], f["width"])
    return {"feats": feats, "half": half, "k": k}


def _write(path: Path, table: pa.Table):
    path.parent.mkdir(parents=True, exist_ok=True)
    pq.write_table(table, path)


def ensure_synth(sf_dir: str) -> Path:
    """Materialize all synthetic tables for the scale of ``sf_dir``.

    Idempotent: skipped when the marker file exists.
    """
    name = scale_name(sf_dir)
    cfg = SCALES[name]
    out = SYNTH_ROOT / name
    marker = out / "_SYNTH_OK_v2"  # v2: A10 existing-sidewalk rings
    if marker.exists():
        return out
    out.mkdir(parents=True, exist_ok=True)
    k = cfg["k"]
    city = city_streets(k)
    feats, half = city["feats"], city["half"]

    # ---- streets (WKB in EPSG:4326 + flat segment endpoints in TM) ----
    rows = {c: [] for c in ["osm_id", "highway", "width", "sidewalk",
                            "sidewalk_left", "sidewalk_right",
                            "sidewalk_both", "n_vertices",
                            "x1", "y1", "x2", "y2"]}
    tag_items = []
    wkbs = []
    for f in feats:
        xy = f["coords"]
        lon, lat = tm_inverse(xy[:, 0], xy[:, 1], CITY_LON0, CITY_LAT0)
        wkbs.append(wkb.linestring_wkb(np.column_stack([lon, lat])))
        rows["osm_id"].append(f["osm_id"])
        rows["highway"].append(f["highway"])
        rows["width"].append(f["width"])
        rows["sidewalk"].append(f["sidewalk"])
        rows["sidewalk_left"].append(f["sidewalk_left"])
        rows["sidewalk_right"].append(f["sidewalk_right"])
        rows["sidewalk_both"].append(f["sidewalk_both"])
        rows["n_vertices"].append(len(xy))
        rows["x1"].append(float(xy[0, 0]))
        rows["y1"].append(float(xy[0, 1]))
        rows["x2"].append(float(xy[-1, 0]))
        rows["y2"].append(float(xy[-1, 1]))
        tag_items.append(list(f["tags"].items()))
    streets = pa.table({
        "osm_id": pa.array(rows["osm_id"]),
        "highway": pa.array(rows["highway"]),
        "width": pa.array(rows["width"], type=pa.string()),
        "sidewalk": pa.array(rows["sidewalk"]),
        "sidewalk_left": pa.array(rows["sidewalk_left"]),
        "sidewalk_right": pa.array(rows["sidewalk_right"]),
        "sidewalk_both": pa.array(rows["sidewalk_both"]),
        "tags": pa.array(tag_items, type=pa.map_(pa.string(), pa.string())),
        "n_vertices": pa.array(rows["n_vertices"], type=pa.int32()),
        "x1": pa.array(rows["x1"]), "y1": pa.array(rows["y1"]),
        "x2": pa.array(rows["x2"]), "y2": pa.array(rows["y2"]),
        "geometry": pa.array(wkbs, type=pa.binary()),
    })
    _write(out / "streets.parquet", streets)

    # ---- ground-truth grid blocks (rectangles) for join oracles ----
    bid, bx0, by0, bx1, by1, bwkb = [], [], [], [], [], []
    for r in range(k - 1):
        for c in range(k - 1):
            x0 = c * SPACING - half
            y0 = r * SPACING - half
            bid.append(r * (k - 1) + c)
            bx0.append(x0); by0.append(y0)
            bx1.append(x0 + SPACING); by1.append(y0 + SPACING)
            shell = np.array([[x0, y0], [x0 + SPACING, y0],
                              [x0 + SPACING, y0 + SPACING],
                              [x0, y0 + SPACING], [x0, y0]])
            bwkb.append(wkb.polygon_wkb(shell))
    _write(out / "blocks.parquet", pa.table({
        "block_id": pa.array(bid, type=pa.int64()),
        "xmin": pa.array(bx0), "ymin": pa.array(by0),
        "xmax": pa.array(bx1), "ymax": pa.array(by1),
        "geometry": pa.array(bwkb, type=pa.binary()),
    }))

    # ---- buildings ----
    b_id, b_wkb, b_tags = [], [], []
    nb = 0
    for r in range(k - 1):
        for c in range(k - 1):
            if (r + c) % 2:
                continue
            x0 = c * SPACING - half
            y0 = r * SPACING - half
            for (dx, dy, w, h) in ((20, 20, 25, 18), (60, 55, 22, 28)):
                shell = np.array([[x0 + dx, y0 + dy], [x0 + dx + w, y0 + dy],
                                  [x0 + dx + w, y0 + dy + h],
                                  [x0 + dx, y0 + dy + h], [x0 + dx, y0 + dy]])
                b_id.append(f"b{nb}")
                b_wkb.append(wkb.polygon_wkb(shell))
                b_tags.append([])
                nb += 1
    # two buildings hugging a street (<1 m) to trigger width shrink (G20)
    for (x0, y0) in ((-half + 0.8, -half + 30), (-half + 100 + 0.9, -half + 130)):
        shell = np.array([[x0, y0], [x0 + 15, y0], [x0 + 15, y0 + 20],
                          [x0, y0 + 20], [x0, y0]])
        b_id.append(f"b{nb}")
        b_wkb.append(wkb.polygon_wkb(shell))
        b_tags.append([])
        nb += 1
    _write(out / "buildings.parquet", pa.table({
        "osm_id": pa.array(b_id),
        "building": pa.array(["yes"] * nb),
        "tags": pa.array(b_tags, type=pa.map_(pa.string(), pa.string())),
        "geometry": pa.array(b_wkb, type=pa.binary()),
    }))

    # ---- addresses (>=3 POIs in two blocks -> Voronoi split trigger) ----
    a_id, a_no, a_wkb, a_x, a_y = [], [], [], [], []
    na = 0
    for (r, c, cnt) in ((0, 0, 4), (1, 1, 3)):
        x0 = c * SPACING - half
        y0 = r * SPACING - half
        for t in range(cnt):
            px = x0 + 20 + 18 * t
            py = y0 + 30 + 11 * t
            a_id.append(f"a{na}")
            a_no.append(str(100 + na))
            a_wkb.append(wkb.point_wkb(px, py))
            a_x.append(px); a_y.append(py)
            na += 1
    _write(out / "addresses.parquet", pa.table({
        "osm_id": pa.array(a_id),
        "housenumber": pa.array(a_no),
        "x": pa.array(a_x), "y": pa.array(a_y),
        "geometry": pa.array(a_wkb, type=pa.binary()),
    }))

    # ---- AOI (inset so clipping is exercised, FIXTURES.md §5) ----
    inset = 30.0
    aoi_shell = np.array([[-half - inset, -half - inset],
                          [half + inset, -half - inset],
                          [half + inset, half + inset],
                          [-half - inset, half + inset],
                          [-half - inset, -half - inset]])
    _write(out / "aoi.parquet", pa.table({
        "name": pa.array(["synthetic_city"]),
        "xmin": pa.array([float(-half - inset)]),
        "ymin": pa.array([float(-half - inset)]),
        "xmax": pa.array([float(half + inset)]),
        "ymax": pa.array([float(half + inset)]),
        "geometry": pa.array([wkb.polygon_wkb(aoi_shell)], type=pa.binary()),
    }))

    # ---- DEM raster-as-table (10 m grid, FIXTURES.md §6) ----
    gx = np.arange(int(np.floor((-half - 50) / 10)),
                   int(np.ceil((half + 50) / 10)) + 1)
    gy = np.arange(int(np.floor((-half - 50) / 10)),
                   int(np.ceil((half + 50) / 10)) + 1)
    cx, cy = np.meshgrid(gx, gy, indexing="ij")
    cx = cx.ravel(); cy = cy.ravel()
    elev = 5 * np.sin(cx * 10 / 40.0) + 3 * np.cos(cy * 10 / 60.0)
    _write(out / "dem.parquet", pa.table({
        "cell_x": pa.array(cx, type=pa.int32()),
        "cell_y": pa.array(cy, type=pa.int32()),
        "elev_m": pa.array(elev),
    }))

    # ---- pages (BASELINE.json input_hint schema, verbatim) ----
    n = cfg["pages"]
    _write_pages(out, n)
    marker.write_text("ok")
    return out


_VOCAB = np.array([
    "street", "sidewalk", "city", "walk", "map", "block", "kerb", "cross",
    "route", "data", "open", "plan", "urban", "path", "node", "edge",
    "tile", "page", "web", "text", "lang", "index", "query", "join",
], dtype=object)


def _write_pages(out: Path, n: int):
    """Pages table writer: deterministic tokens from splitmix64(i)."""
    chunk = 250_000
    writer = None
    schema = pa.schema([
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us", tz="UTC")),
        ("html", pa.binary()),
        ("text", pa.string()),
        ("lang", pa.string()),
    ])
    path = out / "pages.parquet"
    path.parent.mkdir(parents=True, exist_ok=True)
    langs = np.array(["en", "pt", "es", "de"], dtype=object)
    base_ts = np.datetime64("2025-01-01T00:00:00", "us")
    for s in range(0, n, chunk):
        e = min(s + chunk, n)
        i = np.arange(s, e, dtype=np.uint64)
        urls = np.char.add(
            np.char.add("https://site",
                        (i % np.uint64(1000)).astype(str)),
            np.char.add(".example/p/", i.astype(str)))
        nw = 8 + (splitmix64(i * np.uint64(3) + np.uint64(1))
                  % np.uint64(25)).astype(np.int64)
        texts = []
        for idx, cnt in zip(i, nw):
            h = splitmix64(np.arange(cnt, dtype=np.uint64)
                           + idx * np.uint64(131071))
            texts.append(" ".join(_VOCAB[(h % np.uint64(len(_VOCAB)))
                                         .astype(np.int64)]))
        texts = np.array(texts, dtype=object)
        htmls = [b"<html><body>" + t.encode() + b"</body></html>"
                 for t in texts]
        ts = base_ts + i.astype("timedelta64[s]").astype("timedelta64[us]")
        tbl = pa.table({
            "url": pa.array(urls),
            "warc_ts": pa.array(ts, type=pa.timestamp("us", tz="UTC")),
            "html": pa.array(htmls, type=pa.binary()),
            "text": pa.array(texts),
            "lang": pa.array(langs[(i % np.uint64(4)).astype(np.int64)]),
        }, schema=schema)
        if writer is None:
            writer = pq.ParquetWriter(path, schema)
        writer.write_table(tbl)
    if writer is not None:
        writer.close()
