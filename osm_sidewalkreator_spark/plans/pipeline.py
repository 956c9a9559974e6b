"""The sidewalk-generation pipeline as Spark DataFrame transforms.

Stage order mirrors the reference lifecycle (SURVEY.md §3.2, headless
Processing path): load -> clip to AOI -> local-TM projection -> width
assignment -> per-tile geometry pipeline (split, polygonize, buffer/
close/rings, crossings+kerbs) -> EPSG:4326 outputs.

Scale design: streets are assigned to every TILE whose halo-padded
square their segment bbox touches; each tile is processed independently
by one tiled executor (``run_tiles``: a cogroup over cost-balanced tile
buckets), which ``generate_features`` and the checkpointed job share.
Skewed mega-tiles are the same knob as H3 resolution — shrink
TILE_SIZE_M. Features are emitted only by the tile that *owns* their
representative point, so the halo overlap never duplicates output.
"""

from __future__ import annotations

import collections
import dataclasses
import heapq
import os
import threading

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import params as P
from ..geometry import core, wkb
from ..synth import CITY_LAT0, CITY_LON0, ensure_synth
from ..functions.geo import make_transform_udf
from ..operators.predicates import _clipped, _piece_coords
from ..operators.tiling import seg_cells
from ..session import local_frame
from ..sources.catalog import load_table, parquet_path, table_prefix
from . import kernels

WIDTHS_ITEMS = sorted(P.DEFAULT_WIDTHS.items())


def load_streets(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "streets")


def clip_to_aoi(streets: DataFrame, spark: SparkSession, sf_dir: str
                ) -> DataFrame:
    """AOI clip (P1, ``cliplayer_v2`` generic_functions.py:391-401).

    The AOI is one broadcast rectangle; segment-level clipping happens in
    the tile kernel — here we prefilter whole features whose TM bbox is
    outside (scan-pruning analog of the reference's clip-then-process).
    """
    synth = ensure_synth(sf_dir)
    aoi = spark.read.parquet(str(synth / "aoi.parquet")) \
        .select("xmin", "ymin", "xmax", "ymax")
    return (streets.crossJoin(F.broadcast(aoi))
            .filter((F.greatest("x1", "x2") >= F.col("xmin"))
                    & (F.least("x1", "x2") <= F.col("xmax"))
                    & (F.greatest("y1", "y2") >= F.col("ymin"))
                    & (F.least("y1", "y2") <= F.col("ymax")))
            .drop("xmin", "ymin", "xmax", "ymax"))


def clip_segments_to_rect(segs: DataFrame, rect: DataFrame) -> DataFrame:
    """True AOI clip (P1, ``cliplayer_v2`` generic_functions.py:391-401):
    cut each segment AT the AOI boundary, not just prefilter features.

    ``rect``: one-row (xmin, ymin, xmax, ymax) broadcast. The Liang-Barsky
    interval and the piece endpoints are ``operators/predicates.py``'s
    column algebra; non-intersecting segments drop, partial ones are
    replaced by their inside piece. Zero-length leftovers (segments that
    only touch the boundary) are dropped.
    """
    j = _clipped(segs.crossJoin(F.broadcast(rect.select("xmin", "ymin",
                                                         "xmax", "ymax"))))
    ends = ("ax", "ay", "bx", "by")
    return j.select(*[c for c in segs.columns if c not in ends],
                    *[c.alias(n) for c, n in zip(_piece_coords(), ends)]
                    ).select(*segs.columns)


def assign_widths(streets: DataFrame) -> DataFrame:
    """Width coalesce + class filter (P7/P8).

    Exact reference semantics (``assign_street_widths``
    generic_functions.py:1720-1803): parse the raw ``width`` tag; if it
    casts to a float > 0 use it, else the per-class default
    (parameters.py:67-105, unknown class -> 0.0); drop rows whose final
    width is < 0.5 m. Pure built-ins: try_cast + a literal map lookup.
    """
    class_map = F.create_map(
        *[F.lit(v) for kv in WIDTHS_ITEMS for v in kv])
    parsed = F.col("width").try_cast("double")
    default = F.coalesce(class_map[F.lower(F.col("highway"))], F.lit(0.0))
    assigned = F.when(parsed > 0, parsed).otherwise(default)
    return (streets.withColumn("width_m", assigned)
            .filter(F.col("width_m") >= P.MIN_VALID_WIDTH))


def _segments_tm(src: DataFrame) -> DataFrame:
    """Rows of EPSG:4326 (Multi)LineString WKB ``geometry`` -> their
    2-point segments in TM meters, each carrying its row's other columns.

    One fused ``mapInPandas``: decode, one batched projection (P3) and
    ``core.explode_parts``, whose zero-length drop is the per-vertex
    dedup of G14 on the duplicate-vertex fixtures. ``tm_forward`` is
    elementwise, so projecting the batch's vertices at once gives the
    floats of a per-line projection."""
    attrs = [c for c in src.columns if c != "geometry"]
    ends = ["ax", "ay", "bx", "by"]
    schema = T.StructType([src.schema[c] for c in attrs] + [
        T.StructField(c, T.DoubleType()) for c in ends])

    def explode_tm(batches):
        from ..geometry.projection import tm_forward
        for pdf in batches:
            flat, nv, rows = wkb.decode_column(pdf["geometry"],
                                               wkb.decode_lines)
            x, y = tm_forward(flat[:, 0], flat[:, 1], CITY_LON0, CITY_LAT0)
            segs, part = core.explode_parts(np.column_stack([x, y]), nv)
            out = {c: pdf[c].to_numpy()[rows[part]] for c in attrs}
            out.update(zip(ends, segs.T))
            yield pd.DataFrame(out)

    return src.mapInPandas(explode_tm, schema)


def street_segments_tm(streets: DataFrame) -> DataFrame:
    """Explode street polylines (EPSG:4326 WKB) into 2-point segments in
    TM meters (``_segments_tm``), then pre-split long ones. The tag
    columns are strings whatever the input types them as (an all-null
    parquet column reads as int)."""
    tags = ("highway", "sidewalk", "sidewalk_left", "sidewalk_right",
            "sidewalk_both")
    seg = _segments_tm(streets.select(
        "osm_id", F.col("width_m").alias("width"),
        *[F.col(c).cast("string").alias(c) for c in tags], "geometry"))
    # pre-split long segments into <=MAX_PIECE chunks (JVM column math):
    # a km-long way must not land whole in every tile its bbox covers —
    # its PIECES have tight bboxes, so tiling stays O(length/tile), not
    # O(bbox area / tile area). Splitting at interior points does not
    # change any downstream geometry (noding re-splits anyway).
    max_piece = 256.0
    seglen = F.sqrt(F.pow(F.col("bx") - F.col("ax"), 2)
                    + F.pow(F.col("by") - F.col("ay"), 2))
    npieces = F.greatest(F.lit(1), F.ceil(seglen / max_piece)).cast("int")
    seg = (seg.withColumn("np", npieces)
           .withColumn("pi", F.explode(F.sequence(
               F.lit(0), F.col("np") - 1).cast("array<int>")))
           .select(
               "osm_id", "highway", "width", "sidewalk", "sidewalk_left",
               "sidewalk_right", "sidewalk_both",
               (F.col("ax") + (F.col("bx") - F.col("ax"))
                * F.col("pi") / F.col("np")).alias("nax"),
               (F.col("ay") + (F.col("by") - F.col("ay"))
                * F.col("pi") / F.col("np")).alias("nay"),
               (F.col("ax") + (F.col("bx") - F.col("ax"))
                * (F.col("pi") + 1) / F.col("np")).alias("nbx"),
               (F.col("ay") + (F.col("by") - F.col("ay"))
                * (F.col("pi") + 1) / F.col("np")).alias("nby"))
           .withColumnRenamed("nax", "ax").withColumnRenamed("nay", "ay")
           .withColumnRenamed("nbx", "bx").withColumnRenamed("nby", "by"))
    return seg


FEATURE_SCHEMA = T.StructType([
    T.StructField("tile", T.LongType()),
    T.StructField("kind", T.StringType()),
    T.StructField("fid", T.LongType()),
    T.StructField("geometry", T.BinaryType()),   # local-TM WKB
    T.StructField("length", T.DoubleType()),
    T.StructField("area", T.DoubleType()),
    T.StructField("ref_id", T.LongType()),       # kerb -> crossing fid
    T.StructField("cx", T.DoubleType()),         # representative point
    T.StructField("cy", T.DoubleType()),
    # crossing quality attrs (osm_sidewalkreator.py:1660-1676, :1727-1764)
    T.StructField("ortho_len_dif", T.DoubleType()),
    T.StructField("above_tol", T.BooleanType()),
    T.StructField("near_center", T.DoubleType()),
])


# A tile's emitted columns get these dtypes explicitly, so every tile
# frame has the same ones: a tile without kerbs (or protoblocks,
# crossings) would otherwise carry all-None object columns. ``ref_id``
# mixes None and 64-bit fids: nullable ``Int64`` keeps every bit (float64,
# what pandas infers, would round the fid to 53 bits), so the frame is
# built from objects and cast once.
_EMIT_DTYPES = {"tile": "int64", "fid": "int64", "length": "float64",
                "area": "float64", "ref_id": "Int64", "cx": "float64",
                "cy": "float64", "ortho_len_dif": "float64",
                "above_tol": "object", "near_center": "float64"}

_M64 = (1 << 64) - 1


def _splitmix64(z: int) -> int:
    """SplitMix64 finalizer (public-domain PRNG mix): deterministic
    64-bit avalanche used to mint feature ids from (tile, kind)."""
    z = (z + 0x9E3779B97F4A7C15) & _M64
    z = ((z ^ (z >> 30)) * 0xBF58476D1CE4E5B9) & _M64
    z = ((z ^ (z >> 27)) * 0x94D049BB133111EB) & _M64
    return z ^ (z >> 31)


def _tile_bounds(tile: int, size: float) -> tuple[float, float, float, float]:
    ix = np.int64(tile) >> 32
    iy = np.int64(np.int64(tile) & np.int64(0xFFFFFFFF)).astype(np.int32)
    x0 = float(ix) * size
    y0 = float(iy) * size
    return x0, y0, x0 + size, y0 + size


def _owns(x: float, y: float, b) -> bool:
    return b[0] <= x < b[2] and b[1] <= y < b[3]


def make_tile_kernel(tile_size: float, halo: float = P.TILE_HALO_M,
                     **pipe_opts):
    """Cogrouped applyInPandas kernel: run the per-tile geometry pipeline
    (streets cogrouped with building-segment/POI context) and emit
    kind-tagged features owned by this tile's core square.

    Inputs are clipped to the halo box first: halo > influence radius
    guarantees owned features are unaffected, and clipping bounds the
    per-tile work even when a continental-length way's pieces land here.

    ``pipe_opts`` forward to ``kernels.tile_pipeline`` (the optional GUI
    parity stages: ``dangle_iterations``, ``max_split_len``,
    ``enlarge_crossings``, ``export_snap``).
    """

    def kernel(key, pdf: pd.DataFrame, ctx: pd.DataFrame) -> pd.DataFrame:
        tile = int(key[0])
        if len(pdf) == 0:
            return pd.DataFrame(columns=[f.name for f in FEATURE_SCHEMA])
        b = _tile_bounds(tile, tile_size)
        hbox = (b[0] - halo, b[1] - halo, b[2] + halo, b[3] + halo)
        pdf = pdf.sort_values(["osm_id", "ax", "ay", "bx", "by"])
        raw = pdf[["ax", "ay", "bx", "by"]].to_numpy(dtype=np.float64)
        segs, kept = kernels.clip_segments_to_box(raw, hbox)
        if len(segs) == 0:
            return pd.DataFrame(columns=[f.name for f in FEATURE_SCHEMA])
        pdf = pdf.iloc[kept]
        widths = pdf["width"].to_numpy(dtype=np.float64)
        tags = {c: pdf[c].tolist() for c in
                ("sidewalk", "sidewalk_left", "sidewalk_right",
                 "sidewalk_both") if c in pdf.columns}
        building_segs = None
        pois = None
        existing_sw = None
        if ctx is not None and len(ctx):
            bmask = (ctx["ckind"] == "bseg").to_numpy()
            if bmask.any():
                bs = ctx.loc[bmask, ["ax", "ay", "bx", "by"]] \
                    .to_numpy(dtype=np.float64)
                building_segs, _ = kernels.clip_segments_to_box(bs, hbox)
            pmask = (ctx["ckind"] == "poi").to_numpy()
            if pmask.any():
                pois = ctx.loc[pmask, ["ax", "ay"]].to_numpy(dtype=np.float64)
            emask = (ctx["ckind"] == "esw").to_numpy()
            if emask.any():
                es = ctx.loc[emask, ["ax", "ay", "bx", "by"]] \
                    .to_numpy(dtype=np.float64)
                es, ekeep = kernels.clip_segments_to_box(es, hbox)
                if len(es):
                    existing_sw = (
                        es,
                        ctx.loc[emask, "cid"].to_numpy(dtype=object)[ekeep],
                        ctx.loc[emask, "clen"]
                           .to_numpy(dtype=np.float64)[ekeep])
        out = kernels.tile_pipeline(
            segs, widths, tags or None, building_segs=building_segs,
            pois=pois, way_ids=pdf["osm_id"].to_numpy(dtype=object),
            existing_sw=existing_sw, bounds=hbox, **pipe_opts)
        rows = []

        def emit(kind, fid, geom, length, area, ref_id, cx, cy,
                 ortho_len_dif=None, above_tol=None, near_center=None):
            rows.append((tile, kind, fid, geom, length, area, ref_id,
                         cx, cy, ortho_len_dif, above_tol, near_center))

        # deterministic planet-scale fids: a 63-bit mix of the FULL tile
        # id and kind, plus the in-tile ordinal. (tile, kind, ordinal) is
        # unique by construction; the mixed fid is unique w.h.p. at any
        # scale — unlike the round-1 24-bit tile prefix, which collided
        # for tiles 4096 cells apart.
        def fid_of(kind_code: int, ordinal: int) -> int:
            return (_splitmix64(_splitmix64(tile & _M64) ^ kind_code)
                    + ordinal) & 0x7FFFFFFFFFFFFFFF

        blocks = sorted(out["protoblocks"],
                        key=lambda r: (round(core.ring_centroid(r)[0], 6),
                                       round(core.ring_centroid(r)[1], 6)))
        for i, ring in enumerate(blocks):
            cx, cy = core.ring_centroid(ring)
            if not _owns(cx, cy, b):
                continue
            shell = np.vstack([ring, ring[:1]])
            emit("protoblock", fid_of(1, i), wkb.polygon_wkb(shell),
                 core.ring_perimeter(ring), abs(core.ring_signed_area(ring)),
                 None, cx, cy)

        swr = sorted(out["sidewalks"],
                     key=lambda r: (round(r[:, 0].min(), 6),
                                    round(r[:, 1].min(), 6),
                                    round(r[:, 0].max(), 6), len(r)))
        for i, line in enumerate(swr):
            # ownership representative: lexicographically smallest vertex
            rep = line[np.lexsort((line[:, 1], line[:, 0]))[0]]
            if not _owns(float(rep[0]), float(rep[1]), b):
                continue
            emit("sidewalk", fid_of(2, i), wkb.linestring_wkb(line),
                 core.polyline_length(line), None, None,
                 float(rep[0]), float(rep[1]))

        kerbs_by_crossing: dict[int, list] = {}
        for j, k2 in enumerate(out["kerbs"]):
            kerbs_by_crossing.setdefault(k2["crossing_index"], []) \
                .append((j, k2))
        for i, c in enumerate(out["crossings"]):
            cx, cy = float(c["center"][0]), float(c["center"][1])
            if not _owns(cx, cy, b):
                continue
            cfid = fid_of(3, i)
            emit("crossing", cfid, wkb.linestring_wkb(c["coords"]),
                 float(c["length"]), None, None, cx, cy,
                 ortho_len_dif=c.get("ortho_len_dif"),
                 above_tol=c.get("above_tol"),
                 near_center=c.get("nearest_centerpoint"))
            for j, k2 in kerbs_by_crossing.get(i, ()):
                emit("kerb", fid_of(4, 2 * i + (j % 2)),
                     wkb.point_wkb(float(k2["xy"][0]),
                                   float(k2["xy"][1])),
                     None, None, cfid,
                     float(k2["xy"][0]), float(k2["xy"][1]))
        return pd.DataFrame(rows, columns=[f.name for f in FEATURE_SCHEMA],
                            dtype=object).astype(_EMIT_DTYPES)

    return kernel


def existing_sidewalk_segments(streets: DataFrame) -> DataFrame:
    """Pre-existing ``footway=sidewalk`` ways as TM segments with each
    parent way's TOTAL length attached (the A10 incidence sums FULL
    feature lengths, not clipped pieces — generic_functions.py:1448-1456,
    capture at osm_sidewalkreator.py:662-676).

    The sum is a window over ``osm_id``, so the decode runs once. The
    window orders a way's segments by a row id taken right after the
    explode (one way's segments come from one input row, so one
    partition), so they are added in explode order even when the
    window's sort spills."""
    esw = streets.filter(F.element_at(F.col("tags"), "footway")
                         == "sidewalk")
    seg = (_segments_tm(esw.select("osm_id", "geometry"))
           .withColumn("_seq", F.monotonically_increasing_id()))
    seglen = F.sqrt(F.pow(F.col("bx") - F.col("ax"), 2)
                    + F.pow(F.col("by") - F.col("ay"), 2))
    way = (Window.partitionBy("osm_id").orderBy("_seq")
           .rowsBetween(Window.unboundedPreceding,
                        Window.unboundedFollowing))
    return seg.withColumn("way_len", F.sum(seglen).over(way)).drop("_seq")


def load_context_tiled(spark: SparkSession, sf_dir: str,
                       tile_size: float, halo: float) -> DataFrame:
    """Building boundary segments + POI points + pre-existing sidewalk
    segments, tile-assigned with halo.

    Addresses double as the splitting POIs (reference merges building
    centroids and address points, osm_sidewalkreator.py:2908-2931).
    """
    synth = ensure_synth(sf_dir)
    buildings = spark.read.parquet(str(synth / "buildings.parquet"))

    bseg_schema = T.StructType([
        T.StructField("ckind", T.StringType()),
        T.StructField("ax", T.DoubleType()),
        T.StructField("ay", T.DoubleType()),
        T.StructField("bx", T.DoubleType()),
        T.StructField("by", T.DoubleType()),
        T.StructField("cid", T.StringType()),
        T.StructField("clen", T.DoubleType()),
    ])

    def explode_boundaries(batches):
        for pdf in batches:
            flat, nv, _ = wkb.decode_column(pdf["geometry"],
                                            wkb.decode_paths)
            segs, _ = core.explode_parts(flat, nv)
            n = len(segs)
            yield pd.DataFrame({
                "ckind": np.full(n, "bseg", dtype=object),
                "ax": segs[:, 0], "ay": segs[:, 1],
                "bx": segs[:, 2], "by": segs[:, 3],
                "cid": np.full(n, None, dtype=object),
                "clen": np.full(n, np.nan)})

    bsegs = buildings.select("geometry").mapInPandas(
        explode_boundaries, bseg_schema)
    addrs = spark.read.parquet(str(synth / "addresses.parquet")) \
        .select(F.lit("poi").alias("ckind"),
                F.col("x").alias("ax"), F.col("y").alias("ay"),
                F.col("x").alias("bx"), F.col("y").alias("by"),
                F.lit(None).cast("string").alias("cid"),
                F.lit(None).cast("double").alias("clen"))
    esw = existing_sidewalk_segments(load_streets(spark, sf_dir)) \
        .select(F.lit("esw").alias("ckind"), "ax", "ay", "bx", "by",
                F.col("osm_id").alias("cid"),
                F.col("way_len").alias("clen"))
    return _explode_tiles(bsegs.unionByName(addrs).unionByName(esw),
                          tile_size, halo)


def _explode_tiles(segs: DataFrame, tile_size: float, halo: float
                   ) -> DataFrame:
    """One row per tile whose halo-padded square the segment bbox
    touches."""
    return segs.withColumn("tile", seg_cells(tile_size, pad=halo))


# ---------------- the one tiled executor ----------------

# above this many tiles the census is too large to collect, and tiles
# are placed by a hash of their id instead of by LPT
_LPT_MAX_TILES = 200_000
_CENSUS_SCHEMA = "tile long, n long, fp long"
_PLACE_SCHEMA = "tile long, fp long, _bucket int"
_CTX_SCHEMA = ("tile long, ckind string, ax double, ay double, bx double, "
               "by double, cid string, clen double")


@dataclasses.dataclass
class _Inputs:
    tiled: DataFrame
    ctx: DataFrame
    census: DataFrame | None = None


# Repeat calls on unchanged input files reuse the persisted tiled inputs
# and their census: without them every warm call re-runs the scan,
# projection, explode and context decode. Keyed by the files' sizes and
# mtimes, so an input rewritten in place misses.
_MEMO: "collections.OrderedDict[tuple, _Inputs]" = collections.OrderedDict()
_MEMO_KEEP = 2
_MEMO_LOCK = threading.Lock()


def _input_key(spark: SparkSession, sf_dir: str, tile_size: float,
               halo: float) -> tuple | None:
    """(sf_dir, tile_size, halo) plus (path, size, mtime_ns) of every
    file under the parquet paths the tiled inputs read, or None when the
    streets come from a catalog table or a path lists no local file.

    The paths are those ``load_table`` and ``ensure_synth`` resolve, and
    the files are listed on the driver: building the key runs no Spark
    job (a ``spark.read.parquet`` is a schema-inference job per path)."""
    if table_prefix(spark) is not None:
        return None
    synth = ensure_synth(sf_dir)
    roots = [parquet_path(sf_dir, "streets")] + [
        str(synth / f"{t}.parquet") for t in ("aoi", "buildings", "addresses")]
    stats = []
    for root in roots:
        files = [root] if os.path.isfile(root) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(root) for f in fs)
        if not files:
            return None
        for f in files:
            st = os.stat(f)
            stats.append((f, st.st_size, st.st_mtime_ns))
    return (sf_dir, tile_size, halo, tuple(stats))


def tiled_inputs(spark: SparkSession, sf_dir: str,
                 tile_size: float = P.TILE_SIZE_M,
                 halo: float = P.TILE_HALO_M) -> tuple[DataFrame, DataFrame]:
    """(tiled street segments, tiled context) of ``sf_dir``: streets
    AOI-clipped, width-assigned, projected, cut at the AOI rectangle and
    assigned to every tile whose halo-padded square they touch.

    Both frames are persisted and memoized for the latest ``_MEMO_KEEP``
    inputs; their census (``tile_census``) is memoized with them."""
    key = _input_key(spark, sf_dir, tile_size, halo)
    with _MEMO_LOCK:
        if key is not None and key in _MEMO:
            _MEMO.move_to_end(key)
            return _MEMO[key].tiled, _MEMO[key].ctx
        # a rewritten file leaves the plan equal, and Spark's
        # CacheManager would serve the old entry's data to the new plan
        for k in [k for k in _MEMO if k[0] == sf_dir]:
            _release(_MEMO.pop(k))
    streets = assign_widths(clip_to_aoi(load_streets(spark, sf_dir),
                                        spark, sf_dir))
    aoi = spark.read.parquet(str(ensure_synth(sf_dir) / "aoi.parquet"))
    # true AOI clip (P1) cuts geometry AT the rectangle; the kernel never
    # reads highway, and opaque cogroups ship every column they get
    segs = clip_segments_to_rect(street_segments_tm(streets), aoi) \
        .drop("highway")
    tiled = _explode_tiles(segs, tile_size, halo)
    ctx = load_context_tiled(spark, sf_dir, tile_size, halo)
    if key is None:
        return tiled, ctx
    entry = _Inputs(tiled.persist(), ctx.persist())
    with _MEMO_LOCK:
        _MEMO[key] = entry
        while len(_MEMO) > _MEMO_KEEP:
            _release(_MEMO.popitem(last=False)[1])
    return entry.tiled, entry.ctx


def _release(entry: _Inputs) -> None:
    entry.tiled.unpersist()
    entry.ctx.unpersist()


def tile_census(spark: SparkSession, tiled: DataFrame) -> DataFrame:
    """(tile, n, fp) per tile: the segment count ``n`` drives placement,
    the order-independent input fingerprint ``fp`` drives resume.

    Collected once into a local frame (memoized with ``tiled`` when it
    came from ``tiled_inputs``); above ``_LPT_MAX_TILES`` tiles it stays
    a Spark aggregate."""
    with _MEMO_LOCK:
        entry = next((e for e in _MEMO.values() if e.tiled is tiled), None)
    if entry is not None and entry.census is not None:
        return entry.census
    census = tiled.groupBy("tile").agg(
        F.count(F.lit(1)).alias("n"),
        F.expr("bit_xor(xxhash64(osm_id, ax, ay, bx, by))").alias("fp"))
    rows = census.limit(_LPT_MAX_TILES + 1).collect()
    if len(rows) <= _LPT_MAX_TILES:
        census = local_frame(spark, rows, _CENSUS_SCHEMA)
    if entry is not None:
        entry.census = census
    return census


def _lpt(rows: list, n_part: int) -> list[tuple]:
    """Longest-processing-time placement: heaviest tile first onto the
    least-loaded bucket, a tile costing its segment count plus a fixed
    overhead. Returns [(tile, fp, bucket)]."""
    heap = [(0, b) for b in range(n_part)]
    out = []
    for r in sorted(rows, key=lambda r: (-r.n, r.tile)):
        load, b = heapq.heappop(heap)
        out.append((r.tile, r.fp, b))
        heapq.heappush(heap, (load + r.n + 20, b))
    return out


def _bucket_kernel(tile_fn):
    def kernel(key, pdf: pd.DataFrame, ctx: pd.DataFrame) -> pd.DataFrame:
        by_tile = dict(tuple(ctx.groupby("tile"))) if len(ctx) else {}
        outs = [tile_fn((t, fp), g, by_tile.get(t, ctx.iloc[:0]))
                for (t, fp), g in pdf.groupby(["tile", "fp"])]
        # empty tile frames stay out: pandas 2.2 warns that concat will
        # stop ignoring them when it picks the result dtypes
        full = [o for o in outs if len(o)] or outs[:1]
        return pd.concat(full, ignore_index=True) if full else pd.DataFrame()
    return kernel


def run_tiles(spark: SparkSession, tiled: DataFrame, ctx: DataFrame | None,
              census: DataFrame, tile_fn, schema) -> DataFrame:
    """Run ``tile_fn((tile, fp), segs_pdf, ctx_pdf)`` once for every tile
    of ``census`` in one cogroup over cost-balanced buckets; ``ctx`` None
    is an empty context.

    Placement is LPT over the census, or a hash of the tile id above
    ``_LPT_MAX_TILES``. ``repartitionById`` puts bucket b in partition b
    on both sides, so the cogroup adds no exchange, and its explicit
    count keeps AQE from coalescing the byte-light but compute-heavy
    tile groups onto a few tasks.

    Python stages are sized by cores: every Python task pays a fixed
    start cost (PySpark 4.1 calls ``importlib.invalidate_caches()`` per
    task, which under Python 3.11 re-reads ``pyspark.zip``'s directory
    once per zipimporter, ~0.1 s of CPU, and the JVM sets up a runner
    per task). So there is one bucket per core, and never more buckets
    than tiles: LPT balances the load, and more buckets would only add
    tasks. For the same reason the census, placement and empty-context
    frames are ``local_frame``s, which run no job."""
    rows = census.limit(_LPT_MAX_TILES + 1).collect()
    lpt = len(rows) <= _LPT_MAX_TILES
    n_part = spark.sparkContext.defaultParallelism
    if lpt:
        n_part = max(1, min(len(rows), n_part))

    def placement():
        # a fresh frame per side: one frame joined into both cogroup
        # sides trips the ambiguous-self-join check
        if lpt:
            return F.broadcast(local_frame(spark, _lpt(rows, n_part),
                                           _PLACE_SCHEMA))
        return census.select("tile", "fp", F.pmod(
            F.xxhash64("tile"), F.lit(n_part)).cast("int").alias("_bucket"))

    if ctx is None:
        ctx = local_frame(spark, [], _CTX_SCHEMA)
    segs = tiled.join(placement(), "tile").repartitionById(n_part, "_bucket")
    ctx = ctx.join(placement().drop("fp"), "tile") \
        .repartitionById(n_part, "_bucket")
    return (segs.groupBy("_bucket").cogroup(ctx.groupBy("_bucket"))
            .applyInPandas(_bucket_kernel(tile_fn), schema))


def generate_features(spark: SparkSession, sf_dir: str,
                      **pipe_opts) -> DataFrame:
    """End-to-end: streets -> per-tile sidewalk/crossing/kerb/protoblock
    features (local-TM WKB) with halo-overlap tiling + ownership dedup.

    Streets are cogrouped per tile with building segments + POIs (the
    context side of the width-shrink and Voronoi-splitting stages).
    ``pipe_opts`` forward to ``kernels.tile_pipeline`` (optional GUI
    parity stages, see ``make_tile_kernel``).
    """
    tiled, ctx = tiled_inputs(spark, sf_dir)
    return run_tiles(spark, tiled, ctx, tile_census(spark, tiled),
                     make_tile_kernel(P.TILE_SIZE_M, **pipe_opts),
                     FEATURE_SCHEMA)


def features_4326(features: DataFrame) -> DataFrame:
    """Project pipeline outputs back to EPSG:4326 (S4 export path)."""
    inv = make_transform_udf(CITY_LON0, CITY_LAT0, False)
    return features.withColumn("geometry", inv("geometry"))
