"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` maps operator names (SURVEY.md §2 inventory) to Spark
callables; ``oracle_sql()`` gives the DuckDB-equivalent SQL. Engine-side
computation goes through the real operator paths (WKB decode, TM
projection, cell joins, pandas-UDF kernels); oracles recompute from the
raw synthetic parquet (or, for join ops, from engine artifacts both
sides read) with plain SQL.

Float discipline for the driver's value-hash compare:
- sums are fixed-point (ROUND(x*10^k) cast to BIGINT before SUM);
- rounded doubles get ``+ 0.0`` to normalize negative zero;
- ranking ties are broken by an integer id in both engines.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from osm_sidewalkreator_spark import params as P
from osm_sidewalkreator_spark import synth as SY
from osm_sidewalkreator_spark.artifacts import ensure_features
from osm_sidewalkreator_spark.functions.geo import (
    st_endpoints, st_length, st_transform_tm)
from osm_sidewalkreator_spark.operators import (
    graph as GR, joins as J, lm as LM, multimodal as MM, raster as RA,
    ranking as RK, sampling as SA, simsearch as SS, textops as TX)
from osm_sidewalkreator_spark.pages import (
    ensure_pages_geo, geocode_pages, load_pages)
from osm_sidewalkreator_spark.plans import pipeline as PL
from osm_sidewalkreator_spark.synth import CITY_LAT0, CITY_LON0, ensure_synth

# oracle base paths (the driver verifies at sf=0.01)
SP = str(SY.SYNTH_ROOT / "sf0.01")


def _synth(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    synth = ensure_synth(sf_dir)
    return spark.read.parquet(str(synth / f"{name}.parquet"))


def _features(spark: SparkSession, sf_dir: str) -> DataFrame:
    synth = ensure_features(spark, sf_dir)
    return spark.read.parquet(str(synth / "features_tm.parquet"))


def _pages_geo(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = ensure_pages_geo(spark, sf_dir)
    return spark.read.parquet(path)


# --------------------------------------------------------------------------
# entry: flagship — full sidewalk pipeline at smoke scale
# --------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Streets -> protoblocks/sidewalks/crossings/kerbs -> EPSG:4326."""
    feats = PL.generate_features(spark, "/root/testdata/sf0.001")
    return PL.features_4326(feats).select(
        "kind", "fid", "length", "area", "ref_id")


# --------------------------------------------------------------------------
# queries
# --------------------------------------------------------------------------

def q_assign_widths(spark, sf_dir):
    """P7/P8: width coalesce + class filter (assign_street_widths)."""
    df = PL.assign_widths(PL.load_streets(spark, sf_dir))
    return df.select("osm_id", "width_m")


def q_street_lengths(spark, sf_dir):
    """P9/A6: per-class counts + total TM length from WKB geometry."""
    st = PL.load_streets(spark, sf_dir).filter(F.col("n_vertices") == 2)
    tm = st.withColumn("geom_tm", st_transform_tm(
        F.col("geometry"), CITY_LON0, CITY_LAT0))
    seg = tm.withColumn("len", st_length("geom_tm"))
    return (seg.groupBy("highway")
            .agg(F.count("*").alias("n_ways"),
                 F.sum(F.round(F.col("len") * 1000).cast("long"))
                  .alias("total_len_mm")))


def q_endpoint_degree(spark, sf_dir):
    """J6/A7: street-endpoint node degrees from decoded+projected WKB."""
    st = PL.load_streets(spark, sf_dir).filter(F.col("n_vertices") == 2)
    tm = st.withColumn("geom_tm", st_transform_tm(
        F.col("geometry"), CITY_LON0, CITY_LAT0))
    ep = tm.withColumn("ep", st_endpoints("geom_tm"))
    pts = ep.select(F.col("ep.x1").alias("px"), F.col("ep.y1").alias("py")) \
        .unionAll(ep.select(F.col("ep.x2"), F.col("ep.y2")))
    snapped = pts.select((F.round(F.col("px"), 3) + 0.0).alias("nx"),
                         (F.round(F.col("py"), 3) + 0.0).alias("ny"))
    return (snapped.groupBy("nx", "ny").agg(F.count("*").alias("degree"))
            .filter(F.col("degree") >= 3))


def q_pip_pages_blocks(spark, sf_dir):
    """J9: page point-in-protoblock containment join (generic PIP path
    over WKB polygons; ground-truth grid blocks as the polygon side)."""
    pages = _pages_geo(spark, sf_dir).select("url", "x", "y")
    blocks = _synth(spark, sf_dir, "blocks").select(
        F.col("block_id").alias("poly_id"), "geometry")
    out = J.pip_join_points_polygons(pages, blocks, cell_size=P.CELL_SIZE_M)
    return out.select("url", F.col("poly_id").alias("block_id"))


def q_knn_pages_sidewalks(spark, sf_dir):
    """J7/W1: nearest engine sidewalk segment per page (k=1, 50 m)."""
    pages = (_pages_geo(spark, sf_dir).select("url", "x", "y")
             .filter(F.col("url").endswith("00")))
    synth = ensure_features(spark, sf_dir)
    segs = spark.read.parquet(str(synth / "sidewalk_segments.parquet")) \
        .select("seg_id", "ax", "ay", "bx", "by")
    out = J.knn_join_points_segments(
        pages, segs, k=1, max_dist=P.KNN_MAX_DIST, cell_size=P.CELL_SIZE_M)
    return out.select("url", "seg_id",
                      (F.round(F.col("dist"), 6) + 0.0).alias("dist_m"))


def q_dem_kerb_slope(spark, sf_dir):
    """raster<->vector: DEM finite-difference slope at kerb points."""
    synth = ensure_features(spark, sf_dir)
    kerbs = spark.read.parquet(str(synth / "kerbs_xy.parquet"))
    return RA.dem_kerb_slope(kerbs, _synth(spark, sf_dir, "dem"))


def q_dedup_geometries(spark, sf_dir):
    """A9: duplicate-geometry removal (deleteduplicategeometries)."""
    st = PL.load_streets(spark, sf_dir)
    return (st.groupBy("geometry")
            .agg(F.min("osm_id").alias("keeper_id"),
                 F.count("*").alias("n_dups"))
            .select("keeper_id", "n_dups"))


def q_text_invariant(spark, sf_dir):
    """P19: byte-identity of text through the geocode pipeline."""
    pages = geocode_pages(load_pages(spark, sf_dir), sf_dir)
    return pages.select("url", F.md5(F.col("text")).alias("text_md5"))


def q_media_features(spark, sf_dir):
    """Multimodal: mapInPandas feature extraction over binary payloads
    (decode stubbed with the deterministic fake). EXACT oracle: the
    fake is pure byte statistics, recomputed in SQL over ord() of the
    ASCII payload."""
    pages = load_pages(spark, sf_dir).filter(F.col("url").endswith("00"))
    return MM.extract_media_features(pages).select(
        "url", "n_bytes", (F.round("feat_mean", 6) + 0.0).alias("feat_mean"),
        "width_px", "height_px")


def _docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def q_tags_flatten(spark, sf_dir):
    """S3: HSTORE/map tag flatten — hot-key promotion to a column
    (osm_fetch.py:264-293 semantics via element_at)."""
    st = PL.load_streets(spark, sf_dir)
    return st.select(
        "osm_id",
        F.coalesce(F.element_at("tags", "footway"), F.lit(""))
         .alias("footway_tag"))


def q_events_streaming(spark, sf_dir):
    """Structured Streaming path: watermarked tumbling window counts,
    run via Trigger.AvailableNow (equals GROUP BY date_trunc on bounded
    input — same oracle as the batch op)."""
    from osm_sidewalkreator_spark.streaming.events_stream import (
        run_events_stream)
    return run_events_stream(spark, sf_dir)


def q_exact_dedup_docs(spark, sf_dir):
    return TX.exact_dedup(_docs(spark, sf_dir))


def q_jaccard_pairs(spark, sf_dir):
    return TX.ngram_jaccard_pairs(_docs(spark, sf_dir), threshold=0.5)


def q_minhash_pairs(spark, sf_dir):
    # J >= 0.5 pairs in this corpus are exact dups (J = 1.0), for which
    # MinHash-LSH recall is exact -> same oracle as the exact-Jaccard op
    return TX.minhash_lsh_pairs(_docs(spark, sf_dir), threshold=0.5)


def q_simhash_md5(spark, sf_dir):
    """Portable-hash SimHash (md5 halves) with an EXACT DuckDB oracle —
    hard correctness gate for the SimHash vote/threshold algebra (the
    xxhash64 default stays rows-only: no xxhash64 in DuckDB)."""
    d = _docs(spark, sf_dir).filter(F.pmod(F.col("doc_id"), F.lit(10)) == 0)
    return TX.simhash64_portable(d)


def q_polygonize_lattice(spark, sf_dir):
    """G6 polygonize with an EXACT oracle: the real noding + polygonize
    kernel (geometry/noding.py, geometry/faces.py — native:polygonize,
    osm_sidewalkreator.py:724) runs on the deduped axis-aligned
    2-vertex sub-network, a complete mesh whose minimal faces are
    exactly the cells between consecutive grid-line positions. The
    oracle regenerates every cell bbox + area from the distinct line
    positions with window lead() — fully independent of the face
    tracer."""
    import numpy as np
    import pandas as pd

    st = (PL.load_streets(spark, sf_dir)
          .filter(F.col("n_vertices") == 2)
          .filter((F.col("x1") == F.col("x2"))
                  | (F.col("y1") == F.col("y2")))
          .select("x1", "y1", "x2", "y2").distinct())
    schema = ("xmin_mm long, ymin_mm long, xmax_mm long, ymax_mm long, "
              "area_cm2 long")

    def run(key, pdf: pd.DataFrame) -> pd.DataFrame:
        from osm_sidewalkreator_spark.geometry import faces, noding
        segs = pdf[["x1", "y1", "x2", "y2"]].to_numpy(np.float64)
        noded, _ = noding.node_segments(segs)
        rows = []
        for ring in faces.polygonize(noded):
            x, y = ring[:, 0], ring[:, 1]
            xn = np.concatenate((x[1:], x[:1]))
            yn = np.concatenate((y[1:], y[:1]))
            area = 0.5 * abs(float(np.dot(x, yn) - np.dot(y, xn)))
            rows.append([int(round(x.min() * 1000)),
                         int(round(y.min() * 1000)),
                         int(round(x.max() * 1000)),
                         int(round(y.max() * 1000)),
                         int(round(area * 1e4))])
        return pd.DataFrame(rows, columns=["xmin_mm", "ymin_mm",
                                           "xmax_mm", "ymax_mm",
                                           "area_cm2"])

    # single group at gate scale; the scale path for polygonize is the
    # tiled cogroup in generate_features
    return st.withColumn("_g", F.lit(0)).groupBy("_g") \
             .applyInPandas(run, schema)


def q_token_stats(spark, sf_dir):
    return TX.token_stats(_docs(spark, sf_dir))


def q_quality(spark, sf_dir):
    return TX.quality_score(_docs(spark, sf_dir))


def q_langid(spark, sf_dir):
    return TX.lang_id(_docs(spark, sf_dir))


def q_fingerprint(spark, sf_dir):
    return TX.fingerprint(_docs(spark, sf_dir))


def q_cosine_topk(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return SS.cosine_topk_bruteforce(emb, k=5, query_mod=50)


def q_lineitem_pricing(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return (li.filter(F.col("l_shipdate") <= "1998-09-02")
            .groupBy("l_returnflag", "l_linestatus")
            .agg(F.count("*").alias("count_order"),
                 F.sum(F.round(F.col("l_quantity") * 100).cast("long"))
                  .alias("sum_qty_c"),
                 F.sum(F.round(F.col("l_extendedprice") * 100).cast("long"))
                  .alias("sum_base_c"),
                 F.sum(F.round(F.col("l_extendedprice")
                               * (1 - F.col("l_discount")) * 100)
                       .cast("long")).alias("sum_disc_c")))


def q_clip_aoi_geometry(spark, sf_dir):
    """P1 true clip: segment geometry CUT at the AOI boundary (not just
    feature membership). The
    synthetic AOI contains every street, so the rect is shrunk by an
    inset that actually cuts the grid; the oracle recomputes the same
    Liang-Barsky interval with bit-identical float math."""
    st = PL.load_streets(spark, sf_dir).filter(F.col("n_vertices") == 2) \
        .select("osm_id", F.col("x1").alias("ax"), F.col("y1").alias("ay"),
                F.col("x2").alias("bx"), F.col("y2").alias("by"))
    aoi = _synth(spark, sf_dir, "aoi").select(
        (F.col("xmin") + 230.0).alias("xmin"),
        (F.col("ymin") + 230.0).alias("ymin"),
        (F.col("xmax") - 230.0).alias("xmax"),
        (F.col("ymax") - 230.0).alias("ymax"))
    out = PL.clip_segments_to_rect(st, aoi)
    return out.select(
        "osm_id",
        F.round(F.col("ax") * 1000).cast("long").alias("ax_mm"),
        F.round(F.col("ay") * 1000).cast("long").alias("ay_mm"),
        F.round(F.col("bx") * 1000).cast("long").alias("bx_mm"),
        F.round(F.col("by") * 1000).cast("long").alias("by_mm"))


def q_sessionize(spark, sf_dir):
    """Per-user session windows (native F.session_window, 12 h gap) as
    a watermarked append-mode stream: session start/end epoch, event
    count, milli-value sum."""
    from osm_sidewalkreator_spark.streaming.events_stream import (
        sessionize_events)
    return sessionize_events(spark, sf_dir)


def q_stream_dedup(spark, sf_dir):
    """Custom stateful streaming dedup (applyInPandasWithState, state
    TTL past watermark): events replayed 20% duplicated across source
    files; first occurrence of each event_id survives. Replays are
    byte-identical rows, so the exact oracle is the distinct source."""
    from osm_sidewalkreator_spark.streaming.events_stream import (
        run_stream_dedup)
    out = run_stream_dedup(spark, sf_dir)
    return out.select(
        "event_id",
        F.unix_timestamp("ts").alias("ts_s"),
        "user_id", "event_type",
        F.round(F.col("value") * 1000).cast("long").alias("value_milli"))


def q_embedding_dedup(spark, sf_dir):
    """Embedding-cosine near-dup dedup (keep-first rule): survivors
    after dropping every vector with a cosine>=0.35 duplicate of
    smaller vec_id. Exact all-pairs variant (oracle shape); the LSH
    candidate variant is the scale path (use_lsh=True)."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return SS.embedding_neardup_dedup(emb, threshold=0.35) \
        .select("vec_id", "label")


def q_url_canonical(spark, sf_dir):
    """URL canonicalization + domain extraction (web-pipeline dedup
    key; pure JVM column algebra). Deterministic messy variants are
    built from each page's number (case, www., default/explicit ports,
    trailing slashes, fragments, query strings), then canonicalized;
    the oracle reproduces both steps in SQL."""
    pg = load_pages(spark, sf_dir).select("url")
    host0 = F.regexp_extract("url", r"^https://([^/]*)", 1)
    path0 = F.regexp_extract("url", r"^https://[^/]*(/.*)$", 1)
    n = F.pmod(F.regexp_extract("url", r"/p/([0-9]+)$", 1)
               .cast("long"), F.lit(5))
    messy = (F.when(n == 0, F.concat(F.lit("HTTPS://WWW."), host0,
                                     F.lit(":443"), path0, F.lit("#x")))
             .when(n == 1, F.concat(F.lit("https://"), host0, path0,
                                    F.lit("///")))
             .when(n == 2, F.concat(F.lit("http://"), F.upper(host0),
                                    F.lit(":80"), path0,
                                    F.lit("?b=2&a=1")))
             .when(n == 3, F.col("url"))
             .otherwise(F.concat(F.lit("https://"), host0,
                                 F.lit(":8443"), path0)))
    canon, domain = TX.canonicalize_url(messy)
    return pg.select("url", messy.alias("messy_url"), canon, domain)


def _poly_overlay_fixture(spark):
    """A-layer for the polygon x polygon overlay oracle: one CONCAVE
    L-shape and one rectangle, off-lattice by 0.1 m (1-decimal offsets
    keep every closed-form area*100 an exact integer)."""
    import numpy as np
    from osm_sidewalkreator_spark.geometry import wkb as WKB
    x0, y0 = -380.1, -380.3
    L = np.array([[x0, y0], [x0 + 600, y0], [x0 + 600, y0 + 190],
                  [x0 + 190, y0 + 190], [x0 + 190, y0 + 500],
                  [x0, y0 + 500], [x0, y0]])
    r0, r1 = 37.4, -141.5
    R = np.array([[r0, r1], [r0 + 250, r1], [r0 + 250, r1 + 120],
                  [r0, r1 + 120], [r0, r1]])
    rows = [(1, x0, y0, x0 + 600, y0 + 500,
             bytearray(WKB.polygon_wkb(L))),
            (2, r0, r1, r0 + 250, r1 + 120,
             bytearray(WKB.polygon_wkb(R)))]
    return spark.createDataFrame(
        rows, "a_id long, xmin double, ymin double, "
              "xmax double, ymax double, geometry binary")


def q_overlay_poly_poly(spark, sf_dir):
    """J2/J3 generic polygon x polygon overlay (native:intersection /
    native:difference on polygon layers, generic_functions.py:124-143;
    polygon difference used directly at osm_sidewalkreator.py:1921-1926).

    Intersection: concave L + rect vs ALL ground-truth blocks, one row
    per (a, block) with ring count and 0.01-m^2 fixed-point area.
    Difference: same A-layer minus the UNION of the checkerboard block
    subset (disjoint, corner-touching — exercises the union clip), area
    per A feature. The oracle recomputes both from the rectangle
    decomposition of the L."""
    from osm_sidewalkreator_spark.operators.overlay import (
        polygon_overlay_polygons)
    blocks = _synth(spark, sf_dir, "blocks")
    a = _poly_overlay_fixture(spark)
    inter = polygon_overlay_polygons(a, blocks, op="intersection",
                                     a_id="a_id", b_id="block_id")
    inter_rows = (inter.groupBy("a_id", "block_id")
                  .agg(F.count("*").alias("n_rings"),
                       F.sum("area").alias("_a"))
                  .select(F.lit("intersection").alias("op"),
                          "a_id", F.col("block_id").alias("b_id"),
                          "n_rings",
                          F.round(F.col("_a") * 100).cast("long")
                          .alias("area_q")))
    cb = blocks.filter(
        (((F.col("xmin") + 550) / 100).cast("long")
         + ((F.col("ymin") + 550) / 100).cast("long")) % 2 == 0)
    diff = polygon_overlay_polygons(a, cb, op="difference",
                                    a_id="a_id", b_id="block_id")
    diff_rows = (diff.groupBy("a_id")
                 .agg(F.sum("area").alias("_a"))
                 .select(F.lit("difference").alias("op"), "a_id",
                         F.lit(-1).cast("long").alias("b_id"),
                         F.lit(-1).cast("long").alias("n_rings"),
                         F.round(F.col("_a") * 100).cast("long")
                         .alias("area_q")))
    return inter_rows.unionByName(diff_rows)


def _lattice_streets(spark, sf_dir):
    """The width-assigned, axis-aligned 2-vertex streets: the pure
    lattice sub-network the closed-form oracles below reason about."""
    st = PL.assign_widths(
        PL.load_streets(spark, sf_dir).filter(F.col("n_vertices") == 2))
    return st.filter((F.col("x1") == F.col("x2"))
                     | (F.col("y1") == F.col("y2"))) \
        .select("osm_id", "x1", "y1", "x2", "y2", "width_m")


def _on_lattice(lat, cols, values, enlarge_crossings):
    """Run the REAL tile kernel (no line refinement) over the lattice
    streets as a single global group — a correctness scenario at gate
    scale (the scale path is generate_features' tiled cogroup). Each
    row is ``values(out)`` of the kernel output, in mm, as long
    ``cols``. ``values`` must be a nested function: Spark's workers
    receive it by value, not by importing this module."""
    import numpy as np
    import pandas as pd
    from osm_sidewalkreator_spark.plans import kernels

    def run(key, pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("osm_id")
        segs = pdf[["x1", "y1", "x2", "y2"]].to_numpy(np.float64)
        w = pdf["width_m"].to_numpy(np.float64)
        out = kernels.tile_pipeline(
            segs, w, refine_lines=False,
            enlarge_crossings=enlarge_crossings,
            way_ids=pdf["osm_id"].to_numpy(dtype=object))
        rows = [[int(round(v * 1000)) for v in vals]
                for vals in values(out)]
        return pd.DataFrame(rows, columns=cols)

    return (lat.withColumn("_g", F.lit(0)).groupBy("_g")
            .applyInPandas(run, ", ".join(f"{c} long" for c in cols)))


def _lattice_crossings(lat, enlarge_crossings):
    """The kernel's crossings on the lattice: center, A, B, D, E and
    length, in mm."""
    def values(out):
        for c in out["crossings"]:
            co = c["coords"]          # A B C D E
            yield [co[2, 0], co[2, 1], co[0, 0], co[0, 1], co[1, 0],
                   co[1, 1], co[3, 0], co[3, 1], co[4, 0], co[4, 1],
                   c["length"]]

    return _on_lattice(
        lat, ["cx_mm", "cy_mm", "pax_mm", "pay_mm", "pbx_mm", "pby_mm",
              "pdx_mm", "pdy_mm", "pex_mm", "pey_mm", "len_mm"],
        values, enlarge_crossings)


def _lattice_crossing_ends(lat):
    """One row per interior street end of the lattice, computed in
    DataFrame algebra independent of the kernel: the end (px, py), the
    street's far end (qx, qy), width ``w`` and unit direction (ux, uy),
    ``n_dup`` streets on the same coordinates (collapsed to one
    representative, same width by construction), the widest OTHER
    street meeting the end (``mw``) and the crossing center's distance
    ``di`` from it. Ends on the lattice's outer boundary are dropped."""
    ded = (lat.groupBy("x1", "y1", "x2", "y2")
           .agg(F.min("osm_id").alias("osm_id"),
                F.max("width_m").alias("w"),
                F.count("*").alias("n_dup")))
    e1 = ded.select("osm_id", "n_dup", F.col("x1").alias("px"),
                    F.col("y1").alias("py"), F.col("x2").alias("qx"),
                    F.col("y2").alias("qy"), "w")
    e2 = ded.select("osm_id", "n_dup", F.col("x2").alias("px"),
                    F.col("y2").alias("py"), F.col("x1").alias("qx"),
                    F.col("y1").alias("qy"), "w")
    eps = e1.unionByName(e2)
    other = eps.select(F.col("px").alias("ox"), F.col("py").alias("oy"),
                       F.col("w").alias("wo"),
                       F.col("osm_id").alias("oid"))
    mx = (eps.join(other, (F.col("px") == F.col("ox"))
                   & (F.col("py") == F.col("oy"))
                   & (F.col("osm_id") != F.col("oid")))
          .groupBy("osm_id", "n_dup", "px", "py", "qx", "qy", "w")
          .agg(F.max("wo").alias("mw")))
    ext = lat.agg(
        F.min(F.least("x1", "x2")).alias("xmin"),
        F.max(F.greatest("x1", "x2")).alias("xmax"),
        F.min(F.least("y1", "y2")).alias("ymin"),
        F.max(F.greatest("y1", "y2")).alias("ymax"))
    return (mx.crossJoin(F.broadcast(ext))
            .withColumn("ux", F.signum(F.col("qx") - F.col("px")))
            .withColumn("uy", F.signum(F.col("qy") - F.col("py")))
            .withColumn("di", F.col("mw") / 2 + P.DEFAULT_CURVE_RADIUS
                        + P.D_TO_ADD_TO_EACH_SIDE)
            .filter(((F.col("ux") != 0) & (F.col("py") > F.col("ymin"))
                     & (F.col("py") < F.col("ymax")))
                    | ((F.col("uy") != 0) & (F.col("px") > F.col("xmin"))
                       & (F.col("px") < F.col("xmax")))))


def q_crossing_geometry(spark, sf_dir):
    """Exact oracle for the engine's CROSSING COORDINATES on the pure
    lattice sub-network (J10/G18 non-enlargement path,
    full_sidewalkreator_bbox_algorithm.py:833-924).

    Scenario: the axis-aligned 2-vertex grid streets only (diagonals,
    stubs, loops excluded on both sides). There the whole construction
    is closed-form: noding is the identity, every block ring is a
    rectangle inset by w/2 + d_to_add/2 per side with radius-3 corner
    arcs that the ray (at d_interp = mw/2 + curve + d_to_add from the
    junction, mw >= the corner street's width) always clears, so
    A/E land on the straight flank at +-(w_self/2 + 0.5), kerbs at 25%,
    length = w_self + 1. The REAL tile kernel computes the crossings
    (ray x ring-edge intersection against the real buffered rings); the
    oracle recomputes every coordinate independently in SQL. Restricted
    to crossings with both flanking blocks present and a >0.25 m ray
    margin (half_span > offset), identically on both sides.
    """
    lat = _lattice_streets(spark, sf_dir)
    cross = _lattice_crossings(lat, False)
    # expected (non-marginal, both-blocks-present) crossing centers
    cand = _lattice_crossing_ends(lat).filter(
        F.col("mw") / 2 + P.DEFAULT_CURVE_RADIUS
        + P.D_TO_ADD_TO_EACH_SIDE + 0.5 > F.col("w") / 2 + 0.75)
    expected = cand.select(
        F.round((F.col("px") + F.col("ux") * F.col("di")) * 1000)
         .cast("long").alias("cx_mm"),
        F.round((F.col("py") + F.col("uy") * F.col("di")) * 1000)
         .cast("long").alias("cy_mm"))
    return cross.join(expected, ["cx_mm", "cy_mm"])


def q_crossing_enlarge(spark, sf_dir):
    """Exact oracle for the GUI ENLARGEMENT crossing path (J10/G18
    ``enlarge=True``, osm_sidewalkreator.py:3035-3170) on the lattice
    sub-network, with widths overridden by a deterministic
    coordinate hash so that some streets (w=17) are WIDER than their
    junction's initial ray half-span (mw/2 + 4.5 <= w/2 + 0.5): the
    single-shot ray MISSES those flanks and only the doubling loop
    resolves them. On parallel lattice flanks the resolved hit is
    reach-independent — A/E at +-(w/2 + 0.5) — so every coordinate is
    closed-form regardless of how many doublings ran. Excluded (on
    both sides identically): boundary streets (a never-hitting outward
    side doubles to the iteration cap and dies), duplicated-coordinate
    streets (the kernel emits one crossing per twin at the same
    center), and rays with < 0.25 m resolution margin per doubling
    step (fp tie safety; vacuous for this width set)."""
    # deterministic coord-hash width override (duplicate-safe: twins
    # share coords hence widths); exact on .0-valued lattice coords
    u = (F.col("x1") + F.col("x2")).cast("long")
    v = (F.col("y1") + F.col("y2")).cast("long")
    hmod = F.abs(u * 3 + v * 5) % 7
    w_ov = (F.when(hmod == 0, F.lit(17.0))
            .when(hmod.isin(1, 2), F.lit(2.0))
            .otherwise(F.col("width_m")))
    lat = (_lattice_streets(spark, sf_dir)
           .withColumn("width_m", w_ov)
           .filter(F.col("width_m") >= 0.5))
    cross = _lattice_crossings(lat, True)

    # closed-form expectation: full coordinates, not just centers.
    # mw comes from ALL incident streets; only the SUBJECT street is
    # dropped when duplicated.
    off = F.col("w") / 2 + 0.5
    reach0 = F.col("mw") / 2 + P.DEFAULT_CURVE_RADIUS \
        + P.D_TO_ADD_TO_EACH_SIDE + 0.5
    cand = (_lattice_crossing_ends(lat)
            .withColumn("off", off)
            .filter(F.col("n_dup") == 1)
            # fp-margin: no doubling step 2^k*reach0 lands within
            # 0.25 m of the flank offset (k=0 suffices: 2*reach0 >=
            # 11 > off+0.25 for every width here)
            .filter(F.abs(reach0 - off) > 0.25)
            # not killed: lattice length w+1 << ABS_MAX_CROSSING_LEN
            .filter(F.col("w") + 1 < P.ABS_MAX_CROSSING_LEN - 0.25))
    cx = F.col("px") + F.col("ux") * F.col("di")
    cy = F.col("py") + F.col("uy") * F.col("di")
    adx, ady = F.col("uy"), -F.col("ux")
    mm = lambda e: F.round(e * 1000).cast("long")  # noqa: E731
    expected = cand.select(
        mm(cx).alias("cx_mm"), mm(cy).alias("cy_mm"),
        mm(cx + adx * F.col("off")).alias("pax_mm"),
        mm(cy + ady * F.col("off")).alias("pay_mm"),
        mm(cx + adx * F.col("off") * 0.75).alias("pbx_mm"),
        mm(cy + ady * F.col("off") * 0.75).alias("pby_mm"),
        mm(cx - adx * F.col("off") * 0.75).alias("pdx_mm"),
        mm(cy - ady * F.col("off") * 0.75).alias("pdy_mm"),
        mm(cx - adx * F.col("off")).alias("pex_mm"),
        mm(cy - ady * F.col("off")).alias("pey_mm"),
        mm(2 * F.col("off")).alias("len_mm"))
    # join on centers only; the other 9 columns stay the KERNEL's
    # values so the gate's value-hash compares them to the oracle's
    # closed-form coordinates
    return cross.join(expected.select("cx_mm", "cy_mm"),
                      ["cx_mm", "cy_mm"])


def q_ring_bbox(spark, sf_dir):
    """Exact oracle for SIDEWALK RING placement on the pure lattice
    sub-network (G1-G4 buffer/close/donut path,
    sidewalk_generation_logic.py:292-430): each block's ring is a
    rectangle inset by that side's street half-width + d_to_add/2 with
    radius-3 corner arcs curving INWARD, so the ring's bbox equals the
    straight-flank rectangle — closed-form from the 4 bounding streets'
    widths, independent of the arc approximation. The REAL buffer /
    dissolve / morphological-close / hole-extraction kernel produces
    the rings; DuckDB reconstructs every bbox from the street table."""
    def bboxes(out):
        for ln in out["sidewalks"]:
            yield (ln[:, 0].min(), ln[:, 1].min(),
                   ln[:, 0].max(), ln[:, 1].max())

    return _on_lattice(_lattice_streets(spark, sf_dir),
                       ["xmin_mm", "ymin_mm", "xmax_mm", "ymax_mm"],
                       bboxes, False)


def q_voronoi_split(spark, sf_dir):
    """G10/G11 Voronoi POI splitting with an EXACT oracle
    (``voronoi_splitting`` osm_sidewalkreator.py:3493-3557 via
    ``native:voronoipolygons`` generic_functions.py:373-378): on each
    lattice face (the REAL noding + polygonize kernel), a deterministic
    2x2 POI grid at the quarter points makes every perpendicular
    bisector axis-aligned, so the REAL half-plane ``voronoi_cells`` +
    ``split_lines_with_lines`` kernel must cut the block's boundary
    ring at exactly its four side midpoints: 4 pieces, each side-mid ->
    corner -> side-mid, with closed-form endpoints and length
    (w+h)/2. DuckDB regenerates every piece from the distinct grid
    positions alone — fully independent of the Voronoi construction.
    Pieces are canonicalized (lexicographically smaller endpoint
    first) and indexed by sorted endpoint order within the block."""
    import numpy as np
    import pandas as pd

    st = (PL.load_streets(spark, sf_dir)
          .filter(F.col("n_vertices") == 2)
          .filter((F.col("x1") == F.col("x2"))
                  | (F.col("y1") == F.col("y2")))
          .select("x1", "y1", "x2", "y2").distinct())
    cols = ["xmin_mm", "ymin_mm", "piece_idx", "sx_mm", "sy_mm",
            "mx_mm", "my_mm", "ex_mm", "ey_mm", "len_mm"]
    schema = ("xmin_mm long, ymin_mm long, piece_idx int, sx_mm long, "
              "sy_mm long, mx_mm long, my_mm long, ex_mm long, "
              "ey_mm long, len_mm long")

    def run(key, pdf: pd.DataFrame) -> pd.DataFrame:
        from osm_sidewalkreator_spark.geometry import faces, noding
        from osm_sidewalkreator_spark.plans import refine

        segs = pdf[["x1", "y1", "x2", "y2"]].to_numpy(np.float64)
        noded, _ = noding.node_segments(segs)
        rows = []
        for ring in faces.polygonize(noded):
            x0, y0 = ring[:, 0].min(), ring[:, 1].min()
            x1, y1 = ring[:, 0].max(), ring[:, 1].max()
            rect = np.array([[x0, y0], [x1, y0], [x1, y1],
                             [x0, y1], [x0, y0]])
            w, h = x1 - x0, y1 - y0
            pois = np.array([[x0 + w * 0.25, y0 + h * 0.25],
                             [x0 + w * 0.75, y0 + h * 0.25],
                             [x0 + w * 0.25, y0 + h * 0.75],
                             [x0 + w * 0.75, y0 + h * 0.75]])
            pieces = refine.voronoi_split_block([rect], pois, rect[:-1])
            recs = []
            for p in pieces:
                if (p[-1][0], p[-1][1]) < (p[0][0], p[0][1]):
                    p = p[::-1]
                mm = [int(round(v * 1000)) for v in
                      (p[0][0], p[0][1], p[len(p) // 2][0],
                       p[len(p) // 2][1], p[-1][0], p[-1][1])]
                ln = int(round(float(
                    np.hypot(*(np.diff(p, axis=0)).T).sum()) * 1000))
                recs.append(mm + [ln])
            recs.sort()
            bx, by = int(round(x0 * 1000)), int(round(y0 * 1000))
            for i, r in enumerate(recs):
                rows.append([bx, by, i] + r)
        return pd.DataFrame(rows, columns=cols)

    return (st.withColumn("_g", F.lit(0)).groupBy("_g")
            .applyInPandas(run, schema))


def q_curate_chain(spark, sf_dir):
    """End-to-end curation chain (plans/curate.py) as ONE exact gate
    entry: quality filter (>= 0.5503 — chosen OFF every attainable rational quality value so no doc sits within FP-disagreement range of the threshold; 0.55 exactly equals doc 119's quality at sf0.01 and the two engines round-trip it one ulp apart) -> exact dedup (lowest doc_id per
    identical text) -> MinHash-LSH near-dup pairs -> connected-
    components cluster dedup (keeper = highest quality, ties lowest
    doc_id) -> 128/16 token-window chunking. Every stage is
    individually exact-gated (q_quality, q_exact_dedup_docs,
    q_minhash_pairs, q_dedup_clusters, the chunk oracle in
    tests/test_chunking.py); this entry pins their COMPOSITION — the
    single lazy plan the 100 TB job runs. DuckDB recomputes the whole
    chain: quality expression -> min-doc_id window -> exact-Jaccard
    pairs -> recursive-CTE transitive closure -> quality-ordered
    election -> chunk window arithmetic."""
    from osm_sidewalkreator_spark.plans import curate as CU

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    chunks = CU.curate_corpus(docs, min_quality=0.5503)
    return chunks.select(
        "doc_id", "cluster_id",
        F.col("cluster_size").cast("long").alias("cluster_size"),
        F.round("quality", 6).alias("quality"),
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        F.col("n_chunks").cast("long").alias("n_chunks"),
        F.col("n_chunk_tokens").cast("long").alias("n_chunk_tokens"),
        "chunk_text")


def q_junction_angles(spark, sf_dir):
    """P14/P15 direction vectors + angle-between (the reference's
    angle_between_three_points, generic_functions.py corner math): for
    every unordered pair of 2-vertex streets meeting at a
    node, the angle in degrees between their away-from-node direction
    vectors. Pure column algebra (atan2 of |cross| over dot)."""
    st = (PL.load_streets(spark, sf_dir)
          .filter(F.col("n_vertices") == 2)
          .select("osm_id", "x1", "y1", "x2", "y2"))
    eps = st.select("osm_id", F.explode(F.array(
        F.struct(F.col("x1").alias("px"), F.col("y1").alias("py"),
                 F.col("x2").alias("ox"), F.col("y2").alias("oy")),
        F.struct(F.col("x2").alias("px"), F.col("y2").alias("py"),
                 F.col("x1").alias("ox"), F.col("y1").alias("oy"))))
        .alias("e")).select("osm_id", "e.px", "e.py", "e.ox", "e.oy")
    b = eps.select(F.col("osm_id").alias("id_b"), "px", "py",
                   F.col("ox").alias("bx"), F.col("oy").alias("by"))
    j = (eps.join(b, ["px", "py"])
         .filter(F.col("osm_id") < F.col("id_b")))
    ux, uy = F.col("ox") - F.col("px"), F.col("oy") - F.col("py")
    vx, vy = F.col("bx") - F.col("px"), F.col("by") - F.col("py")
    ang = F.degrees(F.atan2(F.abs(ux * vy - uy * vx),
                            ux * vx + uy * vy))
    return j.select(
        F.col("osm_id").alias("id_a"), "id_b",
        F.round(F.col("px") * 1000).cast("long").alias("px_mm"),
        F.round(F.col("py") * 1000).cast("long").alias("py_mm"),
        F.round(ang, 4).alias("angle_deg"))


def q_interpolate(spark, sf_dir):
    """P13 interpolate-along-line (QgsGeometry.interpolate,
    osm_sidewalkreator.py:1365): the point at 37% of each 2-vertex
    street's length, computed by the WKB-decoding UDF over the
    TM-projected geometry; the oracle recomputes it from the flat
    endpoint columns. Multi-vertex parity is unit-tested against a
    hand-walked reference."""
    from osm_sidewalkreator_spark.functions.geo import (
        st_interpolate, st_transform_tm)
    st = PL.load_streets(spark, sf_dir).filter(F.col("n_vertices") == 2)
    tm = st.select("osm_id", st_transform_tm(
        F.col("geometry"), CITY_LON0, CITY_LAT0).alias("g"))
    p = tm.select("osm_id",
                  st_interpolate(F.col("g"), F.lit(0.37)).alias("p"))
    return p.select(
        "osm_id",
        F.round(F.col("p.x") * 1000).cast("long").alias("px_mm"),
        F.round(F.col("p.y") * 1000).cast("long").alias("py_mm"))


def q_major_width_diff(spark, sf_dir):
    """P16 ``get_major_dif_signed`` (generic_functions.py:1026-1059) as
    a node join: per (way, endpoint), the width of the incident OTHER
    way with the largest signed difference — others within the 0.5 m
    isclose tolerance excluded; own width when none qualify."""
    st = (PL.assign_widths(PL.load_streets(spark, sf_dir))
          .filter(F.col("n_vertices") == 2)
          .select("osm_id", "width_m", "x1", "y1", "x2", "y2"))
    eps = (st.select("osm_id", "width_m", F.explode(F.array(
        F.struct(F.col("x1").alias("px"), F.col("y1").alias("py")),
        F.struct(F.col("x2").alias("px"), F.col("y2").alias("py"))))
        .alias("p"))
        .select("osm_id", "width_m", "p.px", "p.py"))
    other = eps.select(F.col("osm_id").alias("o_id"),
                       F.col("width_m").alias("o_w"), "px", "py")
    mx = (eps.join(other, ["px", "py"])
          .filter((F.col("o_id") != F.col("osm_id"))
                  & (F.abs(F.col("o_w") - F.col("width_m")) > 0.5))
          .groupBy("osm_id", "px", "py")
          .agg(F.max(F.col("o_w") - F.col("width_m")).alias("_mx")))
    out = eps.join(mx, ["osm_id", "px", "py"], "left")
    major = F.col("width_m") + F.coalesce(F.col("_mx"), F.lit(0.0))
    return out.select(
        "osm_id",
        F.round(F.col("px") * 1000).cast("long").alias("px_mm"),
        F.round(F.col("py") * 1000).cast("long").alias("py_mm"),
        F.round(major * 1000).cast("long").alias("major_w_mm"))


def q_incidence_ids(spark, sf_dir):
    """J8 id-list incidence variant (generic_functions.py:1408-1465
    default mode, sidewalk ids per protoblock at
    osm_sidewalkreator.py:988): sorted incident way-id string per
    block."""
    synth = ensure_features(spark, sf_dir)
    blocks = _synth(spark, sf_dir, "blocks")
    esw = spark.read.parquet(str(synth / "esw_segments.parquet"))
    return J.incidence_ids_join(blocks, esw, cell_size=P.CELL_SIZE_M)


def _streets_as_segs(spark, sf_dir):
    return (PL.load_streets(spark, sf_dir)
            .filter(F.col("n_vertices") == 2)
            .select("osm_id",
                    F.col("x1").alias("ax"), F.col("y1").alias("ay"),
                    F.col("x2").alias("bx"), F.col("y2").alias("by")))


def _mm(col, name):
    return F.round(F.col(col) * 1000).cast("long").alias(name)


def q_overlay_intersection(spark, sf_dir):
    """J2 generic ``native:intersection`` overlay
    (generic_functions.py:124-132): streets x protoblock rects, one row
    per truly-overlapping pair, geometry cut to the overlap, both sides'
    ids carried."""
    from osm_sidewalkreator_spark.operators import overlay as OV
    st = _streets_as_segs(spark, sf_dir)
    blocks = _synth(spark, sf_dir, "blocks").select(
        "block_id", "xmin", "ymin", "xmax", "ymax")
    out = OV.intersection_overlay(st, blocks)
    return out.select("osm_id", "block_id",
                      _mm("px_a", "ax_mm"), _mm("py_a", "ay_mm"),
                      _mm("px_b", "bx_mm"), _mm("py_b", "by_mm"))


def q_overlay_difference(spark, sf_dir):
    """J3 generic ``native:difference`` overlay
    (generic_functions.py:135-143): each street minus the UNION of all
    overlapping protoblock rects (interval merge, one shuffle);
    untouched streets pass through whole."""
    from osm_sidewalkreator_spark.operators import overlay as OV
    st = _streets_as_segs(spark, sf_dir)
    # outset a SPARSE subset of rects: streets run along block
    # boundaries, so +7 m makes them cross block interiors, and keeping
    # every 3rd block leaves uncovered stretches -> real gap pieces
    blocks = _synth(spark, sf_dir, "blocks") \
        .filter(F.col("block_id") % 3 == 0).select(
            "block_id",
            (F.col("xmin") - 7.0).alias("xmin"),
            (F.col("ymin") - 7.0).alias("ymin"),
            (F.col("xmax") + 7.0).alias("xmax"),
            (F.col("ymax") + 7.0).alias("ymax"))
    out = OV.difference_overlay(st, blocks)
    return out.select("osm_id",
                      _mm("px_a", "ax_mm"), _mm("py_a", "ay_mm"),
                      _mm("px_b", "bx_mm"), _mm("py_b", "by_mm"))


def q_alt_kerb_schema(spark, sf_dir):
    """G19 ALT_SCHEMA export split (osm_sidewalkreator.py:3593-3665):
    each crossing -> 2 sidewalk stubs + crossing center + 2 kerbs with the
    reference's tag columns; lengths fixed-point for the exact oracle
    (recomputed from the crossing_segments artifact both sides read)."""
    from osm_sidewalkreator_spark.plans.export_alt import (
        alt_schema_features)
    feats = _features(spark, sf_dir)
    out = alt_schema_features(feats)
    return out.select(
        "crossing_fid", "part", "highway", "footway", "barrier",
        F.round(F.col("length") * 1000).cast("long").alias("len_mm"))


def q_extract_by_location(spark, sf_dir):
    """J1: qgis:extractbylocation predicate set (generic_functions.py:
    314-350) — 2-vertex street segments vs ground-truth block rects.
    Emits every truly-intersecting (segment, block) pair with its
    within/crosses/touches DE-9IM classification; pure column algebra
    both engine- and oracle-side."""
    from osm_sidewalkreator_spark.operators import predicates as PR
    st = PL.load_streets(spark, sf_dir).filter(F.col("n_vertices") == 2) \
        .select("osm_id", F.col("x1").alias("ax"), F.col("y1").alias("ay"),
                F.col("x2").alias("bx"), F.col("y2").alias("by"))
    blocks = _synth(spark, sf_dir, "blocks")
    flags = PR.flag_pairs(st, blocks, P.CELL_SIZE_M)
    return (flags.filter(F.col("intersects"))
            .select("osm_id", "block_id", "within", "crosses", "touches")
            .distinct())


def q_convex_hull(spark, sf_dir):
    """G9 convex hull (native:convexhull, generic_functions.py:220-227):
    hull of each block's pages (monotone chain kernel). EXACT oracle:
    `_hull_oracle_sql` recomputes every hull in pure SQL via
    directional-extreme pruning + the all-strictly-one-side edge test;
    kernel properties also pinned in tests/test_predicates_hull.py."""
    import pandas as pd
    from pyspark.sql import types as T
    import numpy as np
    from osm_sidewalkreator_spark.geometry.hull import convex_hull
    pg = _pages_geo(spark, sf_dir)
    blocks = _synth(spark, sf_dir, "blocks")
    pip = J.pip_join_points_rects(pg.select("url", "x", "y"), blocks,
                                  cell_size=P.CELL_SIZE_M)
    schema = T.StructType([T.StructField("block_id", T.LongType()),
                           T.StructField("n_hull", T.IntegerType()),
                           T.StructField("hull_area", T.DoubleType())])

    def kern(key, pdf: pd.DataFrame) -> pd.DataFrame:
        h = convex_hull(pdf[["x", "y"]].to_numpy(dtype=np.float64))
        if len(h) < 3:
            area = 0.0
        else:
            x, y = h[:, 0], h[:, 1]
            area = 0.5 * abs(float(np.dot(x, np.roll(y, -1))
                                   - np.dot(y, np.roll(x, -1))))
        return pd.DataFrame([(int(key[0]), len(h), round(area, 3))],
                            columns=["block_id", "n_hull", "hull_area"])

    return pip.groupBy("block_id").applyInPandas(kern, schema)


def q_protoblock_sidewalk_filter(spark, sf_dir):
    """A10: existing-sidewalk incidence ratio per block (J8 sum-length
    variant feeding the >40% drop, osm_sidewalkreator.py:733-762).
    Runs on the synthetic ground-truth rectangles so the ratio math has
    an exact SQL oracle; the protoblock-polygon variant applies inside
    the tile kernel (kernels.filter_protoblocks_by_existing_sidewalks)."""
    synth = ensure_features(spark, sf_dir)
    blocks = _synth(spark, sf_dir, "blocks")
    esw = spark.read.parquet(str(synth / "esw_segments.parquet"))
    inc = J.incidence_length_join(blocks, esw, cell_size=P.CELL_SIZE_M)
    area = (F.col("xmax") - F.col("xmin")) * (F.col("ymax") - F.col("ymin"))
    j = blocks.join(inc, "block_id", "left") \
        .withColumn("inc_len", F.coalesce(F.col("inc_len"), F.lit(0.0)))
    ratio = (F.pow(F.col("inc_len") / 4.0, 2) / area) * 100.0
    return j.select(
        "block_id",
        F.round(F.col("inc_len") * 1000).cast("long").alias("inc_len_mm"),
        (F.round(ratio, 6) + 0.0).alias("sidewalks_ratio"),
        (ratio <= P.CUTOFF_PERCENT_PROTOBLOCK).alias("keep"))


def q_feature_contract(spark, sf_dir):
    """The reference's output contract (full_sidewalkreator_bbox_algorithm
    .py:855-938, osm_sidewalkreator.py:1727-1764) on the engine's own
    features; see ``_feature_contract``."""
    return _feature_contract(_features(spark, sf_dir))


def _feature_contract(feats: DataFrame) -> DataFrame:
    """What the engine emitted for each crossing: its WKB vertex count,
    its ``length`` in mm, and one row per kerb whose ``ref_id`` names
    it, with the kerb's point. The oracle writes the contract from the
    crossing segments alone: 5 vertices, the summed segment length, and
    kerbs on vertices 1 and 3. The full join keeps a crossing without
    kerbs and a kerb whose ``ref_id`` names no crossing."""
    c = feats.filter(F.col("kind") == "crossing").select(
        F.col("fid").alias("crossing_fid"),
        # a 2D LineString's WKB: a 9-byte header, then 16 bytes a vertex
        ((F.octet_length("geometry") - 9) / 16).alias("n_vertices"),
        F.round(F.col("length") * 1000).cast("long").alias("len_mm"))
    k = feats.filter(F.col("kind") == "kerb").select(
        F.col("ref_id").alias("crossing_fid"),
        st_endpoints("geometry").alias("p"))
    return c.join(k, "crossing_fid", "full").select(
        "crossing_fid", "n_vertices", "len_mm",
        F.col("p.x1").alias("kx"), F.col("p.y1").alias("ky"))


def q_dedup_clusters(spark, sf_dir):
    """Near-dup CLUSTER resolution over the documents table: the exact
    minhash pair set (the one q_minhash_pairs gates) resolved into
    connected components with the distributed large-star/small-star
    rounds (operators/graph.py), then one keeper elected per cluster.
    Exact oracle: DuckDB recursive-CTE transitive closure over the same
    pair SQL + the same min-id window election."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pairs = TX.minhash_lsh_pairs(docs, 0.5).select(
        F.col("id_a").alias("a"), F.col("id_b").alias("b"))
    out = GR.dedup_clusters(docs.select("doc_id"), pairs)
    return out.select(
        "doc_id", "cluster_id",
        F.col("cluster_size").cast("long").alias("cluster_size"),
        F.col("is_keeper").cast("int").alias("keeper"))


def q_weighted_sample(spark, sf_dir):
    """Deterministic weighted corpus mix (operators/sampling.py): keep
    decision = portable md5 unit-hash < per-lang fraction — the
    training-data re-weighting primitive, shuffle-free by design. The
    oracle recomputes the identical hash ('0x'||substr(md5(...),1,12)
    parsed as UBIGINT) and CASE thresholds."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = SA.weighted_sample(
        docs, {"en": 0.8, "zh": 0.3, "de": 0.6}, default_fraction=0.05)
    return out.select("doc_id", "lang")


def q_temperature_mix(spark, sf_dir):
    """Temperature-based domain mixing (operators/sampling.py): keep
    fractions DERIVED from corpus counts with the mT5/CC-100 rule
    w_g = n_g^(1/T) / Z, p_g = min(1, target * w_g / n_g), rounded to
    the 9-decimal grain so both engines' libm pow lands on the same
    values; the keep decision is the shared md5 unit-hash filter. The
    oracle recomputes counts, Z and fractions itself in SQL."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = SA.temperature_sample(docs, temperature=3.0, target_rows=200,
                                group_col="lang", seed="temp-v1")
    return out.select("doc_id", "lang")


def q_ivf_cells(spark, sf_dir):
    """IVF coarse-quantizer cell assignment (operators/simsearch.py):
    every vector mapped to its max-cosine centroid out of the 8
    lowest-vec_id embeddings (the deterministic model both engines can
    rebuild). Integer output — bit-exact left-fold dot products make
    the argmax engine-independent."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cents = [[float(x) for x in r.embedding]
             for r in emb.orderBy("vec_id").limit(8).collect()]
    return SS.assign_cells(emb, cents)


def q_bm25_rank(spark, sf_dir):
    """Okapi BM25 relevance over the documents table
    (operators/ranking.py): one map-side-combined stats row, then a
    narrow shuffle-free scoring projection. Oracle recomputes
    N/avgdl/df itself from the same table."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return RK.bm25_scores(docs, _BM25_TERMS)


_BM25_TERMS = ["hash", "vector", "slow"]


def q_lm_nll(spark, sf_dir):
    """Self-trained bigram-LM negative log-likelihood per document
    (operators/lm.py) — the CCNet-style perplexity-filter primitive.
    Counts train in one map-side-combined aggregate; scoring joins the
    bigram stream to the one-row-per-bigram count table; each doc's
    ln-terms fold in position order so both engines sum with identical
    association."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return LM.bigram_nll(docs)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # The driver records at most ~50 entries per round (the dict head),
    # so the registry is curated to exactly 50, each with an exact
    # DuckDB oracle over files in this checkout.
    return {
        "q_sessionize": q_sessionize,
        "q_stream_dedup": q_stream_dedup,
        "q_events_streaming": q_events_streaming,
        "q_assign_widths": q_assign_widths,
        "q_street_lengths": q_street_lengths,
        "q_temperature_mix": q_temperature_mix,
        "q_endpoint_degree": q_endpoint_degree,
        "q_pip_pages_blocks": q_pip_pages_blocks,
        "q_lm_nll": q_lm_nll,
        "q_knn_pages_sidewalks": q_knn_pages_sidewalks,
        "q_dem_kerb_slope": q_dem_kerb_slope,
        "q_dedup_geometries": q_dedup_geometries,
        "q_text_invariant": q_text_invariant,
        "q_voronoi_split": q_voronoi_split,
        "q_media_features": q_media_features,
        "q_tags_flatten": q_tags_flatten,
        "q_exact_dedup_docs": q_exact_dedup_docs,
        "q_jaccard_pairs": q_jaccard_pairs,
        "q_minhash_pairs": q_minhash_pairs,
        "q_simhash_md5": q_simhash_md5,
        "q_polygonize_lattice": q_polygonize_lattice,
        "q_token_stats": q_token_stats,
        "q_quality": q_quality,
        "q_langid": q_langid,
        "q_fingerprint": q_fingerprint,
        "q_cosine_topk": q_cosine_topk,
        "q_lineitem_pricing": q_lineitem_pricing,
        "q_feature_contract": q_feature_contract,
        "q_weighted_sample": q_weighted_sample,
        "q_curate_chain": q_curate_chain,
        "q_protoblock_sidewalk_filter": q_protoblock_sidewalk_filter,
        "q_extract_by_location": q_extract_by_location,
        "q_convex_hull": q_convex_hull,
        "q_alt_kerb_schema": q_alt_kerb_schema,
        "q_clip_aoi_geometry": q_clip_aoi_geometry,
        "q_overlay_intersection": q_overlay_intersection,
        "q_overlay_difference": q_overlay_difference,
        "q_incidence_ids": q_incidence_ids,
        "q_ivf_cells": q_ivf_cells,
        "q_bm25_rank": q_bm25_rank,
        "q_major_width_diff": q_major_width_diff,
        "q_interpolate": q_interpolate,
        "q_junction_angles": q_junction_angles,
        "q_embedding_dedup": q_embedding_dedup,
        "q_crossing_geometry": q_crossing_geometry,
        "q_crossing_enlarge": q_crossing_enlarge,
        "q_overlay_poly_poly": q_overlay_poly_poly,
        "q_url_canonical": q_url_canonical,
        "q_ring_bbox": q_ring_bbox,
        "q_dedup_clusters": q_dedup_clusters,
    }


# --------------------------------------------------------------------------
# oracles (DuckDB SQL on the same parquet files; sf=0.01 paths)
# --------------------------------------------------------------------------

def _widths_case() -> str:
    arms = " ".join(
        f"WHEN '{k}' THEN {v}" for k, v in sorted(P.DEFAULT_WIDTHS.items()))
    return f"(CASE lower(highway) {arms} ELSE 0.0 END)"


def _pseg_dist(px: str, py: str) -> str:
    """Point-to-segment distance SQL matching the Spark column algebra."""
    return f"""
      sqrt(pow({px} - (ax + (CASE WHEN (bx-ax)*(bx-ax)+(by-ay)*(by-ay) = 0 THEN 0.0
            ELSE least(greatest((({px}-ax)*(bx-ax)+({py}-ay)*(by-ay))
                 / ((bx-ax)*(bx-ax)+(by-ay)*(by-ay)), 0.0), 1.0) END)*(bx-ax)), 2)
         + pow({py} - (ay + (CASE WHEN (bx-ax)*(bx-ax)+(by-ay)*(by-ay) = 0 THEN 0.0
            ELSE least(greatest((({px}-ax)*(bx-ax)+({py}-ay)*(by-ay))
                 / ((bx-ax)*(bx-ax)+(by-ay)*(by-ay)), 0.0), 1.0) END)*(by-ay)), 2))
    """



_CLUSTER_SQL = """
    WITH RECURSIVE d AS (SELECT doc_id, string_split(text, ' ') AS t
                         FROM documents),
         s AS (SELECT doc_id, list_distinct(
                 [t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]
                  for i in range(len(t) - 2)]) AS sh
               FROM d WHERE len(t) >= 3),
         e AS (SELECT doc_id, unnest(sh) AS shingle, len(sh) AS sz FROM s),
         jp AS (
           SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter,
                  any_value(a.sz) AS sz_a, any_value(b.sz) AS sz_b
           FROM e a JOIN e b
             ON a.shingle = b.shingle AND a.doc_id < b.doc_id
           GROUP BY a.doc_id, b.doc_id
           HAVING count(*) / (any_value(a.sz) + any_value(b.sz)
                              - count(*)) >= 0.5),
         sym AS (SELECT id_a AS u, id_b AS v FROM jp
                 UNION SELECT id_b, id_a FROM jp),
         reach(node, r) AS (
           SELECT u, u FROM sym
           UNION
           SELECT reach.node, sym.v FROM reach JOIN sym ON sym.u = reach.r),
         comp AS (SELECT node, MIN(r) AS c FROM reach GROUP BY node),
         lab AS (SELECT doc.doc_id,
                        COALESCE(cp.c, doc.doc_id) AS cluster_id
                 FROM documents doc
                 LEFT JOIN comp cp ON cp.node = doc.doc_id)
    SELECT doc_id, cluster_id,
           CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT)
               AS cluster_size,
           CAST(CASE WHEN row_number() OVER (PARTITION BY cluster_id
                          ORDER BY doc_id) = 1
                THEN 1 ELSE 0 END AS INT) AS keeper
    FROM lab
"""

_JACCARD_SQL = """
    WITH d AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         s AS (SELECT doc_id, list_distinct(
                 [t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]
                  for i in range(len(t) - 2)]) AS sh
               FROM d WHERE len(t) >= 3),
         e AS (SELECT doc_id, unnest(sh) AS shingle, len(sh) AS sz FROM s),
         pairs AS (
           SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter,
                  any_value(a.sz) AS sz_a, any_value(b.sz) AS sz_b
           FROM e a JOIN e b
             ON a.shingle = b.shingle AND a.doc_id < b.doc_id
           GROUP BY a.doc_id, b.doc_id)
    SELECT id_a, id_b, round(inter / (sz_a + sz_b - inter), 9) AS jaccard
    FROM pairs WHERE inter / (sz_a + sz_b - inter) >= 0.5
"""

# Liang-Barsky clip interval over (ax,ay,bx,by,xmin,ymin,xmax,ymax) —
# bit-identical to operators/predicates._clip_interval (same q/p
# divisions folded with greatest/least in the same order).
_LB_T0 = """greatest(0.0,
    CASE WHEN -(bx-ax) < 0 THEN (ax-xmin)/(-(bx-ax)) ELSE 0.0 END,
    CASE WHEN (bx-ax) < 0 THEN (xmax-ax)/(bx-ax) ELSE 0.0 END,
    CASE WHEN -(by-ay) < 0 THEN (ay-ymin)/(-(by-ay)) ELSE 0.0 END,
    CASE WHEN (by-ay) < 0 THEN (ymax-ay)/(by-ay) ELSE 0.0 END)"""
_LB_T1 = """least(1.0,
    CASE WHEN -(bx-ax) > 0 THEN (ax-xmin)/(-(bx-ax)) ELSE 1.0 END,
    CASE WHEN (bx-ax) > 0 THEN (xmax-ax)/(bx-ax) ELSE 1.0 END,
    CASE WHEN -(by-ay) > 0 THEN (ay-ymin)/(-(by-ay)) ELSE 1.0 END,
    CASE WHEN (by-ay) > 0 THEN (ymax-ay)/(by-ay) ELSE 1.0 END)"""
_LB_OUT = """(((bx-ax) = 0 AND ((ax-xmin) < 0 OR (xmax-ax) < 0))
    OR ((by-ay) = 0 AND ((ay-ymin) < 0 OR (ymax-ay) < 0)))"""
# mm-rounded clipped endpoints of the [t0, t1] piece (t=0/1 keep the
# original coordinate bit-identically, matching predicates._piece_coords)
_LB_PIECE_MM = """
    CAST(round((CASE WHEN t0 = 0.0 THEN ax
                ELSE ax + t0*(bx-ax) END) * 1000) AS BIGINT) AS ax_mm,
    CAST(round((CASE WHEN t0 = 0.0 THEN ay
                ELSE ay + t0*(by-ay) END) * 1000) AS BIGINT) AS ay_mm,
    CAST(round((CASE WHEN t1 = 1.0 THEN bx
                ELSE ax + t1*(bx-ax) END) * 1000) AS BIGINT) AS bx_mm,
    CAST(round((CASE WHEN t1 = 1.0 THEN by
                ELSE ay + t1*(by-ay) END) * 1000) AS BIGINT) AS by_mm"""


def _hull_oracle_sql(pages_geo: str, blocks: str) -> str:
    """Exact SQL convex hull (G9) — independent of the monotone-chain
    kernel. Three stages, all set algebra:

    1. prune: a point strictly inside the octagon of the 8 directional
       extremes (E NE N NW W SW S SE) cannot be a hull vertex (the
       octagon is inscribed in the hull). ~100k pts -> ~30k shell pts.
    2. pair filter: every point of a hull EDGE lies on the hull
       boundary, hence never strictly inside that octagon — so a
       candidate pair whose 1/4, 1/2, or 3/4 point falls strictly
       inside is discarded cheaply (epsilon 1e-6 m^2 absorbs fp noise
       for edges coincident with octagon edges; real interior
       clearances are macroscopic). ~450M pairs -> ~28k.
    3. exact test: (a,b) is a hull edge iff every other shell point is
       strictly on one side (sound vs pruned points: they are inside
       the octagon, which is inside the hull of the shell). n_hull =
       #edges; shoelace over edges directed interior-left.

    Degenerate octagon edges (repeated extremes) are skipped by the
    zero-length guard; blocks with <3 distinct points short-circuit to
    (count, 0.0) like the kernel."""
    dirs = [("e", "x"), ("ne", "x+y"), ("n", "y"), ("nw", "y-x"),
            ("w", "-x"), ("sw", "-x-y"), ("s", "-y"), ("se", "x-y")]
    aggs = ", ".join(
        f"arg_max(x, {expr}) AS {n}_x, arg_max(y, {expr}) AS {n}_y"
        for n, expr in dirs)

    def inside(px, py):
        conds = []
        names = [n for n, _ in dirs]
        for j, a in enumerate(names):
            b = names[(j + 1) % 8]
            conds.append(
                f"(({b}_x = {a}_x AND {b}_y = {a}_y) OR "
                f"({b}_x-{a}_x)*(({py})-{a}_y)"
                f" - ({b}_y-{a}_y)*(({px})-{a}_x) > 1e-6)")
        return "(" + " AND ".join(conds) + ")"

    return f"""
        WITH pip AS (
          SELECT b.block_id, p.x, p.y
          FROM {pages_geo} p JOIN {blocks} b
            ON p.x >= b.xmin AND p.x < b.xmax
           AND p.y >= b.ymin AND p.y < b.ymax
        ),
        pts AS (SELECT DISTINCT block_id, x, y FROM pip),
        cnts AS (SELECT block_id, count(*) AS n FROM pts GROUP BY block_id),
        ext AS (SELECT block_id, {aggs} FROM pts GROUP BY block_id),
        cand AS (
          SELECT p.block_id, p.x, p.y
          FROM pts p JOIN ext USING (block_id)
          WHERE NOT {inside('p.x', 'p.y')}
        ),
        pairs AS (
          SELECT a.block_id, a.x AS ax, a.y AS ay, b.x AS bx, b.y AS by
          FROM cand a
          JOIN cand b ON a.block_id = b.block_id
                     AND (a.x < b.x OR (a.x = b.x AND a.y < b.y))
          JOIN ext e ON e.block_id = a.block_id
          WHERE NOT {inside('0.5*(a.x+b.x)', '0.5*(a.y+b.y)')}
            AND NOT {inside('0.25*a.x+0.75*b.x', '0.25*a.y+0.75*b.y')}
            AND NOT {inside('0.75*a.x+0.25*b.x', '0.75*a.y+0.25*b.y')}
        ),
        edges AS (
          SELECT p.block_id, p.ax, p.ay, p.bx, p.by,
                 min((p.bx-p.ax)*(c.y-p.ay) - (p.by-p.ay)*(c.x-p.ax)) AS mn
          FROM pairs p
          JOIN cand c ON c.block_id = p.block_id
                     AND NOT (c.x = p.ax AND c.y = p.ay)
                     AND NOT (c.x = p.bx AND c.y = p.by)
          GROUP BY 1, 2, 3, 4, 5
          HAVING min((p.bx-p.ax)*(c.y-p.ay) - (p.by-p.ay)*(c.x-p.ax)) > 0
              OR max((p.bx-p.ax)*(c.y-p.ay) - (p.by-p.ay)*(c.x-p.ax)) < 0
        ),
        hulls AS (
          SELECT block_id,
                 CAST(count(*) AS INTEGER) AS n_hull,
                 round(0.5 * abs(sum(CASE WHEN mn > 0
                                          THEN ax*by - ay*bx
                                          ELSE bx*ay - by*ax END)), 3)
                   AS hull_area
          FROM edges GROUP BY block_id
        )
        SELECT h.block_id, h.n_hull, h.hull_area FROM hulls h
        UNION ALL
        SELECT c.block_id, CAST(c.n AS INTEGER) AS n_hull,
               0.0 AS hull_area
        FROM cnts c WHERE c.n < 3
    """


def _simhash_md5_oracle_sql() -> str:
    """Exact SQL mirror of simhash64_portable (textops.py): md5-half
    token hashes, per-bit +/-1 votes, >0 threshold, disjoint-bit sums."""
    sums = ", ".join(
        f"sum(CASE WHEN (h{half} >> {i}) & 1 = 1 THEN 1 ELSE -1 END)"
        f" AS {half}{i}"
        for i in range(32) for half in ("hi", "lo"))
    words = {
        half: " + ".join(
            f"(CASE WHEN {half}{i} > 0 THEN {1 << i} ELSE 0 END)"
            for i in range(32))
        for half in ("hi", "lo")}
    return f"""
        WITH t AS (
          SELECT doc_id,
                 ('0x' || substring(md5(tok), 1, 8))::BIGINT AS hhi,
                 ('0x' || substring(md5(tok), 9, 8))::BIGINT AS hlo
          FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
                FROM documents WHERE doc_id % 10 = 0)
        ),
        v AS (SELECT doc_id, {sums} FROM t GROUP BY doc_id)
        SELECT doc_id, CAST({words['hi']} AS BIGINT) AS sim_hi,
               CAST({words['lo']} AS BIGINT) AS sim_lo
        FROM v
    """


def oracle_sql() -> dict[str, str]:
    streets = f"read_parquet('{SP}/streets.parquet')"
    blocks = f"read_parquet('{SP}/blocks.parquet')"
    dem = f"read_parquet('{SP}/dem.parquet')"
    pages = f"read_parquet('{SP}/pages.parquet')"
    pages_geo = f"read_parquet('{SP}/pages_geo.parquet/*.parquet')"
    swsegs = f"read_parquet('{SP}/sidewalk_segments.parquet/*.parquet')"
    kerbs = f"read_parquet('{SP}/kerbs_xy.parquet/*.parquet')"
    aoi = f"read_parquet('{SP}/aoi.parquet')"
    wc = _widths_case()
    stop_list = ", ".join(f"'{s}'" for s in TX.STOPWORDS)

    # argmax with ties -> lexicographically smallest lang, default 'en'
    score_exprs = {
        lg: ("len(list_filter(string_split(text,' '), t -> t IN ("
             + ", ".join(f"'{m}'" for m in mk) + ")))")
        for lg, mk in TX.LANG_MARKERS.items()}
    best = "greatest(" + ", ".join(f"s_{lg}" for lg in TX.LANG_MARKERS) + ")"
    pred = "'en'"
    for lg in sorted(TX.LANG_MARKERS, reverse=True):
        pred = f"CASE WHEN s_{lg} = {best} AND {best} > 0 THEN '{lg}' ELSE {pred} END"

    return {
        "q_assign_widths": f"""
            SELECT osm_id,
                   CASE WHEN TRY_CAST(width AS DOUBLE) > 0
                        THEN TRY_CAST(width AS DOUBLE) ELSE {wc} END
                     AS width_m
            FROM {streets}
            WHERE CASE WHEN TRY_CAST(width AS DOUBLE) > 0
                       THEN TRY_CAST(width AS DOUBLE) ELSE {wc} END >= 0.5
        """,
        "q_street_lengths": f"""
            SELECT highway, count(*) AS n_ways,
                   CAST(sum(CAST(round(sqrt((x2-x1)*(x2-x1)+(y2-y1)*(y2-y1))*1000)
                       AS BIGINT)) AS BIGINT) AS total_len_mm
            FROM {streets} WHERE n_vertices = 2
            GROUP BY highway
        """,
        "q_temperature_mix": """
            WITH c AS (SELECT lang AS g, CAST(count(*) AS DOUBLE) AS n
                       FROM documents GROUP BY lang),
            z AS (SELECT sum(n ** (1.0/3.0)) AS z FROM c),
            fr AS (SELECT g, round(least(1.0,
                            200 * (n ** (1.0/3.0)) / z.z / n), 9) AS frac
                   FROM c, z)
            SELECT d.doc_id, d.lang
            FROM documents d JOIN fr ON fr.g = d.lang
            WHERE CAST('0x' || substr(md5('temp-v1:' ||
                    CAST(d.doc_id AS VARCHAR)), 1, 12) AS UBIGINT)
                  / CAST(16 ** 12 AS DOUBLE) < fr.frac
        """,
        "q_endpoint_degree": f"""
            WITH eps AS (
              SELECT round(x1, 3) + 0.0 AS nx, round(y1, 3) + 0.0 AS ny
              FROM {streets} WHERE n_vertices = 2
              UNION ALL
              SELECT round(x2, 3) + 0.0, round(y2, 3) + 0.0
              FROM {streets} WHERE n_vertices = 2)
            SELECT nx, ny, count(*) AS degree FROM eps
            GROUP BY nx, ny HAVING count(*) >= 3
        """,
        "q_pip_pages_blocks": f"""
            SELECT p.url, b.block_id
            FROM {pages_geo} p JOIN {blocks} b
              ON p.x >= b.xmin AND p.x < b.xmax
             AND p.y >= b.ymin AND p.y < b.ymax
        """,
        "q_lm_nll": LM.bigram_nll_oracle_sql(),
        "q_knn_pages_sidewalks": f"""
            WITH p AS (SELECT url, x, y FROM {pages_geo}
                       WHERE url LIKE '%00'),
                 d AS (SELECT p.url, s.seg_id,
                              {_pseg_dist('p.x', 'p.y')} AS dist
                       FROM p CROSS JOIN {swsegs} s)
            SELECT url, seg_id, round(dist, 6) + 0.0 AS dist_m
            FROM d WHERE dist <= {P.KNN_MAX_DIST}
            QUALIFY row_number() OVER (
                PARTITION BY url ORDER BY dist, seg_id) = 1
        """,
        "q_dem_kerb_slope": f"""
            WITH k AS (SELECT fid,
                              CAST(floor(x / 10.0) AS INT) AS cx,
                              CAST(floor(y / 10.0) AS INT) AS cy
                       FROM {kerbs})
            SELECT k.fid,
                   round(100 * sqrt(pow((e.elev_m - w.elev_m) / 20.0, 2)
                                  + pow((n.elev_m - s.elev_m) / 20.0, 2)), 4)
                     + 0.0 AS slope_pct
            FROM k
            JOIN {dem} e ON e.cell_x = k.cx + 1 AND e.cell_y = k.cy
            JOIN {dem} w ON w.cell_x = k.cx - 1 AND w.cell_y = k.cy
            JOIN {dem} n ON n.cell_x = k.cx AND n.cell_y = k.cy + 1
            JOIN {dem} s ON s.cell_x = k.cx AND s.cell_y = k.cy - 1
        """,
        "q_dedup_geometries": f"""
            SELECT min(osm_id) AS keeper_id, count(*) AS n_dups
            FROM {streets} GROUP BY geometry
        """,
        "q_text_invariant": f"""
            SELECT url, md5(text) AS text_md5 FROM {pages}
        """,
        "q_voronoi_split": f"""
            WITH st AS (SELECT DISTINCT x1, y1, x2, y2 FROM {streets}
                        WHERE n_vertices = 2 AND (x1 = x2 OR y1 = y2)),
            vxs AS (SELECT x, lead(x) OVER (ORDER BY x) AS xn
                    FROM (SELECT DISTINCT x1 AS x FROM st
                          WHERE x1 = x2)),
            hys AS (SELECT y, lead(y) OVER (ORDER BY y) AS yn
                    FROM (SELECT DISTINCT y1 AS y FROM st
                          WHERE y1 = y2)),
            cells AS (SELECT x AS x0, xn AS xx1, y AS y0, yn AS yy1,
                             (x + xn) / 2 AS xm, (y + yn) / 2 AS ym
                      FROM vxs, hys
                      WHERE xn IS NOT NULL AND yn IS NOT NULL),
            p AS (SELECT *, unnest(range(4)) AS i FROM cells)
            SELECT CAST(round(x0 * 1000) AS BIGINT) AS xmin_mm,
                   CAST(round(y0 * 1000) AS BIGINT) AS ymin_mm,
                   CAST(i AS INT) AS piece_idx,
                   CAST(round(CASE WHEN i IN (0, 1) THEN x0
                                   ELSE xm END * 1000) AS BIGINT)
                     AS sx_mm,
                   CAST(round(CASE WHEN i IN (0, 1) THEN ym
                                   WHEN i = 2 THEN y0
                                   ELSE yy1 END * 1000) AS BIGINT)
                     AS sy_mm,
                   CAST(round(CASE WHEN i IN (0, 1) THEN x0
                                   ELSE xx1 END * 1000) AS BIGINT)
                     AS mx_mm,
                   CAST(round(CASE WHEN i IN (0, 2) THEN y0
                                   ELSE yy1 END * 1000) AS BIGINT)
                     AS my_mm,
                   CAST(round(CASE WHEN i IN (0, 1) THEN xm
                                   ELSE xx1 END * 1000) AS BIGINT)
                     AS ex_mm,
                   CAST(round(CASE WHEN i = 0 THEN y0
                                   WHEN i = 1 THEN yy1
                                   ELSE ym END * 1000) AS BIGINT)
                     AS ey_mm,
                   CAST(round((xx1 - x0 + yy1 - y0) / 2 * 1000)
                        AS BIGINT) AS len_mm
            FROM p
        """,
        "q_tags_flatten": f"""
            SELECT osm_id,
                   coalesce(tags['footway'][1], '') AS footway_tag
            FROM {streets}
        """,
        "q_events_streaming": """
            SELECT event_type,
                   CAST(epoch(date_trunc('minute', ts)) AS BIGINT)
                     AS minute_epoch,
                   count(*) AS n,
                   CAST(sum(CAST(round(value * 1000) AS BIGINT)) AS BIGINT) AS value_milli
            FROM events GROUP BY 1, 2
        """,
        "q_exact_dedup_docs": """
            SELECT min(doc_id) AS keeper_id, count(*) AS dup_count
            FROM documents GROUP BY text
        """,
        "q_jaccard_pairs": _JACCARD_SQL,
        "q_minhash_pairs": _JACCARD_SQL,
        
        "q_simhash_md5": _simhash_md5_oracle_sql(),
        "q_polygonize_lattice": f"""
            WITH st AS (
              SELECT DISTINCT x1, y1, x2, y2 FROM {streets}
              WHERE n_vertices = 2 AND (x1 = x2 OR y1 = y2)
            ),
            vxs AS (
              SELECT x, lead(x) OVER (ORDER BY x) AS xn
              FROM (SELECT DISTINCT x1 AS x FROM st WHERE x1 = x2)
            ),
            hys AS (
              SELECT y, lead(y) OVER (ORDER BY y) AS yn
              FROM (SELECT DISTINCT y1 AS y FROM st WHERE y1 = y2)
            )
            SELECT CAST(round(x * 1000) AS BIGINT) AS xmin_mm,
                   CAST(round(y * 1000) AS BIGINT) AS ymin_mm,
                   CAST(round(xn * 1000) AS BIGINT) AS xmax_mm,
                   CAST(round(yn * 1000) AS BIGINT) AS ymax_mm,
                   CAST(round((xn - x) * (yn - y) * 10000) AS BIGINT)
                     AS area_cm2
            FROM vxs, hys
            WHERE xn IS NOT NULL AND yn IS NOT NULL
        """,
        "q_token_stats": """
            SELECT doc_id,
                   len(string_split(text, ' ')) AS n_tokens,
                   length(text) AS n_chars_engine,
                   greatest(len(string_split(text, ' ')),
                            CAST(ceil(length(text) / 4.0) AS INT))
                     AS n_bpe_est
            FROM documents
        """,
        "q_quality": f"""
            WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks,
                              length(text) AS nc
                       FROM documents)
            SELECT doc_id, len(toks) AS n_tokens,
                   round(len(list_filter(toks, w -> w IN ({stop_list})))
                         * 1.0 / len(toks), 6) AS stopword_ratio,
                   round(0.4 * least(1.0, len(toks) / 64.0)
                       + 0.3 * (1 - len(list_filter(toks,
                             w -> w IN ({stop_list}))) * 1.0 / len(toks))
                       + 0.3 * least(1.0,
                             ((nc - (len(toks) - 1)) * 1.0 / len(toks)) / 8.0),
                     6) AS quality
            FROM t
        """,
        "q_langid": f"""
            WITH s AS (SELECT doc_id,
                   {', '.join(f"{expr} AS s_{lg}" for lg, expr in score_exprs.items())}
                   FROM documents)
            SELECT doc_id, {pred} AS lang_pred FROM s
        """,
        "q_fingerprint": """
            SELECT doc_id, md5(lower(text)) AS fingerprint FROM documents
        """,
        "q_cosine_topk": """
            WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                       FROM embeddings),
                 q AS (SELECT vec_id AS query_id, v AS qv FROM e
                       WHERE vec_id % 50 = 0),
                 j AS (SELECT q.query_id, e.vec_id AS neighbor_id,
                              round(list_dot_product(q.qv, e.v)
                                / (sqrt(list_dot_product(q.qv, q.qv))
                                 * sqrt(list_dot_product(e.v, e.v))), 9)
                              AS cosine
                       FROM q CROSS JOIN e
                       WHERE e.vec_id <> q.query_id)
            SELECT query_id, neighbor_id, cosine,
                   CAST(row_number() OVER (PARTITION BY query_id
                        ORDER BY cosine DESC, neighbor_id) AS INT) AS rank
            FROM j
            QUALIFY rank <= 5
        """,
        "q_lineitem_pricing": """
            SELECT l_returnflag, l_linestatus, count(*) AS count_order,
                   CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT) AS sum_qty_c,
                   CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
                     AS sum_base_c,
                   CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
                       AS BIGINT)) AS BIGINT) AS sum_disc_c
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
            GROUP BY l_returnflag, l_linestatus
        """,
        "q_clip_aoi_geometry": f"""
            WITH r AS (SELECT xmin + 230.0 AS xmin, ymin + 230.0 AS ymin,
                              xmax - 230.0 AS xmax, ymax - 230.0 AS ymax
                       FROM {aoi}),
                 s AS (SELECT osm_id, x1 AS ax, y1 AS ay,
                              x2 AS bx, y2 AS by
                       FROM {streets} WHERE n_vertices = 2),
                 j AS (SELECT s.*, r.* FROM s CROSS JOIN r),
                 t AS (SELECT *,
                   greatest(0.0,
                     CASE WHEN -(bx-ax) < 0
                          THEN (ax-xmin)/(-(bx-ax)) ELSE 0.0 END,
                     CASE WHEN (bx-ax) < 0
                          THEN (xmax-ax)/(bx-ax) ELSE 0.0 END,
                     CASE WHEN -(by-ay) < 0
                          THEN (ay-ymin)/(-(by-ay)) ELSE 0.0 END,
                     CASE WHEN (by-ay) < 0
                          THEN (ymax-ay)/(by-ay) ELSE 0.0 END) AS t0,
                   least(1.0,
                     CASE WHEN -(bx-ax) > 0
                          THEN (ax-xmin)/(-(bx-ax)) ELSE 1.0 END,
                     CASE WHEN (bx-ax) > 0
                          THEN (xmax-ax)/(bx-ax) ELSE 1.0 END,
                     CASE WHEN -(by-ay) > 0
                          THEN (ay-ymin)/(-(by-ay)) ELSE 1.0 END,
                     CASE WHEN (by-ay) > 0
                          THEN (ymax-ay)/(by-ay) ELSE 1.0 END) AS t1,
                   (((bx-ax) = 0 AND ((ax-xmin) < 0 OR (xmax-ax) < 0))
                    OR ((by-ay) = 0
                        AND ((ay-ymin) < 0 OR (ymax-ay) < 0))) AS outside
                   FROM j)
            SELECT osm_id,
                   CAST(round((CASE WHEN t0 = 0.0 THEN ax
                               ELSE ax + t0*(bx-ax) END) * 1000) AS BIGINT)
                     AS ax_mm,
                   CAST(round((CASE WHEN t0 = 0.0 THEN ay
                               ELSE ay + t0*(by-ay) END) * 1000) AS BIGINT)
                     AS ay_mm,
                   CAST(round((CASE WHEN t1 = 1.0 THEN bx
                               ELSE ax + t1*(bx-ax) END) * 1000) AS BIGINT)
                     AS bx_mm,
                   CAST(round((CASE WHEN t1 = 1.0 THEN by
                               ELSE ay + t1*(by-ay) END) * 1000) AS BIGINT)
                     AS by_mm
            FROM t WHERE NOT outside AND t0 < t1
        """,
        "q_overlay_intersection": f"""
            WITH s AS (SELECT osm_id, x1 AS ax, y1 AS ay, x2 AS bx,
                              y2 AS by
                       FROM {streets} WHERE n_vertices = 2),
                 j AS (SELECT s.*, r.block_id, r.xmin, r.ymin, r.xmax,
                              r.ymax
                       FROM s CROSS JOIN {blocks} r),
                 t AS (SELECT *, {_LB_T0} AS t0, {_LB_T1} AS t1,
                              {_LB_OUT} AS outside
                       FROM j)
            SELECT osm_id, block_id, {_LB_PIECE_MM}
            FROM t WHERE NOT outside AND t0 < t1
        """,
        "q_overlay_difference": f"""
            WITH r AS (SELECT block_id, xmin - 7.0 AS xmin,
                              ymin - 7.0 AS ymin, xmax + 7.0 AS xmax,
                              ymax + 7.0 AS ymax FROM {blocks}
                       WHERE block_id % 3 = 0),
                 s AS (SELECT osm_id, x1 AS ax, y1 AS ay, x2 AS bx,
                              y2 AS by
                       FROM {streets} WHERE n_vertices = 2),
                 j AS (SELECT s.*, r.* FROM s CROSS JOIN r),
                 t AS (SELECT *, {_LB_T0} AS t0, {_LB_T1} AS t1,
                              {_LB_OUT} AS outside
                       FROM j),
                 c AS (SELECT osm_id, ax, ay, bx, by, t0, t1
                       FROM t WHERE NOT outside AND t0 < t1),
                 g AS (SELECT *, CASE WHEN t0 > coalesce(
                         max(t1) OVER (PARTITION BY osm_id
                           ORDER BY t0, t1
                           ROWS BETWEEN UNBOUNDED PRECEDING
                           AND 1 PRECEDING), -1.0)
                         THEN 1 ELSE 0 END AS new_isl
                       FROM c),
                 i AS (SELECT *, sum(new_isl) OVER (PARTITION BY osm_id
                         ORDER BY t0, t1
                         ROWS UNBOUNDED PRECEDING) AS isl
                       FROM g),
                 m AS (SELECT osm_id, isl, any_value(ax) AS ax,
                              any_value(ay) AS ay, any_value(bx) AS bx,
                              any_value(by) AS by,
                              min(t0) AS mt0, max(t1) AS mt1
                       FROM i GROUP BY osm_id, isl),
                 gaps AS (
                   SELECT osm_id, ax, ay, bx, by,
                          coalesce(lag(mt1) OVER (PARTITION BY osm_id
                            ORDER BY mt0), 0.0) AS t0,
                          mt0 AS t1
                   FROM m
                   UNION ALL
                   SELECT osm_id, any_value(ax), any_value(ay),
                          any_value(bx), any_value(by),
                          max(mt1) AS t0, 1.0 AS t1
                   FROM m GROUP BY osm_id
                   UNION ALL
                   SELECT osm_id, x1, y1, x2, y2, 0.0, 1.0
                   FROM {streets} st
                   WHERE n_vertices = 2 AND NOT EXISTS
                     (SELECT 1 FROM c WHERE c.osm_id = st.osm_id))
            SELECT osm_id, {_LB_PIECE_MM}
            FROM gaps WHERE t0 < t1
        """,
        "q_alt_kerb_schema": f"""
            WITH cs AS (SELECT * FROM read_parquet(
                   '{SP}/crossing_segments.parquet/*.parquet')),
                 stub1 AS (SELECT fid AS crossing_fid,
                     'sidewalk_stub_1' AS part, 'footway' AS highway,
                     'sidewalk' AS footway, CAST(NULL AS VARCHAR) AS barrier,
                     CAST(round(sqrt(pow(bx - ax, 2) + pow(by - ay, 2))
                          * 1000) AS BIGINT) AS len_mm
                   FROM cs WHERE seg_idx = 0),
                 stub2 AS (SELECT fid, 'sidewalk_stub_2', 'footway',
                     'sidewalk', CAST(NULL AS VARCHAR),
                     CAST(round(sqrt(pow(bx - ax, 2) + pow(by - ay, 2))
                          * 1000) AS BIGINT)
                   FROM cs WHERE seg_idx = 3),
                 ctr AS (SELECT a.fid, 'crossing_center', 'footway',
                     'crossing', CAST(NULL AS VARCHAR),
                     CAST(round((sqrt(pow(a.bx - a.ax, 2)
                                    + pow(a.by - a.ay, 2))
                               + sqrt(pow(b.bx - b.ax, 2)
                                    + pow(b.by - b.ay, 2))) * 1000)
                          AS BIGINT)
                   FROM cs a JOIN cs b ON a.fid = b.fid
                   WHERE a.seg_idx = 1 AND b.seg_idx = 2),
                 k1 AS (SELECT fid, 'kerb_1', CAST(NULL AS VARCHAR),
                     CAST(NULL AS VARCHAR), 'kerb', CAST(NULL AS BIGINT)
                   FROM cs WHERE seg_idx = 1),
                 k2 AS (SELECT fid, 'kerb_2', CAST(NULL AS VARCHAR),
                     CAST(NULL AS VARCHAR), 'kerb', CAST(NULL AS BIGINT)
                   FROM cs WHERE seg_idx = 2)
            SELECT * FROM stub1 UNION ALL SELECT * FROM stub2
            UNION ALL SELECT * FROM ctr
            UNION ALL SELECT * FROM k1 UNION ALL SELECT * FROM k2
        """,
        "q_extract_by_location": f"""
            WITH s AS (SELECT osm_id, x1 AS ax, y1 AS ay,
                              x2 AS bx, y2 AS by,
                              least(x1, x2) AS sxmin,
                              greatest(x1, x2) AS sxmax,
                              least(y1, y2) AS symin,
                              greatest(y1, y2) AS symax
                       FROM {streets} WHERE n_vertices = 2),
                 -- bbox precomputed as columns: greatest()/least() inside
                 -- the join condition trips a DuckDB 1.0 IEJoin internal
                 -- assertion ("requires a flat vector")
                 j AS (SELECT s.*, b.block_id, b.xmin, b.ymin,
                              b.xmax, b.ymax
                       FROM s JOIN {blocks} b
                         ON s.sxmax >= b.xmin AND s.sxmin <= b.xmax
                        AND s.symax >= b.ymin AND s.symin <= b.ymax),
                 t AS (SELECT *,
                   greatest(0.0,
                     CASE WHEN -(bx-ax) < 0
                          THEN (ax-xmin)/(-(bx-ax)) ELSE 0.0 END,
                     CASE WHEN (bx-ax) < 0
                          THEN (xmax-ax)/(bx-ax) ELSE 0.0 END,
                     CASE WHEN -(by-ay) < 0
                          THEN (ay-ymin)/(-(by-ay)) ELSE 0.0 END,
                     CASE WHEN (by-ay) < 0
                          THEN (ymax-ay)/(by-ay) ELSE 0.0 END) AS t0,
                   least(1.0,
                     CASE WHEN -(bx-ax) > 0
                          THEN (ax-xmin)/(-(bx-ax)) ELSE 1.0 END,
                     CASE WHEN (bx-ax) > 0
                          THEN (xmax-ax)/(bx-ax) ELSE 1.0 END,
                     CASE WHEN -(by-ay) > 0
                          THEN (ay-ymin)/(-(by-ay)) ELSE 1.0 END,
                     CASE WHEN (by-ay) > 0
                          THEN (ymax-ay)/(by-ay) ELSE 1.0 END) AS t1,
                   (((bx-ax) = 0 AND ((ax-xmin) < 0 OR (xmax-ax) < 0))
                    OR ((by-ay) = 0 AND ((ay-ymin) < 0 OR (ymax-ay) < 0)))
                     AS outside
                   FROM j),
                 f AS (SELECT *,
                   (NOT outside AND t0 <= t1) AS inter,
                   ax + ((t0+t1)/2)*(bx-ax) AS mx,
                   ay + ((t0+t1)/2)*(by-ay) AS my
                   FROM t),
                 g AS (SELECT *,
                   (inter AND mx > xmin AND mx < xmax
                          AND my > ymin AND my < ymax) AS int_int,
                   (t0 > 0 OR t1 < 1) AS has_ext
                   FROM f)
            SELECT osm_id, block_id,
                   (int_int AND NOT has_ext) AS "within",
                   (int_int AND has_ext) AS crosses,
                   (inter AND NOT int_int) AS touches
            FROM g WHERE inter
        """,
        "q_stream_dedup": """
            SELECT event_id,
                   CAST(floor(epoch(ts)) AS BIGINT) AS ts_s,
                   user_id, event_type,
                   CAST(round(value * 1000) AS BIGINT) AS value_milli
            FROM events
        """,
        "q_sessionize": """
            WITH o AS (SELECT user_id, event_id, ts, value,
                              lag(ts) OVER (PARTITION BY user_id
                                            ORDER BY ts, event_id) AS pts
                       FROM events),
                 i AS (SELECT *, CASE WHEN pts IS NULL
                              OR ts >= pts + INTERVAL 12 HOUR
                              THEN 1 ELSE 0 END AS ni
                       FROM o),
                 s AS (SELECT *, sum(ni) OVER (PARTITION BY user_id
                              ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING) AS sid
                       FROM i)
            SELECT user_id,
                   CAST(floor(epoch(min(ts))) AS BIGINT) AS start_s,
                   CAST(floor(epoch(max(ts) + INTERVAL 12 HOUR))
                        AS BIGINT) AS end_s,
                   count(*) AS n_events,
                   CAST(sum(CAST(round(value * 1000) AS BIGINT))
                        AS BIGINT) AS value_milli
            FROM s GROUP BY user_id, sid
        """,
        "q_embedding_dedup": """
            WITH e AS (SELECT vec_id, label,
                              CAST(embedding AS DOUBLE[]) AS v
                       FROM embeddings)
            SELECT a.vec_id, a.label
            FROM e a
            WHERE NOT EXISTS (
              SELECT 1 FROM e b
              WHERE b.vec_id < a.vec_id
                AND round(list_dot_product(b.v, a.v)
                      / (sqrt(list_dot_product(b.v, b.v))
                       * sqrt(list_dot_product(a.v, a.v))), 9) >= 0.35)
        """,
        "q_junction_angles": f"""
            WITH s AS (SELECT osm_id, x1, y1, x2, y2 FROM {streets}
                       WHERE n_vertices = 2),
                 eps AS (SELECT osm_id, x1 AS px, y1 AS py,
                                x2 AS ox, y2 AS oy FROM s
                         UNION ALL
                         SELECT osm_id, x2, y2, x1, y1 FROM s)
            SELECT a.osm_id AS id_a, b.osm_id AS id_b,
                   CAST(round(a.px * 1000) AS BIGINT) AS px_mm,
                   CAST(round(a.py * 1000) AS BIGINT) AS py_mm,
                   round(degrees(atan2(
                     -- +0.0 normalizes DuckDB's abs(-0.0) = -0.0,
                     -- which would flip atan2 to -pi
                     abs((a.ox - a.px) * (b.oy - b.py)
                         - (a.oy - a.py) * (b.ox - b.px)) + 0.0,
                     (a.ox - a.px) * (b.ox - b.px)
                       + (a.oy - a.py) * (b.oy - b.py))), 4)
                     AS angle_deg
            FROM eps a JOIN eps b
              ON a.px = b.px AND a.py = b.py AND a.osm_id < b.osm_id
        """,
        "q_interpolate": f"""
            SELECT osm_id,
                   CAST(round((x1 + 0.37 * (x2 - x1)) * 1000) AS BIGINT)
                     AS px_mm,
                   CAST(round((y1 + 0.37 * (y2 - y1)) * 1000) AS BIGINT)
                     AS py_mm
            FROM {streets} WHERE n_vertices = 2
        """,
        "q_major_width_diff": f"""
            WITH w AS (SELECT osm_id, x1, y1, x2, y2,
                         CASE WHEN TRY_CAST(width AS DOUBLE) > 0
                              THEN TRY_CAST(width AS DOUBLE)
                              ELSE {wc} END AS width_m
                       FROM {streets}
                       WHERE n_vertices = 2
                         AND CASE WHEN TRY_CAST(width AS DOUBLE) > 0
                                  THEN TRY_CAST(width AS DOUBLE)
                                  ELSE {wc} END >= 0.5),
                 eps AS (SELECT osm_id, width_m, x1 AS px, y1 AS py
                         FROM w
                         UNION ALL
                         SELECT osm_id, width_m, x2, y2 FROM w),
                 mx AS (SELECT a.osm_id, a.px, a.py,
                               max(b.width_m - a.width_m) AS m
                        FROM eps a JOIN eps b
                          ON a.px = b.px AND a.py = b.py
                         AND a.osm_id <> b.osm_id
                         AND abs(b.width_m - a.width_m) > 0.5
                        GROUP BY a.osm_id, a.px, a.py)
            SELECT eps.osm_id,
                   CAST(round(eps.px * 1000) AS BIGINT) AS px_mm,
                   CAST(round(eps.py * 1000) AS BIGINT) AS py_mm,
                   CAST(round((eps.width_m + coalesce(mx.m, 0.0))
                        * 1000) AS BIGINT) AS major_w_mm
            FROM eps LEFT JOIN mx
              ON eps.osm_id = mx.osm_id AND eps.px = mx.px
             AND eps.py = mx.py
        """,
        "q_ring_bbox": f"""
            WITH w AS (SELECT osm_id, x1, y1, x2, y2,
                         CASE WHEN TRY_CAST(width AS DOUBLE) > 0
                              THEN TRY_CAST(width AS DOUBLE)
                              ELSE {wc} END AS width_m
                       FROM {streets}
                       WHERE n_vertices = 2 AND (x1 = x2 OR y1 = y2)
                         AND CASE WHEN TRY_CAST(width AS DOUBLE) > 0
                              THEN TRY_CAST(width AS DOUBLE)
                              ELSE {wc} END >= 0.5),
                 d AS (SELECT x1, y1, x2, y2, max(width_m) AS wd
                       FROM w GROUP BY x1, y1, x2, y2),
                 hz AS (SELECT * FROM d WHERE y1 = y2),
                 vt AS (SELECT * FROM d WHERE x1 = x2)
            SELECT
              CAST(round((l.x1 + l.wd / 2 + 0.5) * 1000) AS BIGINT)
                AS xmin_mm,
              CAST(round((b.y1 + b.wd / 2 + 0.5) * 1000) AS BIGINT)
                AS ymin_mm,
              CAST(round((r.x1 - r.wd / 2 - 0.5) * 1000) AS BIGINT)
                AS xmax_mm,
              CAST(round((t.y1 - t.wd / 2 - 0.5) * 1000) AS BIGINT)
                AS ymax_mm
            FROM hz b
            JOIN hz t ON t.x1 = b.x1 AND t.x2 = b.x2
                     AND t.y1 = b.y1 + 100
            JOIN vt l ON l.x1 = b.x1 AND l.y1 = b.y1 AND l.y2 = t.y1
            JOIN vt r ON r.x1 = b.x2 AND r.y1 = b.y1 AND r.y2 = t.y1
        """,
        "q_url_canonical": f"""
            WITH b AS (SELECT url,
                   regexp_extract(url, '^https://([^/]*)', 1) AS host0,
                   regexp_extract(url, '^https://[^/]*(/.*)$', 1)
                     AS path0,
                   CAST(regexp_extract(url, '/p/([0-9]+)$', 1)
                        AS BIGINT) % 5 AS n
                 FROM {pages}),
                 m AS (SELECT url, CASE n
                   WHEN 0 THEN 'HTTPS://WWW.' || host0 || ':443'
                               || path0 || '#x'
                   WHEN 1 THEN 'https://' || host0 || path0 || '///'
                   WHEN 2 THEN 'http://' || upper(host0) || ':80'
                               || path0 || '?b=2&a=1'
                   WHEN 3 THEN url
                   ELSE 'https://' || host0 || ':8443' || path0 END
                     AS messy_url FROM b),
                 c AS (SELECT url, messy_url,
                   lower(regexp_extract(messy_url,
                         '^([^:/?#]+)://', 1)) AS scheme,
                   regexp_replace(lower(regexp_extract(messy_url,
                         '^[^:/?#]+://([^/?#]*)', 1)),
                         '^www\\.', '') AS auth,
                   regexp_extract(messy_url,
                         '^[^:/?#]+://[^/?#]*([^?#]*)', 1) AS rawpath,
                   coalesce(regexp_extract(messy_url,
                         '^[^:/?#]+://[^/?#]*[^?#]*(\\?[^#]*)', 1),
                         '') AS query
                 FROM m),
                 h AS (SELECT *, CASE
                   WHEN scheme = 'https'
                     THEN regexp_replace(auth, ':443$', '')
                   WHEN scheme = 'http'
                     THEN regexp_replace(auth, ':80$', '')
                   ELSE auth END AS host FROM c),
                 pp AS (SELECT *, CASE
                   WHEN regexp_replace(rawpath, '/+$', '') = ''
                     THEN '/'
                   ELSE regexp_replace(rawpath, '/+$', '') END AS path
                 FROM h)
            SELECT url, messy_url,
                   scheme || '://' || host || path || query
                     AS canon_url,
                   host AS domain
            FROM pp
        """,
        "q_overlay_poly_poly": f"""
            WITH ap AS (SELECT * FROM (VALUES
                     -- disjoint rectangle decomposition of the L (a=1)
                     (1, -380.1, -380.3, -380.1 + 600, -380.3 + 190),
                     (1, -380.1, -380.3 + 190, -380.1 + 190,
                      -380.3 + 500),
                     (2, 37.4, -141.5, 37.4 + 250, -141.5 + 120))
                   AS v(a_id, pxmin, pymin, pxmax, pymax)),
                 b AS (SELECT block_id, xmin, ymin, xmax, ymax
                       FROM {blocks}),
                 ov AS (SELECT a_id, block_id,
                               greatest(0.0, least(pxmax, xmax)
                                        - greatest(pxmin, xmin))
                             * greatest(0.0, least(pymax, ymax)
                                        - greatest(pymin, ymin)) AS ar
                        FROM ap, b),
                 inter AS (SELECT a_id, block_id, sum(ar) AS area
                           FROM ov GROUP BY a_id, block_id
                           HAVING sum(ar) > 0),
                 cb AS (SELECT * FROM b
                        WHERE (CAST((xmin + 550) / 100 AS BIGINT)
                             + CAST((ymin + 550) / 100 AS BIGINT))
                              % 2 = 0),
                 ovc AS (SELECT a_id,
                                greatest(0.0, least(pxmax, xmax)
                                         - greatest(pxmin, xmin))
                              * greatest(0.0, least(pymax, ymax)
                                         - greatest(pymin, ymin)) AS ar
                         FROM ap, cb),
                 atot AS (SELECT a_id,
                                 sum((pxmax - pxmin) * (pymax - pymin))
                                   AS area
                          FROM ap GROUP BY a_id),
                 dtot AS (SELECT a.a_id, a.area
                              - coalesce((SELECT sum(ar) FROM ovc
                                          WHERE ovc.a_id = a.a_id), 0)
                              AS area
                          FROM atot a)
            SELECT 'intersection' AS op, a_id, block_id AS b_id,
                   CAST(1 AS BIGINT) AS n_rings,
                   CAST(round(area * 100) AS BIGINT) AS area_q
            FROM inter
            UNION ALL
            SELECT 'difference', a_id, CAST(-1 AS BIGINT),
                   CAST(-1 AS BIGINT),
                   CAST(round(area * 100) AS BIGINT)
            FROM dtot
        """,
        "q_crossing_geometry": f"""
            WITH w AS (SELECT osm_id, x1, y1, x2, y2,
                         CASE WHEN TRY_CAST(width AS DOUBLE) > 0
                              THEN TRY_CAST(width AS DOUBLE)
                              ELSE {wc} END AS width_m
                       FROM {streets}
                       WHERE n_vertices = 2 AND (x1 = x2 OR y1 = y2)
                         AND CASE WHEN TRY_CAST(width AS DOUBLE) > 0
                                  THEN TRY_CAST(width AS DOUBLE)
                                  ELSE {wc} END >= 0.5),
                 d AS (SELECT min(osm_id) AS osm_id, x1, y1, x2, y2,
                              max(width_m) AS w
                       FROM w GROUP BY x1, y1, x2, y2),
                 ext AS (SELECT min(least(x1, x2)) AS xmin,
                                max(greatest(x1, x2)) AS xmax,
                                min(least(y1, y2)) AS ymin,
                                max(greatest(y1, y2)) AS ymax
                         FROM w),
                 eps AS (SELECT osm_id, x1 AS px, y1 AS py,
                                x2 AS qx, y2 AS qy, w FROM d
                         UNION ALL
                         SELECT osm_id, x2, y2, x1, y1, w FROM d),
                 mx AS (SELECT a.osm_id, a.px, a.py, a.qx, a.qy, a.w,
                               max(b.w) AS mw
                        FROM eps a JOIN eps b
                          ON a.px = b.px AND a.py = b.py
                         AND a.osm_id <> b.osm_id
                        GROUP BY a.osm_id, a.px, a.py, a.qx, a.qy, a.w),
                 c AS (SELECT *,
                              sign(qx - px) AS ux, sign(qy - py) AS uy,
                              mw / 2 + 4.0 AS di,
                              w / 2 + 0.5 AS off
                       FROM mx),
                 f AS (SELECT c.* FROM c, ext
                       WHERE mw / 2 + 4.5 > w / 2 + 0.75
                         AND ((ux <> 0 AND py > ymin AND py < ymax)
                           OR (uy <> 0 AND px > xmin AND px < xmax))),
                 g AS (SELECT px + ux * di AS cx, py + uy * di AS cy,
                              uy AS adx, -ux AS ady, off
                       FROM f)
            SELECT CAST(round(cx * 1000) AS BIGINT) AS cx_mm,
                   CAST(round(cy * 1000) AS BIGINT) AS cy_mm,
                   CAST(round((cx + adx * off) * 1000) AS BIGINT)
                     AS pax_mm,
                   CAST(round((cy + ady * off) * 1000) AS BIGINT)
                     AS pay_mm,
                   CAST(round((cx + adx * off * 0.75) * 1000) AS BIGINT)
                     AS pbx_mm,
                   CAST(round((cy + ady * off * 0.75) * 1000) AS BIGINT)
                     AS pby_mm,
                   CAST(round((cx - adx * off * 0.75) * 1000) AS BIGINT)
                     AS pdx_mm,
                   CAST(round((cy - ady * off * 0.75) * 1000) AS BIGINT)
                     AS pdy_mm,
                   CAST(round((cx - adx * off) * 1000) AS BIGINT)
                     AS pex_mm,
                   CAST(round((cy - ady * off) * 1000) AS BIGINT)
                     AS pey_mm,
                   CAST(round(2 * off * 1000) AS BIGINT) AS len_mm
            FROM g
        """,
        "q_crossing_enlarge": f"""
            WITH w0 AS (SELECT osm_id, x1, y1, x2, y2,
                          CASE WHEN TRY_CAST(width AS DOUBLE) > 0
                               THEN TRY_CAST(width AS DOUBLE)
                               ELSE {wc} END AS wm,
                          abs(CAST(x1 + x2 AS BIGINT) * 3
                              + CAST(y1 + y2 AS BIGINT) * 5) % 7 AS hm
                        FROM {streets}
                        WHERE n_vertices = 2 AND (x1 = x2 OR y1 = y2)),
                 w AS (SELECT osm_id, x1, y1, x2, y2,
                              CASE WHEN hm = 0 THEN 17.0
                                   WHEN hm IN (1, 2) THEN 2.0
                                   ELSE wm END AS width_m
                       FROM w0
                       WHERE CASE WHEN hm = 0 THEN 17.0
                                  WHEN hm IN (1, 2) THEN 2.0
                                  ELSE wm END >= 0.5),
                 d AS (SELECT min(osm_id) AS osm_id, x1, y1, x2, y2,
                              max(width_m) AS w, count(*) AS n_dup
                       FROM w GROUP BY x1, y1, x2, y2),
                 ext AS (SELECT min(least(x1, x2)) AS xmin,
                                max(greatest(x1, x2)) AS xmax,
                                min(least(y1, y2)) AS ymin,
                                max(greatest(y1, y2)) AS ymax
                         FROM w),
                 eps AS (SELECT osm_id, n_dup, x1 AS px, y1 AS py,
                                x2 AS qx, y2 AS qy, w FROM d
                         UNION ALL
                         SELECT osm_id, n_dup, x2, y2, x1, y1, w FROM d),
                 mx AS (SELECT a.osm_id, a.n_dup, a.px, a.py, a.qx,
                               a.qy, a.w, max(b.w) AS mw
                        FROM eps a JOIN eps b
                          ON a.px = b.px AND a.py = b.py
                         AND a.osm_id <> b.osm_id
                        GROUP BY a.osm_id, a.n_dup, a.px, a.py, a.qx,
                                 a.qy, a.w),
                 c AS (SELECT *,
                              sign(qx - px) AS ux, sign(qy - py) AS uy,
                              mw / 2 + 4.0 AS di,
                              w / 2 + 0.5 AS off,
                              mw / 2 + 4.5 AS reach0
                       FROM mx),
                 f AS (SELECT c.* FROM c, ext
                       WHERE n_dup = 1
                         AND abs(reach0 - off) > 0.25
                         AND w + 1 < 100.0 - 0.25
                         AND ((ux <> 0 AND py > ymin AND py < ymax)
                           OR (uy <> 0 AND px > xmin AND px < xmax))),
                 g AS (SELECT px + ux * di AS cx, py + uy * di AS cy,
                              uy AS adx, -ux AS ady, off
                       FROM f)
            SELECT CAST(round(cx * 1000) AS BIGINT) AS cx_mm,
                   CAST(round(cy * 1000) AS BIGINT) AS cy_mm,
                   CAST(round((cx + adx * off) * 1000) AS BIGINT)
                     AS pax_mm,
                   CAST(round((cy + ady * off) * 1000) AS BIGINT)
                     AS pay_mm,
                   CAST(round((cx + adx * off * 0.75) * 1000) AS BIGINT)
                     AS pbx_mm,
                   CAST(round((cy + ady * off * 0.75) * 1000) AS BIGINT)
                     AS pby_mm,
                   CAST(round((cx - adx * off * 0.75) * 1000) AS BIGINT)
                     AS pdx_mm,
                   CAST(round((cy - ady * off * 0.75) * 1000) AS BIGINT)
                     AS pdy_mm,
                   CAST(round((cx - adx * off) * 1000) AS BIGINT)
                     AS pex_mm,
                   CAST(round((cy - ady * off) * 1000) AS BIGINT)
                     AS pey_mm,
                   CAST(round(2 * off * 1000) AS BIGINT) AS len_mm
            FROM g
        """,
        "q_weighted_sample": """
            SELECT doc_id, lang FROM documents
            WHERE CAST('0x' || substr(md5('mix-v1:' ||
                    CAST(doc_id AS VARCHAR)), 1, 12) AS UBIGINT)
                  / CAST(16 ** 12 AS DOUBLE)
                < CASE lang WHEN 'en' THEN 0.8 WHEN 'zh' THEN 0.3
                       WHEN 'de' THEN 0.6 ELSE 0.05 END
        """,
        "q_ivf_cells": """
            WITH c AS (
              SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT)
                       AS cid,
                     CAST(embedding AS DOUBLE[]) AS cv
              FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT 8)),
            v AS (
              SELECT vec_id,
                     list_transform(CAST(embedding AS DOUBLE[]),
                       x -> x / sqrt(list_dot_product(
                         CAST(embedding AS DOUBLE[]),
                         CAST(embedding AS DOUBLE[])))) AS vn
              FROM embeddings),
            s AS (SELECT vec_id, cid, list_dot_product(vn, cv) AS sim
                  FROM v CROSS JOIN c)
            SELECT vec_id, cid FROM (
              SELECT vec_id, cid,
                     row_number() OVER (PARTITION BY vec_id
                                        ORDER BY sim DESC, cid) AS rn
              FROM s) WHERE rn = 1
        """,
        "q_bm25_rank": RK.bm25_oracle_sql(_BM25_TERMS),
        "q_incidence_ids": f"""
            WITH s AS (SELECT * FROM
                       read_parquet('{SP}/esw_segments.parquet/*.parquet')),
                 b AS (SELECT * FROM {blocks}),
                 cand AS (
                   SELECT b.block_id, s.way_id,
                          (s.bx - s.ax) * (ymin - s.ay)
                            - (s.by - s.ay) * (xmin - s.ax) AS s1,
                          (s.bx - s.ax) * (ymin - s.ay)
                            - (s.by - s.ay) * (xmax - s.ax) AS s2,
                          (s.bx - s.ax) * (ymax - s.ay)
                            - (s.by - s.ay) * (xmax - s.ax) AS s3,
                          (s.bx - s.ax) * (ymax - s.ay)
                            - (s.by - s.ay) * (xmin - s.ax) AS s4
                   FROM b JOIN s
                     ON greatest(s.ax, s.bx) >= b.xmin
                    AND least(s.ax, s.bx) <= b.xmax
                    AND greatest(s.ay, s.by) >= b.ymin
                    AND least(s.ay, s.by) <= b.ymax),
                 hit AS (
                   SELECT DISTINCT block_id, way_id FROM cand
                   WHERE NOT (s1 > 0 AND s2 > 0 AND s3 > 0 AND s4 > 0)
                     AND NOT (s1 < 0 AND s2 < 0 AND s3 < 0 AND s4 < 0))
            SELECT block_id,
                   string_agg(way_id, ' ' ORDER BY way_id) AS inc_ids,
                   count(*) AS n_inc
            FROM hit GROUP BY block_id
        """,
        "q_protoblock_sidewalk_filter": f"""
            WITH s AS (SELECT * FROM
                       read_parquet('{SP}/esw_segments.parquet/*.parquet')),
                 b AS (SELECT * FROM {blocks}),
                 cand AS (
                   SELECT b.block_id, s.way_id, s.way_len,
                          (s.bx - s.ax) * (ymin - s.ay)
                            - (s.by - s.ay) * (xmin - s.ax) AS s1,
                          (s.bx - s.ax) * (ymin - s.ay)
                            - (s.by - s.ay) * (xmax - s.ax) AS s2,
                          (s.bx - s.ax) * (ymax - s.ay)
                            - (s.by - s.ay) * (xmax - s.ax) AS s3,
                          (s.bx - s.ax) * (ymax - s.ay)
                            - (s.by - s.ay) * (xmin - s.ax) AS s4
                   FROM b JOIN s
                     ON greatest(s.ax, s.bx) >= b.xmin
                    AND least(s.ax, s.bx) <= b.xmax
                    AND greatest(s.ay, s.by) >= b.ymin
                    AND least(s.ay, s.by) <= b.ymax),
                 hit AS (
                   SELECT DISTINCT block_id, way_id, way_len FROM cand
                   WHERE NOT (s1 > 0 AND s2 > 0 AND s3 > 0 AND s4 > 0)
                     AND NOT (s1 < 0 AND s2 < 0 AND s3 < 0 AND s4 < 0)),
                 inc AS (SELECT block_id, sum(way_len) AS inc_len
                         FROM hit GROUP BY block_id)
            SELECT b.block_id,
                   CAST(round(coalesce(inc.inc_len, 0.0) * 1000) AS BIGINT)
                     AS inc_len_mm,
                   round(pow(coalesce(inc.inc_len, 0.0) / 4.0, 2)
                         / ((xmax - xmin) * (ymax - ymin)) * 100.0, 6)
                     + 0.0 AS sidewalks_ratio,
                   (pow(coalesce(inc.inc_len, 0.0) / 4.0, 2)
                    / ((xmax - xmin) * (ymax - ymin)) * 100.0
                    <= {P.CUTOFF_PERCENT_PROTOBLOCK}) AS keep
            FROM b LEFT JOIN inc USING (block_id)
        """,
        "q_convex_hull": _hull_oracle_sql(pages_geo, blocks),
        # the 'decode' is the deterministic byte-statistics fake
        # (multimodal.py:33-44): pseudo-image = first side^2 bytes,
        # side = floor(sqrt(n)). html is ASCII, so ord() over VARCHAR
        # positions reproduces np.uint8 exactly; sums of <2^53 ints are
        # exact in float64, so avg matches np.mean bitwise.
        "q_media_features": f"""
            WITH p AS (
              SELECT url, CAST(html AS VARCHAR) AS h,
                     octet_length(html) AS n
              FROM {pages} WHERE url LIKE '%00'
            ),
            s AS (
              SELECT url, n, h,
                     greatest(1, CAST(floor(sqrt(n)) AS BIGINT)) AS side
              FROM p
            ),
            b AS (
              SELECT url, n, side,
                     avg(ord(substring(h, CAST(pos AS INTEGER), 1))) AS m
              FROM s, unnest(range(1, side*side + 1)) AS t(pos)
              GROUP BY 1, 2, 3
            )
            SELECT url, n AS n_bytes, round(m, 6) + 0.0 AS feat_mean,
                   CAST(side AS INTEGER) AS width_px,
                   CAST(side AS INTEGER) AS height_px
            FROM b
        """,
        "q_feature_contract": _feature_contract_sql(SP),
        "q_curate_chain": f"""
            WITH RECURSIVE
            q0 AS (SELECT doc_id, text, string_split(text, ' ') AS toks,
                          length(text) AS nc
                   FROM documents),
            ql AS (SELECT doc_id, text, toks,
                     0.4 * least(1.0, len(toks) / 64.0)
                   + 0.3 * (1 - len(list_filter(toks,
                         w -> w IN ({stop_list}))) * 1.0 / len(toks))
                   + 0.3 * least(1.0,
                         ((nc - (len(toks) - 1)) * 1.0 / len(toks)) / 8.0)
                     AS quality
                   FROM q0),
            f AS (SELECT * FROM ql WHERE quality >= 0.5503),
            dd AS (SELECT doc_id, text, toks, quality FROM (
                     SELECT *, min(doc_id) OVER (PARTITION BY text)
                       AS _keep FROM f)
                   WHERE doc_id = _keep),
            s AS (SELECT doc_id, list_distinct(
                    [toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3]
                     for i in range(len(toks) - 2)]) AS sh
                  FROM dd WHERE len(toks) >= 3),
            e AS (SELECT doc_id, unnest(sh) AS shingle, len(sh) AS sz
                  FROM s),
            jp AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
                   FROM e a JOIN e b
                     ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                   GROUP BY a.doc_id, b.doc_id
                   HAVING count(*) / (any_value(a.sz) + any_value(b.sz)
                                      - count(*)) >= 0.5),
            sym AS (SELECT id_a AS u, id_b AS v FROM jp
                    UNION SELECT id_b, id_a FROM jp),
            reach(node, r) AS (
                SELECT u, u FROM sym
                UNION
                SELECT reach.node, sym.v FROM reach
                JOIN sym ON sym.u = reach.r),
            comp AS (SELECT node, MIN(r) AS c FROM reach GROUP BY node),
            lab AS (SELECT dd.doc_id, dd.toks, dd.quality,
                           COALESCE(cp.c, dd.doc_id) AS cluster_id
                    FROM dd LEFT JOIN comp cp ON cp.node = dd.doc_id),
            sized AS (SELECT *,
                        count(*) OVER (PARTITION BY cluster_id)
                          AS cluster_size,
                        row_number() OVER (PARTITION BY cluster_id
                            ORDER BY quality DESC, doc_id) AS rn
                      FROM lab),
            kept AS (SELECT * FROM sized WHERE rn = 1),
            c AS (SELECT doc_id, cluster_id, cluster_size, quality,
                         len(toks) AS n, toks,
                         unnest(range((greatest(len(toks) - 16 - 1, 0)
                                       // 112) + 1)) AS chunk_idx
                  FROM kept)
            SELECT doc_id, cluster_id,
                   CAST(cluster_size AS BIGINT) AS cluster_size,
                   round(quality, 6) AS quality,
                   CAST(chunk_idx AS BIGINT) AS chunk_idx,
                   CAST((greatest(n - 16 - 1, 0) // 112) + 1 AS BIGINT)
                     AS n_chunks,
                   CAST(least(chunk_idx * 112 + 128, n)
                        - chunk_idx * 112 AS BIGINT) AS n_chunk_tokens,
                   array_to_string(
                       toks[chunk_idx * 112 + 1
                            : least(chunk_idx * 112 + 128, n)], ' ')
                     AS chunk_text
            FROM c
        """,
        "q_dedup_clusters": _CLUSTER_SQL,
    }


def _feature_contract_sql(synth_dir: str) -> str:
    """DuckDB side of q_feature_contract, from ``synth_dir``'s crossing
    segments alone: each crossing has 5 vertices, a length equal to its
    summed segment lengths, and two kerbs, on vertices 1 and 3 (the
    b-ends of segments 0 and 2)."""
    return f"""
        WITH cs AS (SELECT * FROM read_parquet(
               '{synth_dir}/crossing_segments.parquet/*.parquet')),
             c AS (SELECT fid, CAST(round(sum(sqrt(pow(bx - ax, 2)
                                                 + pow(by - ay, 2)))
                                      * 1000) AS BIGINT) AS len_mm
                   FROM cs GROUP BY fid)
        SELECT c.fid AS crossing_fid, CAST(5 AS DOUBLE) AS n_vertices,
               c.len_mm, cs.bx AS kx, cs.by AS ky
        FROM c JOIN cs ON cs.fid = c.fid AND cs.seg_idx IN (0, 2)
    """
