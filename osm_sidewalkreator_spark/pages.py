"""Page-side operators: deterministic geocoding, tiling, text invariant.

The 10^12-row Common-Crawl-style pages table (BASELINE.json input_hint:
``url, warc_ts, html, text, lang``) joins the geometry world through a
derived location. Real deployments would infer location from content;
here geocoding is a deterministic pure-column function of ``url`` with a
Zipf-like concentration on a few hot blocks (FIXTURES.md §1) so the
AQE skew-join machinery is actually exercised.

Everything in this module is ``pyspark.sql.functions`` built-ins —
whole-stage codegen, no Python in the 10^12-row path. The ``text``
column is never rewritten; ``text_fingerprint`` materializes the
xxhash64 the driver can compare pre/post (input_hint byte-identity).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .geometry.projection import EARTH_R
from .synth import CITY_LAT0, CITY_LON0, SCALES, SPACING, ensure_synth, scale_name

ZIPF_EXPONENT = 3  # u^3 concentration: ~top block gets ~10x median


def load_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .sources.catalog import load_table
    return load_table(spark, sf_dir, "pages")


def geocode_pages(pages: DataFrame, sf_dir: str) -> DataFrame:
    """Attach deterministic (x, y) in city-local TM meters and
    (lon, lat) EPSG:4326 — all JVM-side column math.

    The block index is drawn from a power-law transform of a uniform
    hash, concentrating pages on low-index blocks (hot urban cells).
    """
    k = SCALES[scale_name(sf_dir)]["k"]
    nb = (k - 1) * (k - 1)
    half = (k - 1) * SPACING / 2
    u = (F.pmod(F.xxhash64("url"), F.lit(1_000_000)).cast("double")
         / F.lit(1_000_000.0))
    block = F.least(F.floor(F.pow(u, F.lit(ZIPF_EXPONENT)) * nb).cast("long"),
                    F.lit(nb - 1))
    brow = (block / (k - 1)).cast("long")
    bcol = F.pmod(block, F.lit(k - 1))
    ox = (F.pmod(F.xxhash64("url", F.lit("x")), F.lit(100_000)).cast("double")
          / F.lit(100_000.0)) * SPACING
    oy = (F.pmod(F.xxhash64("url", F.lit("y")), F.lit(100_000)).cast("double")
          / F.lit(100_000.0)) * SPACING
    x = bcol.cast("double") * SPACING - half + ox
    y = brow.cast("double") * SPACING - half + oy
    # closed-form spherical TM inverse (projection.py) as column algebra
    xr = x / EARTH_R
    yr = y / EARTH_R + F.radians(F.lit(CITY_LAT0))
    lon = F.degrees(F.atan2(F.sinh(xr), F.cos(yr))) + CITY_LON0
    lat = F.degrees(F.asin(F.sin(yr) / F.cosh(xr)))
    return (pages.withColumn("x", x).withColumn("y", y)
            .withColumn("lon", lon).withColumn("lat", lat)
            .withColumn("block_truth", block))


def ensure_pages_geo(spark: SparkSession, sf_dir: str) -> str:
    """Materialize the geocoded pages projection once per scale; the
    DuckDB oracles for downstream joins read the same parquet."""
    synth = ensure_synth(sf_dir)
    out = synth / "pages_geo.parquet"
    if not (synth / "_PAGES_GEO_OK_v2").exists():
        df = geocode_pages(load_pages(spark, sf_dir), sf_dir)
        (df.select("url", "lang", "x", "y", "lon", "lat")
           .coalesce(4)
           .write.mode("overwrite").parquet(str(out)))
        (synth / "_PAGES_GEO_OK_v2").write_text("ok")
    return str(out)
