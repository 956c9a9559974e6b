"""Engine-output artifacts cached per scale.

Join-style queries (kNN page->sidewalk, DEM kerb slope) take engine
outputs as one side; materializing them once per scale lets the DuckDB
oracle read the *same* parquet and verify the join math independently.
The artifacts are keyed by the engine code that wrote them, so a
checkout never serves another version's features.
"""

from __future__ import annotations

import hashlib
from pathlib import Path

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from .functions.geo import st_explode_segments
from .plans import pipeline as PL
from .synth import ensure_synth


def _code_key() -> str:
    """sha256 of the package's ``.py`` sources (paths and bytes)."""
    root = Path(__file__).parent
    h = hashlib.sha256()
    for path in sorted(root.rglob("*.py")):
        h.update(str(path.relative_to(root)).encode() + b"\0")
        h.update(path.read_bytes())
    return h.hexdigest()[:16]


def ensure_features(spark: SparkSession, sf_dir: str) -> Path:
    """Run the geometry pipeline once per scale and package source;
    cache:

    - ``features_tm.parquet``: all kinds, local-TM WKB + attrs
    - ``sidewalk_segments.parquet``: exploded sidewalk ring segments
    - ``kerbs_xy.parquet``: kerb points + owning crossing
    - ``esw_segments.parquet``, ``crossing_segments.parquet``

    The marker ``_FEATURES_OK_<_code_key()>`` says they were written by
    this source; a marker with another key is deleted and the
    artifacts are written again."""
    synth = ensure_synth(sf_dir)
    marker = synth / f"_FEATURES_OK_{_code_key()}"
    if marker.exists():
        return synth
    for stale in synth.glob("_FEATURES_OK_*"):
        stale.unlink()
    feats = PL.generate_features(spark, sf_dir)
    feats.cache()
    (feats.repartition(4)
     .write.mode("overwrite").parquet(str(synth / "features_tm.parquet")))
    sw = feats.filter(F.col("kind") == "sidewalk")
    segs = (sw.withColumn("seg", F.explode(st_explode_segments("geometry")))
            .select("fid", "seg.*"))
    # deterministic seg_id: 63-bit hash of (fid, in-feature ordinal by
    # coordinates) — fids are themselves 63-bit mixes, so arithmetic
    # packing (fid * 10_000) would overflow int64
    from pyspark.sql import Window
    w = Window.partitionBy("fid").orderBy("ax", "ay", "bx", "by")
    segs = segs.withColumn(
        "seg_id", F.pmod(F.xxhash64("fid", F.row_number().over(w)),
                         F.lit(1 << 62)))
    (segs.select("seg_id", "fid", "ax", "ay", "bx", "by").repartition(4)
     .write.mode("overwrite")
     .parquet(str(synth / "sidewalk_segments.parquet")))
    esw = PL.existing_sidewalk_segments(PL.load_streets(spark, sf_dir)) \
        .select(F.col("osm_id").alias("way_id"), "way_len",
                "ax", "ay", "bx", "by")
    (esw.repartition(1).write.mode("overwrite")
     .parquet(str(synth / "esw_segments.parquet")))
    cseg = (feats.filter(F.col("kind") == "crossing")
            .select("fid", F.posexplode(
                st_explode_segments("geometry")).alias("seg_idx", "seg"))
            .select("fid", "seg_idx", "seg.*"))
    (cseg.repartition(1).write.mode("overwrite")
     .parquet(str(synth / "crossing_segments.parquet")))
    kerbs = feats.filter(F.col("kind") == "kerb").select(
        "fid", F.col("ref_id").alias("crossing_fid"),
        F.col("cx").alias("x"), F.col("cy").alias("y"))
    (kerbs.repartition(2).write.mode("overwrite")
     .parquet(str(synth / "kerbs_xy.parquet")))
    feats.unpersist()
    marker.write_text("ok")
    return synth
