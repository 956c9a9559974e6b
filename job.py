"""spark-submit entrypoint (north_rule launch path).

    spark-submit --py-files engine.zip job.py \
        --sf-dir /root/testdata/sf0.1 --out /tmp/sidewalk_job

Runs the resumable tiled pipeline (checkpoint manifest; re-launching
after a kill recomputes only uncommitted tiles), joins the geocoded
pages to protoblocks, and writes parquet + merged GeoJSON outputs.

Build engine.zip from the checkout root with:
    zip -qr engine.zip osm_sidewalkreator_spark
"""

from __future__ import annotations

import argparse
import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from pyspark.sql import functions as F

from osm_sidewalkreator_spark import params as P
from osm_sidewalkreator_spark.operators import joins as J
from osm_sidewalkreator_spark.pages import ensure_pages_geo
from osm_sidewalkreator_spark.plans import pipeline as PL
from osm_sidewalkreator_spark.session import get_spark
from osm_sidewalkreator_spark.sources.geojson import write_merged_geojson
from osm_sidewalkreator_spark.streaming.checkpoint import run_tiled_job
from osm_sidewalkreator_spark.synth import ensure_synth


def main(argv=None):
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    ap.add_argument("--out", default="/tmp/sidewalk_job")
    ap.add_argument("--tile-size", type=float, default=P.TILE_SIZE_M)
    ap.add_argument("--halo", type=float, default=P.TILE_HALO_M)
    # optional GUI-parity stages (reference spinbox/checkbox knobs)
    ap.add_argument("--dangle-iterations", type=int, default=1,
                    help="dead-end removal passes (reference "
                    "dead_end_iters spinbox)")
    ap.add_argument("--max-split-len", type=float, default=None,
                    help="split sidewalk lines to <= this length (G12)")
    ap.add_argument("--enlarge-crossings", action="store_true",
                    help="GUI ray-enlargement loop for crossings")
    ap.add_argument("--export-snap", action="store_true",
                    help="3-pass export snap sequence (J11 behaviors "
                    "0/5/1)")
    args = ap.parse_args(argv)
    pipe_opts = dict(dangle_iterations=args.dangle_iterations,
                     max_split_len=args.max_split_len,
                     enlarge_crossings=args.enlarge_crossings,
                     export_snap=args.export_snap)

    spark = get_spark(app="sidewalkreator_job")
    out = Path(args.out)
    out.mkdir(parents=True, exist_ok=True)
    t0 = time.time()

    # --- resumable tiled geometry pipeline ---
    tiled, ctx = PL.tiled_inputs(spark, args.sf_dir, args.tile_size,
                                 args.halo)
    feats = run_tiled_job(
        spark, tiled, PL.make_tile_kernel(args.tile_size, args.halo,
                                          **pipe_opts),
        PL.FEATURE_SCHEMA, str(out / "job_state"), ctx_tiled=ctx)
    feats.cache()

    # --- page join ---
    pages_geo = spark.read.parquet(ensure_pages_geo(spark, args.sf_dir))
    blocks = spark.read.parquet(
        str(ensure_synth(args.sf_dir) / "blocks.parquet"))
    pip = J.pip_join_points_rects(
        pages_geo.select("url", "x", "y"), blocks,
        cell_size=P.CELL_SIZE_M)
    per_block = pip.groupBy("block_id").agg(F.count("*").alias("n_pages"))
    per_block.write.mode("overwrite").parquet(str(out / "pages_per_block"))

    # --- exports ---
    f4326 = PL.features_4326(feats)
    f4326.write.mode("overwrite").parquet(str(out / "features_4326"))
    n = write_merged_geojson(f4326, str(out / "sidewalks_josm.geojson"))

    metrics = {
        "seconds": round(time.time() - t0, 1),
        "features": {r["kind"]: r["n"] for r in
                     feats.groupBy("kind").agg(F.count("*").alias("n"))
                     .collect()},
        "geojson_features": n,
        "pages_blocks": per_block.count(),
    }
    (out / "metrics.json").write_text(json.dumps(metrics, indent=2))
    print(json.dumps(metrics))


if __name__ == "__main__":
    main()
