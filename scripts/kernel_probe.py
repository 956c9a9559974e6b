"""Single-threaded tile-kernel profiler: run the N heaviest sf0.1
tiles through the real cogrouped kernel (driver-side, no Spark
executors in the timed region) and print a cProfile top list.

Usage: python scripts/kernel_probe.py [n_tiles] [--profile]
The tile inputs are cached to /tmp between runs so repeated probes
time the SAME byte-identical work.
"""

import cProfile
import io
import pickle
import pstats
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import numpy as np  # noqa: E402
import pandas as pd  # noqa: E402

from osm_sidewalkreator_spark import params as P  # noqa: E402
from osm_sidewalkreator_spark.plans import pipeline as PL  # noqa: E402

SF = "/root/testdata/sf0.1"
CACHE = Path("/tmp/kernel_probe_tiles.pkl")


def load_tiles(n_tiles: int):
    if CACHE.exists():
        with open(CACHE, "rb") as f:
            tiles = pickle.load(f)
        if len(tiles) >= n_tiles:
            return tiles[:n_tiles]
    from pyspark.sql import functions as F

    from osm_sidewalkreator_spark.session import get_spark
    spark = get_spark(shuffle_partitions=32)
    streets = PL.assign_widths(
        PL.clip_to_aoi(PL.load_streets(spark, SF), spark, SF))
    segs = PL.street_segments_tm(streets)
    tiled = PL._explode_tiles(segs, P.TILE_SIZE_M, P.TILE_HALO_M)
    census = (tiled.groupBy("tile").count()
              .orderBy(F.desc("count")).limit(n_tiles).collect())
    heavy = [r["tile"] for r in census]
    pdfs = (tiled.filter(F.col("tile").isin(heavy)).toPandas()
            .groupby("tile"))
    ctx = PL.load_context_tiled(spark, SF, P.TILE_SIZE_M, P.TILE_HALO_M)
    ctx_pdfs = dict(tuple(
        ctx.filter(F.col("tile").isin(heavy)).toPandas().groupby("tile")))
    tiles = [(t, g.reset_index(drop=True),
              ctx_pdfs.get(t, pd.DataFrame()).reset_index(drop=True)
              if t in ctx_pdfs else pd.DataFrame())
             for t, g in pdfs]
    tiles.sort(key=lambda x: -len(x[1]))
    with open(CACHE, "wb") as f:
        pickle.dump(tiles, f)
    return tiles[:n_tiles]


def run(tiles, kernel):
    rows = 0
    for t, g, c in tiles:
        out = kernel((t,), g, c)
        rows += len(out)
    return rows


def main():
    n_tiles = int(sys.argv[1]) if len(sys.argv) > 1 else 40
    do_profile = "--profile" in sys.argv
    tiles = load_tiles(n_tiles)
    kernel = PL.make_tile_kernel(P.TILE_SIZE_M)
    # warm-up (imports, caches)
    run(tiles[:2], kernel)
    t0 = time.time()
    if do_profile:
        pr = cProfile.Profile()
        pr.enable()
        rows = run(tiles, kernel)
        pr.disable()
        el = time.time() - t0
        s = io.StringIO()
        pstats.Stats(pr, stream=s).sort_stats("cumulative").print_stats(30)
        print(s.getvalue())
    else:
        rows = run(tiles, kernel)
        el = time.time() - t0
    print(f"RESULT tiles={len(tiles)} rows={rows} seconds={el:.2f}")


if __name__ == "__main__":
    main()
