"""Dump .explain('formatted') for the bench-timed query plans into
plans/<round>/<name>_<tag>.txt under this checkout, and beside each the
optimized logical plan with expression ids and lambda-variable suffixes
stripped (<name>_<tag>.opt.txt), so "plan unchanged" is a plain diff of
two such files. Usage:
    python scripts/dump_plans.py <round> <tag> [name ...]
e.g. ``dump_plans.py r07 before``.
"""

import os
import re
import sys
from contextlib import redirect_stdout
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

from pyspark.sql import functions as F

from osm_sidewalkreator_spark.session import get_spark


def plans(spark, sf_dir):
    from osm_sidewalkreator_spark import params as P
    from osm_sidewalkreator_spark.operators import joins as J
    from osm_sidewalkreator_spark.operators import simsearch as SS
    from osm_sidewalkreator_spark.operators import textops as TX
    from osm_sidewalkreator_spark.operators import graph as GR
    from osm_sidewalkreator_spark.operators import lm as LM
    from osm_sidewalkreator_spark.operators import packing as PK
    from osm_sidewalkreator_spark.operators import raster as RA
    from osm_sidewalkreator_spark.operators import sampling as SA
    from osm_sidewalkreator_spark.plans import pipeline as PL
    from osm_sidewalkreator_spark.plans.curate import curate_corpus
    from osm_sidewalkreator_spark.synth import ensure_synth
    synth = ensure_synth(sf_dir)
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pages_geo = spark.read.parquet(str(synth / "pages_geo.parquet"))
    blocks = spark.read.parquet(str(synth / "blocks.parquet"))
    segs = spark.read.parquet(str(synth / "sidewalk_segments.parquet"))
    knn_pages = pages_geo.select("url", "x", "y") \
        .filter(F.col("url").endswith("0"))
    pairs = TX.minhash_lsh_pairs(docs, 0.5).select(
        F.col("id_a").alias("a"), F.col("id_b").alias("b"))
    return {
        "pipeline_features": lambda: PL.generate_features(spark, sf_dir),
        "pip_pages_blocks": lambda: J.pip_join_points_rects(
            pages_geo.select("url", "x", "y"), blocks,
            cell_size=P.CELL_SIZE_M),
        "pip_poly": lambda: J.pip_join_points_polygons(
            pages_geo.select("url", "x", "y"),
            blocks.select(F.col("block_id").alias("poly_id"), "geometry"),
            cell_size=P.CELL_SIZE_M),
        "knn_pages_sidewalks": lambda: J.knn_join_points_segments(
            knn_pages, segs, k=1, max_dist=P.KNN_MAX_DIST,
            cell_size=P.CELL_SIZE_M),
        "exact_dedup_docs": lambda: TX.exact_dedup(docs),
        "minhash_pairs": lambda: TX.minhash_lsh_pairs(docs, 0.5),
        "quality_tokens": lambda: TX.quality_score(docs),
        "cosine_topk": lambda: SS.cosine_topk_bruteforce(emb),
        "cosine_lsh": lambda: SS.cosine_topk_lsh(emb),
        "cosine_topk_int8": lambda: SS.cosine_topk_quantized(emb),
        "dedup_clusters": lambda: GR.dedup_clusters(
            docs.select("doc_id"), pairs),
        "chunk_documents": lambda: TX.chunk_documents(docs),
        "curate_corpus": lambda: curate_corpus(docs, min_quality=0.5),
        "remove_repeated_spans": lambda: TX.remove_repeated_spans(
            docs, span_tokens=8),
        "lm_bigram_nll": lambda: LM.bigram_nll(docs),
        "pack_sequences": lambda: PK.pack_sequences(
            TX.chunk_documents(SA.shard_corpus(docs, 8),
                               extra_cols=("shard",)), 512)
        .select("shard", "seq_id").distinct(),
        # built inline in bench.py; replicated here so its plan is on
        # record too
        "lineitem_pricing": lambda: (
            spark.read.parquet(f"{sf_dir}/lineitem.parquet")
            .filter(F.col("l_shipdate") <= "1998-09-02")
            .groupBy("l_returnflag", "l_linestatus")
            .agg(F.sum("l_quantity"), F.count("*"))),
        "dem_kerb_slope": lambda: RA.dem_kerb_slope(
            spark.read.parquet(str(synth / "kerbs_xy.parquet")),
            spark.read.parquet(str(synth / "dem.parquet"))),
    }


def normalized_plan(df) -> str:
    """The optimized logical plan of ``df`` without expression ids
    (``#123``) or the numeric suffixes of lambda variables (``x_3``)."""
    text = df._jdf.queryExecution().optimizedPlan().toString()
    text = re.sub(r"#\d+", "#", text)
    return re.sub(r"(lambda [A-Za-z]\w*?)_\d+#", r"\1#", text)


def main():
    if len(sys.argv) < 3:
        sys.exit(__doc__)
    out_dir = REPO / "plans" / sys.argv[1]
    tag = sys.argv[2]
    only = set(sys.argv[3:])
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app="dump_plans")
    # plan strings list every field, so the .opt.txt diffs see them all
    spark.conf.set("spark.sql.debug.maxToStringFields", "100000")
    out_dir.mkdir(parents=True, exist_ok=True)
    for name, fn in plans(spark, sf_dir).items():
        if only and name not in only:
            continue
        df = fn()
        path = out_dir / f"{name}_{tag}.txt"
        with open(path, "w") as f, redirect_stdout(f):
            df.explain("formatted")
        (out_dir / f"{name}_{tag}.opt.txt").write_text(normalized_plan(df))
        print("wrote", path)


if __name__ == "__main__":
    main()
