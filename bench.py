"""Benchmark: headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1)
on local[<host CPUs>] (``session.host_defaults``; $SPARK_GRAFT_CPUS
overrides). Prints ONE JSON line:
{"metric": ..., "value": total_sec, "unit": "sec", "queries": {...},
 "sf": ...} plus derived throughputs (pages/sec, sidewalk segments/sec —
the BASELINE.json metric).

Synthetic-input generation and artifact warm-up happen before timing so
the numbers measure engine compute, not one-time fixture creation.

The emitted JSON is SELF-VALIDATING: a "host" stamp records hypervisor
steal% before and during the timed section and the 1-min load (see
``osm_sidewalkreator_spark/hostcond.py``).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F

from osm_sidewalkreator_spark import params as P
from osm_sidewalkreator_spark.artifacts import ensure_features
from osm_sidewalkreator_spark.operators import joins as J
from osm_sidewalkreator_spark.operators import raster as RA
from osm_sidewalkreator_spark.operators import simsearch as SS
from osm_sidewalkreator_spark.operators import textops as TX
from osm_sidewalkreator_spark.pages import ensure_pages_geo
from osm_sidewalkreator_spark.plans import pipeline as PL
from osm_sidewalkreator_spark.session import get_spark, host_defaults
from osm_sidewalkreator_spark.synth import ensure_synth


def main():
    from osm_sidewalkreator_spark import hostcond

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    n_cpus = host_defaults()[0]
    spark = get_spark(app="bench")
    # ---- untimed setup: synthetic fixtures + cached artifacts ----
    synth = ensure_synth(sf_dir)
    ensure_pages_geo(spark, sf_dir)
    ensure_features(spark, sf_dir)
    # warm-up: one untimed run of the pipeline at the benchmark scale so
    # timed runs measure steady state — Python workers, whole-stage
    # codegen of the full plan, parquet footers, and the LPT bucket-id
    # cache are all populated (warming at a smaller sf left the first
    # timed sf run ~40% slower than steady state)
    PL.generate_features(spark, sf_dir).count()

    # host-condition bracket: the steal/load pre-probe runs here, the
    # cumulative steal delta covers exactly the timed section
    mon = hostcond.HostMonitor()
    mon.start()

    timings: dict[str, float] = {}
    extra: dict[str, float] = {}
    counters: dict[str, int] = {}

    def timed(name, fn, repeat: int = 3, into: dict | None = None):
        best, out = None, None
        for _ in range(repeat):
            t0 = time.time()
            out = fn()
            dt = time.time() - t0
            best = dt if best is None else min(best, dt)
        (timings if into is None else into)[name] = round(best, 3)
        return out

    # 1. full sidewalk geometry pipeline (streets -> features)
    def run_pipeline():
        feats = PL.generate_features(spark, sf_dir)
        return {r["kind"]: r["n"] for r in
                feats.groupBy("kind").agg(F.count("*").alias("n")).collect()}
    kinds = timed("pipeline_features", run_pipeline)

    # 2. geocode + PIP join of all pages into protoblocks (rect truth)
    pages_geo = spark.read.parquet(str(synth / "pages_geo.parquet"))
    blocks = spark.read.parquet(str(synth / "blocks.parquet"))
    n_pages = timed("pip_pages_blocks", lambda: J.pip_join_points_rects(
        pages_geo.select("url", "x", "y"), blocks,
        cell_size=P.CELL_SIZE_M).count())
    counters["pages_joined"] = n_pages

    # 3. kNN pages -> engine sidewalk segments
    segs = spark.read.parquet(str(synth / "sidewalk_segments.parquet"))
    counters["sidewalk_segments"] = segs.count()
    knn_pages = pages_geo.select("url", "x", "y") \
        .filter(F.col("url").endswith("0"))
    counters["knn_pages"] = timed("knn_pages_sidewalks", lambda: (
        J.knn_join_points_segments(knn_pages, segs, k=1,
                                   max_dist=P.KNN_MAX_DIST,
                                   cell_size=P.CELL_SIZE_M).count()))

    # 4. DEM kerb slope (raster<->vector join)
    kerbs = spark.read.parquet(str(synth / "kerbs_xy.parquet"))
    dem = spark.read.parquet(str(synth / "dem.parquet"))
    timed("dem_kerb_slope", lambda: RA.dem_kerb_slope(kerbs, dem).count())

    # 5. text ops over the driver documents table
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    counters["documents"] = docs.count()
    timed("exact_dedup_docs", lambda: TX.exact_dedup(docs).count())
    timed("minhash_pairs", lambda: TX.minhash_lsh_pairs(docs, 0.5).count())
    timed("quality_tokens", lambda: TX.quality_score(docs).count())

    # 6. ANN cosine top-k (brute-force truth + multi-table LSH w/ recall)
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    timed("cosine_topk", lambda: SS.cosine_topk_bruteforce(emb).count())
    timed("cosine_lsh", lambda: SS.cosine_topk_lsh(emb).count())
    counters["lsh_recall_at_5"] = round(
        SS.recall_at_k(SS.cosine_topk_lsh(emb), emb, k=5), 4)

    # 7. relational glue (TPC-H Q1-style)
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    timed("lineitem_pricing", lambda: (
        li.filter(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(F.sum("l_quantity"), F.count("*")).count()))

    # 8. round-4 additions — timed into "extra_queries", NOT summed into
    # the headline value: the headline query set is held fixed across
    # rounds so BENCH_r*.json totals stay comparable.
    from osm_sidewalkreator_spark.operators import graph as GR
    pairs = TX.minhash_lsh_pairs(docs, 0.5).select(
        F.col("id_a").alias("a"), F.col("id_b").alias("b"))
    keepers = timed("dedup_clusters", lambda: (
        GR.dedup_clusters(docs.select("doc_id"), pairs)
        .filter("is_keeper").count()), into=extra)
    counters["dedup_cluster_keepers"] = keepers
    counters["doc_chunks"] = timed(
        "chunk_documents",
        lambda: TX.chunk_documents(docs).count(), into=extra)
    timed("cosine_topk_int8",
          lambda: SS.cosine_topk_quantized(emb).count(), into=extra)
    from osm_sidewalkreator_spark.plans.curate import curate_corpus
    counters["curated_chunks"] = timed(
        "curate_corpus",
        lambda: curate_corpus(docs, min_quality=0.5).count(), into=extra)
    counters["int8_recall_at_5"] = round(
        SS.recall_at_k(SS.cosine_topk_quantized(emb), emb, k=5), 4)

    # round-5 additions (same rule: extras only, headline untouched)
    from osm_sidewalkreator_spark.operators import lm as LM
    from osm_sidewalkreator_spark.operators import packing as PK
    from osm_sidewalkreator_spark.operators import sampling as SA
    counters["lm_scored_docs"] = timed(
        "lm_bigram_nll",
        lambda: LM.bigram_nll(docs).count(), into=extra)
    counters["packed_sequences"] = timed(
        "pack_sequences",
        lambda: (PK.pack_sequences(
            TX.chunk_documents(SA.shard_corpus(docs, 8),
                               extra_cols=("shard",)), 512)
            .select("shard", "seq_id").distinct().count()), into=extra)
    counters["span_stripped_tokens"] = timed(
        "remove_repeated_spans",
        lambda: int(TX.remove_repeated_spans(docs, span_tokens=8)
                    .agg(F.sum("n_tokens_removed")).first()[0]),
        into=extra)

    host = mon.stop()

    total = round(sum(timings.values()), 3)
    pages_rate = round(counters["pages_joined"]
                       / max(timings["pip_pages_blocks"], 1e-9))
    seg_rate = round(counters["sidewalk_segments"]
                     / max(timings["pipeline_features"], 1e-9))
    result = {
        "metric": "headline suite wall-clock (sidewalk pipeline + "
                  "spatial joins + text/ANN ops)",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "extra_queries": extra,
        "sf": os.path.basename(sf_dir.rstrip("/")),
        "pages_per_sec": pages_rate,
        "sidewalk_segments_per_sec": seg_rate,
        "counters": counters,
        "cpus": n_cpus,
        "host": host,
    }
    print(json.dumps(result))


if __name__ == "__main__":
    main()
