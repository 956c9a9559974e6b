"""Isolation probes for the optimization round (guide §1.4): time the
pieces of the expensive queries separately with noop sinks / counts so
we know WHERE the wall-clock goes before changing anything. bench.py is
frozen; this file is the measurement sandbox.

Usage: python bench_extra.py [probe ...]
Probes: ann, text. Default: all. (Pipeline layers are timed by
``perfbench/run.py --trace 1``.)
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F

from osm_sidewalkreator_spark.session import get_spark
from osm_sidewalkreator_spark.synth import ensure_synth


def timed(spark, out, name, fn, repeat=2):
    spark.sparkContext.setJobDescription(name)
    best = None
    for _ in range(repeat):
        t0 = time.time()
        fn()
        dt = time.time() - t0
        best = dt if best is None else min(best, dt)
    out[name] = round(best, 3)
    spark.sparkContext.setJobDescription(None)
    print(f"  {name}: {best:.3f}s", flush=True)


def noop(df):
    df.write.format("noop").mode("overwrite").save()


def probe_ann(spark, sf_dir, out):
    from osm_sidewalkreator_spark.operators import simsearch as SS
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    timed(spark, out, "cosine_topk_full",
          lambda: SS.cosine_topk_bruteforce(emb).count())
    # pieces of the LSH query
    timed(spark, out, "cosine_lsh_full",
          lambda: SS.cosine_topk_lsh(emb).count())
    timed(spark, out, "cosine_int8_full",
          lambda: SS.cosine_topk_quantized(emb).count())


def probe_text(spark, sf_dir, out):
    from osm_sidewalkreator_spark.operators import textops as TX
    from osm_sidewalkreator_spark.operators import graph as GR
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    sh = docs.select(
        "doc_id", TX._shingles(F.col("text"), 3).alias("sh")) \
        .filter(F.size("sh") > 0)
    timed(spark, out, "shingles_noop", lambda: noop(sh))
    ex = sh.select("doc_id", F.explode("sh").alias("shingle"))
    mins = ex.groupBy("doc_id").agg(*[
        F.min(F.xxhash64("shingle", F.lit(i))).alias(f"mh{i}")
        for i in range(16)])
    timed(spark, out, "minhash_sigs_noop", lambda: noop(mins))
    timed(spark, out, "minhash_full",
          lambda: TX.minhash_lsh_pairs(docs, 0.5).count())
    pairs = TX.minhash_lsh_pairs(docs, 0.5).select(
        F.col("id_a").alias("a"), F.col("id_b").alias("b"))
    timed(spark, out, "dedup_clusters_full",
          lambda: GR.dedup_clusters(docs.select("doc_id"), pairs)
          .filter("is_keeper").count())
    timed(spark, out, "repeated_spans_full",
          lambda: int(TX.remove_repeated_spans(docs, span_tokens=8)
                      .agg(F.sum("n_tokens_removed")).first()[0]))
    from osm_sidewalkreator_spark.plans.curate import curate_corpus
    timed(spark, out, "curate_full",
          lambda: curate_corpus(docs, min_quality=0.5).count())


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    which = sys.argv[1:] or ["ann", "text"]
    spark = get_spark(app="bench_extra")
    ensure_synth(sf_dir)
    out: dict[str, float] = {}
    if "ann" in which:
        probe_ann(spark, sf_dir, out)
    if "text" in which:
        probe_text(spark, sf_dir, out)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
