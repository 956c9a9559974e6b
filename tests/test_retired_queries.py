"""The assertions of retired gate queries, run against the live
operators they exercised, and full-oracle parity checks at sf0.001 with
the oracle SQL pointed at that scale's files.
"""

from collections import Counter

import pytest

from pyspark.sql import functions as F

import __spark_entry__ as E
from osm_sidewalkreator_spark import params as P
from osm_sidewalkreator_spark.operators import joins as J
from osm_sidewalkreator_spark.operators import simsearch as SS
from osm_sidewalkreator_spark.operators import textops as TX
from osm_sidewalkreator_spark.pages import (
    ensure_pages_geo, geocode_pages, load_pages)
from osm_sidewalkreator_spark.plans import pipeline as PL
from osm_sidewalkreator_spark.session import get_spark
from osm_sidewalkreator_spark.synth import SYNTH_ROOT, ensure_synth

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def spark():
    return get_spark()


def test_geocode_pages_covers_every_page(spark):
    out = geocode_pages(load_pages(spark, SF), SF)
    assert {"url", "x", "y"} <= set(out.columns)
    assert out.count() > 0
    assert out.filter("x IS NULL OR y IS NULL").count() == 0


def test_simhash_matches_md5_variant_shape(spark):
    # the md5 SimHash is the one SimHash path: every document with
    # text gets both 32-bit fingerprint words
    d = (spark.read.parquet(f"{SF}/documents.parquet")
         .filter(F.pmod(F.col("doc_id"), F.lit(50)) == 0))
    rows = TX.simhash64_portable(d).collect()
    assert rows
    assert len(rows) == d.filter(F.col("text").isNotNull()).count()
    assert all(0 <= r.sim_hi < 1 << 32 and 0 <= r.sim_lo < 1 << 32
               for r in rows)


def test_cosine_lsh_and_ivf_topk_contract(spark):
    # the IVF half went with cosine_topk_ivf; the LSH top-k remains
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    rows = SS.cosine_topk_lsh(emb, k=5, query_mod=50).collect()
    assert rows
    assert all(1 <= r.rank <= 5 for r in rows)
    assert all(-1.0001 <= r.cosine <= 1.0001 for r in rows)


def test_pipeline_stage_queries_still_run(spark):
    # every pipeline stage emits features; each kind's geometry is
    # pinned by a registered exact oracle (polygonize_lattice /
    # ring_bbox / crossing_geometry+enlarge / feature_contract)
    kinds = {r.kind: r["count"] for r in
             E._features(spark, SF).groupBy("kind").count().collect()}
    for kind in ("protoblock", "sidewalk", "crossing", "kerb"):
        assert kinds.get(kind, 0) > 0, kind


def _duck_df(sql):
    import duckdb
    con = duckdb.connect()
    try:
        return con.execute(sql).df()
    finally:
        con.close()


_S0001 = SYNTH_ROOT / "sf0.001"
_STREETS_0001 = f"read_parquet('{_S0001}/streets.parquet')"


def test_pages_per_block_full_oracle_parity(spark):
    # the page-in-rect join drops and duplicates no page: its per-block
    # counts equal a DuckDB range join's
    pages = spark.read.parquet(ensure_pages_geo(spark, SF)) \
        .select("url", "x", "y")
    blocks = spark.read.parquet(str(ensure_synth(SF) / "blocks.parquet"))
    j = J.pip_join_points_rects(pages, blocks, cell_size=P.CELL_SIZE_M)
    got = {(r.block_id, r.n_pages) for r in
           j.groupBy("block_id").agg(F.count("*").alias("n_pages"))
           .collect()}
    want = _duck_df(f"""
        SELECT b.block_id, count(*) AS n_pages
        FROM read_parquet('{_S0001}/pages_geo.parquet/*.parquet') p
        JOIN read_parquet('{_S0001}/blocks.parquet') b
          ON p.x >= b.xmin AND p.x < b.xmax
         AND p.y >= b.ymin AND p.y < b.ymax
        GROUP BY b.block_id
    """)
    assert got == {(r.block_id, r.n_pages)
                   for r in want.itertuples(index=False)}
    assert len(got) > 0


def _contract_rows(rows) -> Counter:
    return Counter(tuple(r) for r in rows)


def test_feature_contract_full_oracle_parity(spark):
    # the engine's crossings and kerbs equal the contract its oracle
    # writes from the crossing segments alone; a kerb whose ref_id went
    # through float64 (the pre-Int64 emit) names no crossing and breaks
    # the equality
    got = _contract_rows(E.q_feature_contract(spark, SF).collect())
    want = _contract_rows(_duck_df(E._feature_contract_sql(_S0001))
                          .itertuples(index=False))
    assert len(want) > 0 and got == want
    feats = E._features(spark, SF)
    lossy = F.col("ref_id").cast("double").cast("long")
    victim = (feats.filter((F.col("kind") == "kerb")
                           & (lossy != F.col("ref_id")))
              .agg(F.min("fid")).first()[0])
    assert victim is not None
    bad = feats.withColumn("ref_id", F.when(F.col("fid") == victim, lossy)
                           .otherwise(F.col("ref_id")))
    assert _contract_rows(E._feature_contract(bad).collect()) != want


def test_clip_aoi_full_oracle_parity(spark):
    # the AOI prefilter of the pipeline keeps exactly the streets whose
    # bbox meets the AOI rect (the true boundary cut is gated by
    # q_clip_aoi_geometry)
    got = {r.osm_id for r in
           PL.clip_to_aoi(PL.load_streets(spark, SF), spark, SF)
           .select("osm_id").collect()}
    want = _duck_df(f"""
        SELECT s.osm_id FROM {_STREETS_0001} s,
                             read_parquet('{_S0001}/aoi.parquet') a
        WHERE greatest(s.x1, s.x2) >= a.xmin
          AND least(s.x1, s.x2) <= a.xmax
          AND greatest(s.y1, s.y2) >= a.ymin
          AND least(s.y1, s.y2) <= a.ymax
    """)
    assert got == set(want.osm_id.tolist())
    assert len(got) > 0
