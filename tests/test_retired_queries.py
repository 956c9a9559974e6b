"""Queries retired from the driver registry (curated to the ~50-row
gate window) keep their coverage here: each still runs and its
cheap-to-state invariants hold. The exact-oracle signal they used to
carry is held by a registered sibling (see the queries() docstring).
"""

import pytest

import __spark_entry__ as E
from osm_sidewalkreator_spark.session import get_spark
from osm_sidewalkreator_spark.sources import golden as G
from osm_sidewalkreator_spark.synth import SYNTH_ROOT

SF = "/root/testdata/sf0.001"

needs_golden = pytest.mark.skipif(
    not G.available(), reason="reference golden fixtures not present")


@pytest.fixture(scope="module")
def spark():
    return get_spark(shuffle_partitions=8)


def test_simhash_matches_md5_variant_shape(spark):
    # algebra exactly gated by the registered q_simhash_md5
    rows = E.q_simhash(spark, SF).limit(50).collect()
    assert rows and all(r.simhash is not None for r in rows)


def test_events_minutely_equals_streaming_rollup(spark):
    # q_events_minutely shared q_events_streaming's oracle; assert the
    # two engines' rollups are set-equal directly
    a = {tuple(r) for r in E.q_events_minutely(spark, SF).collect()}
    b = {tuple(r) for r in E.q_events_streaming(spark, SF).collect()}
    assert a == b and len(a) > 0


def test_geocode_pages_covers_every_page(spark):
    out = E.q_geocode_pages(spark, SF)
    assert set(out.columns) == {"url", "x", "y"}
    assert out.count() > 0
    assert out.filter("x IS NULL OR y IS NULL").count() == 0


def test_cosine_lsh_and_ivf_topk_contract(spark):
    for q in (E.q_cosine_lsh, E.q_cosine_ivf):
        df = q(spark, SF)
        rows = df.collect()
        assert rows
        assert all(1 <= r.rank <= 5 for r in rows)
        assert all(-1.0001 <= r.cosine <= 1.0001 for r in rows)


def test_pipeline_stage_queries_still_run(spark):
    # rows-only pipeline stages, each pinned by a registered exact
    # geometry oracle (polygonize_lattice / ring_bbox /
    # crossing_geometry+enlarge / golden_kerb_anchor)
    for q in (E.q_protoblocks, E.q_sidewalk_rings, E.q_crossings,
              E.q_kerbs):
        assert q(spark, SF).count() > 0


@needs_golden
def test_golden_protoblock_faces_recovers_29_faces(spark):
    # retired from the gate (rows-only by design — the polygonizer is a
    # geometry kernel, not SQL) in favour of the exact q_dedup_clusters;
    # the reference-parity claim stays pinned here: the engine's
    # noder+face tracer must recover exactly the 29 real protoblock
    # faces from the golden linework (area parity is asserted in
    # tests/test_golden_fixtures.py)
    rows = E.q_golden_protoblock_faces(spark, SF).collect()
    assert len(rows) == 29
    assert all(r.area_m2 > 0 for r in rows)


def test_html_bytes_matches_octet_length(spark):
    # retired round 5 (slot given to q_voronoi_split): the byte
    # accounting is pure octet_length; assert it directly against the
    # JVM length() of the binary column so the exact-parity claim the
    # gate used to carry stays pinned
    from pyspark.sql import functions as F
    from osm_sidewalkreator_spark.pages import load_pages

    out = E.q_html_bytes(spark, SF)
    pages = load_pages(spark, SF).select(
        "url", F.length("html").alias("want"))
    bad = (out.join(pages, "url")
           .filter(F.col("n_bytes") != F.col("want")).count())
    assert bad == 0
    assert out.count() == pages.count() > 0


@needs_golden
def test_golden_crossing_length_attr_parity(spark):
    # retired round 5 (slot given to q_curate_chain): crossing-length
    # geometry stays mm-exact-gated by q_crossing_geometry +
    # q_crossing_enlarge; the golden fixture's length attribute vs
    # engine TM reprojection claim stays asserted here
    rows = E.q_golden_crossing_length(spark, SF).collect()
    assert len(rows) > 0
    assert all(abs(r.tm_ratio - 1.0) <= 0.01 for r in rows)
    assert all(r.attr_mm > 0 for r in rows)


def _duck_df(sql):
    import duckdb
    con = duckdb.connect()
    try:
        return con.execute(sql).df()
    finally:
        con.close()


_S0001 = SYNTH_ROOT / "sf0.001"
_STREETS_0001 = f"read_parquet('{_S0001}/streets.parquet')"


def test_dedup_canonical_full_oracle_parity(spark):
    # retired round 5 (slot given to q_weighted_sample): A9 stays
    # exact-gated by q_dedup_geometries; the orientation-insensitive
    # canonical variant keeps its FULL DuckDB parity here
    got = sorted(r.osm_id for r in E.q_dedup_canonical(spark, SF).collect())
    want = _duck_df(E._dedup_canonical_sql(_STREETS_0001))
    assert got == sorted(want.osm_id.tolist())
    assert len(got) > 0


def test_overlay_concave_full_oracle_parity(spark):
    # retired round 5 (slot given to q_ivf_cells): J2/J3 stay gated by
    # q_overlay_intersection/_poly_poly/_difference; the concave
    # even-odd kernel keeps its FULL DuckDB parity here (L-shape =
    # union of its two rectangles)
    got = {tuple(r) for r in E.q_overlay_concave(spark, SF).collect()}
    want = _duck_df(E._overlay_concave_sql(_STREETS_0001))
    assert got == {tuple(r) for r in want.itertuples(index=False)}
    assert len(got) > 0


def test_pages_per_block_full_oracle_parity(spark):
    # retired round 5 (slot given to q_lm_nll): the join is exactly
    # q_pip_pages_blocks' gate-registered join; the trailing GROUP BY
    # count keeps its FULL DuckDB parity here
    got = {(r.block_id, r.n_pages)
           for r in E.q_pages_per_block(spark, SF).collect()}
    want = _duck_df(E._pages_per_block_sql(
        f"read_parquet('{_S0001}/pages_geo.parquet/*.parquet')",
        f"read_parquet('{_S0001}/blocks.parquet')"))
    assert got == {(r.block_id, r.n_pages)
                   for r in want.itertuples(index=False)}
    assert len(got) > 0


@needs_golden
def test_golden_kerb_anchor_full_oracle_parity(spark):
    # retired round 5 (slot given to q_bm25_rank): G18 stays exact-gated
    # by q_crossing_geometry + q_crossing_enlarge; the golden kerb
    # anchoring contract keeps its FULL DuckDB parity here
    got = (E.q_golden_kerb_anchor(spark, SF).toPandas()
           .sort_values("kerb_id").reset_index(drop=True))
    want = (_duck_df(E._golden_kerb_anchor_sql())
            .sort_values("kerb_id").reset_index(drop=True))
    assert len(got) == len(want) > 0
    for col in ("kerb_id", "crossing_id", "n_vertices", "anchored"):
        assert got[col].tolist() == want[col].tolist(), col
    assert got["anchored"].all()


def test_clip_aoi_full_oracle_parity(spark):
    # retired round 5 (slot given to q_temperature_mix): the bbox
    # membership predicate is one of q_extract_by_location's 8 pinned
    # predicates and the true boundary cut stays exact-gated via
    # q_clip_aoi_geometry; the full membership oracle lives on here
    got = {r.osm_id for r in E.q_clip_aoi(spark, SF).collect()}
    want = _duck_df(E._clip_aoi_sql(
        _STREETS_0001,
        f"read_parquet('{_S0001}/aoi.parquet')"))
    assert got == set(want.osm_id.tolist())
    assert len(got) > 0
