"""Spark-level operator tests (shared local session, smoke scale).

Mirrors the reference's algorithm-level tests with mocked I/O
(SURVEY.md §5 item 3): fixed synthetic city in, invariant counts out.
"""

import contextlib
import datetime
import os
import time
import warnings
from pathlib import Path

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from osm_sidewalkreator_spark import params as P
from osm_sidewalkreator_spark.operators import joins as J
from osm_sidewalkreator_spark.operators import multimodal as MM
from osm_sidewalkreator_spark.operators import textops as TX
from osm_sidewalkreator_spark.plans import pipeline as PL
from osm_sidewalkreator_spark.session import get_spark
from osm_sidewalkreator_spark.synth import SCALES

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app="tests")
    yield s


@pytest.fixture(scope="session")
def features(spark):
    return PL.generate_features(spark, SF).cache()


def test_assign_widths_semantics(spark):
    df = PL.assign_widths(PL.load_streets(spark, SF))
    rows = {r["osm_id"]: r["width_m"] for r in
            df.select("osm_id", "width_m").collect()}
    st = {r["osm_id"]: r for r in
          PL.load_streets(spark, SF).collect()}
    # footway/service classes dropped (default width 0 < 0.5)
    for oid, r in st.items():
        if r["highway"] in ("footway", "service") and r["width"] is None:
            assert oid not in rows
    # explicit numeric width wins; junk string falls back to class default
    for oid, r in st.items():
        if oid in rows and r["width"] == "8.0":
            assert rows[oid] == 8.0
        if oid in rows and r["width"] == "about six":
            assert rows[oid] == P.DEFAULT_WIDTHS[r["highway"]]


def test_feature_invariants(features):
    counts = {r["kind"]: r["n"] for r in
              features.groupBy("kind").agg(F.count("*").alias("n")).collect()}
    assert counts["kerb"] == 2 * counts["crossing"]
    assert counts["protoblock"] > 0 and counts["sidewalk"] > 0
    # crossing length cap (parameters.py:172)
    mx = features.filter(F.col("kind") == "crossing") \
        .agg(F.max("length")).first()[0]
    assert mx <= P.ABS_MAX_CROSSING_LEN
    # no duplicate fids across tiles (halo ownership dedup)
    n = features.count()
    assert features.select("fid").distinct().count() == n


def test_kerb_ref_id_names_its_crossing(spark, features):
    """Every kerb's ``ref_id`` is its crossing's 64-bit fid, exactly,
    through the EPSG:4326 export; each crossing has two kerbs, and the
    GeoJSON feature id of a crossing is its fid."""
    from collections import Counter

    from osm_sidewalkreator_spark.sources.geojson import \
        features_to_geojson_rows
    f = PL.features_4326(features)
    crossings = {r.fid for r in
                 f.filter(F.col("kind") == "crossing").select("fid").collect()}
    refs = Counter(r.ref_id for r in f.filter(F.col("kind") == "kerb")
                   .select("ref_id").collect())
    assert crossings and max(crossings) > 2 ** 53
    assert set(refs) == crossings and set(refs.values()) == {2}
    ids = {r.fid: r.feature_json for r in features_to_geojson_rows(f)
           .filter(F.col("kind") == "crossing").collect()}
    assert all(js.startswith(f'{{"type":"Feature","id":{fid},')
               for fid, js in ids.items())


def test_crossings_have_5_vertices(spark, features):
    from osm_sidewalkreator_spark.geometry import wkb
    nv = [sum(map(len, wkb.decode_lines(bytes(r.geometry))))
          for r in features.filter(F.col("kind") == "crossing")
          .select("geometry").collect()]
    assert nv and set(nv) == {5}


def test_pip_rect_join_matches_truth(spark):
    from osm_sidewalkreator_spark.pages import geocode_pages, load_pages
    pages = geocode_pages(load_pages(spark, SF), SF) \
        .select("url", "x", "y", "block_truth")
    from osm_sidewalkreator_spark.synth import ensure_synth
    blocks = spark.read.parquet(
        str(ensure_synth(SF) / "blocks.parquet"))
    j = J.pip_join_points_rects(pages.select("url", "x", "y"), blocks)
    joined = j.join(pages.select("url", "block_truth"), "url")
    # geocode places each page inside its truth block by construction
    mism = joined.filter(F.col("block_id") != F.col("block_truth")).count()
    assert mism == 0


def test_knn_join_agrees_with_bruteforce(spark):
    import pandas as pd
    rng = np.random.default_rng(7)
    pts = pd.DataFrame({
        "url": [f"p{i}" for i in range(200)],
        "x": rng.uniform(-200, 200, 200),
        "y": rng.uniform(-200, 200, 200)})
    segs = pd.DataFrame({
        "seg_id": np.arange(40),
        "ax": rng.uniform(-200, 200, 40),
        "ay": rng.uniform(-200, 200, 40)})
    segs["bx"] = segs["ax"] + rng.uniform(-30, 30, 40)
    segs["by"] = segs["ay"] + rng.uniform(-30, 30, 40)
    got = J.knn_join_points_segments(
        spark.createDataFrame(pts), spark.createDataFrame(segs),
        k=1, max_dist=50.0, cell_size=64.0).toPandas()
    # NumPy brute force
    from osm_sidewalkreator_spark.geometry.core import closest_on_segments
    sarr = segs[["ax", "ay", "bx", "by"]].to_numpy()
    best = closest_on_segments(pts["x"].to_numpy()[:, None],
                               pts["y"].to_numpy()[:, None],
                               sarr)[2].min(axis=1)
    expected = {u for u, d in zip(pts["url"], best) if d <= 50.0}
    assert set(got["url"]) == expected
    gd = dict(zip(got["url"], got["dist"]))
    for u, d in zip(pts["url"], best):
        if u in gd:
            assert abs(gd[u] - d) < 1e-9


def test_exact_dedup(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = TX.exact_dedup(docs)
    assert out.agg(F.sum("dup_count")).first()[0] == docs.count()


def test_minhash_finds_exact_dups(spark):
    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    exact = set(map(tuple, TX.ngram_jaccard_pairs(docs, 0.99)
                    .select("id_a", "id_b").collect()))
    mh = set(map(tuple, TX.minhash_lsh_pairs(docs, 0.99)
                 .select("id_a", "id_b").collect()))
    assert exact == mh  # J=1 pairs: banded MinHash recall is exact


def test_media_stub_raises_without_fake():
    with pytest.raises(NotImplementedError):
        MM.decode_media(b"abc", "image/png", use_fake=False)


def test_media_fake_batch_shape(spark):
    from osm_sidewalkreator_spark.pages import load_pages
    df = load_pages(spark, SF).limit(50)
    out = MM.extract_media_features(df)
    pdf = out.toPandas()
    assert len(pdf) == 50
    assert (pdf["n_bytes"] > 0).all()
    assert (pdf["width_px"] * pdf["height_px"] <= pdf["n_bytes"]).all()


def _rows(df, cols):
    return sorted(tuple(r) for r in df.select(*cols).collect())


def test_checkpoint_resume(spark, tmp_path):
    """North-rule: kill/restart resumes from the tile manifest."""
    from osm_sidewalkreator_spark.streaming.checkpoint import (
        TileManifest, run_tiled_job)
    tiled, ctx = PL.tiled_inputs(spark, SF)
    job_dir = tmp_path / "job1"
    k3 = PL.make_tile_kernel(P.TILE_SIZE_M)

    def run_job():
        return run_tiled_job(spark, tiled, k3, PL.FEATURE_SCHEMA,
                             str(job_dir), ctx_tiled=ctx)

    out1 = run_job()
    n1 = out1.count()
    man = TileManifest(str(job_dir))
    committed = man.committed()
    assert len(committed) > 0
    # executor-side commit protocol: markers drained into the manifest
    assert not list((job_dir / "markers").glob("*.json"))
    # every manifest row carries lineage + metrics
    for row in committed.values():
        assert "input_fingerprint" in row and "seconds" in row
    # resume: nothing recomputes (tile parquet mtimes untouched)
    import os
    mtimes = {p: os.path.getmtime(p) for p in
              (job_dir / "tiles").glob("*.parquet")}
    out2 = run_job()
    assert out2.count() == n1
    assert {p: os.path.getmtime(p) for p in
            (job_dir / "tiles").glob("*.parquet")} == mtimes
    # lineage: tamper one tile's fingerprint -> exactly that tile redoes
    import json as _json
    rows = list(man.committed().values())
    victim = next(r for r in rows if r.get("path"))
    victim_path = victim["path"]
    victim["input_fingerprint"] = victim["input_fingerprint"] ^ 1
    with open(man.manifest_path, "w") as f:
        for r in rows:
            f.write(_json.dumps(r) + "\n")
    os.remove(victim_path)
    out3 = run_job()
    assert out3.count() == n1
    assert os.path.exists(victim_path)
    untouched = {p: m for p, m in mtimes.items() if str(p) != victim_path}
    assert all(os.path.getmtime(p) == m for p, m in untouched.items())


def test_checkpoint_deleted_tile_not_resurrected(spark, tmp_path):
    """A tile whose segments vanish from the input must not keep its
    stale committed output in the resumed result (the fingerprint
    anti-join alone only catches CHANGED tiles, not deleted ones)."""
    from osm_sidewalkreator_spark.operators.tiling import cover_cells
    from osm_sidewalkreator_spark.streaming.checkpoint import run_tiled_job
    streets = PL.assign_widths(
        PL.clip_to_aoi(PL.load_streets(spark, SF), spark, SF))
    segs = PL.street_segments_tm(streets)
    tiled = segs.withColumn("tile", F.explode(cover_cells(
        F.least("ax", "bx"), F.least("ay", "by"),
        F.greatest("ax", "bx"), F.greatest("ay", "by"),
        P.TILE_SIZE_M, pad=P.TILE_HALO_M)))
    job_dir = tmp_path / "job_del"
    k3 = PL.make_tile_kernel(P.TILE_SIZE_M)
    out1 = run_tiled_job(spark, tiled, k3, PL.FEATURE_SCHEMA, str(job_dir))
    tiles1 = {r["tile"] for r in out1.select("tile").distinct().collect()}
    victim = min(tiles1)
    shrunk = tiled.filter(F.col("tile") != victim)
    out2 = run_tiled_job(spark, shrunk, k3, PL.FEATURE_SCHEMA,
                         str(job_dir))
    tiles2 = {r["tile"] for r in out2.select("tile").distinct().collect()}
    assert victim not in tiles2
    assert tiles2 == tiles1 - {victim}


def test_tiled_job_matches_generate_features(spark, features, tmp_path):
    """The production launch path (run_tiled_job with real context) must
    produce exactly the feature set of the verified query path
    (PL.generate_features) on the same input."""
    from osm_sidewalkreator_spark.streaming.checkpoint import run_tiled_job
    tiled, ctx = PL.tiled_inputs(spark, SF)
    got = run_tiled_job(spark, tiled, PL.make_tile_kernel(P.TILE_SIZE_M),
                        PL.FEATURE_SCHEMA, str(tmp_path / "job2"),
                        ctx_tiled=ctx)
    cols = ["tile", "kind", "fid", "cx", "cy"]
    assert _rows(got, cols) == _rows(features, cols)


def test_generate_features_sees_input_rewritten_in_place(spark, tmp_path):
    """The cross-call memo is keyed by the input files: once
    streets.parquet is rewritten in place, the next call must read the
    new streets, not the previous call's persisted plan."""
    import pyarrow.parquet as pq
    from osm_sidewalkreator_spark.operators.tiling import cover_cells
    from osm_sidewalkreator_spark.streaming.checkpoint import run_tiled_job
    from osm_sidewalkreator_spark.synth import ensure_synth
    sf = tmp_path / "sf0.001"
    sf.mkdir()
    streets = pq.read_table(ensure_synth(SF) / "streets.parquet")
    pq.write_table(streets, sf / "streets.parquet")
    cols = ["tile", "kind", "fid", "geometry"]
    first = _rows(PL.generate_features(spark, str(sf)), cols)
    pq.write_table(streets.slice(0, streets.num_rows * 3 // 4),
                   sf / "streets.parquet")
    second = _rows(PL.generate_features(spark, str(sf)), cols)
    # the same input through the public stages, outside the memo
    segs = PL.clip_segments_to_rect(
        PL.street_segments_tm(PL.assign_widths(PL.clip_to_aoi(
            PL.load_streets(spark, str(sf)), spark, str(sf)))),
        spark.read.parquet(str(ensure_synth(SF) / "aoi.parquet")))
    tiled = segs.withColumn("tile", F.explode(cover_cells(
        F.least("ax", "bx"), F.least("ay", "by"),
        F.greatest("ax", "bx"), F.greatest("ay", "by"),
        P.TILE_SIZE_M, pad=P.TILE_HALO_M)))
    job = run_tiled_job(
        spark, tiled, PL.make_tile_kernel(P.TILE_SIZE_M), PL.FEATURE_SCHEMA,
        str(tmp_path / "job"),
        ctx_tiled=PL.load_context_tiled(spark, str(sf), P.TILE_SIZE_M,
                                        P.TILE_HALO_M))
    assert second != first
    assert second == _rows(job, cols)


def test_tile_placement_does_not_change_features(spark, features,
                                                 monkeypatch):
    """Hash placement (forced by a zero LPT census cap) emits exactly the
    features of LPT placement."""
    monkeypatch.setattr(PL, "_LPT_MAX_TILES", 0)
    cols = ["tile", "kind", "fid", "geometry"]
    assert _rows(PL.generate_features(spark, SF), cols) == \
        _rows(features, cols)


def test_input_key_reads_no_table(spark):
    """The memo key stats the files under the resolved parquet paths: it
    never reads a table through Spark (each read is a schema-inference
    job), and a catalog prefix turns the memo off."""
    from osm_sidewalkreator_spark.sources.catalog import PREFIX_CONF

    class NoReadSession:
        conf = spark.conf

        @property
        def read(self):
            raise AssertionError("the memo key must not read a table")

    args = (SF, P.TILE_SIZE_M, P.TILE_HALO_M)
    key = PL._input_key(NoReadSession(), *args)
    assert key is not None and key == PL._input_key(spark, *args)
    tables = {os.path.basename(p).split(".")[0]
              for p, _, _ in key[3] if p.endswith(".parquet")}
    assert {"streets", "aoi", "buildings", "addresses"} <= tables
    spark.conf.set(PREFIX_CONF, "cat_seam_")
    try:
        assert PL._input_key(NoReadSession(), *args) is None
    finally:
        spark.conf.unset(PREFIX_CONF)


def _plan_nodes(plan):
    yield plan
    kids = plan.children()
    for i in range(kids.size()):
        yield from _plan_nodes(kids.apply(i))


def _node_class(node):
    return node.getClass().getSimpleName()


def test_run_tiles_plan_is_local_and_sized_by_cores(spark):
    """The memoized census and both placement frames are LocalRelations
    (no job when evaluated); the cogroup has min(tiles, cores) buckets
    and every bucket holds at least one tile."""
    def bucket_probe(key, pdf, ctx):
        return pd.DataFrame({"tile": [key[0]],
                             "bucket": [int(pdf["_bucket"].iloc[0])]})

    tiled, ctx = PL.tiled_inputs(spark, SF)
    census = PL.tile_census(spark, tiled)
    assert PL.tile_census(spark, tiled) is census
    assert _node_class(
        census._jdf.queryExecution().optimizedPlan()) == "LocalRelation"
    cores = spark.sparkContext.defaultParallelism
    for cen in (census, census.limit(2)):
        tiles = {r.tile for r in cen.collect()}
        n_part = min(len(tiles), cores)
        out = PL.run_tiles(spark, tiled, ctx, cen, bucket_probe,
                           "tile long, bucket int")
        nodes = list(_plan_nodes(out._jdf.queryExecution().optimizedPlan()))
        local = sorted(
            [o.apply(i).name() for i in range(o.size())]
            for o in (n.output() for n in nodes
                      if _node_class(n) == "LocalRelation"))
        assert local == [["tile", "_bucket"], ["tile", "fp", "_bucket"]]
        assert [n.numPartitions() for n in nodes
                if _node_class(n) == "RepartitionByExpression"] == \
            [n_part, n_part]
        got = out.collect()
        assert sorted(r.tile for r in got) == sorted(tiles)
        assert {r.bucket for r in got} == set(range(n_part))


def test_multi_tile_bucket_concat_is_warning_free(spark, features):
    """One bucket holding every tile plus two stub tiles concatenates its
    tile frames without a pandas FutureWarning, and emits the values of
    the cogroup and of the stubs run alone. The stubs are copies moved
    four tiles east: one street, which emits nothing, and the streets
    near (-262, 150), which emit one crossing with no neighbour, so
    their ``near_center`` column is all None."""
    tiled, ctx = PL.tiled_inputs(spark, SF)
    census = PL.tile_census(spark, tiled)
    pdf = tiled.join(census.select("tile", "fp"), "tile") \
        .withColumn("_bucket", F.lit(0)).toPandas()
    east = 4 * P.TILE_SIZE_M

    def moved(segs, tile):
        return segs.assign(tile=tile, fp=tile, ax=segs["ax"] + east,
                           bx=segs["bx"] + east)

    street = pdf[pdf["osm_id"] == pdf["osm_id"].iloc[0]] \
        .drop_duplicates(["ax", "ay", "bx", "by"])
    xs, ys = pdf[["ax", "bx"]], pdf[["ay", "by"]]
    block = pdf[(pdf["tile"] == -1 << 32)
                & (xs.max(axis=1) >= -382) & (xs.min(axis=1) <= -142)
                & (ys.max(axis=1) >= 30) & (ys.min(axis=1) <= 270)]
    stubs = [moved(street, 4 << 32), moved(block, 3 << 32)]
    tile_kernel = PL.make_tile_kernel(P.TILE_SIZE_M)
    alone = tile_kernel((3 << 32,), stubs[1], ctx.toPandas().iloc[:0])
    assert len(alone) and alone["near_center"].isna().all()
    kernel = PL._bucket_kernel(tile_kernel)
    with warnings.catch_warnings():
        warnings.simplefilter("error", FutureWarning)
        out = kernel((0,), pd.concat([pdf] + stubs), ctx.toPandas())
    cols = [f.name for f in PL.FEATURE_SCHEMA]

    def rows(pdf):
        return _rows(spark.createDataFrame(pdf, PL.FEATURE_SCHEMA), cols)
    assert rows(out) == sorted(_rows(features, cols) + rows(alone))


def test_lsh_multitable_recall(spark):
    """Scale-path ANN: multi-table LSH recall@5 >= 0.9 with a sublinear
    candidate set on CLUSTERED embeddings (VERDICT r1 next #8).

    The driver's synthetic embeddings are near-uniform on the sphere
    (measured top-5 cosine 0.27-0.45): no hash family can beat brute
    force there, so bench reports the measured recall on them as an
    honest data-hardness number while THIS test pins the operator's
    behavior where ANN is meaningful (20 clusters + noise)."""
    import numpy as np
    from osm_sidewalkreator_spark.operators import simsearch as SS
    rng = np.random.default_rng(42)
    cent = rng.normal(0, 1, (20, 64))
    cent /= np.linalg.norm(cent, axis=1, keepdims=True)
    vecs = cent[np.arange(2000) % 20] + rng.normal(0, 0.12, (2000, 64))
    emb = spark.createDataFrame(
        [(int(i), [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<double>")
    r = SS.recall_at_k(
        SS.cosine_topk_lsh(emb, k=5, n_planes=4, n_tables=12), emb, k=5)
    assert r >= 0.9, f"recall {r}"


def test_jaccard_df_cap_scale_guard(spark):
    """max_df excludes only ubiquitous shingles: with a cap above the
    corpus ceiling the result is identical to exact."""
    from osm_sidewalkreator_spark.operators import textops as TX
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    exact = {tuple(r) for r in
             TX.ngram_jaccard_pairs(docs, 0.5).collect()}
    capped_loose = {tuple(r) for r in
                    TX.ngram_jaccard_pairs(docs, 0.5, max_df=10**9)
                    .collect()}
    assert capped_loose == exact
    # a tight cap can only LOSE pairs (undercounts intersections)
    capped_tight = {tuple(r[:2]) for r in
                    TX.ngram_jaccard_pairs(docs, 0.5, max_df=2).collect()}
    assert capped_tight <= {t[:2] for t in exact}


@contextlib.contextmanager
def _stream_triggers(spark, name):
    """Progress of each trigger of the stream ``name`` run inside the
    block, complete once the block exits (a listener receives it)."""
    from pyspark.sql.streaming import StreamingQueryListener
    progress, ended = [], set()

    class Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            if event.progress.name == name:
                progress.append(event.progress)

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            ended.add(str(event.id))

    listener = Listener()
    spark.streams.addListener(listener)
    try:
        yield progress
        # listener events arrive asynchronously: wait for the query's end
        deadline = time.monotonic() + 60
        while not (progress and str(progress[0].id) in ended) \
                and time.monotonic() < deadline:
            time.sleep(0.05)
        assert progress and str(progress[0].id) in ended
    finally:
        spark.streams.removeListener(listener)


def _state_rows(progress):
    return [p.stateOperators[0].numRowsTotal for p in progress]


def _minutely_batch(spark, sf_dir):
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return {tuple(r) for r in ev.groupBy(
        "event_type",
        F.unix_timestamp(F.date_trunc("minute", "ts")).alias("minute_epoch"))
        .agg(F.count("*").alias("n"),
             F.sum(F.round(F.col("value") * 1000).cast("long"))
             .alias("value_milli")).collect()}


def _sessions_batch(spark, sf_dir):
    ev = spark.read.parquet(f"{sf_dir}/events.parquet") \
        .withColumn("ts", F.to_timestamp("ts"))
    agg = ev.groupBy(F.session_window("ts", "12 hours").alias("w"),
                     "user_id") \
        .agg(F.count("*").alias("n_events"),
             F.sum(F.round(F.col("value") * 1000).cast("long"))
             .alias("value_milli"))
    return {tuple(r) for r in agg.select(
        "user_id", F.unix_timestamp("w.start"), F.unix_timestamp("w.end"),
        "n_events", "value_milli").collect()}


def test_sessionize_stream_matches_batch(spark):
    """Native session windows: the watermarked APPEND-mode stream (the
    watermark evicts closed sessions) emits exactly the batch
    aggregation on the bounded input, and its state SHRINKS once the
    sentinel advances the watermark past every real session
    (SURVEY.md 2.9)."""
    from osm_sidewalkreator_spark.streaming import events_stream as ES
    with _stream_triggers(spark, "events_sessions") as progress:
        stream = {tuple(r) for r in
                  ES.sessionize_events(spark, SF).collect()}
    assert stream == _sessions_batch(spark, SF) and len(stream) > 300
    state = _state_rows(progress)
    # eviction proof: state does not grow across the final triggers and
    # ends holding (at most) the sentinel's own session
    assert len(state) >= 2 and state[-1] <= 1 and state[-1] < max(state)


def test_minutely_stream_append_evicts_state(spark):
    """The tumbling-window stream runs APPEND-mode: it emits exactly the
    batch GROUP BY of the same minutes, and the watermark EVICTS closed
    windows from state."""
    from osm_sidewalkreator_spark.streaming import events_stream as ES
    with _stream_triggers(spark, "events_minutely") as progress:
        app = {tuple(r) for r in ES.run_events_stream(spark, SF).collect()}
    assert app == _minutely_batch(spark, SF) and len(app) > 100
    state = _state_rows(progress)
    # eviction proof: state shrinks to (at most) the sentinel's own
    # window once the watermark passes every real window
    assert len(state) >= 2 and state[-1] <= 1 and state[-1] < max(state)


def test_stream_stages_each_input_afresh(spark, tmp_path):
    """Two input directories with the same basename and different events
    each stream their own events: nothing staged for one input is
    reused for another."""
    import pyarrow.parquet as pq
    from osm_sidewalkreator_spark.streaming import events_stream as ES
    events = pq.read_table(f"{SF}/events.parquet")
    got = []
    for i, part in enumerate((events.slice(0, 500), events.slice(500))):
        sf_dir = tmp_path / str(i) / Path(SF).name
        sf_dir.mkdir(parents=True)
        pq.write_table(part, sf_dir / "events.parquet")
        minutely = {tuple(r) for r in
                    ES.run_events_stream(spark, str(sf_dir)).collect()}
        sessions = {tuple(r) for r in
                    ES.sessionize_events(spark, str(sf_dir)).collect()}
        assert minutely == _minutely_batch(spark, sf_dir)
        assert sessions == _sessions_batch(spark, sf_dir)
        got.append((minutely, sessions))
    assert got[0][0] != got[1][0] and got[0][1] != got[1][1]


def test_embedding_neardup_lsh_subset(spark):
    """LSH-candidate near-dup dedup only ever KEEPS more than exact
    (a missed candidate pair keeps a duplicate, never drops a
    survivor); with enough tables it converges to exact."""
    from osm_sidewalkreator_spark.operators import simsearch as SS
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    exact = {r.vec_id for r in
             SS.embedding_neardup_dedup(emb, 0.35).collect()}
    lsh = {r.vec_id for r in
           SS.embedding_neardup_dedup(emb, 0.35, use_lsh=True).collect()}
    assert exact <= lsh


def test_stream_dedup_stateful(spark):
    """applyInPandasWithState dedup: the events arrive in one trigger and
    the 20% replay in the next, which finds every id in state and adds
    no row; the output is exactly the distinct source ids, and state
    keeps each id for 7 days of event time (custom stateful op, SURVEY
    2.10)."""
    import pyarrow.parquet as pq
    from osm_sidewalkreator_spark.streaming import events_stream as ES
    with _stream_triggers(spark, "events_dedup") as progress:
        ids = [r.event_id for r in
               ES.run_stream_dedup(spark, SF).select("event_id").collect()]
    src_n = spark.read.parquet(f"{SF}/events.parquet").count()
    assert len(ids) == len(set(ids)) == src_n
    triggers = [(p.numInputRows, p.sink.numOutputRows) for p in progress]
    assert triggers == [(src_n, src_n), (src_n // 5, 0)]
    # the 7-day TTL counts from each event's time: the replay trigger's
    # watermark (last event - 10 min) evicts exactly the keys whose event
    # is more than 7 days older than it, not every key of trigger 0
    ts = pq.read_table(f"{SF}/events.parquet", columns=["ts"])["ts"]
    ts = ts.to_pylist()
    wm = max(ts) - datetime.timedelta(minutes=10)
    ttl = datetime.timedelta(milliseconds=ES._TTL_MS)
    live = sum(t + ttl >= wm for t in ts)
    assert 0 < live < src_n and _state_rows(progress)[-1] == live


def test_pair_dot_is_bit_identical_to_jvm_fold(spark):
    """The Arrow-batched ``_pair_dot`` equals the JVM ``_dot`` fold bit
    for bit, and ``_refine``'s cosine equals the all-JVM
    round(_dot / (_norm * _norm), 9): the ANN refines depend on it."""
    from osm_sidewalkreator_spark.operators import simsearch as SS
    e = SS._vectors(spark.read.parquet(f"{SF}/embeddings.parquet"))
    q = SS._queries(e, 50).withColumnRenamed("v", "qv")
    pairs = q.crossJoin(e)
    qv, v = F.col("qv"), F.col("v")
    rows = pairs.select(SS._pair_dot(qv, v).alias("udf"),
                        SS._dot(qv, v).alias("jvm")).collect()
    assert len(rows) == 10 * e.count()
    assert all(r.udf == r.jvm for r in rows)
    jvm = F.round(SS._dot(qv, v) / (SS._norm(qv) * SS._norm(v)), 9)
    want = {(r.query_id, r.vec_id): r.c for r in
            pairs.select("query_id", "vec_id", jvm.alias("c")).collect()}
    got = {(r.query_id, r.vec_id): r.cosine for r in
           SS._refine(pairs.select("query_id", "vec_id"), e).collect()}
    assert got == want


def test_polygon_overlay_overlapping_union(spark):
    """polygon_overlay_polygons difference subtracts the UNION of
    overlapping B polygons (inclusion-exclusion truth), and
    intersection recovers each pair's area, concave A included."""
    from osm_sidewalkreator_spark.geometry import wkb as WKB
    from osm_sidewalkreator_spark.operators.overlay import (
        polygon_overlay_polygons)

    def poly_row(pid, x0, y0, wdt, hgt):
        ring = np.array([[x0, y0], [x0 + wdt, y0], [x0 + wdt, y0 + hgt],
                         [x0, y0 + hgt], [x0, y0]])
        return (pid, float(x0), float(y0), float(x0 + wdt),
                float(y0 + hgt), bytearray(WKB.polygon_wkb(ring)))

    schema = ("a_id long, xmin double, ymin double, xmax double, "
              "ymax double, geometry binary")
    a = spark.createDataFrame([poly_row(1, 0.3, 0.7, 100, 80)], schema)
    # two OVERLAPPING rects inside A: 40x30 and 40x30 overlapping 20x10
    b = spark.createDataFrame(
        [poly_row(10, 10.5, 20.9, 40, 30), poly_row(11, 30.5, 40.9, 40, 30)],
        schema.replace("a_id", "b_id"))
    union_b = 40 * 30 + 40 * 30 - 20 * 10
    diff = polygon_overlay_polygons(a, b, op="difference",
                                    a_id="a_id", b_id="b_id")
    got = diff.agg(F.sum("area")).collect()[0][0]
    assert abs(got - (100 * 80 - union_b)) < 1e-3
    inter = polygon_overlay_polygons(a, b, op="intersection",
                                     a_id="a_id", b_id="b_id")
    per = {r["b_id"]: r["area"] for r in
           inter.groupBy("b_id").agg(F.sum("area").alias("area"))
           .collect()}
    assert abs(per[10] - 1200) < 1e-3 and abs(per[11] - 1200) < 1e-3


def test_simhash_portable_hamming_property(spark):
    """Portable (md5-half) SimHash: near-identical docs land at small
    hamming distance, unrelated docs far — and the fingerprint is a
    pure function of the text (deterministic across runs)."""
    import hashlib

    rows = [
        (0, "the quick brown fox jumps over the lazy dog near the river"),
        (1, "the quick brown fox jumps over the lazy cat near the river"),
        (2, "completely different words about spark shuffles and parquet"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: (r["sim_hi"] << 32) | r["sim_lo"]
           for r in TX.simhash64_portable(docs).collect()}

    def ham(a, b):
        return bin(a ^ b).count("1")

    assert ham(out[0], out[1]) < ham(out[0], out[2])
    assert ham(out[0], out[1]) <= 16

    # engine-independent reference: replicate the vote algebra in pure
    # python over md5 halves for doc 0
    votes = [0] * 64
    for tok in rows[0][1].split(" "):
        hx = hashlib.md5(tok.encode()).hexdigest()
        h = (int(hx[:8], 16) << 32) | int(hx[8:16], 16)
        for i in range(64):
            votes[i] += 1 if (h >> i) & 1 else -1
    expect = sum(1 << i for i in range(64) if votes[i] > 0)
    assert out[0] == expect


def test_simhash64_matches_python_votes(spark):
    """The md5 SimHash equals a Python vote oracle on every document
    with text: tokens come from Spark's split(text, " "); the md5
    halves, the +-1 bit votes and the sign-threshold pack are done
    here with hashlib."""
    import hashlib
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    got = {r.doc_id: (r.sim_hi, r.sim_lo)
           for r in TX.simhash64_portable(docs).collect()}
    votes: dict = {}
    for r in docs.select("doc_id", F.explode(F.split("text", " "))
                         .alias("tok")).collect():
        h = hashlib.md5(r.tok.encode("utf-8")).hexdigest()
        v = votes.setdefault(r.doc_id, ([0] * 32, [0] * 32))
        for half, word in zip(v, (int(h[:8], 16), int(h[8:16], 16))):
            for i in range(32):
                half[i] += 1 if (word >> i) & 1 else -1
    want = {doc_id: tuple(sum(1 << i for i in range(32) if half[i] > 0)
                          for half in v)
            for doc_id, v in votes.items()}
    assert len(want) == docs.filter(F.col("text").isNotNull()).count()
    assert got == want


def test_polygon_overlay_string_ids_and_multirow(spark):
    """Id dtypes flow from the input schema (string ids work), and a
    poly_id spanning MULTIPLE rows (multipolygon stored row-per-part)
    keeps its parts' intervals separate (content-derived _sk)."""
    from osm_sidewalkreator_spark.geometry import wkb as WKB
    from osm_sidewalkreator_spark.operators.overlay import (
        polygon_overlay_polygons)

    def poly_row(pid, x0, y0, wdt, hgt):
        ring = np.array([[x0, y0], [x0 + wdt, y0], [x0 + wdt, y0 + hgt],
                         [x0, y0 + hgt], [x0, y0]])
        return (pid, float(x0), float(y0), float(x0 + wdt),
                float(y0 + hgt), bytearray(WKB.polygon_wkb(ring)))

    schema = ("a_id string, xmin double, ymin double, xmax double, "
              "ymax double, geometry binary")
    # one logical A as TWO disjoint rows sharing the id
    a = spark.createDataFrame(
        [poly_row("alpha", 0.3, 0.7, 40, 40),
         poly_row("alpha", 60.3, 0.7, 40, 40)], schema)
    b = spark.createDataFrame(
        [poly_row("bee", 10.5, 10.9, 20, 20)],
        schema.replace("a_id", "b_id"))
    inter = polygon_overlay_polygons(a, b, op="intersection",
                                     a_id="a_id", b_id="b_id")
    rows = inter.collect()
    assert rows and rows[0]["a_id"] == "alpha" \
        and rows[0]["b_id"] == "bee"
    assert abs(sum(r["area"] for r in rows) - 400) < 1e-3
    diff = polygon_overlay_polygons(a, b, op="difference",
                                    a_id="a_id", b_id="b_id")
    drows = diff.collect()
    assert all(r["b_id"] is None for r in drows)
    assert abs(sum(r["area"] for r in drows) - (3200 - 400)) < 1e-3


def test_polygon_clip_intervals_keeps_every_part(spark):
    """A polygon id stored row-per-part clips against every part, at any
    shuffle partition count: segment 1 lies in part one, segment 2 in
    part two, segment 3 crosses both."""
    from osm_sidewalkreator_spark.geometry import wkb as WKB
    from osm_sidewalkreator_spark.operators.overlay import (
        polygon_clip_intervals)

    def square(x0):
        ring = np.array([[x0, 0.7], [x0 + 40, 0.7], [x0 + 40, 40.7],
                         [x0, 40.7], [x0, 0.7]])
        return ("p", x0, 0.7, x0 + 40, 40.7,
                bytearray(WKB.polygon_wkb(ring)))

    polys = spark.createDataFrame(
        [square(0.3), square(60.3)],
        "poly_id string, xmin double, ymin double, xmax double, "
        "ymax double, geometry binary")
    segs = spark.createDataFrame(
        [(1, 10.5, 10.9, 30.5, 10.9), (2, 70.5, 10.9, 90.5, 10.9),
         (3, 10.5, 20.9, 90.5, 20.9)],
        "osm_id long, ax double, ay double, bx double, by double")
    want = [(1, 0.0, 1.0), (2, 0.0, 1.0), (3, 0.0, 0.3725),
            (3, 0.6225, 1.0)]
    before = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        for n in (1, 4, 8):
            spark.conf.set("spark.sql.shuffle.partitions", str(n))
            got = sorted((r.osm_id, round(r._t0, 9), round(r._t1, 9))
                         for r in polygon_clip_intervals(segs, polys)
                         .collect())
            assert got == want, n
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)


def test_catalog_table_seam(spark):
    """sources/catalog.load_table routes through spark.read.table when
    a prefix is configured (the Iceberg production path — a temp view
    resolves the same way) and falls back to sf_dir parquet when not."""
    from osm_sidewalkreator_spark.pages import load_pages
    from osm_sidewalkreator_spark.sources.catalog import (
        PREFIX_CONF, load_table)

    marker = spark.range(3).withColumnRenamed("id", "url")
    marker.createOrReplaceTempView("cat_seam_pages")
    spark.conf.set(PREFIX_CONF, "cat_seam_")
    try:
        via_catalog = load_table(spark, SF, "pages")
        assert via_catalog.columns == ["url"]
        assert via_catalog.count() == 3
    finally:
        spark.conf.unset(PREFIX_CONF)
    # fallback: the real parquet pages table (full input_hint schema)
    parquet = load_pages(spark, SF)
    assert {"url", "warc_ts", "html", "text", "lang"} <= set(
        parquet.columns)
    assert parquet.count() > 0


def test_rasterize_segments_bruteforce(spark):
    """Vector->raster burn agrees with a dense NumPy reference
    (per-cell exact clipped length), incl. negative cells, axis-aligned
    and cell-interior segments."""
    from osm_sidewalkreator_spark.operators.raster import (
        rasterize_segments)

    rng = np.random.default_rng(7)
    segs = rng.uniform(-40, 40, size=(60, 4))
    segs[0] = [-3.0, 2.0, 17.0, 2.0]      # axis-aligned (dy == 0)
    segs[1] = [5.5, -8.0, 5.5, 9.0]       # vertical (dx == 0)
    segs[2] = [3.1, 3.2, 3.9, 3.8]        # strictly inside one cell
    cs = 10.0
    df = spark.createDataFrame(
        [tuple(map(float, r)) for r in segs],
        "ax double, ay double, bx double, by double")
    got = {(r["cell_x"], r["cell_y"]): (r["n_segs"], r["len_m"])
           for r in rasterize_segments(df, cs).collect()}

    expect = {}
    for ax, ay, bx, by in segs:
        dx, dy = bx - ax, by - ay
        ln = np.hypot(dx, dy)
        for ix in range(int(np.floor(min(ax, bx) / cs)),
                        int(np.floor(max(ax, bx) / cs)) + 1):
            for iy in range(int(np.floor(min(ay, by) / cs)),
                            int(np.floor(max(ay, by) / cs)) + 1):
                lo, hi = 0.0, 1.0
                ok = True
                for p0, d, c0 in ((ax, dx, ix * cs), (ay, dy, iy * cs)):
                    if d != 0:
                        t_a = (c0 - p0) / d
                        t_b = (c0 + cs - p0) / d
                        lo = max(lo, min(t_a, t_b))
                        hi = min(hi, max(t_a, t_b))
                    elif not (c0 <= p0 <= c0 + cs):
                        ok = False
                w = max(hi - lo, 0.0) * ln if ok else 0.0
                if w > 0:
                    n, s = expect.get((ix, iy), (0, 0.0))
                    expect[(ix, iy)] = (n + 1, s + w)
    assert set(got) == set(expect)
    for k in expect:
        assert got[k][0] == expect[k][0]
        assert abs(got[k][1] - expect[k][1]) < 1e-9
    # conservation: total burned length == total segment length
    assert abs(sum(v[1] for v in got.values())
               - sum(np.hypot(s[2] - s[0], s[3] - s[1])
                     for s in segs)) < 1e-8


def test_generate_features_pipe_opts_passthrough(spark, features):
    """GUI-parity knobs reach the cogrouped kernel through
    generate_features (closure pickling included): export_snap must
    leave counts intact (it only moves vertices within 0.11 m) and
    dangle_iterations=2 must not add features."""
    base = {r["kind"]: r["cnt"] for r in
            features.groupBy("kind").agg(
                F.count("*").alias("cnt")).collect()}
    snapped = PL.generate_features(spark, SF, export_snap=True,
                                   dangle_iterations=2)
    got = {r["kind"]: r["cnt"] for r in
           snapped.groupBy("kind").agg(
               F.count("*").alias("cnt")).collect()}
    assert got["crossing"] == base["crossing"]
    assert got["kerb"] == base["kerb"]
    # snap can only merge sidewalk stretches (vertex moves close small
    # gaps ahead of merge_small_stretches), never create them
    assert got["sidewalk"] <= base["sidewalk"]
    assert got["sidewalk"] >= base["sidewalk"] * 0.9


# sha256 over the sorted rows of each segment frame at sf0.001, recorded
# before the WKB -> segments decode was merged into one path: the merge
# must not move a bit or a row
SEGMENT_FRAME_SHA = {
    "street_segments_tm":
        "ad1ce1569ea85a94f8f16cb62b730a090111136b097ef514f8787914fc26118b",
    "existing_sidewalk_segments":
        "3572311c690669439a157e915061ba24eae23b367244fdb7d44e3c642d68b095",
    "load_context_tiled":
        "1ebaa396bc47c307a66206d67503a33d5a1070f9a803262e8a9c77d5c2a94424",
    "polygon_boundary_segments":
        "e767bdd6d8456c5b0cef7d222568669acf3310416033588fe9ac5a24397218c9",
}


def segment_frames(spark) -> dict:
    from osm_sidewalkreator_spark.operators.overlay import (
        polygon_boundary_segments)
    from osm_sidewalkreator_spark.synth import ensure_synth
    streets = PL.load_streets(spark, SF)
    buildings = spark.read.parquet(
        str(ensure_synth(SF) / "buildings.parquet"))
    return {
        "street_segments_tm": PL.street_segments_tm(
            PL.assign_widths(streets)),
        "existing_sidewalk_segments": PL.existing_sidewalk_segments(
            streets),
        "load_context_tiled": PL.load_context_tiled(
            spark, SF, P.TILE_SIZE_M, P.TILE_HALO_M),
        "polygon_boundary_segments": polygon_boundary_segments(
            buildings, "osm_id", "b"),
    }


def frame_sha(df) -> str:
    import hashlib
    rows = sorted(repr(tuple(r)) for r in df.collect())
    return hashlib.sha256("\n".join(rows).encode()).hexdigest()


def test_segment_frames_match_pinned_hashes(spark):
    got = {k: frame_sha(df) for k, df in segment_frames(spark).items()}
    assert got == SEGMENT_FRAME_SHA


def test_existing_sidewalk_segments_decodes_once(spark):
    """The way-length sum reads the one decode it sums over: the plan
    holds one fused ``mapInPandas`` and one scan of the streets."""
    plan = (PL.existing_sidewalk_segments(PL.load_streets(spark, SF))
            ._jdf.queryExecution().executedPlan().toString())
    assert plan.count("MapInPandas") == 1, plan
    assert plan.count("FileScan parquet") == 1, plan
