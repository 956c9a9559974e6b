"""The traced run: per-layer metrics, measured from outside the engine.

Spans open around calls into each layer's public functions. Three
rules shape the measurement:

- Spark is lazy, so each Spark-side layer is forced on its own, by an
  aggregate over every column or a noop-sink write.
- Bytes and Python-worker times come from the executed plans' SQL
  metrics (``trace.SqlMetrics``).
- Wrappers installed in this driver do not reach the forked Python
  workers, so the tile kernel is replayed here, single-threaded, on the
  run's own tiles, with every stage wrapped.

A layer's self time is its span time minus the time of nested spans of
the same layer; nested spans of other layers are not subtracted (the
kernel stages include the geometry calls they make, and
``noding.node_segments_s`` counts noding wherever it runs). Every
per-layer metric is reported on every workload: layers a workload does
not run read 0.
"""

from __future__ import annotations

import os
import time
from collections import Counter, defaultdict
from pathlib import Path

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from osm_sidewalkreator_spark import params as P
from osm_sidewalkreator_spark.geometry import morph, noding
from osm_sidewalkreator_spark.operators import graph as GR
from osm_sidewalkreator_spark.operators import textops as TX
from osm_sidewalkreator_spark.operators.tiling import cover_cells
from osm_sidewalkreator_spark.plans import kernels as K
from osm_sidewalkreator_spark.plans import pipeline as PL
from osm_sidewalkreator_spark.plans import refine as R
from osm_sidewalkreator_spark.streaming import checkpoint as CK

from perfbench import gen
from perfbench import workloads as W
from perfbench.trace import SqlMetrics, Tracer, join_rows

# name -> unit; the per_layer list of BENCHMARK.json
LAYER_METRICS = {
    "session.start_s": "s",
    "pipeline.scan_project_s": "s", "pipeline.segments": "count",
    "pipeline.tile_explode_s": "s", "pipeline.halo_replication": "ratio",
    "pipeline.census_s": "s", "pipeline.tiles": "count",
    "pipeline.tile_cost_max_over_mean": "ratio",
    "pipeline.context_s": "s", "pipeline.context_rows": "count",
    "pipeline.cogroup_transfer_s": "s", "pipeline.shuffle_write_mb": "MB",
    "pipeline.python_data_sent_mb": "MB",
    "pipeline.python_data_recv_mb": "MB", "pipeline.python_boot_s": "s",
    "pipeline.task_max_over_median": "ratio",
    "kernel.total_s": "s", "kernel.tiles": "count", "kernel.emit_s": "s",
    "kernel.glue_s": "s",
    "kernel.shrink_widths_s": "s", "kernel.split_streets_s": "s",
    "kernel.protoblocks_s": "s", "kernel.existing_filter_s": "s",
    "kernel.dangle_s": "s", "kernel.sidewalk_rings_s": "s",
    "kernel.tag_zones_s": "s", "kernel.merge_lines_s": "s",
    "kernel.crossings_s": "s", "kernel.refine_s": "s",
    "morph.region_boundary_s": "s", "morph.region_boundary_calls": "count",
    "morph.close_s": "s", "morph.convexset_query_s": "s",
    "morph.convexset_query_points": "count",
    "morph.kept_over_noded": "ratio",
    "noding.node_segments_s": "s", "noding.calls": "count",
    "noding.segs_in": "count", "noding.pieces_out": "count",
    "checkpoint.run_s": "s", "checkpoint.tiles_total": "count",
    "checkpoint.tiles_recomputed": "count", "checkpoint.commit_mb": "MB",
    "checkpoint.compact_s": "s", "checkpoint.read_back_s": "s",
    "export.features_4326_s": "s", "export.geojson_s": "s",
    "export.geojson_mb": "MB",
    **{f"joins.{j}.{m}": u for j in W.JOIN_KINDS
       for m, u in (("s", "s"), ("candidate_pairs", "count"),
                    ("useful_ratio", "ratio"),
                    ("shuffle_write_mb", "MB"), ("spill_mb", "MB"))},
    "joins.pip_poly.python_time_s": "s",
    "joins.pip_poly.max_group_rows": "count",
    "joins.hot_cell_share": "fraction",
    "text.quality_s": "s", "text.exact_dedup_s": "s",
    "text.minhash_pairs_s": "s", "text.minhash_pairs": "count",
    "graph.dedup_clusters_s": "s", "text.chunk_s": "s",
    "curate.corpus_s": "s",
    "ann.lsh_s": "s", "ann.lsh_candidate_pairs": "count",
    "ann.recall_at_5": "fraction",
    "trace.overhead_frac": "fraction", "trace.unaccounted_frac": "fraction",
}

# span-name prefixes that are engine layers; other spans (bench.*) are
# the benchmark's own work and count as unaccounted
LAYERS = {"session", "pipeline", "kernel", "morph", "noding", "checkpoint",
          "export", "joins", "text", "graph", "curate", "ann"}

KERNEL_STAGES = {
    "shrink_widths": [(K, "shrink_widths_by_buildings")],
    "split_streets": [(K, "split_streets")],
    "protoblocks": [(K, "protoblocks")],
    "existing_filter": [(K, "filter_protoblocks_by_existing_sidewalks")],
    "dangle": [(K, "dangle_keep_mask")],
    "sidewalk_rings": [(K, "sidewalk_rings")],
    "tag_zones": [(K, "sidewalk_tag_zones")],
    "merge_lines": [(K, "merge_touching_lines"),
                    (K, "clip_lines_outside_polygons"),
                    (morph, "rings_to_edges")],
    "crossings": [(K, "crossings_and_kerbs")],
    "refine": [(R, n) for n in (
        "snap_lines_to_reference", "corner_spokes", "split_lines_with_lines",
        "voronoi_split_block", "merge_small_stretches",
        "export_snap_sequence", "split_polyline_by_max_len")],
}


def _family(name: str) -> str:
    return name.split(".", 1)[0]


def layer_self_times(tr: Tracer) -> dict[str, float]:
    """Self time per span name; only nested spans of the same layer are
    subtracted."""
    sub = defaultdict(float)
    for name, s, e, parent in tr.closed():
        p = parent
        while p is not None and _family(tr.spans[p][0]) != _family(name):
            p = tr.spans[p][3]
        if p is not None:
            sub[p] += e - s
    out: dict[str, float] = defaultdict(float)
    for i, (name, s, e, _p) in enumerate(tr.spans):
        if e is not None:
            out[name] += (e - s) - sub[i]
    return out


def force(df) -> int:
    """Evaluate every column of ``df``; returns its row count."""
    return df.agg(F.count(F.lit(1)).alias("n"),
                  F.bit_xor(F.xxhash64(*df.columns)).alias("h")).first()["n"]


class Run:
    """State of one traced run: tracer, SQL metrics, results."""

    def __init__(self, spark, workload: str, seed: int):
        self.spark = spark
        self.tr = Tracer(f"{workload}-{seed}-{os.getpid()}")
        self.sql = SqlMetrics(spark)
        self.m: dict[str, float] = {k: 0.0 for k in LAYER_METRICS}
        self.rec = W.Recorder()

    def span(self, name):
        return self.tr.span(name)


# ---------------- pipeline layers + kernel replay ----------------

def tiled_plans(spark, sf_dir: str, synth: Path):
    """The pipeline's segment and context plans, built from its public
    functions the way ``generate_features`` builds them."""
    streets = PL.assign_widths(PL.clip_to_aoi(
        PL.load_streets(spark, sf_dir), spark, sf_dir))
    segs = PL.clip_segments_to_rect(
        PL.street_segments_tm(streets),
        spark.read.parquet(str(synth / "aoi.parquet"))).drop("highway")
    tiled = segs.withColumn("tile", F.explode(cover_cells(
        F.least("ax", "bx"), F.least("ay", "by"),
        F.greatest("ax", "bx"), F.greatest("ay", "by"),
        P.TILE_SIZE_M, pad=P.TILE_HALO_M)))
    ctx = PL.load_context_tiled(spark, sf_dir, P.TILE_SIZE_M,
                                P.TILE_HALO_M)
    return segs, tiled, ctx


def _trivial_kernel(key, pdf, cpdf):
    for _t, _g in pdf.groupby("tile"):
        pass
    if cpdf is not None and len(cpdf):
        dict(tuple(cpdf.groupby("tile")))
    return pd.DataFrame(columns=[f.name for f in PL.FEATURE_SCHEMA])


def pipeline_layers(run: Run, sf_dir: str, synth: Path) -> Counter:
    """Force each pipeline layer on its own, then replay the tile kernel
    in the driver on the same tiles. Returns the replay's kind counts."""
    spark, m = run.spark, run.m
    segs, tiled, ctx = tiled_plans(spark, sf_dir, synth)
    with run.span("pipeline.scan_project") as s1:
        n_segs = force(segs)
    with run.span("pipeline.tile_explode") as s2:
        n_tiled = force(tiled)
    m["pipeline.scan_project_s"] = s1[2] - s1[1]
    m["pipeline.tile_explode_s"] = max(0.0, (s2[2] - s2[1]) - m[
        "pipeline.scan_project_s"])
    m["pipeline.segments"] = n_segs
    m["pipeline.halo_replication"] = n_tiled / max(1, n_segs)
    tiled = tiled.persist()
    ctx = ctx.persist()
    try:
        with run.span("pipeline.persist"):
            force(tiled)
        with run.span("pipeline.census") as s3:
            census = tiled.groupBy("tile").agg(
                F.count(F.lit(1)).alias("n")).collect()
        cost = np.array([r["n"] for r in census], dtype=float)
        m["pipeline.census_s"] = s3[2] - s3[1]
        m["pipeline.tiles"] = len(cost)
        m["pipeline.tile_cost_max_over_mean"] = cost.max() / cost.mean()
        with run.span("pipeline.context") as s4:
            m["pipeline.context_rows"] = force(ctx)
        m["pipeline.context_s"] = s4[2] - s4[1]
        n_part = max(spark.sparkContext.defaultParallelism * 2, 32)
        with run.span("pipeline.cogroup_transfer") as s5:
            (tiled.repartition(n_part, "tile").groupBy("tile")
             .cogroup(ctx.repartition(n_part, "tile").groupBy("tile"))
             .applyInPandas(_trivial_kernel, PL.FEATURE_SCHEMA)
             .write.format("noop").mode("overwrite").save())
        m["pipeline.cogroup_transfer_s"] = s5[2] - s5[1]
        with run.span("bench.collect_tiles"):
            tiles_pdf = tiled.toPandas()
            ctx_pdf = ctx.toPandas()
    finally:
        tiled.unpersist()
        ctx.unpersist()
    return replay_kernel(run, tiles_pdf, ctx_pdf)


def replay_kernel(run: Run, tiles_pdf, ctx_pdf) -> Counter:
    tr, m = run.tr, run.m
    counts = defaultdict(float)
    region_depth = []

    def on_region(args, out):
        counts["region_calls"] += 1
        counts["region_edges"] += len(out)

    def on_query(args, out):
        counts["query_points"] += len(args[1])

    def on_node(args, out):
        counts["noding_calls"] += 1
        counts["segs_in"] += len(args[0])
        counts["pieces_out"] += len(out[0])
        if any(tr.spans[i][0] == "morph.region_boundary"
               for i in tr._stack):
            counts["pieces_in_region"] += len(out[0])

    tr.wrap(K, "tile_pipeline", "kernel.pipeline")
    for stage, targets in KERNEL_STAGES.items():
        for owner, attr in targets:
            tr.wrap(owner, attr, f"kernel.{stage}")
    tr.wrap(morph, "region_boundary", "morph.region_boundary", on_region)
    tr.wrap(morph, "morphological_close", "morph.close")
    tr.wrap(morph.ConvexSet, "query", "morph.convexset_query", on_query)
    # morph imports node_segments by name, kernels through the module
    tr.wrap(morph, "node_segments", "noding.node_segments", on_node)
    tr.wrap(noding, "node_segments", "noding.node_segments", on_node)
    kinds: Counter = Counter()
    try:
        tile_kernel = PL.make_tile_kernel(P.TILE_SIZE_M)
        by_tile = dict(tuple(ctx_pdf.groupby("tile"))) if len(ctx_pdf) \
            else {}
        empty = pd.DataFrame()
        n = 0
        with run.span("kernel.replay"):
            for t, g in tiles_pdf.groupby("tile"):
                with run.span("kernel.tile"):
                    out = tile_kernel((t,), g.reset_index(drop=True),
                                      by_tile.get(t, empty))
                kinds.update(out["kind"])
                n += 1
    finally:
        tr.unwrap_all()
    st = layer_self_times(tr)
    tot = tr.totals()
    calls = tr.calls()
    m["kernel.total_s"] = tot["kernel.tile"]
    m["kernel.tiles"] = n
    m["kernel.emit_s"] = st["kernel.tile"]
    m["kernel.glue_s"] = st["kernel.pipeline"]
    for stage in KERNEL_STAGES:
        m[f"kernel.{stage}_s"] = st[f"kernel.{stage}"]
    m["morph.region_boundary_s"] = st["morph.region_boundary"]
    m["morph.region_boundary_calls"] = calls["morph.region_boundary"]
    m["morph.close_s"] = st["morph.close"]
    m["morph.convexset_query_s"] = st["morph.convexset_query"]
    m["morph.convexset_query_points"] = counts["query_points"]
    m["morph.kept_over_noded"] = counts["region_edges"] / max(
        1, counts["pieces_in_region"])
    m["noding.node_segments_s"] = st["noding.node_segments"]
    m["noding.calls"] = counts["noding_calls"]
    m["noding.segs_in"] = counts["segs_in"]
    m["noding.pieces_out"] = counts["pieces_out"]
    return kinds


def _replay_check(run: Run, kinds: Counter, rows) -> None:
    """The driver replay must emit what the Spark call emitted."""
    run.rec.attempted += 1
    want = Counter(r["kind"] for r in rows)
    if kinds != want:
        print(f"[perfbench] kernel replay {dict(kinds)} != {dict(want)}")
        run.rec.failed += 1


# ---------------- workloads ----------------

def traced_city(run: Run, seed: int, data: Path):
    spark, rec, m = run.spark, run.rec, run.m
    check = W.city_check(W.SameEveryCall())
    with run.span("bench.setup"):
        sf, _city = W.setup_city(data, seed)
        rec.call("cold", lambda: W.city_call(spark, sf), check)
    with run.span("bench.untraced") as u:
        rec.call("warm", lambda: W.city_call(spark, sf), check)

    def traced_call():
        with run.span("pipeline.generate_features"):
            feats = PL.generate_features(spark, sf)
        with run.span("pipeline.execute"):
            return [r.asDict() for r in feats.select(
                "kind", "fid", "geometry", "length", "ref_id").collect()]

    with run.span("bench.traced") as t:
        run.sql.collect()
        rows = rec.call("warm", traced_call, check)
        sql = run.sql.collect()
    _pipeline_sql(m, sql)
    m["trace.overhead_frac"] = (t[2] - t[1]) / (u[2] - u[1]) - 1
    kinds = pipeline_layers(run, sf, Path(sf))
    _replay_check(run, kinds, rows or [])
    # the checkpointed job's layers, on the same city
    traced_job(run, seed, data)


def _pipeline_sql(m, sql):
    s = sql["sum"]
    m["pipeline.shuffle_write_mb"] = s.get("shuffle bytes written", 0) / 2**20
    m["pipeline.python_data_sent_mb"] = \
        s.get("data sent to Python workers", 0) / 2**20
    m["pipeline.python_data_recv_mb"] = \
        s.get("data returned from Python workers", 0) / 2**20
    m["pipeline.python_boot_s"] = s.get("time to start Python workers", 0)
    m["pipeline.task_max_over_median"] = sql["max_over_med"].get(
        "time to run Python workers", 0.0)


def traced_job(run: Run, seed: int, data: Path):
    """A full checkpointed job on the city and its resume after a seeded
    edit; the checkpoint and export figures are the resume's."""
    spark, rec, m, tr = run.spark, run.rec, run.m, run.tr
    synth = data / "sf0.001"
    with run.span("bench.setup"):
        base, edit, _n_edit, pip_truth = W.setup_job(data, seed)
        pages = spark.read.parquet(str(data / "pages.parquet"))
        # the resumed job must equal a from-scratch run on the edit
        scratch = W.job_run(spark, edit, synth, data / "job_scratch", pages)
    full_check = W.job_check(W.SameEveryCall(), pip_truth)
    resume_check = W.job_check(
        W.SameEveryCall(W.feature_signature(scratch["rows"])), pip_truth)
    tr.wrap(CK.TileManifest, "compact_markers", "checkpoint.compact")
    job_t = data / "job_t"
    try:
        rec.call("cold", lambda: W.job_run(
            spark, base, synth, job_t, pages, span=run.span), full_check)
        before = layer_self_times(tr)
        t_resume = time.time()
        rec.call("warm", lambda: W.job_run(
            spark, edit, synth, job_t, pages, span=run.span), resume_check)
    finally:
        tr.unwrap_all()
    st = layer_self_times(tr)
    for name in ("checkpoint.run", "checkpoint.compact",
                 "checkpoint.read_back", "export.features_4326",
                 "export.geojson"):
        m[f"{name}_s"] = st[name] - before.get(name, 0.0)
    done = CK.TileManifest(str(job_t / "state")).committed()
    m["checkpoint.tiles_total"] = len(done)
    m["checkpoint.tiles_recomputed"] = sum(
        r["committed_at"] >= t_resume for r in done.values())
    m["checkpoint.commit_mb"] = sum(
        p.stat().st_size for p in (job_t / "state" / "tiles").glob("*")
        if p.stat().st_mtime >= t_resume) / 2**20
    geo = job_t / "sidewalks.geojson"
    m["export.geojson_mb"] = geo.stat().st_size / 2**20 if geo.exists() \
        else 0.0


def traced_joins_corpus(run: Run, seed: int, data: Path):
    spark, rec, m = run.spark, run.rec, run.m
    with run.span("bench.setup"):
        pg, corpus, dfs = W.setup_joins_corpus(data, seed, spark)
        checks, truth, _c, _r = W.joins_corpus_checks(pg, corpus)
        calls = W.joins_corpus_calls(dfs)
        for k, fn in calls.items():         # cold round, untimed
            rec.call(k, fn, checks[k])
    with run.span("bench.untraced") as u:
        for k, fn in calls.items():
            rec.call(k, fn, checks[k])
    spans = {**{j: f"joins.{j}" for j in W.JOIN_KINDS},
             "curate": "curate.corpus", "ann": "ann.lsh"}
    with run.span("bench.traced") as t:
        for k, fn in calls.items():
            run.sql.collect()
            with run.span(spans[k]) as s:
                out = rec.call(k, fn, checks[k])
            sql = run.sql.collect()
            dt = s[2] - s[1]
            if k in W.JOIN_KINDS:
                cand = join_rows(sql["nodes"])
                m[f"joins.{k}.s"] = dt
                m[f"joins.{k}.candidate_pairs"] = cand
                m[f"joins.{k}.useful_ratio"] = \
                    (len(out) if out is not None else 0) / max(1, cand)
                m[f"joins.{k}.shuffle_write_mb"] = \
                    sql["sum"].get("shuffle bytes written", 0) / 2**20
                m[f"joins.{k}.spill_mb"] = \
                    sql["sum"].get("spill size", 0) / 2**20
                if k == "pip_poly":
                    m["joins.pip_poly.python_time_s"] = sql["sum"].get(
                        "time to run Python workers", 0)
            elif k == "curate":
                m["curate.corpus_s"] = dt
            else:
                m["ann.lsh_s"] = dt
                m["ann.lsh_candidate_pairs"] = max(
                    (per.get("number of output rows", 0)
                     for name, per in sql["nodes"]
                     if name.endswith("HashJoin")
                     or name == "SortMergeJoin"), default=0)
                m["ann.recall_at_5"] = W.recall_at_5(out or [], truth)
    m["trace.overhead_frac"] = (t[2] - t[1]) / (u[2] - u[1]) - 1
    m["joins.hot_cell_share"] = pg.hot_cell_share
    m["joins.pip_poly.max_group_rows"] = max_poly_candidates(pg)
    text_layers(run, dfs["docs"])


def max_poly_candidates(pg: gen.Pages) -> int:
    """Largest candidate group of the polygon join before salting: the
    pages in the cells that one polygon's bounding box covers."""
    c = P.CELL_SIZE_M
    cells = Counter(zip(np.floor(pg.x / c).astype(int),
                        np.floor(pg.y / c).astype(int)))
    q = pg.quads.reshape(-1, 4, 2)
    lo = np.floor(q.min(1) / c).astype(int)
    hi = np.floor(q.max(1) / c).astype(int)
    return max(sum(cells.get((i, j), 0)
                   for i in range(a[0], b[0] + 1)
                   for j in range(a[1], b[1] + 1))
               for a, b in zip(lo, hi))


def text_layers(run: Run, docs):
    m = run.m
    spans = {}
    with run.span("text.quality") as spans["text.quality_s"]:
        force(docs.withColumn("quality", TX.quality_expr())
              .withColumn("lang_pred", TX.langid_expr()))
    with run.span("text.exact_dedup") as spans["text.exact_dedup_s"]:
        force(TX.exact_dedup(docs))
    pairs = TX.minhash_lsh_pairs(docs, 0.5).select(
        F.col("id_a").alias("a"), F.col("id_b").alias("b"))
    with run.span("text.minhash_pairs") as spans["text.minhash_pairs_s"]:
        m["text.minhash_pairs"] = pairs.count()
    with run.span("graph.dedup_clusters") as spans[
            "graph.dedup_clusters_s"]:
        GR.dedup_clusters(docs.select("doc_id"), pairs) \
            .filter("is_keeper").count()
    with run.span("text.chunk") as spans["text.chunk_s"]:
        force(TX.chunk_documents(docs))
    for name, s in spans.items():
        m[name] = s[2] - s[1]


TRACED = {"city_dense": traced_city, "joins_corpus": traced_joins_corpus}


def run(workload: str, spark, seed: int, data: Path,
        session_s: float) -> dict:
    """One traced run. It does a fixed amount of work per workload,
    whatever ``--seconds`` says."""
    r = Run(spark, workload, seed)
    r.m["session.start_s"] = session_s
    with r.span("bench.run") as root:
        TRACED[workload](r, seed, data)
    wall = root[2] - root[1]
    tot = r.tr.totals()
    # the setup and the untraced reference calls are not traced work
    traced_wall = wall - tot["bench.setup"] - tot["bench.untraced"]
    st = r.tr.self_times()
    covered = sum(v for k, v in st.items() if _family(k) in LAYERS)
    r.m["trace.unaccounted_frac"] = 1.0 - covered / traced_wall
    spans = data.parent / f"spans-{workload}-s{seed}-{os.getpid()}.jsonl"
    r.tr.dump(str(spans))
    metrics = {k: {"value": float(r.m[k]), "unit": u}
               for k, u in LAYER_METRICS.items()}
    return {"attempted": r.rec.attempted, "failed": r.rec.failed,
            "metrics": metrics,
            "detail": {"spans_file": str(spans), "wall_s": wall,
                       "calls": dict(r.rec.samples)}}
