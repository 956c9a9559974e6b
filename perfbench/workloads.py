"""The closed-loop workloads: one client in this process, each call
starts after the previous one returned and its output was checked.

Both workloads report the same end-to-end metrics (see BENCHMARK.json
and README.md):

- ``setup_s``: CPU seconds (user + system) of the process tree (this
  driver, the Spark JVM and its Python workers) from process start until
  the first timed call can start: Spark session up with one Python
  worker per core, and the seed's inputs generated and written;
- ``cold_cpu_s``: CPU seconds of the process tree spent in the first
  call of each operator in the fresh process; it pays code generation,
  JIT and first-use costs and finds no cached plan;
- ``warm_cpu_s``: the same for the median repeated identical call.

CPU time, not wall time, carries the bounds: on a shared host, steal
and co-tenant load move wall time between runs far more than the
program does. The wall times of the same set-up and calls are in the
detail line, with ``peak_rss_mb``, the peak RSS of the process tree
sampled from /proc while calls run. It carries no bound: the JVM grows
its heap when its collector decides to, so the same code on the same
inputs peaked 0.1 to 0.25 of the median apart from run to run.

A call that raises or fails its output check counts as failed and
gives no time sample; a metric with no passing call reads null. The
traced run (``trace.py``, ``traced.py``) produces the per-layer metrics
instead.
"""

from __future__ import annotations

import contextlib
import hashlib
import os
import signal
import statistics
import sys
import time
import traceback
from collections import Counter, defaultdict
from pathlib import Path

import numpy as np
from pyspark.sql import functions as F

from osm_sidewalkreator_spark import params as P
from osm_sidewalkreator_spark.operators import joins as J
from osm_sidewalkreator_spark.operators import simsearch as SS
from osm_sidewalkreator_spark.operators.tiling import cover_cells
from osm_sidewalkreator_spark.plans import pipeline as PL
from osm_sidewalkreator_spark.plans.curate import curate_corpus
from osm_sidewalkreator_spark.session import get_spark
from osm_sidewalkreator_spark.sources.geojson import write_merged_geojson
from osm_sidewalkreator_spark.streaming.checkpoint import run_tiled_job

from perfbench import gen
from perfbench.trace import RssSampler, tree_cpu_s

# input sizes, fixed per workload (the seed changes content, not size)
JOB_PAGES = 20_000
N_PAGES = 30_000
N_DOCS, N_VECS = 2_000, 2_000
# calls made even past --seconds: warm city calls, joins_corpus rounds
# (the cold one included, so two warm rounds give each operator's warm
# figure two samples)
MIN_WARM = 2
MIN_ROUNDS = 3
# no call starts after this process age, whatever --seconds says, so a
# run ends well inside its 180 s limit on a loaded host
HARD_STOP_S = 140.0


# ---------------- session ----------------

def _warm_worker(batches):
    import osm_sidewalkreator_spark.plans.pipeline  # noqa: F401
    yield from batches


def start_session():
    """Spark session plus one Python worker per core with the engine's
    kernel modules imported, so the first timed call does not pay the
    worker start-up."""
    spark = get_spark(app="perfbench")
    n = spark.sparkContext.defaultParallelism
    (spark.range(n, numPartitions=n).mapInPandas(_warm_worker, "id long")
     .write.format("noop").mode("overwrite").save())
    return spark


def _descendants(pid: int) -> set[int]:
    from perfbench.trace import _children_map
    kids, out, todo = _children_map(), set(), [pid]
    while todo:
        for c in kids.get(todo.pop(), ()):
            out.add(c)
            todo.append(c)
    return out


def stop_session(spark):
    """Stop Spark and wait until the JVM and every Python worker exited."""
    procs = _descendants(os.getpid())
    gateway = spark.sparkContext._gateway
    jvm_proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if jvm_proc is not None:
        jvm_proc.stdin.close()
        try:
            jvm_proc.wait(timeout=30)
        except Exception:
            jvm_proc.kill()
            jvm_proc.wait()
    deadline = time.monotonic() + 20
    while procs and time.monotonic() < deadline:
        procs = {p for p in procs if os.path.exists(f"/proc/{p}")}
        time.sleep(0.1)
    for p in procs:
        try:
            os.kill(p, signal.SIGKILL)
        except OSError:
            pass


# ---------------- calls, checks, samples ----------------

class Recorder:
    """Runs checked calls and keeps the wall time and the process-tree
    CPU time of each passing one."""

    def __init__(self):
        self.samples: dict[str, list[float]] = defaultdict(list)
        self.cpu: dict[str, list[float]] = defaultdict(list)
        self.attempted = 0
        self.failed = 0

    def call(self, kind: str, fn, check):
        self.attempted += 1
        c0 = tree_cpu_s(os.getpid())
        t0 = time.perf_counter()
        try:
            out = fn()
        except Exception:
            traceback.print_exc()
            self.failed += 1
            return None
        dt = time.perf_counter() - t0
        dc = tree_cpu_s(os.getpid()) - c0
        try:
            problem = check(out)
        except Exception as e:
            traceback.print_exc()
            problem = f"check raised {e!r}"
        if problem:
            print(f"[perfbench] {kind}: output check failed: {problem}",
                  file=sys.stderr)
            self.failed += 1
            return None
        self.samples[kind].append(dt)
        self.cpu[kind].append(dc)
        return out

    def median(self, kind: str, cpu: bool = False) -> float | None:
        """Median wall (or CPU) time of the passing calls of ``kind``;
        None if none passed."""
        s = (self.cpu if cpu else self.samples).get(kind)
        return statistics.median(s) if s else None


def feature_signature(rows) -> tuple:
    """(per-kind counts, order-independent hash of (kind, geometry))."""
    h = hashlib.sha256()
    for kind, geom in sorted((r["kind"], bytes(r["geometry"]))
                             for r in rows):
        h.update(kind.encode())
        h.update(len(geom).to_bytes(4, "little"))
        h.update(geom)
    return dict(sorted(Counter(r["kind"] for r in rows).items())), \
        h.hexdigest()


def contract_problem(rows) -> str | None:
    """The reference's output contract: 5-vertex crossings, two kerbs
    per crossing lying exactly on its vertices 1 and 3, ``length`` = TM
    length. Kerbs are matched to crossings by position: the engine's
    ``ref_id`` passes through a float64 column and loses the low bits of
    large crossing fids, so it cannot link them."""
    want, kerbs = Counter(), Counter()
    for r in rows:
        kind = r["kind"]
        xy = gen.decode_coords(bytes(r["geometry"]))
        if kind in ("sidewalk", "crossing"):
            ln = float(np.hypot(*np.diff(xy, axis=0).T).sum())
            if abs(ln - r["length"]) > 1e-6 * max(1.0, ln):
                return f"{kind} {r['fid']}: length {r['length']} != {ln}"
        if kind == "crossing":
            if len(xy) != 5:
                return f"crossing {r['fid']} has {len(xy)} vertices"
            want.update([tuple(xy[1]), tuple(xy[3])])
        elif kind == "kerb":
            kerbs[tuple(xy[0])] += 1
    if kerbs != want:
        return (f"{sum((kerbs - want).values())} kerbs off crossing "
                f"vertices 1/3, {sum((want - kerbs).values())} missing")
    return None


class SameEveryCall:
    """Check helper: the value must equal the first call's (or a given
    reference)."""

    def __init__(self, ref=None):
        self.ref = ref

    def __call__(self, value) -> str | None:
        if self.ref is None:
            self.ref = value
        return None if value == self.ref else \
            f"{str(value)[:200]} != {str(self.ref)[:200]}"


def _per_s(n: float, t: float | None) -> float | None:
    return n / t if t else None


def _sum(values) -> float | None:
    values = list(values)
    return None if None in values else sum(values)


def _metrics(setup_s, rec, cold_kinds, warm_kinds, peak_rss):
    """The end-to-end metrics, and for the detail line the wall times of
    the same calls and the peak RSS. A workload's cold (warm) figure is
    the sum over its operators of their median cold (warm) call."""
    def total(kinds, cpu):
        return _sum(rec.median(k, cpu) for k in kinds)

    def m(value, unit):
        return {"value": value, "unit": unit}
    return {
        "setup_s": m(setup_s, "s"),
        "cold_cpu_s": m(total(cold_kinds, True), "s"),
        "warm_cpu_s": m(total(warm_kinds, True), "s"),
    }, {"cold_call_s": total(cold_kinds, False),
        "warm_call_s": total(warm_kinds, False),
        "peak_rss_mb": peak_rss / 2**20}


def _setup_done(age) -> tuple[float, float]:
    """(process-tree CPU seconds, wall seconds) since process start."""
    return tree_cpu_s(os.getpid()), age()


def _go_on(n_done: int, n_min: int, t_end: float, age) -> bool:
    """Start another call (round) while fewer than ``n_min`` are done or
    the run's time is not over, and never past the age cap."""
    return age() < HARD_STOP_S and (
        n_done < n_min or time.perf_counter() < t_end)


# ---------------- city_dense ----------------

def city_call(spark, sf_dir: str):
    """One user call: the feature plan, collected per kind."""
    feats = PL.generate_features(spark, sf_dir)
    return [r.asDict() for r in
            feats.select("kind", "fid", "geometry", "length", "ref_id")
            .collect()]


def city_check(same: SameEveryCall):
    def check(rows):
        return contract_problem(rows) or same(feature_signature(rows))
    return check


def setup_city(data: Path, seed: int):
    """The seeded dense city, written where the engine looks for the
    context tables. Returns (sf dir, City)."""
    city = gen.City(seed, "dense")
    sf = data / "sf0.001"
    city.write(sf)
    return str(sf), city


def run_city_dense(spark, seed, seconds, data, age):
    sf, city = setup_city(data, seed)
    setup = _setup_done(age)
    stats = city.stats()
    rec = Recorder()
    check = city_check(SameEveryCall())
    t_end = time.perf_counter() + seconds
    with RssSampler() as rss:
        # the first call finds no persisted plan or tile placement for
        # this input (cold); the repeats hit them (warm)
        rec.call("cold", lambda: city_call(spark, sf), check)
        n = 0
        while _go_on(n, MIN_WARM, t_end, age):
            rec.call("warm", lambda: city_call(spark, sf), check)
            n += 1
    warm = rec.median("warm")
    detail = {"inputs": stats,
              "named": {"pipeline_cold_s": rec.median("cold"),
                        "pipeline_warm_s": warm,
                        "sidewalk_segments_per_s":
                            _per_s(stats["segments"], warm)}}
    return rec, setup, \
        _metrics(setup[0], rec, ["cold"], ["warm"], rss.peak), detail


# ---------------- checkpointed job (traced run only) ----------------

def _no_span(name):
    return contextlib.nullcontext()


def job_run(spark, sf_dir: str, synth: Path, job_dir: Path, pages,
            span=_no_span):
    """What the production job does: resumable tiled pipeline into
    ``job_dir``, pages -> blocks PIP, EPSG:4326 features, merged GeoJSON.
    Returns the outputs the checks need. ``span(name)`` marks layers for
    the traced run."""
    streets = PL.assign_widths(PL.clip_to_aoi(
        PL.load_streets(spark, sf_dir), spark, sf_dir))
    segs = PL.street_segments_tm(streets)
    aoi = spark.read.parquet(str(synth / "aoi.parquet"))
    segs = PL.clip_segments_to_rect(segs, aoi)
    tiled = segs.withColumn("tile", F.explode(cover_cells(
        F.least("ax", "bx"), F.least("ay", "by"),
        F.greatest("ax", "bx"), F.greatest("ay", "by"),
        P.TILE_SIZE_M, pad=P.TILE_HALO_M)))
    kernel = PL.make_tile_kernel(P.TILE_SIZE_M)
    ctx = PL.load_context_tiled(spark, sf_dir, P.TILE_SIZE_M,
                                P.TILE_HALO_M)
    with span("checkpoint.run"):
        feats = run_tiled_job(spark, tiled, kernel, PL.FEATURE_SCHEMA,
                              str(job_dir / "state"), ctx_tiled=ctx)
    feats = feats.cache()
    try:
        with span("checkpoint.read_back"):
            feats.count()
        with span("joins.pip_rect"):
            blocks = spark.read.parquet(str(synth / "blocks.parquet"))
            pip = J.pip_join_points_rects(pages, blocks,
                                          cell_size=P.CELL_SIZE_M)
            pip.groupBy("block_id").agg(F.count("*").alias("n")) \
                .write.mode("overwrite").parquet(
                    str(job_dir / "pages_per_block"))
        with span("export.features_4326"):
            f4326 = PL.features_4326(feats)
            f4326.write.mode("overwrite").parquet(
                str(job_dir / "features_4326"))
        with span("export.geojson"):
            n_geojson = write_merged_geojson(
                f4326, str(job_dir / "sidewalks.geojson"))
        rows = [r.asDict() for r in feats.select(
            "kind", "fid", "geometry", "length", "ref_id").collect()]
        n_pip = spark.read.parquet(str(job_dir / "pages_per_block")) \
            .agg(F.sum("n")).first()[0]
    finally:
        feats.unpersist()
    return {"rows": rows, "pip_pages": int(n_pip or 0),
            "geojson": n_geojson}


def job_check(same: SameEveryCall, pip_truth: int):
    def check(out):
        rows = out["rows"]
        n_export = sum(r["kind"] != "protoblock" for r in rows)
        if out["geojson"] != n_export:
            return f"geojson has {out['geojson']} features, not {n_export}"
        if out["pip_pages"] != pip_truth:
            return f"pip matched {out['pip_pages']} pages, not {pip_truth}"
        return contract_problem(rows) or same(feature_signature(rows))
    return check


def setup_job(data: Path, seed: int):
    """The dense city's streets before (``job_base``) and after
    (``edited``) a seeded edit, its context tables under ``sf0.001``,
    and pages over its blocks. Returns (base dir, edited dir, number of
    edit stubs, pages inside blocks)."""
    base, edit = data / "job_base", data / "edited"
    city = gen.City(seed, "dense")
    city.write(data / "sf0.001", base)
    n_edit = city.add_edit_stubs(seed)
    city.write(data / "sf0.001", edit)
    pages = city.pages(seed, JOB_PAGES)
    gen.write_table(data / "pages.parquet", gen.pa.table(pages))
    inside = 0
    for x0, y0, x1, y1 in city.block_rects():
        inside += int(((pages["x"] >= x0) & (pages["x"] < x1)
                       & (pages["y"] >= y0) & (pages["y"] < y1)).sum())
    return str(base), str(edit), n_edit, inside


# ---------------- joins_corpus: page joins ----------------

JOIN_KINDS = ("pip_rect", "pip_poly", "knn")


def join_call(kind: str, t: dict):
    """One join, its result collected as Arrow-backed pandas."""
    if kind == "pip_rect":
        df = J.pip_join_points_rects(t["pages"], t["rects"],
                                     cell_size=P.CELL_SIZE_M) \
            .select("url", "block_id")
    elif kind == "pip_poly":
        df = J.pip_join_points_polygons(t["pages"], t["polys"],
                                        cell_size=P.CELL_SIZE_M)
    else:
        df = J.knn_join_points_segments(t["pages"], t["segs"], k=1,
                                        max_dist=P.KNN_MAX_DIST,
                                        cell_size=P.CELL_SIZE_M)
    return df.toPandas()


def _page_index(urls) -> np.ndarray:
    return urls.str.rsplit("/", n=1).str[1].astype(np.int64).to_numpy()


def join_checks(pg: gen.Pages) -> dict:
    rect, poly = pg.rect_truth(), pg.poly_truth()
    knn = pg.knn_truth()
    max_dist = P.KNN_MAX_DIST

    def exact(truth, col):
        def check(pdf):
            got = np.full(len(truth), -1, dtype=np.int64)
            idx = _page_index(pdf["url"])
            if len(np.unique(idx)) != len(idx):
                return "a page matched twice"
            got[idx] = pdf[col].to_numpy()
            bad = np.flatnonzero(got != truth)
            return f"{len(bad)} pages differ, e.g. {bad[:3]}" \
                if len(bad) else None
        return check

    def knn_check(pdf):
        by_url = dict(zip(pdf["url"], zip(pdf["seg_id"], pdf["dist"])))
        for url, (dist, segs) in knn.items():
            got = by_url.get(url)
            if dist > max_dist + 1e-6:
                if got is not None:
                    return f"{url}: {got}, but no segment is within reach"
            elif dist < max_dist - 1e-6 and (
                    got is None or got[0] not in segs
                    or abs(got[1] - dist) > 1e-6):
                return f"{url}: {got} vs ({dist}, {sorted(segs)[:3]})"
        return None

    return {"pip_rect": exact(rect, "block_id"),
            "pip_poly": exact(poly, "poly_id"), "knn": knn_check}


# ---------------- joins_corpus: corpus ----------------

def curate_call(docs) -> dict:
    chunks = curate_corpus(docs)
    r = chunks.agg(F.count("*").alias("chunks"),
                   F.countDistinct("doc_id").alias("docs"),
                   F.sum("n_chunk_tokens").alias("tokens")).first()
    return r.asDict()


def ann_call(emb) -> list:
    return [(r.query_id, r.neighbor_id) for r in
            SS.cosine_topk_lsh(emb).select("query_id", "neighbor_id")
            .collect()]


def recall_at_5(pairs, truth: dict) -> float:
    hit = sum(1 for q, n in pairs if n in truth.get(q, ()))
    return hit / sum(len(v) for v in truth.values())


def setup_joins_corpus(data: Path, seed: int, spark):
    """Pages with their join targets, documents and embeddings, written
    once; returns the generators and the tables as DataFrames."""
    pg = gen.Pages(seed, N_PAGES)
    corpus = gen.Corpus(seed, N_DOCS, N_VECS)
    tables = {**pg.tables(), "docs": corpus.docs, "emb": corpus.emb}
    dfs = {}
    for name, table in tables.items():
        path = data / f"{name}.parquet"
        gen.write_table(path, table)
        dfs[name] = spark.read.parquet(str(path))
    return pg, corpus, dfs


def joins_corpus_checks(pg: gen.Pages, corpus: gen.Corpus):
    checks = join_checks(pg)
    truth = corpus.topk_truth()
    n_docs = corpus.docs.num_rows
    same_chunks, same_recall = SameEveryCall(), SameEveryCall()

    def check_curate(r):
        if not 0 < r["docs"] <= n_docs:
            return f"curated {r['docs']} of {n_docs} documents"
        return same_chunks(r["chunks"])

    def check_ann(pairs):
        rc = recall_at_5(pairs, truth)
        if rc < 0.5:
            return f"recall@5 {rc:.3f} < 0.5"
        return same_recall(rc)

    checks.update(curate=check_curate, ann=check_ann)
    return checks, truth, same_chunks, same_recall


def joins_corpus_calls(dfs):
    calls = {k: (lambda k=k: join_call(k, dfs)) for k in JOIN_KINDS}
    calls["curate"] = lambda: curate_call(dfs["docs"])
    calls["ann"] = lambda: ann_call(dfs["emb"])
    return calls


def run_joins_corpus(spark, seed, seconds, data, age):
    pg, corpus, dfs = setup_joins_corpus(data, seed, spark)
    checks, truth, same_chunks, same_recall = joins_corpus_checks(
        pg, corpus)
    calls = joins_corpus_calls(dfs)
    setup = _setup_done(age)
    rec = Recorder()
    t_end = time.perf_counter() + seconds
    rounds = 0
    with RssSampler() as rss:
        # one round calls each operator once; the first round in the
        # process is cold (code generation, first Python UDF use)
        while _go_on(rounds, MIN_ROUNDS, t_end, age):
            for k, fn in calls.items():
                rec.call(k if rounds else f"{k}.cold", fn, checks[k])
            rounds += 1
    n_pages, n_docs, n_queries = len(pg.x), corpus.docs.num_rows, len(truth)
    named = {f"{k}_pages_per_s": _per_s(n_pages, rec.median(k))
             for k in JOIN_KINDS}
    named["curate_docs_per_s"] = _per_s(n_docs, rec.median("curate"))
    named["ann_queries_per_s"] = _per_s(n_queries, rec.median("ann"))
    detail = {"inputs": {**pg.stats(), **corpus.stats(),
                         "chunks": same_chunks.ref,
                         "recall_at_5": same_recall.ref},
              "named": named}
    return rec, setup, _metrics(
        setup[0], rec, [f"{k}.cold" for k in calls], list(calls),
        rss.peak), detail


RUNNERS = {"city_dense": run_city_dense, "joins_corpus": run_joins_corpus}


def run(workload: str, seed: int, seconds: float, trace: bool,
        data: Path, age) -> dict:
    """Set up, run and check one workload; returns the result fields."""
    data.mkdir(parents=True, exist_ok=True)
    spark = start_session()
    session_s = age()
    try:
        if trace:
            from perfbench import traced
            return traced.run(workload, spark, seed, data, session_s)
        rec, (_setup_cpu, setup_wall), (metrics, wall), detail = \
            RUNNERS[workload](spark, seed, seconds, data, age)
        detail.update(
            wall, setup_wall_s=setup_wall, session_s=session_s,
            calls=dict(rec.samples), cpu=dict(rec.cpu),
            measure_s=age() - setup_wall,
            age_capped=age() >= HARD_STOP_S,
            failed_ops_frac=rec.failed / max(1, rec.attempted))
        return {"attempted": rec.attempted, "failed": rec.failed,
                "metrics": metrics, "detail": detail}
    finally:
        stop_session(spark)
