"""Similarity search over an embedding column (``array<float>``).

Brute-force cosine top-k is the correctness baseline; the LSH-bucketed
variant (random-hyperplane signatures from seeded xxhash64 — fully
deterministic, no RNG state) is the scale path. All math is Spark
column algebra over arrays (``aggregate``/``zip_with``): JVM-side,
no Python UDFs.

Embeddings schema (driver testdata): vec_id, embedding list<float>, label.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

DIM = 64            # embedding dimension the LSH planes span
MAX_BUCKET = 4096   # per-table LSH bucket cap (hot-bucket guard)


def _dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, v: acc + v)


def _norm(a):
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


@pandas_udf(T.DoubleType())
def _pair_dot(a: pd.Series, b: pd.Series) -> pd.Series:
    """Arrow-batched replacement for the per-pair ``_dot`` fold.

    BIT-IDENTICAL to ``aggregate(zip_with(a, b, *), 0.0, acc + v)``:
    the accumulation below runs acc = (acc + a_i*b_i) in ascending
    index order — the same left-fold association — and IEEE-754
    float64 multiply/add are exactly specified, so NumPy and the JVM
    produce the same bits. The HOF fold is interpreted per element
    per PAIR (guide §4.1); this runs one vectorized pass per batch.
    Unequal-length pairs yield null, matching zip_with's null
    propagation through the fold.
    """
    n = len(a)
    out = np.empty(n, dtype=np.float64)
    la = np.fromiter((len(x) if x is not None else -1 for x in a),
                     np.int64, n) if n else np.empty(0, np.int64)
    lb = np.fromiter((len(x) if x is not None else -1 for x in b),
                     np.int64, n) if n else np.empty(0, np.int64)
    ok = (la == lb) & (la >= 0)
    if n and ok.all() and (la == la[0]).all():
        A = np.stack(a.values).astype(np.float64, copy=False)
        B = np.stack(b.values).astype(np.float64, copy=False)
        acc = np.zeros(n, dtype=np.float64)
        for i in range(A.shape[1]):
            acc = acc + A[:, i] * B[:, i]
        return pd.Series(acc)
    res: list = []
    for i in range(n):
        if not ok[i]:
            res.append(None)
            continue
        acc = 0.0
        av, bv = a.iloc[i], b.iloc[i]
        for x, y in zip(av, bv):
            acc = acc + float(x) * float(y)
        res.append(acc)
    return pd.Series(res, dtype="float64")


def _vectors(emb: DataFrame) -> DataFrame:
    """(vec_id, v): the embedding column read as array<double>."""
    return emb.select("vec_id",
                      F.col("embedding").cast("array<double>").alias("v"))


def _queries(df: DataFrame, query_mod: int) -> DataFrame:
    """The deterministic query subset (vec_id % query_mod == 0) of any
    per-vector frame, with vec_id renamed query_id."""
    return (df.filter(F.pmod(F.col("vec_id"), F.lit(query_mod)) == 0)
            .withColumnRenamed("vec_id", "query_id"))


def _rank_topk(j: DataFrame, k: int) -> DataFrame:
    """Top-k tail over (query_id, vec_id, cosine) pairs: rank by
    (cosine desc, vec_id asc) per query. The 9-decimal cosine lets an
    independent evaluator (the DuckDB oracle) rank identically."""
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("vec_id").asc())
    return (j.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", F.col("vec_id").alias("neighbor_id"),
                    "cosine", "rank"))


def _refine(cand: DataFrame, e: DataFrame) -> DataFrame:
    """Exact 9-decimal cosine of (query_id, vec_id) candidate pairs over
    the (vec_id, v) vectors ``e``: per-vector norms once, then the
    Arrow-batched ``_pair_dot`` (bit-identical to the per-pair
    ``_dot``/``_norm`` fold)."""
    en = e.select("vec_id", "v", _norm(F.col("v")).alias("nv"))
    qv = en.select(F.col("vec_id").alias("query_id"),
                   F.col("v").alias("qv"), F.col("nv").alias("qn"))
    sim = _pair_dot(F.col("qv"), F.col("v")) / (F.col("qn") * F.col("nv"))
    return (cand.join(qv, "query_id").join(en, "vec_id")
            .withColumn("cosine", F.round(sim, 9)))


def _blockwise_pair_dots(idx: DataFrame, q: DataFrame) -> DataFrame:
    """All (query, index) pair dots + both norms via a cogrouped
    block kernel — the "move heavy bytes once" shape (guide §8) for
    the all-pairs baselines.

    The crossJoin form shipped BOTH 2 KB vectors through Arrow for
    every candidate pair (~2 GB per run at sf0.1); here each index
    vector crosses the Python boundary once and only (query_id,
    vec_id, dot, qn, nv) rows — a few dozen bytes each — come back.
    Queries are replicated to every group as ROWS (a corpus-fraction
    table, never collected to the driver), the index side is
    hash-grouped by vec_id into ``defaultParallelism`` blocks (group
    count affects parallelism only, never values).

    BIT-IDENTICAL to the crossJoin/_pair_dot/_norm form: the kernel
    accumulates the dot and both self-dots in ascending dimension
    order — the same left-fold association as ``aggregate``'s
    acc + v — and IEEE-754 float64 ops are exactly specified, so dots
    and norms match the JVM bit for bit (for int codes every
    reassociation is exact anyway: |dot| <= qmax^2 * dim << 2^53).

    idx: (vec_id, v); q: (query_id, qv). Returns (query_id, vec_id,
    dot, qn, nv) for EVERY pair including vec_id == query_id —
    callers filter, exactly as they filtered the crossJoin.
    """
    spark = idx.sparkSession
    n_groups = max(int(spark.sparkContext.defaultParallelism), 1)
    left = idx.withColumn(
        "g", F.pmod(F.col("vec_id"), F.lit(n_groups)).cast("int"))
    groups = spark.range(n_groups).select(F.col("id").cast("int").alias("g"))
    right = q.crossJoin(groups)

    def kernel(lpdf: pd.DataFrame, rpdf: pd.DataFrame) -> pd.DataFrame:
        if len(lpdf) == 0 or len(rpdf) == 0:
            return pd.DataFrame({
                "query_id": pd.Series(dtype="int64"),
                "vec_id": pd.Series(dtype="int64"),
                "dot": pd.Series(dtype="float64"),
                "qn": pd.Series(dtype="float64"),
                "nv": pd.Series(dtype="float64")})
        X = np.stack(lpdf["v"].values).astype(np.float64, copy=False)
        Q = np.stack(rpdf["qv"].values).astype(np.float64, copy=False)
        m, dim = X.shape
        nq = Q.shape[0]
        accx = np.zeros(m)
        accq = np.zeros(nq)
        dot = np.zeros((nq, m))
        # in-place += is the same IEEE add in the same ascending-i
        # order as the allocating form; it just avoids a fresh
        # (nq, m) temporary per dimension
        for i in range(dim):
            xi = X[:, i]
            qi = Q[:, i]
            accx += xi * xi
            accq += qi * qi
            dot += qi[:, None] * xi[None, :]
        return pd.DataFrame({
            "query_id": np.repeat(rpdf["query_id"].values, m),
            "vec_id": np.tile(lpdf["vec_id"].values, nq),
            "dot": dot.ravel(),
            "qn": np.repeat(np.sqrt(accq), m),
            "nv": np.tile(np.sqrt(accx), nq)})

    return (left.groupBy("g").cogroup(right.groupBy("g"))
            .applyInPandas(kernel,
                           "query_id long, vec_id long, dot double, "
                           "qn double, nv double"))


def _exact_topk(e: DataFrame, k: int, query_mod: int) -> DataFrame:
    """Exact top-k of the query subset over every (vec_id, v) vector:
    all pair dots from the block kernel, then the shared rank tail."""
    # the cogroup's two sides need distinct names: `v` on both is an
    # ambiguous self-join
    q = _queries(e, query_mod).withColumnRenamed("v", "qv")
    j = _blockwise_pair_dots(e, q).filter(
        F.col("vec_id") != F.col("query_id"))
    sim = F.col("dot") / (F.col("qn") * F.col("nv"))
    return _rank_topk(j.withColumn("cosine", F.round(sim, 9)), k)


def cosine_topk_bruteforce(emb: DataFrame, k: int = 5,
                           query_mod: int = 50) -> DataFrame:
    """Exact top-k cosine neighbors for every query vector.

    Queries = vec_id % query_mod == 0 (deterministic subset). Pair
    dots come from the cogrouped block kernel (_blockwise_pair_dots):
    still the quadratic block-nested-loop baseline you replace with
    the LSH variant at scale, but the heavy vector bytes cross the
    Python boundary once instead of once per pair.
    Ties broken by candidate id; similarity rounded to 9 decimals so an
    independent evaluator (the DuckDB oracle) ranks identically.
    """
    return _exact_topk(_vectors(emb), k, query_mod)


_WEIGHTS_CACHE: dict = {}


def _plane_weight_matrix(spark, n_seeds: int, dim: int) -> list:
    """All deterministic random-hyperplane weight rows [seed
    0..n_seeds): weight_i of plane s = pmod(xxhash64(s, i), 2001) - 1000,
    evaluated ONCE and returned as plain floats. Keeping 60
    aggregate-expression trees in the plan made Catalyst re-analyze
    seconds' worth of nodes at every downstream join."""
    key = (n_seeds, dim)
    if key not in _WEIGHTS_CACHE:
        # one nested-transform column (60 separate transform columns
        # took ~10 s of analysis/codegen for a single row); the seed
        # is hashed as an int: another type would change every bucket
        m = F.transform(
            F.sequence(F.lit(0), F.lit(n_seeds - 1)),
            lambda s: F.transform(
                F.sequence(F.lit(0), F.lit(dim - 1)),
                lambda i: (F.pmod(F.xxhash64(s, i), F.lit(2001))
                           .cast("double") - F.lit(1000.0))))
        row = spark.range(1).select(m.alias("m")).collect()[0]
        _WEIGHTS_CACHE[key] = [list(w) for w in row.m]
    return _WEIGHTS_CACHE[key]


def _bucket_udf(W: list, n_tables: int, n_planes: int):
    """Arrow-batched LSH bucket ids: replaces the per-row JVM
    ``transform(lit(W), aggregate(zip_with(...)))`` matmul, which
    evaluated n_tables*n_planes*dim interpreted lambda steps PER ROW
    (guide §4.1/§4.2).

    BIT-IDENTICAL bucketing: the sign accumulator below adds
    (v_i * w_si) in ascending i order — the same left fold as the
    ``aggregate`` expression — and the weights are exact small
    integers, so the IEEE-754 float64 sums (hence the > 0 signs,
    hence the bucket ids) match the JVM bit for bit.
    """
    Wt = np.asarray(W, dtype=np.float64)          # (S, dim)
    S, dim = Wt.shape

    @pandas_udf(T.ArrayType(T.IntegerType()))
    def _buckets(v: pd.Series) -> pd.Series:
        n = len(v)
        if n == 0:
            return pd.Series([], dtype=object)
        V = np.stack(v.values).astype(np.float64, copy=False)
        acc = np.zeros((n, S), dtype=np.float64)
        for i in range(dim):
            acc = acc + V[:, i:i + 1] * Wt[:, i][None, :]
        signs = (acc > 0).astype(np.int32)
        buckets = np.zeros((n, n_tables), dtype=np.int32)
        for t in range(n_tables):
            bk = np.zeros(n, dtype=np.int32)
            for r in range(n_planes):
                bk = bk * 2 + signs[:, t * n_planes + r]
            buckets[:, t] = bk
        return pd.Series(list(buckets))

    return _buckets


def _lsh_buckets(e: DataFrame, n_tables: int, n_planes: int
                 ) -> DataFrame:
    """(vec_id, tbl, bucket): the ``n_tables`` hyperplane bucket ids of
    every (vec_id, v) ``DIM``-vector, one row per table, with buckets
    larger than ``MAX_BUCKET`` dropped per table."""
    W = _plane_weight_matrix(e.sparkSession, n_tables * n_planes, DIM)
    # all n_tables bucket ids in ONE Arrow-batched NumPy pass
    # (bit-identical fold order — see _bucket_udf)
    banded = e.select("vec_id", F.posexplode(_bucket_udf(
        W, n_tables, n_planes)(F.col("v"))).alias("tbl", "bucket"))
    # hot-bucket cap as a window over the SAME (tbl, bucket)
    # partitioning the candidate join needs: the filter preserves the
    # exchange, so cap + join cost one shuffle and both join sides
    # reuse it
    wb = Window.partitionBy("tbl", "bucket")
    return (banded.withColumn("_bn", F.count("*").over(wb))
            .filter(F.col("_bn") <= MAX_BUCKET).drop("_bn"))


def cosine_topk_lsh(emb: DataFrame, k: int = 5, query_mod: int = 50,
                    n_planes: int = 6, n_tables: int = 10) -> DataFrame:
    """Multi-table LSH approximate top-k: ``n_tables`` independent
    random-hyperplane signatures of ``n_planes`` bits each -> one
    (table, bucket) equi-join -> candidate-pair dedup -> exact cosine ->
    top-k.

    Scale shape (the round-1 single-table version degenerated to
    ~N^2/2^planes with hot-bucket skew):

    - candidates come from the union of L tables, so recall is
      1-(1-P)^L per neighbor instead of P per table;
    - QUERY-SIDE multi-probe at Hamming distance 1: each query
      also probes the n_planes buckets one bit-flip away (query side
      is the 1/query_mod subset, so the fan-out multiplies the small
      side of the join only), raising the per-table hit probability
      from p^b to p^b + b*p^(b-1)*(1-p);
    - buckets larger than ``MAX_BUCKET`` are dropped per table (a
      dense-cluster guard: the pair blowup of one megabucket is capped
      at MAX_BUCKET^2 while its members stay reachable through their
      other L-1 tables);
    - the expensive array math runs once per DISTINCT candidate pair,
      after an id-only dedup, not once per (table, pair).

    Measured recall@5 (``recall_at_k``; the bench reports it as
    counter ``lsh_recall_at_5``): the driver embeddings are NEAR-
    UNIFORM (true top-5 cosines only 0.27-0.45, barely above the
    ~0 of random pairs), the adversarial regime for any ANN index —
    bucketing alone (no multi-probe) measures 0.47 there, and the
    hamming-1 multi-probe raises it to 0.96 at the cost of a
    large candidate fraction (on a corpus this uniform, ANY >=0.9
    recall method must inspect most pairs; that is a property of the
    data, not the index). On a clustered corpus (the realistic
    deployment, pinned in tests/test_spark_ops.py) recall is >= 0.9
    even without multi-probe, with a small candidate fraction.
    """
    e = _vectors(emb)
    banded = _lsh_buckets(e, n_tables, n_planes)
    # query-side multi-probe: own bucket + every 1-bit flip. The XOR
    # explode runs on the query subset only; the big data side keeps
    # exactly one (tbl, bucket) row per table.
    probes = F.array(
        F.col("bucket"),
        *[F.col("bucket").bitwiseXOR(F.lit(1 << j))
          for j in range(n_planes)])
    qb = _queries(banded, query_mod).select(
        "query_id", "tbl", F.explode(probes).alias("bucket"))
    cand = (qb.join(banded, ["tbl", "bucket"])
            .filter(F.col("vec_id") != F.col("query_id"))
            .select("query_id", "vec_id").distinct())
    return _rank_topk(_refine(cand, e), k)


def recall_at_k(approx: DataFrame, emb: DataFrame, k: int = 5,
                query_mod: int = 50) -> float:
    """Measured recall@k of an approximate top-k result (any operator's
    (query_id, neighbor_id) output for the same k and query_mod) vs the
    brute-force truth."""
    truth = cosine_topk_bruteforce(emb, k=k, query_mod=query_mod) \
        .select("query_id", "neighbor_id")
    hit = truth.join(approx.select("query_id", "neighbor_id"),
                     ["query_id", "neighbor_id"], "left_semi")
    n_truth = truth.count()
    return (hit.count() / n_truth) if n_truth else 1.0


def embedding_neardup_dedup(emb: DataFrame, threshold: float = 0.35,
                            use_lsh: bool = False) -> DataFrame:
    """Embedding-cosine near-duplicate removal: drop every vector that
    has a near-duplicate (cosine >= threshold) with a SMALLER vec_id —
    the deterministic keep-first rule of web-corpus dedup pipelines.

    use_lsh=False is the exact all-pairs baseline (the correctness
    oracle shape; block-nested-loop at scale). use_lsh=True draws
    candidate pairs from the multi-table hyperplane buckets of
    ``cosine_topk_lsh`` (6 planes, 10 tables) — the 100 TB path:
    per-table buckets larger than ``MAX_BUCKET`` are dropped (same
    hot-bucket guard as cosine_topk_lsh — one dense bucket would
    otherwise still mint O(bucket^2) pairs), so pair count is bounded
    at MAX_BUCKET^2 per surviving bucket instead of N^2, at the cost of
    LSH recall (a missed pair keeps a duplicate, never drops a
    non-duplicate).

    Cosine is rounded to 9 decimals before the threshold compare so an
    independent evaluator ranks borderline pairs identically.
    """
    e = _vectors(emb)
    if use_lsh:
        banded = _lsh_buckets(e, 10, 6)
        cand = (banded.withColumnRenamed("vec_id", "query_id")
                .join(banded, ["tbl", "bucket"])
                .filter(F.col("query_id") < F.col("vec_id"))
                .select("query_id", "vec_id").distinct())
    else:
        cand = (e.select(F.col("vec_id").alias("query_id"))
                .crossJoin(e.select("vec_id"))
                .filter(F.col("query_id") < F.col("vec_id")))
    # the larger id of each near-duplicate pair is dropped
    dups = (_refine(cand, e).filter(F.col("cosine") >= threshold)
            .select("vec_id").distinct())
    return emb.join(dups, "vec_id", "left_anti")


def _unit(emb: DataFrame) -> DataFrame:
    """(vec_id, vn): every embedding scaled to unit length (zero
    vectors stay zero)."""
    nrm = _norm(F.col("v"))
    vn = F.when(nrm > F.lit(0.0),
                F.transform(F.col("v"), lambda x: x / nrm)) \
         .otherwise(F.col("v"))
    return _vectors(emb).select("vec_id", vn.alias("vn"))


def _cell_sims(centroids: list):
    """Dot of ``vn`` with each centroid; the centroids ride into the
    scan as one array literal (no join, no shuffle)."""
    cmat = F.array(*[F.lit([float(x) for x in c]) for c in centroids])
    return F.transform(cmat, lambda cv: _dot(F.col("vn"), cv))


def _argmax(sims):
    """0-based index of the first maximum of ``sims``: ties resolve to
    the lowest cell id, matching NumPy ``argmax``."""
    return (F.array_position(sims, F.array_max(sims)) - 1).cast("int")


def assign_cells(emb: DataFrame, centroids: list) -> DataFrame:
    """(vec_id, cid) under max-cosine assignment to ``centroids``:
    the coarse-quantizer step of an IVF index, one shuffle-free
    literal-array expression."""
    return _unit(emb).select(
        "vec_id", _argmax(_cell_sims(centroids)).alias("cid"))


def quantize_embeddings(emb: DataFrame) -> DataFrame:
    """Per-vector symmetric integer quantization of the embedding column.

    scale = max|v| / qmax (qmax = 2^(bits-1) - 1); q_i = floor(v_i /
    scale + 0.5) clamped to [-qmax, qmax].  floor(x + 0.5) instead of
    round() so an independent evaluator reproduces the integers
    bit-for-bit regardless of its half-even/half-up convention.

    Scale story: int8 codes shrink every downstream shuffle, broadcast
    and cache of the vector column 4x vs float32 (8x vs the cast
    double), which is what makes billion-vector ANN stages fit in
    executor memory; and cosine over symmetric per-vector codes needs
    NO dequantization — the two scales cancel in dot/(|a||b|), so
    ranking runs entirely in integer dot products
    (see ``cosine_topk_quantized``).
    """
    bits = 8
    qmax = (1 << (bits - 1)) - 1
    d = _vectors(emb)
    amax = F.aggregate(F.col("v"), F.lit(0.0),
                       lambda a, x: F.greatest(a, F.abs(x)))
    d = d.withColumn("scale", F.when(amax > F.lit(0.0),
                                     amax / F.lit(float(qmax)))
                     .otherwise(F.lit(1.0)))
    q = F.transform(
        F.col("v"),
        lambda x: F.greatest(
            F.lit(-qmax),
            F.least(F.lit(qmax),
                    F.floor(x / F.col("scale") + F.lit(0.5)))).cast("int"))
    return d.select("vec_id", "scale", q.alias("qvec"))


def cosine_topk_quantized(emb: DataFrame, k: int = 5, query_mod: int = 50
                          ) -> DataFrame:
    """Top-k cosine neighbors ranked on int8-quantized vectors.

    Same join/rank shape as ``cosine_topk_bruteforce`` (and composes
    with the LSH bucketer the same way), but similarity is the integer
    dot product of the quantized codes — the per-vector scales cancel
    in the cosine, so there is no dequantize step.  Integer dots are
    exactly representable in doubles (|dot| <= qmax^2 * dim << 2^53),
    which is what makes the DuckDB oracle parity exact rather than
    approximate.
    """
    q8 = quantize_embeddings(emb)
    # integer dots and self-dots in the block kernel are exactly
    # representable in float64, so every reassociation is EXACT here —
    # sqrt/divide/round then match bit for bit
    return _exact_topk(q8.select("vec_id", F.col("qvec").alias("v")),
                       k, query_mod)

