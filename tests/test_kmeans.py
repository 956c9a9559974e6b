"""Spherical k-means (IVF coarse-quantizer trainer) vs a NumPy Lloyd
oracle.

k-means is iterative float arithmetic — not SQL-expressible — so the
oracle here is an independent NumPy implementation of the same
algorithm (same deterministic init, same tie rule) rather than DuckDB.
Centroids are compared to 1e-8 (summation order differs between
Spark's partial aggregation and NumPy); assignments are compared
exactly.
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from osm_sidewalkreator_spark.operators.simsearch import (
    assign_cells, cosine_topk_ivf, kmeans_fit_spherical, recall_at_k)
from osm_sidewalkreator_spark.session import get_spark

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def spark():
    return get_spark(shuffle_partitions=8)


def _corpus(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    pdf = (emb.select("vec_id",
                      F.col("embedding").cast("array<double>").alias("v"),
                      F.xxhash64("vec_id").alias("h"))
           .toPandas().sort_values("vec_id").reset_index(drop=True))
    vecs = np.array(pdf["v"].tolist(), dtype=np.float64)
    return emb, pdf, vecs


def _numpy_lloyd(pdf, vecs, k, iters):
    nrm = np.linalg.norm(vecs, axis=1, keepdims=True)
    vn = np.where(nrm > 0, vecs / np.where(nrm == 0, 1.0, nrm), vecs)
    init_rows = pdf.sort_values("h").head(k).index.to_numpy()
    cents = vn[init_rows].copy()
    for _ in range(iters):
        best = np.argmax(vn @ cents.T, axis=1)  # first max on ties
        nxt = cents.copy()  # empty cell keeps its centroid
        for c in range(k):
            s = vn[best == c].sum(axis=0)
            ln = np.linalg.norm(s)
            if ln > 0:
                nxt[c] = s / ln
        cents = nxt
    return vn, cents


def test_kmeans_matches_numpy_lloyd(spark):
    emb, pdf, vecs = _corpus(spark)
    got = np.array(kmeans_fit_spherical(emb, n_centroids=8, iters=3))
    vn, want = _numpy_lloyd(pdf, vecs, k=8, iters=3)
    assert got.shape == want.shape
    assert np.allclose(got, want, atol=1e-8)
    # unit-normalized model
    assert np.allclose(np.linalg.norm(got, axis=1), 1.0, atol=1e-9)
    # assignment operator agrees with NumPy argmax against the model
    cells = (assign_cells(emb, got.tolist()).toPandas()
             .sort_values("vec_id").reset_index(drop=True))
    assert (cells["cid"].to_numpy() == np.argmax(vn @ want.T, axis=1)).all()


def test_kmeans_iter0_is_the_ivf_sample(spark):
    """iters=0 must reproduce cosine_topk_ivf's stateless sampled
    centroids (unit-normalized)."""
    emb, pdf, vecs = _corpus(spark)
    got = np.array(kmeans_fit_spherical(emb, n_centroids=8, iters=0))
    init_rows = pdf.sort_values("h").head(8).index.to_numpy()
    raw = vecs[init_rows]
    want = raw / np.linalg.norm(raw, axis=1, keepdims=True)
    assert np.allclose(got, want, atol=0)  # no arithmetic happened


def test_ivf_with_trained_centroids(spark):
    """Trained quantizer slots into the IVF search path: recall stays
    comparable to the stateless sample while the inverted lists get
    MORE BALANCED — the property training buys at scale (the hottest
    cell bounds per-query probe cost)."""
    emb, _, _ = _corpus(spark)
    cents = kmeans_fit_spherical(emb, n_centroids=8, iters=3)
    out = cosine_topk_ivf(emb, k=5, query_mod=50, n_probe=2,
                          centroids=cents)
    assert out.columns == ["query_id", "neighbor_id", "cosine", "rank"]
    assert out.count() > 0
    r_trained = recall_at_k(out, emb, k=5, query_mod=50)
    r_sampled = recall_at_k(
        cosine_topk_ivf(emb, k=5, query_mod=50, n_probe=2, n_centroids=8),
        emb, k=5, query_mod=50)
    assert r_trained >= r_sampled - 0.1
    assert r_trained >= 0.4
    init = kmeans_fit_spherical(emb, n_centroids=8, iters=0)
    sz = lambda c: np.sort(assign_cells(emb, c).groupBy("cid").count()
                           .toPandas()["count"].to_numpy())
    s0, s3 = sz(init), sz(cents)
    assert s3.sum() == s0.sum() == emb.count()
    assert s3.max() <= s0.max()          # hottest list shrank
    assert np.std(s3) < np.std(s0)       # lists more uniform
