"""Connected components + cluster dedup vs an exact DuckDB oracle.

Oracle: transitive closure by recursive CTE (min reachable id per
node) — exponential-state-free on the test graphs, exact by
construction. The engine runs the large-star/small-star rounds; the
results must be set-identical, including canonical (min-id) labels.
"""

import duckdb
import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from osm_sidewalkreator_spark.operators.graph import (
    connected_components, dedup_clusters)
from osm_sidewalkreator_spark.operators.textops import minhash_lsh_pairs
from osm_sidewalkreator_spark.session import get_spark

SF = "/root/testdata/sf0.001"

ORACLE_CC = """
WITH RECURSIVE sym AS (
    SELECT a AS u, b AS v FROM pairs WHERE a <> b
    UNION
    SELECT b, a FROM pairs WHERE a <> b
), reach(node, r) AS (
    SELECT u, u FROM sym
    UNION
    SELECT reach.node, sym.v FROM reach JOIN sym ON sym.u = reach.r
)
SELECT node, MIN(r) AS component FROM reach GROUP BY node
"""


@pytest.fixture(scope="module")
def spark():
    return get_spark()


def _oracle(pairs_pdf: pd.DataFrame) -> set:
    con = duckdb.connect()
    con.register("pairs", pairs_pdf)
    out = con.execute(ORACLE_CC).fetchall()
    con.close()
    return set(map(tuple, out))


def _engine(spark, pairs_pdf: pd.DataFrame) -> set:
    df = spark.createDataFrame(pairs_pdf)
    got = connected_components(df).collect()
    labels = {(r["node"], r["component"]) for r in got}
    assert len(labels) == len(got), "duplicate (node, component) rows"
    assert len({r["node"] for r in got}) == len(got), \
        "a node carries two component labels"
    return labels


def test_small_graph_labels_are_a_local_relation(spark):
    """Below the driver bound the labels are a LocalRelation (an Arrow
    table, no job per evaluation), not an RDD of Python rows."""
    for rows, ddl, want in (
            ([(1, 2), (2, 3), (7, 5)], "a long, b long",
             [(1, 1), (2, 1), (3, 1), (5, 5), (7, 5)]),
            ([("x", "y")], "a string, b string", [("x", "x"), ("y", "x")])):
        cc = connected_components(spark.createDataFrame(rows, ddl))
        plan = cc._jdf.queryExecution().optimizedPlan()
        assert plan.getClass().getSimpleName() == "LocalRelation", \
            plan.toString()
        assert sorted(map(tuple, cc.collect())) == want


def test_cc_random_graphs_match_duckdb_oracle(spark):
    rng = np.random.default_rng(7)
    for trial in range(3):
        n = 300
        m = 260 + 40 * trial
        pdf = pd.DataFrame({
            "a": rng.integers(0, n, m), "b": rng.integers(0, n, m)})
        pdf = pdf[pdf.a != pdf.b].astype("int64")
        assert _engine(spark, pdf) == _oracle(pdf)


def test_cc_chain_star_and_merge_shapes(spark):
    # chain (worst case for label propagation), star, two components
    chain = pd.DataFrame({"a": np.arange(99), "b": np.arange(1, 100)})
    star = pd.DataFrame({"a": np.full(50, 1000), "b": 1001 + np.arange(50)})
    bridge = pd.DataFrame({"a": [99], "b": [1000]})
    pdf = pd.concat([chain, star, bridge]).astype("int64")
    labels = _engine(spark, pdf)
    assert labels == _oracle(pdf)
    # one merged component labelled by the global min
    assert {c for _, c in labels} == {0}


def test_cc_string_ids(spark):
    pdf = pd.DataFrame({"a": ["d9", "d2", "x1", "x3"],
                        "b": ["d2", "d5", "x3", "x9"]})
    labels = _engine(spark, pdf)
    assert labels == _oracle(pdf)
    assert labels == {("d9", "d2"), ("d2", "d2"), ("d5", "d2"),
                      ("x1", "x1"), ("x3", "x1"), ("x9", "x1")}


def test_cc_empty_pairs(spark):
    df = spark.createDataFrame([], "a long, b long")
    assert connected_components(df).count() == 0


def test_dedup_clusters_on_documents_minhash(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    pairs = minhash_lsh_pairs(docs, 0.5).select(
        F.col("id_a").alias("a"), F.col("id_b").alias("b"))
    out = dedup_clusters(docs, pairs).cache()
    n_docs = docs.count()
    assert out.count() == n_docs  # no docs gained or lost
    # exactly one keeper per cluster
    per = out.groupBy("cluster_id").agg(
        F.sum(F.col("is_keeper").cast("int")).alias("k"),
        F.count(F.lit(1)).alias("n"),
        F.min("doc_id").alias("mn"),
        F.max(F.when(F.col("is_keeper"), F.col("doc_id"))).alias("kid"))
    bad = per.filter("k <> 1 OR cluster_id <> mn OR kid <> mn").count()
    assert bad == 0
    # cluster_size column agrees with the group count
    assert out.join(per, "cluster_id").filter("cluster_size <> n").count() == 0
    # clusters really exist at sf0.001 (synthetic corpus has near-dups)
    assert out.filter("cluster_size > 1").count() > 0
    # keeper count == distinct clusters == corpus size minus dropped dups
    n_clusters = per.count()
    assert out.filter("is_keeper").count() == n_clusters < n_docs
    out.unpersist()


def test_dedup_clusters_prefer_column(spark):
    pdf = pd.DataFrame({"doc_id": [1, 2, 3, 4],
                        "q": [0.1, 0.9, 0.5, 0.2]})
    docs = spark.createDataFrame(pdf)
    pairs = spark.createDataFrame(pd.DataFrame({"a": [1, 2], "b": [2, 3]}))
    out = {(r["doc_id"], r["cluster_id"], r["is_keeper"])
           for r in dedup_clusters(docs, pairs, prefer="q").collect()}
    # cluster {1,2,3} keeps doc 2 (highest q); singleton 4 keeps itself
    assert out == {(1, 1, False), (2, 1, True), (3, 1, False),
                   (4, 4, True)}


def test_cc_larger_graph_matches_union_find(spark):
    # 60k edges over 40k nodes — too big for the recursive-CTE oracle,
    # checked against a pure-python union-find instead; also pins the
    # round count (large-star/small-star must converge well inside the
    # O(log^2 n) budget, nowhere near max_iter)
    rng = np.random.default_rng(11)
    m, n = 60_000, 40_000
    a = rng.integers(0, n, m)
    b = rng.integers(0, n, m)
    keep = a != b
    pdf = pd.DataFrame({"a": a[keep], "b": b[keep]}).astype("int64")

    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in zip(pdf.a, pdf.b):
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    # canonical label = min node id per component
    touched = sorted(set(pdf.a) | set(pdf.b))
    label = {}
    for x in touched:
        r = find(x)
        label.setdefault(r, x)  # touched is sorted -> first hit is min
    want = {(x, label[find(x)]) for x in touched}

    got = {(r["node"], r["component"])
           for r in connected_components(spark.createDataFrame(pdf)).collect()}
    assert got == want


def test_distributed_path_matches_driver_fast_path(spark, monkeypatch):
    """r06: CC gained a broadcast-scale driver fast path; force the
    distributed star rounds (threshold=0) and pin label equality on a
    graph with chains, a hub, and singleton-free random edges."""
    from osm_sidewalkreator_spark.operators import graph as G
    rng = np.random.default_rng(7)
    m, n = 5_000, 2_000
    a = rng.integers(0, n, m)
    b = rng.integers(0, n, m)
    keep = a != b
    pdf = pd.DataFrame({"a": a[keep], "b": b[keep]}).astype("int64")
    fast = {(r["node"], r["component"])
            for r in connected_components(
                spark.createDataFrame(pdf)).collect()}
    monkeypatch.setattr(G, "_CC_DRIVER_MAX_EDGES", 0)
    dist = {(r["node"], r["component"])
            for r in connected_components(
                spark.createDataFrame(pdf)).collect()}
    assert dist == fast
