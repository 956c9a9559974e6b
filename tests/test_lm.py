"""Bigram-LM NLL vs its DuckDB oracle + plan/semantics assertions."""

import duckdb
import pytest
from pyspark.sql import functions as F

from osm_sidewalkreator_spark.operators import lm
from osm_sidewalkreator_spark.session import get_spark

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def spark():
    return get_spark()


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


def test_bigram_nll_matches_duckdb_exactly(spark, docs):
    got = (lm.bigram_nll(docs).toPandas()
           .sort_values("doc_id").reset_index(drop=True))
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS "
                f"SELECT * FROM '{SF}/documents.parquet'")
    want = con.execute(lm.bigram_nll_oracle_sql()
                       + " ORDER BY doc_id").df()
    con.close()
    assert got.doc_id.tolist() == want.doc_id.tolist()
    assert got.n_bigrams.tolist() == want.n_bigrams.tolist()
    # bit-exact after the shared position-ordered fold + 6-dec rounding
    assert (got.nll.to_numpy() == want.nll.to_numpy()).all()
    assert len(got) > 0


def test_repeated_text_scores_lower_nll(spark):
    # a doc made of one high-frequency bigram must be more predictable
    # than a doc of hapax bigrams under the self-trained model
    rows = [(0, "a b " * 50 + "a b")] + [
        (i, f"u{i} v{i} w{i} x{i}") for i in range(1, 20)]
    d = spark.createDataFrame(
        [(i, t.strip()) for i, t in rows], "doc_id long, text string")
    out = {r.doc_id: r.nll for r in lm.bigram_nll(d).collect()}
    assert out[0] < out[1]
    assert all(out[0] < out[i] for i in range(1, 20))


def test_short_docs_are_unscored_but_kept_by_filter(spark):
    d = spark.createDataFrame(
        [(0, "hello"), (1, ""), (2, "a b c a b c a b")],
        "doc_id long, text string")
    scored = lm.bigram_nll(d).collect()
    assert sorted(r.doc_id for r in scored) == [2]
    kept = lm.perplexity_filter(d, max_nll=100.0)
    assert sorted(r.doc_id for r in kept.collect()) == [0, 1, 2]


def test_perplexity_filter_drops_tail(spark):
    rows = [(0, "a b " * 20 + "a b")] + [
        (i, f"u{i} v{i} w{i} x{i}") for i in range(1, 10)]
    d = spark.createDataFrame(
        [(i, t.strip()) for i, t in rows], "doc_id long, text string")
    nll = {r.doc_id: r.nll for r in lm.bigram_nll(d).collect()}
    cut = (nll[0] + min(nll[i] for i in range(1, 10))) / 2
    kept = sorted(r.doc_id for r in
                  lm.perplexity_filter(d, cut).collect())
    assert kept == [0]


def test_rare_bigram_closed_form_laplace(spark):
    # hand-checkable smoothing arithmetic: corpus = {"a b a b a b",
    # "zz qq"} -> bigrams {a b:3, b a:2, zz qq:1}, contexts {a:3, b:2,
    # zz:1}, V = |{b, a, qq}| = 3, so P(qq|zz) = (1+1)/(1+3) = 1/2
    import math
    both = spark.createDataFrame(
        [(0, "a b a b a b"), (9, "zz qq")], "doc_id long, text string")
    out = {r.doc_id: r for r in lm.bigram_nll(both).collect()}
    assert out[9].n_bigrams == 1
    assert abs(out[9].nll - round(-math.log(2.0 / 4.0), 6)) < 1e-9


def test_training_aggregate_is_mapside_combined(spark, docs):
    # the bigram count groupBy must show a partial_count before the
    # exchange (map-side combine), the 100 TB train contract
    plan = (lm.bigram_counts(docs)
            ._jdf.queryExecution().executedPlan().toString())
    assert "partial_count" in plan or "partial count" in plan.lower()


def test_external_train_corpus_matches_duckdb(spark, docs):
    # the actual CCNet setup: fit on one corpus, score another; unseen
    # bigrams/contexts must degrade to the Laplace 1/V floor, exactly
    train = docs.filter("doc_id % 2 = 0")
    score = docs.filter("doc_id % 2 = 1")
    got = (lm.bigram_nll(score, train=train).toPandas()
           .sort_values("doc_id").reset_index(drop=True))
    con = duckdb.connect()
    con.execute(f"CREATE VIEW score_t AS SELECT * FROM "
                f"'{SF}/documents.parquet' WHERE doc_id % 2 = 1")
    con.execute(f"CREATE VIEW train_t AS SELECT * FROM "
                f"'{SF}/documents.parquet' WHERE doc_id % 2 = 0")
    want = con.execute(
        lm.bigram_nll_oracle_sql("score_t", train_table="train_t")
        + " ORDER BY doc_id").df()
    con.close()
    assert got.doc_id.tolist() == want.doc_id.tolist()
    assert (got.nll.to_numpy() == want.nll.to_numpy()).all()
    assert len(got) > 0


def test_unseen_bigrams_hit_laplace_floor(spark):
    import math
    train = spark.createDataFrame(
        [(0, "a b a b")], "doc_id long, text string")
    score = spark.createDataFrame(
        [(1, "zz qq")], "doc_id long, text string")
    out = lm.bigram_nll(score, train=train).collect()[0]
    # train: bigrams {a b:2, b a:1}, contexts {a:2, b:1}, V=|{b,a}|=2;
    # "zz qq" unseen: P = (0+1)/(0+2) = 1/2
    assert out.n_bigrams == 1
    assert abs(out.nll - round(-math.log(0.5), 6)) < 1e-9
