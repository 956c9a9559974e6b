"""BM25 ranking vs its DuckDB oracle + plan-shape assertions."""

import duckdb
import pytest
from pyspark.sql import functions as F

from osm_sidewalkreator_spark.operators import ranking as R
from osm_sidewalkreator_spark.session import get_spark

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def spark():
    return get_spark()


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


def test_bm25_matches_duckdb_exactly(spark, docs):
    terms = ["join", "filter"]
    got = (R.bm25_scores(docs, terms).toPandas()
           .sort_values("doc_id").reset_index(drop=True))
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS "
                f"SELECT * FROM '{SF}/documents.parquet'")
    want = con.execute(R.bm25_oracle_sql(terms)
                       + " ORDER BY doc_id").df()
    con.close()
    assert got.doc_id.tolist() == want.doc_id.tolist()
    # bit-exact after the shared 6-decimal rounding
    assert (got.bm25.to_numpy() == want.bm25.to_numpy()).all()
    assert len(got) > 0


def test_bm25_scoring_stage_is_narrow(spark, docs):
    # the stats row is collected; the SCORING pass itself must be a
    # shuffle-free projection (the 100 TB contract in the docstring)
    plan = (R.bm25_scores(docs, ["hash"])
            ._jdf.queryExecution().executedPlan().toString())
    assert "Exchange" not in plan


def test_bm25_rarer_term_outranks_common_given_equal_tf(spark):
    # idf monotonicity: with one occurrence each in same-length docs,
    # the rarer term scores higher
    rows = [(i, "pad " * 7 + ("rare" if i == 0 else "common"))
            for i in range(50)]
    d = spark.createDataFrame(
        [(i, t.strip()) for i, t in rows], "doc_id long, text string")
    out = {r.doc_id: r.bm25
           for r in R.bm25_scores(d, ["rare", "common"]).collect()}
    assert out[0] > out[1]


def test_bm25_rejects_empty_terms(spark, docs):
    with pytest.raises(ValueError):
        R.bm25_scores(docs, [])
