"""Int8 embedding quantization vs exact DuckDB oracles."""

import duckdb
import pandas as pd
import pytest

from osm_sidewalkreator_spark.operators.simsearch import (
    cosine_topk_quantized, quantize_embeddings, recall_at_k)
from osm_sidewalkreator_spark.session import get_spark

SF = "/root/testdata/sf0.001"

Q8 = f"""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
               FROM read_parquet('{SF}/embeddings.parquet')),
         s AS (SELECT vec_id, v,
                      CASE WHEN amax > 0 THEN amax / 127.0 ELSE 1.0 END
                          AS scale
               FROM (SELECT vec_id, v,
                            list_aggregate(list_transform(v, x -> abs(x)),
                                           'max') AS amax
                     FROM e)),
         q8 AS (SELECT vec_id, scale,
                       list_transform(v, x -> CAST(greatest(-127,
                           least(127, floor(x / scale + 0.5))) AS INT))
                           AS qvec
                FROM s)
"""


@pytest.fixture(scope="module")
def spark():
    return get_spark()


def test_quantize_matches_duckdb_exactly(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    got = (quantize_embeddings(emb).toPandas()
           .sort_values("vec_id").reset_index(drop=True))
    got["qvec"] = got["qvec"].map(tuple)
    con = duckdb.connect()
    want = con.execute(
        Q8 + "SELECT vec_id, scale, qvec FROM q8 ORDER BY vec_id").df()
    con.close()
    want["qvec"] = want["qvec"].map(tuple)
    pd.testing.assert_frame_equal(got, want, check_dtype=False)
    # codes honour the clamp and use the full range somewhere
    flat = [c for row in got["qvec"] for c in row]
    assert min(flat) >= -127 and max(flat) <= 127 and max(map(abs, flat)) == 127


def test_quantized_topk_matches_duckdb_exactly(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    got = (cosine_topk_quantized(emb, k=5, query_mod=50).toPandas()
           .sort_values(["query_id", "rank"]).reset_index(drop=True))
    con = duckdb.connect()
    want = con.execute(Q8 + """
        , q AS (SELECT vec_id AS query_id, qvec AS qa FROM q8
                WHERE vec_id % 50 = 0),
          j AS (SELECT q.query_id, b.vec_id AS neighbor_id,
                       round(list_dot_product(q.qa, b.qvec)
                         / (sqrt(list_dot_product(q.qa, q.qa))
                          * sqrt(list_dot_product(b.qvec, b.qvec))), 9)
                       AS cosine
                FROM q CROSS JOIN q8 b
                WHERE b.vec_id <> q.query_id)
        SELECT query_id, neighbor_id, cosine,
               CAST(row_number() OVER (PARTITION BY query_id
                    ORDER BY cosine DESC, neighbor_id) AS INT) AS rank
        FROM j QUALIFY rank <= 5
        ORDER BY query_id, rank
    """).df()
    con.close()
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def test_quantized_recall_vs_float_truth(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    r = recall_at_k(cosine_topk_quantized(emb, k=5, query_mod=50), emb,
                    k=5, query_mod=50)
    assert r >= 0.9, f"int8 recall@5 collapsed: {r}"
