"""Repetition / boilerplate quality signals vs exact DuckDB oracles."""

import duckdb
import pandas as pd
import pytest

from osm_sidewalkreator_spark.operators.textops import (
    common_shingle_ratio, dup_ngram_expr)
from osm_sidewalkreator_spark.session import get_spark

SF = "/root/testdata/sf0.001"
DOCS = f"read_parquet('{SF}/documents.parquet')"


@pytest.fixture(scope="module")
def spark():
    return get_spark()


def test_repetition_stats_matches_duckdb(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    got = (docs.select("doc_id",
                       dup_ngram_expr(2).alias("dup_2gram_frac"),
                       dup_ngram_expr(3).alias("dup_3gram_frac"))
           .toPandas()
           .sort_values("doc_id").reset_index(drop=True))
    con = duckdb.connect()
    want = con.execute(f"""
        WITH d AS (SELECT doc_id, string_split(text, ' ') AS t
                   FROM {DOCS}),
             m AS (SELECT doc_id,
                     [t[i+1] || ' ' || t[i+2]
                      for i in range(greatest(len(t)-1, 0))] AS g2,
                     [t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]
                      for i in range(greatest(len(t)-2, 0))] AS g3
                   FROM d)
        SELECT doc_id,
               CASE WHEN len(g2) > 0
                    THEN round(1.0 - len(list_distinct(g2)) / len(g2), 9)
                         + 0.0
                    ELSE 0.0 END AS dup_2gram_frac,
               CASE WHEN len(g3) > 0
                    THEN round(1.0 - len(list_distinct(g3)) / len(g3), 9)
                         + 0.0
                    ELSE 0.0 END AS dup_3gram_frac
        FROM m ORDER BY doc_id
    """).df()
    con.close()
    pd.testing.assert_frame_equal(got, want, check_dtype=False)
    # the synthetic corpus genuinely exercises the signal
    assert (got["dup_2gram_frac"] > 0).any()


def test_common_shingle_ratio_matches_duckdb(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    got = (common_shingle_ratio(docs, max_df=5).toPandas()
           .sort_values("doc_id").reset_index(drop=True))
    con = duckdb.connect()
    want = con.execute(f"""
        WITH d AS (SELECT doc_id, string_split(text, ' ') AS t
                   FROM {DOCS}),
             s AS (SELECT doc_id, list_distinct(
                     [t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]
                      for i in range(len(t) - 2)]) AS sh
                   FROM d WHERE len(t) >= 3),
             e AS (SELECT doc_id, unnest(sh) AS shingle FROM s),
             idx AS (SELECT shingle, count(*) AS df FROM e
                     GROUP BY shingle)
        SELECT e.doc_id,
               CAST(count(*) AS BIGINT) AS n_shingles,
               CAST(sum(CASE WHEN idx.df > 5 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_common,
               round(sum(CASE WHEN idx.df > 5 THEN 1 ELSE 0 END)
                     / count(*), 9) + 0.0 AS common_ratio
        FROM e JOIN idx USING (shingle)
        GROUP BY e.doc_id ORDER BY e.doc_id
    """).df()
    con.close()
    pd.testing.assert_frame_equal(got, want, check_dtype=False)
    assert (got["n_common"] > 0).any()
