"""Token-window document chunking vs an exact DuckDB oracle."""

import duckdb
import pandas as pd
import pytest

from osm_sidewalkreator_spark.operators.textops import chunk_documents
from osm_sidewalkreator_spark.session import get_spark

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def spark():
    return get_spark()


def _oracle(chunk: int, overlap: int) -> pd.DataFrame:
    s = chunk - overlap
    con = duckdb.connect()
    out = con.execute(f"""
        WITH t AS (
            SELECT doc_id, string_split(text, ' ') AS toks
            FROM read_parquet('{SF}/documents.parquet')
        ), c AS (
            SELECT doc_id, len(toks) AS n, toks,
                   unnest(range((greatest(len(toks)-{overlap}-1, 0)
                                 //{s})+1)) AS chunk_idx
            FROM t
        )
        SELECT doc_id, chunk_idx,
               (greatest(n-{overlap}-1, 0)//{s})+1 AS n_chunks,
               least(chunk_idx*{s}+{chunk}, n) - chunk_idx*{s}
                   AS n_chunk_tokens,
               array_to_string(
                   toks[chunk_idx*{s}+1 : least(chunk_idx*{s}+{chunk}, n)],
                   ' ') AS chunk_text
        FROM c
        ORDER BY doc_id, chunk_idx
    """).df()
    con.close()
    return out.reset_index(drop=True)


@pytest.mark.parametrize("chunk,overlap", [(128, 16), (8, 3)])
def test_chunking_matches_duckdb_oracle(spark, chunk, overlap):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    got = (chunk_documents(docs, chunk_tokens=chunk, overlap=overlap)
           .toPandas()
           .sort_values(["doc_id", "chunk_idx"]).reset_index(drop=True))
    want = _oracle(chunk, overlap)
    pd.testing.assert_frame_equal(got, want, check_dtype=True)
    # overlap invariant: with (8,3) most docs produce several chunks
    if chunk == 8:
        assert (want.groupby("doc_id")["chunk_idx"].count() > 1).any()


def test_chunking_rejects_bad_overlap(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    with pytest.raises(ValueError):
        chunk_documents(docs, chunk_tokens=8, overlap=8)
