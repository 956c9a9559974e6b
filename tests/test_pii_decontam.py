"""PII scrubbing + benchmark decontamination vs exact DuckDB oracles.

The synthetic documents table contains no PII, so parity runs over a
constructed fixture with injected emails/phones/IPs and edge cases;
decontamination parity runs the engine against a DuckDB 8-gram join
over the same frames. Patterns are restricted to Java-regex/RE2
common syntax, so both engines must agree exactly.
"""

import duckdb
import pandas as pd
import pytest

from osm_sidewalkreator_spark.operators import textops as TX
from osm_sidewalkreator_spark.session import get_spark

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def spark():
    return get_spark()


PII_DOCS = pd.DataFrame({
    "doc_id": list(range(8)),
    "text": [
        "contact me at jane.doe+spam@ex-ample.co.uk for details",
        "call +1 (555) 123-4567 or +44 20 7946 0958 now",
        "server at 192.168.0.1 and 10.0.0.255 responded",
        "no pii here just plain words and numbers 12345",
        "mixed a@b.io then +3312345678 then 8.8.8.8 done",
        "sneaky a@@b.com half-email and 999.999.999.999 ip-ish",
        "",
        "trailing email x_y%z@sub.domain.org",
    ],
})


def test_pii_scrub_matches_duckdb(spark):
    got = (spark.createDataFrame(PII_DOCS)
           .select("doc_id", TX.pii_scrub_expr().alias("text"))
           .toPandas().sort_values("doc_id").reset_index(drop=True))
    con = duckdb.connect()
    con.register("d", PII_DOCS)
    e_pat, p_pat, i_pat = [p for _, p, _ in TX.PII_PATTERNS]
    want = con.execute(f"""
        SELECT doc_id,
           regexp_replace(regexp_replace(regexp_replace(text,
               '{e_pat}', '<EMAIL>', 'g'),
               '{p_pat}', '<PHONE>', 'g'),
               '\\b[0-9]{{1,3}}\\.[0-9]{{1,3}}\\.[0-9]{{1,3}}\\.[0-9]{{1,3}}\\b',
               '<IP>', 'g') AS text
        FROM d ORDER BY doc_id
    """).df()
    con.close()
    want = want[got.columns.tolist()].astype(got.dtypes.to_dict())
    pd.testing.assert_frame_equal(got, want)
    # the scrub actually fired on every planted kind
    joined = " ".join(got.text)
    assert "<EMAIL>" in joined and "<PHONE>" in joined \
        and "<IP>" in joined
    assert "jane.doe" not in joined and "192.168.0.1" not in joined


def test_pii_scrub_expr_is_narrow(spark):
    """The expression path must add no exchange: scrubbing is a
    row-pure projection over the scan."""
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = (docs.withColumn("text", TX.pii_scrub_expr())
            ._jdf.queryExecution().executedPlan().toString())
    assert "Exchange" not in plan


def test_decontaminate_matches_duckdb(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet") \
        .filter("doc_id < 60")
    pdf = docs.toPandas()
    # eval set: one 12-token window lifted from two training docs (so
    # those docs MUST flag) plus an unrelated probe that must not
    donors = pdf.sort_values("doc_id").head(2)
    evals = pd.DataFrame({"text": [
        " ".join(t.split(" ")[3:15]) for t in donors.text
    ] + ["zz yy xx ww vv uu tt ss rr qq pp oo"]})
    got = (TX.decontaminate(docs, spark.createDataFrame(evals), n=8)
           .select("doc_id", "n_contaminated_ngrams").toPandas()
           .sort_values("doc_id").reset_index(drop=True))
    con = duckdb.connect()
    con.register("docs", pdf)
    con.register("ev", evals)
    want = con.execute("""
        WITH dg AS (
          SELECT doc_id, unnest(list_distinct(
            [array_to_string(t[i+1:i+8], ' ')
             for i in range(len(t) - 7)])) AS gram
          FROM (SELECT doc_id, string_split(text,' ') AS t FROM docs)
          WHERE len(t) >= 8),
        eg AS (
          SELECT DISTINCT unnest(list_distinct(
            [array_to_string(t[i+1:i+8], ' ')
             for i in range(len(t) - 7)])) AS gram
          FROM (SELECT string_split(text,' ') AS t FROM ev)
          WHERE len(t) >= 8),
        hits AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n
                 FROM dg JOIN eg USING (gram) GROUP BY doc_id)
        SELECT d.doc_id,
               COALESCE(h.n, 0) AS n_contaminated_ngrams
        FROM docs d LEFT JOIN hits h ON h.doc_id = d.doc_id
        ORDER BY d.doc_id
    """).df()
    con.close()
    want = want.astype(got.dtypes.to_dict())
    pd.testing.assert_frame_equal(got, want)
    flagged = set(got[got.n_contaminated_ngrams > 0].doc_id)
    assert set(donors.doc_id) <= flagged
    assert len(flagged) < len(pdf)


def test_curate_chain_with_scrub_and_decontam(spark):
    """Wiring: the optional stages compose into curate_corpus without
    changing the chunk schema; scrubbed text reaches the chunks and
    decontaminated donors are gone."""
    from osm_sidewalkreator_spark.plans import curate as CU

    docs = spark.read.parquet(f"{SF}/documents.parquet") \
        .filter("doc_id < 80")
    pdf = docs.filter("doc_id = 0").toPandas()
    evals = spark.createDataFrame(pd.DataFrame({
        "text": [" ".join(pdf.text.iloc[0].split(" ")[:12])]}))
    out = CU.curate_corpus(docs, scrub_pii=True,
                           decontaminate_against=evals)
    rows = out.collect()
    assert rows
    assert int(pdf.doc_id.iloc[0]) not in {r.doc_id for r in rows}
    base_cols = [c for c in CU.curate_corpus(docs).columns]
    assert out.columns == base_cols


def test_decontaminate_broadcasts_small_sides(spark):
    """Plan shape: the eval-gram join must be a broadcast join — the
    corpus side never shuffles for the gram probe."""
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    evals = docs.filter("doc_id < 2").select("text")
    plan = (TX.decontaminate(docs, evals, n=8)
            ._jdf.queryExecution().executedPlan().toString())
    assert "BroadcastHashJoin" in plan
