"""Cross-doc repeated-span removal vs a full DuckDB oracle."""

import duckdb
import pytest
from pyspark.sql import functions as F

from osm_sidewalkreator_spark.operators import textops as TX
from osm_sidewalkreator_spark.session import get_spark

SF = "/root/testdata/sf0.001"
W = 8


@pytest.fixture(scope="module")
def spark():
    return get_spark()


def _oracle_sql(w: int, c: int) -> str:
    return f"""
        WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS tk
                   FROM documents),
        g AS (SELECT doc_id,
                     unnest(range(0, greatest(len(tk) - {w} + 1, 0))) AS p,
                     tk
              FROM t WHERE len(tk) >= {w}),
        gr AS (SELECT doc_id, p,
                      array_to_string(tk[p + 1:p + {w}], ' ') AS gram
               FROM g),
        rep AS (SELECT gram FROM gr GROUP BY gram
                HAVING count(*) >= {c}),
        fl AS (SELECT doc_id, p FROM gr JOIN rep USING (gram)),
        mk AS (SELECT doc_id, p,
                      CASE WHEN p <= lag(p) OVER (PARTITION BY doc_id
                                                  ORDER BY p) + {w}
                           THEN 0 ELSE 1 END AS brk
               FROM fl),
        il AS (SELECT doc_id, p,
                      sum(brk) OVER (PARTITION BY doc_id ORDER BY p)
                        AS isl
               FROM mk),
        sp AS (SELECT doc_id, isl, min(p) AS s, max(p) + {w} AS e
               FROM il GROUP BY doc_id, isl),
        ns AS (SELECT doc_id, CAST(count(*) AS INT) AS n_spans
               FROM sp GROUP BY doc_id),
        tw AS (SELECT doc_id, unnest(range(0, len(tk))) AS i, tk
               FROM t),
        tok AS (SELECT doc_id, i, tk[i + 1] AS w FROM tw),
        kept AS (SELECT tok.doc_id, tok.i, tok.w FROM tok
                 WHERE NOT EXISTS (SELECT 1 FROM sp
                                   WHERE sp.doc_id = tok.doc_id
                                     AND tok.i >= sp.s AND tok.i < sp.e)),
        rb AS (SELECT doc_id,
                      coalesce(string_agg(w, ' ' ORDER BY i), '')
                        AS text2,
                      CAST(count(*) AS BIGINT) AS n_kept
               FROM kept GROUP BY doc_id)
        SELECT t.doc_id,
               CASE WHEN ns.doc_id IS NULL THEN t.text
                    ELSE coalesce(rb.text2, '') END AS text,
               CASE WHEN ns.doc_id IS NULL THEN 0
                    ELSE len(t.tk) - coalesce(rb.n_kept, 0)
               END AS n_tokens_removed,
               coalesce(ns.n_spans, 0) AS n_spans_removed
        FROM t LEFT JOIN ns USING (doc_id)
               LEFT JOIN rb USING (doc_id)
        ORDER BY t.doc_id
    """


def test_matches_duckdb_on_corpus(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    got = (TX.remove_repeated_spans(docs, span_tokens=W, min_count=2)
           .toPandas().sort_values("doc_id").reset_index(drop=True))
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS "
                f"SELECT * FROM '{SF}/documents.parquet'")
    want = con.execute(_oracle_sql(W, 2)).df()
    con.close()
    assert got.doc_id.tolist() == want.doc_id.tolist()
    assert got.text.tolist() == want.text.tolist()
    assert got.n_tokens_removed.tolist() == \
        want.n_tokens_removed.tolist()
    assert got.n_spans_removed.tolist() == want.n_spans_removed.tolist()
    # the corpus genuinely exercises removal
    assert (got.n_tokens_removed > 0).any()


def test_planted_license_paragraph(spark):
    lic = " ".join(f"L{i}" for i in range(12))
    rows = [
        (0, f"alpha beta {lic} gamma delta"),
        (1, f"{lic} other unique words here now ok"),
        (2, "totally unrelated text " + " ".join(
            f"u{i}" for i in range(20))),
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in
           TX.remove_repeated_spans(d, span_tokens=12, min_count=2)
           .collect()}
    # the shared 12-token license vanishes from both carriers, whole
    assert out[0].text == "alpha beta gamma delta"
    assert out[0].n_tokens_removed == 12
    assert out[0].n_spans_removed == 1
    assert out[1].text == "other unique words here now ok"
    # untouched doc passes through byte-identical
    assert out[2].text == rows[2][1]
    assert out[2].n_tokens_removed == 0


def test_overlapping_windows_merge_to_one_span(spark):
    # a 10-token repeat with W=8 flags starts {0,1,2} in each carrier;
    # they must merge into ONE span covering all 10 tokens
    rep = " ".join(f"r{i}" for i in range(10))
    d = spark.createDataFrame(
        [(0, f"{rep} tail0 tail1"), (1, f"head0 head1 {rep}")],
        "doc_id long, text string")
    out = {r.doc_id: r for r in
           TX.remove_repeated_spans(d, span_tokens=8, min_count=2)
           .collect()}
    assert out[0].text == "tail0 tail1"
    assert out[0].n_spans_removed == 1
    assert out[0].n_tokens_removed == 10
    assert out[1].text == "head0 head1"


def test_short_docs_and_validation(spark):
    d = spark.createDataFrame(
        [(0, "too short"), (1, "too short")], "doc_id long, text string")
    out = TX.remove_repeated_spans(d, span_tokens=8).collect()
    assert all(r.text == "too short" for r in out)
    with pytest.raises(ValueError):
        TX.remove_repeated_spans(d, span_tokens=1)
    with pytest.raises(ValueError):
        TX.remove_repeated_spans(d, min_count=1)


def test_normalize_text_matches_duckdb(spark):
    rows = [
        (0, "  a\tb\nc\r\nd  "),
        (1, "already clean"),
        (2, "ctl\x00\x07chars\x1fgone\x7f!"),
        (3, ""),
        (4, "many     spaces\t\t\tand\n\n\nlines"),
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r.text for r in
           d.withColumn("text", TX.normalize_text_expr()).collect()}
    con = duckdb.connect()
    con.register("d", __import__("pandas").DataFrame(
        rows, columns=["doc_id", "text"]))
    want = {r[0]: r[1] for r in con.execute(r"""
        SELECT doc_id, trim(regexp_replace(
            regexp_replace(text, '[\x00-\x08\x0b\x0c\x0e-\x1f\x7f]',
                           '', 'g'),
            '[ \t\n\r]+', ' ', 'g')) FROM d
    """).fetchall()}
    con.close()
    assert got == want
    assert got[0] == "a b c d"
    assert got[2] == "ctlcharsgone!"
    assert got[3] == ""
