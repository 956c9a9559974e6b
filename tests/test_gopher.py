"""Gopher quality rules (Rae et al. 2021 A1.1.2) vs an exact DuckDB
oracle that recomputes every flag independently, on the sf corpus
UNION a set of crafted documents that each violate exactly one rule.
"""

import duckdb
import pytest
from pyspark.sql import functions as F

from osm_sidewalkreator_spark.operators import textops as TX
from osm_sidewalkreator_spark.session import get_spark

SF = "/root/testdata/sf0.001"

# one deliberate violator per rule (and one clean doc)
GOOD = ("the quick brown fox jumps over that lazy dog and then "
        "walks to the old stone bridge of the quiet town with a "
        "steady wind that rolls over the hills and have carried "
        "the dry leaves along the winding road past the mill and "
        "the orchard where ripe apples hang low over the fence")
CRAFTED = [
    (10_001, GOOD),                                  # passes all
    (10_002, "short doc the of and"),                # bad_word_count
    (10_003, " ".join(["a"] * 60) + " the of and that be"),
    # ^ mean word len 1.x -> bad_mean_word_len (and alpha ok)
    (10_004, GOOD + " " + "#" * 1 + (" #" * 30)),    # bad_symbol_ratio
    (10_005, "\n".join("• point %d of the list and that be of with"
                       % i for i in range(10))),     # bad_bullet_lines
    (10_006, "\n".join(("the line %d of this and that be..." % i)
                       for i in range(10))),         # bad_ellipsis_lines
    (10_007, " ".join(["123"] * 60) + " the of and that"),
    # ^ <80% words alphabetic -> bad_alpha_words
    (10_008, " ".join(["alpha beta gamma delta"] * 15)),
    # ^ no required stopwords -> bad_stopwords
    (10_009, "\n".join(["the same line of that and be with more"] * 8
                       + ["unique tail %d" % i for i in range(2)])),
    # ^ duplicate lines -> bad_dup_lines + bad_dup_line_chars
    (10_010, GOOD + (" …" * 30)),
    # ^ Unicode ellipsis must count toward bad_symbol_ratio too
]


@pytest.fixture(scope="module")
def spark():
    return get_spark()


@pytest.fixture(scope="module")
def docs(spark):
    base = spark.read.parquet(f"{SF}/documents.parquet") \
        .select("doc_id", "text")
    extra = spark.createDataFrame(CRAFTED, ["doc_id", "text"])
    return base.unionByName(extra)


ORACLE = r"""
WITH w AS (
  SELECT doc_id, text,
         list_filter(string_split_regex(text, '\s+'),
                     x -> x <> '') AS words,
         list_filter(string_split(text, chr(10)),
                     x -> trim(x) <> '') AS lines
  FROM d),
m AS (
  SELECT doc_id,
    len(words) AS n_w,
    CASE WHEN len(words) > 0 THEN
      list_aggregate(list_transform(words, x -> length(x)), 'sum')
        / CAST(len(words) AS DOUBLE) ELSE 0.0 END AS mean_wlen,
    CASE WHEN len(words) > 0 THEN
      ((length(text) - length(replace(text, '#', ''))) +
       (length(text) - length(replace(text, '...', ''))) / 3.0 +
       (length(text) - length(replace(text, '…', ''))))
        / len(words) ELSE 0.0 END AS sym_ratio,
    len(lines) AS n_l,
    len(list_filter(lines,
        x -> substr(trim(x), 1, 1) IN ('•', '-', '*'))) AS bullet,
    len(list_filter(lines,
        x -> ends_with(trim(x), '...')
          OR ends_with(trim(x), '…'))) AS ell_end,
    len(list_filter(words,
        x -> regexp_matches(x, '[A-Za-z]'))) AS alpha,
    len(list_intersect(
        list_distinct(list_transform(words, x -> lower(x))),
        ['the','be','to','of','and','that','have','with'])) AS stops,
    len(list_distinct(lines)) AS n_dl,
    list_aggregate(list_transform(lines, x -> length(x)), 'sum')
      AS line_chars,
    list_aggregate(list_transform(list_distinct(lines),
                                  x -> length(x)), 'sum') AS dist_chars
  FROM w)
SELECT doc_id,
  (n_w < 50 OR n_w > 100000) AS bad_word_count,
  (mean_wlen < 3.0 OR mean_wlen > 10.0) AS bad_mean_word_len,
  sym_ratio > 0.1 AS bad_symbol_ratio,
  CASE WHEN n_l > 0 THEN bullet / CAST(n_l AS DOUBLE) ELSE 0 END
      > 0.9 AS bad_bullet_lines,
  CASE WHEN n_l > 0 THEN ell_end / CAST(n_l AS DOUBLE) ELSE 0 END
      > 0.3 AS bad_ellipsis_lines,
  CASE WHEN n_w > 0 THEN alpha / CAST(n_w AS DOUBLE) ELSE 0 END
      < 0.8 AS bad_alpha_words,
  stops < 2 AS bad_stopwords,
  CASE WHEN n_l > 0 THEN (n_l - n_dl) / CAST(n_l AS DOUBLE)
       ELSE 0 END > 0.3 AS bad_dup_lines,
  CASE WHEN coalesce(line_chars, 0) > 0
       THEN (line_chars - dist_chars) / CAST(line_chars AS DOUBLE)
       ELSE 0 END > 0.2 AS bad_dup_line_chars
FROM m ORDER BY doc_id
"""

FLAGS = ["bad_word_count", "bad_mean_word_len", "bad_symbol_ratio",
         "bad_bullet_lines", "bad_ellipsis_lines", "bad_alpha_words",
         "bad_stopwords", "bad_dup_lines", "bad_dup_line_chars"]


def test_gopher_flags_match_duckdb(spark, docs):
    got = (docs.select("doc_id", TX.gopher_flags_expr().alias("g"))
           .select("doc_id", "g.*").toPandas()
           .sort_values("doc_id").reset_index(drop=True))
    con = duckdb.connect()
    con.register("d", docs.select("doc_id", "text").toPandas())
    want = con.execute(ORACLE).df()
    con.close()
    for f in FLAGS:
        assert got[f].tolist() == want[f].tolist(), f
    # pass == conjunction of no-violations
    import numpy as np
    assert got["pass"].tolist() == \
        (~np.logical_or.reduce([want[f].to_numpy() for f in FLAGS])
         ).tolist()


def test_gopher_crafted_docs_each_trip_their_rule(spark, docs):
    rep = {r["doc_id"]: r.asDict() for r in
           docs.filter("doc_id >= 10000")
           .select("doc_id", TX.gopher_flags_expr().alias("g"))
           .select("doc_id", "g.*").collect()}
    assert rep[10_001]["pass"]
    assert rep[10_002]["bad_word_count"]
    assert rep[10_003]["bad_mean_word_len"]
    assert rep[10_004]["bad_symbol_ratio"] and not \
        rep[10_001]["bad_symbol_ratio"]
    assert rep[10_005]["bad_bullet_lines"]
    assert rep[10_006]["bad_ellipsis_lines"]
    assert rep[10_007]["bad_alpha_words"]
    assert rep[10_008]["bad_stopwords"]
    assert rep[10_009]["bad_dup_lines"]
    assert rep[10_009]["bad_dup_line_chars"]
    assert rep[10_010]["bad_symbol_ratio"]  # '…' spelling counts
    for did in (10_002, 10_003, 10_004, 10_005, 10_006, 10_007,
                10_008, 10_009, 10_010):
        assert not rep[did]["pass"]


def test_gopher_filter_is_narrow(spark, docs):
    out = TX.gopher_filter(docs)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    kept = {r.doc_id for r in out.select("doc_id").collect()}
    assert 10_001 in kept and 10_008 not in kept


def test_gopher_chain_stage(spark, docs):
    # the sf synth docs are too short/stopword-poor for the paper's
    # default thresholds (all fail); the crafted GOOD doc survives —
    # the stage must shrink the corpus to exactly the passing set
    # and the chain must still run on the survivors
    from osm_sidewalkreator_spark.plans.curate import curation_stages
    stages = curation_stages(docs, gopher=True, jaccard=0.9)
    n_in = docs.count()
    n_f = stages["filtered"].count()
    n_pass = TX.gopher_filter(docs).count()
    assert 0 < n_pass < n_in
    assert n_f <= n_pass
    assert stages["kept"].count() > 0
