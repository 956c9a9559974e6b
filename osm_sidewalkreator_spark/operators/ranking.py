"""BM25 full-text relevance ranking over the documents table.

The retrieval primitive a training-data pipeline needs next to dedup
and ANN: score every document against a bag-of-terms query with
Okapi BM25 (Robertson/Sparck-Jones idf in the Lucene ``ln(1 + ...)``
positive form), entirely as Spark column algebra.

Scale shape (the part that matters at 100 TB):

* corpus statistics — ``N``, ``sum(dl)`` and one document-frequency
  counter per query term — come from ONE map-side-combined aggregate
  producing a single row. Nothing but that row crosses the wire; the
  stats job is a pure scan.
* scoring is a NARROW projection: per-term tf is
  ``size(filter(tokens, t))`` on the already-split token array, the
  BM25 sum rides whole-stage codegen, and no join, window, or shuffle
  touches the corpus. The stats row enters as literals (the "model",
  exactly like a broadcast scalar).
* ``bm25_topk`` orders by score — Spark executes orderBy+limit as a
  distributed TakeOrdered, never a global sort.

Scores are rounded to 6 decimals so an independent engine (the DuckDB
oracle) computes identical values: every input to ``ln`` is built
from integer counts with identical association order, leaving at most
1-ulp library disagreement, far below the rounding grain.

Tokenization = split on single space, the same rule ``token_stats``
and ``quality_score`` use (exact-gated by q_token_stats/q_quality).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

K1 = 1.2
B = 0.75


def _tf(toks, term: str):
    return F.size(F.filter(toks, lambda w: w == F.lit(term)))


def bm25_scores(docs: DataFrame, terms: list[str]) -> DataFrame:
    """(doc_id, bm25) for every document matching >= 1 query term.

    score = sum_t  ln(1 + (N - df_t + 0.5)/(df_t + 0.5))
                   * tf_t * (K1+1) / (tf_t + K1*(1 - B + B*dl/avgdl))

    summed in ``terms`` order (fixed association so two engines agree
    bit-for-bit before the final rounding).
    """
    if not terms:
        raise ValueError("terms must be non-empty")
    toks = F.split(F.col("text"), " ")
    dl = F.size(toks)
    stats = docs.select(dl.alias("dl"),
                        *[_tf(toks, t).alias(f"tf{i}")
                          for i, t in enumerate(terms)]) \
        .agg(F.count("*").alias("n"),
             F.sum("dl").alias("sdl"),
             *[F.sum((F.col(f"tf{i}") > 0).cast("long")).alias(f"df{i}")
               for i in range(len(terms))]) \
        .collect()[0]
    n = stats["n"]
    avgdl = stats["sdl"] / n  # exact int/int double division
    score = None
    matched = None
    for i, t in enumerate(terms):
        tf = _tf(toks, t)
        df = stats[f"df{i}"]
        idf = F.log(F.lit(1.0 + (n - df + 0.5) / (df + 0.5)))
        part = idf * (tf * F.lit(K1 + 1.0)
                      / (tf + F.lit(K1)
                         * (F.lit(1.0 - B) + F.lit(B) * dl / F.lit(avgdl))))
        score = part if score is None else score + part
        matched = tf if matched is None else matched + tf
    return (docs.select("doc_id", F.round(score, 6).alias("bm25"),
                        matched.alias("_m"))
            .filter(F.col("_m") > 0).drop("_m"))


def bm25_oracle_sql(terms: list[str]) -> str:
    """Self-contained DuckDB SQL computing the same scores — the
    oracle recomputes N/avgdl/df itself rather than trusting literals
    from the engine under test."""
    tfs = ",\n                   ".join(
        f"len(list_filter(toks, w -> w = '{t}')) AS tf{i}"
        for i, t in enumerate(terms))
    dfs = ", ".join(
        f"sum(CASE WHEN tf{i} > 0 THEN 1 ELSE 0 END) AS df{i}"
        for i in range(len(terms)))
    parts = " + ".join(
        f"ln(1.0 + (s.n - s.df{i} + 0.5) / (s.df{i} + 0.5))"
        f" * (d.tf{i} * {K1 + 1.0}"
        f" / (d.tf{i} + {K1} * ({1.0 - B} + {B} * d.dl / s.avgdl)))"
        for i in range(len(terms)))
    m = " + ".join(f"d.tf{i}" for i in range(len(terms)))
    return f"""
        WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
                   FROM documents),
        d AS (SELECT doc_id, len(toks) AS dl,
                   {tfs}
              FROM t),
        s AS (SELECT count(*) AS n, sum(dl) * 1.0 / count(*) AS avgdl,
                     {dfs}
              FROM d)
        SELECT d.doc_id, round({parts}, 6) AS bm25
        FROM d, s WHERE {m} > 0
    """
