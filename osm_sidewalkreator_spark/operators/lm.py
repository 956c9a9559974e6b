"""Bigram language-model training + per-document NLL scoring.

The CCNet-style "perplexity filter" a training-data pipeline runs
after dedup: fit an n-gram LM, score every document, drop the tail.
Here the model is a Laplace-smoothed bigram LM trained on the corpus
itself (deterministic — no external model file), and the score is the
average negative log-likelihood per bigram (monotone in perplexity,
without the extra exp() that would cost evaluator parity).

    P(w2 | w1) = (c(w1 w2) + 1) / (c(w1·) + V)
    nll(doc)   = round( -sum_pos ln P / n_bigrams , 6)

Scale shape (the 100 TB contract):

* TRAIN is one explode + one map-side-combined groupBy on the bigram
  string; the context counts ``c(w1·)`` and vocabulary size ``V``
  derive from that table with vocab-sized (not corpus-sized)
  aggregates. Nothing corpus-sized is collected.
* SCORE joins the corpus bigram stream to the count table on the
  bigram key. The build side has ONE row per distinct bigram, so a
  hot key ("of the") only fans out its own probe rows — no skew
  explosion — and AQE handles the residual imbalance. Context counts
  attach the same way on ``w1``.
* The per-doc reduction sorts each doc's ln-terms by token position
  and folds them left-to-right (``array_sort`` + ``aggregate``), so
  both engines sum in the IDENTICAL association order: every input to
  ``ln`` is a ratio of exact integers, leaving at most 1-ulp library
  disagreement, far below the 6-decimal rounding grain.

Tokenization = split on single space, the same rule the exact-gated
token_stats / quality_score / decontaminate operators use
(``word_ngram_array`` is the shared bigram builder).

Reference parity note: the reference plugin has no LM; this extends
the engine's curation tier (SURVEY.md "training-data ops") alongside
quality_score (heuristic) and the Gopher rules (gopher_flags_expr).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from osm_sidewalkreator_spark.operators.textops import word_ngram_array


def _doc_bigrams(docs: DataFrame) -> DataFrame:
    """(doc_id, pos, bg) — every word bigram with its 0-based doc
    position; docs with < 2 tokens vanish (no bigram to score)."""
    return docs.select(
        "doc_id",
        F.posexplode(word_ngram_array(F.col("text"), 2))
         .alias("pos", "bg"))


def bigram_counts(docs: DataFrame) -> DataFrame:
    """The trained model: (bg, cb) — one row per distinct corpus
    bigram. One shuffle, map-side combined."""
    return _doc_bigrams(docs).groupBy("bg").agg(
        F.count(F.lit(1)).alias("cb"))


def bigram_nll(docs: DataFrame,
               train: DataFrame | None = None) -> DataFrame:
    """(doc_id, n_bigrams, nll) for every doc with >= 1 bigram.

    ``train`` is the corpus the model fits on; None means self-trained
    (score the corpus under its own statistics). Passing a curated
    reference corpus is the actual CCNet setup — fit on Wikipedia,
    score the crawl, drop the worst tail — and is where the Laplace
    smoothing earns its keep: bigrams/contexts unseen in ``train`` get
    cb=0 / cu=0 and the probability degrades to ~1/V instead of
    erroring. Same scale shape either way: counts collapse map-side,
    scoring joins the bigram stream against one-row-per-bigram tables.
    """
    cb = bigram_counts(docs if train is None else train)
    cu = cb.groupBy(F.substring_index(F.col("bg"), " ", 1).alias("w1")) \
           .agg(F.sum("cb").alias("cu"))
    # The cb/cu/V subtrees each re-derive the bigram counts, so one
    # scoring run pays several corpus explode passes (Spark does not
    # dedupe common subtrees).  At a 100 TB train corpus the right
    # shape is a lazy localCheckpoint of ``cb`` plus V carried as a
    # broadcast one-row scalar (2 passes, fully lazy); measured at
    # this bench's corpus size the checkpoint materialization costs
    # more than the saved passes (interleaved A/B: 0.922 s vs
    # 1.054 s), so the eager-V multi-pass shape is kept here.
    v = cb.select(F.countDistinct(
        F.substring_index(F.col("bg"), " ", -1))).collect()[0][0]
    term = F.log((F.coalesce(F.col("cb"), F.lit(0)) + F.lit(1.0))
                 / (F.coalesce(F.col("cu"), F.lit(0)) + F.lit(float(v))))
    if train is None:
        # self-trained: every scored bigram exists in the model by
        # construction, so the context count can ride on the model
        # table (one vocab-sized join) and the corpus bigram stream
        # shuffles ONCE instead of once per lookup table (guide §2.4)
        bi = _doc_bigrams(docs)
        cbu = cb.withColumn("w1", F.substring_index(F.col("bg"), " ", 1)) \
                .join(cu, "w1").select("bg", "cb", "cu")
        scored = (bi.join(cbu, "bg", "left")
                    .select("doc_id", "pos", term.alias("term")))
    else:
        # cross-trained: a scored bigram can miss cb while its context
        # w1 still exists in train — the two lookups stay independent
        bi = _doc_bigrams(docs).withColumn(
            "w1", F.substring_index(F.col("bg"), " ", 1))
        scored = (bi.join(cb, "bg", "left")
                    .join(cu, "w1", "left")
                    .select("doc_id", "pos", term.alias("term")))
    agg = scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.array_sort(F.collect_list(F.struct("pos", "term")))
         .alias("terms"))
    fold = F.aggregate(F.transform(F.col("terms"), lambda s: s["term"]),
                       F.lit(0.0), lambda a, x: a + x)
    return agg.select(
        "doc_id", "n_bigrams",
        (F.round(-fold / F.col("n_bigrams"), 6) + 0.0).alias("nll"))


def perplexity_filter(docs: DataFrame, max_nll: float) -> DataFrame:
    """Keep docs whose bigram NLL is <= max_nll (plus docs too short
    to score — a length filter is a different op). The bigram model
    is fitted on ``docs`` itself. Pick thresholds OFF attainable
    values; nll is rounded to 6 decimals, so any grain-interior value
    is safe."""
    keep = bigram_nll(docs).filter(F.col("nll") <= max_nll) \
                           .select("doc_id")
    short = docs.select("doc_id", F.size(F.split(F.col("text"), " "))
                        .alias("_n")).filter(F.col("_n") < 2) \
                .select("doc_id")
    return docs.join(keep.union(short), "doc_id", "left_semi")


def bigram_nll_oracle_sql(table: str = "documents",
                          train_table: str | None = None) -> str:
    """Self-contained DuckDB SQL computing identical (doc_id,
    n_bigrams, nll) rows — recomputes counts, V and the position-
    ordered left fold itself. ``train_table`` fits the counts on a
    different corpus (LEFT joins + coalesce replay the Laplace
    unseen-gram degradation exactly)."""
    tr = train_table or table
    return f"""
        WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk
                   FROM {table}),
        trt AS (SELECT doc_id, string_split(text, ' ') AS tk
                FROM {tr}),
        bi AS (SELECT doc_id, pos, tk[pos] || ' ' || tk[pos + 1] AS bg
               FROM (SELECT doc_id, tk,
                            unnest(range(1, len(tk))) AS pos
                     FROM t WHERE len(tk) >= 2)),
        tbi AS (SELECT tk[pos] || ' ' || tk[pos + 1] AS bg
                FROM (SELECT tk, unnest(range(1, len(tk))) AS pos
                      FROM trt WHERE len(tk) >= 2)),
        cb AS (SELECT bg, count(*) AS cb FROM tbi GROUP BY bg),
        cu AS (SELECT split_part(bg, ' ', 1) AS w1,
                      CAST(sum(cb) AS BIGINT) AS cu
               FROM cb GROUP BY w1),
        vv AS (SELECT count(DISTINCT split_part(bg, ' ', 2)) AS v
               FROM cb),
        sc AS (SELECT bi.doc_id, bi.pos,
                      ln((coalesce(cb.cb, 0) + 1.0)
                         / (coalesce(cu.cu, 0) + vv.v)) AS term
               FROM bi
               LEFT JOIN cb USING (bg)
               LEFT JOIN cu ON cu.w1 = split_part(bi.bg, ' ', 1), vv),
        ag AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
                      list(term ORDER BY pos) AS terms
               FROM sc GROUP BY doc_id)
        SELECT doc_id, n_bigrams,
               round(-list_reduce(terms, (a, x) -> a + x)
                     / n_bigrams, 6) + 0.0 AS nll
        FROM ag
    """
