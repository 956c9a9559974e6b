"""End-to-end training-corpus curation as one declarative plan.

Composes the individually-gated operators into the standard web-text
curation chain (the RefinedWeb/CCNet shape):

    quality score -> language filter -> exact dedup ->
    near-dup cluster dedup (MinHash pairs -> connected components,
    keeper = highest quality) -> token-window chunking

Every stage is a DataFrame transformation on the same lazy plan — no
driver materialization between stages; Catalyst prunes the text column
into exactly the stages that read it.  Shuffle inventory for the whole
chain (the 100 TB question):

1. exact dedup — one hash-partitioned window on ``(xxhash64(text),
   text)`` (hash routes the shuffle and fronts the sort comparison;
   text in the key makes equality exact against 64-bit collisions at
   the 1e12-row target; a window rather than groupBy so the full doc
   row survives without a self-join back);
2. MinHash pairs — the band equi-join inside ``minhash_lsh_pairs``
   (hot-bucket capped);
3. connected components — O(log^2 n) node-keyed rounds over the PAIR
   set only (pairs << docs);
4. keeper election — one window over ``cluster_id``;
5. chunking — zero shuffles (narrow explode).

Filters run FIRST so every downstream shuffle moves only surviving
documents.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from osm_sidewalkreator_spark.operators import graph as GR
from osm_sidewalkreator_spark.operators import textops as TX


def curation_stages(docs: DataFrame, *, normalize: bool = False,
                    block_domains: list | None = None,
                    max_per_domain: int | None = None,
                    domain_cap_exact: bool = False,
                    min_quality: float = 0.0,
                    gopher: bool = False,
                    langs: tuple[str, ...] | None = None,
                    max_dup_3gram: float | None = None,
                    max_boilerplate: float | None = None,
                    scrub_pii: bool = False,
                    strip_spans_tokens: int | None = None,
                    max_nll: float | None = None,
                    decontaminate_against: DataFrame | None = None,
                    jaccard: float = 0.5, chunk_tokens: int = 128,
                    overlap: int = 16) -> dict[str, DataFrame]:
    """The curation chain with its intermediates exposed: returns
    ``{"filtered", "labeled", "kept", "chunks"}`` so a production job
    can persist the cluster map for lineage/audit and write the chunks
    without recomputing the chain (see ``job_curate.py``).
    ``curate_corpus`` is the single-DataFrame wrapper.

    Optional filters: ``max_dup_3gram`` drops docs whose in-document
    duplicate-3-gram fraction exceeds it (row-pure — costs nothing);
    ``max_boilerplate`` drops docs whose corpus-common-shingle ratio
    (``common_shingle_ratio``, shingles in more than 5 docs) exceeds it —
    this one is a corpus-level statistic, so enabling it legitimately
    adds the DF-index shuffles + one doc_id join.

    ``scrub_pii`` rewrites ``text`` through the row-pure
    ``pii_scrub_expr`` placeholder chain BEFORE any scoring (zero
    added shuffles). ``decontaminate_against`` drops docs sharing any
    word 8-gram with the given (small) eval corpus:
    the eval grams broadcast, corpus grams explode-join them, and the
    flagged id set broadcasts back into a left-anti — no corpus-wide
    shuffle is added.
    """
    # quality + language + repetition are narrow expressions over text
    # — attached with withColumn, NOT by joining the operator outputs
    # back on doc_id (which would re-scan the corpus and shuffle for
    # columns Catalyst can compute inside the scan stage)
    if block_domains is not None or max_per_domain is not None:
        # domain hygiene runs FIRST: it needs only the url column and
        # shrinks the corpus before any text work. Requires the
        # production pages shape (url present) — the sf `documents`
        # table has no url, so these stages are opt-in.
        from osm_sidewalkreator_spark.operators import domains as DM
        if "url" not in docs.columns:
            raise ValueError(
                "domain stages need a 'url' column on the input")
        if block_domains is not None:
            # tiny list -> broadcast anti-join, zero corpus shuffle
            docs = DM.filter_blocklist(docs, block_domains)
        if max_per_domain is not None:
            # sampled cap is the 100 TB default (no corpus shuffle,
            # skew-immune); exact cap opts into the window shuffle
            docs = (DM.cap_per_domain(docs, max_per_domain)
                    if domain_cap_exact else
                    DM.cap_per_domain_sampled(docs, max_per_domain))
    if normalize:
        # first text stage: every downstream signal keys on the
        # cleaned text (row-pure, zero shuffles)
        docs = docs.withColumn("text", TX.normalize_text_expr())
    if scrub_pii:
        docs = docs.withColumn("text", TX.pii_scrub_expr())
    if strip_spans_tokens is not None:
        # substring-level dedup BEFORE scoring: cutting the repeated
        # boilerplate changes quality/lang/dedup inputs, which is the
        # point. Adds the gram-count shuffle; only flagged docs'
        # rebuild rows shuffle beyond it (operators/textops.py).
        docs = TX.remove_repeated_spans(
            docs, span_tokens=strip_spans_tokens) \
            .drop("n_tokens_removed", "n_spans_removed")
    if gopher:
        # the full Gopher rule set (row-pure struct expr — adds zero
        # shuffles, rides the same scan as quality/langid below)
        docs = TX.gopher_filter(docs)
    d = (docs.withColumn("quality", TX.quality_expr())
         .withColumn("lang_pred", TX.langid_expr())
         .filter(F.col("quality") >= F.lit(min_quality)))
    if langs is not None:
        d = d.filter(F.col("lang_pred").isin(*langs))
    if max_dup_3gram is not None:
        d = d.filter(TX.dup_ngram_expr(3) <= F.lit(max_dup_3gram))
    if max_boilerplate is not None:
        bp = TX.common_shingle_ratio(d) \
            .filter(F.col("common_ratio") > max_boilerplate) \
            .select("doc_id")
        d = d.join(bp, "doc_id", "left_anti")
    if decontaminate_against is not None:
        flagged = (TX.decontaminate(d, decontaminate_against)
                   .filter(F.col("n_contaminated_ngrams") > 0)
                   .select("doc_id"))
        d = d.join(F.broadcast(flagged), "doc_id", "left_anti")
    if max_nll is not None:
        # CCNet-style perplexity tail cut: the bigram LM self-trains
        # on the filter survivors (one count aggregate) and the keep
        # set comes back as a semi-join. Pick thresholds OFF the
        # 6-decimal nll grain (operators/lm.py).
        from osm_sidewalkreator_spark.operators import lm as LM
        d = LM.perplexity_filter(d, max_nll)

    # exact dedup: keep the lowest doc_id per identical text. The
    # window partitions by (hash, text) — the 8-byte hash does the
    # shuffle-routing and the sort's first comparison, and text in the
    # key makes equality EXACT (a 64-bit collision at the 1e12-row
    # target scale would otherwise silently drop a distinct doc; text
    # comparisons only happen between hash-equal rows, i.e. true dups
    # plus the ~never collision, and the row carries text anyway so
    # the key adds no shuffle bytes).
    d = (d.withColumn("_h", F.xxhash64("text"))
         .withColumn("_keep",
                     F.min("doc_id").over(Window.partitionBy("_h", "text")))
         .filter(F.col("doc_id") == F.col("_keep"))
         .drop("_h", "_keep"))

    # near-dup cluster dedup over the survivors
    pairs = TX.minhash_lsh_pairs(d, jaccard).select(
        F.col("id_a").alias("a"), F.col("id_b").alias("b"))
    labeled = GR.dedup_clusters(
        d.select("doc_id", "text", "lang_pred", "quality"),
        pairs, prefer="quality")
    kept = labeled.filter("is_keeper")

    # per-doc metadata rides through the explode (extra_cols) — no
    # chunk-to-metadata join afterwards
    chunks = TX.chunk_documents(
        kept.select("doc_id", "text", F.col("lang_pred").alias("lang"),
                    "quality", "cluster_id", "cluster_size"),
        chunk_tokens=chunk_tokens, overlap=overlap,
        extra_cols=("lang", "quality", "cluster_id", "cluster_size"))
    chunks = chunks.select(
        "doc_id", "lang", "quality", "cluster_id", "cluster_size",
        "chunk_idx", "n_chunks", "n_chunk_tokens", "chunk_text")
    return {"filtered": d, "labeled": labeled, "kept": kept,
            "chunks": chunks}


def curate_corpus(docs: DataFrame, **opts) -> DataFrame:
    """Curated, deduplicated, chunked corpus ready for tokenization:
    the ``chunks`` frame of ``curation_stages``, whose keyword options
    ``opts`` are.

    Returns one row per chunk: (doc_id, lang, quality, cluster_id,
    cluster_size, chunk_idx, n_chunks, n_chunk_tokens, chunk_text).

    ``min_quality`` drops docs below the ``quality_score`` heuristic;
    ``langs`` (e.g. ``("en", "pt")``) keeps only those predicted
    languages (None keeps all); near-dup clusters keep their
    highest-quality member (ties -> lowest doc_id).
    """
    return curation_stages(docs, **opts)["chunks"]
