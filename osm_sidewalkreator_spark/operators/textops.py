"""Training-data text operators over the ``documents`` table.

These are the web-scale pipeline ops the engine adds beyond the
reference's geometry surface (task brief: dedup, quality, lang-id,
token stats, fingerprinting). All hot paths are Spark built-ins
(whole-stage codegen); the MinHash scale path uses xxhash64 column
expressions and SimHash the md5 halves of each token.

Documents schema (driver testdata): doc_id, text, lang, source, n_chars.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "on", "for", "data")


def exact_dedup(docs: DataFrame) -> DataFrame:
    """Exact duplicate groups by full text equality: one keeper per text.

    Scale path: group by a 128-bit content digest (``unhex(md5(text))``,
    16-byte binary key) so the shuffle key is fixed-width, not the
    document body. 64-bit keys are NOT enough here: at the 1e12-row
    corpus this module targets, the birthday bound on xxhash64 makes
    collisions expected (~n^2/2^65), and a collision silently drops a
    distinct document. At 128 bits the same bound is ~n^2/2^129 ≈ 1e-15
    — the standard content-address trade (git, CAS stores).
    """
    return (docs.groupBy(F.unhex(F.md5("text")).alias("h"))
            .agg(F.min("doc_id").alias("keeper_id"),
                 F.count("*").alias("dup_count"))
            .select("keeper_id", "dup_count"))


def _shingles(col):
    """Distinct word-3-gram shingles of ``col``, first-occurrence order.

    Arrow-batched construction (r06): the previous JVM form —
    zip_with-concat over shifted slices plus array_distinct — was
    interpreted per TOKEN per row and cost ~0.6 s per corpus pass at
    sf0.1 (three passes per minhash run). The Python construction below
    reproduces its semantics exactly: split on a single space with
    trailing empties kept (Java ``split(re, -1)`` == ``str.split(" ")``),
    "t1 t2 t3" joining, and ``array_distinct``'s keep-first-occurrence
    dedup (``dict.fromkeys``). Null text -> null array, < 3 tokens ->
    empty array, both as before."""

    @pandas_udf("array<string>")
    def _sh3(texts: pd.Series) -> pd.Series:
        out = []
        join = " ".join
        fromkeys = dict.fromkeys
        for t in texts:
            if t is None:
                out.append(None)
                continue
            toks = t.split(" ")
            out.append(list(fromkeys(
                map(join, zip(toks, toks[1:], toks[2:])))))
        return pd.Series(out)

    # asNondeterministic: every consumer filters size(sh) > 0 directly
    # on this column, and the optimizer's filter pushdown then evaluates
    # the UDF twice per subtree — once below the pushed filter, once in
    # the surviving projection (two ArrowEvalPython nodes per scan;
    # minhash_lsh_pairs paid 4 corpus passes where 2 suffice,
    # accumulator-verified 20000 -> 10000 rows at sf0.1). The function
    # is pure, so blocking reorder/duplication changes no results.
    return _sh3.asNondeterministic()(col)


def ngram_jaccard_pairs(docs: DataFrame, threshold: float = 0.5,
                        max_df: int | None = None) -> DataFrame:
    """Near-duplicate pairs by exact word-3-gram Jaccard >= threshold.

    Inverted-index self-join on shingles (selective keys), shared-count
    aggregation, |A∪B| = |A|+|B|-|A∩B|. Exact when ``max_df`` is None.

    ``max_df``: scale guard — shingles appearing in more than ``max_df``
    documents are excluded from the INDEX side before the self-join (one
    ubiquitous shingle otherwise mints a quadratic pair blowup: df=1e6
    -> 5e11 pairs). Intersection counts for pairs sharing capped
    shingles undercount by at most (capped shingles in common), so this
    is a recall-lossy approximation biased against boilerplate — the
    MinHash variant below is the principled scale path when exactness
    matters.
    """
    sh = (docs.select("doc_id", _shingles(F.col("text")).alias("sh"))
          .filter(F.size("sh") > 0))
    sizes = sh.select("doc_id", F.size("sh").alias("sz"))
    ex = sh.select("doc_id", F.explode("sh").alias("shingle"))
    if max_df is not None:
        hot = (ex.groupBy("shingle").agg(F.count("*").alias("df"))
               .filter(F.col("df") > max_df).select("shingle"))
        ex = ex.join(F.broadcast(hot), "shingle", "left_anti")
    a = ex.alias("a")
    b = ex.alias("b")
    shared = (a.join(b, (F.col("a.shingle") == F.col("b.shingle"))
                     & (F.col("a.doc_id") < F.col("b.doc_id")))
              .groupBy(F.col("a.doc_id").alias("id_a"),
                       F.col("b.doc_id").alias("id_b"))
              .agg(F.count("*").alias("inter")))
    sa = sizes.select(F.col("doc_id").alias("id_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("doc_id").alias("id_b"), F.col("sz").alias("sz_b"))
    return (shared.join(sa, "id_a").join(sb, "id_b")
            .withColumn("jaccard", F.round(
                F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")), 9))
            .filter(F.col("jaccard") >= threshold)
            .select("id_a", "id_b", "jaccard"))


def minhash_lsh_pairs(docs: DataFrame, threshold: float = 0.5) -> DataFrame:
    """MinHash + banded LSH near-dup candidates, exact-Jaccard verified.

    Scale path of ``ngram_jaccard_pairs``: 16 minhash signatures from
    seeded xxhash64, 4 bands x 4 rows; only band-colliding pairs are
    verified. Probabilistic recall (not oracle-exact by construction).
    """
    num_hashes = 16
    bands = 4
    rows = num_hashes // bands
    sh = (docs.select("doc_id", _shingles(F.col("text")).alias("sh"))
          .filter(F.size("sh") > 0))
    ex = sh.select("doc_id", F.explode("sh").alias("shingle"))
    mins = ex.groupBy("doc_id").agg(*[
        F.min(F.xxhash64("shingle", F.lit(i))).alias(f"mh{i}")
        for i in range(num_hashes)])
    band_cols = [
        F.xxhash64(*[F.col(f"mh{b * rows + r}") for r in range(rows)],
                   F.lit(b)).alias(f"band{b}")
        for b in range(bands)]
    # one (band_idx, band_key) pair list -> single equi-join, one shuffle
    banded = mins.select("doc_id", F.posexplode(
        F.array(*band_cols)).alias("band_idx", "band_key"))
    cand = (banded.alias("a").join(
        banded.alias("b"), ["band_idx", "band_key"])
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("id_a"),
                F.col("b.doc_id").alias("id_b"))
        .distinct())
    # exact verification: shingle arrays joined per pair, JVM-side
    # array_intersect (no second explode join)
    sa = sh.select(F.col("doc_id").alias("id_a"), F.col("sh").alias("sh_a"))
    sb = sh.select(F.col("doc_id").alias("id_b"), F.col("sh").alias("sh_b"))
    paired = cand.join(sa, "id_a").join(sb, "id_b")
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    return (paired.withColumn("jaccard", F.round(inter / union, 9))
            .filter(F.col("jaccard") >= threshold)
            .select("id_a", "id_b", "jaccard"))


def simhash64_portable(docs: DataFrame) -> DataFrame:
    """SimHash with a PORTABLE token hash: the two 32-bit halves of
    md5(token) (hex -> int), fingerprint emitted as (sim_hi, sim_lo)
    32-bit words so no sign-bit shifting is needed anywhere.

    Each token votes its hash bits; the fingerprint sets bit i iff the
    sum of bit i's +-1 votes over tokens is positive. Every step is
    reproducible in any engine with md5, so the DuckDB oracle
    recomputes the fingerprints exactly (q_simhash_md5).
    """
    toks = (docs.select("doc_id",
                        F.explode(F.split("text", " ")).alias("tok"))
            .withColumn("hhi", F.conv(F.substring(F.md5("tok"), 1, 8),
                                      16, 10).cast("long"))
            .withColumn("hlo", F.conv(F.substring(F.md5("tok"), 9, 8),
                                      16, 10).cast("long")))
    aggs = []
    for i in range(32):
        for half, col in (("hi", "hhi"), ("lo", "hlo")):
            aggs.append(F.sum(F.when(
                F.shiftright(F.col(col), i).bitwiseAND(F.lit(1)) == 1, 1
            ).otherwise(-1)).alias(f"{half}{i}"))
    votes = toks.groupBy("doc_id").agg(*aggs)
    out = {}
    for half in ("hi", "lo"):
        w = None
        for i in range(32):
            bit = F.when(F.col(f"{half}{i}") > 0,
                         F.lit(1 << i).cast("long")) \
                   .otherwise(F.lit(0).cast("long"))
            w = bit if w is None else w + bit
        out[half] = w
    return votes.select("doc_id", out["hi"].alias("sim_hi"),
                        out["lo"].alias("sim_lo"))


def token_stats(docs: DataFrame) -> DataFrame:
    """Whitespace token count + BPE-ish subword estimate (P19-adjacent
    text accounting; text column itself is never rewritten)."""
    toks = F.split(F.col("text"), " ")
    n_tok = F.size(toks)
    n_chars = F.length("text")
    # BPE-ish: ~1 token per 4 chars, at least the word count
    bpe = F.greatest(n_tok, F.ceil(n_chars / F.lit(4)).cast("int"))
    return docs.select(
        "doc_id", n_tok.alias("n_tokens"), n_chars.alias("n_chars_engine"),
        bpe.alias("n_bpe_est"))


def quality_expr():
    """The quality heuristic as a plain Column over ``text`` — callers
    composing pipelines (plans/curate.py) attach it with ``withColumn``
    instead of joining ``quality_score``'s output back on doc_id (a
    narrow expression must never cost a shuffle)."""
    toks = F.split(F.col("text"), " ")
    n_tok = F.size(toks)
    stops = F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS)))
    mean_len = (F.length("text") - (n_tok - 1)) / n_tok
    score = (0.4 * F.least(F.lit(1.0), n_tok / F.lit(64.0))
             + 0.3 * (1 - stops / n_tok)
             + 0.3 * F.least(F.lit(1.0), mean_len / F.lit(8.0)))
    return F.round(score, 6)


def quality_score(docs: DataFrame) -> DataFrame:
    """Heuristic quality: mean word length, stopword ratio, length score.

    score = 0.4*min(1, n_tokens/64) + 0.3*(1 - stopword_ratio)
          + 0.3*min(1, mean_word_len/8), rounded to 6 decimals.
    """
    toks = F.split(F.col("text"), " ")
    n_tok = F.size(toks)
    stops = F.size(F.filter(toks, lambda t: t.isin(*STOPWORDS)))
    return docs.select("doc_id", n_tok.alias("n_tokens"),
                       F.round(stops / n_tok, 6).alias("stopword_ratio"),
                       quality_expr().alias("quality"))


LANG_MARKERS = {
    "en": ("the", "and", "walk", "street"),
    "pt": ("rua", "de", "cidade", "mapa"),
    "es": ("calle", "la", "ciudad", "datos"),
    "de": ("der", "und", "stadt", "daten"),
}


def langid_expr():
    """The language-ID argmax as a plain Column over ``text`` (same
    shuffle-free composition rationale as ``quality_expr``)."""
    toks = F.split(F.col("text"), " ")
    scores = {
        lg: F.size(F.filter(toks, lambda t: t.isin(*mk)))
        for lg, mk in LANG_MARKERS.items()}
    best = F.greatest(*scores.values())
    pred = F.lit("en")
    for lg in sorted(LANG_MARKERS, reverse=True):
        pred = F.when((scores[lg] == best) & (best > 0),
                      F.lit(lg)).otherwise(pred)
    return pred


def lang_id(docs: DataFrame) -> DataFrame:
    """Marker-token language ID heuristic: the lang with most marker hits
    wins, ties broken lexicographically, default 'en'. (A real model is
    out of scope; the operator shape — tokenize, score per language,
    argmax — is what the engine provides.)
    """
    return docs.select("doc_id", langid_expr().alias("lang_pred"))


def fingerprint(docs: DataFrame) -> DataFrame:
    """Document fingerprint: md5 of lower-cased text (deterministic,
    cross-engine reproducible)."""
    return docs.select("doc_id",
                       F.md5(F.lower(F.col("text"))).alias("fingerprint"))


def canonicalize_url(url):
    """URL canonicalization for web-corpus dedup keys (pure JVM column
    algebra, no UDF): lowercase scheme + host, strip a leading ``www.``,
    strip the scheme's default port (80/443), drop the fragment, trim
    trailing path slashes (bare path -> '/'), keep the query string
    verbatim (parameter reordering is corpus-policy, not syntax).
    Returns (canon_url, domain) columns."""
    scheme = F.lower(F.regexp_extract(url, r"^([^:/?#]+)://", 1))
    auth = F.lower(F.regexp_extract(url, r"^[^:/?#]+://([^/?#]*)", 1))
    host = F.regexp_replace(auth, r"^www\.", "")
    host = F.when(scheme == "https",
                  F.regexp_replace(host, r":443$", "")) \
        .when(scheme == "http", F.regexp_replace(host, r":80$", "")) \
        .otherwise(host)
    path = F.regexp_extract(url, r"^[^:/?#]+://[^/?#]*([^?#]*)", 1)
    path = F.regexp_replace(path, r"/+$", "")
    path = F.when(path == "", F.lit("/")).otherwise(path)
    query = F.regexp_extract(url, r"^[^:/?#]+://[^/?#]*[^?#]*(\?[^#]*)",
                             1)
    canon = F.concat(scheme, F.lit("://"), host, path, query)
    domain = host
    return canon.alias("canon_url"), domain.alias("domain")


def chunk_documents(docs: DataFrame, chunk_tokens: int = 128,
                    overlap: int = 16,
                    extra_cols: tuple[str, ...] = ()) -> DataFrame:
    """Split each document into overlapping token-window chunks.

    The standard pre-training/RAG chunker: whitespace tokens (the same
    tokenizer as ``token_stats``), windows of ``chunk_tokens`` tokens
    starting every ``chunk_tokens - overlap`` tokens, last window
    truncated at the document end.  Output one row per chunk:
    (doc_id, chunk_idx, n_chunks, n_chunk_tokens, chunk_text).

    Scale: a narrow map + explode — NO shuffle anywhere; output rows
    stay partition-local to their input document, so a downstream
    write or dedup pass repartitions exactly once on its own key.
    Chunk text is rebuilt with array_join on a slice (whole-stage
    codegen; the document body is never copied per-chunk before the
    slice).

    ``extra_cols``: input columns carried through onto every chunk row
    (per-doc metadata like lang/quality) — composition stays join-free
    instead of re-joining chunk rows to doc metadata on doc_id.
    """
    if not 0 <= overlap < chunk_tokens:
        raise ValueError("need 0 <= overlap < chunk_tokens")
    stride = chunk_tokens - overlap
    toks = F.split(F.col("text"), " ")
    d = docs.select("doc_id", *extra_cols, toks.alias("toks"),
                    F.size(toks).alias("n_tokens"))
    # starts at 0, stride, 2*stride, ...; a window is emitted only
    # while it contributes tokens BEYOND the previous window's overlap
    # region — i.e. start < n_tokens - overlap — else the final window
    # would be fully contained in its predecessor whenever
    # n_tokens mod stride lands in [1, overlap] (duplicated training
    # text, inflated counts). max(.., 0) keeps a single window for
    # docs shorter than chunk_tokens; split() never yields an empty
    # array (empty text -> [""]), so n_tokens >= 1 always
    last = F.floor(F.greatest(F.col("n_tokens") - (overlap + 1),
                              F.lit(0)) / F.lit(stride))
    d = (d.withColumn("n_chunks", (last + 1).cast("long"))
         .withColumn("chunk_idx", F.explode(F.sequence(F.lit(0).cast("long"),
                                                       last))))
    start = F.col("chunk_idx") * stride
    piece = F.slice("toks", (start + 1).cast("int"), chunk_tokens)
    return d.select(
        "doc_id", *extra_cols, "chunk_idx", "n_chunks",
        F.size(piece).cast("long").alias("n_chunk_tokens"),
        F.array_join(piece, " ").alias("chunk_text"))


def word_ngram_array(col, n: int):
    """All word ``n``-grams of ``col`` (space-tokenized) as an array
    Column — the shared builder behind ``dup_ngram_expr``,
    ``decontaminate``, the bigram LM and repeated-span removal (one
    implementation so a tokenization fix cannot silently diverge
    them). Empty array when the doc has fewer than ``n`` tokens,
    null for null text.

    Arrow-batched (r06): the previous chain of n-1 interpreted
    ``zip_with``/``concat`` passes dominated the repeated-span and LM
    walls at n=8/n=2; the Python construction reproduces it exactly
    (``str.split(" ")`` == Java ``split(re, -1)``; same gram strings,
    order, and duplicates)."""

    @pandas_udf("array<string>")
    def _ngrams(texts: pd.Series) -> pd.Series:
        out = []
        join = " ".join
        for t in texts:
            if t is None:
                out.append(None)
                continue
            toks = t.split(" ")
            out.append([join(g) for g in
                        zip(*(toks[i:] for i in range(n)))])
        return pd.Series(out)

    return _ngrams(col)


def dup_ngram_expr(k: int = 3):
    """Duplicate word-k-gram fraction as a plain Column over ``text``
    (0.0 when the doc has no k-gram), for shuffle-free filter
    composition (plans/curate.py ``max_dup_3gram``)."""
    g = word_ngram_array(F.col("text"), k)
    return F.when(F.size(g) > 0,
                  F.round(1.0 - F.size(F.array_distinct(g)) / F.size(g),
                          9) + 0.0).otherwise(F.lit(0.0))


def common_shingle_ratio(docs: DataFrame, max_df: int = 5) -> DataFrame:
    """Corpus-level boilerplate signal: per doc, the fraction of its
    distinct word-3-gram shingles that occur in more than ``max_df``
    documents (CCNet-style repeated-passage detection).

    Plan: one explode + groupBy on the shingle string (the document
    frequency index — the same index ``ngram_jaccard_pairs`` builds),
    one join back, one per-doc aggregation.  The DF index aggregates
    BEFORE the join, so the join's build side is only the distinct
    shingle vocabulary; at 100 TB the vocabulary groupBy is the one
    big shuffle and it is map-side combined.
    """
    sh = docs.select("doc_id", F.explode(_shingles(F.col("text")))
                     .alias("shingle"))
    df_idx = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    per = (sh.join(df_idx, "shingle")
           .groupBy("doc_id")
           .agg(F.count(F.lit(1)).alias("n_shingles"),
                F.sum((F.col("df") > max_df).cast("long"))
                .alias("n_common")))
    return per.select(
        "doc_id", "n_shingles", "n_common",
        (F.round(F.col("n_common") / F.col("n_shingles"), 9) + 0.0)
            .alias("common_ratio"))


# --- PII scrubbing -----------------------------------------------------

# Patterns deliberately restricted to syntax with identical semantics
# in Java regex (Spark) and RE2 (DuckDB): character classes, bounded
# repetition, \b word boundaries — no backreferences or lookaround, so
# both engines produce the same leftmost matches and a DuckDB oracle
# can assert exact parity.
PII_PATTERNS = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
     "<EMAIL>"),
    ("phone", r"\+[0-9][0-9()\- ]{6,18}[0-9]", "<PHONE>"),
    ("ipv4", r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b",
     "<IP>"),
)


def pii_scrub_expr():
    """Scrubbed text as a plain Column (emails/phones/IPv4 replaced by
    typed placeholder tokens) — row-pure JVM ``regexp_replace`` chain,
    zero shuffles, composes into curation chains per the PLANS.md rule
    (expressions, never joined-back operator output). Replacement
    order is fixed (email, phone, ipv4): earlier replacements cannot
    create later patterns' matches because placeholders contain no
    digits or ``@``."""
    out = F.col("text")
    for _, pat, repl in PII_PATTERNS:
        out = F.regexp_replace(out, pat, repl)
    return out


# --- benchmark decontamination ----------------------------------------

def decontaminate(docs: DataFrame, eval_texts: DataFrame, n: int = 8
                  ) -> DataFrame:
    """Flag training docs that share any word ``n``-gram with an
    evaluation corpus (benchmark decontamination, the standard
    pre-training hygiene step).

    Scale shape: the EVAL side is tiny (benchmarks are KBs-MBs), so its
    distinct n-grams broadcast; the corpus side explodes its n-grams
    once and inner-joins the broadcast set map-side, so only the
    (doc_id, hit) pairs reach the per-doc aggregation. The final
    join-back of hit counts onto ``docs`` keys both sides by doc_id
    (the hits side is usually tiny — AQE broadcasts it); callers that
    only need to DROP flagged docs should instead left-anti against
    the flagged id set, as ``plans/curate.py`` does, which adds no
    corpus-wide shuffle. Returns docs + ``n_contaminated_ngrams`` (0
    for clean docs).
    """
    from pyspark.sql.functions import broadcast

    def grams(col):
        return F.array_distinct(word_ngram_array(F.col(col), n))

    ev = (eval_texts.select(F.explode(grams("text"))
                            .alias("gram")).distinct())
    hits = (docs.select("doc_id",
                        F.explode(grams("text")).alias("gram"))
            .join(broadcast(ev), "gram")
            .groupBy("doc_id")
            .agg(F.count("*").cast("long")
                 .alias("n_contaminated_ngrams")))
    return (docs.join(hits, "doc_id", "left")
            .withColumn("n_contaminated_ngrams",
                        F.coalesce(F.col("n_contaminated_ngrams"),
                                   F.lit(0).cast("long"))))


def remove_repeated_spans(docs: DataFrame, span_tokens: int = 50,
                          min_count: int = 2) -> DataFrame:
    """Cut every token span that repeats across the corpus — the
    substring-level exact dedup of Lee et al. 2022 ("Deduplicating
    Training Data Makes Language Models Better"), which removes
    boilerplate/licenses/templates that DOCUMENT-level dedup cannot
    see (the docs differ, the paragraph repeats).

    Algorithm (the suffix-array semantics, bucketed for Spark):

    1. every ``span_tokens``-token window (stride 1) of every doc is a
       row; windows whose gram occurs >= ``min_count`` times corpus-
       wide are flagged,
    2. a doc's flagged windows merge into maximal spans (gaps-and-
       islands over start positions: windows overlapping or touching
       chain together), so any repeated run of length >= span_tokens
       is removed WHOLE, exactly as the rolling windows tile it,
    3. the doc's tokens inside merged spans are dropped and the text
       rebuilt; docs with no flagged window pass through untouched.

    Returns the input columns (``text`` rewritten, other columns
    carried through for chain composition) plus ``n_tokens_removed``
    and ``n_spans_removed``.

    Scale shape: the window explode is the algorithm's honest cost
    (one row per token, same as the suffix-array construction's n
    entries); the gram count is ONE map-side-combined groupBy on the
    gram string, flagged positions are a tiny fraction of the corpus,
    and the island merge + rebuild shuffle only FLAGGED docs' rows
    (the untouched majority never leaves its scan partition — it
    re-enters via a left join on the rewritten minority).
    A cap of 10000 positions per gram bounds a degenerate gram's
    fan-in (e.g. the empty-ish token runs of machine text) the same way
    the LSH hot-bucket guard does; capped grams keep their first 10000
    positions per the count ordering, a documented under-removal.

    Determinism: every decision is a pure function of the corpus
    multiset (no hashing, no RNG) — the full pipeline is replayed
    exactly by the DuckDB oracle in tests/test_repeated_spans.py.
    """
    if span_tokens < 2:
        raise ValueError(f"span_tokens must be >= 2: {span_tokens}")
    if min_count < 2:
        raise ValueError(f"min_count must be >= 2: {min_count}")
    from pyspark.sql import Window

    grams = docs.select(
        "doc_id",
        F.posexplode(word_ngram_array(F.col("text"), span_tokens))
         .alias("p", "gram"))
    # one count window over the gram partitioning replaces the old
    # groupBy + join-back: the gram stream is built and shuffled ONCE
    # (the join re-ran the posexplode and shuffled the full stream a
    # second time), and the subsequent row_number reuses the same
    # exchange. count(*) over the full partition == the group count,
    # so flagged positions are identical.
    wg = Window.partitionBy("gram")
    flagged = (grams
               .withColumn("_n", F.count(F.lit(1)).over(wg))
               .filter(F.col("_n") >= min_count)
               .withColumn("_rn", F.row_number().over(
                   wg.orderBy("doc_id", "p")))
               .filter(F.col("_rn") <= 10000)
               .select("doc_id", "p"))

    # gaps-and-islands per doc: a window [p, p+W) extends the current
    # span iff p <= prev_p + W (touching counts: the tokens abut)
    wd = Window.partitionBy("doc_id").orderBy("p")
    spans = (flagged
             .withColumn("_new", F.when(
                 F.col("p") <= F.lag("p").over(wd) + span_tokens,
                 F.lit(0)).otherwise(F.lit(1)))
             .withColumn("_isl", F.sum("_new").over(
                 wd.rowsBetween(Window.unboundedPreceding, 0)))
             .groupBy("doc_id", "_isl")
             .agg(F.min("p").alias("s"),
                  (F.max("p") + span_tokens).alias("e")))
    doc_spans = spans.groupBy("doc_id").agg(
        F.sort_array(F.collect_list(F.struct("s", "e"))).alias("spans"))

    # rebuild only the flagged docs; everyone else passes through
    toks = F.split(F.col("text"), " ")
    idx = F.transform(toks, lambda t, i: F.struct(
        t.alias("w"), i.alias("i")))
    covered = lambda i: F.exists(          # noqa: E731
        F.col("spans"), lambda sp: (i >= sp["s"]) & (i < sp["e"]))
    rewritten = (docs.join(doc_spans, "doc_id")
                 .withColumn("_kept", F.filter(
                     idx, lambda s: ~covered(s["i"])))
                 .select(
                     "doc_id",
                     F.array_join(F.transform(
                         F.col("_kept"), lambda s: s["w"]), " ")
                      .alias("_text2"),
                     (F.size(toks) - F.size(F.col("_kept")))
                      .alias("_removed"),
                     F.size("spans").alias("_nspans")))
    others = [c for c in docs.columns if c != "text"]
    out = (docs.join(rewritten, "doc_id", "left")
           .select(
               *others,
               F.coalesce(F.col("_text2"), F.col("text")).alias("text"),
               F.coalesce(F.col("_removed"), F.lit(0))
                .cast("long").alias("n_tokens_removed"),
               F.coalesce(F.col("_nspans"), F.lit(0))
                .cast("int").alias("n_spans_removed")))
    return out


def normalize_text_expr():
    """Standard pre-tokenization cleanup as a row-pure Column (zero
    shuffles, composes like ``pii_scrub_expr``):

    1. control characters (C0 minus \\t\\n\\r, plus DEL) removed,
    2. all whitespace runs (space/tab/newline/CR) collapsed to one
       space,
    3. leading/trailing space trimmed.

    Java regex only — DuckDB's RE2 accepts the same patterns, so the
    cleaner is exactly replayable (tests/test_repeated_spans.py).
    Case folding and unicode NFC are deliberately NOT here: they lose
    information the dedup/fingerprint family may key on — run them in
    the tokenizer where the loss is scoped.
    """
    no_ctl = F.regexp_replace(F.col("text"),
                              "[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f\\x7f]", "")
    one_ws = F.regexp_replace(no_ctl, "[ \\t\\n\\r]+", " ")
    return F.trim(one_ws)


# Gopher quality rules (Rae et al. 2021, "Scaling Language Models:
# ..., Gopher", Appendix A1.1.2 — the MassiveWeb document filters).
# The paper's REQUIRED stopword list, distinct from the scoring
# STOPWORDS above.
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have",
                    "with")
_GOPHER_BULLETS = ("•", "-", "*")


def gopher_flags_expr():
    """The Gopher document-quality rules over ``text`` as ONE struct Column of
    booleans plus an overall ``pass`` — row-pure JVM column algebra
    (splits / higher-order array functions), so the whole rule set
    rides inside the scan stage with zero shuffles and DuckDB can
    recompute every flag exactly for parity.

    Flags are True when the document VIOLATES the rule:

    * ``bad_word_count``    word count outside [50, 100000]
    * ``bad_mean_word_len`` mean word length outside [3, 10]
    * ``bad_symbol_ratio``  ('#' + '...') occurrences / words > 0.1
    * ``bad_bullet_lines``  > 90% of lines start with a bullet
    * ``bad_ellipsis_lines``> 30% of lines end with '...' or '…'
    * ``bad_alpha_words``   < 80% of words contain a letter
    * ``bad_stopwords``     fewer than 2 distinct required stopwords
    * ``bad_dup_lines``     duplicate-line fraction > 0.3
    * ``bad_dup_line_chars``chars inside duplicate lines > 0.2

    Fractions over empty denominators are treated as non-violations
    (an empty doc fails ``bad_word_count`` anyway).
    """
    c = F.col("text")
    words = F.filter(F.split(c, r"\s+"), lambda w: w != "")
    n_w = F.size(words)
    sum_wlen = F.aggregate(words, F.lit(0),
                           lambda a, w: a + F.length(w))
    mean_wlen = F.when(n_w > 0, sum_wlen / n_w).otherwise(F.lit(0.0))
    n_hash = F.length(c) - F.length(F.replace(c, F.lit("#"), F.lit("")))
    # both ellipsis spellings count toward the symbol ratio (the
    # line-ending rule below already accepted both)
    n_ell = (F.length(c)
             - F.length(F.replace(c, F.lit("..."), F.lit("")))) / 3 \
        + (F.length(c) - F.length(F.replace(c, F.lit("…"), F.lit(""))))
    sym_ratio = F.when(n_w > 0, (n_hash + n_ell) / n_w) \
        .otherwise(F.lit(0.0))
    lines = F.filter(F.split(c, r"\n"),
                     lambda ln: F.trim(ln) != "")
    n_l = F.size(lines)
    bullet = F.size(F.filter(
        lines, lambda ln: F.substring(F.trim(ln), 1, 1)
        .isin(*_GOPHER_BULLETS)))
    ell_end = F.size(F.filter(
        lines, lambda ln: F.trim(ln).endswith("...")
        | F.trim(ln).endswith("…")))
    alpha = F.size(F.filter(words,
                            lambda w: w.rlike("[A-Za-z]")))
    stops = F.size(F.array_intersect(
        F.array_distinct(F.transform(words, F.lower)),
        F.array([F.lit(s) for s in GOPHER_STOPWORDS])))
    dist_lines = F.array_distinct(lines)
    n_dl = F.size(dist_lines)
    line_chars = F.aggregate(lines, F.lit(0),
                             lambda a, ln: a + F.length(ln))
    dist_chars = F.aggregate(dist_lines, F.lit(0),
                             lambda a, ln: a + F.length(ln))
    frac = lambda num, den: F.when(den > 0, num / den) \
        .otherwise(F.lit(0.0))  # noqa: E731
    flags = {
        "bad_word_count": (n_w < 50) | (n_w > 100_000),
        "bad_mean_word_len": (mean_wlen < 3.0) | (mean_wlen > 10.0),
        "bad_symbol_ratio": sym_ratio > 0.1,
        "bad_bullet_lines": frac(bullet, n_l) > 0.9,
        "bad_ellipsis_lines": frac(ell_end, n_l) > 0.3,
        "bad_alpha_words": frac(alpha, n_w) < 0.8,
        "bad_stopwords": stops < 2,
        "bad_dup_lines": frac(n_l - n_dl, n_l) > 0.3,
        "bad_dup_line_chars":
            frac(line_chars - dist_chars, line_chars) > 0.2,
    }
    passed = None
    for v in flags.values():
        passed = ~v if passed is None else passed & ~v
    return F.struct(*[v.alias(k) for k, v in flags.items()],
                    passed.alias("pass"))


def gopher_filter(docs: DataFrame) -> DataFrame:
    """Keep only documents passing every Gopher rule — a narrow
    filter (`gopher_flags_expr` is row-pure), composable into the
    curation chain at zero shuffle cost."""
    return docs.filter(gopher_flags_expr()["pass"])


def latest_crawl(pages: DataFrame, url_col: str = "url",
                 ts_col: str = "warc_ts",
                 text_col: str = "text") -> DataFrame:
    """Recrawl dedup over a Common-Crawl-style pages table: keep ONE
    row per canonical URL — the newest ``warc_ts``, with full
    determinism on timestamp ties (md5(text) then raw url as final
    tie-breaks, so two byte-identical snapshots pick the same winner
    on any engine).

    This is the CC-index "latest revision" rule: recrawls of the same
    page (and trivial URL variants — case, www., default ports,
    fragments — collapsed by ``canonicalize_url``) must not multiply
    into the training corpus. One hash exchange on the canonical url
    + in-partition sort; per-url group size is the recrawl count
    (bounded small), so there is no skew hazard, and the window beats
    the max-ts + join-back alternative's two shuffles.
    """
    canon, _dom = canonicalize_url(F.col(url_col))
    d = pages.withColumn("_canon", canon)
    w = Window.partitionBy("_canon").orderBy(
        F.col(ts_col).desc(), F.md5(text_col).asc(),
        F.col(url_col).asc())
    return (d.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1).drop("_rn", "_canon"))
