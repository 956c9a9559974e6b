"""Domain-level corpus hygiene: host extraction, per-domain caps,
blocklist filtering, and deterministic train/val/test splits.

Web-corpus pipelines (CCNet, RefinedWeb, Gopher's ingestion stage)
treat the registrable DOMAIN as a first-class curation key: a handful
of hosts contribute a grossly disproportionate share of pages, SEO
farms need hard per-domain caps, and blocklists are applied at the
host level, not the URL level. These operators give the curation
chain that tier.

All decisions here are pure column algebra or a single well-shaped
shuffle:

* ``domain_expr`` is one RE2-common regexp over the url column — a
  narrow projection that stays inside whole-stage codegen, and the
  exact same pattern runs in DuckDB for parity.
* ``cap_per_domain`` is the EXACT cap: one hash exchange on the
  domain plus a ``row_number`` window. Correct, but the window puts
  every row of a domain in one partition — a mega-domain (hundreds of
  millions of pages at the 10^12-row scale) becomes a straggler.
* ``cap_per_domain_sampled`` is the scale path: a collapsing count
  per domain (map-side combined, #domains rows shuffled), then the
  keep decision is the same shuffle-free deterministic unit-hash
  filter ``sampling.weighted_sample`` uses — the cap holds in
  expectation (Binomial(n_g, cap/n_g)), no row of the corpus ever
  shuffles, and hot domains cost the same as cold ones.
* ``filter_blocklist`` broadcasts the (always tiny) blocklist and
  anti-joins — zero corpus shuffle.
* ``split_corpus`` labels rows train/val/test from cumulative
  unit-hash thresholds — narrow, deterministic under retries and
  repartitioning, and disjoint by construction.

Reference anchor: the reference plugin has no web-corpus tier; these
extend the engine along the task's training-data axis the same way
``operators/sampling.py`` and ``textops.decontaminate`` do.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .sampling import _unit_hash

# scheme://[userinfo@]HOST[:port]/... — RE2-common (no backrefs, no
# lookaround) so DuckDB's regexp_extract compiles the identical
# pattern. Group 1 is the host.
_HOST_RE = r"^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/@?#]*@)?([^/:?#]+)"


def domain_expr():
    """Registrable host of the ``url`` column: lowercased, port and
    userinfo stripped, one leading ``www.`` label dropped. Empty
    string for non-URL junk AND for null urls (never null, so it is
    a safe groupBy key and both blocklist paths agree on it). Pure
    JVM regexp — stays in the scan stage.

    This is the CURATION key (what a blocklist or per-domain cap
    means by "domain"); ``textops.canonicalize_url``'s ``domain`` is
    a different, oracle-pinned beast — the full lowercased authority
    with only ``www.`` stripped (userinfo/non-default ports kept),
    because the canonical URL it belongs to must round-trip the
    original authority. Don't unify them: dedup identity and
    curation grouping legitimately disagree on userinfo."""
    host = F.lower(F.regexp_extract(F.col("url"), _HOST_RE, 1))
    out = F.when(host.startswith("www."),
                 F.substring(host, 5, 2 ** 30)).otherwise(host)
    return F.coalesce(out, F.lit(""))


def cap_per_domain(docs: DataFrame, max_docs: int,
                   seed: str = "domcap-v1") -> DataFrame:
    """EXACT per-domain cap: keep at most ``max_docs`` docs per
    domain, chosen by deterministic unit-hash order (an unbiased
    sample of the domain, not "first by doc_id" which would bias
    toward old crawls). Ties broken by ``key_col`` so the result is a
    pure function of the input set.

    One exchange (hash partition by domain) + one in-partition sort.
    All rows of a domain land in one task — exact, but skew-exposed;
    see ``cap_per_domain_sampled`` for the 100 TB path.

    Docs whose url yields no domain (junk/null -> ``''``) are EXEMPT:
    they are many unrelated documents sharing a parse failure, not
    one domain, and capping them would silently delete an arbitrary
    slice of the corpus.
    """
    if max_docs < 1:
        raise ValueError(f"max_docs must be >= 1: {max_docs}")
    d = docs.withColumn("_dom", domain_expr())
    w = Window.partitionBy("_dom").orderBy(
        _unit_hash(F.col("doc_id"), seed).asc(), F.col("doc_id").asc())
    return (d.withColumn("_rn", F.row_number().over(w))
            .filter((F.col("_dom") == "")
                    | (F.col("_rn") <= max_docs))
            .drop("_rn", "_dom"))


def cap_per_domain_sampled(docs: DataFrame, max_docs: int,
                           seed: str = "domcap-v1") -> DataFrame:
    """Scale-path per-domain cap: domains at or under the cap are
    kept whole; over-cap domains are thinned by the deterministic
    unit-hash filter with fraction ``max_docs / n_domain`` — the cap
    holds in expectation and concentrates tightly (relative sd
    ~1/sqrt(max_docs)), and NO corpus row ever shuffles: the only
    exchange is the collapsing per-domain count (#domains rows after
    map-side combine), broadcast back onto the scan as a join against
    the (small) over-cap domain list.
    """
    if max_docs < 1:
        raise ValueError(f"max_docs must be >= 1: {max_docs}")
    d = docs.withColumn("_dom", domain_expr())
    # '' (junk/null url) exempt — same contract as the exact cap
    over = (d.groupBy("_dom").agg(F.count(F.lit(1)).alias("_n"))
            .filter((F.col("_n") > max_docs) & (F.col("_dom") != ""))
            .withColumn("_frac", F.lit(float(max_docs)) / F.col("_n"))
            .drop("_n"))
    kept = (d.join(F.broadcast(over), "_dom", "left")
            .filter(F.col("_frac").isNull()
                    | (_unit_hash(F.col("doc_id"), seed)
                       < F.col("_frac")))
            .drop("_frac", "_dom"))
    return kept


def filter_blocklist(docs: DataFrame, blocked: DataFrame | list) -> DataFrame:
    """Drop docs whose domain is on a blocklist. ``blocked`` is a
    one-column DataFrame of domains (any column name) or a plain
    list. Blocklists are tiny relative to the corpus — broadcast
    left-anti, zero corpus shuffle. Entries are normalized through
    the same lowercase/www-strip rule as ``domain_expr`` so
    "WWW.Spam.Example" blocks "spam.example"."""
    d = docs.withColumn("_dom", domain_expr())
    if isinstance(blocked, list):
        norm = set()
        for b in blocked:
            b = str(b).strip().lower()
            if not b:
                continue  # an empty entry must never block the ''
                # junk-url pseudo-domain (a stray comma would
                # otherwise delete every unparseable-url doc)
            norm.add(b[4:] if b.startswith("www.") else b)
        if not norm:
            return docs  # nothing blockable -> untouched input
        out = d.filter(~F.col("_dom").isin(sorted(norm)))
    else:
        bcol = blocked.columns[0]
        bl = blocked.select(F.lower(F.trim(F.col(bcol))).alias("_b")) \
            .select(F.when(F.col("_b").startswith("www."),
                           F.expr("substring(_b, 5)"))
                    .otherwise(F.col("_b")).alias("_dom")) \
            .filter(F.col("_dom").isNotNull() & (F.col("_dom") != "")) \
            .distinct()
        out = d.join(F.broadcast(bl), "_dom", "left_anti")
    return out.drop("_dom")


def split_corpus(docs: DataFrame, weights: dict[str, float],
                 key_col: str = "doc_id", seed: str = "split-v1") -> DataFrame:
    """Deterministic disjoint train/val/test labeling: each doc's
    unit hash is compared against the cumulative weight ladder, in
    sorted label order, so the assignment is a pure function of
    (key, seed) — stable when the corpus grows, under retries, and
    across engines (DuckDB recomputes it exactly). Weights must sum
    to 1 (±1e-9). Narrow projection — no shuffle, and the SAME seed
    with a per-domain key (``domain_expr``) gives leakage-free
    domain-disjoint splits."""
    total = sum(weights.values())
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"weights must sum to 1, got {total}")
    if any(w < 0 for w in weights.values()):
        raise ValueError("weights must be >= 0")
    u = _unit_hash(F.col(key_col), seed)
    # cumulative thresholds rounded to 12 decimals: both engines sum
    # the same decimal literals, so the ladder is bit-identical.
    expr = None
    acc = 0.0
    items = sorted(weights.items())
    for label, w in items[:-1]:
        acc = round(acc + w, 12)
        cond = u < F.lit(acc)
        expr = F.when(cond, F.lit(label)) if expr is None \
            else expr.when(cond, F.lit(label))
    last = items[-1][0]
    expr = F.lit(last) if expr is None else expr.otherwise(F.lit(last))
    return docs.withColumn("split", expr)
