"""Domain-tier curation ops vs exact DuckDB / composition oracles.

Urls are synthesized deterministically from doc_id (no external
data): a handful of hosts with www/port/userinfo/junk variants so the
host-extraction regexp is exercised on every branch.
"""

import duckdb
import pytest
from pyspark.sql import functions as F

from osm_sidewalkreator_spark.operators import domains as DO
from osm_sidewalkreator_spark.session import get_spark

SF = "/root/testdata/sf0.001"

# the same RE2 pattern the engine uses — DuckDB compiles it verbatim
HOST_RE = DO._HOST_RE

URL_SQL = """
    CASE (doc_id % 10)
      WHEN 0 THEN 'https://www.alpha.example/p/' || doc_id
      WHEN 1 THEN 'https://alpha.example/q?x=' || doc_id
      WHEN 2 THEN 'http://BETA.example:8080/' || doc_id
      WHEN 3 THEN 'https://user:pw@gamma.example/' || doc_id
      WHEN 4 THEN 'https://delta.example/' || doc_id
      WHEN 5 THEN 'https://www.delta.example/' || doc_id
      WHEN 6 THEN 'ftp://epsilon.example/' || doc_id
      WHEN 7 THEN 'not a url at all ' || doc_id
      WHEN 8 THEN 'https://zeta.example#frag'
      ELSE 'https://eta.example/' || doc_id
    END
"""


@pytest.fixture(scope="module")
def spark():
    return get_spark()


@pytest.fixture(scope="module")
def docs(spark):
    return (spark.read.parquet(f"{SF}/documents.parquet")
            .withColumn("url", F.expr(URL_SQL)))


def _duck(docs):
    con = duckdb.connect()
    con.register("d", docs.select("doc_id", "url", "lang").toPandas())
    return con


DOM_SQL = f"""
    CASE WHEN starts_with(lower(regexp_extract(url, '{HOST_RE}', 1)),
                          'www.')
         THEN substr(lower(regexp_extract(url, '{HOST_RE}', 1)), 5)
         ELSE lower(regexp_extract(url, '{HOST_RE}', 1)) END
"""

UNIT_SQL = ("CAST('0x' || substr(md5('{seed}:' || "
            "CAST(doc_id AS VARCHAR)), 1, 12) AS UBIGINT)"
            " / CAST(16 ** 12 AS DOUBLE)")


def test_domain_expr_matches_duckdb(spark, docs):
    got = (docs.select("doc_id", DO.domain_expr().alias("domain"))
           .toPandas()
           .sort_values("doc_id").reset_index(drop=True))
    con = _duck(docs)
    want = con.execute(f"""
        SELECT doc_id, {DOM_SQL} AS domain FROM d ORDER BY doc_id
    """).df()
    con.close()
    assert got.domain.tolist() == want.domain.tolist()
    doms = set(got.domain)
    # www stripped, case folded, port/userinfo dropped, junk -> ''
    assert {"alpha.example", "beta.example", "gamma.example",
            "delta.example", "epsilon.example", "zeta.example",
            "eta.example", ""} == doms


def test_domain_expr_is_narrow(docs):
    plan = (docs.withColumn("domain", DO.domain_expr())
            ._jdf.queryExecution().executedPlan().toString())
    assert "Exchange" not in plan


def test_cap_per_domain_matches_duckdb(spark, docs):
    cap = 25
    got = (DO.cap_per_domain(docs, cap, seed="domcap-v1")
           .select("doc_id").toPandas()
           .sort_values("doc_id").reset_index(drop=True))
    con = _duck(docs)
    u = UNIT_SQL.format(seed="domcap-v1")
    want = con.execute(f"""
        SELECT doc_id FROM (
          SELECT doc_id, {DOM_SQL} AS dom,
                 row_number() OVER (PARTITION BY {DOM_SQL}
                     ORDER BY {u} ASC, doc_id ASC) AS rn
          FROM d)
        WHERE rn <= {cap} OR dom = '' ORDER BY doc_id
    """).df()
    con.close()
    assert got.doc_id.tolist() == want.doc_id.tolist()
    # the cap binds on every REAL domain; the '' junk-url
    # pseudo-domain (50 docs here) is exempt by contract
    n_dom = docs.select(DO.domain_expr()).distinct().count()
    assert len(got) == (n_dom - 1) * cap + 50


def test_cap_per_domain_sampled_matches_duckdb(spark, docs):
    cap = 30
    got = (DO.cap_per_domain_sampled(docs, cap, seed="domcap-v1")
           .select("doc_id").toPandas()
           .sort_values("doc_id").reset_index(drop=True))
    con = _duck(docs)
    u = UNIT_SQL.format(seed="domcap-v1")
    want = con.execute(f"""
        WITH dd AS (SELECT doc_id, {DOM_SQL} AS dom FROM d),
        over_cap AS (
          SELECT dom, {cap} / CAST(count(*) AS DOUBLE) AS frac
          FROM dd GROUP BY dom
          HAVING count(*) > {cap} AND dom <> '')
        SELECT dd.doc_id FROM dd LEFT JOIN over_cap USING (dom)
        WHERE frac IS NULL OR {u} < frac
        ORDER BY doc_id
    """).df()
    con.close()
    assert got.doc_id.tolist() == want.doc_id.tolist()


def test_cap_per_domain_sampled_semantics(spark, docs):
    # under-cap domains are kept whole; over-cap domains land near cap
    kept = DO.cap_per_domain_sampled(docs, 60, seed="domcap-v1") \
        .withColumn("domain", DO.domain_expr())
    per = {r.domain: r.n for r in
           kept.groupBy("domain").agg(F.count("*").alias("n"))
               .collect()}
    total = {r.domain: r.n for r in
             docs.withColumn("domain", DO.domain_expr()).groupBy("domain")
               .agg(F.count("*").alias("n")).collect()}
    under = [d for d, n in total.items() if n <= 60]
    over = [d for d, n in total.items() if n > 60]
    assert under and over  # both branches exercised on this input
    for dom in under:
        assert per[dom] == total[dom]
    for dom in over:
        # Binomial(n_g, 60/n_g): sd ~ 4.9; allow ~4 sigma
        assert abs(per[dom] - 60) <= 20


def test_filter_blocklist(spark, docs):
    # list form, with un-normalized entries
    out = DO.filter_blocklist(docs, ["WWW.Alpha.example",
                                     "beta.example"])
    doms = {r.domain for r in
            out.select(DO.domain_expr().alias("domain")).distinct()
            .collect()}
    assert "alpha.example" not in doms and "beta.example" not in doms
    assert "delta.example" in doms
    # dataframe form agrees, and the join side is broadcast
    bl = docs.sparkSession.createDataFrame(
        [("WWW.Alpha.example",), ("beta.example",)], ["domain"])
    out2 = DO.filter_blocklist(docs, bl)
    assert (sorted(r.doc_id for r in out.select("doc_id").collect())
            == sorted(r.doc_id for r in out2.select("doc_id")
                      .collect()))
    plan = out2._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan


def test_split_corpus_matches_duckdb(spark, docs):
    w = {"train": 0.9, "val": 0.06, "test": 0.04}
    got = (DO.split_corpus(docs, w, seed="split-v1")
           .select("doc_id", "split").toPandas()
           .sort_values("doc_id").reset_index(drop=True))
    con = _duck(docs)
    u = UNIT_SQL.format(seed="split-v1")
    want = con.execute(f"""
        SELECT doc_id,
               CASE WHEN {u} < 0.04 THEN 'test'
                    WHEN {u} < 0.94 THEN 'train'
                    ELSE 'val' END AS split
        FROM d ORDER BY doc_id
    """).df()
    con.close()
    # ladder is in sorted(label) order: test(0.04), train(0.9), val
    assert got.split.tolist() == want.split.tolist()
    frac = got.split.value_counts(normalize=True)
    assert frac["train"] > 0.85 and frac["val"] < 0.12


def test_split_corpus_is_narrow_stable_and_total(spark, docs):
    w = {"train": 0.99, "val": 0.005, "test": 0.005}
    out = DO.split_corpus(docs, w, seed="s")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    # disjoint + total: every row gets exactly one label
    assert out.filter(F.col("split").isNull()).count() == 0
    assert out.count() == docs.count()
    # growing the corpus never flips an existing doc's label
    small = DO.split_corpus(docs.filter("doc_id < 80"), w, seed="s")
    a = {(r.doc_id, r.split) for r in
         small.select("doc_id", "split").collect()}
    b = {(r.doc_id, r.split) for r in
         out.filter("doc_id < 80").select("doc_id", "split").collect()}
    assert a == b
    with pytest.raises(ValueError):
        DO.split_corpus(docs, {"a": 0.5, "b": 0.4})


def test_curation_chain_domain_stages(spark, docs):
    from osm_sidewalkreator_spark.plans.curate import curation_stages
    stages = curation_stages(docs, block_domains=["alpha.example"],
                             max_per_domain=40, min_quality=0.0,
                             jaccard=0.9)
    f = stages["filtered"].withColumn("domain", DO.domain_expr())
    per = {r.domain: r.n for r in
           f.groupBy("domain").agg(F.count("*").alias("n")).collect()}
    assert "alpha.example" not in per
    # sampled cap in expectation: every surviving domain well under
    # its uncapped size when over-cap (50-100 docs per synth domain)
    for dom, n in per.items():
        assert n <= 40 + 20  # 4 sigma above the expectation
    # chain still produces chunks
    assert stages["chunks"].count() > 0
    # and the stages demand the url column
    with pytest.raises(ValueError):
        curation_stages(docs.drop("url"), max_per_domain=10)


def test_job_curate_split_smoke(spark, tmp_path):
    import job_curate
    out = tmp_path / "cjob_split"
    job_curate.main(["--sf-dir", SF, "--out", str(out),
                     "--min-quality", "0.5", "--chunk-tokens", "32",
                     "--overlap", "8",
                     "--split", "train=0.9,val=0.05,test=0.05"])
    chunks = spark.read.parquet(str(out / "chunks"))
    assert "split" in chunks.columns
    # doc-level key: every chunk of a doc carries the same label
    assert (chunks.groupBy("doc_id")
            .agg(F.countDistinct("split").alias("k"))
            .filter("k > 1").count()) == 0
    labels = {r.split for r in chunks.select("split")
              .distinct().collect()}
    assert labels <= {"train", "val", "test"} and "train" in labels


def test_null_and_junk_urls_are_cap_exempt_and_unblockable(spark,
                                                           docs):
    nulled = docs.withColumn(
        "url", F.when(F.col("doc_id") % 10 == 3, F.lit(None))
        .otherwise(F.col("url")))
    # null url -> domain '' (never null): both blocklist forms agree
    # and neither drops the null/junk rows
    out_list = DO.filter_blocklist(nulled, ["alpha.example", "",
                                            "  "])
    bl = spark.createDataFrame([("alpha.example",), ("",)], ["d"])
    out_df = DO.filter_blocklist(nulled, bl)
    a = sorted(r.doc_id for r in out_list.select("doc_id").collect())
    b = sorted(r.doc_id for r in out_df.select("doc_id").collect())
    assert a == b
    survivors = set(a)
    assert all(d in survivors for d in range(3, 100, 10))  # nulls kept
    assert all(d not in survivors for d in range(0, 100, 10))  # alpha
    # caps exempt the '' pseudo-domain entirely (both variants)
    for fn in (DO.cap_per_domain, DO.cap_per_domain_sampled):
        kept = fn(nulled, 5).withColumn("domain", DO.domain_expr())
        per = {r.domain: r.n for r in kept.groupBy("domain")
               .agg(F.count("*").alias("n")).collect()}
        total_junk = nulled.filter(DO.domain_expr() == "").count()
        assert per[""] == total_junk


def test_job_data_card_accounts_every_stratum(spark, tmp_path):
    import json
    import job_curate
    out = tmp_path / "cjob_card"
    job_curate.main(["--sf-dir", SF, "--out", str(out),
                     "--min-quality", "0.5", "--chunk-tokens", "32",
                     "--overlap", "8", "--split", "train=0.8,val=0.2"])
    card = json.loads((out / "data_card.json").read_text())
    assert card["strata_keys"] == ["lang", "split"]
    chunks = spark.read.parquet(str(out / "chunks"))
    # stratum sums reconcile exactly with the written parquet
    want = {(r.lang, r.split): (r.n, r.t) for r in
            chunks.groupBy("lang", "split")
            .agg(F.count("*").alias("n"),
                 F.sum("n_chunk_tokens").alias("t")).collect()}
    got = {(s["lang"], s["split"]): (s["chunks"], s["tokens"])
           for s in card["strata"]}
    assert got == want
    assert sum(s["chunks"] for s in card["strata"]) \
        == card["totals"]["chunks"]
    assert sum(s["tokens"] for s in card["strata"]) \
        == card["totals"]["tokens"]
    assert card["pipeline"]["split"] == "train=0.8,val=0.2"


def test_job_curate_on_pages_table(spark, tmp_path):
    """The north-star input shape end-to-end: pages -> recrawl dedup
    -> deterministic doc_id -> blocklist + per-domain cap -> chain."""
    import json
    import job_curate
    out = tmp_path / "cjob_pages"
    job_curate.main(["--sf-dir", SF, "--table", "pages",
                     "--out", str(out), "--min-quality", "0.0",
                     "--chunk-tokens", "32", "--overlap", "8",
                     "--jaccard", "0.9",
                     "--block-domains", "site1.example",
                     "--max-per-domain", "5"])
    m = json.loads((out / "metrics.json").read_text())
    assert m["pages_raw"] == 10_000
    assert 0 < m["docs_kept"] <= m["docs_in"] <= m["pages_raw"]
    chunks = spark.read.parquet(str(out / "chunks"))
    assert chunks.count() == m["chunks"] > 0
    # every surviving doc_id is unique (the deterministic key is
    # collision-free here)
    assert chunks.select("doc_id").distinct().count() == m["docs_kept"]
    # the per-domain cap bit hard: 1000 synth domains x 10 docs
    # thinned to ~5 in expectation
    assert m["docs_after_filters"] < 0.65 * m["docs_in"]


def test_empty_blocklist_is_identity(spark, docs):
    out = DO.filter_blocklist(docs, ["", "  "])
    assert out.count() == docs.count()
