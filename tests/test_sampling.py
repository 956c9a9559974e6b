"""Deterministic sampling/sharding vs exact DuckDB oracles."""

import duckdb
import pandas as pd
import pytest

from osm_sidewalkreator_spark.operators import sampling as SA
from osm_sidewalkreator_spark.operators import textops as TX
from osm_sidewalkreator_spark.session import get_spark

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def spark():
    return get_spark()


@pytest.fixture(scope="module")
def docs(spark):
    d = spark.read.parquet(f"{SF}/documents.parquet")
    return d.withColumn("lang", TX.langid_expr())


def _unit_sql(seed: str, key: str = "doc_id") -> str:
    return (f"CAST('0x' || substr(md5('{seed}:' || "
            f"CAST({key} AS VARCHAR)), 1, 12) AS UBIGINT)"
            f" / CAST(16 ** 12 AS DOUBLE)")


def test_weighted_sample_matches_duckdb(spark, docs):
    fr = {"en": 0.8, "pt": 0.3}
    got = (SA.weighted_sample(docs, fr, seed="mix-v1",
                              default_fraction=0.05)
           .select("doc_id").toPandas()
           .sort_values("doc_id").reset_index(drop=True))
    pdf = docs.select("doc_id", "lang").toPandas()
    con = duckdb.connect()
    con.register("d", pdf)
    want = con.execute(f"""
        SELECT doc_id FROM d
        WHERE {_unit_sql('mix-v1')} <
              CASE lang WHEN 'en' THEN 0.8 WHEN 'pt' THEN 0.3
                   ELSE 0.05 END
        ORDER BY doc_id
    """).df()
    con.close()
    assert got.doc_id.tolist() == want.doc_id.tolist()
    # a real mix: some docs dropped, some kept
    n = len(pdf)
    assert 0.05 * n < len(got) < n


def test_weighted_sample_is_narrow_and_stable(spark, docs):
    plan = (SA.weighted_sample(docs, {"en": 0.5})
            ._jdf.queryExecution().executedPlan().toString())
    assert "Exchange" not in plan
    # growing the corpus never flips an existing doc's decision
    small = SA.weighted_sample(docs.filter("doc_id < 100"), {"en": 0.5})
    big = SA.weighted_sample(docs, {"en": 0.5})
    a = {r.doc_id for r in small.select("doc_id").collect()}
    b = {r.doc_id for r in
         big.filter("doc_id < 100").select("doc_id").collect()}
    assert a == b


def test_shard_corpus_matches_duckdb(spark, docs):
    n_shards = 4
    got = (SA.shard_corpus(docs, n_shards, seed="shard-v1")
           .select("doc_id", "shard", "shard_order").toPandas())
    pdf = docs.select("doc_id").toPandas()
    con = duckdb.connect()
    con.register("d", pdf)
    want = con.execute(f"""
        SELECT doc_id,
               CAST(floor({_unit_sql('shard-v1')} * {n_shards}) AS INT)
                 AS shard,
               CAST('0x' || substr(md5('shard-v1:' ||
                    CAST(doc_id AS VARCHAR)), 1, 12) AS BIGINT)
                 AS shard_order
        FROM d
    """).df()
    con.close()
    g = got.sort_values("doc_id").reset_index(drop=True)
    w = want.sort_values("doc_id").reset_index(drop=True) \
        .astype(g.dtypes.to_dict())
    pd.testing.assert_frame_equal(g, w)
    # every shard non-empty and sizes roughly balanced at 500 docs
    sizes = got.groupby("shard").size()
    assert len(sizes) == n_shards and sizes.min() > 0
    # within-partition order: ascending shard_order inside each shard
    for _, grp in got.groupby("shard"):
        so = grp.shard_order.tolist()
        assert so == sorted(so)


def test_shard_corpus_single_exchange(spark, docs):
    plan = (SA.shard_corpus(docs, 4)
            ._jdf.queryExecution().executedPlan().toString())
    assert plan.count("Exchange") == 1


def test_weighted_sample_fraction_monotone(spark, docs):
    """Raising a group's fraction can only ADD docs (the unit-hash
    threshold semantics) — the property that makes mix re-weighting
    an incremental operation instead of a resample."""
    lo = {r.doc_id for r in SA.weighted_sample(
        docs, {"en": 0.3}, seed="s").select("doc_id").collect()}
    hi = {r.doc_id for r in SA.weighted_sample(
        docs, {"en": 0.6}, seed="s").select("doc_id").collect()}
    assert lo < hi

def test_weighted_sample_rejects_bad_fractions(spark, docs):
    with pytest.raises(ValueError):
        SA.weighted_sample(docs, {"en": 1.5})
    with pytest.raises(ValueError):
        SA.weighted_sample(docs, {"en": 0.5}, default_fraction=8.0)


def test_temperature_fractions_semantics(spark):
    # 3 domains, counts 1000 / 100 / 10; T=1 is proportional, large T
    # flattens toward uniform (rare domains up-sampled)
    rows = [(i, "x y", "big") for i in range(1000)] \
        + [(1000 + i, "x y", "mid") for i in range(100)] \
        + [(1100 + i, "x y", "rare") for i in range(10)]
    d = spark.createDataFrame(rows, "doc_id long, text string, source string")
    fr1 = SA.temperature_fractions(d, temperature=1.0, target_rows=111)
    # proportional: every group keeps the same fraction target/total
    assert len({round(v, 6) for v in fr1.values()}) == 1
    assert abs(next(iter(fr1.values())) - 111 / 1110) < 1e-6
    fr2 = SA.temperature_fractions(d, temperature=2.0, target_rows=111)
    assert fr2["rare"] > fr2["mid"] > fr2["big"]
    # fractions are probabilities
    assert all(0.0 <= v <= 1.0 for v in fr2.values())
    # extreme flattening caps rare domains at keep-everything
    frX = SA.temperature_fractions(d, temperature=100.0, target_rows=900)
    assert frX["rare"] == 1.0
    with pytest.raises(ValueError):
        SA.temperature_fractions(d, temperature=0.0, target_rows=10)
    with pytest.raises(ValueError):
        SA.temperature_fractions(d, temperature=2.0, target_rows=-1)


def test_temperature_sample_matches_duckdb(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    got = (SA.temperature_sample(docs, temperature=3.0, target_rows=200,
                                 seed="temp-v1")
           .select("doc_id", "source").toPandas()
           .sort_values("doc_id").reset_index(drop=True))
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS "
                f"SELECT * FROM '{SF}/documents.parquet'")
    want = con.execute(f"""
        WITH c AS (SELECT source AS g, CAST(count(*) AS DOUBLE) AS n
                   FROM documents GROUP BY source),
        z AS (SELECT sum(n ** (1.0/3.0)) AS z FROM c),
        fr AS (SELECT g, round(least(1.0,
                        200 * (n ** (1.0/3.0)) / z.z / n), 9) AS frac
               FROM c, z)
        SELECT d.doc_id, d.source
        FROM documents d JOIN fr ON fr.g = d.source
        WHERE {_unit_sql('temp-v1')} < fr.frac
        ORDER BY doc_id
    """).df()
    con.close()
    assert got.doc_id.tolist() == want.doc_id.tolist()
    assert got.source.tolist() == want.source.tolist()
    # lands near the target (binomial noise at n=500 corpus)
    assert 0 < len(got) < 500


def test_temperature_sample_hits_target(spark):
    rows = [(i, "x", "a") for i in range(4000)] \
        + [(4000 + i, "x", "b") for i in range(1000)]
    d = spark.createDataFrame(rows, "doc_id long, text string, source string")
    kept = SA.temperature_sample(d, temperature=2.0, target_rows=2000)
    n = kept.count()
    assert abs(n - 2000) < 150  # ~3 sigma of binomial(5000, ~0.4)
