"""Recrawl dedup (latest_crawl) vs an exact DuckDB oracle.

The sf pages table is a single crawl (unique urls), so recrawls are
synthesized deterministically: a +1day snapshot for every third page
and a messy-URL variant (WWW./:443/#frag) for every fifth — the
operator must collapse all variants of a canonical url to the single
newest snapshot.
"""

import duckdb
import pytest
from pyspark.sql import functions as F

from osm_sidewalkreator_spark.operators import textops as TX
from osm_sidewalkreator_spark.pages import load_pages
from osm_sidewalkreator_spark.session import get_spark

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def spark():
    return get_spark()


@pytest.fixture(scope="module")
def crawls(spark):
    base = load_pages(spark, SF).select("url", "warc_ts", "text")
    n = F.regexp_extract("url", r"/p/([0-9]+)$", 1).cast("long")
    recrawl = (base.filter(n % 3 == 0)
               .withColumn("warc_ts",
                           F.col("warc_ts") + F.expr("INTERVAL 1 DAY"))
               .withColumn("text", F.concat(F.col("text"),
                                            F.lit(" updated"))))
    messy = (base.filter(n % 5 == 0)
             .withColumn("url", F.concat(
                 F.lit("HTTPS://WWW."),
                 F.regexp_extract("url", r"^https://(.*)$", 1),
                 F.lit("#frag"))))
    return base.unionByName(recrawl).unionByName(messy)


CANON = r"""
  lower(regexp_extract(url, '^([^:/?#]+)://', 1)) || '://' ||
  CASE WHEN lower(regexp_extract(url, '^([^:/?#]+)://', 1)) = 'https'
       THEN regexp_replace(regexp_replace(lower(regexp_extract(url,
            '^[^:/?#]+://([^/?#]*)', 1)), '^www\.', ''), ':443$', '')
       WHEN lower(regexp_extract(url, '^([^:/?#]+)://', 1)) = 'http'
       THEN regexp_replace(regexp_replace(lower(regexp_extract(url,
            '^[^:/?#]+://([^/?#]*)', 1)), '^www\.', ''), ':80$', '')
       ELSE regexp_replace(lower(regexp_extract(url,
            '^[^:/?#]+://([^/?#]*)', 1)), '^www\.', '') END ||
  CASE WHEN regexp_replace(regexp_extract(url,
            '^[^:/?#]+://[^/?#]*([^?#]*)', 1), '/+$', '') = ''
       THEN '/' ELSE regexp_replace(regexp_extract(url,
            '^[^:/?#]+://[^/?#]*([^?#]*)', 1), '/+$', '') END ||
  coalesce(regexp_extract(url, '^[^:/?#]+://[^/?#]*[^?#]*(\?[^#]*)',
           1), '')
"""


def test_latest_crawl_matches_duckdb(spark, crawls):
    got = (TX.latest_crawl(crawls)
           .select("url", F.unix_micros("warc_ts").alias("ts_us"),
                   "text").toPandas()
           .sort_values(["url", "text"]).reset_index(drop=True))
    con = duckdb.connect()
    con.register("p", crawls.select(
        "url", F.unix_micros("warc_ts").alias("ts_us"),
        "text").toPandas())
    want = con.execute(f"""
        SELECT url, ts_us, text FROM (
          SELECT *, row_number() OVER (
              PARTITION BY ({CANON})
              ORDER BY ts_us DESC, md5(text) ASC, url ASC) AS rn
          FROM p)
        WHERE rn = 1 ORDER BY url, text
    """).df()
    con.close()
    assert got.url.tolist() == want.url.tolist()
    assert got.text.tolist() == want.text.tolist()
    assert got.ts_us.tolist() == want.ts_us.tolist()


def test_latest_crawl_semantics(spark, crawls):
    out = TX.latest_crawl(crawls)
    base_n = load_pages(spark, SF).count()
    # exactly one row per canonical url = one per original page
    assert out.count() == base_n
    # every recrawled page won with its newer snapshot (messy
    # survivors don't match the /p/N$ pattern -> try_cast null)
    n = F.regexp_extract("url", r"/p/([0-9]+)$", 1).try_cast("long")
    recrawled = out.filter(n % 3 == 0)
    assert recrawled.filter(~F.col("text").endswith(" updated")) \
        .count() == 0
    # one-per-canonical is structural: canonical urls are distinct
    canon, _ = TX.canonicalize_url(F.col("url"))
    assert out.select(canon).distinct().count() == base_n


def test_latest_crawl_custom_text_column(spark):
    df = spark.createDataFrame(
        [("https://a.example/p", "2025-01-01 00:00:00", "old"),
         ("https://a.example/p", "2025-01-02 00:00:00", "new")],
        ["page_url", "fetch_ts", "body"]).withColumn(
        "fetch_ts", F.to_timestamp("fetch_ts"))
    out = TX.latest_crawl(df, url_col="page_url", ts_col="fetch_ts",
                          text_col="body").collect()
    assert len(out) == 1 and out[0].body == "new"
