"""Catalog-table seam: the same loads that read synthetic parquet in
this sandbox read Iceberg (or any Spark-catalog) tables in production.

The north-star deployment is a 10^12-row Iceberg table of
Common-Crawl-style pages. Nothing in the engine depends on the storage
format — every operator consumes a DataFrame — so the only production
difference is WHERE the first DataFrame comes from. ``load_table``
routes that choice:

- default: ``spark.read.parquet(<sf_dir>/<name>.parquet)`` (the
  driver-generated test tables).
- with a table prefix configured: ``spark.read.table(<prefix><name>)``
  — any table the session's catalogs resolve, including Iceberg ones.
  Iceberg then supplies hidden partitioning, snapshot isolation and
  metadata-level file pruning underneath the exact same plan; Catalyst
  pushes the engine's filters and column prunes into the scan either
  way (verify with ``df.explain``: ``PushedFilters`` / ``ReadSchema``).

The prefix is read per call from the Spark conf
``spark.sidewalkreator.tablePrefix`` or the env var
``SPARK_GRAFT_TABLE_PREFIX`` (conf wins). A production submit looks
like (all public Spark/Iceberg configuration):

    spark-submit --py-files engine.zip \
      --packages org.apache.iceberg:iceberg-spark-runtime-3.5_2.12:1.5.0 \
      --conf spark.sql.extensions=org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions \
      --conf spark.sql.catalog.lake=org.apache.iceberg.spark.SparkCatalog \
      --conf spark.sql.catalog.lake.type=hadoop \
      --conf spark.sql.catalog.lake.warehouse=hdfs://.../warehouse \
      --conf spark.sidewalkreator.tablePrefix=lake.web. \
      job.py --out hdfs://.../sidewalks

with which ``load_table(spark, sf_dir, "pages")`` reads
``lake.web.pages``. A temp view of the same name also resolves (used by
the test), so the seam is exercised without Iceberg jars in this
container.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

PREFIX_CONF = "spark.sidewalkreator.tablePrefix"
PREFIX_ENV = "SPARK_GRAFT_TABLE_PREFIX"
_UNSET = "\x00unset"


def table_prefix(spark: SparkSession) -> str | None:
    """Configured catalog prefix, or None for parquet-from-sf_dir."""
    p = spark.conf.get(PREFIX_CONF, _UNSET)
    if p == _UNSET:
        p = os.environ.get(PREFIX_ENV, _UNSET)
    return None if p == _UNSET else p


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load table ``name`` from the configured catalog, else from the
    sf_dir parquet layout (synthesizing the deterministic test tables
    on first touch)."""
    prefix = table_prefix(spark)
    if prefix is not None:
        return spark.read.table(f"{prefix}{name}")
    return spark.read.parquet(parquet_path(sf_dir, name))


def parquet_path(sf_dir: str, name: str) -> str:
    """The parquet path ``load_table`` reads for ``name`` when no catalog
    prefix is set."""
    # driver-provided tables (documents, embeddings, lineitem, ...)
    # live at the sf_dir root; engine-synthesized ones under synth/
    direct = os.path.join(sf_dir, f"{name}.parquet")
    if os.path.exists(direct):
        return direct
    from ..synth import ensure_synth
    return str(ensure_synth(sf_dir) / f"{name}.parquet")
