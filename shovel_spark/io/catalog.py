"""Source/sink format abstraction — parquet in the sandbox, Iceberg on a
cluster, same call surface.

The engine's write path already does everything Iceberg needs (per-attempt
writes committed by one ledger append, idempotent re-runs); Iceberg
upgrades the guarantees (snapshot-atomic commits make the ledger append +
data write a single transaction via WAP/branch commits) without changing
any operator code. The sandbox has no Iceberg runtime jar, so the iceberg
branch is exercised only for its negative path here.

Cluster setup (documented, not bundled)::

    spark = (SparkSession.builder
        .config("spark.sql.extensions",
                "org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions")
        .config("spark.sql.catalog.lake", "org.apache.iceberg.spark.SparkCatalog")
        .config("spark.sql.catalog.lake.type", "hive")  # or rest/glue/hadoop
        .getOrCreate())
    read_pages(spark, "lake.web.pages", fmt="iceberg")
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from shovel_spark.schema import PAGES_SCHEMA


def iceberg_available(spark: SparkSession) -> bool:
    """True when an Iceberg catalog is on the classpath."""
    try:
        spark._jvm.java.lang.Class.forName("org.apache.iceberg.spark.SparkCatalog")
        return True
    except Exception:  # noqa: BLE001
        return False


def read_pages(spark: SparkSession, location: str, fmt: str = "parquet") -> DataFrame:
    """Load the pages table from a path (parquet) or table name (iceberg)."""
    if fmt == "parquet":
        return spark.read.schema(PAGES_SCHEMA).parquet(location)
    if fmt == "iceberg":
        if not iceberg_available(spark):
            raise RuntimeError(
                "iceberg runtime not on the classpath; add the "
                "iceberg-spark-runtime jar and a catalog config (see module docstring)"
            )
        return spark.read.format("iceberg").load(location)
    raise ValueError(f"unknown format: {fmt!r}")

