"""Table I/O seam: one writer/reader API, swappable storage format.

The north_rule targets Iceberg tables. This container has no Iceberg
runtime jar (and no network to fetch one), so the default format is
parquet — but every read/write in the engine goes through THIS module,
so pointing ``NOUS_TABLE_FORMAT=iceberg`` at a cluster with
``iceberg-spark-runtime`` on the classpath switches the storage layer
without touching pipeline code:

  * parquet  : path-addressed; idempotent writes = dedup + anti-join
               before append (graph.idempotent_append);
  * iceberg  : identifier-addressed (``catalog.db.table``); the same
               ``append`` call maps to ``df.writeTo(ident).append()`` and
               idempotent writes could further become ``MERGE INTO`` —
               the anti-join path is kept because it is engine-agnostic
               and exactly matches the reference's pre-insert existence
               check (age_repository.py:689-701).

Spark-conf prerequisites for the iceberg path (cluster-side):
  spark.sql.catalog.<cat>=org.apache.iceberg.spark.SparkCatalog
  spark.sql.catalog.<cat>.type=hadoop|hive|rest
  spark.sql.extensions=org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

TABLE_FORMAT = os.environ.get("NOUS_TABLE_FORMAT", "parquet")


def read_table(
    spark: SparkSession, target: str, fmt: str | None = None, schema: StructType | None = None
) -> DataFrame:
    """``schema`` (parquet) skips inference, which runs a footer-reading
    Spark job per read; iceberg tables carry their own schema."""
    fmt = fmt or TABLE_FORMAT
    if fmt == "parquet":
        reader = spark.read if schema is None else spark.read.schema(schema)
        return reader.parquet(target)
    if fmt == "iceberg":
        return spark.read.format("iceberg").load(target)
    raise ValueError(f"unknown table format: {fmt}")


def write_table(
    df: DataFrame,
    target: str,
    mode: str = "append",
    fmt: str | None = None,
    partition_by: list[str] | None = None,
) -> None:
    """mode: append | overwrite. ``partition_by`` maps to hive-style
    directory partitioning (parquet) / `PARTITIONED BY` (iceberg) — the
    engine's physical-tenancy mechanism (one partition per tenant, the
    analog of the reference's graph-per-tenant isolation,
    signup_tenant_usecase.py:131-133)."""
    fmt = fmt or TABLE_FORMAT
    if fmt == "parquet":
        writer = df.write.mode(mode)
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(target)
        return
    if fmt == "iceberg":
        writer = df.writeTo(target)
        if partition_by:
            from pyspark.sql import functions as _F

            writer = writer.partitionedBy(*[_F.col(c) for c in partition_by])
        if mode == "overwrite":
            writer.createOrReplace()
        else:
            writer.append()
        return
    raise ValueError(f"unknown table format: {fmt}")


def table_exists(spark: SparkSession, target: str, fmt: str | None = None) -> bool:
    fmt = fmt or TABLE_FORMAT
    if fmt == "parquet":
        return os.path.exists(target)
    if fmt == "iceberg":
        return spark.catalog.tableExists(target)
    raise ValueError(f"unknown table format: {fmt}")


def write_bucketed_table(
    df: DataFrame,
    table_name: str,
    bucket_cols: list[str],
    n_buckets: int = 64,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Write a bucketed (+ sorted) managed table.

    Bucketing pre-shuffles rows into n_buckets by hash(bucket_cols) AT
    WRITE TIME, so joins/aggregations between tables bucketed the same
    way need NO exchange at read time — the co-located-join strategy for
    the hot recall path (edges ⋈ edges on src at 100 TB; tested
    shuffle-free in tests/test_bucketing.py). Parquet bucketing needs the
    session catalog (saveAsTable); on Iceberg the equivalent is
    ``PARTITIONED BY (bucket(n, col))``.
    """
    writer = df.write.mode(mode).bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.format("parquet").saveAsTable(table_name)


def idempotent_write(df: DataFrame, target: str, keys: list[str], fmt: str | None = None) -> int:
    """Append only rows whose ``keys`` are not already in ``target``;
    returns the number of appended rows. The storage-agnostic form of the
    reference's MERGE find-or-create (H1/H2)."""
    from nous_spark.graph import idempotent_append

    spark = df.sparkSession
    existing = read_table(spark, target, fmt) if table_exists(spark, target, fmt) else None
    delta = idempotent_append(df, existing, keys).cache()
    try:
        n = delta.count()
        if n:
            write_table(delta, target, mode="append", fmt=fmt)
    finally:
        delta.unpersist()
    return n
