"""Partition-aware writers.

The reference's idempotency story is dynamic partition overwrite to Iceberg
(SURVEY §2.1 S5, reference ``breweries_bronze_processors.py:133,149-153``):
a rerun of one day replaces exactly that day's partition, never appends and
never clobbers other days. Reproduced here over parquet (so tests and the
DuckDB oracle see plain files); ``write_iceberg`` is the same API against an
Iceberg catalog when the runtime has the jars (import-gated, SURVEY §7.2
phase 8).

Scale notes: dynamic overwrite only rewrites touched partitions — a daily
rerun on a 100 TB table costs one day's data, not a table rewrite."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def write_partition_overwrite(
    df: DataFrame,
    path: str,
    partition_col: str = "extraction_date",
) -> None:
    """Dynamic partition overwrite to parquet: replaces only the partitions
    present in ``df`` (requires partitionOverwriteMode=dynamic, set by the
    session factory; asserted here so misconfigured sessions fail loudly
    instead of silently truncating the table)."""
    spark = df.sparkSession
    prior = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    # per-write override, RESTORED afterwards: leaving the session conf
    # flipped would silently change the semantics of later unrelated
    # overwrite-writes on a vanilla session
    try:
        if prior.lower() != "dynamic":
            spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        df.write.mode("overwrite").partitionBy(partition_col).parquet(path)
    finally:
        if prior.lower() != "dynamic":
            spark.conf.set("spark.sql.sources.partitionOverwriteMode", prior)


def read_partitioned(
    spark: SparkSession, path: str, schema: StructType | None = None
) -> DataFrame:
    """Read back a partitioned parquet table (partition column recovered
    from directory names). A declared ``schema`` skips schema inference,
    which otherwise runs a Spark job over the parquet footers."""
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(path)


def write_iceberg(
    df: DataFrame,
    table: str,
    partition_col: str = "extraction_date",
) -> None:
    """Iceberg v2 writer: explicit ``overwritePartitions`` (clearer than the
    config-dependent v1 path the reference uses — SURVEY §4 'dynamic
    partition overwrite' row). Requires iceberg-spark-runtime on the
    classpath; raises RuntimeError otherwise, and the round-trip branch of
    tests/test_catalog.py::test_iceberg_write_roundtrip_or_clean_error
    runs only where the jars are present."""
    spark = df.sparkSession
    try:
        # Class.forName actually resolves the class — plain _jvm attribute
        # access returns a lazy JavaPackage and NEVER fails, so it cannot
        # gate on jar presence
        spark._jvm.java.lang.Class.forName(  # noqa: SLF001
            "org.apache.iceberg.spark.SparkCatalog"
        )
    except Exception as exc:
        raise RuntimeError(
            "iceberg-spark-runtime not on the classpath; use "
            "session.iceberg_configs() with a Spark build that has the jars"
        ) from exc
    writer = df.writeTo(table).using("iceberg")
    try:
        writer.overwritePartitions()
    except Exception as exc:
        # fall back to table creation ONLY when the table doesn't exist;
        # any other failure (commit conflict, schema mismatch, storage
        # error) must propagate — a blind createOrReplace would replace
        # a whole partitioned table with this run's slice
        msg = str(exc)
        if "TABLE_OR_VIEW_NOT_FOUND" in msg or "NoSuchTable" in msg:
            writer.partitionedBy(partition_col).createOrReplace()
        else:
            raise
