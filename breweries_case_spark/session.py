"""SparkSession factories.

Mirrors the reference's two session conventions (SURVEY.md §4):
- prod: AQE on, coalescePartitions on, Kryo serializer
  (reference ``spark-defaults.conf:32-34``)
- test: AQE off, tiny shuffle partitions, UI off for plan determinism
  (reference ``tests/pytest_ini.txt:36-39``)

The reference additionally wires an Iceberg/Nessie catalog
(``dags/01_dag_elt_breweries_bronze.py:30-42``); those jars are not in this
image, so the Iceberg profile is gated behind ``iceberg_configs()`` which the
caller applies only when the runtime has the jars (import-try in
``io.writer``).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Local test box is local[32]; a real deployment would size
# spark.sql.shuffle.partitions to ~2-3x total executor cores and rely on AQE
# coalescing. At 100 TB, shuffle partitions should target ~128-256 MB each
# (spark.sql.adaptive.advisoryPartitionSizeInBytes governs the AQE re-split).
DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def _driver_memory(phys_bytes: int) -> str:
    """The driver heap when ``SPARK_GRAFT_DRIVER_MEM`` is unset: half the
    host's physical memory in whole GiB, at least 1g and at most 48g, so
    a driver on a shared host cannot grow past the machine."""
    return f"{min(48, max(1, phys_bytes // 2**31))}g"


def get_session(
    app_name: str = "breweries_case_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_configs: dict[str, str] | None = None,
) -> SparkSession:
    """Production-profile session: AQE + Kryo + Arrow, UTC timezone.

    UTC pinning matters for oracle comparison (duckdb timestamps are
    UTC-naive) and is the right default for a multi-region lakehouse anyway.
    """
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{DEFAULT_CPUS}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or DEFAULT_CPUS))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        .config("spark.ui.enabled", "false")
        .config(
            "spark.driver.memory",
            os.environ.get(
                "SPARK_GRAFT_DRIVER_MEM",
                _driver_memory(os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")),
            ),
        )
    )
    for k, v in (extra_configs or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def get_test_session(app_name: str = "breweries_case_spark_test") -> SparkSession:
    """Test-profile session: deterministic plans (AQE off, shuffle=4, UI off)."""
    spark = (
        SparkSession.builder.appName(app_name)
        .master("local[4]")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.adaptive.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def iceberg_configs(
    catalog: str = "lake",
    warehouse: str = "/tmp/breweries_warehouse",
    uri: str | None = None,
) -> dict[str, str]:
    """Spark configs for an Iceberg catalog (reference wiring:
    ``dags/01_dag_elt_breweries_bronze.py:30-42``, ``spark-defaults.conf:14-19``).

    With no ``uri``, configures a Hadoop (filesystem) catalog — the jar-only
    local analog of the reference's Nessie REST catalog.  Apply via
    ``get_session(extra_configs=iceberg_configs())`` when
    ``iceberg-spark-runtime`` is on the classpath.
    """
    cfg = {
        f"spark.sql.catalog.{catalog}": "org.apache.iceberg.spark.SparkCatalog",
        f"spark.sql.catalog.{catalog}.type": "hadoop",
        f"spark.sql.catalog.{catalog}.warehouse": warehouse,
        "spark.sql.extensions": (
            "org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions"
        ),
    }
    if uri:  # REST/Nessie-style catalog instead of filesystem
        cfg[f"spark.sql.catalog.{catalog}.type"] = "rest"
        cfg[f"spark.sql.catalog.{catalog}.uri"] = uri
    return cfg
