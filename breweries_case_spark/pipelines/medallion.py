"""Medallion pipeline: bronze → silver → gold as pure DataFrame functions.

Reproduces the reference's three processors (SURVEY §3) with the layer
semantics its tests pin down (FIXTURES.md), re-expressed Spark-first:

- bronze keeps the raw payload verbatim as one JSON string + partition date
  (reference ``breweries_bronze_processors.py:139-146``);
- silver parses the JSON **once** with ``from_json`` + a declared schema
  (vs the reference's 12 ``get_json_object`` calls — same result, 1/12th
  the parsing, reference ``breweries_silver_processors.py:36-47``),
  normalizes strings, casts coordinates, and applies the TESTED validity
  gate ``id IS NOT NULL AND id <> ''`` (reference
  ``tests/integration/test_performance.py:108-116``; the reference's code
  as written only drops nulls — SURVEY §2.3 F2 documents the divergence);
- gold aggregates count + exact distinct per (type, country, state, city,
  date) (reference ``breweries_gold_processors.py:28-45``) using
  ``countDistinct`` instead of ``size(collect_set(...))`` — identical
  values without shipping id-arrays through the shuffle (SURVEY §7.3 hard
  part 1); ``include_ids=True`` restores the array form where the set
  itself is wanted.

The three stage functions are side-effect-free plan builders; persistence
and sequencing live only in ``run_medallion``, the one entry that writes
(the reference wraps the equivalent stages in thin Airflow DAGs; any
scheduler works).
"""

from __future__ import annotations

import datetime as _dt
import json
import os
import shutil
from collections.abc import Callable, Iterable, Mapping

import pyarrow as pa
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from breweries_case_spark.functions import clean_text, digits_only
from breweries_case_spark.io.writer import (
    read_partitioned,
    write_partition_overwrite,
)
from breweries_case_spark.schemas import (
    BREWERY_PAYLOAD_SCHEMA,
    BRONZE_SCHEMA,
    GOLD_SCHEMA,
    SILVER_SCHEMA,
)


def ingest_to_bronze(
    spark: SparkSession,
    records: Iterable[Mapping],
    extraction_date: _dt.date,
) -> DataFrame:
    """Raw payload → bronze rows (raw_json, extraction_date), with
    ``raw_json`` = ``json.dumps(dict(record))``.

    Driver-side by design, exactly like the reference's API ingest
    (``breweries_bronze_processors.py:139-146``): the payload arrives on
    the driver from a REST API. The rows reach the JVM as one Arrow table
    (columnar batches, no per-row pickling), whatever the session's
    ``spark.sql.execution.arrow.pyspark.enabled`` says. For bulk backfills
    use ``spark.read.json`` over staged payload files instead — this path
    is for the api-page-sized daily ingest."""
    raw = pa.array([json.dumps(dict(r)) for r in records], pa.string())
    table = pa.table({
        "raw_json": raw,
        "extraction_date": pa.repeat(pa.scalar(extraction_date, pa.date32()), len(raw)),
    })
    return spark.createDataFrame(table, BRONZE_SCHEMA)


def bronze_to_silver(bronze: DataFrame, extraction_date: _dt.date) -> DataFrame:
    """Bronze → silver: partition-pruned scan, single JSON parse, normalize,
    cast, validity-filter."""
    parsed = (
        bronze.filter(F.col("extraction_date") == F.lit(extraction_date))
        .withColumn("p", F.from_json("raw_json", BREWERY_PAYLOAD_SCHEMA))
    )
    cleaned = parsed.select(
        clean_text(F.col("p.id")).alias("id"),
        clean_text(F.col("p.name")).alias("name"),
        clean_text(F.col("p.brewery_type"), case="lower").alias("brewery_type"),
        clean_text(F.col("p.city")).alias("city"),
        clean_text(F.col("p.state_province"), case="upper").alias("state"),
        clean_text(F.col("p.country"), case="upper").alias("country"),
        clean_text(F.col("p.postal_code")).alias("postal_code"),
        F.col("p.longitude").cast("double").alias("longitude"),
        F.col("p.latitude").cast("double").alias("latitude"),
        digits_only(F.col("p.phone")).alias("phone"),
        clean_text(F.col("p.website_url")).alias("website_url"),
        F.col("extraction_date"),
    )
    # tested semantics: null AND empty ids are invalid (SURVEY §2.3 F2)
    return cleaned.filter(F.col("id").isNotNull() & (F.col("id") != ""))


def _persist_layer(
    df: DataFrame, path: str, extraction_date: _dt.date
) -> int:
    """Replace the date's partition with ``df`` and return the number of
    rows written, observed on the write itself (no extra job). ``df``
    holds only that date's rows, and dynamic overwrite replaces the whole
    partition, so rows written = rows now in the partition.

    Dynamic overwrite only rewrites partitions PRESENT in the written
    data — so an empty rerun (e.g. every record failed the validity gate)
    would silently leave the previous run's partition on disk. Deleting
    the partition directory explicitly in that case keeps the
    rerun-replaces-the-date contract unconditional. (The Iceberg writer
    gets this for free: overwritePartitions of an empty frame is an
    explicit delete.)"""
    obs = Observation()
    write_partition_overwrite(df.observe(obs, F.count(F.lit(1)).alias("rows")), path)
    rows = obs.get["rows"]
    if not rows:
        part_dir = os.path.join(
            path, f"extraction_date={extraction_date.isoformat()}"
        )
        shutil.rmtree(part_dir, ignore_errors=True)
    return rows


def _run_day(
    spark: SparkSession,
    records: Iterable[Mapping],
    extraction_date: _dt.date,
    persist: Callable[[DataFrame, str], int],
    read: Callable[[str], DataFrame],
) -> dict[str, int]:
    """The daily run both storage paths share: ingest → bronze → silver
    → gold, where ``persist(df, layer)`` replaces the day's partition of
    ``layer`` with ``df`` and returns the rows written, and
    ``read(layer)`` reads the day's committed rows back. A layer that
    wrote no rows hands the next one an empty frame, so an empty rerun
    replaces the day with nothing in every layer."""
    bronze_n = persist(ingest_to_bronze(spark, records, extraction_date), "bronze")
    if bronze_n:
        silver = bronze_to_silver(read("bronze"), extraction_date)
    else:
        silver = spark.createDataFrame([], SILVER_SCHEMA)
    silver_n = persist(silver, "silver")
    if silver_n:
        gold = silver_to_gold(read("silver"), extraction_date)
    else:
        gold = spark.createDataFrame([], GOLD_SCHEMA)
    return {"bronze": bronze_n, "silver": silver_n, "gold": persist(gold, "gold")}


def run_medallion(
    spark: SparkSession,
    records: Iterable[Mapping],
    extraction_date: _dt.date,
    base_path: str,
) -> dict[str, int]:
    """One daily run end-to-end: ingest → bronze → silver → gold, each
    layer PERSISTED with dynamic partition overwrite and the next layer
    reading the committed files back with its declared schema — the
    reference's three Airflow tasks (`dags/01..03`, sequenced by
    ExternalTaskSensor) as one idempotent callable; rerunning a date
    replaces exactly that date's partitions in all three layers, including
    replacing them with NOTHING when the rerun yields no valid rows (see
    _persist_layer). Returns the per-layer row counts the reference logs
    as its audit (``breweries_bronze_processors.py:155``), observed on
    each layer's write: the day runs one write job per layer and no audit
    or schema-inference jobs.

    LOCAL-FILESYSTEM paths only: the empty-rerun partition cleanup uses
    driver-local file APIs. For object stores / lakehouse catalogs use
    ``io.writer.write_iceberg`` per layer — Iceberg's overwritePartitions
    gives the same contract transactionally. Guarded loudly rather than
    silently no-opping."""
    if "://" in base_path and not base_path.startswith("file://"):
        raise ValueError(
            "run_medallion writes via driver-local filesystem APIs; got "
            f"{base_path!r}. Use write_iceberg for object-store targets."
        )
    schemas = {"bronze": BRONZE_SCHEMA, "silver": SILVER_SCHEMA}
    return _run_day(
        spark,
        records,
        extraction_date,
        lambda df, layer: _persist_layer(df, f"{base_path}/{layer}", extraction_date),
        lambda layer: read_partitioned(spark, f"{base_path}/{layer}", schemas[layer]),
    )


def silver_to_gold(
    silver: DataFrame,
    extraction_date: _dt.date,
    include_ids: bool = False,
) -> DataFrame:
    """Silver → gold: count + exact-distinct per location/type/date
    (reference ``breweries_gold_processors.py:28-45``)."""
    aggs = [
        F.count("*").alias("brewery_count"),
        F.countDistinct("id").alias("unique_brewery_count"),
    ]
    if include_ids:
        aggs.append(F.array_sort(F.collect_set("id")).alias("brewery_ids"))
    return (
        silver.filter(F.col("extraction_date") == F.lit(extraction_date))
        .groupBy(
            "brewery_type", "country", "state", "city", "extraction_date"
        )
        .agg(*aggs)
    )


def run_medallion_snapshotted(
    spark: SparkSession,
    records: Iterable[Mapping],
    extraction_date: _dt.date,
    base_path: str,
) -> dict[str, int]:
    """``run_medallion`` on the snapshot log (``io/snapshots.py``): every
    layer write is an ATOMIC versioned commit, so a daily rerun replaces
    exactly that date's partitions while the previous run stays
    time-travel-readable — the reference's Iceberg contract
    (``breweries_bronze_processors.py:133,149-153`` + snapshot commits)
    delivered without the unresolvable jars. Each commit names the day
    as the partition it replaces, so an empty rerun drops the day in the
    same versioned commit — the delete the plain-parquet path has to
    emulate with directory removal (see ``_persist_layer``) — and an
    empty first run publishes nothing.

    The snapshot log returns partition values as strings; reads restore
    ``extraction_date`` to DATE before the next stage consumes it. Each
    read scans with the schema the layer's manifest recorded, so the
    reads run no Spark job of their own."""
    from breweries_case_spark.io.snapshots import (
        commit_overwrite_partitions,
        read_snapshot,
    )

    day = extraction_date.isoformat()

    def persist(df: DataFrame, layer: str) -> int:
        obs = Observation()
        commit_overwrite_partitions(
            df.observe(obs, F.count(F.lit(1)).alias("rows")),
            f"{base_path}/{layer}",
            "extraction_date",
            [day],
        )
        return obs.get["rows"]

    def read(layer: str) -> DataFrame:
        # manifest-level prune: only the day's own partition is ever
        # listed or read — a read-all-then-filter would pay O(history)
        # file I/O per layer per run, growing with table age
        snap = read_snapshot(spark, f"{base_path}/{layer}", partitions=[day])
        return snap.withColumn(
            "extraction_date", F.col("extraction_date").cast("date")
        )

    return _run_day(spark, records, extraction_date, persist, read)
