"""Medallion pipeline tests reproducing the reference suite's semantics
(FIXTURES.md; reference tests/unit/test_{bronze,silver,gold}.py and
tests/integration/*). Structure mirrors SURVEY §5's engine test plan."""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F

from breweries_case_spark.io.writer import read_partitioned, write_partition_overwrite
from breweries_case_spark.pipelines import (
    bronze_to_silver,
    ingest_to_bronze,
    silver_to_gold,
)

TEST_DATE = datetime.date(2024, 1, 15)

# canonical 3-row fixture (FIXTURES.md §3)
SAMPLE = [
    {
        "id": "brewery-1",
        "name": "Brewery One",
        "brewery_type": "  MICRO  ",
        "city": " Portland ",
        "state_province": "oregon",
        "postal_code": "97201",
        "country": "united states",
        "longitude": "-122.6784",
        "latitude": "45.5152",
        "phone": "(503) 555-0001",
        "website_url": "http://one.example",
    },
    {
        "id": "brewery-2",
        "name": "Brewery Two",
        "brewery_type": "brewpub",
        "city": "Portland",
        "state_province": "Oregon",
        "postal_code": "97202",
        "country": "United States",
        "longitude": "-122.6",
        "latitude": "45.5",
        "phone": "555-0002",
        "website_url": None,
    },
    {
        "id": "brewery-3",
        "name": "Brewery Three",
        "brewery_type": "nano",
        "city": "Seattle",
        "state_province": "Washington",
        "postal_code": "98101",
        "country": "United States",
        "longitude": None,
        "latitude": None,
        "phone": "abc",  # cleans to ""
        "website_url": None,
    },
]


@pytest.fixture()
def silver(spark):
    bronze = ingest_to_bronze(spark, SAMPLE, TEST_DATE)
    return bronze_to_silver(bronze, TEST_DATE)


def test_bronze_schema_and_roundtrip(spark):
    bronze = ingest_to_bronze(spark, SAMPLE, TEST_DATE)
    assert bronze.count() == 3
    assert [f.name for f in bronze.schema.fields] == ["raw_json", "extraction_date"]
    # raw payload preserved verbatim (reference test_bronze.py:63-87)
    row = bronze.filter(F.get_json_object("raw_json", "$.id") == "brewery-1").first()
    assert '"Brewery One"' in row.raw_json


def test_silver_normalization(silver):
    # reference test_silver.py:49-58,108-116 golden semantics
    one = silver.filter(F.col("id") == "brewery-1").first()
    assert one.brewery_type == "micro"
    assert one.city == "Portland"
    assert one.state == "OREGON"
    assert one.country == "UNITED STATES"
    assert one.phone == "5035550001"
    assert one.longitude == pytest.approx(-122.6784)
    three = silver.filter(F.col("id") == "brewery-3").first()
    assert three.longitude is None and three.latitude is None
    assert three.phone == ""  # cleaned-to-empty, not null


def test_silver_validity_gate(spark):
    # null AND empty ids dropped (reference test_performance.py:108-116)
    bad = SAMPLE + [
        {**SAMPLE[0], "id": None},
        {**SAMPLE[0], "id": "   "},  # trims to empty
    ]
    silver = bronze_to_silver(ingest_to_bronze(spark, bad, TEST_DATE), TEST_DATE)
    assert silver.count() == 3


def test_gold_groups_and_counts(spark):
    # 5-row fixture → known groups with counts 2/2/1 (reference test_gold.py:41-99)
    rows = [
        {**SAMPLE[0], "id": f"p{i}", "brewery_type": "micro"} for i in range(2)
    ] + [
        {**SAMPLE[2], "id": f"s{i}", "brewery_type": "brewpub"} for i in range(2)
    ] + [
        {**SAMPLE[2], "id": "s9", "brewery_type": "regional"}
    ]
    silver = bronze_to_silver(ingest_to_bronze(spark, rows, TEST_DATE), TEST_DATE)
    gold = silver_to_gold(silver, TEST_DATE)
    assert gold.count() == 3  # micro/Portland, brewpub/Seattle, regional/Seattle
    micro = gold.filter(F.col("brewery_type") == "micro").first()
    assert micro.brewery_count == 2 and micro.unique_brewery_count == 2
    # conservation (reference test_integration.py:99-100)
    assert gold.agg(F.sum("brewery_count")).first()[0] == 5


def test_gold_duplicate_ids(spark):
    # two rows sharing an id → count 2, unique 1 (reference test_performance.py:118-149)
    rows = [SAMPLE[0], dict(SAMPLE[0])]
    silver = bronze_to_silver(ingest_to_bronze(spark, rows, TEST_DATE), TEST_DATE)
    gold = silver_to_gold(silver, TEST_DATE, include_ids=True)
    row = gold.first()
    assert row.brewery_count == 2
    assert row.unique_brewery_count == 1
    assert row.brewery_ids == ["brewery-1"]


def test_gold_empty_partition(spark):
    # empty input → 0 rows, no crash (reference test_gold.py:124-150)
    silver = bronze_to_silver(ingest_to_bronze(spark, [], TEST_DATE), TEST_DATE)
    assert silver_to_gold(silver, TEST_DATE).count() == 0


def test_partition_overwrite_idempotency(spark, tmp_path):
    # rerun with fewer rows REPLACES the partition, 3→2
    # (reference test_bronze.py:89-109)
    path = str(tmp_path / "bronze")
    d1, d2 = TEST_DATE, TEST_DATE + datetime.timedelta(days=1)
    write_partition_overwrite(ingest_to_bronze(spark, SAMPLE, d1), path)
    write_partition_overwrite(ingest_to_bronze(spark, SAMPLE, d2), path)
    assert read_partitioned(spark, path).count() == 6
    # rerun day 1 with only 2 rows: day 1 → 2 rows, day 2 untouched
    write_partition_overwrite(ingest_to_bronze(spark, SAMPLE[:2], d1), path)
    out = read_partitioned(spark, path)
    assert out.count() == 5
    assert out.filter(F.col("extraction_date") == F.lit(d1)).count() == 2
    assert out.filter(F.col("extraction_date") == F.lit(d2)).count() == 3


def test_multi_date_isolation(spark, tmp_path):
    # 3 dates x 3 rows stay isolated (reference test_integration.py:144-190)
    path = str(tmp_path / "silver")
    dates = [TEST_DATE + datetime.timedelta(days=i) for i in range(3)]
    for d in dates:
        silver = bronze_to_silver(ingest_to_bronze(spark, SAMPLE, d), d)
        write_partition_overwrite(silver, path)
    out = read_partitioned(spark, path)
    for d in dates:
        assert out.filter(F.col("extraction_date") == F.lit(d)).count() == 3


def test_e2e_conservation_100(spark):
    # 100 generated rows through all layers; sum(brewery_count)==100
    # (reference test_integration.py:20-108, FIXTURES.md §4)
    types = ["micro", "nano", "regional", "brewpub", "large", "planning"]
    locs = [
        ("Portland", "OR"), ("Seattle", "WA"), ("San Francisco", "CA"),
        ("Austin", "TX"), ("Denver", "CO"),
    ]
    rows = []
    for i in range(100):
        city, state = locs[i % 5]
        rows.append({
            "id": f"brewery-{i:04d}", "name": f"B{i}",
            "brewery_type": types[i % 6], "city": city,
            "state_province": state, "postal_code": str(90000 + i),
            "country": "United States",
            "longitude": f"-122.{i:04d}", "latitude": f"45.{i:04d}",
            "phone": f"555-{i:04d}", "website_url": None,
        })
    silver = bronze_to_silver(ingest_to_bronze(spark, rows, TEST_DATE), TEST_DATE)
    gold = silver_to_gold(silver, TEST_DATE)
    assert silver.count() == 100
    assert gold.agg(F.sum("brewery_count")).first()[0] == 100
    assert gold.count() <= 30
    per_state = {
        r.state: r.cnt
        for r in silver.groupBy("state").agg(F.count("*").alias("cnt")).collect()
    }
    assert all(v == 20 for v in per_state.values())


def test_q_write_dynamic_overwrite_registered(spark, sf_dir):
    from breweries_case_spark.operators.medallion_queries import (
        q_write_dynamic_overwrite,
    )

    rows = {r.o_orderdate: r.n_orders for r in q_write_dynamic_overwrite(spark, sf_dir).collect()}
    assert len(rows) == 3
    dates = sorted(rows)
    # rerun partition shrank (half the rows); others untouched vs a fresh scan
    from breweries_case_spark.io.reader import load_table
    import pyspark.sql.functions as F

    orig = {
        r.o_orderdate: r.n
        for r in load_table(spark, sf_dir, "orders")
        .withColumn("o_orderdate", F.col("o_orderdate").cast("date"))
        .filter(F.col("o_orderdate").isin(list(dates)))
        .groupBy("o_orderdate")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    # rerun partition kept only even orderkeys; the other two are untouched
    assert rows[dates[0]] < orig[dates[0]] or orig[dates[0]] == 1
    assert rows[dates[1]] == orig[dates[1]]
    assert rows[dates[2]] == orig[dates[2]]


def test_layer_wallclock_at_10k_rows(spark):
    """Reference's only published perf envelope: < 30 s/layer at 10,000
    rows (reference tests/integration/test_performance.py:71-73); BASELINE
    operative target is 2x that. Each layer is materialized separately so
    the bound applies per layer, as in the reference."""
    import time

    rows = [
        {
            "id": f"brewery-{i:05d}",
            "name": f"  Brewery {i}  ",
            "brewery_type": ["micro", "nano", "regional"][i % 3].upper(),
            "city": f"City{i % 50}",
            "state_province": f"state{i % 20}",
            "postal_code": str(90000 + i),
            "country": "united states",
            "longitude": f"-122.{i:04d}",
            "latitude": f"45.{i % 10000:04d}",
            "phone": f"(503) 555-{i:04d}",
            "website_url": None,
        }
        for i in range(10_000)
    ]

    t0 = time.perf_counter()
    bronze = ingest_to_bronze(spark, rows, TEST_DATE)
    assert bronze.count() == 10_000
    t_bronze = time.perf_counter() - t0

    t0 = time.perf_counter()
    silver = bronze_to_silver(bronze, TEST_DATE)
    assert silver.count() == 10_000
    t_silver = time.perf_counter() - t0

    t0 = time.perf_counter()
    gold = silver_to_gold(silver, TEST_DATE)
    assert gold.agg(F.sum("brewery_count")).first()[0] == 10_000
    t_gold = time.perf_counter() - t0

    for layer, t in (("bronze", t_bronze), ("silver", t_silver), ("gold", t_gold)):
        assert t < 60.0, f"{layer} took {t:.1f}s at 10k rows (bound 60s)"


def test_bucketed_join_plan_has_no_shuffle(spark, sf_dir):
    """The point of bucketing: the orderkey join over the two bucketed
    tables must plan WITHOUT a shuffle exchange on either join input
    (broadcast exchanges / agg exchanges elsewhere are fine)."""
    import re
    import shutil
    import tempfile
    import uuid

    from breweries_case_spark.io.reader import load_table

    tag = uuid.uuid4().hex[:8]
    tmp = tempfile.mkdtemp(prefix="bucketed_test_")
    to, tl = f"orders_bt_{tag}", f"lineitem_bt_{tag}"
    try:
        for table, name, key in (
            ("orders", to, "o_orderkey"),
            ("lineitem", tl, "l_orderkey"),
        ):
            (
                load_table(spark, sf_dir, table)
                .write.bucketBy(8, key)
                .sortBy(key)
                .option("path", f"{tmp}/{name}")
                .mode("overwrite")
                .saveAsTable(name)
            )
        joined = spark.table(to).join(
            spark.table(tl), F.col("o_orderkey") == F.col("l_orderkey")
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert not re.search(r"Exchange hashpartitioning", plan), plan
    finally:
        for name in (to, tl):
            spark.sql(f"DROP TABLE IF EXISTS {name}")
        shutil.rmtree(tmp, ignore_errors=True)


def test_run_medallion_end_to_end_idempotent(spark, tmp_path):
    """The three-layer daily run persisted end-to-end: conservation on the
    first run; a rerun of the SAME date with fewer records replaces the
    date's partitions in every layer (reference's daily idempotency,
    tests/integration/test_integration.py:110-142)."""
    from breweries_case_spark.pipelines.medallion import run_medallion

    def mk(n):
        return [
            {
                "id": f"b-{i:03d}", "name": f"B{i}",
                "brewery_type": "micro", "city": "Portland",
                "state_province": "Oregon", "postal_code": "97201",
                "country": "United States", "longitude": "-122.0",
                "latitude": "45.0", "phone": "5035550001",
                "website_url": None,
            }
            for i in range(n)
        ]

    base = str(tmp_path / "lake")
    first = run_medallion(spark, mk(30), TEST_DATE, base)
    assert first == {"bronze": 30, "silver": 30, "gold": 1}
    rerun = run_medallion(spark, mk(12), TEST_DATE, base)
    assert rerun == {"bronze": 12, "silver": 12, "gold": 1}
    gold = spark.read.parquet(f"{base}/gold")
    assert gold.agg(F.sum("brewery_count")).first()[0] == 12


def _good_records(n):
    return [
        {
            "id": f"b-{i}", "name": f"B{i}", "brewery_type": "micro",
            "city": "Portland", "state_province": "Oregon",
            "postal_code": "97201", "country": "US", "longitude": "-122.0",
            "latitude": "45.0", "phone": "5035550001", "website_url": None,
        }
        for i in range(n)
    ]


def _dates_in(spark, base, layer):
    """Dates a medallion layer holds rows for, read back from its files."""
    import os

    from breweries_case_spark import schemas

    path = f"{base}/{layer}"
    if not os.path.isdir(path):
        return set()
    schema = getattr(schemas, f"{layer.upper()}_SCHEMA")
    table = read_partitioned(spark, path, schema)
    return {r.extraction_date for r in table.select("extraction_date").distinct().collect()}


def test_run_medallion_empty_rerun_clears_stale_partitions(spark, tmp_path):
    """A rerun whose records all fail the validity gate (empty-string ids)
    must CLEAR the date's silver/gold partitions, not leave the previous
    run's data behind (dynamic overwrite alone would write nothing). The
    audit counts what was written, so the tables are read back here."""
    from breweries_case_spark.pipelines import run_medallion

    good = _good_records(5)
    bad = [dict(r, id="") for r in good]
    other = TEST_DATE + datetime.timedelta(days=1)

    base = str(tmp_path / "lake")
    assert run_medallion(spark, good, other, base) == {
        "bronze": 5, "silver": 5, "gold": 1,
    }
    assert run_medallion(spark, good, TEST_DATE, base) == {
        "bronze": 5, "silver": 5, "gold": 1,
    }
    assert run_medallion(spark, bad, TEST_DATE, base) == {
        "bronze": 5, "silver": 0, "gold": 0,
    }
    assert _dates_in(spark, base, "bronze") == {TEST_DATE, other}
    for layer in ("silver", "gold"):
        assert _dates_in(spark, base, layer) == {other}, layer


@pytest.mark.parametrize("fresh", [False, True], ids=["rerun", "first_run"])
def test_run_medallion_no_records(spark, tmp_path, fresh):
    """``records=[]`` gives all-zero counts and leaves no partition for
    the date: a rerun over an existing base path clears the date in every
    layer, and a first run on a fresh base path creates none."""
    from breweries_case_spark.pipelines import run_medallion

    base = str(tmp_path / "lake")
    if not fresh:
        run_medallion(spark, _good_records(3), TEST_DATE, base)
    assert run_medallion(spark, [], TEST_DATE, base) == {
        "bronze": 0, "silver": 0, "gold": 0,
    }
    for layer in ("bronze", "silver", "gold"):
        assert _dates_in(spark, base, layer) == set(), layer


def test_run_medallion_runs_only_the_layer_writes(spark, tmp_path):
    """One day launches exactly one job per layer write: the audit counts
    are observed on the writes and the read-backs use declared schemas,
    so an extra count() or an inferred-schema read adds a job here."""
    from breweries_case_spark.pipelines import run_medallion

    sc = spark.sparkContext
    group = f"medallion-jobs-{tmp_path.name}"
    sc.setJobGroup(group, "run_medallion job count")
    try:
        audit = run_medallion(spark, _good_records(20), TEST_DATE, str(tmp_path / "lake"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert audit == {"bronze": 20, "silver": 20, "gold": 1}
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # noqa: SLF001
    # test profile (AQE off): 1 bronze write (Arrow-built frame),
    # 1 silver write (scan bronze, parse, filter), 1 gold write (scan
    # silver, aggregate; its shuffle stage runs inside the same job)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 3


def test_ingest_to_bronze_arrow_parity(spark):
    """The Arrow ingest keeps ``raw_json`` byte-identical to
    ``json.dumps(dict(record))`` and yields exactly BRONZE_SCHEMA, also on
    a session with Arrow conversion switched off (the driver's vanilla
    session); no records give no rows."""
    import json

    from breweries_case_spark.schemas import BRONZE_SCHEMA

    records = [
        {"id": "a", "name": None, "n": 3, "x": 2.5, "big": 2**53 + 1},
        {"id": "ü", "name": "Bräu ☃ 日本", "nested": {"k": [1, None, {"z": -0.1}]}},
        {"id": "c", "flag": True, "empty": {}, "list": []},
    ]
    key = "spark.sql.execution.arrow.pyspark.enabled"
    prior = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        bronze = ingest_to_bronze(spark, records, TEST_DATE)
        assert bronze.schema == BRONZE_SCHEMA
        got = [(r.raw_json, r.extraction_date) for r in bronze.collect()]
        assert sorted(got) == sorted((json.dumps(dict(r)), TEST_DATE) for r in records)
        assert ingest_to_bronze(spark, [], TEST_DATE).count() == 0
    finally:
        spark.conf.set(key, prior)


def test_declared_schemas_match_loaded_tables(spark, sf_dir):
    """schemas.py is a live contract: the declared StructTypes for the
    driver's tables must match what load_table actually yields (names and
    types; parquet nullability is not pinned). The media schema must match
    what build_media_table constructs."""
    from breweries_case_spark import schemas as S
    from breweries_case_spark.io.reader import load_table
    from breweries_case_spark.operators.multimodal import build_media_table

    def shape(schema):
        return [(f.name, f.dataType.simpleString()) for f in schema.fields]

    for table, declared in (
        ("events", S.EVENTS_SCHEMA),
        ("documents", S.DOCUMENTS_SCHEMA),
        ("embeddings", S.EMBEDDINGS_SCHEMA),
    ):
        assert shape(load_table(spark, sf_dir, table).schema) == shape(declared), table
    assert shape(build_media_table(spark, sf_dir).schema) == shape(S.MEDIA_SCHEMA)


def test_tpch_q5_plan_pushes_filters_and_broadcasts_dims(spark, sf_dir):
    """TPC-H Q5's selective predicates must reach the parquet scans
    (PushedFilters on the orders date range and region name) and the
    dimension joins must be broadcast, not shuffled — the shape that
    holds at 100 TB where only the fact-side exchanges should remain."""
    from breweries_case_spark.operators.tpch import q_tpch_q5

    df = q_tpch_q5(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan, plan
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert any("o_orderdate" in ln for ln in pushed), pushed
    assert any("r_name" in ln for ln in pushed), pushed


def test_sampling_plan_shapes(spark, sf_dir):
    """Plan regression guards: hash sampling must stay a shuffle-free
    scan-filter; SCD2's two window passes must share ONE entity-keyed
    exchange and ONE sort (same partition + order keys)."""
    from breweries_case_spark.operators.sampling import (
        q_sample_hash,
        q_scd2_compress,
    )

    p = q_sample_hash(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in p, p
    p2 = q_scd2_compress(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert p2.count("Exchange") == 1, p2
    assert p2.count("Sort") == 1, p2


def test_run_medallion_snapshotted_runs_only_the_layer_commits(spark, tmp_path):
    """A snapshotted day launches one job per layer commit and nothing
    else: the audit counts are observed on the commits' writes, and the
    layers it reads back are scanned with the schema their manifests
    recorded, so an emptiness probe, a count() or a schema-inference
    read adds a job here."""
    from breweries_case_spark.pipelines.medallion import run_medallion_snapshotted

    sc = spark.sparkContext
    group = f"medallion-snap-jobs-{tmp_path.name}"
    sc.setJobGroup(group, "run_medallion_snapshotted job count")
    try:
        audit = run_medallion_snapshotted(
            spark, _good_records(20), TEST_DATE, str(tmp_path / "lake")
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert audit == {"bronze": 20, "silver": 20, "gold": 1}
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # noqa: SLF001
    # test profile (AQE off): the 3 layer writes
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 3


@pytest.mark.parametrize("aqe", ["false", "true"], ids=["aqe_off", "aqe_on"])
def test_run_medallion_snapshotted_empty_days(spark, tmp_path, aqe):
    """An empty first-run day publishes no version in any layer; an empty
    rerun drops the day from every layer in exactly one version. The
    zero audit counts come from observations on empty writes, which must
    be reported with AQE on too."""
    from breweries_case_spark.io.snapshots import history, latest_version
    from breweries_case_spark.pipelines.medallion import run_medallion_snapshotted

    key = "spark.sql.adaptive.enabled"
    prior = spark.conf.get(key)
    spark.conf.set(key, aqe)
    try:
        base = str(tmp_path / "lake")
        zero = {"bronze": 0, "silver": 0, "gold": 0}
        assert run_medallion_snapshotted(spark, [], TEST_DATE, base) == zero
        for layer in ("bronze", "silver", "gold"):
            assert latest_version(f"{base}/{layer}") is None, layer

        run_medallion_snapshotted(spark, _good_records(3), TEST_DATE, base)
        assert run_medallion_snapshotted(spark, [], TEST_DATE, base) == zero
        for layer in ("bronze", "silver", "gold"):
            assert [h["n_partitions"] for h in history(f"{base}/{layer}")] == [1, 0], layer
    finally:
        spark.conf.set(key, prior)
