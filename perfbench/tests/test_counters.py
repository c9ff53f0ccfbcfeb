"""Status-store counters: jobs, stages and shuffle records repeat exactly
for two runs of one small fixed plan."""

import pytest
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from counters import StatusStoreCounters
from spans import SpanRecorder
from tracing import Tracer


@pytest.fixture(scope="module")
def spark():
    s = (
        SparkSession.builder.master("local[2]")
        .appName("perfbench-counters-test")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.adaptive.enabled", "true")
        .getOrCreate()
    )
    yield s
    s.stop()


def _plan(spark):
    keys = spark.range(0, 20_000, 1, 4).withColumn("k", F.col("id") % 97)
    dims = spark.range(0, 97).withColumnRenamed("id", "k")
    return keys.groupBy("k").count().join(dims, "k").orderBy("k")


def test_counters_repeat_exactly(spark):
    tracer = Tracer(spark.sparkContext, SpanRecorder("t"), StatusStoreCounters(spark.sparkContext))
    runs = []
    for i in range(2):
        with tracer.span(f"run{i}", layer="bench") as s:
            _plan(spark).write.format("noop").mode("overwrite").save()
        tracer.attach_counters([s])
        runs.append(s.attrs["own"])
    a, b = runs
    assert a["jobs"] > 0 and a["stages"] > 0 and a["shuffle_write_records"] > 0
    for k in ("jobs", "stages", "tasks", "shuffle_read_records", "shuffle_write_records"):
        assert a[k] == b[k], k


def test_child_span_jobs_are_not_counted_in_parent(spark):
    tracer = Tracer(spark.sparkContext, SpanRecorder("t2"), StatusStoreCounters(spark.sparkContext))
    with tracer.span("one", layer="bench") as one:
        spark.range(10).count()
    with tracer.span("parent", layer="bench") as parent:
        spark.range(10).count()
        with tracer.span("child", layer="bench") as child:
            spark.range(10).count()
            spark.range(10).count()
    tracer.attach_counters([one, parent, child])
    n = one.attrs["own"]["jobs"]
    assert n > 0
    assert child.attrs["own"]["jobs"] == 2 * n
    assert parent.attrs["own"]["jobs"] == n
    assert parent.attrs["total"]["jobs"] == 3 * n
