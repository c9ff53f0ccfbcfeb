"""BENCHMARK.json names exactly the metrics the benchmark prints."""

import json
import os

import report
from counters import COUNTERS
from spans import SpanRecorder
from workloads import PassResult

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _contract():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _units(entries):
    return {m["name"]: m["unit"] for m in entries}


def test_end_to_end_metrics_match_the_contract():
    p = PassResult(steps=[("a", 1.5), ("b", 2.5)], input_rows=10, input_bytes=100,
                   stored_bytes=50, table_files=3)
    p.counters.update(jobs=4, tasks=8, executor_cpu_ns=10**9, shuffle_map_tasks=2,
                      shuffle_read_bytes=10**6, input_bytes=10**6)
    metrics, details = report.end_to_end([p], setup_s=1.0, peak_rss_mb=100.0)
    assert {k: m["unit"] for k, m in metrics.items()} == _units(_contract()["end_to_end"])
    assert metrics["run_s"]["value"] == 4.0 and metrics["files_written"]["value"] == 5
    assert details["failed_frac"] == 0.0
    assert all(m["value"] != 0 for m in metrics.values())


def test_per_layer_metrics_match_the_contract():
    rec = SpanRecorder("r")
    zero = dict.fromkeys(COUNTERS, 0)
    with rec.span("pipelines.medallion.run_medallion", layer="pipelines.medallion") as s:
        pass
    s.attrs["own"] = s.attrs["total"] = dict(zero, jobs=3)
    out = report.per_layer(rec, rec.spans, cores=4, overhead_s=0.1, bookkeeping_s=0.01)
    assert {k: m["unit"] for k, m in out.items()} == _units(_contract()["per_layer"])
    assert out["pipelines.medallion.jobs"]["value"] == 3
    assert out["pipelines.medallion.run_medallion.jobs"]["value"] == 3
    assert out["operators.graph.jobs"]["value"] == 0


def test_contract_shape():
    doc = _contract()
    assert set(doc) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert {w["name"] for w in doc["workloads"]} == set(report_workloads())
    assert any(m["name"] == "setup_s" and m["bound"] == 0.25 for m in doc["end_to_end"])
    assert all(m["bound"] <= 0.25 for m in doc["end_to_end"])
    higher = {"rows_per_s", "core_util"}
    for m in doc["end_to_end"] + doc["per_layer"]:
        assert m["better"] == ("higher" if m["name"].split(".")[-1] in higher else "lower")


def report_workloads():
    from workloads import WORKLOADS

    return WORKLOADS
