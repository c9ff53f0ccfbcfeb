"""Bench stdout contract: the driver records only the LAST ~2000 bytes
of stdout, so the one JSON result line must fit the tail budget at the
CURRENT bench suite size — with worst-case-width values, not the values
of a lucky run (BENCH_r04 lost its head exactly this way when the suite
grew). The line builder is pure; only the ``measure`` test runs Spark."""

from __future__ import annotations

import json

import bench


def _worst_case_line() -> str:
    # every per-query value at the widest 3-dp rendering the suite
    # realistically emits (xx.xxx), total in the hundreds
    names = [q for q in bench.HEADLINE + bench.EXTENDED]
    per_query = {q: 88.888 for q in names}
    medallion = {"bronze": 88.888, "silver": 88.888, "gold": 88.888}
    return bench.build_stdout_line(names, per_query, 888.888, 0.1, medallion)


def test_stdout_line_fits_tail_budget():
    line = _worst_case_line()
    assert len(line) <= bench.TAIL_BYTE_BUDGET, (
        f"{len(line)} bytes > {bench.TAIL_BYTE_BUDGET} tail budget — "
        "the driver would truncate the head of the result line"
    )


def test_stdout_line_keeps_spec_shape_under_truncation():
    doc = json.loads(_worst_case_line())
    # spec keys survive truncation; only per-query entries are dropped
    for key in ("metric", "value", "unit", "queries", "sf"):
        assert key in doc, f"spec key {key!r} lost to truncation"
    assert doc["value"] == 888.888
    assert doc["sf"] == 0.1
    # dropped ids must be accounted for, and the HEADLINE block (flagship
    # + TPC-H, the priority head of the ordering) must survive longest
    n_names = len(bench.HEADLINE) + len(bench.EXTENDED)
    if doc.get("queries_omitted"):
        assert doc["queries_omitted"] + len(doc["queries"]) == n_names
        assert doc["full_artifact"] == "BENCH_FULL.json"
        kept = list(doc["queries"])
        assert kept == [q for q in bench.HEADLINE + bench.EXTENDED][: len(kept)]
        assert "q_flagship" in doc["queries"]
    else:
        assert len(doc["queries"]) == n_names


def test_printed_id_set_depends_on_the_id_list_alone():
    """Neither the stall count nor the width of any value decides which
    ids are printed: the key set is fixed by the id list."""
    names = bench.HEADLINE + bench.EXTENDED
    medallion = dict.fromkeys(("bronze", "silver", "gold"), 1.0)
    keys = set()
    for value in (0.001, 88.888):
        per_query = dict.fromkeys(names, value)
        for stall_n in (0, len(names)):
            line = bench.build_stdout_line(
                names, per_query, value * len(names), 0.1, medallion, stall_n
            )
            assert len(line) <= bench.TAIL_BYTE_BUDGET
            doc = json.loads(line)
            keys.add((tuple(doc["queries"]), doc.get("queries_omitted")))
    assert len(keys) == 1, keys


def test_measure_counters_repeat_exactly(spark, sf_dir):
    """``bench.measure`` counts exactly one run's jobs: two runs of the
    same id report identical work counters."""
    from __spark_entry__ import queries

    fn = queries()["q_fingerprint"]
    exact = ("jobs", "stages", "tasks", "shuffle_read_records", "shuffle_write_records")
    first, second = (bench.measure(spark, "q_fingerprint", fn, sf_dir) for _ in range(2))
    assert first[0] > 0
    assert first[1]["jobs"] >= 1
    assert {k: first[1][k] for k in exact} == {k: second[1][k] for k in exact}


def test_growth_is_the_exponent_between_two_scale_factors():
    a = {"sec": 2.0, "jobs": 30, "shuffle_write_records": 100, "rows": 0}
    b = {"sec": 2.0, "jobs": 30, "shuffle_write_records": 1000, "rows": 50}
    assert bench.growth(0.01, a, 0.1, b) == {
        "sec": 0.0,
        "jobs": 0.0,
        "shuffle_write_records": 1.0,
        "rows": None,
    }
    assert bench.growth(0.01, b, 0.1, a)["rows"] is None


def test_sf_of_reads_the_directory_name():
    assert bench.sf_of("/data/sf0.01") == 0.01
    assert bench.sf_of("/data/sf0.1/") == 0.1
    assert bench.sf_of("/data/fixtures") is None
    assert bench.sf_of("/data/sfx") is None


def test_medallion_layer_times_run_the_day_and_leave_no_files(spark, tmp_path, monkeypatch):
    import tempfile

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    times = bench._medallion_layer_times(spark)
    assert set(times) == {"bronze", "silver", "gold"}
    assert all(t > 0 for t in times.values()), times
    assert not any(tmp_path.iterdir())
