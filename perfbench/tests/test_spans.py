"""Span recorder and self-time arithmetic on synthetic spans (no Spark)."""

import json

import pytest

from report import percentile, tail
from spans import SpanRecorder, covered


class FakeClock:
    def __init__(self):
        self.t = 0.0

    def __call__(self):
        return self.t


def test_covered_merges_overlaps_and_clips():
    assert covered([], 0, 10) == 0
    assert covered([(1, 3), (2, 5), (7, 8)], 0, 10) == 5
    assert covered([(-2, 1), (9, 12)], 0, 10) == 2
    assert covered([(4, 4), (6, 5)], 0, 10) == 0


def test_nesting_parent_run_id_and_self_time():
    clock = FakeClock()
    rec = SpanRecorder("run-1", clock=clock)
    with rec.span("outer") as outer:
        clock.t = 1
        with rec.span("a") as a:
            clock.t = 3
            with rec.span("a.inner"):
                clock.t = 4
        clock.t = 5
        with rec.span("b"):
            clock.t = 6
        clock.t = 10
    assert [s.parent for s in rec.spans] == [None, outer.span_id, a.span_id, outer.span_id]
    assert {s.run_id for s in rec.spans} == {"run-1"}
    assert outer.duration == 10
    assert rec.self_time(outer) == 10 - 3 - 1  # a covers [1,4], b covers [5,6]
    assert rec.self_time(a) == 2
    assert [s.name for s in rec.descendants(outer)] == ["a", "b", "a.inner"]


def test_finish_out_of_order_is_rejected():
    rec = SpanRecorder("r")
    outer = rec.start("outer")
    rec.start("inner")
    with pytest.raises(ValueError):
        rec.finish(outer)


def test_span_closes_on_exception():
    rec = SpanRecorder("r")
    with pytest.raises(RuntimeError):
        with rec.span("failing"):
            raise RuntimeError("boom")
    assert rec.spans[0].end is not None and rec.current is None


def test_write_emits_one_json_record_per_span(tmp_path):
    clock = FakeClock()
    rec = SpanRecorder("r", clock=clock)
    with rec.span("outer", layer="bench"):
        clock.t = 2
        with rec.span("child", tag="x"):
            clock.t = 3
    path = tmp_path / "spans.jsonl"
    rec.write(str(path))
    records = [json.loads(line) for line in path.read_text().splitlines()]
    assert [r["name"] for r in records] == ["outer", "child"]
    assert records[0]["self_s"] == 2 and records[1]["wall_s"] == 1
    assert records[1]["attrs"] == {"tag": "x"} and records[1]["parent"] == 0


def test_tail_needs_ten_samples_beyond_the_percentile():
    assert tail([3.0, 1.0, 2.0]) == (3.0, 100.0, 3)
    values = [float(i) for i in range(1, 101)]
    assert tail(values) == (90.0, 90, 100)
    assert percentile(values, 50) == 50.0
    assert tail(values * 10) == (99.0, 99, 1000)
