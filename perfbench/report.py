"""Turns passes and spans into the metrics the benchmark prints."""

from __future__ import annotations

import math
import statistics

from spans import SpanRecorder
from tracing import layer_totals

#: name -> unit, in the order BENCHMARK.json lists them
END_TO_END = {
    "run_s": "s",
    "rows_per_s": "rows/s",
    "step_p50_s": "s",
    "step_tail_s": "s",
    "setup_s": "s",
    "spark_jobs": "count",
    "spark_tasks": "count",
    "shuffle_mb": "MB",
    "input_mb": "MB",
    "executor_cpu_s": "s",
    "driver_peak_rss_mb": "MB",
    "bytes_stored_per_input_byte": "ratio",
    "files_written": "count",
}

LAYERS = (
    "session",
    "io.rest_source", "io.writer", "io.snapshots", "io.reader",
    "pipelines.medallion", "pipelines.corpus",
    "operators.dedup", "operators.multimodal", "operators.text",
    "operators.training_mix", "operators.graph",
)
#: per-layer counters reported for every layer: name -> (unit, source key, scale)
LAYER_METRICS = {
    "self_s": ("s", "self_s", 1.0),
    "jobs": ("count", "jobs", 1),
    "tasks": ("count", "tasks", 1),
    "shuffle_mb": ("MB", None, 1e-6),
    "cpu_s": ("s", "executor_cpu_ns", 1e-9),
    "core_util": ("ratio", "core_util", 1.0),
}
#: spans whose own self time and jobs are reported by name
NAMED_SPANS = (
    "pipelines.medallion.run_medallion",
    "pipelines.medallion.ingest_to_bronze",
    "pipelines.corpus.update_corpus",
)
#: extra per-layer metrics: name -> unit
EXTRA = {
    "io.writer.bronze.self_s": "s",
    "io.writer.silver.self_s": "s",
    "io.writer.gold.self_s": "s",
    "io.writer.files": "count",
    "io.writer.write_mb": "MB",
    "io.writer.read_partitions": "count",
    "io.writer.read_partitions_last": "count",
    "io.snapshots.docs.self_s": "s",
    "io.snapshots.fingerprints.self_s": "s",
    "io.snapshots.lsh_buckets.self_s": "s",
    "io.snapshots.files": "count",
    "io.snapshots.write_mb": "MB",
    "io.snapshots.manifest_kb": "KB",
    "io.snapshots.read_calls": "count",
    "io.snapshots.read_partitions": "count",
    "io.snapshots.read_partitions_last": "count",
    "pipelines.corpus.actions.self_s": "s",
    "pipelines.corpus.actions.jobs": "count",
    "operators.build_s": "s",
    "operators.execute_s": "s",
    "operators.build_jobs": "count",
    "operators.execute_jobs": "count",
    "trace.overhead_s": "s",
    "trace.bookkeeping_s": "s",
}


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric ``per_layer`` reports, with its unit."""
    out = {
        f"{layer}.{metric}": unit
        for layer in LAYERS
        for metric, (unit, _, _) in LAYER_METRICS.items()
    }
    for span_name in NAMED_SPANS:
        out[f"{span_name}.self_s"] = "s"
        out[f"{span_name}.jobs"] = "count"
    out.update(EXTRA)
    return out


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile."""
    xs = sorted(values)
    return xs[max(0, math.ceil(p / 100 * len(xs)) - 1)]


def tail(values: list[float]) -> tuple[float, float, int]:
    """(value, percentile, samples): the highest of the usual percentiles
    with at least ten samples above it; the maximum when there are fewer
    than twenty samples."""
    n = len(values)
    for p in (99.9, 99, 95, 90, 75, 50):
        if round(n * (100 - p) / 100, 9) >= 10:
            return percentile(values, p), p, n
    return max(values), 100.0, n


def outcome(passes) -> dict:
    """The result line's fields besides ``metrics``: a failed step, a
    failed output check and a failed Spark task each count as failed."""
    failed_checks = [c for p in passes for c in p.checks if not c[1]]
    failed_steps = sum(p.failed_steps for p in passes)
    return {
        "correct": not failed_checks and not failed_steps,
        "attempted": sum(len(p.steps) + len(p.checks) + p.counters["tasks"] for p in passes),
        "failed": len(failed_checks) + failed_steps
        + sum(p.counters["failed_tasks"] for p in passes),
    }


def end_to_end(passes, setup_s: float, peak_rss_mb: float) -> tuple[dict, dict]:
    """(metrics, details) for an untraced run of one or more passes.
    Per-pass values are reported as the median over passes."""
    med = statistics.median
    steps = [t for p in passes for _, t in p.steps]
    tail_v, tail_p, tail_n = tail(steps)
    c = [p.counters for p in passes]
    values = {
        "run_s": med(p.run_s for p in passes),
        "rows_per_s": med(p.input_rows / p.run_s if p.run_s else 0.0 for p in passes),
        "step_p50_s": med(steps),
        "step_tail_s": tail_v,
        "setup_s": setup_s,
        "spark_jobs": med(x["jobs"] for x in c),
        "spark_tasks": med(x["tasks"] for x in c),
        "shuffle_mb": med((x["shuffle_read_bytes"] + x["shuffle_write_bytes"]) / 1e6 for x in c),
        "input_mb": med(x["input_bytes"] / 1e6 for x in c),
        "executor_cpu_s": med(x["executor_cpu_ns"] / 1e9 for x in c),
        "driver_peak_rss_mb": peak_rss_mb,
        "bytes_stored_per_input_byte": med(
            p.stored_bytes / p.input_bytes if p.input_bytes else 0.0 for p in passes
        ),
        "files_written": med(p.table_files + x["shuffle_map_tasks"] for p, x in zip(passes, c)),
    }
    metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}
    o = outcome(passes)
    details = {
        "passes": len(passes),
        "step_tail": {"percentile": tail_p, "samples": tail_n},
        "steps": [[name, t] for p in passes for name, t in p.steps],
        "step_counters": [p.step_counters for p in passes],
        "shuffle_records": med(
            x["shuffle_read_records"] + x["shuffle_write_records"] for x in c
        ),
        "stages": med(x["stages"] for x in c),
        "failed_frac": o["failed"] / max(o["attempted"], 1),
        "input_rows": med(p.input_rows for p in passes),
    }
    return metrics, details


def per_layer(recorder: SpanRecorder, spans, cores: int, overhead_s: float,
              bookkeeping_s: float) -> dict:
    """Per-layer metrics from the spans of one traced pass (plus the
    session span of set-up). ``overhead_s`` is traced minus untraced
    ``run_s``; ``bookkeeping_s`` is the time the wrappers spent outside
    the calls they wrap."""
    totals = layer_totals(recorder, spans, cores)
    out: dict[str, dict] = {}

    def put(name: str, value: float, unit: str) -> None:
        out[name] = {"value": value, "unit": unit}

    for layer in LAYERS:
        t = totals.get(layer, {})
        for metric, (unit, key, scale) in LAYER_METRICS.items():
            if key is None:
                v = (t.get("shuffle_read_bytes", 0) + t.get("shuffle_write_bytes", 0)) * scale
            else:
                v = t.get(key, 0) * scale
            put(f"{layer}.{metric}", v, unit)

    def named(span_name: str):
        return [s for s in spans if s.name == span_name]

    for span_name in NAMED_SPANS:
        ss = named(span_name)
        put(f"{span_name}.self_s", sum(recorder.self_time(s) for s in ss), "s")
        put(f"{span_name}.jobs", sum(s.attrs["own"]["jobs"] for s in ss), "count")

    writes = named("io.writer.write_partition_overwrite")
    reads = named("io.writer.read_partitioned")
    commits = named("io.snapshots.commit_overwrite_partitions") + named(
        "io.snapshots.commit_delete_partitions"
    )
    snap_reads = named("io.snapshots.read_snapshot")
    actions = [s for s in spans if s.attrs.get("action")]
    builds = [s for s in spans if s.attrs.get("phase") == "build"]
    executes = [s for s in spans if s.attrs.get("phase") == "execute"]

    def self_sum(ss):
        return sum(recorder.self_time(s) for s in ss)

    def tagged(ss, tag):
        return [s for s in ss if s.attrs.get("tag") == tag]

    values = {
        "io.writer.bronze.self_s": self_sum(tagged(writes, "bronze")),
        "io.writer.silver.self_s": self_sum(tagged(writes, "silver")),
        "io.writer.gold.self_s": self_sum(tagged(writes, "gold")),
        "io.writer.files": sum(s.attrs.get("files", 0) for s in writes),
        "io.writer.write_mb": sum(s.attrs.get("bytes", 0) for s in writes) / 1e6,
        "io.writer.read_partitions": sum(s.attrs.get("partitions", 0) for s in reads),
        "io.writer.read_partitions_last": reads[-1].attrs.get("partitions", 0) if reads else 0,
        "io.snapshots.docs.self_s": self_sum(tagged(commits, "docs")),
        "io.snapshots.fingerprints.self_s": self_sum(tagged(commits, "fingerprints")),
        "io.snapshots.lsh_buckets.self_s": self_sum(tagged(commits, "lsh_buckets")),
        "io.snapshots.files": sum(s.attrs.get("files", 0) for s in commits),
        "io.snapshots.write_mb": sum(s.attrs.get("bytes", 0) for s in commits) / 1e6,
        "io.snapshots.manifest_kb": sum(s.attrs.get("manifest_bytes", 0) for s in commits) / 1e3,
        "io.snapshots.read_calls": len(snap_reads),
        "io.snapshots.read_partitions": sum(s.attrs.get("partitions", 0) for s in snap_reads),
        "io.snapshots.read_partitions_last": (
            snap_reads[-1].attrs.get("partitions", 0) if snap_reads else 0
        ),
        "pipelines.corpus.actions.self_s": self_sum(actions),
        "pipelines.corpus.actions.jobs": sum(s.attrs["own"]["jobs"] for s in actions),
        "operators.build_s": sum(s.duration for s in builds),
        "operators.execute_s": sum(s.duration for s in executes),
        "operators.build_jobs": sum(s.attrs["total"]["jobs"] for s in builds),
        "operators.execute_jobs": sum(s.attrs["total"]["jobs"] for s in executes),
        "trace.overhead_s": overhead_s,
        "trace.bookkeeping_s": bookkeeping_s,
    }
    for name, unit in EXTRA.items():
        put(name, values[name], unit)
    return out
