"""Spans under Spark job groups, and the wrappers that record them around
calls into the engine's layers.

Every span runs its Spark jobs under a job group of its own, so the
status store attributes each job to exactly one span: a span's *own*
counters exclude its children's, and its *total* counters add them back.

``Instrumentation`` installs the wrappers for a traced run and removes
them afterwards. A wrapped function is replaced in every loaded module of
the engine that binds it, so calls through ``from x import f`` names are
seen too. Only driver-side functions are wrapped; nothing here runs on
executors.
"""

from __future__ import annotations

import functools
import importlib
import os
import sys
import time
from collections.abc import Callable, Iterator
from contextlib import contextmanager

from counters import COUNTERS, StatusStoreCounters, add
from spans import Span, SpanRecorder

PACKAGE = "breweries_case_spark"


def rebind(orig, replacement) -> list[tuple[object, str, object]]:
    """Bind ``replacement`` wherever a loaded engine module binds ``orig``;
    returns (module, name, orig) triples that undo it."""
    undo = []
    for name, mod in list(sys.modules.items()):
        if not (name == PACKAGE or name.startswith(PACKAGE + ".")):
            continue
        for attr, val in list(vars(mod).items()):
            if val is orig:
                undo.append((mod, attr, orig))
                setattr(mod, attr, replacement)
    return undo


class Tracer:
    def __init__(self, sc, recorder: SpanRecorder, counters: StatusStoreCounters):
        self._sc = sc
        self.recorder = recorder
        self.counters = counters
        #: True while Instrumentation is installed
        self.detailed = False
        #: seconds the wrappers spent outside the wrapped calls
        self.bookkeeping_s = 0.0
        self._open: list[tuple[str, str]] = []  # (job group, description)

    def _set_group(self) -> None:
        if self._open:
            self._sc.setJobGroup(*self._open[-1])
        else:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
            self._sc.setLocalProperty("spark.job.description", None)

    @contextmanager
    def span(self, name: str, layer: str, **attrs) -> Iterator[Span]:
        s = self.recorder.start(name, layer=layer, **attrs)
        group = f"{self.recorder.run_id}-{s.span_id}"
        s.attrs["job_group"] = group
        self._open.append((group, name))
        self._set_group()
        try:
            yield s
        finally:
            self._open.pop()
            self.recorder.finish(s)
            self._set_group()

    def attach_counters(self, spans: list[Span]) -> None:
        """Fill ``own`` and ``total`` counters of ``spans`` (which must hold
        every descendant of each span) from the status store."""
        self.counters.flush()
        for s in spans:
            s.attrs["own"] = self.counters.collect(s.attrs["job_group"])
        for s in spans:
            total = dict(s.attrs["own"])
            for d in self.recorder.descendants(s):
                add(total, d.attrs.get("own", {}))
            s.attrs["total"] = total


def _data_files(root: str) -> dict[str, int]:
    """path -> size of every parquet file under ``root``."""
    out = {}
    for dirpath, _, files in os.walk(root):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(dirpath, f)
                out[p] = os.path.getsize(p)
    return out


def _written(before: dict[str, int], root: str) -> dict[str, int]:
    after = _data_files(root)
    new = [p for p in after if p not in before]
    return {"files": len(new), "bytes": sum(after[p] for p in new)}


# --- per-function hooks: attributes recorded on the span around the call ---


def _writer_write(span: Span, call: Callable, df, path, *a, **kw):
    span.attrs["tag"] = os.path.basename(path.rstrip("/"))
    before = _data_files(path)
    out = call(df, path, *a, **kw)
    span.attrs.update(_written(before, path))
    return out


def _writer_read(span: Span, call: Callable, spark, path, *a, **kw):
    span.attrs["tag"] = os.path.basename(path.rstrip("/"))
    span.attrs["partitions"] = sum(
        1 for e in os.listdir(path) if "=" in e
    ) if os.path.isdir(path) else 0
    return call(spark, path, *a, **kw)


def _snap_commit(span: Span, call: Callable, df_or_dir, *a, **kw):
    from breweries_case_spark.io import snapshots

    table_dir = df_or_dir if isinstance(df_or_dir, str) else a[0]
    span.attrs["tag"] = os.path.basename(table_dir.rstrip("/"))
    before = _data_files(table_dir)
    version = call(df_or_dir, *a, **kw)
    span.attrs.update(_written(before, table_dir))
    span.attrs["manifest_bytes"] = os.path.getsize(
        snapshots._manifest_path(table_dir, version)  # noqa: SLF001
    )
    return version


def _snap_read(span: Span, call: Callable, spark, table_dir, version=None, partitions=None):
    from breweries_case_spark.io import snapshots

    span.attrs["tag"] = os.path.basename(table_dir.rstrip("/"))
    v = snapshots.latest_version(table_dir) if version is None else version
    if v is not None:
        parts = snapshots._read_manifest(table_dir, v)["partitions"]  # noqa: SLF001
        want = None if partitions is None else set(partitions)
        span.attrs["partitions"] = sum(
            1 for val, files in parts.items() if files and (want is None or val in want)
        )
    return call(spark, table_dir, version, partitions)


def _tag_arg(index: int, key: str | None = None):
    def hook(span: Span, call: Callable, *a, **kw):
        val = kw.get(key) if key and key in kw else (a[index] if len(a) > index else None)
        if isinstance(val, str):
            span.attrs["tag"] = val
        return call(*a, **kw)

    return hook


#: module -> {function: hook}; a hook of None just records the span
HOOKS: dict[str, dict[str, Callable | None]] = {
    "io.rest_source": {"fetch_paginated": None},
    "io.writer": {
        "write_partition_overwrite": _writer_write,
        "read_partitioned": _writer_read,
    },
    "io.snapshots": {
        "commit_overwrite_partitions": _snap_commit,
        "commit_delete_partitions": _snap_commit,
        "read_snapshot": _snap_read,
    },
    "io.reader": {"load_table": _tag_arg(2, "name")},
    "pipelines.medallion": {
        "run_medallion": None,
        "ingest_to_bronze": None,
        "bronze_to_silver": None,
        "silver_to_gold": None,
    },
    "pipelines.corpus": {"update_corpus": _tag_arg(3, "shard_date"), "read_corpus": None},
    # the private names are the entry points pipelines.corpus calls
    "operators.dedup": dict.fromkeys((
        "_norm_tokens", "_hashed_shingles_from_token_hashes", "_lsh_banded",
        "broadcast_if_small", "containment_pairs", "minhash_signatures",
        "lsh_candidates", "minhash_verified_pairs", "connected_components",
        "connected_components_star", "bounded_component_assignment",
        "incremental_near_candidates",
    )),
    "operators.multimodal": dict.fromkeys((
        "build_media_table", "synth_media_table", "extract_features",
        "image_hashes", "hash_near_pairs", "hamming_near_pairs",
        "audio_hashes", "video_fingerprints", "video_shared_pairs",
        "perceptual_cluster_output", "hash_cluster_assignment",
        "video_cluster_assignment", "video_cluster_assignment_from",
    )),
    "operators.text": dict.fromkeys(("_ngram_rows", "gate_scored", "curriculum_stage_table")),
    "operators.training_mix": dict.fromkeys(("quality_mask", "content_fingerprint", "epoch_table")),
    "operators.graph": {},
}
#: layers whose registered query ids (``q_*``) are also wrapped, so an id
#: called from inside another id shows as a child span
ID_LAYERS = ("operators.dedup", "operators.multimodal", "operators.text",
             "operators.training_mix", "operators.graph")
#: DataFrame actions split out as child spans when called from these layers
ACTION_LAYERS = ("pipelines.corpus",)
ACTIONS = ("count", "localCheckpoint")


class Instrumentation:
    def __init__(self, tracer: Tracer):
        self.tracer = tracer
        self._undo: list[tuple[object, str, object]] = []

    def wrap(self, layer: str, fname: str, hook: Callable | None) -> None:
        mod = importlib.import_module(f"{PACKAGE}.{layer}")
        orig = getattr(mod, fname)
        tracer = self.tracer

        @functools.wraps(orig)
        def wrapper(*a, **kw):
            t0, inner = time.perf_counter(), [0.0]

            def call(*a, **kw):
                t = time.perf_counter()
                try:
                    return orig(*a, **kw)
                finally:
                    inner[0] += time.perf_counter() - t

            try:
                with tracer.span(f"{layer}.{fname}", layer=layer) as s:
                    return call(*a, **kw) if hook is None else hook(s, call, *a, **kw)
            finally:
                tracer.bookkeeping_s += time.perf_counter() - t0 - inner[0]

        self._undo += rebind(orig, wrapper)

    def split_actions(self) -> None:
        from pyspark.sql.classic.dataframe import DataFrame

        tracer = self.tracer
        modules = {f"{PACKAGE}.{layer}": layer for layer in ACTION_LAYERS}
        for action in ACTIONS:
            orig = getattr(DataFrame, action)

            def wrapper(df, *a, _orig=orig, _action=action, **kw):
                caller = sys._getframe(1)  # noqa: SLF001
                layer = modules.get(caller.f_globals.get("__name__"))
                if layer is None:
                    return _orig(df, *a, **kw)
                name = f"{layer}.{caller.f_code.co_name}.{_action}"
                t0, inner = time.perf_counter(), 0.0
                try:
                    with tracer.span(name, layer=layer, action=_action):
                        t = time.perf_counter()
                        try:
                            return _orig(df, *a, **kw)
                        finally:
                            inner = time.perf_counter() - t
                finally:
                    tracer.bookkeeping_s += time.perf_counter() - t0 - inner

            self._undo.append((DataFrame, action, orig))
            setattr(DataFrame, action, functools.wraps(orig)(wrapper))

    def install(self) -> None:
        for layer, hooks in HOOKS.items():
            for fname, hook in hooks.items():
                self.wrap(layer, fname, hook)
        for layer in ID_LAYERS:
            mod = importlib.import_module(f"{PACKAGE}.{layer}")
            for fname, fn in list(vars(mod).items()):
                if (fname.startswith("q_") and callable(fn)
                        and getattr(fn, "__module__", None) == mod.__name__):
                    self.wrap(layer, fname, None)
        self.split_actions()
        self.tracer.detailed = True

    def remove(self) -> None:
        for target, attr, orig in reversed(self._undo):
            setattr(target, attr, orig)
        self._undo.clear()
        self.tracer.detailed = False


def layer_totals(recorder: SpanRecorder, spans: list[Span], cores: int) -> dict[str, dict]:
    """Per-layer sums over ``spans``: calls, self time, own counters, and
    core utilization (own executor run time / (self time x cores))."""
    out: dict[str, dict] = {}
    for s in spans:
        t = out.setdefault(s.attrs["layer"], {"calls": 0, "self_s": 0.0, **dict.fromkeys(COUNTERS, 0)})
        t["calls"] += 1
        t["self_s"] += recorder.self_time(s)
        add(t, s.attrs.get("own", {}))
    for t in out.values():
        t["core_util"] = (t["executor_run_ms"] / 1000) / (t["self_s"] * cores) if t["self_s"] > 0 else 0.0
    return out
