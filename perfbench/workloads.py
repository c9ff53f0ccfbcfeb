"""The benchmark's workloads, each a closed loop with one caller.

A workload has a one-off ``setup`` (input generation) and a ``run_pass``
that runs the timed steps on fresh storage and then checks the outputs.
Only the step bodies are timed; per-pass set-up, storage scans and
correctness checks happen between them. There is no warm-up: like the
daily and nightly jobs they stand for, the first pass runs in a fresh
process and pays for its own plan compilation.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import math
import os
import shutil
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from counters import COUNTERS, add
from spans import SpanRecorder
from tracing import Tracer

import gen

HERE = os.path.dirname(os.path.abspath(__file__))
DATA = os.path.join(HERE, "data")
EXPECTED = os.path.join(HERE, "expected.json")


@dataclass
class PassResult:
    steps: list[tuple[str, float]] = field(default_factory=list)
    checks: list[tuple[str, bool, str]] = field(default_factory=list)
    failed_steps: int = 0
    setup_s: float = 0.0
    input_rows: int = 0
    input_bytes: int = 0
    stored_bytes: int = 0
    table_files: int = 0
    counters: dict = field(default_factory=lambda: dict.fromkeys(COUNTERS, 0))
    step_counters: dict = field(default_factory=dict)
    span_mark: int = 0

    @property
    def run_s(self) -> float:
        return sum(t for _, t in self.steps)

    def check(self, name: str, ok: bool, detail: str = "") -> None:
        self.checks.append((name, bool(ok), detail))


class StepFailed(Exception):
    """A step raised; carries the partial pass so the run can still report."""

    def __init__(self, result: PassResult):
        super().__init__(f"step {result.steps[-1][0]!r} failed")
        self.result = result


class Bench:
    """What every workload shares: the session, the span recorder and
    tracer, the seed, and a working directory inside the checkout."""

    def __init__(self, spark, work_dir: str, seed: int, scale: float,
                 recorder: SpanRecorder, tracer: Tracer):
        self.spark = spark
        self.work_dir = work_dir
        self.seed = seed
        self.scale = scale
        self.recorder = recorder
        self.tracer = tracer
        self._lake_files: set[str] = set()

    def fresh_dir(self, name: str) -> str:
        path = os.path.join(self.work_dir, name)
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(path)
        self._lake_files = {p for p in self._lake_files if not p.startswith(path + os.sep)}
        return path

    @contextmanager
    def step(self, result: PassResult, name: str):
        """One timed step. A step that raises is counted as failed and
        ends the pass."""
        t0 = time.perf_counter()
        try:
            with self.tracer.span(name, layer="bench", step=True):
                yield
        except Exception as exc:
            result.failed_steps += 1
            result.steps.append((name, time.perf_counter() - t0))
            raise StepFailed(result) from exc
        result.steps.append((name, time.perf_counter() - t0))

    def new_table_files(self, lake: str) -> int:
        """Table files (parquet data and manifests) under ``lake`` not seen
        by an earlier call: called after every step, so files a later
        overwrite removes are still counted as written."""
        n = 0
        for dirpath, _, files in os.walk(lake):
            for f in files:
                if f.endswith(".parquet") or (f.endswith(".json") and "_manifest" in dirpath):
                    p = os.path.join(dirpath, f)
                    if p not in self._lake_files:
                        self._lake_files.add(p)
                        n += 1
        return n

    def finish_pass(self, result: PassResult, lake: str) -> None:
        """Attach status-store counters to the pass's spans and sum the
        step spans into the pass counters; measure stored bytes."""
        spans = self.recorder.since(result.span_mark)
        self.tracer.attach_counters(spans)
        for s in spans:
            if s.attrs.get("step"):
                add(result.counters, s.attrs["total"])
                result.step_counters[s.name] = s.attrs["total"]
        result.stored_bytes = dir_bytes(lake)


def dir_bytes(root: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(root) for f in fs
    )


def table_hash(df) -> tuple[int, str]:
    """(rows, order-independent content hash) computed in Spark."""
    from pyspark.sql import functions as F

    cols = sorted(df.columns)
    row = df.select(F.xxhash64(*cols).cast("decimal(38,0)").alias("h")).agg(
        F.count("*").alias("n"), F.sum("h").alias("s")
    ).collect()[0]
    return row["n"], str(row["s"])


# --- medallion_daily --------------------------------------------------------


class MedallionDaily:
    name = "medallion_daily"
    N_DAYS = 3
    PER_DAY = 40_000
    REDELIVERY_DAY = 1

    def __init__(self, bench: Bench):
        self.b = bench
        self.days: list[gen.MedallionDay] = []

    def setup(self) -> None:
        self.days = gen.medallion_days(
            self.b.seed, self.N_DAYS, int(self.PER_DAY * self.b.scale), self.REDELIVERY_DAY
        )

    def run_pass(self) -> PassResult:
        from breweries_case_spark.pipelines import medallion

        b, r = self.b, PassResult(span_mark=len(self.b.recorder.spans))
        lake = b.fresh_dir("lake")
        base = os.path.join(lake, "medallion")
        for i, day in enumerate(self.days):
            name = "redelivery" if i == len(self.days) - 1 else f"day{i + 1}"
            with b.step(r, name):
                audit = medallion.run_medallion(b.spark, _fetch(day), day.date, base)
            r.table_files += b.new_table_files(lake)
            r.input_rows += day.n_records
            r.input_bytes += day.payload_bytes
            want = {"bronze": day.n_records, "silver": day.valid_rows, "gold": day.gold_groups}
            r.check(f"audit.{name}", audit == want, f"got {audit}, want {want}")
        b.finish_pass(r, lake)
        self._check_layers(r, base)
        return r

    def _check_layers(self, r: PassResult, base: str) -> None:
        """Every layer holds each date once; the re-delivered date holds
        the re-delivery's rows, not the original day's."""
        final = {d.date: d for d in self.days}  # the re-delivery comes last
        with self.b.tracer.span("verify", layer="bench"):
            for layer, attr in (("bronze", "n_records"), ("silver", "valid_rows"),
                                ("gold", "gold_groups")):
                got = {
                    row["extraction_date"]: row["count"]
                    for row in self.b.spark.read.parquet(f"{base}/{layer}")
                    .groupBy("extraction_date").count().collect()
                }
                want = {d: getattr(day, attr) for d, day in final.items()}
                r.check(f"layer.{layer}", got == want, f"got {got}, want {want}")


def _fetch(day: gen.MedallionDay) -> list[dict]:
    from breweries_case_spark.io import rest_source

    return rest_source.fetch_paginated(
        gen.page_fetcher(day), per_page=gen.PER_PAGE, max_pages=len(day.pages) + 1
    )


# --- llm_nightly ------------------------------------------------------------

SHARD_SCHEMA = "doc_id long, text string, lang string, source string"


def canonical_rows(columns: list[str], rows) -> list[tuple]:
    """Rows as sorted tuples of normalized values, columns in name order
    (the oracle-parity normalization)."""

    def norm(v):
        if isinstance(v, float):
            return "NaN" if math.isnan(v) else v
        if isinstance(v, dt.datetime):
            return v.replace(tzinfo=None).isoformat()
        if isinstance(v, dt.date):
            return v.isoformat()
        if isinstance(v, (list, tuple)):
            return tuple(norm(x) for x in v)
        if isinstance(v, bytearray):
            return bytes(v)
        return v

    idx = sorted(range(len(columns)), key=lambda i: columns[i])
    return sorted((tuple(norm(row[i]) for i in idx) for row in rows), key=repr)


def rows_hash(rows: list[tuple]) -> str:
    h = hashlib.sha256()
    for row in rows:
        h.update(repr(row).encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def spark_rows(df) -> list[tuple]:
    return canonical_rows(df.columns, [tuple(r) for r in df.collect()])


class LlmNightly:
    """The LLM-data path of one night: daily corpus shards through
    ``update_corpus`` (gate, decontaminate, exact and near dedup, three
    snapshot commits), a crash-retry of the last shard, then the batch
    curation composite over the reference documents table."""

    name = "llm_nightly"
    BACKFILL = 300
    N_SHARDS = 1
    SHARD_N = 3000

    def __init__(self, bench: Bench):
        self.b = bench
        with open(EXPECTED) as fh:
            self.expected = json.load(fh)
        self.data_dir = os.path.join(HERE, self.expected["data_dir"])

    def setup(self) -> None:
        import pyarrow.parquet as pq

        import __spark_entry__
        from breweries_case_spark.io import reader

        docs = pq.read_table(
            os.path.join(DATA, "sf0.1", "documents.parquet"),
            columns=["text", "lang", "source"],
        ).to_pylist()
        base = [(d["text"], d["lang"], d["source"]) for d in docs]
        self.backfill, self.shards = gen.corpus_inputs(
            self.b.seed, base, self.BACKFILL, self.N_SHARDS, int(self.SHARD_N * self.b.scale)
        )
        spark = self.b.spark
        self.bench_grams = spark.createDataFrame([(g,) for g in gen.BENCH_GRAMS], "g string")
        self.frames = [spark.createDataFrame(list(s.rows), SHARD_SCHEMA) for s in self.shards]
        self.backfill_df = spark.createDataFrame(list(self.backfill.rows), SHARD_SCHEMA)

        registry = __spark_entry__.queries()
        self.curation = [(q, registry[q]) for q in sorted(self.expected["ids"])]
        with self.b.tracer.span("count_inputs", layer="bench"):
            self.curation_rows = sum(
                reader.load_table(spark, self.data_dir, t).count()
                for t in self.expected["tables"]
            )

    def run_pass(self) -> PassResult:
        from breweries_case_spark.pipelines import corpus

        b, r = self.b, PassResult(span_mark=len(self.b.recorder.spans))
        spark = b.spark
        lake = b.fresh_dir("lake")
        cdir = os.path.join(lake, "corpus")
        t0 = time.perf_counter()
        with b.tracer.span("backfill", layer="bench"):
            base_audit = corpus.update_corpus(
                spark, self.backfill_df, cdir, self.backfill.shard_date, persist_lsh_state=True
            )
        r.setup_s = time.perf_counter() - t0
        b.new_table_files(lake)  # the backfill's files belong to set-up
        r.check("backfill.accepted", base_audit["n_accepted"] == len(self.backfill.rows),
                str(base_audit))
        r.input_bytes += self.backfill.text_bytes

        audits = []
        plan = list(zip(self.shards, self.frames))
        for i, (shard, frame) in enumerate([*plan, plan[-1]]):
            retry = i == len(plan)
            if retry:
                before = self._hashes(cdir)
            name = "retry" if retry else f"shard{i + 1}"
            with b.step(r, name):
                audit = corpus.update_corpus(
                    spark, frame, cdir, shard.shard_date,
                    bench_grams=self.bench_grams, near_dedup=True,
                )
            r.table_files += b.new_table_files(lake)
            r.input_rows += len(shard.rows)
            r.input_bytes += shard.text_bytes
            r.check(f"n_in.{name}", audit["n_in"] == len(shard.rows), str(audit))
            r.check(f"n_after_gate.{name}", audit["n_after_gate"] == shard.expected_after_gate,
                    f"{audit['n_after_gate']} != {shard.expected_after_gate}")
            audits.append(audit)
        after = self._hashes(cdir)

        frames = []
        for qid, fn in self.curation:
            layer = "operators." + fn.__module__.rsplit(".", 1)[-1]
            name = f"{layer}.{qid}"
            with b.step(r, name):
                if b.tracer.detailed:
                    with b.tracer.span(f"{name}.build", layer=layer, phase="build"):
                        df = fn(spark, self.data_dir)
                    with b.tracer.span(f"{name}.execute", layer=layer, phase="execute"):
                        df.write.format("noop").mode("overwrite").save()
                else:
                    df = fn(spark, self.data_dir)
                    df.write.format("noop").mode("overwrite").save()
            r.input_rows += self.curation_rows
            frames.append((qid, df))
        b.finish_pass(r, lake)

        with b.tracer.span("verify", layer="bench"):
            r.check("retry.same_tables", after == before, f"{before} -> {after}")
            keys = ("n_in", "n_after_gate", "n_near_dropped", "n_accepted")
            r.check("retry.same_audit",
                    all(audits[-1][k] == audits[-2][k] for k in keys),
                    f"{audits[-2]} -> {audits[-1]}")
            docs = corpus.read_corpus(spark, cdir)
            redelivered = [d for s in self.shards for d in s.planted["redelivery"]]
            leaked = docs.filter(docs.doc_id.isin(redelivered)).count()
            r.check("redeliveries.dropped", leaked == 0, f"{leaked} re-delivered docs kept")
            want = base_audit["n_accepted"] + sum(a["n_accepted"] for a in audits[:-1])
            n = docs.count()
            r.check("corpus.rows", n == want, f"{n} != {want}")
            for qid, df in frames:
                rows = spark_rows(df)
                got = {"rows": len(rows), "hash": rows_hash(rows)}
                want_q = self.expected["ids"][qid]
                r.check(f"result.{qid}", got == want_q, f"got {got}, want {want_q}")
        return r

    def _hashes(self, cdir: str) -> dict:
        from breweries_case_spark.io import snapshots
        from breweries_case_spark.pipelines import corpus

        return {
            t: table_hash(snapshots.read_snapshot(self.b.spark, os.path.join(cdir, t)))
            for t in (corpus.DOCS_TABLE, corpus.FP_TABLE, corpus.LSH_TABLE)
        }


WORKLOADS = {w.name: w for w in (MedallionDaily, LlmNightly)}
