"""SURVEY §6 measurement: q_bpe_train_k's per-ROUND shuffle claim.

measure_bpe_scaling.py proves the count step's exchange is bounded by
per-mapper vocabulary for the RAW stream (round 1). The training loop's
additional claim is that this holds at EVERY round — the merged stream
feeding round k has one more vocabulary symbol ("L R") and fewer
tokens, so its pair-partial exchange must stay vocabulary-bounded too.
Measured here for round 2: run round 1 as the loop does (the full
count, the winner, the guarded merge round), then count the distinct
(mapper partition, left, right) partial rows the next count step ships,
at 1× vs 4× corpus replicas (same vocabulary, 4× tokens).

Usage: PYTHONPATH=. python scripts/measure_bpe_train_rounds.py
"""

from __future__ import annotations

import json
import time

from pyspark.sql import functions as F

from breweries_case_spark.functions import tokens
from breweries_case_spark.operators.text import (
    BPE_TOPK,
    _bpe_adjacent_pairs,
    _bpe_merge_round,
    _bpe_pair_counts,
    _bpe_top,
)
from breweries_case_spark.session import get_session

SF_DIR = "/root/testdata/sf0.1"
ROUNDS = 3
REPLICAS = 4


def build_tokens(spark, replicas: int):
    """(doc_id, t) over the documents corpus, ``replicas`` copies."""
    d = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "text"
    )
    if replicas > 1:
        d = d.withColumn(
            "rep", F.explode(F.sequence(F.lit(1), F.lit(replicas)))
        ).select("doc_id", "text")
    toks = tokens(F.col("text"), drop_empty=True)
    return d.select("doc_id", toks.alias("t")).repartition(32).localCheckpoint()


def count_step(d):
    return _bpe_top(_bpe_pair_counts(d), BPE_TOPK)


def shuffled_partial_rows(d) -> int:
    """Distinct (mapper partition, left, right) partial rows."""
    return (
        d.select(
            F.spark_partition_id().alias("pid"),
            F.explode(_bpe_adjacent_pairs("t")).alias("p"),
        )
        .select("pid", "p.l", "p.r")
        .distinct()
        .count()
    )


def main() -> None:
    spark = get_session(
        app_name="bpe_train_rounds_probe",
        extra_configs={"spark.ui.showConsoleProgress": "false"},
    )
    out = {}
    streams = {}
    for rep in (1, REPLICAS):
        base = build_tokens(spark, rep)
        streams[rep] = _bpe_merge_round(base, _bpe_top(_bpe_pair_counts(base), 1))
    walls = {rep: [] for rep in streams}
    for _ in range(ROUNDS):
        for rep, d in streams.items():
            t0 = time.perf_counter()
            count_step(d).collect()
            walls[rep].append(time.perf_counter() - t0)
    for rep, d in streams.items():
        q = count_step(d)
        q.collect()
        plan = q._jdf.queryExecution().executedPlan().toString()
        assert "partial_count" in plan, plan[:2000]
        out[f"{rep}x"] = {
            "round2_tokens": int(
                d.select(F.sum(F.size("t")).alias("n")).collect()[0]["n"]
            ),
            "round2_partial_rows_into_exchange": shuffled_partial_rows(d),
            "best_wall_sec": round(min(walls[rep]), 3),
        }
    print(json.dumps(out, indent=1))


if __name__ == "__main__":
    main()
