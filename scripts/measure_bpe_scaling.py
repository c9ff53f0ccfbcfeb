"""SURVEY §6 measurement: the distributed BPE count step's scale claim —
wall grows ~linearly with the corpus while the SHUFFLE stays bounded by
per-mapper vocabulary (map-side partial counts collapse each mapper's
token stream to at most |local vocab|² pair partials before the
exchange).

Variants: the q_bpe_pair_counts plan (``_bpe_pair_counts`` →
``_bpe_top``) over the sf0.1 documents corpus at 1× and 4× (union of
offset replicas — same vocabulary, 4× the tokens, exactly the shape of a
growing corpus under a fixed tokenizer alphabet). Interleaved rounds,
per-variant minima; partial_count is asserted in the FINAL adaptive
plan; exchange input volume is measured semantically as the count of
distinct (partition, left, right) partial rows — the rows the partial
aggregate emits into the shuffle.

Usage: PYTHONPATH=. python scripts/measure_bpe_scaling.py
"""

from __future__ import annotations

import json
import time

from pyspark.sql import functions as F

from breweries_case_spark.functions import tokens
from breweries_case_spark.operators.text import (
    BPE_TOPK,
    _bpe_adjacent_pairs,
    _bpe_pair_counts,
    _bpe_top,
)
from breweries_case_spark.session import get_session

SF_DIR = "/root/testdata/sf0.1"
ROUNDS = 3
REPLICAS = 4


def build_tokens(spark, replicas: int):
    """(doc_id, t) over the documents corpus, ``replicas`` offset copies."""
    d = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "text"
    )
    if replicas > 1:
        d = d.withColumn(
            "rep", F.explode(F.sequence(F.lit(1), F.lit(replicas)))
        ).select(
            (F.col("doc_id") + F.col("rep") * F.lit(10_000_000)).alias("doc_id"),
            "text",
        )
    toks = tokens(F.col("text"), drop_empty=True)
    return d.select("doc_id", toks.alias("t")).repartition(32).localCheckpoint()


def run_variant(d) -> tuple[float, str]:
    q = _bpe_top(_bpe_pair_counts(d), BPE_TOPK)
    t0 = time.perf_counter()
    q.collect()
    wall = time.perf_counter() - t0
    return wall, q._jdf.queryExecution().executedPlan().toString()


def shuffled_partial_rows(d) -> int:
    """Rows the partial aggregate emits into the exchange: distinct
    (mapper partition, left, right) triples."""
    return (
        d.select(
            F.spark_partition_id().alias("pid"),
            F.explode(_bpe_adjacent_pairs("t")).alias("p"),
        )
        .select("pid", "p.l", "p.r")
        .distinct()
        .count()
    )


def main():
    spark = get_session(
        app_name="bpe_scaling_probe",
        extra_configs={"spark.ui.showConsoleProgress": "false"},
    )
    variants = {1: build_tokens(spark, 1), REPLICAS: build_tokens(spark, REPLICAS)}
    n_tokens = {
        k: d.select(F.sum(F.size("t")).alias("n")).collect()[0]["n"]
        for k, d in variants.items()
    }
    best = {k: float("inf") for k in variants}
    partial_marked = {}
    for _ in range(ROUNDS):
        for k, d in variants.items():
            wall, plan = run_variant(d)
            best[k] = min(best[k], wall)
            partial_marked[k] = "partial_count" in plan
    shuffled = {k: shuffled_partial_rows(d) for k, d in variants.items()}
    print(
        json.dumps(
            {
                "rounds": ROUNDS,
                "tokens": n_tokens,
                "best_sec": {k: round(t, 2) for k, t in best.items()},
                "partial_count_in_final_plan": partial_marked,
                "shuffled_partial_rows": shuffled,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
