"""SURVEY §6 measurement: q_bpe_encode per-merge cost stays scan-bound.

The encode runs the ``bpe_train_rounds`` loop and publishes the final
stream. Claim: wall grows (sub-)linearly with the merge count k — each
round adds ONE scan of a SHRINKING checkpointed stream plus one
vocabulary-bounded pair-count exchange (measured bounded per round in
measure_bpe_train_rounds.py), and the final posexplode rides the last
checkpoint's scan stage. If any round re-derived earlier folds
(lineage blow-up) the wall would grow super-linearly in k. The loop
reads its round count from ``text.BPE_TRAIN_ROUNDS`` at call time, so
this script patches it per k.

Usage: PYTHONPATH=. python scripts/measure_bpe_encode.py
"""

from __future__ import annotations

import json
import time
from unittest import mock

from pyspark.sql import functions as F

from breweries_case_spark.functions import tokens
from breweries_case_spark.operators import text
from breweries_case_spark.session import get_session

SF_DIR = "/root/testdata/sf0.1"
REPEATS = 3


def encode_wall(spark, k: int) -> tuple[float, int]:
    walls = []
    n_final = 0
    for _ in range(REPEATS):
        t0 = time.perf_counter()
        d = spark.read.parquet(f"{SF_DIR}/documents.parquet")
        toks = tokens(F.col("text"), drop_empty=True)
        with mock.patch.object(text, "BPE_TRAIN_ROUNDS", k):
            rounds, _ = text.bpe_train_rounds(d.select("doc_id", toks.alias("t")))
        n_final = (
            rounds[-1].select(F.posexplode(F.col("t")).alias("pos0", "tok"))
            .count()
        )
        walls.append(time.perf_counter() - t0)
    return round(min(walls), 3), n_final


def main():
    spark = get_session(
        app_name="bpe_encode_probe",
        extra_configs={"spark.ui.showConsoleProgress": "false"},
    )
    out = {}
    for k in (1, 2, 4):
        wall, n_final = encode_wall(spark, k)
        out[f"k{k}_wall_s"] = wall
        out[f"k{k}_final_tokens"] = n_final
    out["wall_growth_k1_to_k4"] = round(
        out["k4_wall_s"] / out["k1_wall_s"], 2
    )
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
