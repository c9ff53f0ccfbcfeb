"""SURVEY §6 measurement: containment-join candidate volume vs corpus
size.

q_dedup_containment's candidate set is the UNPRUNED Σ_gram df² (no
size-ratio residuals — any size ratio may qualify), the worst case of
the gram-join family. Σdf² is corpus-LINEAR while the gram space grows
with the corpus (real prose: most 3-grams are rare) and turns
corpus-QUADRATIC once the gram space saturates and per-gram df grows
with the corpus instead. The driver fixture is the saturated regime by
construction (word-soup text over a ~60-word vocabulary → a fixed,
fully-shared 3-gram space), so this probe MEASURES the quadratic
watchdog case directly: candidate pairs into the aggregate and wall,
first half vs full sf0.1 corpus (distinct docs — replicas would
measure duplication, a different axis). Measured growth ≈ docs² is the
expected saturated-regime signature, and exactly what the documented
high-df-gram cap exists to break.

Round 9 adds the CAPPED twin: the same half-vs-full growth for the
df≤DF_CAP-blocked candidate join (``containment_pairs(capped=True)``'s
candidate stage — the q_dedup_containment_blocked / q_training_mix_v2
default). In the saturated regime every gram's df grows with the
corpus, so the df-cap eventually excludes saturated grams entirely and
capped candidate growth must be SUB-quadratic (bounded by DF_CAP²·
|rare grams|) while the uncapped twin stays ≈ docs².

Usage: PYTHONPATH=. python scripts/measure_containment_scaling.py
"""

from __future__ import annotations

import json
import time

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from breweries_case_spark.io.reader import load_table, spread
from breweries_case_spark.session import get_session

SF_DIR = "/root/testdata/sf0.1"
ROUNDS = 3


def _grams(spark, half: bool):
    from breweries_case_spark.operators.dedup import _docs_with_gram_rows

    g = _docs_with_gram_rows(spread(load_table(spark, SF_DIR, "documents")))
    if half:
        n = load_table(spark, SF_DIR, "documents").count()
        g = g.filter(F.col("doc_id") < n // 2)
    return g.withColumn(
        "sz", F.count("*").over(Window.partitionBy("doc_id"))
    ).localCheckpoint()


def candidates(spark, half: bool):
    g = _grams(spark, half)
    a, b = g.alias("a"), g.alias("b")
    return a.join(
        b,
        (F.col("a.lang") == F.col("b.lang"))
        & (F.col("a.gram") == F.col("b.gram"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    )


def capped_candidates(spark, half: bool, cap: int | None = None):
    """The blocked tier's candidate stage: df≤cap semi-join, then the
    rare-gram self-join (distinct pairs — what feeds the verify join).
    ``cap=None`` uses the production DF_CAP; the probe also measures a
    MECHANISM cap (2 — r9's default) that bites at this corpus size,
    because the production cap is sized for recall (above typical dup
    cluster fan-out) and only starts excluding grams once per-gram df
    outgrows it (≈ DF_CAP/max_df× this corpus in the saturated
    regime)."""
    from breweries_case_spark.operators.dedup import DF_CAP

    g = _grams(spark, half)
    rare = (
        g.groupBy("lang", "gram")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") <= (DF_CAP if cap is None else cap))
        .select("lang", "gram")
    )
    gr = g.join(rare, ["lang", "gram"], "left_semi")
    a, b = gr.alias("a"), gr.alias("b")
    return (
        a.join(
            b,
            (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.gram") == F.col("b.gram"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .distinct()
    )


def main():
    spark = get_session(
        app_name="containment_scaling_probe",
        extra_configs={"spark.ui.showConsoleProgress": "false"},
    )
    out = {}
    for half, tag in ((True, "half"), (False, "full")):
        out[f"{tag}_docs"] = (
            _grams(spark, half).select("doc_id").distinct().count()
        )
        out[f"{tag}_candidate_pairs"] = candidates(spark, half).count()
        out[f"{tag}_capped_candidate_pairs"] = capped_candidates(
            spark, half
        ).count()
        out[f"{tag}_mechanism_capped_candidate_pairs"] = capped_candidates(
            spark, half, cap=2
        ).count()
        out[f"{tag}_max_gram_df"] = (
            _grams(spark, half)
            .groupBy("lang", "gram")
            .agg(F.count("*").alias("df"))
            .agg(F.max("df"))
            .collect()[0][0]
        )
        walls = []
        for _ in range(ROUNDS):
            from breweries_case_spark.operators.dedup import (
                CONTAINMENT_THRESHOLD,
            )

            t0 = time.perf_counter()
            g = _grams(spark, half)
            a, b = g.alias("a"), g.alias("b")
            inter = F.count("*")
            cont = (
                F.floor(
                    inter / F.least(F.col("a.sz"), F.col("b.sz")) * 1e6
                    + F.lit(0.5)
                )
                / 1e6
            )
            (
                a.join(
                    b,
                    (F.col("a.lang") == F.col("b.lang"))
                    & (F.col("a.gram") == F.col("b.gram"))
                    & (F.col("a.doc_id") < F.col("b.doc_id")),
                )
                .groupBy(
                    F.col("a.doc_id").alias("doc_a"),
                    F.col("b.doc_id").alias("doc_b"),
                    F.col("a.lang").alias("lang"),
                    F.col("a.sz").alias("sz_a"),
                    F.col("b.sz").alias("sz_b"),
                )
                .agg(cont.alias("containment"))
                .filter(F.col("containment") >= F.lit(CONTAINMENT_THRESHOLD))
                .write.format("noop")
                .mode("overwrite")
                .save()
            )
            walls.append(time.perf_counter() - t0)
        out[f"{tag}_wall_s"] = round(min(walls), 3)
    out["pair_growth"] = round(
        out["full_candidate_pairs"] / out["half_candidate_pairs"], 2
    )
    out["capped_pair_growth"] = round(
        out["full_capped_candidate_pairs"]
        / max(out["half_capped_candidate_pairs"], 1),
        2,
    )
    out["mechanism_capped_pair_growth"] = round(
        out["full_mechanism_capped_candidate_pairs"]
        / max(out["half_mechanism_capped_candidate_pairs"], 1),
        2,
    )
    out["docs_growth"] = round(out["full_docs"] / out["half_docs"], 2)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
