"""Measure the PPJoin-style prefix-filter Jaccard dedup vs the full
inverted-index form at sf0.1: wall time (interleaved rounds, per-variant
min) and candidate-pair volume posted into the verify/intersection join.

The 100 TB claim is the CANDIDATE reduction: the prefix posts only each
doc's (1-t)-fraction rarest grams, so the frequent-gram df^2 buckets that
dominate the full index's candidate sum never enter the join.
"""
import time

from pyspark.sql import SparkSession, functions as F
from pyspark.sql.window import Window

from breweries_case_spark.io.reader import load_table, spread
from breweries_case_spark.operators.dedup import (
    JACCARD_THRESHOLD,
    _docs_with_gram_rows,
    q_dedup_ngram_jaccard,
    q_dedup_prefix_filter,
)

SF_DIR = "/root/testdata/sf0.1"


def main():
    spark = (
        SparkSession.builder.master("local[32]")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.driver.memory", "16g")
        .appName("measure_prefix_filter")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    t = JACCARD_THRESHOLD
    grams = _docs_with_gram_rows(
        spread(load_table(spark, SF_DIR, "documents"))
    ).withColumn(
        "sz", F.count("*").over(Window.partitionBy("doc_id"))
    )
    df_tbl = grams.groupBy("lang", "gram").agg(F.count("*").alias("df"))
    # full inverted index candidates: sum over grams of C(df,2)
    full_cand = df_tbl.select(
        F.sum(F.col("df") * (F.col("df") - 1) / 2).alias("c")
    ).collect()[0]["c"]
    ranked = grams.join(df_tbl, ["lang", "gram"]).withColumn(
        "pos",
        F.row_number().over(Window.partitionBy("doc_id").orderBy("df", "gram")),
    )
    prefix = ranked.filter(
        F.col("pos") <= F.col("sz") - F.ceil(F.col("sz") * F.lit(t)) + F.lit(1)
    )
    pref_df = prefix.groupBy("lang", "gram").agg(F.count("*").alias("df"))
    pref_cand = pref_df.select(
        F.sum(F.col("df") * (F.col("df") - 1) / 2).alias("c")
    ).collect()[0]["c"]
    max_df = df_tbl.agg(F.max("df")).collect()[0][0]
    n_gram_rows = grams.count()
    n_pref_rows = prefix.count()
    print(
        f"gram rows {n_gram_rows} -> prefix rows {n_pref_rows} "
        f"({n_gram_rows / n_pref_rows:.1f}x fewer postings); max df {max_df}"
    )
    print(
        f"candidate pairs: full {int(full_cand)} -> prefix {int(pref_cand)} "
        f"({full_cand / max(pref_cand, 1):.1f}x reduction)"
    )

    best = {"full": float("inf"), "prefix": float("inf")}
    for rnd in range(3):
        for name, fn in [
            ("full", q_dedup_ngram_jaccard),
            ("prefix", q_dedup_prefix_filter),
        ]:
            t0 = time.monotonic()
            n = fn(spark, SF_DIR).count()
            dt = time.monotonic() - t0
            best[name] = min(best[name], dt)
            print(f"round {rnd} {name}: {dt:.2f}s ({n} pairs)")
    print(f"min full {best['full']:.2f}s  min prefix {best['prefix']:.2f}s")
    spark.stop()


if __name__ == "__main__":
    main()
