"""r12 probe: candidate growth of the text MinHash-LSH blocker on a
DUP-HEAVY corpus — the r11 verdict's scale scenario (boilerplate /
mirror floods sharing every band bucket).

Builds a corpus from sf0.01 documents plus N_COPIES exact copies of
every COPY_MOD-th doc (exact-dup clusters of N_COPIES+1), then compares

- the r11 single-join formulation: band ALL docs, self-join buckets —
  an m-copy clique posts m rows into each of its band buckets, so the
  join emits ~m²/2 rows per band per clique (the Σdf² pathology);
- the r12 two-tier formulation (lsh_candidates): identical signatures
  collapse to one banded row, banding runs over DISTINCT signatures with
  a df cap, members expand back after the join.

Reported per formulation: max band-bucket df as seen by the self-join,
Σ C(df,2) (exact join output volume before distinct), and wall time of
candidates.count(). The candidate SETS are identical (verified by
count + exceptAll) — only the intermediate volume differs.

Run: PYTHONPATH=. python scripts/measure_lsh_cap.py
"""

from __future__ import annotations

import time

from pyspark.sql import functions as F

from breweries_case_spark.io.reader import load_table, spread
from breweries_case_spark.operators.dedup import (
    MINHASH_K,
    _docs_with_hashed_shingles,
    _lsh_banded,
    lsh_candidates,
    minhash_signatures,
)
from breweries_case_spark.session import get_test_session

SF_DIR = "/root/testdata/sf0.01"
N_COPIES = 20
COPY_MOD = 20  # every 20th doc gets flooded (~5% of the corpus)


def old_single_join(sigs):
    banded = _lsh_banded(sigs)
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


def main() -> None:
    spark = get_test_session("measure_lsh_cap")
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    base_max = docs.agg(F.max("doc_id")).first()[0] + 1
    copies = (
        docs.filter(F.col("doc_id") % COPY_MOD == 0)
        .crossJoin(spark.range(1, N_COPIES + 1).select(F.col("id").alias("k")))
        .withColumn("doc_id", F.col("doc_id") + F.col("k") * base_max)
        .drop("k")
    )
    heavy = docs.unionByName(copies)
    heavy.write.mode("overwrite").parquet("/tmp/lsh_cap_probe/documents.parquet")

    sh = _docs_with_hashed_shingles(
        spread(load_table(spark, "/tmp/lsh_cap_probe", "documents"))
    ).localCheckpoint()
    sigs = minhash_signatures(sh).localCheckpoint()
    n = sigs.count()

    for name, banded in (
        ("all-docs (r11)", _lsh_banded(sigs)),
        (
            "distinct-sig (r12)",
            _lsh_banded(
                sigs.select(*[f"mh{i}" for i in range(MINHASH_K)])
                .distinct()
                .withColumn("doc_id", F.monotonically_increasing_id())
            ),
        ),
    ):
        stats = (
            banded.groupBy("band_idx", "band_hash")
            .agg(F.count("*").alias("df"))
            .agg(
                F.max("df").alias("max_df"),
                F.sum(F.col("df") * (F.col("df") - 1) / 2).alias("sum_c2"),
            )
            .first()
        )
        print(
            f"banding[{name}]: docs={n} max_band_df={stats['max_df']} "
            f"sum_C(df,2)={int(stats['sum_c2'])}"
        )

    t0 = time.time()
    old = old_single_join(sigs).localCheckpoint()
    n_old = old.count()
    t_old = time.time() - t0
    t0 = time.time()
    new = lsh_candidates(sigs).localCheckpoint()
    n_new = new.count()
    t_new = time.time() - t0
    diff = new.exceptAll(old).count() + old.exceptAll(new).count()
    print(
        f"candidates: old={n_old} ({t_old:.2f}s)  new={n_new} ({t_new:.2f}s)  "
        f"set_diff={diff}"
    )
    spark.stop()


if __name__ == "__main__":
    main()
