"""Profile q_dedup_levenshtein_bounded stage-by-stage at sf0.1.

Times each phase by materializing intermediates (count/collect), mirroring
the query's own structure, so we can see where the wall time goes.
Run: python scripts/profile_lev.py [sf_dir]
"""
import sys
import time

from pyspark.sql import SparkSession, functions as F

sys.path.insert(0, ".")
from breweries_case_spark.operators import dedup  # noqa: E402
from breweries_case_spark.io.reader import load_table, spread  # noqa: E402

sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"

spark = (
    SparkSession.builder.master("local[32]")
    .config("spark.sql.shuffle.partitions", "32")
    .config("spark.driver.memory", "16g")
    .appName("profile_lev")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")

# warm the JVM + scan cache with a trivial pass
load_table(spark, sf_dir, "documents").count()


def t(label, fn):
    t0 = time.monotonic()
    out = fn()
    dt = time.monotonic() - t0
    print(f"{label:<42s} {dt:7.2f} s")
    return out


print("--- stage-by-stage ---")
base = t("base = token hashes + localCheckpoint", lambda: dedup._docs_with_token_hashes(spread(load_table(spark, sf_dir, "documents"))).localCheckpoint())
sigs = t("minhash signatures + localCheckpoint", lambda: dedup.minhash_signatures(dedup._hashed_shingles_from_token_hashes(base)).localCheckpoint())
mh = dedup.lsh_candidates(sigs)
n_mh = t("lsh_candidates count", lambda: mh.count())
sh = dedup.simhash_pairs(dedup._simhash_signatures_from_token_hashes(base)).select("doc_a", "doc_b")
n_sh = t("simhash_pairs count", lambda: sh.count())
cands = mh.union(sh).distinct()
n_c = t("union.distinct count", lambda: cands.count())
print(f"  mh={n_mh} sh={n_sh} union_distinct={n_c}")

d = load_table(spark, sf_dir, "documents").select(
    "doc_id", "lang", "text", F.length("text").alias("len")
)
a = d.select(F.col("doc_id").alias("doc_a"), F.col("lang").alias("lang_a"), F.col("text").alias("text_a"), F.col("len").alias("len_a"))
b = d.select(F.col("doc_id").alias("doc_b"), F.col("lang").alias("lang_b"), F.col("text").alias("text_b"), F.col("len").alias("len_b"))
lev = F.levenshtein(F.col("text_a"), F.col("text_b"), dedup.EDIT_DISTANCE_MAX)
ver = (
    cands.join(a, "doc_a").join(b, "doc_b")
    .filter((F.col("lang_a") == F.col("lang_b")) & (F.abs(F.col("len_a") - F.col("len_b")) <= F.lit(dedup.EDIT_DISTANCE_MAX)) & (lev >= 0))
)
t("verify join count (on warm cands)", lambda: ver.count())

print("--- end-to-end (fresh, as benched) ---")
for i in range(3):
    t0 = time.monotonic()
    n = dedup.q_dedup_levenshtein_bounded(spark, sf_dir).count()
    print(f"e2e run {i}: {time.monotonic() - t0:7.2f} s rows={n}")

spark.stop()
