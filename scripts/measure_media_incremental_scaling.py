"""SURVEY §6 measurement: incremental perceptual probe boundedness.

q_dedup_media_incremental's claim: corpus-side candidate work is
O(shard), not O(corpus) — the corpus band index is semi-joined by the
SHARD's band-key set (tiny, |shard distinct hashes| × 4 keys) before
any pair forms (``dedup.probe_postings``), and the touched buckets are
df-capped at BAND_DF_CAP (``dedup.rare_postings``). This
probe grows the corpus (sf0.1 image hashes at 1× and 8× doc_id-offset
replicas — a re-crawl / re-upload regime: new media ids landing in the
same bounded perceptual-hash space) while the shard stays fixed, and
measures the corpus rows that survive the probe into the verify join.
Expected: probe rows bounded by |shard band keys| × min(BAND_DF_CAP,
corpus distinct hashes per band) — saturating, not corpus-linear —
while raw corpus rows grow 8×.

Usage: PYTHONPATH=. python scripts/measure_media_incremental_scaling.py
"""

from __future__ import annotations

import json
import time

from pyspark.sql import functions as F

from breweries_case_spark.operators.dedup import probe_postings, rare_postings
from breweries_case_spark.operators.multimodal import (
    _BAND_KEYS,
    _HASH_KEYS,
    _MEDIA_SHARD_MOD,
    BAND_DF_CAP,
    _ahash_table,
    _bands,
)
from breweries_case_spark.session import get_session

SF_DIR = "/root/testdata/sf0.1"
ROUNDS = 3


def main():
    spark = get_session(
        app_name="media_incremental_probe",
        extra_configs={"spark.ui.showConsoleProgress": "false"},
    )
    base = _ahash_table(spark, SF_DIR).localCheckpoint()
    is_shard = F.col("media_id") % _MEDIA_SHARD_MOD == 0
    shard = base.filter(is_shard).localCheckpoint()
    sbands = _bands(shard.select(*_HASH_KEYS).distinct())
    out = {
        "shard_media": shard.count(),
        "shard_band_keys": sbands.select(*_BAND_KEYS).distinct().count(),
        "band_df_cap": BAND_DF_CAP,
    }
    for mult, tag in ((1, "corpus_1x"), (8, "corpus_8x")):
        reps = [
            base.filter(~is_shard).select(
                (F.col("media_id") + F.lit(i * 10_000_000)).alias(
                    "media_id"
                ),
                "hash_hi",
                "hash_lo",
            )
            for i in range(mult)
        ]
        corpus = reps[0]
        for r in reps[1:]:
            corpus = corpus.unionByName(r)
        corpus = corpus.localCheckpoint()
        # the hamming_probe prune: shard band keys semi-join the corpus
        # band postings, then the touched buckets are df-capped
        _, hits = probe_postings(
            sbands, _bands(corpus.select(*_HASH_KEYS).distinct()), _BAND_KEYS
        )
        probe = rare_postings(hits, _BAND_KEYS, BAND_DF_CAP, by_window=True)
        out[f"{tag}_rows"] = corpus.count()
        out[f"{tag}_probe_rows"] = probe.count()
        walls = []
        for _ in range(ROUNDS):
            t0 = time.perf_counter()
            probe.write.format("noop").mode("overwrite").save()
            walls.append(time.perf_counter() - t0)
        out[f"{tag}_probe_wall_s"] = round(min(walls), 3)
    out["rows_growth"] = round(
        out["corpus_8x_rows"] / out["corpus_1x_rows"], 2
    )
    out["probe_growth"] = round(
        out["corpus_8x_probe_rows"] / max(out["corpus_1x_probe_rows"], 1), 2
    )
    out["probe_bound"] = out["shard_band_keys"] * BAND_DF_CAP
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
