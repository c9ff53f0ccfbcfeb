"""The nightly corpus-update program: the composition a training-data
pipeline actually runs per delivered shard, wired onto the engine's own
primitives — quality gate and decontamination (operators/training_mix.py
stages 1-2), exact dedup within the shard AND against the accumulated
corpus (operators/dedup.py's incremental tier 1), and an ACID
partition-overwrite commit of both the accepted documents and their
fingerprint state (io/snapshots.py).

Design contract — the three properties a production corpus store needs:

- **Corpus-side work is O(shard)**: the corpus is never re-paired; the
  only corpus-scale touch is an equi-join of shard fingerprints against
  the stored fingerprint table (one shuffle of O(shard) probe rows
  against a bucketable state table). The near-dup tier composes the
  same way via `operators/dedup.py::q_dedup_incremental`'s LSH probe
  and is deliberately not repeated here.
- **Idempotent re-runs**: both the documents AND the fingerprint state
  are partitioned by ``shard_date`` and committed with
  partition-overwrite, and the dedup join reads fingerprints from every
  partition EXCEPT the one being written — so a crash-retry (or a
  backfill re-delivery) replaces the day's output wholesale and
  converges to the same corpus state instead of self-excluding or
  double-accumulating.
- **Snapshot isolation**: readers of the corpus see complete versions;
  a failed update leaves the previous snapshot intact (the snapshot
  log's O_EXCL commit contract).

Reference analog: the medallion daily-rerun contract
(`src/processors/breweries_bronze_processors.py:133,149-153`) applied
to corpus curation instead of brewery ingest."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from breweries_case_spark.io.snapshots import (
    _read_manifest,
    commit_delete_partitions,
    commit_overwrite_partitions,
    latest_version,
    read_snapshot,
)
from breweries_case_spark.operators.training_mix import (
    content_fingerprint,
    quality_mask,
)

#: snapshot tables inside a corpus directory
DOCS_TABLE = "docs"
FP_TABLE = "fingerprints"
#: persisted MinHash-LSH bucket state (doc_id, band_idx, band_hash) — the
#: probe target for the near-dup tier; O(docs × bands) rows, text-free
LSH_TABLE = "lsh_buckets"


def _quality_gate(shard: DataFrame) -> DataFrame:
    """The q_training_mix stage-1 gate, by shared expression — see
    training_mix.quality_mask."""
    return shard.filter(quality_mask())


def _decontaminate(shard: DataFrame, bench_grams: DataFrame) -> DataFrame:
    """Drop shard docs sharing any 3-gram with the benchmark set (the
    q_decontaminate contract; bench side is eval-suite-sized →
    broadcast)."""
    from breweries_case_spark.operators.text import _ngram_rows

    contaminated = (
        _ngram_rows(shard, 3)
        .join(F.broadcast(bench_grams.select("g").distinct()), "g", "left_semi")
        .select("doc_id")
        .distinct()
    )
    return shard.join(contaminated, "doc_id", "left_anti")


def _shingles(df: DataFrame) -> DataFrame:
    """(doc_id, lang, sh: array<long>) — the dedup module's hashed-shingle
    feature over an arbitrary documents frame (its sf_dir-based builders
    read the test table; this adapter runs the same expressions)."""
    from breweries_case_spark.operators.dedup import (
        _hashed_shingles_from_token_hashes,
        _norm_tokens,
    )

    base = df.select(
        "doc_id",
        "lang",
        F.transform(
            _norm_tokens(F.col("text")), lambda t: F.xxhash64(t)
        ).alias("th64"),
    )
    return _hashed_shingles_from_token_hashes(base)


def _banded(shingles: DataFrame) -> DataFrame:
    """(doc_id, band_idx, band_hash) LSH bucket rows."""
    from breweries_case_spark.operators.dedup import (
        _lsh_banded,
        minhash_signatures,
    )

    return _lsh_banded(minhash_signatures(shingles)).select(
        "doc_id", "band_idx", "band_hash"
    )


def _near_dup_shard_ids(
    spark: SparkSession,
    fresh: DataFrame,
    corpus_dir: str,
    shard_date: str,
) -> tuple[DataFrame, DataFrame]:
    """Near-dup tier: returns (shard doc_ids to DROP, the shard's banded
    bucket rows for state persistence).

    Flow — every stage O(shard) or O(candidates), never O(corpus):
    shard shingles → signatures → bands; broadcast the shard's tiny
    bucket-key set to semi-join the STORED bucket state (corpus rows
    sharing no bucket are pruned before any pair forms); exact-Jaccard
    verify only the candidates, reading corpus TEXT only for candidate
    docs (semi-join on the docs table). Within-shard near-dups resolve
    keep-min-doc_id over the same verified pair set."""
    from breweries_case_spark.operators.dedup import jaccard_verified

    sh_shard = _shingles(fresh).localCheckpoint()
    shard_banded = _banded(sh_shard).localCheckpoint()

    # --- within shard ---
    intra = (
        shard_banded.alias("x")
        .join(
            shard_banded.alias("y"),
            (F.col("x.band_idx") == F.col("y.band_idx"))
            & (F.col("x.band_hash") == F.col("y.band_hash"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(
            F.col("y.doc_id").alias("doc_a"), F.col("x.doc_id").alias("doc_b")
        )
        .distinct()
    )
    # doc_a > doc_b by construction: the LOWER id survives keep-min
    drop = jaccard_verified(intra, sh_shard, sh_shard)

    # --- vs corpus ---
    lsh_dir = os.path.join(corpus_dir, LSH_TABLE)
    if latest_version(lsh_dir) is not None:
        stored = read_snapshot(spark, lsh_dir).filter(
            F.col("shard_date") != shard_date
        )
        shard_buckets = shard_banded.select("band_idx", "band_hash").distinct()
        corpus_hits = stored.join(
            F.broadcast(shard_buckets), ["band_idx", "band_hash"], "left_semi"
        )
        cands = (
            shard_banded.withColumnRenamed("doc_id", "doc_a")
            .join(
                corpus_hits.withColumnRenamed("doc_id", "doc_b"),
                ["band_idx", "band_hash"],
            )
            .select("doc_a", "doc_b")
            .distinct()
        )
        cand_corpus_docs = read_snapshot(
            spark, os.path.join(corpus_dir, DOCS_TABLE)
        ).join(
            cands.select(F.col("doc_b").alias("doc_id")).distinct(),
            "doc_id",
            "left_semi",
        )
        drop = jaccard_verified(
            cands, sh_shard, _shingles(cand_corpus_docs)
        ).unionByName(drop)

    return drop.select(F.col("doc_a").alias("doc_id")).distinct(), shard_banded


def update_corpus(
    spark: SparkSession,
    shard: DataFrame,
    corpus_dir: str,
    shard_date: str,
    bench_grams: DataFrame | None = None,
    near_dedup: bool = False,
    persist_lsh_state: bool | None = None,
) -> dict:
    """Run one shard through gate → decontaminate → dedup (within-shard
    and vs corpus) → ACID commit. Returns per-stage counts (driver-side
    scalars — the run's audit record).

    ``shard`` must carry (doc_id, text, lang, source); ``shard_date`` is
    the idempotency key — re-running the same date replaces that
    partition in BOTH tables and converges to the same corpus state.

    ``persist_lsh_state`` (default: follows ``near_dedup``) writes the
    accepted docs' MinHash band buckets WITHOUT running the near-dup
    probe — the initial-backfill mode: a corpus-sized seed load must not
    pay the daily path's within-shard candidate join (that is the batch
    ``q_dedup_clusters_*`` job); it only needs to leave bucket state
    behind so subsequent daily shards can probe it."""
    docs_dir = os.path.join(corpus_dir, DOCS_TABLE)
    fp_dir = os.path.join(corpus_dir, FP_TABLE)

    n_in = shard.count()
    gated = _quality_gate(shard)
    if bench_grams is not None:
        gated = _decontaminate(gated, bench_grams)
    n_gated = gated.count()

    # within-shard exact dedup: keep-min doc_id per fingerprint
    with_fp = gated.withColumn("fp", content_fingerprint())
    w = Window.partitionBy("fp").orderBy("doc_id")
    shard_unique = (
        with_fp.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )

    # corpus-side dedup: anti-join the stored fingerprint state from
    # every OTHER shard_date partition (self-exclusion-free reruns)
    if latest_version(fp_dir) is not None:
        prior = read_snapshot(spark, fp_dir).filter(
            F.col("shard_date") != shard_date
        )
        fresh = shard_unique.join(
            prior.select("fp"), "fp", "left_anti"
        )
    else:
        fresh = shard_unique

    # near-dup tier (optional): MinHash-LSH probe of the persisted bucket
    # state + exact-Jaccard verify on candidates only; greedy
    # keep-min-doc_id within the shard (the q_dedup_incremental contract —
    # full transitive clustering is the batch q_dedup_clusters_* job)
    if persist_lsh_state is None:
        persist_lsh_state = near_dedup
    n_near_dropped = 0
    shard_banded = None
    if near_dedup:
        fresh = fresh.localCheckpoint()
        near_drop, shard_banded = _near_dup_shard_ids(
            spark, fresh, corpus_dir, shard_date
        )
        # tiny id set, consumed by the count AND the anti-join — cut the
        # probe/verify lineage so it runs once
        near_drop = near_drop.localCheckpoint()
        n_near_dropped = near_drop.count()
        fresh = fresh.join(near_drop, "doc_id", "left_anti")

    # materialize the accepted set ONCE: the counts and the 2-3 table
    # commits below would otherwise each re-run the full gate → dedup →
    # near-dup lineage (the probe joins are the expensive part)
    accepted = fresh.withColumn(
        "shard_date", F.lit(shard_date)
    ).localCheckpoint()
    n_accepted = accepted.count()

    def _commit(df, table_dir):
        """Overwrite the shard_date partition — including the
        zero-accepted case: an empty frame stages no partition dirs, so
        commit_overwrite_partitions alone would CARRY the stale
        partition forward; a redelivered shard whose docs now all fail
        must instead DELETE the day (the snapshot log's explicit-delete
        half of the overwrite contract)."""
        if n_accepted > 0:
            return commit_overwrite_partitions(df, table_dir, "shard_date")
        base = latest_version(table_dir)
        if base is not None and shard_date in _read_manifest(
            table_dir, base
        )["partitions"]:
            return commit_delete_partitions(table_dir, [shard_date])
        return base if base is not None else 0

    _commit(
        accepted.select("doc_id", "text", "lang", "source", "shard_date"),
        docs_dir,
    )
    v = _commit(accepted.select("fp", "doc_id", "shard_date"), fp_dir)
    if persist_lsh_state:
        # persist bucket state for ACCEPTED docs only (dropped docs must
        # not shadow future deliveries of the doc that displaced them)
        if shard_banded is None:
            shard_banded = _banded(_shingles(accepted))
        _commit(
            shard_banded.join(
                accepted.select("doc_id"), "doc_id", "left_semi"
            ).withColumn("shard_date", F.lit(shard_date)),
            os.path.join(corpus_dir, LSH_TABLE),
        )
    return {
        "shard_date": shard_date,
        "n_in": n_in,
        "n_after_gate": n_gated,
        "n_near_dropped": n_near_dropped,
        "n_accepted": n_accepted,
        "fingerprint_version": v,
    }


def read_corpus(spark: SparkSession, corpus_dir: str) -> DataFrame:
    """Latest committed corpus snapshot (all shard dates)."""
    return read_snapshot(spark, os.path.join(corpus_dir, DOCS_TABLE))
