"""The nightly corpus-update program: the composition a training-data
pipeline actually runs per delivered shard, wired onto the engine's own
primitives — quality gate and decontamination (operators/training_mix.py
stages 1-2), exact dedup within the shard AND against the accumulated
corpus (operators/dedup.py's incremental tier 1), and an ACID
partition-overwrite commit of both the accepted documents and their
fingerprint state (io/snapshots.py).

Design contract — the three properties a production corpus store needs:

- **Corpus-side work is O(shard)**: the corpus is never re-paired. The
  exact tier anti-joins the shard's fingerprints with the stored
  fingerprint table. The near-dup tier (``near_dedup``) probes the
  stored MinHash-LSH bucket table once with the shard's bucket keys
  (``dedup.probe_postings``, the probe every incremental near-dup
  family shares), materializes the candidate pairs once, and verifies
  them in one exact-Jaccard join that reads corpus text only for
  candidate docs (``_near_dup_shard_ids``). Shard-sized key and id sets
  join as size-gated broadcasts: the bucket keys on the row count the
  probe's checkpoint observes, the id sets through
  ``dedup.broadcast_if_small``; above the gate each join shuffles.
- **Idempotent re-runs**: the documents, the fingerprint state and the
  bucket state are all partitioned by ``shard_date`` and committed with
  partition-overwrite, and every state read (fingerprints, buckets and
  candidate docs) covers every partition EXCEPT the one being written —
  so a crash-retry (or a backfill re-delivery) replaces the day's
  output wholesale and converges to the same corpus state instead of
  self-excluding or double-accumulating.
- **Snapshot isolation**: readers of the corpus see complete versions;
  a failed update leaves the previous snapshot intact (the snapshot
  log's O_EXCL commit contract).

Reference analog: the medallion daily-rerun contract
(`src/processors/breweries_bronze_processors.py:133,149-153`) applied
to corpus curation instead of brewery ingest."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F

from breweries_case_spark.io.snapshots import (
    commit_delete_partitions,
    commit_overwrite_partitions,
    read_other_partitions,
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


def _contaminated_ids(gated: DataFrame, bench_grams: DataFrame) -> DataFrame:
    """doc_ids of ``gated`` docs sharing any 3-gram with the benchmark set
    (the q_decontaminate contract; bench side is eval-suite-sized →
    broadcast, with no distinct: a semi-join's build side needs none)."""
    from breweries_case_spark.operators.text import _ngram_rows

    return (
        _ngram_rows(gated, 3)
        .join(F.broadcast(bench_grams.select("g")), "g", "left_semi")
        .select("doc_id")
        .distinct()
    )


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
    shard shingles → signatures → bands; ``dedup.probe_postings``
    materializes the shard's band rows once and semi-joins the STORED
    bucket state of every other day to their keys (a broadcast while the
    observed row count is under the size gate, a shuffle above it), so
    corpus rows sharing no bucket are pruned before any pair forms; the
    within-shard and vs-corpus (``dedup.shard_band_pairs``) candidate
    pairs are materialized once, as one shard-sized id set; one
    exact-Jaccard verify then checks them all, reading corpus TEXT only
    for candidate docs of other days. Its b side is tagged shard /
    stored, so a shard doc never verifies against a stored doc that
    reuses its id, or against its own earlier copy when a day is
    retried. Every pair has doc_a in the shard and doc_a > doc_b within
    it, so dropping each verified doc_a resolves within-shard near-dups
    keep-min."""
    from breweries_case_spark.operators.dedup import (
        LSH_BAND_KEYS,
        _docs_with_hashed_shingles,
        broadcast_if_small,
        jaccard_verified,
        probe_postings,
        shard_band_pairs,
    )

    sh_shard = _docs_with_hashed_shingles(fresh).localCheckpoint()
    stored = read_other_partitions(
        spark, os.path.join(corpus_dir, LSH_TABLE), [shard_date]
    )
    shard_banded, hits = probe_postings(_banded(sh_shard), stored, LSH_BAND_KEYS)

    pairs = (
        shard_banded.alias("x")
        .join(
            shard_banded.alias("y"),
            (F.col("x.band_idx") == F.col("y.band_idx"))
            & (F.col("x.band_hash") == F.col("y.band_hash"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(
            F.col("y.doc_id").alias("doc_a"),
            F.col("x.doc_id").alias("doc_b"),
            F.lit(False).alias("stored"),
        )
    )
    if hits is not None:
        pairs = pairs.unionByName(
            shard_band_pairs(shard_banded, hits).withColumn("stored", F.lit(True))
        )
    cands = broadcast_if_small(pairs.distinct())

    b_docs = sh_shard.withColumn("stored", F.lit(False))
    other_docs = (
        None
        if stored is None
        else read_other_partitions(
            spark, os.path.join(corpus_dir, DOCS_TABLE), [shard_date]
        )
    )
    if other_docs is not None:
        cand_docs = other_docs.join(
            cands.filter("stored").select(F.col("doc_b").alias("doc_id")),
            "doc_id",
            "left_semi",
        )
        b_docs = b_docs.unionByName(
            _docs_with_hashed_shingles(cand_docs).withColumn(
                "stored", F.lit(True)
            )
        )

    drop = jaccard_verified(cands, sh_shard, b_docs, b_tag="stored")
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
    scalars — the run's audit record), observed on the eager
    materializations the update runs anyway: no job exists only to count.

    ``shard`` must carry (doc_id, text, lang, source); ``shard_date`` is
    the idempotency key — re-running the same date replaces that
    partition in BOTH tables and converges to the same corpus state.

    ``persist_lsh_state`` (default: follows ``near_dedup``) writes the
    accepted docs' MinHash band buckets WITHOUT running the near-dup
    probe — the initial-backfill mode: a corpus-sized seed load must not
    pay the daily path's within-shard candidate join (that is the batch
    ``q_dedup_clusters_*`` job); it only needs to leave bucket state
    behind so subsequent daily shards can probe it."""
    from breweries_case_spark.operators.dedup import (
        _docs_with_hashed_shingles,
        broadcast_if_small,
    )

    docs_dir = os.path.join(corpus_dir, DOCS_TABLE)
    fp_dir = os.path.join(corpus_dir, FP_TABLE)

    # gate and decontaminate FLAG rows (_ok) instead of dropping them, so
    # every shard row reaches the within-shard dedup window and the audit
    # observation on its output. (Under AQE an observation inside a stage
    # that comes back empty is lost — an empty shard, or a gate that
    # rejects every doc, can empty one: AQE prunes the empty stage from
    # the plan whose metrics it reports.) The contaminated id set is
    # shard-sized, so it joins as a size-gated broadcast and the shard is
    # not shuffled for it.
    flagged = shard.withColumn("_ok", quality_mask())
    if bench_grams is not None:
        dirty = _contaminated_ids(shard.filter(quality_mask()), bench_grams)
        flagged = (
            flagged.join(
                broadcast_if_small(dirty.withColumn("_dirty", F.lit(True))),
                "doc_id",
                "left",
            )
            .withColumn("_ok", F.col("_ok") & F.col("_dirty").isNull())
            .drop("_dirty")
        )
    # rejected rows ride the dedup shuffle without their text
    flagged = flagged.withColumn("fp", content_fingerprint()).withColumn(
        "text", F.when(F.col("_ok"), F.col("text"))
    )

    # within-shard exact dedup: keep-min doc_id per fingerprint among the
    # docs that passed (they sort first)
    w = Window.partitionBy("fp").orderBy(F.col("_ok").desc(), "doc_id")
    audit = Observation()
    shard_unique = (
        flagged.withColumn("_rn", F.row_number().over(w))
        .observe(
            audit,
            F.count(F.lit(1)).alias("n_in"),
            F.count_if("_ok").alias("n_after_gate"),
        )
        .filter(F.col("_ok") & (F.col("_rn") == 1))
        .drop("_ok", "_rn")
    )

    # corpus-side dedup: anti-join the stored fingerprint state from
    # every OTHER shard_date partition (self-exclusion-free reruns)
    prior = read_other_partitions(spark, fp_dir, [shard_date])
    fresh = (
        shard_unique
        if prior is None
        else shard_unique.join(prior.select("fp"), "fp", "left_anti")
    )

    # near-dup tier (optional): MinHash-LSH probe of the persisted bucket
    # state + exact-Jaccard verify on candidates only; greedy
    # keep-min-doc_id within the shard (the q_dedup_incremental contract —
    # full transitive clustering is the batch q_dedup_clusters_* job)
    if persist_lsh_state is None:
        persist_lsh_state = near_dedup
    dropped = None
    near_drop = None
    if near_dedup:
        fresh = fresh.localCheckpoint()
        near_drop, shard_banded = _near_dup_shard_ids(
            spark, fresh, corpus_dir, shard_date
        )
        # shard-sized id set: materialized once (cutting the probe/verify
        # lineage) and counted in the same job; it joins as a size-gated
        # broadcast, here and in the LSH-state commit
        dropped = Observation()
        near_drop = broadcast_if_small(
            near_drop.observe(dropped, F.count(F.lit(1)).alias("n"))
        )
        fresh = fresh.join(near_drop, "doc_id", "left_anti")

    # materialize the accepted set ONCE, counting it in the same job: the
    # 2-3 table commits below would otherwise each re-run the full gate →
    # dedup → near-dup lineage (the probe joins are the expensive part).
    # Every observation above sits in the plan of this checkpoint or of an
    # earlier eager one, so all of them are filled by now.
    kept = Observation()
    accepted = (
        fresh.withColumn("shard_date", F.lit(shard_date))
        .observe(kept, F.count(F.lit(1)).alias("n"))
        .localCheckpoint()
    )
    n_accepted = kept.get["n"]

    def _commit(df, table_dir):
        """Replace the shard_date partition with ``df``. With no accepted
        docs the commit is a delete of the day (a redelivered shard whose
        docs now all fail leaves nothing behind), which skips writing an
        empty frame."""
        if n_accepted > 0:
            return commit_overwrite_partitions(
                df, table_dir, "shard_date", [shard_date]
            )
        return commit_delete_partitions(table_dir, [shard_date])

    _commit(
        accepted.select("doc_id", "text", "lang", "source", "shard_date"),
        docs_dir,
    )
    v = _commit(accepted.select("fp", "doc_id", "shard_date"), fp_dir)
    if persist_lsh_state:
        # persist bucket state for ACCEPTED docs only (near-dropped docs
        # must not shadow future deliveries of the doc that displaced
        # them); the backfill bands the accepted docs themselves
        accepted_banded = (
            _banded(_docs_with_hashed_shingles(accepted))
            if near_drop is None
            else shard_banded.join(near_drop, "doc_id", "left_anti")
        )
        _commit(
            accepted_banded.withColumn("shard_date", F.lit(shard_date)),
            os.path.join(corpus_dir, LSH_TABLE),
        )
    return {
        "shard_date": shard_date,
        **audit.get,
        "n_near_dropped": 0 if dropped is None else dropped.get["n"],
        "n_accepted": n_accepted,
        "fingerprint_version": v,
    }


def read_corpus(spark: SparkSession, corpus_dir: str) -> DataFrame:
    """Latest committed corpus snapshot (all shard dates)."""
    return read_snapshot(spark, os.path.join(corpus_dir, DOCS_TABLE))
