"""The nightly corpus-update contract (pipelines/corpus.py): shard flow
through gate → decontaminate → within-shard and vs-corpus dedup → ACID
commit, with idempotent re-runs and O(shard) corpus-side work."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from breweries_case_spark.pipelines.corpus import (
    read_corpus,
    update_corpus,
)


def _shard(spark, rows):
    return spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    )


GOOD = "the quick brown fox jumps over the lazy dog again and again"
GOOD2 = "pack my box with five dozen liquor jugs before the dawn breaks"
SHORT = "too short"  # fails MIN_TOKENS
BENCH = "benchmark eval question about prime numbers and their gaps here"


def _ids(spark, corpus_dir):
    return {
        (r.shard_date, r.doc_id)
        for r in read_corpus(spark, corpus_dir).collect()
    }


def test_two_day_flow_dedups_against_corpus(spark, tmp_path):
    c = str(tmp_path / "corpus")
    day1 = _shard(
        spark,
        [(1, GOOD, "en", "web"), (2, GOOD2, "en", "web"), (3, SHORT, "en", "web")],
    )
    stats1 = update_corpus(spark, day1, c, "2026-08-01")
    # the short doc fails the gate; both good docs accepted
    assert (stats1["n_in"], stats1["n_after_gate"], stats1["n_accepted"]) == (3, 2, 2)
    assert _ids(spark, c) == {("2026-08-01", 1), ("2026-08-01", 2)}

    # day 2 redelivers GOOD (exact dup of doc 1, different id), a
    # within-shard dup pair, and one genuinely new doc
    new_text = "a completely new document with plenty of fresh tokens inside it"
    day2 = _shard(
        spark,
        [
            (10, GOOD, "en", "web"),       # corpus dup -> dropped
            (11, new_text, "en", "web"),   # new -> kept
            (12, new_text, "en", "web"),   # within-shard dup -> dropped
        ],
    )
    stats2 = update_corpus(spark, day2, c, "2026-08-02")
    assert stats2["n_accepted"] == 1
    assert _ids(spark, c) == {
        ("2026-08-01", 1),
        ("2026-08-01", 2),
        ("2026-08-02", 11),
    }


def test_rerun_is_idempotent_not_self_excluding(spark, tmp_path):
    """Re-running a shard date must converge to the SAME corpus state:
    the day's fingerprints must not exclude the day's own docs, and the
    partition is replaced, not appended."""
    c = str(tmp_path / "corpus")
    day = _shard(spark, [(1, GOOD, "en", "web"), (2, GOOD2, "en", "web")])
    update_corpus(spark, day, c, "2026-08-01")
    before = _ids(spark, c)
    stats = update_corpus(spark, day, c, "2026-08-01")  # crash-retry
    assert stats["n_accepted"] == 2  # NOT zero — no self-exclusion
    assert _ids(spark, c) == before
    # corpus row count did not double
    assert read_corpus(spark, c).count() == 2


NEAR1 = (
    "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu nu"
)
# one token edited at the end — shares nearly all 3-gram shingles (J >= 0.5)
NEAR1_EDIT = (
    "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu xi"
)
OTHER = (
    "completely different words about rivers mountains valleys oceans and storms"
)


def test_near_dedup_probes_stored_lsh_state(spark, tmp_path):
    """Day 2's near-duplicate of a day-1 doc is dropped by the LSH probe
    + Jaccard verify; a genuinely different doc passes; within-shard
    near-dup pairs resolve keep-min; re-running day 2 is idempotent."""
    c = str(tmp_path / "corpus")
    day1 = _shard(spark, [(1, NEAR1, "en", "web")])
    s1 = update_corpus(spark, day1, c, "2026-08-01", near_dedup=True)
    assert (s1["n_accepted"], s1["n_near_dropped"]) == (1, 0)

    day2 = _shard(
        spark,
        [
            (10, NEAR1_EDIT, "en", "web"),  # near-dup of corpus doc 1
            (11, OTHER, "en", "web"),       # new
            (12, OTHER + " extra", "en", "web"),  # near-dup of 11 (higher id)
        ],
    )
    s2 = update_corpus(spark, day2, c, "2026-08-02", near_dedup=True)
    assert s2["n_near_dropped"] == 2
    assert s2["n_accepted"] == 1
    assert _ids(spark, c) == {("2026-08-01", 1), ("2026-08-02", 11)}

    # crash-retry of day 2 converges to the same state
    s2b = update_corpus(spark, day2, c, "2026-08-02", near_dedup=True)
    assert s2b["n_accepted"] == 1
    assert _ids(spark, c) == {("2026-08-01", 1), ("2026-08-02", 11)}


def test_zero_accepted_rerun_deletes_stale_partition(spark, tmp_path):
    """Redelivering a shard whose docs now all fail must REPLACE the
    day's output with nothing — an empty overwrite would silently carry
    the stale partition (and its suppressing fingerprints) forward."""
    c = str(tmp_path / "corpus")
    update_corpus(
        spark, _shard(spark, [(1, GOOD, "en", "web")]), c, "2026-08-01"
    )
    update_corpus(
        spark, _shard(spark, [(2, GOOD2, "en", "web")]), c, "2026-08-02"
    )
    assert _ids(spark, c) == {("2026-08-01", 1), ("2026-08-02", 2)}

    # corrected redelivery of day 2: everything fails the gate
    stats = update_corpus(
        spark, _shard(spark, [(2, SHORT, "en", "web")]), c, "2026-08-02"
    )
    assert stats["n_accepted"] == 0
    assert _ids(spark, c) == {("2026-08-01", 1)}
    # the stale fingerprint no longer suppresses a future delivery
    s3 = update_corpus(
        spark, _shard(spark, [(9, GOOD2, "en", "web")]), c, "2026-08-03"
    )
    assert s3["n_accepted"] == 1
    assert _ids(spark, c) == {("2026-08-01", 1), ("2026-08-03", 9)}


def test_backfill_seeds_lsh_state_without_probing(spark, tmp_path):
    """persist_lsh_state=True with near_dedup=False is the backfill
    mode: no probe/intra work, but bucket state lands so the NEXT daily
    shard's near-dup probe works against the seed."""
    c = str(tmp_path / "corpus")
    seed = _shard(spark, [(1, NEAR1, "en", "web")])
    s0 = update_corpus(
        spark, seed, c, "2026-08-01", near_dedup=False, persist_lsh_state=True
    )
    assert (s0["n_accepted"], s0["n_near_dropped"]) == (1, 0)
    day = _shard(spark, [(10, NEAR1_EDIT, "en", "web")])
    s1 = update_corpus(spark, day, c, "2026-08-02", near_dedup=True)
    assert (s1["n_near_dropped"], s1["n_accepted"]) == (1, 0)
    assert _ids(spark, c) == {("2026-08-01", 1)}


def test_concurrent_shard_dates_both_land(spark, tmp_path):
    """Two updates for DIFFERENT shard dates racing on the same corpus:
    the snapshot log's optimistic retry must serialize them so both
    partitions land in both tables, whichever order the version races
    resolve."""
    import threading

    c = str(tmp_path / "corpus")
    update_corpus(
        spark, _shard(spark, [(1, GOOD, "en", "web")]), c, "2026-08-01"
    )
    errs = []

    def run(day, rows):
        try:
            update_corpus(spark, _shard(spark, rows), c, day)
        except Exception as e:  # surface in the main thread
            errs.append(e)

    t1 = threading.Thread(
        target=run, args=("2026-08-02", [(2, GOOD2, "en", "web")])
    )
    new_text = "entirely different prose with plenty of tokens to pass the gate"
    t2 = threading.Thread(
        target=run, args=("2026-08-03", [(3, new_text, "en", "web")])
    )
    t1.start(); t2.start(); t1.join(); t2.join()
    assert not errs, errs
    assert _ids(spark, c) == {
        ("2026-08-01", 1),
        ("2026-08-02", 2),
        ("2026-08-03", 3),
    }


def test_decontamination_drops_bench_overlap(spark, tmp_path):
    c = str(tmp_path / "corpus")
    bench_grams = (
        _shard(spark, [(99, BENCH, "en", "bench")])
        .select(
            F.explode(
                F.transform(
                    F.sequence(
                        F.lit(1),
                        F.size(F.split(F.lower(F.trim("text")), r"\s+")) - 2,
                    ),
                    lambda i: F.concat_ws(
                        " ",
                        F.split(F.lower(F.trim("text")), r"\s+")[i - 1],
                        F.split(F.lower(F.trim("text")), r"\s+")[i],
                        F.split(F.lower(F.trim("text")), r"\s+")[i + 1],
                    ),
                )
            ).alias("g")
        )
    )
    contaminated = (
        "this text quotes the benchmark eval question about prime numbers today"
    )
    day = _shard(
        spark,
        [(1, GOOD, "en", "web"), (2, contaminated, "en", "web")],
    )
    stats = update_corpus(spark, day, c, "2026-08-01", bench_grams=bench_grams)
    assert stats["n_accepted"] == 1
    assert _ids(spark, c) == {("2026-08-01", 1)}


CONTAMINATED = (
    "this text quotes the benchmark eval question about prime numbers today"
)


def _bench_grams(spark):
    return spark.createDataFrame([("about prime numbers",)], "g string")


def _seed_corpus(spark, c):
    """Day 1: GOOD (an exact-dup target) and NEAR1 (a near-dup target),
    with LSH state for the near-dup probe."""
    update_corpus(
        spark,
        _shard(spark, [(1, GOOD, "en", "web"), (2, NEAR1, "en", "web")]),
        c,
        "2026-08-01",
        near_dedup=True,
    )


def test_audit_counts_every_stage(spark, tmp_path):
    """One shard that hits every counter: a gate failure, a
    decontamination hit, a within-shard exact dup, a corpus exact dup, a
    near dup of a corpus doc and a within-shard near-dup pair."""
    c = str(tmp_path / "corpus")
    _seed_corpus(spark, c)
    day2 = _shard(
        spark,
        [
            (10, SHORT, "en", "web"),          # fails the gate
            (11, CONTAMINATED, "en", "web"),   # decontaminated
            (12, GOOD2, "en", "web"),          # kept
            (13, GOOD2, "en", "web"),          # within-shard exact dup of 12
            (14, GOOD, "en", "web"),           # exact dup of corpus doc 1
            (15, NEAR1_EDIT, "en", "web"),     # near dup of corpus doc 2
            (16, OTHER, "en", "web"),          # kept
            (17, OTHER + " extra", "en", "web"),  # within-shard near dup of 16
        ],
    )
    audit = update_corpus(
        spark, day2, c, "2026-08-02",
        bench_grams=_bench_grams(spark), near_dedup=True,
    )
    assert audit == {
        "shard_date": "2026-08-02",
        "n_in": 8,
        "n_after_gate": 6,
        "n_near_dropped": 2,
        "n_accepted": 2,
        "fingerprint_version": 2,
    }
    assert _ids(spark, c) == {
        ("2026-08-01", 1),
        ("2026-08-01", 2),
        ("2026-08-02", 12),
        ("2026-08-02", 16),
    }


@pytest.mark.parametrize("aqe", ["false", "true"], ids=["aqe_off", "aqe_on"])
def test_all_rejected_shard_counts_zero_and_deletes_partition(
    spark, tmp_path, aqe
):
    """A redelivered shard whose every doc is rejected completes with
    zero counts past the gate and deletes the day's stale partition; an
    empty shard reports all zeros. With AQE on (the production profile
    and a vanilla session), a stage that comes back empty is pruned from
    the reported plan, so this also pins where the audit observations
    sit."""
    key = "spark.sql.adaptive.enabled"
    prior = spark.conf.get(key)
    spark.conf.set(key, aqe)
    try:
        c = str(tmp_path / "corpus")
        _seed_corpus(spark, c)
        day2 = [(20, OTHER, "en", "web")]
        update_corpus(spark, _shard(spark, day2), c, "2026-08-02", near_dedup=True)
        assert _ids(spark, c) == {
            ("2026-08-01", 1), ("2026-08-01", 2), ("2026-08-02", 20)
        }
        redelivery = [(20, SHORT, "en", "web"), (21, CONTAMINATED, "en", "web")]
        audit = update_corpus(
            spark, _shard(spark, redelivery), c, "2026-08-02",
            bench_grams=_bench_grams(spark), near_dedup=True,
        )
        assert audit == {
            "shard_date": "2026-08-02",
            "n_in": 2,
            "n_after_gate": 0,
            "n_near_dropped": 0,
            "n_accepted": 0,
            "fingerprint_version": 3,
        }
        assert _ids(spark, c) == {("2026-08-01", 1), ("2026-08-01", 2)}
        empty = update_corpus(
            spark, _shard(spark, []), c, "2026-08-03",
            bench_grams=_bench_grams(spark), near_dedup=True,
        )
        assert empty == {
            "shard_date": "2026-08-03",
            "n_in": 0,
            "n_after_gate": 0,
            "n_near_dropped": 0,
            "n_accepted": 0,
            "fingerprint_version": 3,
        }
    finally:
        spark.conf.set(key, prior)


def _update_jobs(spark, group, *args, **kwargs):
    """(audit, jobs) of one ``update_corpus`` call under its own job
    group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, "update_corpus job count")
    try:
        audit = update_corpus(spark, *args, **kwargs)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # noqa: SLF001
    return audit, len(sc.statusTracker().getJobIdsForGroup(group))


def test_update_corpus_runs_no_count_jobs(spark, tmp_path):
    """A daily near-dedup update launches only its materializations and
    commits: the audit counts are observed, so an extra count() adds a
    job here."""
    c = str(tmp_path / "corpus")
    _seed_corpus(spark, c)
    day2 = _shard(
        spark,
        [(10, SHORT, "en", "web"), (11, GOOD2, "en", "web"), (12, NEAR1_EDIT, "en", "web")],
    )
    audit, jobs = _update_jobs(
        spark, f"corpus-jobs-{tmp_path.name}", day2, c, "2026-08-02",
        bench_grams=_bench_grams(spark), near_dedup=True,
    )
    assert (audit["n_in"], audit["n_after_gate"], audit["n_accepted"]) == (3, 2, 1)
    # test profile (AQE off): the contaminated-id broadcast, the fresh,
    # near-drop and accepted checkpoints with the near-dup probe's own
    # materializations (shingles, bands, candidate pairs) and broadcast
    # builds, and the docs / fingerprints / LSH commits; the state reads
    # infer no schema, and each count() would add a job
    assert jobs == 19


def test_update_corpus_jobs_do_not_grow_with_history(spark, tmp_path):
    """The fingerprint, bucket and candidate-doc reads scan every other
    day with the schema its manifest recorded, so a near-dedup update
    runs the same jobs after 1 and after 4 stored days (a read that
    inferred schemas paid one job per stored day and table)."""
    import random

    rng = random.Random(7)
    words = (
        "river stone cloud maple harbor lantern meadow copper violet summit"
        " anchor willow ember falcon garden quartz orchard canyon tundra"
        " beacon island forest desert valley glacier prairie marsh lagoon"
    ).split()
    jobs = {}
    for days in (1, 4):
        c = str(tmp_path / f"corpus{days}")
        for d in range(days):
            rows = [
                (10 * d + i, " ".join(rng.sample(words, 14)), "en", "web")
                for i in (1, 2)
            ]
            stats = update_corpus(
                spark, _shard(spark, rows), c, f"2026-07-{d + 1:02d}",
                near_dedup=True,
            )
            assert stats["n_accepted"] == 2
        day = _shard(spark, [(900, GOOD2, "en", "web"), (901, OTHER, "en", "web")])
        audit, jobs[days] = _update_jobs(
            spark, f"corpus-history-{tmp_path.name}-{days}", day, c,
            "2026-08-01", near_dedup=True,
        )
        assert audit["n_accepted"] == 2
    assert jobs[1] == jobs[4], jobs


@pytest.mark.parametrize(
    "other_day", [True, False], ids=["other_day_present", "other_day_absent"]
)
def test_update_after_rerun_deleted_a_state_partition(spark, tmp_path, other_day):
    """Once a zero-accepted rerun deleted a day, the next update reads
    the fingerprint and LSH state of the OTHER days only — also when the
    deleted day was the only one, which leaves the state tables with no
    partition at all (no state, not an error)."""
    c = str(tmp_path / "corpus")
    if other_day:
        update_corpus(
            spark, _shard(spark, [(1, OTHER, "en", "web")]), c, "2026-08-01",
            near_dedup=True,
        )
    update_corpus(
        spark, _shard(spark, [(2, GOOD, "en", "web")]), c, "2026-08-02",
        near_dedup=True,
    )
    rerun = update_corpus(
        spark, _shard(spark, [(2, SHORT, "en", "web")]), c, "2026-08-02",
        near_dedup=True,
    )
    assert rerun["n_accepted"] == 0
    day3 = [(3, GOOD, "en", "web"), (4, NEAR1, "en", "web")]
    s3 = update_corpus(spark, _shard(spark, day3), c, "2026-08-03", near_dedup=True)
    assert (s3["n_near_dropped"], s3["n_accepted"]) == (0, 2)
    want = {("2026-08-03", 3), ("2026-08-03", 4)}
    assert _ids(spark, c) == (want | {("2026-08-01", 1)} if other_day else want)


# REUSED_B shares an LSH bucket with REUSED_A at Jaccard ≈ 0.22, under
# the verify threshold: a candidate pair that must NOT be dropped
REUSED_A = (
    "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu nu xi"
    " omicron pi"
)
REUSED_B = (
    "harbor summit gamma delta epsilon zeta eta theta iota ember lambda river"
    " nu canyon falcon pi"
)


def test_retry_converges_when_a_shard_reuses_a_stored_doc_id(spark, tmp_path):
    """Day 2 delivers doc id 5, which day 1 already stored with other
    text. Its candidate pair against the stored doc 5 fails the verify,
    so the doc is accepted — and a crash-retry of day 2 must verify it
    against day 1's doc 5 again, not against its own copy the first run
    stored (Jaccard 1.0), which would drop it and delete the day."""
    from breweries_case_spark.operators.dedup import _docs_with_hashed_shingles
    from breweries_case_spark.pipelines.corpus import _banded

    pair = _shard(spark, [(1, REUSED_A, "en", "web"), (2, REUSED_B, "en", "web")])
    shared = (
        _banded(_docs_with_hashed_shingles(pair))
        .groupBy("band_idx", "band_hash")
        .count()
    )
    assert shared.filter("count > 1").count() > 0  # the pair is a candidate

    c = str(tmp_path / "corpus")
    day1 = _shard(spark, [(5, REUSED_A, "en", "web")])
    update_corpus(spark, day1, c, "2026-08-01", near_dedup=True)
    day2 = _shard(spark, [(5, REUSED_B, "en", "web")])
    keys = ("n_in", "n_after_gate", "n_near_dropped", "n_accepted")
    first = update_corpus(spark, day2, c, "2026-08-02", near_dedup=True)
    assert [first[k] for k in keys] == [1, 1, 0, 1]
    retry = update_corpus(spark, day2, c, "2026-08-02", near_dedup=True)
    assert [retry[k] for k in keys] == [1, 1, 0, 1]
    assert _ids(spark, c) == {("2026-08-01", 5), ("2026-08-02", 5)}


def test_update_corpus_above_the_probe_gate_matches_broadcast(
    spark, tmp_path, monkeypatch
):
    """The near-dup probe's bucket keys and the shard-sized id sets join
    as broadcasts only under the size gate; forced above it (a delivery
    too large to broadcast), those joins shuffle and the update gives
    the same audit and leaves the same docs, fingerprint and bucket
    tables."""
    import os

    from breweries_case_spark.io.snapshots import read_snapshot
    from breweries_case_spark.operators import dedup
    from breweries_case_spark.pipelines.corpus import DOCS_TABLE, FP_TABLE, LSH_TABLE

    probe = dedup.probe_postings
    hinted = []

    def spy(shard, stored, keys):
        mat, hits = probe(shard, stored, keys)
        if hits is not None:
            plan = hits._jdf.queryExecution().analyzed().toString()  # noqa: SLF001
            hinted.append("broadcast" in plan)
        return mat, hits

    monkeypatch.setattr(dedup, "probe_postings", spy)
    day2 = [
        (10, SHORT, "en", "web"),
        (11, GOOD2, "en", "web"),
        (12, NEAR1_EDIT, "en", "web"),
        (13, OTHER, "en", "web"),
    ]
    runs = {}
    for gate in (dedup._NEEDS_BROADCAST_MAX, -1):  # noqa: SLF001
        monkeypatch.setattr(dedup, "_NEEDS_BROADCAST_MAX", gate)
        c = str(tmp_path / f"corpus{gate}")
        _seed_corpus(spark, c)
        audit = update_corpus(
            spark, _shard(spark, day2), c, "2026-08-02",
            bench_grams=_bench_grams(spark), near_dedup=True,
        )
        tables = {
            t: sorted(map(tuple, read_snapshot(spark, os.path.join(c, t)).collect()))
            for t in (DOCS_TABLE, FP_TABLE, LSH_TABLE)
        }
        runs[gate] = (audit, tables)
    assert hinted == [True, False]
    (audit, tables), (forced_audit, forced_tables) = runs.values()
    assert audit == forced_audit
    assert audit["n_near_dropped"] == 1 and audit["n_accepted"] == 2
    assert tables == forced_tables
