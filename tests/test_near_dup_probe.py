"""The two mechanisms every incremental near-dup family shares
(operators/dedup.py): ``probe_postings`` prunes the stored postings to a
shard's keys behind one size-gated checkpoint, and ``rare_postings`` is
the posting df cap. ``containment_pairs``' capped recount gates its id
broadcast the same way, on the count its checkpoint observed."""

from __future__ import annotations

import os

import pytest

from breweries_case_spark.operators import dedup

KEYS = ["band_idx", "band_hash"]


def _postings(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, band_idx int, band_hash long")


#: shard postings: doc 1 hits stored buckets (0, 7) and (1, 9); doc 2's
#: (0, 8) matches nothing stored; a repeated key must not duplicate hits
SHARD = [(1, 0, 7), (1, 1, 9), (2, 0, 8), (3, 0, 7)]
STORED = [(10, 0, 7), (11, 0, 7), (12, 1, 9), (13, 1, 7), (14, 2, 9), (15, 0, 6)]


def _rows(df) -> list[tuple]:
    """Sorted rows in posting column order (a semi-join on named keys
    puts the keys first)."""
    return sorted(map(tuple, df.select("doc_id", *KEYS).collect()))


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001


def test_probe_above_the_gate_shuffles_and_keeps_the_rows(spark, monkeypatch):
    """Forced above the size gate, the stored rows semi-join the shard's
    keys through a shuffle: no BroadcastExchange in the plan, and the
    same rows as the broadcast path (each stored row once, only the
    buckets the shard touches)."""
    # only the probe's own hint may broadcast
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    stored = _postings(spark, STORED)
    shard_mat, hits = dedup.probe_postings(_postings(spark, SHARD), stored, KEYS)
    assert _rows(shard_mat) == sorted(SHARD)
    want = [(10, 0, 7), (11, 0, 7), (12, 1, 9)]
    assert _rows(hits) == want
    assert "BroadcastExchange" in _plan(hits)

    monkeypatch.setattr(dedup, "_NEEDS_BROADCAST_MAX", -1)
    _, forced = dedup.probe_postings(_postings(spark, SHARD), stored, KEYS)
    assert _rows(forced) == want
    assert "BroadcastExchange" not in _plan(forced)


def test_probe_runs_one_job(spark):
    """The probe's only job is the shard checkpoint: the gate reads the
    count that checkpoint observed, and the semi-join stays lazy."""
    sc = spark.sparkContext
    shard, stored = _postings(spark, SHARD), _postings(spark, STORED)
    group = "probe-postings-jobs"
    sc.setJobGroup(group, "probe_postings job count")
    try:
        dedup.probe_postings(shard, stored, KEYS)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # noqa: SLF001
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1


def test_probe_without_stored_postings_only_materializes(spark):
    mat, hits = dedup.probe_postings(_postings(spark, SHARD), None, KEYS)
    assert hits is None
    assert mat.count() == len(SHARD)


@pytest.mark.parametrize("cap", [0, 1, 2, 3])
def test_rare_postings_group_by_and_window_agree(spark, cap):
    """Both df-cap forms keep exactly the postings whose bucket holds at
    most ``cap`` rows, with every column intact."""
    rows = [(d, d % 2, (d * 7) % 3) for d in range(12)] + [(99, 5, 5)]
    df = _postings(spark, rows)
    df_of = {}
    for _, b, h in rows:
        df_of[(b, h)] = df_of.get((b, h), 0) + 1
    want = sorted(r for r in rows if df_of[r[1:]] <= cap)
    grouped = dedup.rare_postings(df, KEYS, cap)
    windowed = dedup.rare_postings(df, KEYS, cap, by_window=True)
    assert sorted(grouped.columns) == sorted(windowed.columns) == sorted(df.columns)
    assert _rows(grouped) == _rows(windowed) == want


#: (doc_id, lang, gram): docs 1 and 2 share the rare grams a, b and the
#: hot gram h (df 3 > cap 2), so their pair takes the full recount
CONTAINMENT_GRAMS = [
    (1, "en", "a"), (1, "en", "b"), (1, "en", "h"),
    (2, "en", "a"), (2, "en", "b"), (2, "en", "h"),
    (3, "en", "h"), (3, "en", "x"),
]


def test_containment_recount_above_the_gate_shuffles(spark, monkeypatch):
    """Forced above the size gate, the capped recount prunes its posting
    sides to the needs-pair ids by shuffle semi-joins, with the same
    pairs as the broadcast path."""
    # only the recount's own hint may broadcast
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    grams = spark.createDataFrame(
        CONTAINMENT_GRAMS, "doc_id long, lang string, gram string"
    )
    want = [(1, 2, "en", 3, 3, 1.0)]

    def pairs():
        out = dedup.containment_pairs(grams, capped=True, df_cap=2)
        cols = ("doc_a", "doc_b", "lang", "sz_a", "sz_b", "containment")
        return sorted(map(tuple, out.select(*cols).collect())), _plan(out)

    rows, plan = pairs()
    assert rows == want and "BroadcastExchange" in plan
    monkeypatch.setattr(dedup, "_NEEDS_BROADCAST_MAX", -1)
    rows, plan = pairs()
    assert rows == want and "BroadcastExchange" not in plan


def test_containment_blocked_gate_costs_no_job(spark, sf_dir):
    """The recount's broadcast gate reads the row count the needs
    checkpoint observed, so no job exists only to count it (test
    profile, sf0.01)."""
    sc = spark.sparkContext
    group = "containment-blocked-jobs"
    sc.setJobGroup(group, "q_dedup_containment_blocked job count")
    try:
        rows = dedup.q_dedup_containment_blocked(
            spark, os.path.join(os.path.dirname(sf_dir), "sf0.01")
        ).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(rows) == 6
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # noqa: SLF001
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 20
