"""The incremental-maintainer core shared by the text, image and video
maintainers and the corpus pipeline: the Jaccard verify, the banded
Hamming probe, the contraction step and the state-advance step, each on
hand-built inputs (fast — the maintainers' end-to-end equivalence tests
are slow-marked)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


# ------------------------------------------------------------ jaccard verify


def _shingle_docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, lang string, sh array<long>")


def test_jaccard_edge_cases(spark):
    """0/0 scores 0.0, identical sets 1.0, and the ratio is rounded to 6
    places before any threshold."""
    from breweries_case_spark.operators.dedup import jaccard

    df = spark.createDataFrame(
        [
            (1, [], []),
            (2, [1, 2, 3], [3, 2, 1]),
            (3, [1], [1, 2, 3]),
            (4, [1, 2], [3]),
        ],
        "k int, a array<long>, b array<long>",
    )
    got = {r.k: r.j for r in df.select("k", jaccard("a", "b").alias("j")).collect()}
    assert got == {1: 0.0, 2: 1.0, 3: 0.333333, 4: 0.0}


def test_jaccard_verified_threshold_rounding_and_language(spark):
    """k/(2k+1) sits just under 0.5: for k = 500000 it rounds UP to 0.5
    at 6 places and the pair passes; for k = 100000 it rounds to
    0.499998 and the pair fails. Identical shingle sets in different
    languages never pair, and empty sets never clear the threshold."""
    from breweries_case_spark.operators.dedup import jaccard_verified

    # sh = [0, n): each pair's smaller set nests in the larger one
    docs = spark.createDataFrame(
        [(1, 500000), (2, 1000001), (3, 100000), (4, 200001)],
        "doc_id long, n long",
    ).select(
        "doc_id",
        F.lit("en").alias("lang"),
        F.sequence(F.lit(0).cast("long"), F.col("n") - 1).alias("sh"),
    )
    extra = _shingle_docs(
        spark,
        [
            (5, "en", [7, 8, 9]),
            (6, "de", [7, 8, 9]),
            (7, "en", []),
            (8, "en", []),
        ],
    )
    docs = docs.unionByName(extra)
    cands = spark.createDataFrame(
        [(1, 2), (3, 4), (5, 6), (7, 8)], "doc_a long, doc_b long"
    )
    got = sorted(map(tuple, jaccard_verified(cands, docs, docs).collect()))
    assert got == [(1, 2)]


def test_minhash_verified_pairs_reports_rounded_jaccard(spark):
    """The MinHash verify publishes the same rounded Jaccard column."""
    from breweries_case_spark.operators.dedup import minhash_verified_pairs

    docs = _shingle_docs(
        spark,
        [(1, "en", [1, 2, 3]), (2, "en", [1, 2, 3, 4]), (3, "en", [9])],
    )
    cands = spark.createDataFrame([(1, 2), (1, 3)], "doc_a long, doc_b long")
    got = [tuple(r) for r in minhash_verified_pairs(docs, cands).collect()]
    assert got == [(1, 2, 0.75)]


# ------------------------------------------------------- banded Hamming probe


def test_hamming_probe_pairs_only_distance_one_to_max(spark):
    """Shard hash vs corpus hashes at distance 0 (exact tier, excluded),
    1 and 3 (paired), and 4 bits over all four bands (beyond threshold)."""
    from breweries_case_spark.operators.multimodal import hamming_probe

    hi, lo = 0x12345678, 0x0BCDEF01
    sdist = spark.createDataFrame([(hi, lo)], "hash_hi long, hash_lo long")
    cdist = spark.createDataFrame(
        [
            (hi, lo),
            (hi ^ 1, lo),
            (hi ^ (1 << 20), lo ^ 0x10001),
            (hi ^ (1 << 20) ^ 1, lo ^ 0x10001),
        ],
        "hash_hi long, hash_lo long",
    )
    got = sorted(map(tuple, hamming_probe(sdist, cdist).collect()))
    assert got == sorted(
        [(hi, lo, hi ^ 1, lo), (hi, lo, hi ^ (1 << 20), lo ^ 0x10001)]
    )


# ------------------------------------------------------- contraction step


def _graph(spark):
    """Stored clusters labelled 10, 20, 30 (40 is never touched). Shard:
    101 → cluster 10; 102 bridges clusters 20 and 30; 104 chains into
    101 by an intra-shard edge; 103 and 107 have no edge, and 106's
    intra-shard edge with a null endpoint is no edge; 105–106 only pair
    with each other."""
    shard_ids = spark.createDataFrame(
        [(i,) for i in (101, 102, 103, 104, 105, 106, 107)], "node long"
    )
    e_corpus = spark.createDataFrame(
        [(101, 10), (102, 20), (102, 30)], "u long, v long"
    )
    e_shard = spark.createDataFrame(
        [(104, 101), (105, 106), (106, None)], "u long, v long"
    )
    return shard_ids, e_corpus, e_shard


#: the contraction step's tiers: driver union-find (also with Arrow
#: conversion off, as in a vanilla session) and star rounds above the gate
TIERS = ["driver", "cluster", "driver_no_arrow"]


@pytest.fixture(params=TIERS)
def update(request, spark, monkeypatch):
    """``maintain_clusters`` over ``_graph`` in one tier, asserting that
    this tier ran."""
    from breweries_case_spark.operators import dedup

    ran = []
    for name in ("_min_labels", "connected_components_star"):
        real = getattr(dedup, name)
        monkeypatch.setattr(
            dedup, name, lambda *a, _n=name, _f=real: ran.append(_n) or _f(*a)
        )
    if request.param == "cluster":
        monkeypatch.setattr(dedup, "_NEEDS_BROADCAST_MAX", -1)
    if request.param == "driver_no_arrow":
        key = "spark.sql.execution.arrow.pyspark.enabled"
        prior = spark.conf.get(key)
        spark.conf.set(key, "false")
        request.addfinalizer(lambda: spark.conf.set(key, prior))
    result = dedup.maintain_clusters(*_graph(spark))
    assert ran == [
        "connected_components_star" if request.param == "cluster" else "_min_labels"
    ]
    return result


def test_maintain_clusters_verdicts(update):
    out, comps, lab_nodes, _ = update
    assert out.columns == ["node", "cluster_id", "verdict"]
    assert {tuple(r) for r in out.collect()} == {
        (101, 10, "attached"),
        (102, 20, "merged"),
        (103, 103, "new"),
        (104, 10, "attached"),
        (105, 105, "new"),
        (106, 105, "new"),
        (107, 107, "new"),
    }
    assert {r.node for r in lab_nodes.collect()} == {10, 20, 30}
    labels = {r.node: r.label for r in comps.collect()}
    assert (labels[10], labels[20], labels[30]) == (10, 20, 20)


def test_advance_state_remaps_touched_labels_and_appends_shard(spark, update):
    from breweries_case_spark.operators.dedup import (
        advance_state,
        relabel,
        touched_remap,
    )

    want = {(10, 10), (20, 20), (30, 20)}
    assert {tuple(r) for r in update.remap.collect()} == want
    assert {
        tuple(r) for r in touched_remap(update.comps, update.lab_nodes).collect()
    } == want
    state = spark.createDataFrame(
        [(10, 10), (11, 10), (20, 20), (30, 30), (31, 30), (40, 40)],
        "node long, label long",
    )
    nxt = advance_state(
        state, update, update.out.select("node", F.col("cluster_id").alias("label"))
    )
    assert sorted(map(tuple, nxt.collect())) == [
        (10, 10), (11, 10), (20, 20), (30, 20), (31, 20), (40, 40),
        (101, 10), (102, 20), (103, 103), (104, 10), (105, 105), (106, 105),
        (107, 107),
    ]
    # relabel keeps every other column in place
    day = spark.createDataFrame(
        [(7, 30, "new"), (8, 40, "attached")], "id long, label long, verdict string"
    )
    assert [tuple(r) for r in relabel(day, update.remap).orderBy("id").collect()] == [
        (7, 20, "new"),
        (8, 40, "attached"),
    ]


# ------------------------------------------------------- maintainer chain


def test_cluster_chain_job_count(spark, sf_dir):
    """A chain day is one update-graph materialization solved on the
    driver, plus the probe's and the stored hash index's own
    materializations: an extra corpus ⋈ state pass or a Spark-side
    components or remap step adds jobs here (test profile, AQE off)."""
    from breweries_case_spark.operators.multimodal import q_dedup_cluster_chain

    sc = spark.sparkContext
    group = "cluster-chain-jobs"
    sc.setJobGroup(group, "q_dedup_cluster_chain job count")
    try:
        rows = q_dedup_cluster_chain(spark, sf_dir).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(rows) == 9
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # noqa: SLF001
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 48
