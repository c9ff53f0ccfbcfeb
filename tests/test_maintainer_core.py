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


def _band_vals(h):
    """The 4×16-bit band values of a (hi, lo) hash, as ``_band_structs``."""
    hi, lo = h
    return [(hi >> 16) & 0xFFFF, hi & 0xFFFF, (lo >> 16) & 0xFFFF, lo & 0xFFFF]


def _ham(a, b):
    return bin(a[0] ^ b[0]).count("1") + bin(a[1] ^ b[1]).count("1")


def _planted_hashes():
    """(base, neighbours, hot): random 64-bit hashes as (hi, lo) halves;
    planted 1-, 2- and 3-bit neighbours of base hashes (a 1-bit
    neighbour shares three bands, so the band join meets it three
    times); and a hot band-0 bucket of 140 hashes, above BAND_DF_CAP in
    either half, whose last two are neighbours of its first two: one
    differs by a bit in each of bands 1–3, so it shares only the hot
    band and the cap drops it, the other differs in band 3 only and is
    found through bands 1 and 2."""
    import random

    rng = random.Random(7)
    r32 = lambda: rng.getrandbits(32)  # noqa: E731

    def flip(h, bits):
        hi, lo = h
        for b in bits:
            if b >= 32:
                hi ^= 1 << (b - 32)
            else:
                lo ^= 1 << b
        return hi, lo

    base = [(r32(), r32()) for _ in range(30)]
    near = [flip(h, rng.sample(range(64), 1 + i % 3)) for i, h in enumerate(base[:18])]
    near += [flip(base[0], [40, 41]), flip(base[1], [2, 3, 4])]  # within one band
    hot = [(0xABCD0000 | rng.getrandbits(16), r32()) for _ in range(138)]
    hot += [flip(hot[0], [32 + 3, 16 + 5, 7]), flip(hot[1], [9])]
    assert len(set(base + near + hot)) == len(base + near + hot)
    return base, near, hot


def _capped_near_pairs(hashes, cap):
    """Brute force: (a, b, hamming) for a < b at hamming 1..3 that share
    a band whose bucket holds ≤ ``cap`` of ``hashes``."""
    from collections import Counter

    df = Counter((j, v) for h in hashes for j, v in enumerate(_band_vals(h)))
    out = set()
    for a in hashes:
        for b in hashes:
            shared = [
                (j, v)
                for j, (v, w) in enumerate(zip(_band_vals(a), _band_vals(b)))
                if v == w
            ]
            if a < b and 1 <= _ham(a, b) <= 3 and any(df[k] <= cap for k in shared):
                out.add((a, b, _ham(a, b)))
    return out


def _record_tier(monkeypatch, cluster):
    """Record which components engine runs — driver union-find or, with
    ``cluster``, star rounds, forced by lowering the size gate below
    every frame (which also drops the probes' broadcast hints). Returns
    (the engines that ran, the one that should have)."""
    from breweries_case_spark.operators import dedup

    ran = []
    for name in ("_min_labels", "connected_components_star"):
        real = getattr(dedup, name)
        monkeypatch.setattr(
            dedup, name, lambda *a, _n=name, _f=real: ran.append(_n) or _f(*a)
        )
    if cluster:
        monkeypatch.setattr(dedup, "_NEEDS_BROADCAST_MAX", -1)
    return ran, "connected_components_star" if cluster else "_min_labels"


@pytest.fixture(params=["driver", "cluster"])
def tier(request, monkeypatch):
    return _record_tier(monkeypatch, request.param == "cluster")


def test_band_edges_equal_the_join_back_edges(spark, tier):
    """The graph edges read off band rows that carry ``rep`` equal the
    old hash-pair output joined back to the representatives, as sets,
    for both cap counts; ``hash_near_pairs`` keeps its exact distinct
    pairs; ``hash_index`` labels are the components of those edges."""
    from breweries_case_spark.operators.multimodal import (
        BAND_DF_CAP,
        _near_hash_edges,
        hash_index,
        hash_near_pairs,
    )

    ran, want = tier
    base, near, hot = _planted_hashes()
    hashes = base + near + hot
    rep = {h: 1000 + 7 * i for i, h in enumerate(hashes)}
    reps = spark.createDataFrame(
        [(hi, lo, rep[(hi, lo)]) for hi, lo in hashes],
        "hash_hi long, hash_lo long, rep long",
    )
    expected = _capped_near_pairs(hashes, BAND_DF_CAP)
    dropped = _capped_near_pairs(hashes, len(hashes)) - expected
    assert dropped == {(*sorted([hot[0], hot[-2]]), 3)}
    assert (*sorted([hot[1], hot[-1]]), 1) in expected
    pairs = hash_near_pairs(reps.select("hash_hi", "hash_lo")).collect()
    assert len(pairs) == len(expected)
    assert {((r.hi_a, r.lo_a), (r.hi_b, r.lo_b), r.hamming) for r in pairs} == expected

    def ends(ra, rb):
        return reps.select(
            F.col("hash_hi").alias(ra[0]), F.col("hash_lo").alias(ra[1]),
            F.col("rep").alias(rb),
        )

    joined_back = {
        tuple(r)
        for r in hash_near_pairs(reps.select("hash_hi", "hash_lo"))
        .join(ends(("hi_a", "lo_a"), "u"), ["hi_a", "lo_a"])
        .join(ends(("hi_b", "lo_b"), "v"), ["hi_b", "lo_b"])
        .select("u", "v")
        .collect()
    }
    assert joined_back == {(rep[a], rep[b]) for a, b, _ in expected}
    for by_window in (False, True):
        edges = _near_hash_edges(reps, by_window=by_window).select("rep_a", "rep_b")
        rows = [tuple(r) for r in edges.collect()]
        assert len(rows) > len(set(rows))  # pairs sharing several bands repeat
        assert set(rows) == joined_back

    parent = {r: r for r in rep.values()}

    def find(x):
        while parent[x] != x:
            x = parent[x]
        return x

    for u, v in joined_back:
        a, b = find(u), find(v)
        parent[max(a, b)] = min(a, b)
    media = reps.select(F.col("rep").alias("media_id"), "hash_hi", "hash_lo")
    got = {(r.hash_hi, r.hash_lo): r.label for r in hash_index(media).collect()}
    assert got == {h: find(rep[h]) for h in hashes}
    assert ran == [want]


def test_probe_contact_edges_equal_the_join_back_edges(spark, tier):
    """``hamming_probe`` fed the shard representatives (with ``rep``) and
    the stored index (with ``label``) gives the same (rep, label) contact
    edges as its hash-pair output joined back to both; the hot band-0
    bucket exceeds the cap on the index side too."""
    from breweries_case_spark.operators.dedup import maintain_clusters
    from breweries_case_spark.operators.multimodal import hamming_probe

    ran, want = tier
    base, near, hot = _planted_hashes()
    shard, index = near + hot[70:], base + hot[:70]
    sreps = spark.createDataFrame(
        [(hi, lo, 1 + 2 * i) for i, (hi, lo) in enumerate(shard)],
        "hash_hi long, hash_lo long, rep long",
    )
    idx = spark.createDataFrame(
        [(hi, lo, 10_000 + i // 3) for i, (hi, lo) in enumerate(index)],
        "hash_hi long, hash_lo long, label long",
    )
    carried = {
        tuple(r) for r in hamming_probe(sreps, idx).select("rep", "label").collect()
    }
    pairs = hamming_probe(
        sreps.select("hash_hi", "hash_lo"), idx.select("hash_hi", "hash_lo")
    )
    joined_back = {
        tuple(r)
        for r in pairs.join(sreps, ["hash_hi", "hash_lo"])
        .join(
            idx.select(
                F.col("hash_hi").alias("c_hi"), F.col("hash_lo").alias("c_lo"), "label"
            ),
            ["c_hi", "c_lo"],
        )
        .select("rep", "label")
        .collect()
    }
    assert carried == joined_back
    srep = {h: 1 + 2 * i for i, h in enumerate(shard)}
    hit = {u for u, _ in carried}
    assert srep[hot[-1]] in hit and srep[hot[-2]] not in hit
    assert len(hit) >= 10
    out = maintain_clusters(
        sreps.select(F.col("rep").alias("node")),
        spark.createDataFrame(sorted(carried), "u long, v long"),
        spark.createDataFrame([], "u long, v long"),
    ).out
    assert {r.node for r in out.filter(F.col("verdict") != "new").collect()} == {
        u for u, _ in carried
    }
    assert ran == [want]


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

    ran, want = _record_tier(monkeypatch, request.param == "cluster")
    if request.param == "driver_no_arrow":
        key = "spark.sql.execution.arrow.pyspark.enabled"
        prior = spark.conf.get(key)
        spark.conf.set(key, "false")
        request.addfinalizer(lambda: spark.conf.set(key, prior))
    result = dedup.maintain_clusters(*_graph(spark))
    assert ran == [want]
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
    driver, plus the probe's one checkpoint and the stored hash index's
    own materializations: an extra corpus ⋈ state pass, a join back from
    the band joins' hash pairs to the index or the representatives, a
    separate materialization of the probe's key set, or a Spark-side
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
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 34
