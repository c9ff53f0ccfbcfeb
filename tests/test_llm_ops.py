"""Semantics tests for the LLM-data operators: the probabilistic methods
(minhash, simhash, LSH-ANN) are pinned against their exact ground-truth
twins; multimodal plumbing is pinned on shape + determinism."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from breweries_case_spark.operators.dedup import (
    q_dedup_embedding,
    q_dedup_levenshtein,
    q_dedup_levenshtein_bounded,
    q_dedup_minhash,
    q_dedup_ngram_jaccard,
    q_dedup_simhash,
    simhash_signatures,
)
from breweries_case_spark.operators.multimodal import (
    _decode_real,
    build_media_table,
    extract_features,
)
from breweries_case_spark.operators.relational import q_approx_count_distinct
from breweries_case_spark.operators.similarity import q_sim_ann_lsh, q_sim_topk


def _pairset(df):
    return {(r[0], r[1]) for r in df.collect()}


def test_minhash_precision_against_exact(spark, sf_dir):
    """Minhash pairs restricted to same-lang must be a subset of the exact
    lang-blocked jaccard output (precision 1.0 — verification is exact);
    recall over the exact set should be high at this threshold/banding.
    (Minhash itself is NOT lang-blocked, so it may legitimately also find
    cross-lang pairs the blocked exact query never considers.)"""
    from breweries_case_spark.io.reader import load_table

    lang = {
        r.doc_id: r.lang
        for r in load_table(spark, sf_dir, "documents").select("doc_id", "lang").collect()
    }
    exact = _pairset(q_dedup_ngram_jaccard(spark, sf_dir).select("doc_a", "doc_b"))
    mh_all = _pairset(q_dedup_minhash(spark, sf_dir).select("doc_a", "doc_b"))
    mh_same_lang = {(a, b) for a, b in mh_all if lang[a] == lang[b]}
    assert mh_same_lang <= exact
    if exact:
        recall = len(mh_same_lang & exact) / len(exact)
        assert recall >= 0.8, f"minhash recall {recall} over {len(exact)} pairs"


def test_lsh_two_tier_matches_single_join_and_bounds_flood(spark, sf_dir):
    """r12 scale fix: ``lsh_candidates``' two-tier form (identical-signature
    collapse + df-capped distinct-signature banding) must

    (a) reproduce EXACTLY the r11 single-join candidate set when uncapped
        AND at the production cap (lossless on this data) — on the real
        corpus plus a synthetic 30-copy exact-dup flood;
    (b) collapse the flood to ONE banded row per signature: the max band
        df over DISTINCT signatures stays below the production cap even
        though 30 copies share every band bucket;
    (c) keep the flood's pairs in the candidate set at ANY cap — tier 1
        pairs identical signatures before banding, so even band_df_cap=0
        (no tier-2 buckets at all) retains all C(30,2) within-flood pairs.
    """
    from breweries_case_spark.operators.dedup import (
        LSH_BAND_DF_CAP,
        MINHASH_K,
        _docs_with_hashed_shingles,
        _lsh_banded,
        lsh_candidates,
        minhash_signatures,
    )
    from breweries_case_spark.io.reader import load_table, spread

    sh = _docs_with_hashed_shingles(spread(load_table(spark, sf_dir, "documents")))
    # synthetic mirror flood: 30 extra copies of the largest-id doc's
    # shingle set, ids above the real corpus
    top = sh.orderBy(F.col("doc_id").desc()).limit(1)
    flood = top.crossJoin(
        spark.range(1, 31).select((F.col("id") + 10_000_000).alias("new_id"))
    ).select(F.col("new_id").alias("doc_id"), "lang", "sh")
    docs = sh.unionByName(flood).localCheckpoint()
    sigs = minhash_signatures(docs).localCheckpoint()

    banded = _lsh_banded(sigs)
    a, b = banded.alias("a"), banded.alias("b")
    single = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    want = _pairset(single)
    assert _pairset(lsh_candidates(sigs, band_df_cap=1 << 62)) == want  # (a)
    assert _pairset(lsh_candidates(sigs)) == want  # production cap lossless

    mh_cols = [f"mh{i}" for i in range(MINHASH_K)]
    dist = sigs.select(*mh_cols).distinct().withColumn(
        "doc_id", F.monotonically_increasing_id()
    )
    max_df = (
        _lsh_banded(dist)
        .groupBy("band_idx", "band_hash")
        .count()
        .agg(F.max("count"))
        .first()[0]
    )
    assert max_df <= LSH_BAND_DF_CAP  # (b)

    flood_ids = {r.doc_id for r in flood.select("doc_id").collect()}
    zero_cap = _pairset(lsh_candidates(sigs, band_df_cap=0))
    flood_pairs = {
        (x, y) for x in flood_ids for y in flood_ids if x < y
    }
    assert flood_pairs <= zero_cap  # (c)


def test_levenshtein_bounded_equals_exact(spark, sf_dir):
    """The candidate-verified (minhash ∪ simhash) form must reproduce the
    exact length-bin-blocked output row for row — the blockers are
    deterministic, so this is a hard equality, not a recall bound.
    (Also verified by hand at sf0.01 and sf0.1: 6 and 79 pairs, equal.)"""
    exact = sorted(tuple(r) for r in q_dedup_levenshtein(spark, sf_dir).collect())
    bounded = sorted(
        tuple(r) for r in q_dedup_levenshtein_bounded(spark, sf_dir).collect()
    )
    assert exact == bounded


def test_incremental_probe_corpus_work_is_shard_bounded(spark, sf_dir):
    """The incremental dedup near tier must touch only the corpus rows that
    collide with a SHARD bucket — corpus-side candidate work is O(shard),
    not O(corpus). Pinned two ways on ``probe_postings``, the probe every
    incremental near-dup family runs: (a) the probed corpus doc set is a
    small fraction of the corpus; (b) halving the shard at least halves
    the probed set's upper-bound structure (probe keys come only from
    shard buckets, so fewer shard docs can only shrink the probe)."""
    from breweries_case_spark.operators.dedup import (
        _SHARD_MOD,
        LSH_BAND_KEYS,
        _docs_with_hashed_shingles,
        _lsh_banded,
        minhash_signatures,
        probe_postings,
        q_dedup_incremental,
    )
    from breweries_case_spark.io.reader import load_table, spread

    sh_docs = _docs_with_hashed_shingles(
        spread(load_table(spark, sf_dir, "documents"))
    ).localCheckpoint()
    banded = _lsh_banded(minhash_signatures(sh_docs)).localCheckpoint()
    is_shard = F.col("doc_id") % _SHARD_MOD == 0

    def probed_docs(shard) -> int:
        _, hits = probe_postings(
            banded.filter(shard), banded.filter(~is_shard), LSH_BAND_KEYS
        )
        return hits.select("doc_id").distinct().count()

    n_docs = load_table(spark, sf_dir, "documents").count()
    n_corpus = n_docs - (n_docs + _SHARD_MOD - 1) // _SHARD_MOD
    probed = probed_docs(is_shard)
    # (a) probed corpus docs ≪ corpus — bucket collisions track the
    # near-dup rate, not corpus size
    assert probed <= 0.2 * n_corpus, f"probed {probed} of {n_corpus} corpus docs"

    # (b) probe keys derive only from shard buckets: a half-shard probe
    # against the SAME corpus is a subset of the full-shard one
    half_probed = probed_docs(F.col("doc_id") % (2 * _SHARD_MOD) == 0)
    assert half_probed <= probed

    # output contract: one verdict row per shard doc
    out = q_dedup_incremental(spark, sf_dir)
    shard_n = load_table(spark, sf_dir, "documents").filter(is_shard).count()
    assert out.count() == shard_n
    assert out.columns == ["doc_id", "lang", "verdict", "dup_of"]


def test_simhash_identical_docs_distance_zero(spark, sf_dir):
    sigs = simhash_signatures(spark, sf_dir)
    # deterministic: same text → same signature. Self-join a sampled sig
    # against itself to assert xor==0.
    one = sigs.limit(5).collect()
    again = {r.doc_id: r.simhash for r in sigs.limit(5).collect()}
    for r in one:
        assert again[r.doc_id] == r.simhash
    # pairs output runs and has the declared columns
    out = q_dedup_simhash(spark, sf_dir)
    assert out.columns == ["doc_a", "doc_b", "hamming"]
    assert out.filter(F.col("hamming") > 6).count() == 0


def test_ann_bucket_contract(spark, sf_dir):
    """Deterministic ANN contract: every returned vector lives in a probed
    bucket (Hamming ≤ 2 from the query's bucket), and the candidate set is
    a strict subset of the table (it IS approximate, not a full scan).
    The synthetic embeddings are near-uniform (max cosine ≈ 0.45) so
    recall-of-near-duplicates is not testable on this data; score
    correctness is pinned by test_ann_results_are_exact_cosines."""
    from breweries_case_spark.operators.similarity import (
        _hyperplanes,
        _query_vector,
        ann_topk,
    )

    qv = _query_vector(spark, sf_dir, 0)

    def bucket(v):
        x = 0
        for i, pl in enumerate(_hyperplanes()):
            if sum(a * b for a, b in zip(v, pl)) >= 0:
                x |= 1 << i
        return x

    qb = bucket(qv)
    res = ann_topk(spark, sf_dir, query_vec_id=0).collect()
    assert 0 < len(res) <= 10
    for r in res:
        rb = bucket(_query_vector(spark, sf_dir, r.vec_id))
        assert bin(qb ^ rb).count("1") <= 2, (r.vec_id, bin(qb ^ rb))


def test_ann_results_are_exact_cosines(spark, sf_dir):
    """ANN scores are true cosines: every ANN hit must match the score the
    exact query assigns (ANN trades recall, never correctness of scores)."""
    exact = {r.vec_id: r.cosine for r in q_sim_topk(spark, sf_dir, ).collect()}
    for r in q_sim_ann_lsh(spark, sf_dir).collect():
        if r.vec_id in exact:
            assert r.cosine == exact[r.vec_id]


def test_embedding_dedup_threshold(spark, sf_dir):
    from breweries_case_spark.operators.dedup import COSINE_THRESHOLD

    out = q_dedup_embedding(spark, sf_dir)
    assert out.count() > 0  # threshold tuned to where this data has pairs
    assert out.filter(F.col("cosine") < COSINE_THRESHOLD).count() == 0


def test_wav_bmp_codecs_round_trip():
    """The stdlib codecs must be real inverses: encode → decode recovers
    the exact samples/pixels (including chunk walking, padding, and
    bottom-up row order)."""
    from breweries_case_spark.operators.multimodal import (
        make_bmp,
        make_wav,
        parse_bmp,
        parse_wav,
    )

    samples = [0, 1000, -1000, 32767, -32768, 7]  # even count
    rate, got = parse_wav(make_wav(samples, 8000))
    assert (rate, got) == (8000, samples)
    samples = [5, -5, 123]  # odd data size exercises word-align padding
    rate, got = parse_wav(make_wav(samples))
    assert (rate, got) == (16000, samples)

    def px(x, y):
        return ((x * 31) % 256, (y * 57) % 256, (x * y) % 256)

    w, h, pixels = parse_bmp(make_bmp(5, 3, px))  # width 5 → 1-byte row pad
    assert (w, h) == (5, 3)
    assert pixels == [px(x, y) for y in range(3) for x in range(5)]


def test_ivf_container_round_trip():
    """The IVF muxer/demuxer must be real inverses: header fields,
    per-frame size/PTS walking, truncation rejection."""
    from breweries_case_spark.operators.multimodal import make_ivf, parse_ivf

    frames = [(0, b"alpha"), (250, b"bee"), (1000, b"c" * 300)]
    blob = make_ivf(frames, 320, 240)
    w, h, got = parse_ivf(blob)
    assert (w, h) == (320, 240)
    assert got == frames
    assert parse_ivf(make_ivf([], 8, 8)) == (8, 8, [])
    with pytest.raises(ValueError):
        parse_ivf(b"nope")
    with pytest.raises(ValueError):
        parse_ivf(blob[:-1])  # truncated last payload


def test_multimodal_real_frame_sampling(spark, sf_dir):
    """Real IVF frame sampling: one frame per 500 ms bucket over the
    synthesized 0/250/500/750 ms streams → PTS 0 and 500 exactly, and
    every emitted payload must itself parse as the synthesized 8×8 BMP
    for that (doc, PTS)."""
    from breweries_case_spark.operators.multimodal import (
        parse_bmp,
        q_multimodal_frames_real,
    )

    rows = q_multimodal_frames_real(spark, sf_dir).collect()
    assert rows
    by_media = {}
    for r in rows:
        by_media.setdefault(r.media_id, []).append(r)
    for mid, rs in by_media.items():
        assert sorted(r.frame_ms for r in rs) == [0, 500]
        assert sorted(r.frame_idx for r in rs) == [0, 1]
        for r in rs:
            w, h, px = parse_bmp(bytes(r.frame))
            assert (w, h) == (8, 8)
            s, k = mid, r.frame_ms
            assert px[0] == ((s + k) % 256, s % 256, (s + k) % 256)


def test_multimodal_real_decode_features(spark, sf_dir):
    """End-to-end real decode: synthesized WAV/BMP binaries through the
    Arrow pipeline must yield the generator's closed-form features."""
    from breweries_case_spark.operators.multimodal import q_multimodal_decode

    rows = {r.media_id: r for r in q_multimodal_decode(spark, sf_dir).collect()}
    assert rows, "no decoded media"
    from breweries_case_spark.io.reader import load_table

    nchars = {
        r.doc_id: r.n_chars
        for r in load_table(spark, sf_dir, "documents")
        .select("doc_id", "n_chars")
        .collect()
    }
    for mid, r in rows.items():
        if r.modality == "audio":
            period = mid % 50 + 2
            n = min(nchars[mid], 400)
            samples = [((i % period) * 1200 - period * 600) for i in range(n)]
            assert r.f0 == float(n)
            assert r.f1 == 16000.0
            exp_mean = sum(abs(s) for s in samples) / n if n else 0.0
            assert abs(r.f2 - exp_mean) < 1e-9
        elif r.modality == "image":
            assert r.f0 == 8.0 and r.f1 == 8.0
        else:
            assert r.modality == "video"
            # 4 frames at 0/250/500/750 ms, 8x8
            assert (r.f0, r.f1, r.f2, r.f3) == (4.0, 750.0, 8.0, 8.0)


def test_multimodal_real_resize_round_trips(spark, sf_dir):
    """Real BMP resize output must itself parse as a 32×32 BMP."""
    from breweries_case_spark.operators.multimodal import (
        parse_bmp,
        q_multimodal_resize_real,
    )

    out = q_multimodal_resize_real(spark, sf_dir).limit(5).collect()
    assert out
    for r in out:
        w, h, px = parse_bmp(bytes(r.resized))
        assert (w, h) == (32, 32) and len(px) == 32 * 32


def test_multimodal_feature_contract(spark, sf_dir):
    media = build_media_table(spark, sf_dir)
    feats = extract_features(media)
    row = feats.orderBy("media_id").first()
    assert row.n_bytes > 0
    assert len(row.features) == 4
    assert row.features[0] == float(row.n_bytes)
    # deterministic across runs
    again = extract_features(media).orderBy("media_id").first()
    assert again.features == row.features
    # real decode path is stubbed with a clear error
    with pytest.raises(NotImplementedError):
        _decode_real(b"xx", "image")


def test_multimodal_meta_prunes_binary(spark, sf_dir):
    from breweries_case_spark.operators.multimodal import q_multimodal_meta

    plan = q_multimodal_meta(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    # metadata query must not read the text payload column beyond what it
    # aggregates; it reads text only to compute byte length pre-encode —
    # accept either, but the query must run and group to 3 modalities
    assert q_multimodal_meta(spark, sf_dir).count() == 3
    assert plan  # plan materializes


def test_approx_count_distinct_bound(spark, sf_dir):
    """The query's hashed contract: exact_parts matches an independent
    exact computation and the HLL estimate sits inside the 5% band (the
    within_5pct flag the oracle asserts is literally TRUE)."""
    from breweries_case_spark.io.reader import load_table

    got = {
        r.l_returnflag: (r.exact_parts, r.within_5pct)
        for r in q_approx_count_distinct(spark, sf_dir).collect()
    }
    exact = {
        r.l_returnflag: r.exact
        for r in load_table(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(F.countDistinct("l_partkey").alias("exact"))
        .collect()
    }
    for k, v in exact.items():
        assert got[k] == (v, True), (k, got[k], v)


def test_multimodal_resize_shapes(spark, sf_dir):
    from breweries_case_spark.operators.multimodal import q_multimodal_resize

    rows = q_multimodal_resize(spark, sf_dir).limit(20).collect()
    assert rows, "image-modality media must exist"
    # ASCII payload ⇒ string length == byte length of the resized buffer
    assert all(len(r.resized_text) == r.width * r.height == 1024 for r in rows)


def test_multimodal_frame_sampling_cardinality(spark, sf_dir):
    """1→N: every video yields duration_ms // 1000 frames (min 1), frames
    indexed from 0 with 1000 ms spacing."""
    import pyspark.sql.functions as F

    from breweries_case_spark.operators.multimodal import (
        build_media_table,
        q_multimodal_frames,
    )

    frames = q_multimodal_frames(spark, sf_dir)
    per_video = {
        r.media_id: r.n
        for r in frames.groupBy("media_id").agg(F.count("*").alias("n")).collect()
    }
    videos = {
        r.media_id: r["meta"]["duration_ms"]
        for r in build_media_table(spark, sf_dir)
        .filter(F.col("modality") == "video")
        .select("media_id", "meta")
        .collect()
    }
    assert set(per_video) == set(videos)
    for mid, dur in videos.items():
        assert per_video[mid] == max(1, dur // 1000)
    sample = frames.filter(F.col("media_id") == min(videos)).orderBy("frame_idx").collect()
    assert [r.frame_ms for r in sample] == [i * 1000 for i in range(len(sample))]


def test_knn_join_ann_finds_planted_near_duplicates(spark):
    """The LSH guarantee: pairs with genuinely high cosine (planted
    near-duplicates, cos ≈ 0.999) land in the same sign bucket with high
    probability and MUST be found; precision is exact by construction
    (every returned pair is same-label with true cosine)."""
    import math
    import random

    from breweries_case_spark.operators.similarity import EMB_DIM, ann_knn_join

    rng = random.Random(7)
    rows = []
    planted = []
    for i in range(40):
        base = [rng.gauss(0, 1) for _ in range(EMB_DIM)]
        dup = [x + rng.gauss(0, 0.01) for x in base]  # ~0.9999 cosine
        rows.append((2 * i, "L", base))
        rows.append((2 * i + 1, "L", dup))
        planted.append((2 * i, 2 * i + 1))
    emb = spark.createDataFrame(
        rows, "vec_id long, label string, v array<double>"
    )
    out = ann_knn_join(emb, k=3).collect()
    found = {(r.query_id, r.neighbor_id) for r in out}
    hits = sum(1 for a, b in planted if (a, b) in found or (b, a) in found)
    assert hits / len(planted) >= 0.9, f"planted recall {hits}/{len(planted)}"
    # precision: each query's rank-1 neighbor is its planted twin when found
    rank1 = {r.query_id: r.neighbor_id for r in out if r.rank == 1}
    twin = {a: b for a, b in planted} | {b: a for a, b in planted}
    correct = sum(1 for q, n in rank1.items() if twin[q] == n)
    assert correct / len(rank1) >= 0.9


def test_connected_components_transitive_chain(spark):
    """A~B and B~C (but A≁C directly) must collapse into ONE cluster via
    transitivity; an isolated node stays its own singleton component."""
    from breweries_case_spark.operators.dedup import connected_components

    edges = spark.createDataFrame([(1, 2), (2, 3), (10, 11)], "u long, v long")
    verts = spark.createDataFrame([(i,) for i in (1, 2, 3, 10, 11, 99)], "node long")
    got = {r.node: r.label for r in connected_components(edges, verts).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 99: 99}


@pytest.mark.slow
def test_star_components_equal_driver_tier(spark, sf_dir):
    """The alternating large-star/small-star tier must produce the exact
    same (node, label) assignment as the driver union-find tier that
    ``connected_components`` takes at these sizes, on: a long path (one
    hop per round would need D rounds, star needs O(log D)), a
    multi-component random graph, and the real near-dup pair stream."""
    import random

    from breweries_case_spark.operators.dedup import (
        connected_components,
        connected_components_star,
        q_dedup_ngram_jaccard,
    )

    def both(edges, verts):
        a = {r.node: r.label for r in connected_components(edges, verts).collect()}
        b = {
            r.node: r.label
            for r in connected_components_star(edges, verts).collect()
        }
        return a, b

    # 40-node path + isolated vertex
    path = [(i, i + 1) for i in range(40)]
    edges = spark.createDataFrame(path, "u long, v long")
    verts = spark.createDataFrame(
        [(i,) for i in range(41)] + [(99,)], "node long"
    )
    a, b = both(edges, verts)
    assert a == b and a[40] == 0 and a[99] == 99

    # deterministic random graph: 120 nodes, 80 edges
    rng = random.Random(7)
    redges = [
        (rng.randrange(120), rng.randrange(120)) for _ in range(80)
    ]
    edges = spark.createDataFrame(redges, "u long, v long")
    verts = spark.createDataFrame([(i,) for i in range(120)], "node long")
    a, b = both(edges, verts)
    assert a == b

    # the production pair stream
    pairs = q_dedup_ngram_jaccard(spark, sf_dir).select(
        F.col("doc_a").alias("u"), F.col("doc_b").alias("v")
    )
    from breweries_case_spark.io.reader import load_table

    verts = (
        load_table(spark, sf_dir, "documents")
        .select(F.col("doc_id").alias("node"))
    )
    a, b = both(pairs, verts)
    assert a == b


def test_dedup_clusters_total_assignment(spark, sf_dir):
    """Cluster resolution is a TOTAL doc→cluster assignment: member counts
    sum to the corpus size, every keeper is a member of its own cluster,
    and every exact near-dup pair lands in the same cluster."""
    from breweries_case_spark.io.reader import load_table
    from breweries_case_spark.operators.dedup import q_dedup_clusters

    clusters = q_dedup_clusters(spark, sf_dir).collect()
    n_docs = load_table(spark, sf_dir, "documents").count()
    assert sum(r.cluster_size for r in clusters) == n_docs
    member_of = {}
    for r in clusters:
        members = [int(x) for x in r.members_csv.split(",")]
        assert r.keeper_doc_id in members
        assert r.cluster_id == min(members)
        assert len(members) == r.cluster_size
        for m in members:
            member_of[m] = r.cluster_id
    pairs = q_dedup_ngram_jaccard(spark, sf_dir).select("doc_a", "doc_b").collect()
    for p in pairs:
        assert member_of[p.doc_a] == member_of[p.doc_b]


def test_ivf_topk_finds_planted_near_duplicate(spark):
    """IVF pruning must still surface a planted near-duplicate of the
    query vector, and on the real table its top-k should overlap the
    exact top-k (recall sanity, not a hard guarantee)."""
    from breweries_case_spark.operators.similarity import ivf_topk

    import math

    dim = 8
    base = [math.sin(i + 1) for i in range(dim)]
    near = [x * 1.001 + 0.0001 for x in base]  # cosine ≈ 1.0 with base
    far_rows = [
        (i, [math.cos(7 * i + d) for d in range(dim)], "x") for i in range(2, 40)
    ]
    emb = spark.createDataFrame(
        [(0, base, "x"), (1, near, "x")] + far_rows,
        "vec_id long, v array<double>, label string",
    )
    got = ivf_topk(emb, base, exclude_vec_id=0, k=3, nprobe=2).collect()
    assert got, "IVF returned nothing"
    assert got[0].vec_id == 1, f"planted near-dup not ranked first: {got}"
    assert got[0].cosine > 0.999


def test_ivf_recall_against_exact(spark, sf_dir):
    from breweries_case_spark.operators.similarity import q_sim_ivf, q_sim_topk

    exact = {r.vec_id for r in q_sim_topk(spark, sf_dir).collect()}
    ivf = {r.vec_id for r in q_sim_ivf(spark, sf_dir).collect()}
    # near-uniform synthetic embeddings scatter neighbors across cells, so
    # only a soft floor is meaningful here; planted-near-dup recall above
    # is the hard guarantee
    assert len(ivf & exact) >= 3, (ivf, exact)


def test_ivf_trained_centroids_recall_and_determinism(spark, sf_dir):
    """Lloyd-refined centroids must (a) be reproducible bit-for-bit —
    training sums accumulate in decimal, so partition order can't move
    them — and (b) not lose recall vs the seeded quantizer."""
    from breweries_case_spark.operators.similarity import (
        _embeddings_double,
        ivf_train_centroids,
        q_sim_ivf,
        q_sim_ivf_trained,
        q_sim_topk,
    )

    emb = _embeddings_double(spark, sf_dir)
    c1 = ivf_train_centroids(emb)
    c2 = ivf_train_centroids(emb)
    assert c1 == c2
    # centroids actually moved off their seed vectors
    seeds = {cid: v for cid, v in __import__(
        "breweries_case_spark.operators.similarity", fromlist=["similarity"]
    )._ivf_centroids(emb)}
    assert any(v != seeds[cid] for cid, v in c1)

    exact = {r.vec_id for r in q_sim_topk(spark, sf_dir).collect()}
    seeded = {r.vec_id for r in q_sim_ivf(spark, sf_dir).collect()}
    trained = {r.vec_id for r in q_sim_ivf_trained(spark, sf_dir).collect()}
    assert len(trained & exact) >= len(seeded & exact) - 1, (trained, seeded)


def test_pack_sequences_invariants(spark, sf_dir):
    """FFD packing: every doc assigned exactly once; no bin exceeds the
    cap unless a single oversized doc owns it alone; bin ids dense."""
    from collections import defaultdict

    from breweries_case_spark.operators.pandas_ops import (
        PACK_CAP_TOKENS,
        q_pack_sequences,
    )
    from breweries_case_spark.io.reader import load_table

    rows = q_pack_sequences(spark, sf_dir).collect()
    n_docs = load_table(spark, sf_dir, "documents").count()
    assert len(rows) == n_docs
    assert len({r.doc_id for r in rows}) == n_docs

    bins = defaultdict(list)
    for r in rows:
        bins[(r.lang, r.bin_id)].append(r)
    for (lang, _), members in bins.items():
        total = sum(m.n_tokens for m in members)
        assert all(m.bin_fill == total for m in members)
        if total > PACK_CAP_TOKENS:
            assert len(members) == 1, (lang, members)
    for lang in {r.lang for r in rows}:
        ids = sorted({r.bin_id for r in rows if r.lang == lang})
        assert ids == list(range(len(ids))), (lang, ids[:5])


def test_pack_sequences_deterministic(spark, sf_dir):
    from breweries_case_spark.operators.pandas_ops import q_pack_sequences

    a = sorted(map(tuple, q_pack_sequences(spark, sf_dir).collect()))
    b = sorted(map(tuple, q_pack_sequences(spark, sf_dir).collect()))
    assert a == b


def test_bounded_assignment_null_lang_stays_singleton(spark):
    """r12 ADVICE: the pre-collapse group key must not merge NULL-lang
    docs — the verified edge predicate (lang_a == lang_b) and the cluster
    oracle's a.lang = b.lang never join NULL langs, so two identical-text
    NULL-lang docs must keep distinct labels (the old concat_ws key
    collapsed them via the rep tag). Same-lang identical twins must still
    collapse to one label, and a '|' inside lang must not collide keys."""
    from breweries_case_spark.operators.dedup import (
        bounded_component_assignment,
    )

    text = "alpha beta gamma delta epsilon zeta"
    rows = [
        (1, None, text),
        (2, None, text),
        (3, "en", text),
        (4, "en", text),
        # the delimited-string pitfall: lang 'a|' + fp-ish text vs lang
        # 'a' — typed struct keys cannot collide these
        (5, "a|", "one two three four five six"),
        (6, "a", "one two three four five six"),
    ]
    d = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    labels = {
        r.node: r.label for r in bounded_component_assignment(d).collect()
    }
    assert labels[1] != labels[2]  # NULL-lang twins stay apart
    assert labels[3] == labels[4]  # same-lang twins collapse
    assert labels[5] != labels[6]  # no cross-lang key collision
