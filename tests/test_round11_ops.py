"""Round-11 wave: the short-doc SimHash tier of the bounded-Levenshtein
blocker, bounded cluster members (perceptual_cluster_output), video-tier
cluster-granularity dedup, the PII curation composite, the trained-BPE
OOV report, and the mechanism-cap certificate."""
from __future__ import annotations

import pytest

from pyspark.sql import functions as F

# ------------------------------------------------------- bounded members


def test_perceptual_cluster_output_is_bounded(spark):
    """The published members sample must hold at most MEMBERS_SAMPLE_CAP
    ids — the SMALLEST of the cluster — while cluster_size still counts
    every member (the 100 TB advisory this shape closes)."""
    from breweries_case_spark.operators.multimodal import (
        MEMBERS_SAMPLE_CAP,
        perceptual_cluster_output,
    )

    big = MEMBERS_SAMPLE_CAP + 9
    rows = [(i, 100) for i in range(1, big + 1)] + [(1000, 2000), (1001, 2000)]
    labeled = spark.createDataFrame(rows, "media_id long, label long")
    out = {
        r.cluster_id: r
        for r in perceptual_cluster_output(labeled).collect()
    }
    giant = out[100]
    assert giant.cluster_size == big
    members = [int(x) for x in giant.members_sample_csv.split(",")]
    assert members == list(range(1, MEMBERS_SAMPLE_CAP + 1))
    assert giant.keeper_media_id == 1
    small = out[2000]
    assert small.members_sample_csv == "1000,1001"


def test_image_clusters_sample_is_cluster_prefix(spark, sf_dir):
    """On real data: every sampled member belongs to the cluster (same
    label via the pair relation), the sample is sorted, keeper is its
    first element, and the sample never exceeds the cap or the size."""
    from breweries_case_spark.operators.multimodal import (
        MEMBERS_SAMPLE_CAP,
        q_dedup_image_clusters,
    )

    for c in q_dedup_image_clusters(spark, sf_dir).collect():
        members = [int(x) for x in c.members_sample_csv.split(",")]
        assert len(members) == min(c.cluster_size, MEMBERS_SAMPLE_CAP)
        assert members == sorted(members)
        assert members[0] == c.keeper_media_id == c.cluster_id


# -------------------------------------------------------- video clusters


def test_video_clusters_consistent_with_pairs(spark, sf_dir):
    """Total assignment over fingerprinted videos; every shared-frame
    pair lands in one cluster; keeper = min member = cluster_id."""
    from breweries_case_spark.operators.multimodal import (
        q_dedup_video_clusters,
        q_dedup_video_frames,
        video_fingerprints,
    )

    clusters = q_dedup_video_clusters(spark, sf_dir).collect()
    n_videos = (
        video_fingerprints(spark, sf_dir).select("media_id").distinct().count()
    )
    assert sum(c.cluster_size for c in clusters) == n_videos

    member_of = {}
    for c in clusters:
        for m in map(int, c.members_sample_csv.split(",")):
            member_of[m] = c.cluster_id
        assert c.keeper_media_id == c.cluster_id

    for p in q_dedup_video_frames(spark, sf_dir).collect():
        a, b = p.media_id_a, p.media_id_b
        # sampled members only — compare when both sides were sampled
        if a in member_of and b in member_of:
            assert member_of[a] == member_of[b], (a, b)


def test_video_set_collapse_loses_no_edges(spark, sf_dir):
    """The identical-set collapse must reach the same components as CC
    over the raw pair output (the un-collapsed formulation)."""
    from breweries_case_spark.operators.dedup import connected_components
    from breweries_case_spark.operators.multimodal import (
        q_dedup_video_clusters,
        q_dedup_video_frames,
        video_fingerprints,
    )

    pairs = q_dedup_video_frames(spark, sf_dir).select(
        F.col("media_id_a").alias("u"), F.col("media_id_b").alias("v")
    )
    nodes = (
        video_fingerprints(spark, sf_dir)
        .select(F.col("media_id").alias("node"))
        .distinct()
    )
    raw = {
        (r.node, r.label)
        for r in connected_components(pairs, nodes).collect()
    }
    got = set()
    for c in q_dedup_video_clusters(spark, sf_dir).collect():
        # sizes beyond the sample cap can't be reconstructed here; the
        # driver oracle checks them — this test uses the sampled ids
        for m in map(int, c.members_sample_csv.split(",")):
            got.add((m, c.cluster_id))
    assert got <= raw
    # and every raw assignment for a sampled node matches
    sampled = {m for m, _ in got}
    assert {(n, l) for n, l in raw if n in sampled} == got


# ------------------------------------------------------ curation pipeline


def test_curation_pipeline_pii_offsets_and_counts(spark, sf_dir):
    """Same survivor set and stage assignment as the base composite;
    n_redactions ≥ 1 everywhere (the footer always carries an email);
    per-stage offsets are gap-free exclusive prefix sums of the
    SCRUBBED token counts."""
    from breweries_case_spark.operators.training_mix import (
        q_curation_pipeline,
        q_curation_pipeline_pii,
    )

    base = {
        r.doc_id: r for r in q_curation_pipeline(spark, sf_dir).collect()
    }
    pii = {
        r.doc_id: r
        for r in q_curation_pipeline_pii(spark, sf_dir).collect()
    }
    assert set(base) == set(pii)
    by_stage: dict = {}
    for r in pii.values():
        assert r.stage == base[r.doc_id].stage
        assert r.n_redactions >= 1
        # the footer adds tokens, so the scrubbed count is never smaller
        assert r.n_tokens >= base[r.doc_id].n_tokens
        by_stage.setdefault(r.stage, []).append(r)
    for rows in by_stage.values():
        rows.sort(key=lambda r: (r.order_key, r.doc_id))
        off = 0
        for r in rows:
            assert r.start_offset == off, (r.doc_id, r.start_offset, off)
            off += r.n_tokens


def test_curation_pipeline_pii_redaction_mix(spark, sf_dir):
    """doc_id % 6 fixes the footer shape, so redaction counts follow
    the closed form: 1 (email only), 2 (+ssn or +phone), 3 (both)."""
    from breweries_case_spark.operators.training_mix import (
        q_curation_pipeline_pii,
    )

    for r in q_curation_pipeline_pii(spark, sf_dir).collect():
        want = 1 + (r.doc_id % 3 == 0) + (r.doc_id % 2 == 0)
        assert r.n_redactions == want, (r.doc_id, r.n_redactions, want)


# ----------------------------------------------------------- OOV report


def test_bpe_oov_report_matches_python_recount(spark, sf_dir):
    """Recompute the whole report from q_bpe_encode's stream in plain
    Python (global rank by (count DESC, token ASC), per-lang per-k OOV
    sums) — rates must match to the 6-dp half-up rounding."""
    import math

    from breweries_case_spark.io.reader import load_table
    from breweries_case_spark.operators.text import (
        OOV_REPORT_KS,
        q_bpe_encode,
        q_bpe_oov_report,
    )

    stream = q_bpe_encode(spark, sf_dir).collect()
    lang = {
        r.doc_id: r.lang
        for r in load_table(spark, sf_dir, "documents")
        .select("doc_id", "lang")
        .collect()
    }
    counts: dict = {}
    per_lang: dict = {}
    for r in stream:
        counts[r.tok] = counts.get(r.tok, 0) + 1
        key = (lang[r.doc_id], r.tok)
        per_lang[key] = per_lang.get(key, 0) + 1
    rank = {
        t: i + 1
        for i, (t, _) in enumerate(
            sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        )
    }
    want = {}
    for (lg, tok), c in per_lang.items():
        for k in OOV_REPORT_KS:
            tot_key, oov_key = (lg, k, "tot"), (lg, k, "oov")
            want[tot_key] = want.get(tot_key, 0) + c
            if rank[tok] > k:
                want[oov_key] = want.get(oov_key, 0) + c
    got = q_bpe_oov_report(spark, sf_dir).collect()
    assert len(got) == len({lg for lg in lang.values()}) * len(OOV_REPORT_KS)
    for r in got:
        tot = want[(r.lang, r.vocab_size, "tot")]
        oov = want.get((r.lang, r.vocab_size, "oov"), 0)
        assert r.total_occurrences == tot
        assert r.oov_occurrences == oov
        assert r.oov_rate == math.floor(oov / tot * 1e6 + 0.5) / 1e6


# ----------------------------------------------------- cross-modal table


def test_media_clusters_union_of_modalities(spark, sf_dir):
    """The cross-modal table is exactly the union of the per-modality
    cluster views: image rows equal q_dedup_image_clusters, video rows
    equal q_dedup_video_clusters, and modalities match the doc_id % 3
    fixture mapping."""
    from breweries_case_spark.operators.multimodal import (
        q_dedup_image_clusters,
        q_dedup_media_clusters,
        q_dedup_video_clusters,
    )

    allrows = q_dedup_media_clusters(spark, sf_dir).collect()
    mod_of = {0: "image", 1: "audio", 2: "video"}
    for r in allrows:
        assert r.modality == mod_of[r.cluster_id % 3]
    img = {
        tuple(r)
        for r in q_dedup_image_clusters(spark, sf_dir).collect()
    }
    vid = {
        tuple(r)
        for r in q_dedup_video_clusters(spark, sf_dir).collect()
    }
    got_img = {
        (r.cluster_id, r.cluster_size, r.keeper_media_id, r.members_sample_csv)
        for r in allrows
        if r.modality == "image"
    }
    got_vid = {
        (r.cluster_id, r.cluster_size, r.keeper_media_id, r.members_sample_csv)
        for r in allrows
        if r.modality == "video"
    }
    assert got_img == img
    assert got_vid == vid
    # audio tier: total assignment over all audio media
    from breweries_case_spark.operators.multimodal import audio_hashes

    n_audio = audio_hashes(spark, sf_dir).count()
    assert (
        sum(r.cluster_size for r in allrows if r.modality == "audio")
        == n_audio
    )


# ---------------------------------------------------------- drift report


def test_bpe_drift_report_python_recount(spark, sf_dir):
    """Recompute the drift report in plain Python: greedy BPE on the
    old half, frozen-merge application to the full corpus, fresh BPE
    on the full corpus — per-lang sums and 6-dp ratios must match."""
    import math

    from breweries_case_spark.io.reader import load_table
    from breweries_case_spark.operators.text import (
        BPE_DRIFT_MOD,
        BPE_TRAIN_ROUNDS,
        q_bpe_drift_report,
    )

    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", "lang", "text")
        .collect()
    )
    toks = {
        r.doc_id: [t for t in r.text.strip().lower().split() if t]
        for r in docs
    }
    toks = {k: v for k, v in toks.items() if v}
    lang = {r.doc_id: r.lang for r in docs}

    def train(corpus):
        cur = {k: list(v) for k, v in corpus.items()}
        merges = []
        for _ in range(BPE_TRAIN_ROUNDS):
            counts: dict = {}
            for t in cur.values():
                for a, b in zip(t, t[1:]):
                    counts[(a, b)] = counts.get((a, b), 0) + 1
            if not counts:
                break
            (l, r), _c = min(
                counts.items(), key=lambda kv: (-kv[1], kv[0])
            )
            merges.append((l, r))
            for k, t in cur.items():
                out, i = [], 0
                while i < len(t):
                    if i + 1 < len(t) and t[i] == l and t[i + 1] == r:
                        out.append(l + " " + r)
                        i += 2
                    else:
                        out.append(t[i])
                        i += 1
                cur[k] = out
        return cur, merges

    def apply(corpus, merges):
        cur = {k: list(v) for k, v in corpus.items()}
        for l, r in merges:
            for k, t in cur.items():
                out, i = [], 0
                while i < len(t):
                    if i + 1 < len(t) and t[i] == l and t[i + 1] == r:
                        out.append(l + " " + r)
                        i += 2
                    else:
                        out.append(t[i])
                        i += 1
                cur[k] = out
        return cur

    _, old_merges = train(
        {k: v for k, v in toks.items() if k % BPE_DRIFT_MOD == 0}
    )
    old_applied = apply(toks, old_merges)
    fresh, _ = train(toks)
    want: dict = {}
    for k in toks:
        lg = lang[k]
        d = want.setdefault(lg, [0, 0, 0])
        d[0] += 1
        d[1] += len(old_applied[k])
        d[2] += len(fresh[k])
    got = q_bpe_drift_report(spark, sf_dir).collect()
    assert len(got) == len(want)
    for r in got:
        n, o, nw = want[r.lang]
        assert (r.n_docs, r.tokens_old, r.tokens_new) == (n, o, nw), r.lang
        assert r.drift_ratio == math.floor(o / nw * 1e6 + 0.5) / 1e6


# -------------------------------------------------------- mechanism cap


@pytest.mark.slow
def test_mechanism_cap_engages_and_bounds(spark, sf_dir):
    """At MECH_CAP=2 the pruning genuinely fires: the perceptual tiers
    lose pairs (missed > 0 — the branch the production caps never
    exercise on driver data), and pairs+missed always recompose the
    ground truth (pairs ≤ truth, missed = truth − pairs ≥ 0)."""
    from breweries_case_spark.operators.multimodal import (
        q_dedup_mechanism_cap,
    )

    vals = {
        r.check_name: r.value
        for r in q_dedup_mechanism_cap(spark, sf_dir).collect()
    }
    assert set(vals) == {
        "containment_mech_pairs",
        "containment_mech_missed",
        "image_mech_pairs",
        "image_mech_missed",
        "audio_mech_pairs",
        "audio_mech_missed",
        "video_mech_pairs",
        "video_mech_missed",
    }
    for fam in ("containment", "image", "audio", "video"):
        assert vals[f"{fam}_mech_pairs"] >= 0
        assert vals[f"{fam}_mech_missed"] >= 0
    # the cap must bite somewhere on the fixture — otherwise this
    # certificate degenerates into the production one
    assert (
        vals["image_mech_missed"]
        + vals["audio_mech_missed"]
        + vals["video_mech_missed"]
        > 0
    )


def test_mechanism_cap_video_matches_bruteforce(spark, sf_dir):
    """video_shared_pairs at the mechanism cap recomputed in Python:
    candidates only from fingerprints with df ≤ 2, shared counts from
    the FULL inventory (the verify-recount contract)."""
    from breweries_case_spark.operators.multimodal import (
        MECH_CAP,
        VIDEO_SHARED_MIN,
        video_fingerprints,
        video_shared_pairs,
    )

    fp = video_fingerprints(spark, sf_dir).collect()
    df: dict = {}
    sets: dict = {}
    for r in fp:
        h = (r.hash_hi, r.hash_lo)
        df[h] = df.get(h, 0) + 1
        sets.setdefault(r.media_id, set()).add(h)
    cands = set()
    by_hash: dict = {}
    for r in fp:
        h = (r.hash_hi, r.hash_lo)
        if df[h] <= MECH_CAP:
            by_hash.setdefault(h, []).append(r.media_id)
    for ids in by_hash.values():
        ids = sorted(ids)
        for i in range(len(ids)):
            for j in range(i + 1, len(ids)):
                cands.add((ids[i], ids[j]))
    want = {
        (a, b, len(sets[a] & sets[b]))
        for a, b in cands
        if len(sets[a] & sets[b]) >= VIDEO_SHARED_MIN
    }
    got = {
        (r.media_id_a, r.media_id_b, r.shared_frames)
        for r in video_shared_pairs(
            spark.createDataFrame(
                fp, "media_id long, hash_hi long, hash_lo long"
            ).localCheckpoint(),
            df_cap=MECH_CAP,
        ).collect()
    }
    assert got == want


# ------------------------------------------------- short-doc simhash tier


def test_short_doc_simhash_tier_recall_split(spark, sf_dir):
    """The r11 blocker split holds on the fixture: the bounded form
    still equals the exact pairs (hard equality — re-pinned after the
    tier change), and the short tier emits a small candidate set."""
    from breweries_case_spark.io.reader import load_table, spread
    from breweries_case_spark.operators.dedup import (
        _docs_with_token_hashes,
        _short_doc_simhash_candidates,
        q_dedup_levenshtein,
        q_dedup_levenshtein_bounded,
    )

    exact = sorted(
        tuple(r) for r in q_dedup_levenshtein(spark, sf_dir).collect()
    )
    bounded = sorted(
        tuple(r)
        for r in q_dedup_levenshtein_bounded(spark, sf_dir).collect()
    )
    assert exact == bounded

    base = _docs_with_token_hashes(
        spread(load_table(spark, sf_dir, "documents"))
    ).localCheckpoint()
    doc_len = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.length("text").alias("len")
    )
    n_short = _short_doc_simhash_candidates(base, doc_len).count()
    n_docs = doc_len.count()
    # candidate volume tracks the short tail + near-dup rate, not the
    # corpus pair space
    assert n_short < n_docs


# --------------------------------------------------- video incremental


def test_video_incremental_matches_bruteforce(spark, sf_dir):
    """Recompute the shard classification in plain Python from the
    fingerprint inventory: exact = identical set, near = >= shared-min
    overlap, exact precedence, min-corpus-id dup_of."""
    from breweries_case_spark.operators.multimodal import (
        _MEDIA_SHARD_MOD,
        VIDEO_SHARED_MIN,
        q_dedup_video_incremental,
        video_fingerprints,
    )

    fp = video_fingerprints(spark, sf_dir).collect()
    sets: dict = {}
    for r in fp:
        sets.setdefault(r.media_id, set()).add((r.hash_hi, r.hash_lo))
    shard = {m for m in sets if m % _MEDIA_SHARD_MOD == 0}
    corpus = {m for m in sets if m % _MEDIA_SHARD_MOD != 0}
    expect = {}
    for s in shard:
        ex = sorted(c for c in corpus if sets[c] == sets[s])
        nr = sorted(
            c
            for c in corpus
            if len(sets[c] & sets[s]) >= VIDEO_SHARED_MIN
        )
        if ex:
            expect[s] = ("exact_dup", ex[0])
        elif nr:
            expect[s] = ("near_dup", nr[0])
        else:
            expect[s] = ("new", None)
    got = {
        r.media_id: (r.verdict, r.dup_of)
        for r in q_dedup_video_incremental(spark, sf_dir).collect()
    }
    assert got == expect


# --------------------------------------------------------- keeper ids


def test_video_keeper_consistent_with_clusters(spark, sf_dir):
    """Same clusters as q_dedup_video_clusters (ids + sizes), keeper
    tier 0 only for srcN < 5 sources, and the keeper beats every
    SAMPLED member under the (prio, n_chars DESC, id) order."""
    from breweries_case_spark.io.reader import load_table
    from breweries_case_spark.operators.multimodal import (
        q_dedup_video_clusters,
        q_dedup_video_keeper,
    )

    clusters = {
        c.cluster_id: c
        for c in q_dedup_video_clusters(spark, sf_dir).collect()
    }
    keepers = {
        k.cluster_id: k for k in q_dedup_video_keeper(spark, sf_dir).collect()
    }
    assert set(clusters) == set(keepers)
    meta = {
        r.doc_id: r
        for r in load_table(spark, sf_dir, "documents")
        .select("doc_id", "n_chars", "source")
        .collect()
    }
    for cid, k in keepers.items():
        assert k.cluster_size == clusters[cid].cluster_size
        tier = 0 if int(k.keeper_source[3:]) < 5 else 1
        assert k.keeper_priority == tier
        kk = (
            k.keeper_priority,
            -meta[k.keeper_media_id].n_chars,
            k.keeper_media_id,
        )
        for m in map(int, clusters[cid].members_sample_csv.split(",")):
            mt = 0 if int(meta[m].source[3:]) < 5 else 1
            assert kk <= (mt, -meta[m].n_chars, m)


def test_keeper_pii_prefers_fewest_redactions(spark, sf_dir):
    """Same cluster ids/sizes as q_dedup_clusters; keeper_redactions
    follows the closed footer form (1 + %3 + %2 on digit-free text)
    and is minimal within its cluster."""
    from breweries_case_spark.operators.dedup import q_dedup_clusters
    from breweries_case_spark.operators.training_mix import (
        q_dedup_keeper_pii,
    )

    base = {
        c.cluster_id: c for c in q_dedup_clusters(spark, sf_dir).collect()
    }
    got = {
        k.cluster_id: k for k in q_dedup_keeper_pii(spark, sf_dir).collect()
    }
    assert set(base) == set(got)

    def red(doc_id):
        return 1 + (doc_id % 3 == 0) + (doc_id % 2 == 0)

    for cid, k in got.items():
        assert k.cluster_size == base[cid].cluster_size
        assert k.keeper_redactions == red(k.keeper_doc_id)
        members = [int(x) for x in base[cid].members_csv.split(",")]
        assert k.keeper_doc_id in members
        assert k.keeper_redactions == min(red(m) for m in members)


# ------------------------------------------------------ layout invariance


@pytest.mark.slow
def test_round11_layout_invariance(spark, sf_dir):
    """The r11 wave's outputs are identical under a different shuffle
    partitioning (min-label components, closed-form footers, integer
    fold math, rank-by-total-order — no partition-dependent ties)."""
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    ids = [
        "q_dedup_levenshtein_bounded",
        "q_dedup_image_clusters",
        "q_dedup_video_clusters",
        "q_curation_pipeline_pii",
        "q_bpe_oov_report",
        "q_dedup_mechanism_cap",
        "q_dedup_video_incremental",
        "q_dedup_video_keeper",
        "q_dedup_keeper_pii",
        "q_bpe_drift_report",
        "q_dedup_media_clusters",
    ]
    base = {
        qid: sorted(tuple(r) for r in qs[qid](spark, sf_dir).collect())
        for qid in ids
    }
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "7")
        for qid in ids:
            alt = sorted(tuple(r) for r in qs[qid](spark, sf_dir).collect())
            assert alt == base[qid], qid
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
