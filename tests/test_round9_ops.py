"""Round-9 operator tests: the df-capped containment default
(q_dedup_containment_blocked + the shared containment_pairs builder),
the v2 composite's switch to it, and the shared epoch helpers."""
from __future__ import annotations

import pytest


def test_containment_blocked_matches_exact(spark, sf_dir):
    """The production (df-capped + verify) plan publishes EXACTLY the
    ground-truth pair set with exact containment values — the cap is
    lossless on the fixture corpora and the verify stage recounts the
    full intersection."""
    from breweries_case_spark.operators.dedup import (
        q_dedup_containment,
        q_dedup_containment_blocked,
    )

    exact = {
        (r.doc_a, r.doc_b): (r.lang, r.containment)
        for r in q_dedup_containment(spark, sf_dir).collect()
    }
    blocked = {
        (r.doc_a, r.doc_b): (r.lang, r.containment)
        for r in q_dedup_containment_blocked(spark, sf_dir).collect()
    }
    assert exact == blocked
    assert exact, "fixture should contain at least one containment pair"


def test_capped_builder_skips_saturated_gram_buckets(spark):
    """On a crafted corpus where one gram is shared by EVERY doc (the
    saturated-bucket scale-killer) and two docs additionally share rare
    grams: the capped builder still finds the true pair with an exact
    verified containment, and its candidate stage never materializes
    the C(n,2) saturated bucket (checked by counting candidates of the
    capped vs uncapped builders directly)."""
    from pyspark.sql import functions as F

    from breweries_case_spark.operators.dedup import (
        DF_CAP,
        containment_pairs,
    )

    # 8 docs all share gram "x y z"; docs 0 and 1 also share 4 rare
    # grams each (their inventories: the shared gram + 4 identical rare
    # grams -> containment 1.0); docs 2..7 have disjoint rare grams.
    rows = []
    for d in range(8):
        rows.append((d, "en", "x y z"))
        if d in (0, 1):
            for i in range(4):
                rows.append((d, "en", f"dup gram {i}"))
        else:
            for i in range(4):
                rows.append((d, "en", f"solo{d} gram {i}"))
    grams = spark.createDataFrame(
        rows, "doc_id long, lang string, gram string"
    )

    # df_cap=2 pins the capping MECHANISM on a small fixture (the module
    # default is sized for real cluster fan-out — sanity-checked below)
    got = {
        (r.doc_a, r.doc_b): r.containment
        for r in containment_pairs(grams, capped=True, df_cap=2).collect()
    }
    # containment = |{x y z, dup*4}| inter / min(5,5) = 5/5 = 1.0
    assert got == {(0, 1): 1.0}

    # the saturated gram posts NO capped candidates: candidate volume is
    # only the rare-gram pairs (docs 0-1 share 4 rare grams -> 1 distinct
    # pair), while the uncapped join's "x y z" bucket alone is C(8,2)=28
    assert 16 <= DF_CAP <= 1024  # default must stay cluster-sized
    cap = 2
    uncapped_bucket = (
        grams.alias("a")
        .join(
            grams.alias("b"),
            (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.gram") == F.col("b.gram"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .filter(F.col("a.gram") == "x y z")
        .count()
    )
    assert uncapped_bucket == 28
    rare = (
        grams.groupBy("lang", "gram")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") <= cap)
        .select("lang", "gram")
    )
    capped_cands = (
        grams.join(rare, ["lang", "gram"], "left_semi")
        .alias("a")
        .join(
            grams.join(rare, ["lang", "gram"], "left_semi").alias("b"),
            (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.gram") == F.col("b.gram"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select("a.doc_id", "b.doc_id")
        .distinct()
        .count()
    )
    assert capped_cands == 1


def test_capped_builder_can_miss_all_frequent_pair(spark):
    """The documented trade-off, demonstrated (with an explicit
    df_cap=2 so the fixture stays small): a true pair whose shared
    grams are ALL above the cap posts no candidate (this is exactly
    what q_dedup_containment_capped's pinned-0 oracle watches for on
    the driver corpora — and the miss mode the r9 advice flagged: a
    dup cluster of cap+1 docs pushes every shared gram past the cap)
    while the ground-truth tier still finds it."""
    from breweries_case_spark.operators.dedup import containment_pairs

    # one gram shared by 4 docs (df=4 > cap=2); docs 0,1 consist of
    # ONLY that gram -> true containment 1.0 but no rare shared gram
    rows = [(d, "en", "x y z") for d in range(4)]
    for d in (2, 3):
        for i in range(3):
            rows.append((d, "en", f"solo{d} gram {i}"))
    grams = spark.createDataFrame(
        rows, "doc_id long, lang string, gram string"
    )
    exact = {
        (r.doc_a, r.doc_b)
        for r in containment_pairs(grams, capped=False).collect()
    }
    capped = {
        (r.doc_a, r.doc_b)
        for r in containment_pairs(grams, capped=True, df_cap=2).collect()
    }
    assert (0, 1) in exact
    assert (0, 1) not in capped
    assert capped <= exact


def test_v2_composite_drops_match_blocked_pairs(spark, sf_dir):
    """q_training_mix_v2's stage-2 drops are exactly the smaller-doc
    side of the shared capped builder's pairs over gate survivors —
    the composite really runs the registered default, not a fork."""
    from pyspark.sql import functions as F

    from breweries_case_spark.io.reader import load_table, spread
    from breweries_case_spark.operators.dedup import (
        _docs_with_gram_rows,
        containment_pairs,
    )
    from breweries_case_spark.operators.text import q_quality_gate
    from breweries_case_spark.operators.training_mix import (
        q_training_mix_v2,
    )

    kept_ids = q_quality_gate(spark, sf_dir).select("doc_id")
    grams = _docs_with_gram_rows(
        spread(load_table(spark, sf_dir, "documents"))
    ).join(kept_ids, "doc_id", "left_semi")
    pairs = containment_pairs(grams, capped=True).collect()
    expect_dropped = set()
    for r in pairs:
        if r.sz_a < r.sz_b:
            expect_dropped.add(r.doc_a)
        elif r.sz_b < r.sz_a:
            expect_dropped.add(r.doc_b)
        else:
            expect_dropped.add(max(r.doc_a, r.doc_b))
    gate_kept = {r.doc_id for r in kept_ids.collect()}
    out_ids = {r.doc_id for r in q_training_mix_v2(spark, sf_dir).collect()}
    assert out_ids == gate_kept - expect_dropped


def test_epoch_helpers_shared_with_unit_op(spark, sf_dir):
    """q_mix_epochs' published (doc, n_copies) equals recomputing with
    the factored epoch_table + n_copies_expr helpers — the helpers ARE
    the operator."""
    from pyspark.sql import functions as F

    from breweries_case_spark.operators.training_mix import (
        epoch_table,
        n_copies_expr,
        q_mix_epochs,
    )

    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    ep = epoch_table(d)
    recomputed = {
        (r.doc_id, r.n_copies)
        for r in d.select("doc_id", "source")
        .join(F.broadcast(ep), "source")
        .select("doc_id", n_copies_expr().alias("n_copies"))
        .collect()
    }
    published = {
        (r.doc_id, r.n_copies) for r in q_mix_epochs(spark, sf_dir).collect()
    }
    assert published == recomputed


def test_dup_span_removal_crafted(spark, tmp_path):
    """End-to-end excision semantics on a crafted corpus: two docs share
    an 8-token boilerplate run mid-document -> both lose exactly the
    covered tokens and keep head/tail islands; a doc shorter than the
    span width survives whole; a doc that IS the boilerplate vanishes."""
    from breweries_case_spark.operators.text import (
        DUP_SPAN_N,
        q_dup_span_removal,
    )

    assert DUP_SPAN_N == 8
    boiler = " ".join(f"b{i}" for i in range(8))
    d1 = " ".join(f"a{i}" for i in range(5)) + " " + boiler + " " + " ".join(
        f"c{i}" for i in range(4)
    )  # tokens 1-5 kept, 6-13 removed, 14-17 kept
    d2 = boiler + " " + " ".join(f"z{i}" for i in range(6))
    # d2: tokens 1-8 removed, 9-14 kept
    d3 = "one two three"  # < 8 tokens: survives whole
    d4 = boiler  # exactly the duplicated 8-gram: vanishes entirely
    rows = [
        (1, d1, "en", "s", len(d1)),
        (2, d2, "en", "s", len(d2)),
        (3, d3, "en", "s", len(d3)),
        (4, d4, "en", "s", len(d4)),
    ]
    spark.createDataFrame(
        rows,
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")

    out = {
        (r.doc_id, r.kept_start, r.kept_end): (r.kept_tokens, r.kept_text)
        for r in q_dup_span_removal(spark, str(tmp_path)).collect()
    }
    assert out == {
        (1, 1, 5): (5, "a0 a1 a2 a3 a4"),
        (1, 14, 17): (4, "c0 c1 c2 c3"),
        (2, 9, 14): (6, "z0 z1 z2 z3 z4 z5"),
        (3, 1, 3): (3, "one two three"),
    }, out


def test_dup_span_removal_merges_touching_intervals(spark, tmp_path):
    """Two duplicated spans that OVERLAP (shifted by one) must excise
    one contiguous region, not leave a phantom 1-token island between
    per-span intervals."""
    from breweries_case_spark.operators.text import q_dup_span_removal

    # docs 1 and 2 share a 9-token run -> two overlapping 8-gram spans
    run = " ".join(f"r{i}" for i in range(9))
    d1 = "head1x " + run + " tail1x"
    d2 = "head2y " + run + " tail2y"
    rows = [
        (1, d1, "en", "s", len(d1)),
        (2, d2, "en", "s", len(d2)),
    ]
    spark.createDataFrame(
        rows,
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")

    out = {
        (r.doc_id, r.kept_start, r.kept_end): r.kept_text
        for r in q_dup_span_removal(spark, str(tmp_path)).collect()
    }
    # 11 tokens per doc: 1 kept, 2-10 removed as ONE region, 11 kept
    assert out == {
        (1, 1, 1): "head1x",
        (1, 11, 11): "tail1x",
        (2, 1, 1): "head2y",
        (2, 11, 11): "tail2y",
    }, out


def test_bpe_encode_consistent_with_train_k(spark, sf_dir):
    """The encode's final stream must (a) total exactly the last
    training round's published n_tokens_after_total, and (b) losslessly
    reconstruct the normalized source text when its space-joined merged
    tokens are flattened back out — BPE merging never alters content,
    only grouping."""
    import re

    from breweries_case_spark.operators.text import (
        BPE_TRAIN_ROUNDS,
        q_bpe_encode,
        q_bpe_train_k,
    )

    enc = q_bpe_encode(spark, sf_dir).collect()
    rounds = {r.round: r for r in q_bpe_train_k(spark, sf_dir).collect()}
    assert len(enc) == rounds[BPE_TRAIN_ROUNDS].n_tokens_after_total

    by_doc: dict = {}
    for r in enc:
        by_doc.setdefault(r.doc_id, []).append((r.pos, r.tok))
    docs = {
        d.doc_id: [
            t
            for t in re.split(r"\s+", d.text.strip().lower())
            if t != ""
        ]
        for d in spark.read.parquet(f"{sf_dir}/documents.parquet").collect()
    }
    for doc_id, toks in by_doc.items():
        toks.sort()
        # positions are 1..k dense
        assert [p for p, _ in toks] == list(range(1, len(toks) + 1))
        flat = " ".join(t for _, t in toks).split(" ")
        assert flat == docs[doc_id], doc_id
        # at least one multi-token merge must have been applied somewhere
    assert any(" " in t for _, ts in by_doc.items() for _, t in ts)


def test_image_hashes_match_hand_computation(spark, sf_dir):
    """aHash/dHash recomputed in plain Python from the re-synthesized
    BMP bytes (parse_bmp + integer math, no Spark) must equal the
    operator's published hashes — pins the bit-index conventions the
    oracle also encodes."""
    from breweries_case_spark.operators.multimodal import (
        image_hashes,
        make_bmp,
        parse_bmp,
    )

    got = {
        r.media_id: (r.ahash_hi, r.ahash_lo, r.dhash)
        for r in image_hashes(spark, sf_dir).collect()
    }
    assert got
    for mid in list(got)[:10]:
        content = make_bmp(
            8, 8,
            lambda x, y, s=mid: (
                (x * 31 + s) % 256,
                (y * 57 + s) % 256,
                (x * y + s) % 256,
            ),
        )
        w, h, px = parse_bmp(content)
        gray = [r + g + b for (r, g, b) in px]
        total = sum(gray)
        hi = lo = dh = 0
        for k in range(64):
            if gray[k] * 64 > total:
                if k >= 32:
                    hi |= 1 << (k - 32)
                else:
                    lo |= 1 << k
        for y in range(8):
            for x in range(7):
                if gray[y * 8 + x + 1] > gray[y * 8 + x]:
                    dh |= 1 << (y * 7 + x)
        assert got[mid] == (hi, lo, dh), mid


def test_image_near_pairs_pigeonhole(spark):
    """Crafted hash patterns: hamming 1-3 pairs are found regardless of
    WHICH bits differ (pigeonhole over the 4 bands), hamming 4 across
    all four bands is rejected by the verify even though band collisions
    may occur elsewhere, and identical hashes pair at distance 0."""
    from breweries_case_spark.operators.multimodal import (
        IMG_HAMMING_MAX,
        hamming_near_pairs,
    )

    assert IMG_HAMMING_MAX == 3
    base_hi, base_lo = 0x12345678, 0x0ABCDEF5
    rows = [
        (0, base_hi, base_lo),            # reference
        (1, base_hi, base_lo),            # identical -> hamming 0
        (2, base_hi ^ 1 << 31, base_lo),  # 1 bit, band 0 (hi high half)
        (3, base_hi, base_lo ^ 0b111),    # 3 bits, all in band 3
        (4, base_hi ^ (1 << 20) ^ 1, base_lo ^ (1 << 20)),  # 3 spread
        (5, base_hi ^ (1 << 20) ^ 1, base_lo ^ (1 << 20) ^ 1),  # 4 bits
    ]
    h = spark.createDataFrame(
        rows, "media_id long, hash_hi long, hash_lo long"
    )
    got = {
        (r.media_id_a, r.media_id_b): r.hamming
        for r in hamming_near_pairs(h).collect()
    }
    assert got[(0, 1)] == 0
    assert got[(0, 2)] == 1
    assert got[(0, 3)] == 3
    assert got[(0, 4)] == 3
    assert (0, 5) not in got  # hamming 4: blocked or verify-rejected
    assert got[(4, 5)] == 1  # the 4-flip doc still pairs with its kin


def test_audio_hash_closed_form_and_near_pairs(spark, sf_dir):
    """Delta-sign bits recomputed from the closed form (bit k set iff
    k+1 <= n-1 and (k+1) % period != 0) must equal the operator's
    WAV-decoded hashes; and two full-length sawtooths with periods 40
    and 45 must differ at exactly their two wrap bits (hamming 2 — a
    true near-dup the banded blocker finds)."""
    from breweries_case_spark.operators.multimodal import (
        audio_hashes,
        hamming_near_pairs,
    )

    got = {
        r.media_id: (r.dhash_hi, r.dhash_lo)
        for r in audio_hashes(spark, sf_dir).collect()
    }
    assert got
    import pyspark.sql.functions as F  # noqa: F401

    docs = {
        d.doc_id: d.n_chars
        for d in spark.read.parquet(f"{sf_dir}/documents.parquet").collect()
    }
    for mid, (hi, lo) in got.items():
        period = mid % 50 + 2
        n = min(docs[mid], 400)
        ehi = elo = 0
        for k in range(64):
            if k + 1 <= n - 1 and (k + 1) % period != 0:
                if k >= 32:
                    ehi |= 1 << (k - 32)
                else:
                    elo |= 1 << k
        assert (hi, lo) == (ehi, elo), mid

    def sign_hash(period):
        hi = lo = 0
        for k in range(64):
            if (k + 1) % period != 0:
                if k >= 32:
                    hi |= 1 << (k - 32)
                else:
                    lo |= 1 << k
        return hi, lo

    h40, h45 = sign_hash(40), sign_hash(45)
    rows = [(1, *h40), (2, *h45)]
    pairs = {
        (r.media_id_a, r.media_id_b): r.hamming
        for r in hamming_near_pairs(
            spark.createDataFrame(
                rows, "media_id long, hash_hi long, hash_lo long"
            )
        ).collect()
    }
    assert pairs == {(1, 2): 2}


def test_video_frames_share_kernel_with_image_hash(spark, sf_dir):
    """Frame-0 of video doc s must hash identically to what the IMAGE
    kernel computes for the same pixel pattern (the +pts offset is 0 at
    frame 0) — the two tiers really share _bmp_ahash; and every video
    contributes at most 4 distinct fingerprints."""
    from breweries_case_spark.operators.multimodal import (
        _bmp_ahash,
        make_bmp,
        q_dedup_video_frames,
        synth_media_table,
    )

    media = (
        synth_media_table(spark, sf_dir)
        .filter("modality = 'video'")
        .limit(3)
        .collect()
    )
    for r in media:
        s = r.media_id
        frame0 = make_bmp(
            8, 8,
            lambda x, y, s=s: (
                (x * 31 + s) % 256,
                (y * 57 + s) % 256,
                (x * y + s) % 256,
            ),
        )
        from breweries_case_spark.operators.multimodal import parse_ivf

        _w, _h, frames = parse_ivf(bytes(r.content))
        assert frames[0][1] == frame0
        assert _bmp_ahash(frames[0][1]) == _bmp_ahash(frame0)
    out = q_dedup_video_frames(spark, sf_dir)
    assert out.filter("media_id_a >= media_id_b").count() == 0


def test_soft_weights_invariants(spark, sf_dir):
    """Every doc appears exactly once; each cluster's weights sum to
    exactly 1 (up to the 6-dp quantization x size); singleton weight is
    1.0; cluster sizes agree with q_dedup_clusters."""
    from breweries_case_spark.operators.dedup import (
        q_dedup_clusters,
        q_dedup_soft_weights,
    )

    rows = q_dedup_soft_weights(spark, sf_dir).collect()
    n_docs = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    assert len(rows) == n_docs
    assert len({r.doc_id for r in rows}) == n_docs
    sizes = {}
    for r in rows:
        sizes.setdefault(r.cluster_id, []).append(r)
    for cid, members in sizes.items():
        size = members[0].cluster_size
        assert len(members) == size
        assert all(m.cluster_size == size for m in members)
        for m in members:
            import math

            assert m.sample_weight == math.floor(1.0 / size * 1e6 + 0.5) / 1e6
        if size == 1:
            assert members[0].sample_weight == 1.0
    expected = {
        r.cluster_id: r.cluster_size
        for r in q_dedup_clusters(spark, sf_dir).collect()
    }
    assert {c: len(m) for c, m in sizes.items()} == expected
    assert any(s > 1 for s in expected.values()), "fixture needs clusters"


def test_decontaminate_spans_crafted(spark, tmp_path):
    """A benchmark 3-gram inside a training doc is excised (head/tail
    kept); an overlap-free doc survives whole; benchmark docs are
    excluded from the output entirely."""
    from breweries_case_spark.operators.text import (
        BENCHMARK_MOD,
        q_decontaminate_spans,
    )

    bench = "alpha beta gamma delta"  # doc 0: benchmark (0 % 97 == 0)
    # training doc 1 embeds the bench 3-gram "beta gamma delta" at
    # tokens 4-6 (and "alpha beta gamma" at 3-5): covered 3-7 merged
    d1 = "t0 t1 " + bench + " t2 t3"
    d2 = "clean doc with no overlap at all"
    rows = [
        (0, bench, "en", "s", len(bench)),
        (1, d1, "en", "s", len(d1)),
        (2, d2, "en", "s", len(d2)),
    ]
    assert BENCHMARK_MOD == 97
    spark.createDataFrame(
        rows,
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    out = {
        (r.doc_id, r.kept_start, r.kept_end): r.kept_text
        for r in q_decontaminate_spans(spark, str(tmp_path)).collect()
    }
    # d1 tokens: t0 t1 alpha beta gamma delta t2 t3 (1-8); bench grams
    # start at 3 and 4 -> covered 3-6, merged -> kept 1-2 and 7-8
    assert out == {
        (1, 1, 2): "t0 t1",
        (1, 7, 8): "t2 t3",
        (2, 1, 7): "clean doc with no overlap at all",
    }, out


def test_curriculum_order_invariants(spark, sf_dir):
    """Stages are monotone in quality (higher bin -> lower-or-equal
    stage), cover every scored doc exactly once, and each stage holds
    at most a bin-granular quarter boundary overshoot; order_key is the
    doc's md5."""
    import hashlib

    from breweries_case_spark.operators.text import (
        CURRICULUM_STAGES,
        gate_scored,
        q_curriculum_order,
    )

    rows = q_curriculum_order(spark, sf_dir).collect()
    n_scored = gate_scored(
        spark.read.parquet(f"{sf_dir}/documents.parquet")
    ).count()
    assert len(rows) == n_scored
    assert len({r.doc_id for r in rows}) == n_scored
    assert {r.stage for r in rows} <= set(range(CURRICULUM_STAGES))
    # monotone: sort by bin desc -> stages must be non-decreasing
    by_bin = sorted(rows, key=lambda r: -r.quality_bin)
    stages_seq = [r.stage for r in by_bin]
    assert stages_seq == sorted(stages_seq)
    # whole bins share a stage
    bin_stage = {}
    for r in rows:
        assert bin_stage.setdefault(r.quality_bin, r.stage) == r.stage
        assert r.order_key == hashlib.md5(str(r.doc_id).encode()).hexdigest()
    # stage sizes: cumulative count through each stage s is >= the exact
    # quarter boundary (bins only overshoot forward)
    from collections import Counter

    sizes = Counter(r.stage for r in rows)
    cum = 0
    for s in range(CURRICULUM_STAGES - 1):
        cum += sizes.get(s, 0)
        assert cum * CURRICULUM_STAGES >= n_scored * (s + 1) - n_scored


@pytest.mark.slow
def test_round9_plan_shapes(spark, sf_dir):
    """Pin the wave's scale-critical plan facts under the deterministic
    test profile (AQE off, fixed shuffle partitions): the perceptual
    hash builders and the BPE encode are exchange-FREE in their final
    plans (fingerprints ride the mapInPandas scan; the encode's
    posexplode rides the last checkpoint layout); every near-dup join
    costs exactly its blocker + verify exchanges; the span excisions
    stay within three exchanges; the capped containment default pays
    its documented df-agg + semi + candidate + verify budget; and
    nothing anywhere plans a cartesian or nested-loop join."""
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    budgets = {
        "q_multimodal_image_hash": 0,
        "q_multimodal_audio_hash": 0,
        "q_bpe_encode": 0,
        "q_dedup_soft_weights": 2,
        "q_dup_span_removal": 3,
        "q_decontaminate_spans": 3,
        "q_repetition_removal": 3,
        "q_dedup_rate_by_source": 4,
        "q_curriculum_order": 3,
        "q_quality_gate_by_lang": 3,
        # one corpus exchange; its 3-row ks broadcast crossJoin plans as
        # a broadcast NL by design (the q_quality_gate cutoff pattern)
        "q_vocab_coverage": 1,
    }
    # r10 two-tier perceptual plans: the caps add df-aggregate / semi /
    # candidate stages over the DISTINCT-hash (resp. fingerprint)
    # tables, which the checkpointed size stats turn into BROADCAST
    # joins — so pin SHUFFLE exchanges only (hash/range/single
    # partitioning, the corpus-cost kind): image/audio pay 2 tiny
    # band-df aggregates; video pays 3 linear fingerprint-keyed ones
    shuffle_budgets = {
        "q_dedup_image_near": 2,
        "q_dedup_audio_near": 2,
        "q_dedup_video_frames": 3,
        # r10 split-verify: df agg + rare semi + candidate agg + the
        # hot anti / pair-split anti + verify agg — 6 shuffles, but the
        # verify pair recount now runs ONLY on pairs touching a hot
        # gram (empty at driver scale under the cluster-sized cap);
        # the hot/clean-split joins broadcast
        "q_dedup_containment_blocked": 6,
    }
    NESTED_LOOP_OK = {"q_vocab_coverage"}

    def _check(qid, budget, counter):
        df = qs[qid](spark, sf_dir)
        df.count()
        plan = df._jdf.queryExecution().executedPlan().toString()
        n_ex = counter(plan)
        assert n_ex <= budget, (qid, n_ex, budget)
        assert "CartesianProduct" not in plan, qid
        if qid not in NESTED_LOOP_OK:
            assert "BroadcastNestedLoopJoin" not in plan, qid

    for qid, budget in budgets.items():
        _check(qid, budget, lambda p: p.count("Exchange"))
    for qid, budget in shuffle_budgets.items():
        _check(
            qid,
            budget,
            lambda p: p.count("Exchange hashpartitioning")
            + p.count("Exchange rangepartitioning")
            + p.count("Exchange SinglePartition"),
        )


def test_repetition_removal_crafted(spark, tmp_path):
    """A doc repeating a 3-gram keeps the FIRST occurrence and loses
    the later one; a repetition-free doc survives whole; overlapping
    self-repeats excise from the second span start onward."""
    from breweries_case_spark.operators.text import (
        REP_SPAN_N,
        q_repetition_removal,
    )

    assert REP_SPAN_N == 3
    # doc 1: "x y z" at tokens 1-3 and again at 6-8; 4,5 and 9 unique
    d1 = "x y z a b x y z c"
    d2 = "all tokens here are unique ones"
    d3 = "r r r r r"  # grams at 1,2,3 identical: keep 1, excise 2-5
    rows = [
        (1, d1, "en", "s", len(d1)),
        (2, d2, "en", "s", len(d2)),
        (3, d3, "en", "s", len(d3)),
    ]
    spark.createDataFrame(
        rows,
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")
    out = {
        (r.doc_id, r.kept_start, r.kept_end): r.kept_text
        for r in q_repetition_removal(spark, str(tmp_path)).collect()
    }
    assert out == {
        (1, 1, 5): "x y z a b",
        (1, 9, 9): "c",
        (2, 1, 6): "all tokens here are unique ones",
        (3, 1, 1): "r",
    }, out


def test_dedup_rate_by_source_consistent_with_clusters(spark, sf_dir):
    """dup_docs per source must equal the count of non-keeper cluster
    members in that source (recomputed from q_dedup_clusters), and
    n_docs must total the corpus."""
    from breweries_case_spark.operators.dedup import (
        q_dedup_clusters,
        q_dedup_rate_by_source,
    )

    rates = {r.source: r for r in q_dedup_rate_by_source(spark, sf_dir).collect()}
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").collect()
    src = {d.doc_id: d.source for d in docs}
    dup_by_source: dict = {}
    for c in q_dedup_clusters(spark, sf_dir).collect():
        for mid in map(int, c.members_csv.split(",")):
            if mid != c.keeper_doc_id:
                dup_by_source[src[mid]] = dup_by_source.get(src[mid], 0) + 1
    assert sum(r.n_docs for r in rates.values()) == len(docs)
    for s, r in rates.items():
        assert r.dup_docs == dup_by_source.get(s, 0), s
    assert any(r.dup_docs > 0 for r in rates.values())


def test_gate_by_lang_fairness(spark, sf_dir):
    """The per-lang gate drops at most floor(25% . n_lang) within EVERY
    language (the global gate holds the budget only corpus-wide), and
    survival is monotone within each language."""
    from breweries_case_spark.operators.text import (
        QG_DROP_PCT,
        gate_scored,
        q_quality_gate_by_lang,
    )

    kept = {
        r.doc_id: r for r in q_quality_gate_by_lang(spark, sf_dir).collect()
    }
    scored = gate_scored(
        spark.read.parquet(f"{sf_dir}/documents.parquet")
    ).collect()
    by_lang: dict = {}
    for r in scored:
        by_lang.setdefault(r.lang, []).append(r)
    assert kept
    for lang, rows in by_lang.items():
        n = len(rows)
        dropped = [r for r in rows if r.doc_id not in kept]
        assert len(dropped) <= n * QG_DROP_PCT // 100, lang
        if dropped:
            worst_kept = min(
                r.quality_bin for r in rows if r.doc_id in kept
            )
            assert max(r.quality_bin for r in dropped) < worst_kept, lang


def test_vocab_coverage_monotone_and_exact(spark, sf_dir):
    """Coverage is non-decreasing in k, bounded by 1, and the k=200
    point matches a pure-Python recount of the top-200 type mass."""
    import re
    from collections import Counter

    from breweries_case_spark.operators.text import (
        VOCAB_COVERAGE_KS,
        q_vocab_coverage,
    )

    rows = {
        r.vocab_size: r for r in q_vocab_coverage(spark, sf_dir).collect()
    }
    assert set(rows) == set(VOCAB_COVERAGE_KS)
    covs = [rows[k].coverage for k in sorted(rows)]
    assert covs == sorted(covs)
    assert all(0 < c <= 1 for c in covs)
    cnt: Counter = Counter()
    for d in spark.read.parquet(f"{sf_dir}/documents.parquet").collect():
        cnt.update(t for t in re.split(r"\s+", d.text.strip().lower()) if t)
    total = sum(cnt.values())
    top = sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))[:200]
    covered = sum(c for _, c in top)
    r = rows[200]
    assert (r.covered_occurrences, r.total_occurrences) == (covered, total)


def _bruteforce_islands(docs, span_n, removed_starts):
    """Reference excision: union covered positions, emit maximal kept
    runs per doc (1-based)."""
    out = {}
    for doc_id, toks in docs.items():
        n = len(toks)
        if n < 1:
            continue
        covered = set()
        for p in removed_starts.get(doc_id, ()):
            covered.update(range(p, p + span_n))
        islands = []
        start = None
        for pos in range(1, n + 1):
            if pos not in covered:
                if start is None:
                    start = pos
            elif start is not None:
                islands.append((start, pos - 1))
                start = None
        if start is not None:
            islands.append((start, n))
        for s, e in islands:
            out[(doc_id, s, e)] = " ".join(toks[s - 1 : e])
    return out


def test_dup_span_removal_matches_bruteforce_random(spark, tmp_path):
    """Seeded random corpus over a tiny vocabulary (forcing cross-doc
    8-gram collisions): the operator must equal a pure-Python
    reference implementing the same tot>occ rule + interval union."""
    import random

    from breweries_case_spark.operators.text import (
        DUP_SPAN_N,
        q_dup_span_removal,
    )

    rng = random.Random(9)
    vocab = ["a", "b", "c"]
    docs = {
        i: [rng.choice(vocab) for _ in range(rng.randint(0, 30))]
        for i in range(40)
    }
    rows = [
        (i, " ".join(t), "en", "s", len(" ".join(t))) for i, t in docs.items()
    ]
    spark.createDataFrame(
        rows,
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")

    # reference dup rule: corpus occurrences > own-doc occurrences
    from collections import Counter

    occ: dict = {}
    tot: Counter = Counter()
    for i, t in docs.items():
        for p in range(1, len(t) - DUP_SPAN_N + 2):
            g = tuple(t[p - 1 : p - 1 + DUP_SPAN_N])
            occ[(i, g)] = occ.get((i, g), 0) + 1
            tot[g] += 1
    starts: dict = {}
    for i, t in docs.items():
        for p in range(1, len(t) - DUP_SPAN_N + 2):
            g = tuple(t[p - 1 : p - 1 + DUP_SPAN_N])
            if tot[g] > occ[(i, g)]:
                starts.setdefault(i, []).append(p)
    want = _bruteforce_islands(docs, DUP_SPAN_N, starts)
    got = {
        (r.doc_id, r.kept_start, r.kept_end): r.kept_text
        for r in q_dup_span_removal(spark, str(tmp_path)).collect()
    }
    assert got == want
    assert any(v for v in starts.values()), "fixture must exercise removal"


def test_repetition_removal_matches_bruteforce_random(spark, tmp_path):
    """Same seeded-random cross-check for the intra-doc rule (later
    occurrences of a repeated 3-gram are excised)."""
    import random

    from breweries_case_spark.operators.text import (
        REP_SPAN_N,
        q_repetition_removal,
    )

    rng = random.Random(17)
    vocab = ["x", "y", "z", "w"]
    docs = {
        i: [rng.choice(vocab) for _ in range(rng.randint(0, 25))]
        for i in range(30)
    }
    rows = [
        (i, " ".join(t), "en", "s", len(" ".join(t))) for i, t in docs.items()
    ]
    spark.createDataFrame(
        rows,
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")

    starts: dict = {}
    for i, t in docs.items():
        first: dict = {}
        for p in range(1, len(t) - REP_SPAN_N + 2):
            g = tuple(t[p - 1 : p - 1 + REP_SPAN_N])
            if g in first:
                starts.setdefault(i, []).append(p)
            else:
                first[g] = p
    want = _bruteforce_islands(docs, REP_SPAN_N, starts)
    got = {
        (r.doc_id, r.kept_start, r.kept_end): r.kept_text
        for r in q_repetition_removal(spark, str(tmp_path)).collect()
    }
    assert got == want
    assert any(v for v in starts.values()), "fixture must exercise removal"


@pytest.mark.slow
def test_round9_layout_invariance(spark, sf_dir):
    """The wave's outputs are identical under a different shuffle
    partitioning — the layout-free determinism the 100 TB design
    claims (md5 keys, integer bin math, no rand(), no
    partition-dependent tie-breaks)."""
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    ids = [
        "q_dup_span_removal",
        "q_repetition_removal",
        "q_dedup_image_near",
        "q_dedup_soft_weights",
        "q_curriculum_order",
        "q_vocab_coverage",
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
