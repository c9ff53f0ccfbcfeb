"""Round-13 wave: the incremental IVF index maintainer family, the
snapshot-persisted maintainer chain, the incremental decontamination
maintainer, the text-cluster keeper election, and the quality-curve
drift report."""
from __future__ import annotations

import pytest

from pyspark.sql import functions as F

# ------------------------------------------------ incremental IVF maintainer


def test_ivf_maintain_loads_account_for_every_vector(spark, sf_dir):
    """The balance table must be a PARTITION of the post-append index:
    one row per stored centroid, corpus/shard loads summing to the
    corpus/shard populations, and the re-train flag exactly the
    published threshold predicate on the published fraction."""
    from breweries_case_spark.operators.similarity import (
        IVF_CENTROIDS,
        IVF_REBALANCE_MAX_FRAC,
        IVF_SHARD_MOD,
        _embeddings_double,
        q_sim_ivf_maintain,
    )

    emb = _embeddings_double(spark, sf_dir)
    n_shard = emb.filter(F.col("vec_id") % IVF_SHARD_MOD == 0).count()
    n_corpus = emb.filter(F.col("vec_id") % IVF_SHARD_MOD != 0).count()

    rows = q_sim_ivf_maintain(spark, sf_dir).collect()
    assert len(rows) == IVF_CENTROIDS
    assert sum(r.corpus_n for r in rows) == n_corpus
    assert sum(r.shard_n for r in rows) == n_shard
    for r in rows:
        assert r.post_n == r.corpus_n + r.shard_n
        assert r.retrain == int(r.post_frac > IVF_REBALANCE_MAX_FRAC)


def test_ivf_incremental_covers_shard_with_stored_cells(spark, sf_dir):
    """Every shard vector gets exactly one row, every assigned cell is a
    stored corpus centroid id, and the quantized cosine to the winning
    cell is no smaller than to any other stored centroid (argmax
    property, checked via the independent expr scorer)."""
    from breweries_case_spark.operators.similarity import (
        IVF_SHARD_MOD,
        _embeddings_double,
        _ivf_centroids,
        q_sim_ivf_incremental,
    )

    emb = _embeddings_double(spark, sf_dir)
    shard_ids = {
        r.vec_id
        for r in emb.filter(F.col("vec_id") % IVF_SHARD_MOD == 0)
        .select("vec_id")
        .collect()
    }
    cents = _ivf_centroids(emb.filter(F.col("vec_id") % IVF_SHARD_MOD != 0))
    cids = {cid for cid, _ in cents}

    out = q_sim_ivf_incremental(spark, sf_dir).collect()
    assert {r.vec_id for r in out} == shard_ids
    assert len(out) == len(shard_ids)
    assert all(r.cell in cids for r in out)


# ------------------------------------------ persisted maintainer state table


def test_overwrite_changed_buckets_protocol(spark, tmp_path):
    """The persisted chain's bucket-rewrite protocol in isolation:
    untouched buckets carry forward at the manifest level, rewritten
    buckets replace, and a bucket the update EMPTIES is dropped by the
    explicit delete commit (dynamic overwrite alone would silently carry
    its stale rows forward). Also pins the change feed: the v1→v2
    snapshot_diff is exactly the label remap."""
    from breweries_case_spark.io.snapshots import (
        commit_overwrite_partitions,
        latest_version,
        read_snapshot,
        snapshot_diff,
    )
    from breweries_case_spark.operators.multimodal import (
        _overwrite_changed_buckets,
        _state_bucket,
    )

    tdir = str(tmp_path / "state")
    # v1: labels 0,1,2 → buckets '0','1','2' (one row each) + a second
    # row in bucket '0' so the untouched-bucket carry is observable
    v1 = spark.createDataFrame(
        [(10, 0), (11, 0), (12, 1), (13, 2)], "media_id long, label long"
    ).withColumn("sb", _state_bucket(F.col("label")))
    commit_overwrite_partitions(v1, tdir, "sb")

    # update: label 2 remaps to 1 (bucket '2' EMPTIES, bucket '1' grows),
    # bucket '0' untouched
    state1 = spark.createDataFrame(
        [(10, 0), (11, 0), (12, 1), (13, 1)], "media_id long, label long"
    ).withColumn("sb", _state_bucket(F.col("label")))
    _overwrite_changed_buckets(state1, {"1", "2"}, tdir)

    got = {
        (r.media_id, r.label)
        for r in read_snapshot(spark, tdir).select("media_id", "label").collect()
    }
    assert got == {(10, 0), (11, 0), (12, 1), (13, 1)}

    feed = {
        (r.media_id, r.label, r._change)
        for r in snapshot_diff(spark, tdir, 1, latest_version(tdir))
        .select("media_id", "label", "_change")
        .collect()
    }
    assert feed == {(13, 2, "delete"), (13, 1, "insert")}


@pytest.mark.slow
def test_chain_persisted_matches_in_memory_chain(spark, sf_dir):
    """The snapshot round-trip must be invisible: the persisted chain's
    output equals q_dedup_cluster_chain's row for row."""
    from breweries_case_spark.operators.multimodal import (
        q_dedup_cluster_chain,
        q_dedup_cluster_chain_persisted,
    )

    a = sorted(map(tuple, q_dedup_cluster_chain(spark, sf_dir).collect()))
    b = sorted(
        map(tuple, q_dedup_cluster_chain_persisted(spark, sf_dir).collect())
    )
    assert a == b


# ------------------------------------------ incremental decontamination


def test_decontaminate_incremental_probe_is_delta_bounded(spark, sf_dir):
    """The O(delta) property: the day's probe touches only posting rows
    holding a delta-benchmark gram — a small fraction of the stored
    posting (the corpus is never re-tokenized; here we pin the contact
    set is a strict, engaged prune). Also pins phase semantics: 'delta'
    docs are genuinely NEW flags (none of them is contaminated by the
    stored benchmark)."""
    from breweries_case_spark.operators.text import (
        BENCHMARK_DELTA_MOD,
        BENCHMARK_MOD,
        DECON_DF_CAP,
        _ngram_rows,
        q_decontaminate_incremental,
    )
    from breweries_case_spark.io.reader import load_table

    d = load_table(spark, sf_dir, "documents")
    grams = _ngram_rows(d, 3)
    posting = grams.filter(F.col("doc_id") % BENCHMARK_MOD != 0).distinct()
    rare = (
        posting.groupBy("g")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") <= DECON_DF_CAP)
        .select("g")
    )
    capped = posting.join(rare, "g", "left_semi").localCheckpoint()
    delta_grams = (
        grams.filter(
            (F.col("doc_id") % BENCHMARK_MOD == 0)
            & (F.col("doc_id") % BENCHMARK_DELTA_MOD != 0)
        )
        .select("g")
        .distinct()
    )
    total = capped.count()
    touched = capped.join(delta_grams, "g", "left_semi").count()
    assert touched < 0.1 * total  # the prune engages hard

    out = q_decontaminate_incremental(spark, sf_dir).collect()
    stored = {r.doc_id for r in out if r.phase == "stored"}
    delta = {r.doc_id for r in out if r.phase == "delta"}
    assert stored.isdisjoint(delta)
    old_hits = {
        r.doc_id
        for r in capped.join(
            grams.filter(F.col("doc_id") % BENCHMARK_DELTA_MOD == 0)
            .select("g")
            .distinct(),
            "g",
            "left_semi",
        )
        .select("doc_id")
        .distinct()
        .collect()
    }
    assert stored == old_hits
    assert delta.isdisjoint(old_hits)


# ----------------------------------------------------- text keeper election


@pytest.mark.slow
def test_text_keeper_elects_a_member_per_updated_cluster(spark, sf_dir):
    """One keeper per shard-touched cluster; the keeper is one of that
    cluster's members (shard arrivals ∪ absorbed stored members), sizes
    cover every member exactly once, and keeper_in_shard agrees with the
    shard predicate."""
    from breweries_case_spark.operators.dedup import (
        _SHARD_MOD,
        _text_cluster_update,
        q_dedup_text_keeper,
    )

    (out, comps, lab_nodes, _), corpus_assign = _text_cluster_update(
        spark, sf_dir
    )
    remap = comps.join(lab_nodes, "node").select(
        F.col("node").alias("label0"), F.col("label").alias("newl")
    )
    members = {}
    for r in (
        corpus_assign.join(remap, F.col("label") == F.col("label0"))
        .select(F.col("node").alias("doc_id"), F.col("newl").alias("cid"))
        .unionByName(
            out.select("doc_id", F.col("cluster_id").alias("cid"))
        )
        .collect()
    ):
        members.setdefault(r.cid, set()).add(r.doc_id)

    keepers = q_dedup_text_keeper(spark, sf_dir).collect()
    assert {k.cluster_id for k in keepers} == set(members)
    for k in keepers:
        assert k.keeper_doc_id in members[k.cluster_id]
        assert k.cluster_size == len(members[k.cluster_id])
        assert k.keeper_in_shard == int(k.keeper_doc_id % _SHARD_MOD == 0)


# ----------------------------------------------------- plan budget pins


def test_r13_exchange_budgets(spark, sf_dir):
    """Shuffle-exchange budgets for the r13 maintainers (the
    test_round9_ops discipline; counts pin 'Exchange hashpartitioning'
    so broadcast/reused exchanges don't inflate them). The headline pin:
    the IVF shard assignment is a ZERO-shuffle narrow pass — the whole
    point of assigning against a stored quantizer."""
    from breweries_case_spark.operators.similarity import (
        q_embed_stats_incremental,
        q_sim_ivf_incremental,
        q_sim_ivf_maintain,
    )
    from breweries_case_spark.operators.text import q_tfidf_incremental

    from breweries_case_spark.operators.text import (
        q_bm25_incremental,
        q_quality_gate_incremental,
    )

    budgets = [
        (q_sim_ivf_incremental, 0),
        (q_sim_ivf_maintain, 2),
        (q_embed_stats_incremental, 2),
        (q_tfidf_incremental, 4),
        (q_quality_gate_incremental, 2),
        (q_bm25_incremental, 5),
    ]
    for fn, budget in budgets:
        plan = (
            fn(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
        )
        n = plan.count("Exchange hashpartitioning")
        assert n <= budget, (fn.__name__, n, budget)


def test_bpe_merge_greedy_equals_fold(spark):
    """The r13 vectorized merge (bpe_merge_greedy) is byte-identical to
    the exact greedy fold on 300 random token streams over a two-letter
    alphabet (maximizing overlap islands), for a self-pair (delegated
    branch), a cross-pair (the vectorized branch), and a NULL pair (the
    identity branch)."""
    import random

    from breweries_case_spark.operators.text import (
        bpe_merge_fold,
        bpe_merge_greedy,
    )

    rng = random.Random(13)
    rows = [
        (i, [rng.choice("ab") for _ in range(rng.randint(0, 12))])
        for i in range(300)
    ]
    df = spark.createDataFrame(rows, "id long, t array<string>")
    for left, right in (("a", "a"), ("a", "b"), (None, "b")):
        both = df.select(
            "id",
            bpe_merge_fold(F.col("t"), F.lit(left), F.lit(right)).alias(
                "f"
            ),
            bpe_merge_greedy(F.col("t"), F.lit(left), F.lit(right)).alias(
                "g"
            ),
        ).collect()
        for r in both:
            assert r.g == r.f, (r.id, left, right, r.f, r.g)


def test_bpe_apply_rules_regex_equals_chained_fold(spark):
    """The r13 chained-regexp literal re-encode (bpe_apply_rules_regex)
    is byte-identical to the k nested greedy folds it replaced, on 200
    random streams whose alphabet includes regex metacharacters and
    Matcher-replacement metacharacters, under a rule table that stacks
    a cross-pair, a self-pair, and a rule consuming a previously merged
    (space-joined) token."""
    import random

    from breweries_case_spark.operators.text import (
        bpe_apply_rules_regex,
        bpe_merge_fold,
    )

    alphabet = ["a", "b", "a.b", "c$d", "e\\f", "(g"]
    rng = random.Random(131)
    rows = [
        (i, [rng.choice(alphabet) for _ in range(rng.randint(0, 10))])
        for i in range(200)
    ]
    df = spark.createDataFrame(rows, "id long, t array<string>")
    rules = [
        {"left_tok": "a", "right_tok": "b"},
        {"left_tok": "a.b", "right_tok": "a.b"},
        {"left_tok": "a b", "right_tok": "c$d"},
        {"left_tok": "e\\f", "right_tok": "(g"},
    ]
    fold_expr = F.col("t")
    for r in rules:
        fold_expr = bpe_merge_fold(
            fold_expr, F.lit(r["left_tok"]), F.lit(r["right_tok"])
        )
    both = df.select(
        "id",
        fold_expr.alias("f"),
        bpe_apply_rules_regex(F.col("t"), rules).alias("g"),
    ).collect()
    for r in both:
        assert r.g == r.f, (r.id, r.f, r.g)


def test_replay_in_batches_staged_delivery_and_conf_restore(spark):
    """The r13 replay harness (one partitionBy staging write + per-
    delivery file moves + bounded state_partitions): (a) delivers the
    batch slices on exactly the index boundaries — the same watermark
    trajectory the old per-batch filter+write produced, pinned by the
    known drop/emit outcome; (b) restores the session's
    spark.sql.shuffle.partitions after the stream stops, so the
    override can never leak into the next benched query."""
    import datetime

    from breweries_case_spark.streaming.windows import (
        replay_in_batches,
        tumbling_counts,
    )

    t0 = datetime.datetime(2024, 1, 1, 0, 0, 0)

    def ts(minutes):
        return t0 + datetime.timedelta(minutes=minutes)

    # batch 1 -> wm 00:03; batch 2's 00:02 straggler is admitted (window
    # [0,5) still open), final wm 00:30 emits [0,5), [10,15) and [15,20)
    # and withholds [40,45) — the test_watermark_boundary_rules outcome,
    # now driven through the staged-move harness
    rows = [
        (ts(1), "a", 1.0, 1),
        (ts(13), "a", 1.0, 1),
        (ts(2), "a", 1.0, 2),
        (ts(15), "a", 1.0, 2),
        (ts(40), "a", 1.0, 3),
    ]
    batched = spark.createDataFrame(
        rows, "ts timestamp, event_type string, value double, batch int"
    )
    before = spark.conf.get("spark.sql.shuffle.partitions")
    out = replay_in_batches(
        spark,
        batched,
        "batch",
        3,
        "ts timestamp, event_type string, value double",
        tumbling_counts,
        "replay_staged_test_out",
        state_partitions=2,
    )
    assert spark.conf.get("spark.sql.shuffle.partitions") == before
    got = {
        (r.window_start.strftime("%H:%M"), r.event_type): r.n_events
        for r in out.collect()
    }
    assert got == {
        ("00:00", "a"): 2,  # ts(1) + the admitted ts(2) straggler
        ("00:10", "a"): 1,
        ("00:15", "a"): 1,
    }
