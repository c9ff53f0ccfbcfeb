"""Round-6 additions: heavy hitters (mergeable Misra-Gries candidates +
exact verify), the per-source cap sampler's WindowGroupLimit plan, and
the branch-creation/vacuum race regression."""

from __future__ import annotations

import pyspark.sql.functions as F


def _final_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


# --- heavy hitters -----------------------------------------------------------


def test_mg_merge_bound_and_superset():
    """The mergeable-MG error bound (undercount <= n/(k+1)) means every
    item with true count > n/(k+1) must survive an arbitrary batch
    split. Adversarial split: the heavy item arrives thinly across many
    batches, each flooded with distinct one-off fillers that force
    decrements."""
    from breweries_case_spark.operators.text import _mg_merge

    k = 10
    counters: dict = {}
    n = 0
    for batch in range(40):
        fillers = {f"f{batch}_{i}": 1 for i in range(k)}
        batch_counts = {"heavy": 3, **fillers}
        n += 3 + k
        counters = _mg_merge(counters, batch_counts, k)
        assert len(counters) <= k
    true_heavy = 3 * 40
    assert true_heavy > n / (k + 1)
    assert "heavy" in counters, "true heavy hitter evicted from MG summary"
    # the undercount bound itself
    assert true_heavy - counters["heavy"] <= n / (k + 1)


def test_heavy_hitters_exact_and_planted(spark, sf_dir):
    """Output equals the exact GROUP BY/HAVING (no sketch artifacts), and
    a planted ubiquitous token is found."""
    from breweries_case_spark.operators.text import HH_K, q_heavy_hitters

    got = {r.token: r.n_occurrences for r in q_heavy_hitters(spark, sf_dir).collect()}
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    tokens = d.select(
        F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("t")
    ).filter(F.col("t") != "")
    n = tokens.count()
    exact = {
        r.t: r.c
        for r in tokens.groupBy("t").agg(F.count("*").alias("c")).collect()
        if r.c * HH_K > n
    }
    assert got == exact
    assert got, "fixture corpus should have at least one 0.5% token"


# --- per-source cap ----------------------------------------------------------


def test_source_cap_plan_uses_window_group_limit(spark, sf_dir):
    """The <= K rank filter must plan as WindowGroupLimit (map-side
    partial top-K per source) — the property that keeps the exchange at
    O(sources x K) rows at any corpus size."""
    from breweries_case_spark.operators.sampling import q_sample_source_cap

    df = q_sample_source_cap(spark, sf_dir)
    df.write.format("noop").mode("overwrite").save()
    assert "WindowGroupLimit" in _final_plan(df)


def test_source_cap_semantics(spark, sf_dir):
    from breweries_case_spark.operators.sampling import (
        SOURCE_CAP,
        q_sample_source_cap,
    )

    rows = q_sample_source_cap(spark, sf_dir).collect()
    per_source: dict = {}
    for r in rows:
        per_source.setdefault(r.source, []).append(r)
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    totals = {r.source: r.c for r in d.groupBy("source").agg(F.count("*").alias("c")).collect()}
    for src, kept in per_source.items():
        assert len(kept) == min(SOURCE_CAP, totals[src])
        # kept docs are the longest ones: every kept n_chars >= the
        # (cap+1)-th longest would require full data; check rank bounds
        assert sorted(r.rank_in_source for r in kept) == list(
            range(1, len(kept) + 1)
        )


# --- branch-creation / vacuum race -------------------------------------------


def test_branch_meta_published_before_manifests(tmp_path, spark, sf_dir):
    """create_branch must make the branch's created_from claim readable
    the instant the branch is visible: a branch dir holding meta.json but
    NO manifests dir (the new creation order's only intermediate state)
    must (a) protect its base version from vacuum and (b) accept a first
    commit."""
    import os
    import shutil

    from breweries_case_spark.io import branches as br
    from breweries_case_spark.io import snapshots as sn

    table = str(tmp_path / "t")
    d1 = spark.range(3).select(
        F.col("id").alias("k"), F.lit("2024-01-01").alias("extraction_date")
    )
    v1 = sn.commit_overwrite_partitions(d1, table, "extraction_date")
    # advance trunk so v1 falls outside keep_versions=1
    for _ in range(2):
        sn.commit_overwrite_partitions(d1, table, "extraction_date")

    base = br.create_branch(table, "b", from_version=v1)
    assert base == v1
    # simulate the mid-creation state: manifests dir absent, meta present
    mdir = br._branch_manifest_dir(table, "b")
    shutil.rmtree(mdir)
    assert not os.path.isdir(mdir)

    sn.vacuum(table, keep_versions=1)
    # the branch's divergence-point manifest must have survived vacuum
    assert br._read_meta(table, "b")["created_from"] == v1
    assert sn.read_snapshot(spark, table, v1).count() == 3

    # and a first commit on the manifests-less branch must succeed
    br.commit_to_branch(d1, table, "b", "extraction_date")
    assert br._branch_versions(table, "b")


# --- document chunking -------------------------------------------------------


def test_chunk_documents_geometry(spark, sf_dir):
    """Window geometry: chunk i covers tokens [i*S, i*S + C); consecutive
    chunks overlap by C - S tokens; the union of chunks covers every
    token; reconstruction from stride-prefixes equals the token stream."""
    from breweries_case_spark.operators.text import (
        CHUNK_STRIDE,
        CHUNK_TOKENS,
        q_chunk_documents,
    )

    rows = q_chunk_documents(spark, sf_dir).collect()
    by_doc: dict = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, {})[r.chunk_idx] = r
    d = spark.read.parquet(f"{sf_dir}/documents.parquet").collect()
    import re

    for doc in d[:50]:
        toks = re.split(r"\s+", doc.text.strip().lower())
        chunks = by_doc[doc.doc_id]
        n = len(toks)
        # Suffix-suppressed geometry (operators/text.py q_chunk_documents):
        # chunk i>0 emitted only when it adds tokens beyond chunk i-1's
        # clamped end, so trailing strict-suffix chunks are dropped.
        expected_chunks = 1 + max(n - CHUNK_TOKENS + CHUNK_STRIDE - 1, 0) // CHUNK_STRIDE
        assert len(chunks) == expected_chunks
        rebuilt: list = []
        for i in range(expected_chunks):
            c = chunks[i]
            want = toks[i * CHUNK_STRIDE : i * CHUNK_STRIDE + CHUNK_TOKENS]
            assert c.chunk_text.split(" ") == want
            assert c.chunk_tokens == len(want)
            rebuilt.extend(want[:CHUNK_STRIDE] if i < expected_chunks - 1 else want)
        assert rebuilt == toks, "stride prefixes must reconstruct the stream"
        # no emitted chunk is a strict suffix of its predecessor: each
        # emitted window's clamped end strictly exceeds its predecessor's
        for i in range(1, expected_chunks):
            end_i = min(i * CHUNK_STRIDE + CHUNK_TOKENS, n)
            end_prev = min((i - 1) * CHUNK_STRIDE + CHUNK_TOKENS, n)
            assert end_i > end_prev, "emitted chunk must add tokens"


# --- BPE pair counts ---------------------------------------------------------


def test_bpe_pair_counts_matches_python(spark, sf_dir):
    """The top-K merge candidates equal a pure-Python recount of every
    adjacent pair under the identical total order — the count step a
    BPE trainer loops is exact, not approximate."""
    import re
    from collections import Counter

    from breweries_case_spark.operators.text import (
        BPE_TOPK,
        q_bpe_pair_counts,
    )

    counts: Counter = Counter()
    for r in spark.read.parquet(f"{sf_dir}/documents.parquet").collect():
        toks = [
            t for t in re.split(r"\s+", r.text.strip().lower()) if t != ""
        ]
        counts.update(zip(toks, toks[1:]))
    want = sorted(
        counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
    )[:BPE_TOPK]
    got = [
        ((r.left_tok, r.right_tok), r.pair_count)
        for r in q_bpe_pair_counts(spark, sf_dir).collect()
    ]
    assert got == want


def test_bpe_pair_counts_plan_topk_not_global_sort(spark, sf_dir):
    """The top-K must plan as TakeOrderedAndProject (per-partition
    top-K + driver merge), never a full global Sort of the pair
    aggregate."""
    from breweries_case_spark.operators.text import q_bpe_pair_counts

    plan = _final_plan(q_bpe_pair_counts(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert "Sort " not in plan


# --- cross-source overlap ----------------------------------------------------


def test_source_overlap_invariants_and_spotcheck(spark, sf_dir):
    """Pair identity is canonical (src_a < src_b), overlap is bounded by
    both totals, and one pair's counts equal a Python set recompute."""
    import re

    from breweries_case_spark.operators.text import (
        OVERLAP_N,
        q_source_overlap,
    )

    rows = q_source_overlap(spark, sf_dir).collect()
    assert rows, "synthetic corpus shares vocabulary across sources"
    for r in rows:
        assert r.src_a < r.src_b
        assert 0 < r.common_grams <= min(r.grams_a, r.grams_b)
        assert 0.0 < r.jaccard <= 1.0

    grams: dict = {}
    for d in spark.read.parquet(f"{sf_dir}/documents.parquet").collect():
        toks = [
            t for t in re.split(r"\s+", d.text.strip().lower()) if t != ""
        ]
        g = grams.setdefault(d.source, set())
        for i in range(len(toks) - OVERLAP_N + 1):
            g.add(" ".join(toks[i : i + OVERLAP_N]))
    r = min(rows, key=lambda r: (r.src_a, r.src_b))
    inter = grams[r.src_a] & grams[r.src_b]
    assert r.common_grams == len(inter)
    assert r.grams_a == len(grams[r.src_a])
    assert r.grams_b == len(grams[r.src_b])


# --- quality token curve -----------------------------------------------------


def test_quality_token_curve_cumulative_contract(spark, sf_dir):
    """tokens_retained is the descending-bucket cumulative of
    bucket_tokens, the lowest bucket retains every token
    (retained_frac = 1.0), and doc/token totals reconcile with the
    corpus."""
    from breweries_case_spark.operators.text import q_quality_token_curve

    rows = sorted(
        q_quality_token_curve(spark, sf_dir).collect(),
        key=lambda r: -r.score_bucket,
    )
    assert len(rows) >= 2, "score quantization should spread buckets"
    cum = 0
    for r in rows:
        cum += r.bucket_tokens
        assert r.tokens_retained == cum
    assert rows[-1].retained_frac == 1.0
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    assert sum(r.n_docs for r in rows) == docs.count()


def test_bpe_merge_fold_greedy_semantics(spark):
    """The fold implements standard greedy non-overlapping BPE merge:
    runs of k identical tokens merge floor(k/2) times, disjoint
    occurrences all merge, and merged tokens never re-merge."""
    from breweries_case_spark.operators.text import bpe_merge_fold

    cases = [
        (["a", "b"], "a", "b", ["a b"]),
        (["a", "a", "a"], "a", "a", ["a a", "a"]),
        (["a", "a", "a", "a"], "a", "a", ["a a", "a a"]),
        (["a", "b", "a", "b"], "a", "b", ["a b", "a b"]),
        (["x", "a", "b", "y"], "a", "b", ["x", "a b", "y"]),
        (["a", "a", "b"], "a", "b", ["a", "a b"]),
        (["b", "a"], "a", "b", ["b", "a"]),
        (["a"], "a", "a", ["a"]),
    ]
    df = spark.createDataFrame(
        [(i, t, l, r) for i, (t, l, r, _) in enumerate(cases)],
        "i int, t array<string>, l string, r string",
    )
    got = {
        row.i: row.m
        for row in df.select(
            "i",
            bpe_merge_fold(F.col("t"), F.col("l"), F.col("r")).alias("m"),
        ).collect()
    }
    for i, (_, _, _, want) in enumerate(cases):
        assert got[i] == want, f"case {i}: {got[i]} != {want}"


# --- watermark boundary rules (q_stream_late_data's oracle premises) ---------


def test_watermark_boundary_rules(spark, tmp_path):
    """Pin the THREE empirical rules q_stream_late_data's oracle encodes
    (probed on Spark 4.1.2; a Spark upgrade that moves any boundary
    must fail HERE, not as a driver value mismatch):
      1. a late row whose window is still open (end > wm from PRIOR
         batches) is ADMITTED — and the filter tests the WINDOW end,
         not the raw timestamp (a row with ts < wm but window end > wm
         survives);
      2. eviction/drop is INCLUSIVE: a window whose end == wm is
         emitted, and a late row for it is dropped;
      3. processAllAvailable runs the trailing eviction batch, so
         windows closed by the FINAL watermark are emitted."""
    import datetime

    path = str(tmp_path / "wm_rules_in")
    t0 = datetime.datetime(2024, 1, 1, 0, 0, 0)

    def ts(minutes):
        return t0 + datetime.timedelta(minutes=minutes)

    def write(rows, mode):
        spark.createDataFrame(
            rows, "ts timestamp, event_type string, value double"
        ).write.mode(mode).parquet(path)

    from breweries_case_spark.streaming.windows import tumbling_counts

    # batch 1: wm after = 00:03
    write([(ts(1), "a", 1.0), (ts(13), "a", 1.0)], "overwrite")
    events = spark.readStream.schema(
        "ts timestamp, event_type string, value double"
    ).parquet(path)
    q = (
        tumbling_counts(events)
        .writeStream.format("memory")
        .queryName("wm_rules_out")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        # batch 2: ts 00:02 < wm 00:03 but window [0,5) end 00:05 > wm
        # -> rule 1 says ADMITTED; max ts 00:15:00 exactly -> wm becomes
        # 00:05:00.000 exactly
        write([(ts(2), "a", 1.0), (ts(15), "a", 1.0)], "append")
        q.processAllAvailable()
        # batch 3: late row at the EXACT boundary (window end 00:05 ==
        # wm 00:05) -> rule 2 says dropped; ts 00:40 closes the rest
        write([(ts(4), "a", 99.0), (ts(40), "a", 1.0)], "append")
        q.processAllAvailable()
    finally:
        q.stop()
    out = {
        (r.window_start.strftime("%H:%M"), r.event_type): (
            r.n_events,
            r.sum_value,
        )
        for r in spark.table("wm_rules_out").collect()
    }
    # rule 1 + rule 2 (emission at exact boundary): w[0,5) emitted with
    # ts1 AND the ts2 straggler, never the 99.0 boundary late row
    assert out[("00:00", "a")] == (2, 2.0)
    # rule 2 (drop at exact boundary): no duplicate/updated emission
    assert sum(1 for (w, _k) in out if w == "00:00") == 1
    # rule 3: final wm 00:30 closed [10,15) and [15,20)
    assert out[("00:10", "a")] == (1, 1.0)
    assert out[("00:15", "a")] == (1, 1.0)
    # [40,45) is NOT closed by wm 00:30 -> withheld
    assert ("00:40", "a") not in out


def test_stream_late_data_drops_and_matches_model(spark, sf_dir):
    """The registered replay must (a) actually drop late rows (the id is
    not vacuously the batch aggregate) and (b) equal its own oracle's
    closed form — parity also runs this, but HERE a failure localizes
    to the replay harness vs the model rather than a generic red."""
    import duckdb

    from breweries_case_spark.operators.streaming_queries import (
        ORACLES,
        q_stream_late_data,
    )

    got = {
        (r.window_start, r.event_type): (r.n_events, r.sum_value)
        for r in q_stream_late_data(spark, sf_dir).collect()
    }
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{sf_dir}/events.parquet')"
    )
    want = {
        (r[0], r[1]): (r[2], float(r[3]))
        for r in con.execute(ORACLES["q_stream_late_data"]).fetchall()
    }
    assert got == want
    # non-vacuous: summed over the emitted (closed) windows, the replay
    # kept FEWER events than the batch aggregate of those same windows —
    # the gap is exactly the dropped stragglers (at this sf most dropped
    # rows were their window's only event, so the window vanishes
    # outright rather than shrinking; totals catch both forms)
    batch = {
        (r[0], r[1]): r[2]
        for r in con.execute(
            """SELECT make_timestamp((epoch_us(ts)//300000000)*300000000),
                      event_type, count(*)
               FROM events GROUP BY 1, 2"""
        ).fetchall()
    }
    final_wm_us = con.execute(
        """WITH arr AS (SELECT ts, event_id FROM events),
        mx AS (SELECT MAX(epoch_us(ts) // 1000) AS ms FROM arr)
        SELECT (ms - 600000) * 1000 FROM mx"""
    ).fetchone()[0]
    import datetime

    closed_batch_total = sum(
        n
        for (w, _k), n in batch.items()
        if (w - datetime.datetime(1970, 1, 1)).total_seconds() * 1e6
        + 300_000_000
        <= final_wm_us
    )
    emitted_total = sum(n for n, _s in got.values())
    assert emitted_total < closed_batch_total, (
        "replay emitted every batch event — no late row was dropped"
    )


def test_split_leakage_safe_invariants(spark, sf_dir):
    """Every near-dup cluster lands in ONE split; reassignments are
    exactly the docs whose own-hash split differs from their root's;
    roots keep their naive assignment."""
    from breweries_case_spark.operators.sampling import (
        q_split_leakage_safe,
        q_split_train_val_test,
    )

    safe = q_split_leakage_safe(spark, sf_dir).collect()
    naive = {
        r.doc_id: r.split for r in q_split_train_val_test(spark, sf_dir).collect()
    }
    by_root: dict = {}
    for r in safe:
        by_root.setdefault(r.cluster_root, set()).add(r.split)
    assert all(len(s) == 1 for s in by_root.values()), "cluster spans splits"
    for r in safe:
        assert r.reassigned == int(r.split != naive[r.doc_id])
        if r.doc_id == r.cluster_root:
            assert r.split == naive[r.doc_id]
    assert sum(r.reassigned for r in safe) > 0, (
        "fixture has near-dup clusters, so some doc must move"
    )


# --- interval-overlap sweep line ---------------------------------------------


def test_interval_sweep_plan_is_join_free_single_exchange(spark, sf_dir):
    """The sweep's entire value is its plan shape: no join operator at
    all, and exactly ONE exchange (hash on l_suppkey) feeding the sort +
    window; the per-supplier aggregate must REUSE that partitioning
    rather than shuffle again."""
    from breweries_case_spark.operators.relational import q_join_interval_sweep

    plan = _final_plan(q_join_interval_sweep(spark, sf_dir))
    assert "Join" not in plan, plan
    assert plan.count("Exchange") == 1, plan
    assert "Window" in plan and "HashAggregate" in plan


def test_interval_sweep_equals_grid_plus_duplicate_key_pairs(spark, sf_dir):
    """The sweep counts unordered pairs of distinct ROWS; the grid twin's
    strict packed-key order skips pairs whose (orderkey, linenumber) key
    collides (the synthetic lineitem is NOT key-unique: 6000 rows / 4599
    distinct keys at sf0.001). Pin the exact decomposition per supplier:
    sweep == grid + (# overlapping pairs among equal-pk rows)."""
    from breweries_case_spark.operators.relational import (
        q_join_interval_overlap,
        q_join_interval_sweep,
    )
    from breweries_case_spark.io.reader import load_table

    sweep = {
        r.l_suppkey: r.overlapping_pairs
        for r in q_join_interval_sweep(spark, sf_dir).collect()
    }
    grid = {
        r.l_suppkey: r.overlapping_pairs
        for r in q_join_interval_overlap(spark, sf_dir).collect()
    }
    li = load_table(spark, sf_dir, "lineitem").select(
        (F.col("l_orderkey") * F.lit(8) + F.col("l_linenumber")).alias("pk"),
        "l_suppkey",
        F.to_date("l_shipdate").alias("s"),
        F.date_add(
            F.col("l_shipdate"), (F.col("l_partkey") % 21 + 3).cast("int")
        ).alias("e"),
    )
    rows = li.collect()
    from collections import defaultdict
    import itertools

    by_pk: dict = defaultdict(list)
    for r in rows:
        by_pk[(r.l_suppkey, r.pk)].append((r.s, r.e))
    dup_pairs: dict = defaultdict(int)
    for (sk, _pk), ivs in by_pk.items():
        for a, b in itertools.combinations(ivs, 2):
            if a[0] <= b[1] and b[0] <= a[1]:
                dup_pairs[sk] += 1
    assert sum(dup_pairs.values()) > 0, "fixture must exercise key collisions"
    for sk in set(sweep) | set(grid) | set(dup_pairs):
        assert sweep.get(sk, 0) == grid.get(sk, 0) + dup_pairs[sk], sk


def test_prefix_filter_lossless_and_smaller_index(spark, sf_dir):
    """The prefix-filter plan must produce the IDENTICAL exact pair set
    as the full inverted index (prefix filtering is lossless), while
    posting strictly fewer (doc, gram) rows into the candidate join."""
    from breweries_case_spark.operators.dedup import (
        JACCARD_THRESHOLD,
        _docs_with_gram_rows,
        q_dedup_ngram_jaccard,
        q_dedup_prefix_filter,
    )
    from breweries_case_spark.io.reader import load_table, spread
    from pyspark.sql.window import Window

    full = {tuple(r) for r in q_dedup_ngram_jaccard(spark, sf_dir).collect()}
    pref = {tuple(r) for r in q_dedup_prefix_filter(spark, sf_dir).collect()}
    assert full == pref and len(full) > 0
    t = JACCARD_THRESHOLD
    grams = _docs_with_gram_rows(
        spread(load_table(spark, sf_dir, "documents"))
    ).withColumn("sz", F.count("*").over(Window.partitionBy("doc_id")))
    df_tbl = grams.groupBy("lang", "gram").agg(F.count("*").alias("df"))
    ranked = grams.join(df_tbl, ["lang", "gram"]).withColumn(
        "pos",
        F.row_number().over(Window.partitionBy("doc_id").orderBy("df", "gram")),
    )
    n_prefix = ranked.filter(
        F.col("pos") <= F.col("sz") - F.ceil(F.col("sz") * F.lit(t)) + F.lit(1)
    ).count()
    assert 0 < n_prefix < grams.count()


def test_bpe_train_k_matches_python(spark, sf_dir):
    """Third independent implementation: a pure-Python k-round BPE
    trainer (Counter counts, greedy list-walk merge) must reproduce the
    engine's per-round winner, pair count, merge count, and corpus size
    — certifying the loop plumbing end to end, not just one round."""
    import re
    from collections import Counter

    from breweries_case_spark.operators.text import (
        BPE_TRAIN_ROUNDS,
        q_bpe_train_k,
    )

    docs = [
        [t for t in re.split(r"\s+", r.text.strip().lower()) if t]
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet").collect()
    ]
    expected = []
    for rnd in range(1, BPE_TRAIN_ROUNDS + 1):
        counts: Counter = Counter()
        for t in docs:
            counts.update(zip(t, t[1:]))
        (left, right), cnt = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        merges = 0
        nxt_docs = []
        for t in docs:
            out: list = []
            i = 0
            while i < len(t):
                if i + 1 < len(t) and t[i] == left and t[i + 1] == right:
                    out.append(f"{left} {right}")
                    merges += 1
                    i += 2
                else:
                    out.append(t[i])
                    i += 1
            nxt_docs.append(out)
        docs = nxt_docs
        expected.append(
            (rnd, left, right, cnt, merges, sum(len(t) for t in docs))
        )

    got = [tuple(r) for r in q_bpe_train_k(spark, sf_dir).collect()]
    assert got == expected
