"""Round-14 optimization wave: randomized equivalence pins for the
incremental BPE pair-count state (`_bpe_counts_update`) — the only r14
change whose correctness argument is subtle enough to need its own
randomized harness (VERDICT r13 item 7: "demand the same randomized
equivalence-test rigor as 89518ea")."""
from __future__ import annotations

import random

from pyspark.sql import functions as F


def _full_counts(frame):
    """Reference: the pre-r14 full recount over a (doc_id, t) frame."""
    from breweries_case_spark.operators.text import _bpe_adjacent_pairs

    return (
        frame.select(F.explode(_bpe_adjacent_pairs("t")).alias("p"))
        .groupBy(
            F.col("p.l").alias("left_tok"), F.col("p.r").alias("right_tok")
        )
        .agg(F.count("*").alias("pair_count"))
    )


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _random_corpus(rng, n_docs):
    """Small-vocab corpora so winners collide, self-pairs ('a a a' runs)
    occur, docs shrink to 0/1 tokens, and ties exercise the
    (count DESC, left, right) ordering."""
    vocab = ["a", "b", "c", "ab", "b b"]
    docs = []
    for i in range(n_docs):
        n = rng.randint(0, 12)
        docs.append((i, [rng.choice(vocab) for _ in range(n)]))
    return docs


def test_bpe_incremental_counts_match_full_recount_randomized(spark):
    """Drive BPE_TRAIN_ROUNDS merge rounds over randomized corpora; after
    every round the incrementally-maintained counts table must equal the
    full recount of the merged stream EXACTLY (same rows, same counts) —
    the multiset identity `counts' = counts − old(changed) + new(changed)`
    that q_bpe_train_k / bpe_train_rounds now rely on."""
    from breweries_case_spark.operators.text import (
        BPE_TRAIN_ROUNDS,
        _bpe_counts_update,
        bpe_merge_greedy,
    )

    for seed in (7, 23, 99):
        rng = random.Random(seed)
        cur = spark.createDataFrame(
            _random_corpus(rng, 40), "doc_id long, t array<string>"
        ).localCheckpoint()
        counts = _full_counts(cur).localCheckpoint(eager=False)
        for _ in range(BPE_TRAIN_ROUNDS):
            top1 = counts.orderBy(
                F.col("pair_count").desc(), "left_tok", "right_tok"
            ).limit(1)
            merged = (
                cur.withColumn("_k", F.lit(1))
                .join(
                    F.broadcast(top1.withColumn("_k", F.lit(1))),
                    "_k",
                    "left",
                )
                .select(
                    "doc_id",
                    F.col("t").alias("t_old"),
                    F.when(F.col("left_tok").isNull(), F.col("t"))
                    .otherwise(
                        bpe_merge_greedy(
                            F.col("t"),
                            F.col("left_tok"),
                            F.col("right_tok"),
                        )
                    )
                    .alias("t"),
                )
                .select(
                    "doc_id",
                    "t",
                    F.when(
                        F.size("t") != F.size("t_old"), F.col("t_old")
                    ).alias("t_old"),
                )
                .localCheckpoint()
            )
            counts = _bpe_counts_update(counts, merged)
            assert _rows(
                counts.select("left_tok", "right_tok", "pair_count")
            ) == _rows(
                _full_counts(merged.select("doc_id", "t"))
            ), f"seed {seed}: incremental counts diverged from recount"
            cur = merged.select("doc_id", "t")


def _reference_loop(base):
    """Reference: BPE_TRAIN_ROUNDS rounds with a full recount each, no
    incremental state. Returns the winners (round, left_tok, right_tok),
    the final (doc_id, t) frame and per round with a winner the row
    (round, left_tok, right_tok, pair_count, n_merges_total,
    n_tokens_after_total)."""
    from breweries_case_spark.operators.text import (
        BPE_TRAIN_ROUNDS,
        bpe_merge_greedy,
    )

    cur = base
    want_winners, want_rows = [], []
    for rnd in range(1, BPE_TRAIN_ROUNDS + 1):
        top1 = (
            _full_counts(cur)
            .orderBy(F.col("pair_count").desc(), "left_tok", "right_tok")
            .limit(1)
            .select(
                F.lit(rnd).cast("int").alias("round"),
                "left_tok",
                "right_tok",
                "pair_count",
            )
        )
        won = top1.collect()
        want_winners.extend(tuple(r)[:3] for r in won)
        nxt = (
            cur.withColumn("_k", F.lit(1))
            .join(
                F.broadcast(
                    top1.select("left_tok", "right_tok").withColumn(
                        "_k", F.lit(1)
                    )
                ),
                "_k",
                "left",
            )
            .select(
                "doc_id",
                F.col("t").alias("t_before"),
                F.when(F.col("left_tok").isNull(), F.col("t"))
                .otherwise(
                    bpe_merge_greedy(
                        F.col("t"), F.col("left_tok"), F.col("right_tok")
                    )
                )
                .alias("t"),
            )
            .localCheckpoint()
        )
        if won:
            sizes = nxt.agg(
                F.sum(F.size("t_before") - F.size("t")),
                F.sum(F.size("t")),
            ).first()
            want_rows.append(tuple(won[0]) + tuple(sizes))
        cur = nxt.select("doc_id", "t")
    return want_winners, cur, want_rows


def test_bpe_train_rounds_winners_match_full_recount_loop(spark, tmp_path):
    """End-to-end: the shared incremental loop (`bpe_train_rounds`) must
    produce the same winner sequence and the same final token streams as
    an independent full-recount reference loop on randomized corpora —
    including corpora that go winner-less mid-loop (every doc at ≤ 1
    token), exercising the empty-round identity-fold guard. The token
    arrays go in as is, so the pre-merged vocabulary token "b b" shares
    its surface form with a later (b, b) merge.

    `q_bpe_train_k` reads text, so its per-round rows (winner, pair
    count, merges, tokens after) are checked on a documents table per
    corpus, against the reference loop run on that table's tokens. The
    short corpus goes winner-less after two rounds and so also pins the
    no-row rule for a round without a winner."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from breweries_case_spark.functions import tokens
    from breweries_case_spark.operators.text import (
        BPE_TRAIN_ROUNDS,
        bpe_train_rounds,
        q_bpe_train_k,
    )

    corpora = {
        "seed5": _random_corpus(random.Random(5), 30),
        "seed11": _random_corpus(random.Random(11), 6),
    }
    for name, docs in corpora.items():
        base = spark.createDataFrame(
            docs, "doc_id long, t array<string>"
        ).localCheckpoint()

        rounds, winners = bpe_train_rounds(base)
        got_winners = [
            tuple(r)
            for r in winners.orderBy("round")
            .select("round", "left_tok", "right_tok")
            .collect()
        ]
        want_winners, want_final, _ = _reference_loop(base)

        assert got_winners == want_winners, f"{name}: winners diverged"
        assert _rows(rounds[-1].select("doc_id", "t")) == _rows(
            want_final
        ), f"{name}: final streams diverged"

    corpora["short"] = [(0, ["a", "b", "a", "b"]), (1, ["c"]), (2, [])]
    for name, docs in corpora.items():
        sf_dir = tmp_path / name
        sf_dir.mkdir()
        pq.write_table(
            pa.table(
                {
                    "doc_id": [i for i, _ in docs],
                    "text": [" ".join(t) for _, t in docs],
                }
            ),
            sf_dir / "documents.parquet",
        )
        base = (
            spark.read.parquet(str(sf_dir / "documents.parquet"))
            .select("doc_id", tokens(F.col("text"), drop_empty=True).alias("t"))
            .localCheckpoint()
        )
        got_rows = [tuple(r) for r in q_bpe_train_k(spark, str(sf_dir)).collect()]
        _, _, want_rows = _reference_loop(base)
        assert got_rows == want_rows, f"{name}: per-round rows diverged"
    assert len(want_rows) == 2 < BPE_TRAIN_ROUNDS  # the short corpus
