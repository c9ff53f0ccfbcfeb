"""The text-feature core every LLM-data operator builds on
(``functions/cleaning.py``: normalized and whitespace tokens, the content
fingerprint, token hashes; ``operators/text.py``: n-gram rows and the
stored ⊕ delta count merge), on the edge inputs the id oracles never
exercise: edge whitespace Spark's ``trim`` leaves behind, blank text and
NULL."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from breweries_case_spark.functions import (
    fingerprint,
    token_hashes,
    tokens,
    ws_tokens,
)
from breweries_case_spark.operators.text import _ngram_rows, merge_counts

#: (doc_id, text): tab/newline edges, empty, spaces only, NULL
EDGE_DOCS = [(1, "\tA b\n"), (2, ""), (3, "   "), (4, None)]


def _docs(spark):
    return spark.createDataFrame(EDGE_DOCS, "doc_id long, text string")


def _by_id(df, col):
    return {r["doc_id"]: r[col] for r in df.collect()}


@pytest.mark.parametrize(
    "drop_empty, want",
    [
        # trim strips spaces only: the tab and newline split off as
        # empty edge tokens, and a blank text is one empty token
        (False, {1: ["", "a", "b", ""], 2: [""], 3: [""], 4: None}),
        (True, {1: ["a", "b"], 2: [], 3: [], 4: None}),
    ],
)
def test_tokens_contracts_on_edge_inputs(spark, drop_empty, want):
    out = _docs(spark).select(
        "doc_id", tokens(F.col("text"), drop_empty).alias("t")
    )
    assert _by_id(out, "t") == want


def test_ws_tokens_keep_case_and_empty_tokens(spark):
    df = spark.createDataFrame(
        [(1, "\tA b\n"), (2, ""), (3, " Ab  CD ")], "doc_id long, text string"
    )
    out = df.select("doc_id", ws_tokens(F.col("text")).alias("t"))
    assert _by_id(out, "t") == {1: ["", "A", "b", ""], 2: [""], 3: ["Ab", "CD"]}


def test_fingerprint_ignores_case_and_edge_spaces_only(spark):
    df = spark.createDataFrame(
        [(1, "Ab c"), (2, "  ab C "), (3, "\tab c")], "doc_id long, text string"
    )
    fp = _by_id(df.select("doc_id", fingerprint(F.col("text")).alias("fp")), "fp")
    assert fp[1] == fp[2] != fp[3]


def test_token_hashes_hash_each_token_in_order(spark):
    df = spark.createDataFrame([(1, "b a b")], "doc_id long, text string")
    row = df.select(
        token_hashes(tokens(F.col("text"), drop_empty=False)).alias("h"),
        F.xxhash64(F.lit("a")).alias("ha"),
        F.xxhash64(F.lit("b")).alias("hb"),
    ).first()
    assert row["h"] == [row["hb"], row["ha"], row["hb"]]


def test_ngram_rows_keep_the_empty_edge_tokens(spark):
    """``_ngram_rows`` tokenizes with empty tokens kept, so a tab-edged
    document's edge grams carry an empty member; a blank or NULL text
    is too short for any gram."""
    grams = _ngram_rows(_docs(spark), 2).collect()
    assert sorted((r["doc_id"], r["g"]) for r in grams) == [
        (1, " a"),
        (1, "a b"),
        (1, "b "),
    ]


def test_merge_counts_adds_shared_keys_and_keeps_one_sided_ones(spark):
    stored = spark.createDataFrame(
        [("only_stored", 3), ("both", 2)], "term string, df long"
    )
    delta = spark.createDataFrame(
        [("both", 5), ("only_delta", 1)], "term string, df long"
    )
    merged = merge_counts(stored, delta, "term", "df")
    assert merged.columns == ["term", "df"]
    assert sorted(map(tuple, merged.collect())) == [
        ("both", 7),
        ("only_delta", 1),
        ("only_stored", 3),
    ]
