"""Text-analysis operators over the ``documents`` table (north-star X4 +
training-data-pipeline surface): token counting, language-ID heuristic,
quality scoring, content fingerprinting, per-slice stats.

Everything here is built-in Column expressions (JVM, codegen) except the
deliberately-UDF ``q_pandas_udf_textlen`` which exists to exercise the
Arrow-vectorized UDF path with an oracle twin.

Determinism: ratios are single IEEE divisions (identical in both engines);
no transcendental functions (exp/log differ in last ulp across libm
implementations); md5 is the cross-engine hash.

Scale: all per-row narrow ops — no shuffle except the stats aggregation;
at 100 TB these pipeline into the scan stage."""

from __future__ import annotations

import re
import shutil

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from breweries_case_spark.functions import (
    decimal_avg,
    fingerprint,
    tokens,
)
from breweries_case_spark.functions import ws_tokens as _ws_tokens
from breweries_case_spark.io.reader import load_table

# shared expression fragments -------------------------------------------------

#: BPE-ish lexer: words OR single non-word-non-space symbols — the classic
#: pre-tokenizer shape (public GPT-2/tiktoken-style regex, simplified)
BPEISH = r"\w+|[^\w\s]"

#: tiny English marker set for the language-ID heuristic
EN_MARKERS = r"\b(the|a|of|is|and|to|in)\b"


def q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace + regex token counts per document."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(_ws_tokens(F.col("text"))).alias("ws_tokens"),
        F.regexp_count(F.col("text"), F.lit(BPEISH)).alias("re_tokens"),
    )


def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus stats per (lang, source) slice — the gold-layer shape applied
    to documents (doc counts + char-length distribution)."""
    d = load_table(spark, sf_dir, "documents")
    return d.groupBy("lang", "source").agg(
        F.count("*").alias("doc_count"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
        decimal_avg(F.col("n_chars").cast("double"), scale=4).alias("avg_chars"),
    )


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-token language-ID heuristic: the fraction of tokens that are
    high-frequency English function words. Real corpora would use an n-gram
    profile model; the heuristic keeps the operator oracle-checkable and the
    plumbing (per-doc score + thresholded class) identical."""
    d = load_table(spark, sf_dir, "documents")
    n_tok = F.size(_ws_tokens(F.col("text")))
    n_mark = F.regexp_count(F.col("text"), F.lit(EN_MARKERS))
    ratio = n_mark / n_tok  # single IEEE division — engine-identical
    return d.select(
        "doc_id",
        "lang",
        F.round(ratio, 6).alias("en_marker_ratio"),
        F.when(ratio >= 0.05, F.lit("en")).otherwise(F.lit("other")).alias(
            "predicted_lang"
        ),
    )


def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document quality features + linear score: mean token length,
    punctuation density, stopword ratio (the pretraining-filter trio)."""
    d = load_table(spark, sf_dir, "documents")
    n_tok = F.size(_ws_tokens(F.col("text")))
    n_chars = F.length(F.col("text"))
    n_punct = F.regexp_count(F.col("text"), F.lit(r"[^\w\s]"))
    n_stop = F.regexp_count(F.col("text"), F.lit(EN_MARKERS))
    # NULLIF-guarded denominators: an empty document yields NULL ratios in
    # BOTH engines (unguarded, DuckDB returns NaN for 0/0 while ANSI
    # Spark would raise — either way parity breaks on the first empty doc)
    n_tok_nz = F.when(n_tok > 0, n_tok)
    n_chars_nz = F.when(n_chars > 0, n_chars)
    mean_tok_len = n_chars / n_tok_nz
    punct_ratio = n_punct / n_chars_nz
    stop_ratio = n_stop / n_tok_nz
    score = F.round(
        stop_ratio * 0.5 + punct_ratio * -0.25 + mean_tok_len * 0.05, 6
    )
    return d.select(
        "doc_id",
        n_tok.alias("n_tokens"),
        F.round(mean_tok_len, 6).alias("mean_token_len"),
        F.round(punct_ratio, 6).alias("punct_ratio"),
        F.round(stop_ratio, 6).alias("stopword_ratio"),
        score.alias("quality_score"),
    )


def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content fingerprint: md5 of case/whitespace-normalized text — the
    exact-dedup key (md5 chosen because it is the hash both engines share;
    xxhash64 is Spark-only). Rolling/shingle hashing lives in
    operators.dedup (minhash)."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        fingerprint(F.col("text")).alias("fingerprint"),
    )


def q_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(doc, term) TF-IDF with a RATIO idf (tf · N/df) instead of the
    log form — same ranking monotonicity, zero transcendentals (module
    determinism rule: log/exp differ in last ulp across libm builds, a
    plain division does not). Corpus size N is a driver-side metadata
    count (query parameter, not a single-partition global agg).

    Plan: tokenize+explode pipelines into the scan; two hash aggregates
    (tf on (doc,term), df on term) + one equi-join on term — all
    shuffle-partitioned, nothing global. Corpus size N is a 1-row global
    agg broadcast-crossJoined into the plan (not a separate driver-side
    count() job) — the whole query is ONE job. At 100 TB the df table is
    the vocabulary (small) and AQE broadcasts the join side automatically."""
    d = load_table(spark, sf_dir, "documents")
    n_docs = d.agg(F.count("*").cast("double").alias("_n_docs"))
    toks = d.select(
        "doc_id",
        F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("term"),
    ).filter(F.col("term") != "")
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    tfidf = (
        F.col("tf").cast("double") * F.col("_n_docs") / F.col("df").cast("double")
    )
    return tf.join(dfreq, "term").crossJoin(F.broadcast(n_docs)).select(
        "doc_id",
        "term",
        "tf",
        "df",
        F.round(tfidf, 6).alias("tfidf_ratio"),
    )


#: deterministic daily-shard split for the incremental text-index ids
#: (the dedup family's % 20 "daily delivery" discipline on doc_id)
TEXT_SHARD_MOD = 20


def merge_counts(
    stored: DataFrame, delta: DataFrame, key: str, col: str
) -> DataFrame:
    """Stored aggregate ⊕ shard delta: both frames carry (``key``,
    ``col``) counts over disjoint document sets, so the merged count of
    a key is the sum of its two counts, and a key on one side only keeps
    its own. The mergeable-state step of every incremental count
    maintainer here — the day counts the shard, never the corpus, and
    the merged table equals a full recount exactly."""
    s, d = stored.alias("_stored"), delta.alias("_delta")
    return s.join(d, key, "full_outer").select(
        key,
        (
            F.coalesce(F.col(f"_stored.{col}"), F.lit(0))
            + F.coalesce(F.col(f"_delta.{col}"), F.lit(0))
        ).alias(col),
    )


def q_tfidf_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental TF-IDF index maintainer (the stored-index
    discipline on the retrieval surface): score a NEW document shard
    (doc_id % 20 == 0) under the post-append index WITHOUT re-scoring or
    re-counting the corpus. Stored state (built once here as the
    baseline; at scale loaded tables): the corpus document-frequency
    table (term → df, the vocabulary — small at any corpus size) and
    the corpus doc count. The day's work: tokenize the SHARD only →
    shard tf → the shard's per-term df delta → merge df by plain
    addition (term-keyed full-outer join on the vocabulary; counts over
    disjoint doc sets add exactly) → one join scoring the shard's
    (doc, term) rows with tf · (N_corpus + N_shard) / df_merged —
    q_tfidf's ratio-idf formula under the updated index.

    Output: q_tfidf's row shape restricted to shard docs, with df and N
    the POST-update values. Oracle: closed-form — the full-corpus
    tf/df/N recompute filtered to shard docs; equality proves the
    merged index is exactly the recomputed one (mergeable-count
    argument), not approximately."""
    d = load_table(spark, sf_dir, "documents")
    is_shard = F.col("doc_id") % TEXT_SHARD_MOD == 0
    toks = d.select(
        "doc_id",
        F.explode(tokens(F.col("text"), drop_empty=False)).alias("term"),
    ).filter(F.col("term") != "")

    # stored state stand-ins: corpus df table + corpus doc count
    stored_df = (
        toks.filter(~is_shard)
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
        .groupBy("term")
        .agg(F.count("*").alias("df"))
        .localCheckpoint()
    )
    n_c = d.filter(~is_shard).agg(
        F.count("*").cast("double").alias("_n_c")
    )

    shard_tf = (
        toks.filter(is_shard)
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )
    delta_df = shard_tf.groupBy("term").agg(F.count("*").alias("df"))
    n_s = d.filter(is_shard).agg(F.count("*").cast("double").alias("_n_s"))
    merged = merge_counts(stored_df, delta_df, "term", "df")
    tfidf = (
        F.col("tf").cast("double")
        * (F.col("_n_c") + F.col("_n_s"))
        / F.col("df").cast("double")
    )
    return (
        shard_tf.join(merged, "term")
        .crossJoin(F.broadcast(n_c))
        .crossJoin(F.broadcast(n_s))
        .select(
            "doc_id",
            "term",
            "tf",
            "df",
            F.round(tfidf, 6).alias("tfidf_ratio"),
        )
    )


@F.pandas_udf(T.LongType())
def _textlen_udf(s: pd.Series) -> pd.Series:
    # nullable Int64 extension dtype: None text → NULL length (matching
    # SQL length()); a plain int64 cast would raise on the NaN
    return s.str.len().astype("Int64")


def q_pandas_udf_textlen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-vectorized Pandas UDF demonstrator with an oracle twin
    (SURVEY §2.8) — the template for custom Python ops: batch in, batch
    out, no per-row serialization."""
    d = load_table(spark, sf_dir, "documents")
    return d.select("doc_id", _textlen_udf(F.col("text")).alias("text_len"))


def _ngram_rows(
    d: DataFrame,
    n: int,
    keep: tuple = ("doc_id",),
    distinct_within_doc: bool = False,
) -> DataFrame:
    """(*keep, g) rows of space-joined word n-grams over the normalized
    (trim→lower→whitespace-split) tokens — NON-distinct by default, one
    row per gram occurrence, so downstream counts see repetition. Docs
    with < n tokens emit no rows (explicit empty-array guard: Spark's
    sequence(1, 0) is DESCENDING [1, 0], not empty).

    ``distinct_within_doc`` dedups the gram
    array inside the scan stage before the explode — for consumers whose
    key includes the doc id, ``array_distinct`` here is row-for-row
    identical to a global ``.distinct()`` over (doc_id, g) but costs
    ZERO exchanges instead of a full shuffle of the gram stream
    (guide §2.4)."""
    toks = tokens(F.col("text"), drop_empty=False)
    base = d.select(*keep, toks.alias("t"))
    cnt = F.size(F.col("t")) - (n - 1)
    gram = lambda i: F.concat_ws(  # noqa: E731
        " ", *[F.element_at(F.col("t"), i + k) for k in range(n)]
    )
    grams = F.when(cnt < 1, F.array().cast("array<string>")).otherwise(
        F.transform(F.sequence(F.lit(1), cnt), gram)
    )
    if distinct_within_doc:
        grams = F.array_distinct(grams)
    return base.select(*keep, F.explode(grams).alias("g"))


def q_quality_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition quality signals (the Gopher/MassiveText repetition-filter
    pair, Rae et al. 2021 §A1.1, public): per document, the fraction of
    bigram occurrences taken by the MOST frequent bigram, and the fraction
    of trigram occurrences that are duplicates (1 − distinct/total). High
    values flag boilerplate/spam for pretraining filters.

    Plan shape: explode n-grams → two hash aggregates per n — all
    map-side-combining on (doc_id[, gram]) keys, shuffle rows bounded by
    distinct grams per doc, then a doc-keyed join AQE plans as broadcast
    or colocated-shuffle. No UDFs, no windows over the gram stream. Docs
    too short for an n-gram yield NULL fractions (both engines).

    Rejected alternative (measured): a shuffle-FREE form folding each
    document's sorted gram array with ``F.aggregate`` (mode + distinct as
    one narrow pass, 0 exchanges in the plan) benches 48.5 s vs 2.9 s at
    sf0.1 — higher-order-function lambdas are interpreted per element,
    and that 16× CPU penalty dwarfs the two gram-stream exchanges it
    deletes. Exploding into codegen'd hash aggregates IS the fast plan."""
    d = load_table(spark, sf_dir, "documents")
    bgc = _ngram_rows(d, 2).groupBy("doc_id", "g").agg(F.count("*").alias("c"))
    bstats = bgc.groupBy("doc_id").agg(
        F.sum("c").alias("n_bigrams"), F.max("c").alias("top_c")
    )
    tg = _ngram_rows(d, 3)
    tstats = tg.groupBy("doc_id").agg(
        F.count("*").alias("n_trigrams"),
        F.countDistinct("g").alias("n_distinct_tri"),
    )
    return (
        d.select("doc_id")
        .join(bstats, "doc_id", "left")
        .join(tstats, "doc_id", "left")
        .select(
            "doc_id",
            "n_bigrams",
            F.round(F.col("top_c") / F.col("n_bigrams"), 6).alias(
                "top_bigram_frac"
            ),
            "n_trigrams",
            F.round(
                F.lit(1) - F.col("n_distinct_tri") / F.col("n_trigrams"), 6
            ).alias("dup_trigram_frac"),
        )
    )


#: stand-in benchmark corpus: every 97th doc plays the held-out eval set
BENCHMARK_MOD = 97


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: drop every training document sharing ANY
    normalized word 3-gram with the benchmark set (stand-in: doc_id ≡ 0
    mod 97 — the real pipeline swaps in the eval-suite text; production
    n is 8-13, 3 here so the tiny synthetic docs can actually collide).

    Plan shape: benchmark grams are DISTINCT and broadcast (an eval suite
    is KBs against a 100 TB corpus); contamination is a broadcast
    LEFT SEMI on the gram stream → distinct doc_ids → LEFT ANTI against
    the corpus (left to AQE: usually broadcast, but the contaminated-id
    set scales with the contamination rate, so it is not hinted). No
    all-pairs comparison; the only wide ops are the two distincts."""
    d = load_table(spark, sf_dir, "documents")
    is_bench = F.col("doc_id") % BENCHMARK_MOD == 0
    grams = _ngram_rows(d, 3)
    bench_grams = (
        grams.filter(F.col("doc_id") % BENCHMARK_MOD == 0).select("g").distinct()
    )
    contaminated = (
        grams.filter(F.col("doc_id") % BENCHMARK_MOD != 0)
        .join(F.broadcast(bench_grams), "g", "left_semi")
        .select("doc_id")
        .distinct()
    )
    return (
        d.filter(~is_bench)
        .join(contaminated, "doc_id", "left_anti")
        .select("doc_id", "lang", "source")
    )


def q_decontaminate_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contamination-DRIFT report (r12 queue): decontaminate two corpus
    halves against the SAME benchmark and diff the per-lang hit rates —
    the q_bpe_drift_report two-population pattern applied to
    q_decontaminate. A crawl whose even snapshot shows a materially
    higher benchmark-collision rate than its odd twin is leaking eval
    text into new deliveries (or a snapshot was drawn from a mirror of
    the eval suite) — the monitoring row a decontamination stage
    publishes next to its drop counts. Halves are deterministic
    (doc_id parity over the non-benchmark corpus); the benchmark set
    and the 3-gram collision rule are EXACTLY q_decontaminate's
    (``_ngram_rows``, BENCHMARK_MOD), so this id drifts iff the
    registered decontaminator would.

    Output: one row per lang — doc and contaminated-doc counts plus
    6-dp hit rates per half, and rate_drift = rate_even − rate_odd
    (signed, 6-dp re-quantized).

    Plan: ONE gram stream feeds the benchmark-distinct and both
    halves' contamination probes (benchmark grams broadcast — an eval
    suite is KBs at any corpus size); the per-(lang, half) rollup is a
    single map-side-combined aggregate after a conditional split, so
    the whole report adds one |langs|-bounded exchange on top of
    q_decontaminate's own topology. Zero-doc halves publish rate 0
    (guarded division, mirrored in the oracle)."""
    d = load_table(spark, sf_dir, "documents")
    is_bench = F.col("doc_id") % BENCHMARK_MOD == 0
    grams = _ngram_rows(d, 3)
    bench_grams = (
        grams.filter(F.col("doc_id") % BENCHMARK_MOD == 0)
        .select("g")
        .distinct()
    )
    contaminated = (
        grams.filter(F.col("doc_id") % BENCHMARK_MOD != 0)
        .join(F.broadcast(bench_grams), "g", "left_semi")
        .select("doc_id")
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    even = F.col("doc_id") % 2 == 0
    per = (
        d.filter(~is_bench)
        .select("doc_id", "lang")
        .join(contaminated, "doc_id", "left")
        .groupBy("lang")
        .agg(
            F.sum(even.cast("long")).alias("docs_even"),
            F.sum((even & F.col("hit").isNotNull()).cast("long")).alias(
                "hits_even"
            ),
            F.sum((~even).cast("long")).alias("docs_odd"),
            F.sum(((~even) & F.col("hit").isNotNull()).cast("long")).alias(
                "hits_odd"
            ),
        )
    )

    def q6(c):
        return F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)

    def rate(hits, docs):
        return F.when(
            F.col(docs) > 0,
            q6(F.col(hits).cast("double") / F.col(docs).cast("double")),
        ).otherwise(F.lit(0.0))

    return per.select(
        "lang",
        "docs_even",
        "hits_even",
        rate("hits_even", "docs_even").alias("rate_even"),
        "docs_odd",
        "hits_odd",
        rate("hits_odd", "docs_odd").alias("rate_odd"),
        q6(
            rate("hits_even", "docs_even") - rate("hits_odd", "docs_odd")
        ).alias("rate_drift"),
    )


def q_contamination_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-SOURCE contamination report (r12): q_decontaminate's
    benchmark-collision rule re-aggregated by delivery — the table a
    curation team reads to find WHICH feeds leak eval text (a mirror
    of the benchmark shows up here as one source with an outlier
    rate), where q_decontaminate_drift watches the rate over time.
    Same grams, same benchmark set, same collision rule
    (``_ngram_rows``, BENCHMARK_MOD) — this id drifts iff the
    registered decontaminator would.

    Output: one row per source — n_docs (non-benchmark), n_contaminated,
    and the 6-dp contamination rate (guarded division).

    Plan: the q_decontaminate topology (one gram stream, broadcast
    benchmark grams, contaminated-id distinct) + ONE
    |sources|-bounded rollup."""
    d = load_table(spark, sf_dir, "documents")
    is_bench = F.col("doc_id") % BENCHMARK_MOD == 0
    grams = _ngram_rows(d, 3)
    bench_grams = (
        grams.filter(F.col("doc_id") % BENCHMARK_MOD == 0)
        .select("g")
        .distinct()
    )
    contaminated = (
        grams.filter(F.col("doc_id") % BENCHMARK_MOD != 0)
        .join(F.broadcast(bench_grams), "g", "left_semi")
        .select("doc_id")
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    per = (
        d.filter(~is_bench)
        .select("doc_id", "source")
        .join(contaminated, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.col("hit").isNotNull().cast("long")).alias(
                "n_contaminated"
            ),
        )
    )
    rate = F.when(
        F.col("n_docs") > 0,
        F.floor(
            F.col("n_contaminated").cast("double")
            / F.col("n_docs").cast("double")
            * F.lit(1e6)
            + F.lit(0.5)
        )
        / F.lit(1e6),
    ).otherwise(F.lit(0.0))
    return per.select(
        "source", "n_docs", "n_contaminated", rate.alias("contamination_rate")
    )


#: df cap for the STORED corpus gram posting the incremental
#: decontaminator probes: grams held by more than this many corpus docs
#: are dropped from the index (the stop-gram guard — a benchmark gram
#: that common is boilerplate, not leakage, and its posting list is the
#: Σ df blow-up term; the dedup family's DF_CAP discipline applied to
#: the contamination index)
DECON_DF_CAP = 64

#: old/new benchmark split for the incremental maintainer: the stand-in
#: eval suite (doc_id % 97) divides into the stored half (% 194 == 0)
#: and the newly-arrived delta (% 97 == 0 but % 194 != 0)
BENCHMARK_DELTA_MOD = 2 * BENCHMARK_MOD


def q_decontaminate_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental DECONTAMINATION maintainer (VERDICT r12 item 3) —
    benchmarks update too: when a NEW benchmark shard arrives, only ITS
    grams should be probed against the stored corpus gram posting;
    q_decontaminate's full-corpus re-scan per benchmark change is the
    batch shape this replaces. Deterministic split: the stand-in eval
    suite (doc_id % 97) divides into the stored benchmark (% 194 == 0)
    and the day's delta (% 97 == 0, % 194 ≠ 0).

    Stored state (built once here as the baseline — at 100 TB both are
    loaded tables, the pipelines/incremental.py discipline):

    - the corpus gram POSTING: distinct (doc_id, gram) over non-benchmark
      docs, df-capped at DECON_DF_CAP (grams common to more corpus docs
      than the cap are stop-grams, excluded from the index — this is the
      maintainer's documented semantic divergence from the uncapped
      q_decontaminate re-scan, mirrored exactly in the oracle);
    - the contaminated-id set vs the OLD benchmark.

    The day's work: the delta shard's distinct grams (an eval-suite
    delta is KBs at any corpus size — broadcast, q_decontaminate's
    rationale) semi-probe the stored posting; corpus text is never
    re-tokenized and posting rows not matching a delta gram are never
    paired. Output: one row per contaminated corpus doc post-update —
    (doc_id, lang, source, phase), phase = 'stored' (already flagged by
    the old benchmark; the delta probe owes it nothing) or 'delta'
    (newly flagged by this delivery). Oracle: the two-fixpoint SQL (old
    benchmark, old + delta) over the same capped posting."""
    from breweries_case_spark.operators.dedup import broadcast_if_small

    d = load_table(spark, sf_dir, "documents")
    is_bench = F.col("doc_id") % BENCHMARK_MOD == 0
    is_old_bench = F.col("doc_id") % BENCHMARK_DELTA_MOD == 0
    grams = _ngram_rows(d, 3)

    # stored index stand-in: distinct capped posting over the corpus.
    # r13 (optimization round): the posting key CONTAINS doc_id, so the
    # old global .distinct() only ever removed within-doc repeats — the
    # in-scan array_distinct form is row-identical and deletes the full
    # gram-stream exchange (guide §2.4).
    posting = (
        _ngram_rows(d, 3, distinct_within_doc=True)
        .filter(F.col("doc_id") % BENCHMARK_MOD != 0)
        .localCheckpoint()
    )
    # r13: the cap is applied as a broadcast ANTI join against the
    # STOP-gram set (df > cap) instead of a semi join against the rare
    # set — rare ≈ all distinct grams (Zipf tail), stop-grams are the
    # bounded head (≤ |posting|/cap by pigeonhole, tiny in practice), so
    # the anti build side is the small one and the posting is not
    # re-shuffled to be filtered (guide §3.1). Size-gated: an oversized
    # stop set falls back to the shuffle anti-join plan.
    stop = (
        posting.groupBy("g")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") > DECON_DF_CAP)
        .select("g")
        .localCheckpoint()
    )
    capped = posting.join(
        broadcast_if_small(stop), "g", "left_anti"
    ).localCheckpoint()

    old_grams = grams.filter(is_old_bench).select("g").distinct()
    delta_grams = (
        grams.filter(is_bench & ~is_old_bench).select("g").distinct()
    )
    # r13: the contaminated-id sets are contamination-rate-bounded (KBs
    # against any corpus) — checkpoint + size-gate a broadcast so the
    # final corpus pass is two broadcast left joins instead of three
    # doc_id exchanges (guide §3.1).
    stored_ids = (
        capped.join(F.broadcast(old_grams), "g", "left_semi")
        .select("doc_id")
        .distinct()
        .withColumn("_s", F.lit(1))
        .localCheckpoint()
    )
    delta_ids = (
        capped.join(F.broadcast(delta_grams), "g", "left_semi")
        .select("doc_id")
        .distinct()
        .withColumn("_x", F.lit(1))
        .localCheckpoint()
    )
    return (
        d.filter(~is_bench)
        .select("doc_id", "lang", "source")
        .join(broadcast_if_small(stored_ids), "doc_id", "left")
        .join(broadcast_if_small(delta_ids), "doc_id", "left")
        .filter(F.col("_s").isNotNull() | F.col("_x").isNotNull())
        .select(
            "doc_id",
            "lang",
            "source",
            F.when(F.col("_s").isNotNull(), F.lit("stored"))
            .otherwise(F.lit("delta"))
            .alias("phase"),
        )
    )


def q_ngram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-trained bigram language-model fluency score per document:
    for each bigram occurrence (w1, w2), the conditional probability
    P(w2|w1) = count(w1 w2) / count(w1 ·) estimated from the corpus
    itself, averaged per document. The CCNet/KenLM quality-scoring shape
    with the LM trained in-plan — low scores flag token soup, high scores
    repetitive/templated text. Probabilities are averaged directly (not
    log-perplexity) so the oracle avoids cross-libm transcendentals.

    Plan shape: one gram explode feeds BOTH count tables and the scoring
    join (Catalyst reuses the exchange); the LM tables are vocab-bounded
    (Zipf-truncated in practice, ≪ corpus), so at 100 TB they broadcast —
    here AQE picks the strategy at runtime. Final per-doc aggregate
    shuffles on doc_id. Single-token docs have no bigrams and drop out
    (both engines)."""
    d = load_table(spark, sf_dir, "documents")
    big = _ngram_rows(d, 2).select(
        "doc_id", "g", F.substring_index("g", " ", 1).alias("w1")
    )
    c2 = big.groupBy("g").agg(F.count("*").alias("c2"))
    c1 = big.groupBy("w1").agg(F.count("*").alias("c1"))
    scored = (
        big.join(c2, "g")
        .join(c1, "w1")
        .select("doc_id", (F.col("c2") / F.col("c1")).alias("p"))
    )
    return scored.groupBy("doc_id").agg(
        F.count("*").alias("n_bigrams"),
        decimal_avg(F.col("p"), 6).alias("avg_cond_p"),
    )


NGRAM_TOPK = 10


def q_doc_ngram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language top-K trigrams by corpus frequency — the vocabulary /
    boilerplate-inspection pass of a corpus audit. Total ordering
    (count DESC, gram ASC) makes the ranking deterministic under count
    ties. Gram counts partial-aggregate map-side; the ranking window
    partitions by lang (|langs| partitions, each vocab-bounded — at
    100 TB rank over a pre-aggregated count table, never the gram
    stream)."""
    d = load_table(spark, sf_dir, "documents")
    tg = _ngram_rows(d, 3, keep=("doc_id", "lang"))
    cnt = tg.groupBy("lang", "g").agg(F.count("*").alias("cnt"))
    w = Window.partitionBy("lang").orderBy(F.col("cnt").desc(), F.col("g"))
    return (
        cnt.select(
            "lang",
            F.col("g").alias("trigram"),
            "cnt",
            F.row_number().over(w).alias("rnk"),
        )
        .filter(F.col("rnk") <= NGRAM_TOPK)
    )


#: span width (tokens) for fine-grained duplication analysis
DUP_SPAN_N = 8


def q_dup_span_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fine-grained substring duplication: per document, the fraction of
    8-token spans that also occur in ANOTHER document — the
    span-level signal behind Lee et al. 2022's "Deduplicating Training
    Data Makes Language Models Better" (ExactSubstr), re-expressed as
    n-gram inventory instead of suffix arrays: a span is duplicated iff
    its 8-gram appears under >1 distinct doc_id. Doc-level dedup misses
    these partial overlaps (quote farms, boilerplate headers, syndicated
    paragraphs); this id quantifies them for span-masking or filtering.

    Plan: explode spans (narrow) → md5 the gram so every later key is 32
    chars instead of arbitrary-width text → ONE partial-aggregating
    shuffle to per-(doc, gram) occurrence counts (the corpus is scanned,
    tokenized and hashed exactly once — a groupBy-then-join-back shape
    was measured re-exploding the corpus twice with no exchange reuse) →
    a gram-keyed window for the total per gram: a span is duplicated iff
    the gram's corpus total exceeds its own-doc occurrences — exactly
    "appears in another doc", with no distinct-count and no join → one
    doc-keyed aggregate. Three shuffles over shrinking row sets, the
    MapReduce shape of the paper's scalable variant. Docs shorter than
    8 tokens emit no spans and drop out (both engines)."""
    d = load_table(spark, sf_dir, "documents")
    g = _ngram_rows(d, DUP_SPAN_N).select(
        "doc_id", F.md5(F.col("g")).alias("h")
    )
    occ = g.groupBy("doc_id", "h").agg(F.count("*").alias("occ"))
    tot = occ.withColumn(
        "tot", F.sum("occ").over(Window.partitionBy("h"))
    )
    counted = tot.groupBy("doc_id").agg(
        F.sum("occ").alias("n_spans"),
        F.sum(
            F.when(F.col("tot") > F.col("occ"), F.col("occ")).otherwise(
                F.lit(0)
            )
        ).alias("n_dup_spans"),
    )
    return counted.select(
        "doc_id",
        "n_spans",
        "n_dup_spans",
        (
            F.floor(
                F.col("n_dup_spans") / F.col("n_spans") * 1e6 + F.lit(0.5)
            )
            / 1e6
        ).alias("dup_frac"),
    )


def q_dup_span_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr span REMOVAL — the production form of Lee et al.
    2022's "Deduplicating Training Data Makes Language Models Better"
    (ExactSubstr): where q_dup_span_fraction only SCORES duplication,
    this operator EXCISES it — every token covered by a cross-doc-
    duplicated DUP_SPAN_N-gram is removed, and the output is the
    per-doc KEPT SPANS (gaps-and-islands over the removed intervals)
    with the surviving text rebuilt, i.e. what actually feeds the
    tokenizer. One row per kept island: (doc_id, kept_start, kept_end,
    kept_tokens, kept_text), token positions 1-based inclusive.

    Semantics: a span starting at p (covering tokens p..p+N−1) is
    duplicated iff its N-gram occurs under another doc_id (corpus
    total > own-doc occurrences — same rule as q_dup_span_fraction, no
    distinct-count, no join-back). Removed intervals are merged when
    they overlap OR touch (adjacent removals form one contiguous
    excision); kept islands are the complement within [1, n_tok], so a
    doc with no duplicated span survives whole, and a doc that is
    entirely boilerplate vanishes. Docs shorter than N tokens emit no
    spans and survive whole — per the paper, too short to match.

    Plan: one scan builds the token array; span rows (pos, md5(gram))
    explode inside the scan stage; TWO analytic windows on the SAME
    span rows mark duplication (partition h / partition (doc,h) —
    corpus-keyed like q_dup_span_fraction's gram window); the interval
    merge is the classic prev-running-max gaps-and-islands — two
    doc-keyed windows + one (doc, grp) aggregate over the (small)
    duplicated-start subset; the complement is a lag window + a tail
    aggregate + an anti-join for untouched docs; one final doc-keyed
    join rebuilds the kept text from the token array. Every shuffle
    key is doc_id or the gram hash; nothing is all-pairs, and the
    interval rows the merge windows see are ≤ the duplicated-span
    count, a small fraction of the token stream. The oracle runs the
    identical gaps-and-islands as a DuckDB CTE chain sharing no code."""
    n = DUP_SPAN_N
    base = _span_base(load_table(spark, sf_dir, "documents"))
    # md5 the gram so every window key is 32 chars
    sp = _span_rows(base, n).select("doc_id", "pos", F.md5("g").alias("h"))
    dup_starts = (
        sp.withColumn("tot", F.count("*").over(Window.partitionBy("h")))
        .withColumn(
            "occ", F.count("*").over(Window.partitionBy("doc_id", "h"))
        )
        .filter(F.col("tot") > F.col("occ"))
        .select("doc_id", "pos")
    )
    return _excise_spans(base, dup_starts, n)


def _span_base(d: DataFrame) -> DataFrame:
    """(doc_id, t, n): the excision family's token arrays (empty tokens
    dropped) and their lengths, checkpointed — the span rows AND the
    kept-text rebuild both read them."""
    return (
        d.select("doc_id", tokens(F.col("text"), drop_empty=True).alias("t"))
        .withColumn("n", F.size("t").cast("long"))
        .localCheckpoint()
    )


def _span_rows(base: DataFrame, n: int) -> DataFrame:
    """(doc_id, pos, g): one row per n-token span of ``base``'s token
    arrays — the 1-based start position and the space-joined gram,
    exploded inside the scan stage. Docs shorter than n emit none."""
    span = F.explode(
        F.transform(
            F.sequence(F.lit(1), (F.col("n") - F.lit(n - 1)).cast("int")),
            lambda i: F.struct(
                i.cast("long").alias("pos"),
                F.concat_ws(" ", F.slice(F.col("t"), i, n)).alias("g"),
            ),
        )
    )
    return (
        base.filter(F.col("n") >= n)
        .select("doc_id", span.alias("s"))
        .select("doc_id", F.col("s.pos").alias("pos"), F.col("s.g").alias("g"))
    )


def _excise_spans(
    base: DataFrame, starts: DataFrame, span_n: int
) -> DataFrame:
    """Shared span-EXCISION core (q_dup_span_removal /
    q_decontaminate_spans): given per-doc token arrays ``base``
    (doc_id, t, n) and flagged span starts ``starts`` (doc_id, pos;
    1-based, each covering tokens pos..pos+span_n−1), merge
    overlapping/touching removed intervals (prev-running-max
    gaps-and-islands), complement within [1, n], and rebuild each kept
    island's text by array slice. Docs in ``base`` with no flagged
    span survive whole; docs fully covered vanish."""
    removed = starts.select(
        "doc_id", "pos", (F.col("pos") + F.lit(span_n - 1)).alias("e")
    )

    # merge overlapping/adjacent removed intervals (gaps-and-islands)
    w = Window.partitionBy("doc_id").orderBy("pos")
    prev_max = F.max("e").over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    grp = F.sum(
        F.when(
            prev_max.isNull() | (F.col("pos") > prev_max + 1), 1
        ).otherwise(0)
    ).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
    rm = (
        removed.withColumn("grp", grp)
        .groupBy("doc_id", "grp")
        .agg(F.min("pos").alias("rm_start"), F.max("e").alias("rm_end"))
        .localCheckpoint()  # read by gaps, tails AND the anti-join
    )

    # complement: gaps before each removed region, the tail after the
    # last one, and whole-doc islands for untouched docs
    wr = Window.partitionBy("doc_id").orderBy("rm_start")
    gaps = rm.select(
        "doc_id",
        F.coalesce(
            F.lag("rm_end").over(wr) + 1, F.lit(1).cast("long")
        ).alias("kept_start"),
        (F.col("rm_start") - 1).alias("kept_end"),
    )
    tails = (
        rm.groupBy("doc_id")
        .agg((F.max("rm_end") + 1).alias("kept_start"))
        .join(base.select("doc_id", F.col("n").alias("kept_end")), "doc_id")
    )
    whole = (
        base.filter(F.col("n") >= 1)
        .join(rm.select("doc_id").distinct(), "doc_id", "left_anti")
        .select(
            "doc_id",
            F.lit(1).cast("long").alias("kept_start"),
            F.col("n").alias("kept_end"),
        )
    )
    islands = (
        gaps.unionByName(tails.select("doc_id", "kept_start", "kept_end"))
        .unionByName(whole)
        .filter(F.col("kept_end") >= F.col("kept_start"))
    )
    return islands.join(base, "doc_id").select(
        "doc_id",
        "kept_start",
        "kept_end",
        (F.col("kept_end") - F.col("kept_start") + 1).alias("kept_tokens"),
        F.concat_ws(
            " ",
            F.slice(
                F.col("t"),
                F.col("kept_start").cast("int"),
                (F.col("kept_end") - F.col("kept_start") + 1).cast("int"),
            ),
        ).alias("kept_text"),
    )


#: intra-doc repetition span width (3 — the driver corpora repeat
#: 3-grams within docs but not 8-grams, and Gopher-style repetition
#: filters operate on small n)
REP_SPAN_N = 3


def q_repetition_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTRA-doc repetition removal — the third member of the excision
    family (cross-doc: q_dup_span_removal; benchmark:
    q_decontaminate_spans): for every REP_SPAN_N-gram that repeats
    WITHIN a document, keep its FIRST occurrence and excise every later
    one — the surgical form of the Gopher/MassiveText duplicate-n-gram
    repetition filters (Rae et al. 2021 §A1.1 score documents;
    production cleanup cuts the repeated spans). Output =
    q_dup_span_removal's kept-island schema via the shared
    ``_excise_spans`` core. Overlapping self-repeats ("a a a a") excise
    from the second span start onward — tokens covered by any
    later-occurrence span are removed even where they overlap the first
    occurrence; deterministic on both engines.

    Plan: positioned gram rows inside the scan stage; ONE doc-keyed
    analytic window (min pos per (doc, gram) — partitions are
    doc-bounded, never corpus-keyed: this op needs no cross-doc state
    at all, so at 100 TB it is embarrassingly parallel by document);
    the excision chain runs on the (small) repeated-start subset."""
    n = REP_SPAN_N
    base = _span_base(load_table(spark, sf_dir, "documents"))
    sp = _span_rows(base, n).select("doc_id", "pos", F.md5("g").alias("h"))
    first = F.min("pos").over(Window.partitionBy("doc_id", "h"))
    starts = (
        sp.withColumn("first_pos", first)
        .filter(F.col("pos") > F.col("first_pos"))
        .select("doc_id", "pos")
    )
    return _excise_spans(base, starts, n)


def q_decontaminate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPAN-LEVEL benchmark decontamination — the surgical variant of
    q_decontaminate: instead of DROPPING every training doc that shares
    a normalized 3-gram with the benchmark set, EXCISE only the
    overlapping spans and keep the rest of the document (the
    eval-overlap masking production pipelines prefer when contamination
    is a quote inside an otherwise-clean doc — dropping whole docs
    over-removes, Lee et al./open-LM decontamination reports both
    modes). Benchmark stand-in: doc_id ≡ 0 mod BENCHMARK_MOD, as in
    q_decontaminate; benchmark docs themselves are excluded from the
    output. Output = per-doc kept islands with rebuilt text
    (q_dup_span_removal's schema, via the shared ``_excise_spans``
    core).

    Plan: the benchmark gram set is DISTINCT + broadcast (KB-scale
    against a 100 TB corpus — the q_decontaminate shape); contaminated
    span starts come from ONE broadcast LEFT SEMI on the positioned
    gram stream (no window needed — membership, not frequency); the
    excision is the shared interval-merge/complement window chain on
    the (small) contaminated subset. Oracle: bench-gram CTE + the same
    gaps-and-islands chain, sharing no code."""
    n = 3
    d = load_table(spark, sf_dir, "documents")
    is_bench = F.col("doc_id") % BENCHMARK_MOD == 0
    base = _span_base(d.filter(~is_bench))
    sp = _span_rows(base, n)
    bench_grams = _ngram_rows(d.filter(is_bench), n).select("g").distinct()
    starts = sp.join(F.broadcast(bench_grams), "g", "left_semi").select(
        "doc_id", "pos"
    )
    return _excise_spans(base, starts, n)


#: content-defined chunking: a token closes a chunk when its hash ≡ 0
#: (mod CDC_MOD) → expected chunk length CDC_MOD tokens, boundaries set
#: by CONTENT, so an insertion only reshapes its own chunk
CDC_MOD = 16


def q_dedup_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-document dedup at content-defined chunk granularity — the CDC
    technique storage systems use (rolling-hash boundaries), applied to
    training text: a token ends a chunk when its hash ≡ 0 mod CDC_MOD,
    so chunk boundaries move WITH the content. Fixed n-gram spans
    (q_dup_span_fraction) lose alignment after a single token insertion;
    CDC chunks re-synchronize at the next boundary, which is why CDC
    finds shifted duplication n-grams miss. Output per doc: chunk count,
    cross-doc duplicated chunk count (a chunk is duplicated iff its
    content hash appears under another doc), and the duplicated
    fraction.

    Plan shape (the q_dup_span_fraction discipline): one explode of the
    token stream with positions → per-token boundary flag from an
    engine-neutral md5-chunk hash → running-sum window per doc assigns
    chunk ids → one (doc, chunk) aggregate builds the ordered chunk text
    and hashes it → a chunk-hash-keyed window marks cross-doc duplicates
    (corpus total > own occurrences — no distinct-count, no join-back) →
    one doc-keyed aggregate. Shuffles carry shrinking row sets
    (tokens → chunks → docs); measured corpus-linear for the span
    variant, same shape here."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.posexplode(
            F.filter(
                F.split(F.lower(F.trim(F.col("text"))), r"\s+"),
                lambda t: t != "",
            )
        ).alias("pos", "tok"),
    )
    tok_hash = F.conv(F.substring(F.md5(F.col("tok")), 1, 8), 16, 10).cast(
        "long"
    )
    flagged = toks.select(
        "doc_id",
        "pos",
        "tok",
        (tok_hash % CDC_MOD == 0).cast("int").alias("is_boundary"),
    )
    w = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    chunked = flagged.select(
        "doc_id",
        "pos",
        "tok",
        F.coalesce(F.sum("is_boundary").over(w), F.lit(0)).alias("chunk_id"),
    )
    chunks = (
        chunked.groupBy("doc_id", "chunk_id")
        .agg(
            F.md5(
                F.concat_ws(
                    " ",
                    F.transform(
                        F.array_sort(
                            F.collect_list(F.struct("pos", "tok"))
                        ),
                        lambda s: s.tok,
                    ),
                )
            ).alias("h")
        )
    )
    occ = chunks.groupBy("doc_id", "h").agg(F.count("*").alias("occ"))
    tot = occ.withColumn("tot", F.sum("occ").over(Window.partitionBy("h")))
    counted = tot.groupBy("doc_id").agg(
        F.sum("occ").alias("n_chunks"),
        F.sum(
            F.when(F.col("tot") > F.col("occ"), F.col("occ")).otherwise(
                F.lit(0)
            )
        ).alias("n_dup_chunks"),
    )
    return counted.select(
        "doc_id",
        "n_chunks",
        "n_dup_chunks",
        (
            F.floor(
                F.col("n_dup_chunks") / F.col("n_chunks") * 1e6 + F.lit(0.5)
            )
            / 1e6
        ).alias("dup_frac"),
    )


#: BM25 retrieval parameters (Robertson/Sparck-Jones defaults) and the
#: fixed query term set — a query PARAMETER like q_sim_topk's query vector.
BM25_K1 = 1.2
BM25_B = 0.75
BM25_TERMS = ("hash", "join", "spark")


def q_text_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 relevance of every document against a fixed query term set —
    the retrieval-scoring primitive behind corpus search and
    RAG-candidate generation (reference analog: the interactive Trino
    query surface, `trino/etc/catalog/iceberg.properties`, applied to
    ranked text retrieval).

    score(d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl)) with
    idf(t) = ln((N − df + 0.5)/(df + 0.5) + 1) (the standard "plus one"
    form, always positive).

    Plan shape: per-doc length dl comes from ``size(filter(tokens))`` —
    computed INSIDE the scan projection, no explode and no shuffle for
    the length pass. Only the explode→filter(term IN query) stream is
    shuffled, and the filter cuts it to query-term hits before the
    (doc, term) hash aggregate — at 100 TB the shuffled stream is
    O(query-term postings), not O(corpus tokens). df and the (N, avgdl)
    scalars are 1-row/|query|-row broadcasts. Integer token counts sum
    exactly; the only transcendental (ln) is computed once per query
    term and re-quantized to 9 dp before entering products, and each
    per-term contribution is re-quantized to 6 dp then decimal-summed,
    so addend order can never move the published score (SURVEY §7.3
    hard part 5)."""
    d = load_table(spark, sf_dir, "documents")
    tk = F.filter(
        F.split(F.lower(F.trim(F.col("text"))), r"\s+"), lambda t: t != ""
    )
    docs = d.select("doc_id", tk.alias("tk")).select(
        "doc_id", "tk", F.size("tk").alias("dl")
    )
    stats = docs.agg(
        F.count("*").cast("double").alias("_n_docs"),
        (F.sum("dl").cast("double") / F.count("*")).alias("_avgdl"),
    )
    tf = (
        docs.select("doc_id", "dl", F.explode("tk").alias("term"))
        .filter(F.col("term").isin(*BM25_TERMS))
        .groupBy("doc_id", "dl", "term")
        .agg(F.count("*").alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    idf_raw = F.log(
        (F.col("_n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
    )
    idf = F.floor(idf_raw * 1e9 + F.lit(0.5)) / 1e9
    denom = F.col("tf") + BM25_K1 * (
        1.0 - BM25_B + BM25_B * F.col("dl") / F.col("_avgdl")
    )
    contrib = idf * (F.col("tf") * (BM25_K1 + 1.0)) / denom
    per_term = (
        tf.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            (F.floor(contrib * 1e6 + F.lit(0.5)) / 1e6).alias("c"),
        )
    )
    return per_term.groupBy("doc_id").agg(
        F.count("*").alias("n_hit_terms"),
        F.sum(F.col("c").cast("decimal(18,6)")).cast("double").alias("bm25"),
    )


def q_bm25_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental BM25 index maintainer (the stored-index
    family beside q_tfidf_incremental): score a NEW
    document shard (doc_id % 20 == 0) against the fixed query-term set
    under the POST-append index without re-tokenizing the corpus.
    Stored state (in-fixture stand-ins for loaded tables): the corpus
    scalars (N, Σdl — both integer counts, so they merge with the
    shard's by exact addition; avgdl divides at read time) and the
    per-query-term corpus df table (|BM25_TERMS| rows). The day's work:
    tokenize the SHARD, add its df delta and scalar deltas, and run
    q_text_bm25's exact scoring expression (9-dp-requantized idf,
    6-dp-requantized per-term contributions, decimal final sum) over
    the shard's (doc, term) hits only.

    Output: q_text_bm25's row shape restricted to shard docs. Oracle:
    the shared BM25 CTE chain over ALL documents, filtered to the shard
    — equality proves the merged (N, avgdl, df) equal the full
    recompute bit for bit (integer merges; one double division)."""
    d = load_table(spark, sf_dir, "documents")
    is_shard = F.col("doc_id") % TEXT_SHARD_MOD == 0
    tk = tokens(F.col("text"), drop_empty=True)
    docs = d.select("doc_id", tk.alias("tk")).select(
        "doc_id", "tk", F.size("tk").alias("dl")
    )

    def term_tf(pop):
        return (
            pop.select("doc_id", "dl", F.explode("tk").alias("term"))
            .filter(F.col("term").isin(*BM25_TERMS))
            .groupBy("doc_id", "dl", "term")
            .agg(F.count("*").alias("tf"))
        )

    corpus_docs = docs.filter(~is_shard)
    stored_scalars = corpus_docs.agg(
        F.count("*").alias("_n_c"), F.sum("dl").alias("_s_c")
    ).localCheckpoint()
    stored_df = (
        term_tf(corpus_docs)
        .groupBy("term")
        .agg(F.count("*").alias("df"))
        .localCheckpoint()
    )

    shard_docs = docs.filter(is_shard)
    shard_scalars = shard_docs.agg(
        F.count("*").alias("_n_s"), F.sum("dl").alias("_s_s")
    )
    shard_tf = term_tf(shard_docs)
    delta_df = shard_tf.groupBy("term").agg(F.count("*").alias("df"))
    merged_df = merge_counts(stored_df, delta_df, "term", "df")
    stats = (
        stored_scalars.crossJoin(F.broadcast(shard_scalars))
        .select(
            (F.col("_n_c") + F.col("_n_s")).cast("double").alias("_n_docs"),
            (
                (
                    F.coalesce("_s_c", F.lit(0))
                    + F.coalesce("_s_s", F.lit(0))
                ).cast("double")
                / (F.col("_n_c") + F.col("_n_s"))
            ).alias("_avgdl"),
        )
    )
    idf_raw = F.log(
        (F.col("_n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
    )
    idf = F.floor(idf_raw * 1e9 + F.lit(0.5)) / 1e9
    denom = F.col("tf") + BM25_K1 * (
        1.0 - BM25_B + BM25_B * F.col("dl") / F.col("_avgdl")
    )
    contrib = idf * (F.col("tf") * (BM25_K1 + 1.0)) / denom
    per_term = (
        shard_tf.join(F.broadcast(merged_df), "term")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            (F.floor(contrib * 1e6 + F.lit(0.5)) / 1e6).alias("c"),
        )
    )
    return per_term.groupBy("doc_id").agg(
        F.count("*").alias("n_hit_terms"),
        F.sum(F.col("c").cast("decimal(18,6)")).cast("double").alias("bm25"),
    )


#: heavy-hitter threshold: tokens with count > n_tokens / HH_K (0.5%)
HH_K = 200
#: Misra-Gries summary size — MUST exceed HH_K: the mergeable-MG
#: undercount is bounded by n / (HH_SKETCH_K + 1) < n / HH_K, so every
#: true heavy hitter survives in at least one partition summary
HH_SKETCH_K = 400


def _mg_merge(counters: dict, batch_counts, k: int) -> dict:
    """Mergeable Misra-Gries step (Agarwal et al., 'Mergeable summaries'):
    add the batch counts, and when more than k counters remain, subtract
    the (k+1)-th largest count from all and drop the non-positive ones.
    Cumulative undercount after any merge sequence is <= n / (k + 1)."""
    for t, c in batch_counts.items():
        counters[t] = counters.get(t, 0) + int(c)
    if len(counters) > k:
        kth = sorted(counters.values(), reverse=True)[k]
        counters = {t: c - kth for t, c in counters.items() if c > kth}
    return counters


def q_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT corpus heavy hitters (tokens with > 1/HH_K of all token
    occurrences) via the standard two-pass distributed topology:

    1. **Candidate pass — map-side Misra-Gries, no shuffle.** Each
       partition folds its token batches into an HH_SKETCH_K-counter
       mergeable MG summary (``_mg_merge``, vectorized per Arrow batch
       with value_counts) and emits only its surviving counters — at
       most HH_SKETCH_K rows per partition regardless of corpus size.
       The MG bound guarantees every token with global count
       > n/HH_K > n/(HH_SKETCH_K+1) survives in >= 1 partition summary,
       so the candidate union is a proven superset.
    2. **Exact pass — recount candidates only.** A broadcast semi join
       prunes the token stream to candidates, then one hash aggregate
       computes exact counts and the integer-exact threshold
       ``count * HH_K > n_tokens`` filters (no float division — the
       oracle compares the same integers).

    Output is EXACT, so this is a full value oracle, not a certificate —
    the sketch only prunes. At 100 TB the candidate set stays
    O(partitions x sketch_k) while a naive global token groupBy would
    shuffle the full stream; the exact pass shuffles candidates only."""
    d = load_table(spark, sf_dir, "documents")
    tokens = d.select(
        F.explode(
            F.split(F.lower(F.trim(F.col("text"))), r"\s+")
        ).alias("token")
    ).filter(F.col("token") != "")
    tokens = tokens.localCheckpoint()  # shared by both passes + count
    n_tokens = tokens.count()

    def mg_partials(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        counters: dict = {}
        for pdf in batches:
            counters = _mg_merge(
                counters, pdf["token"].value_counts().to_dict(), HH_SKETCH_K
            )
        yield pd.DataFrame(
            {"token": list(counters), "mg_count": list(counters.values())}
        )

    candidates = tokens.mapInPandas(
        mg_partials, "token string, mg_count long"
    ).select("token").distinct()

    exact = (
        tokens.join(F.broadcast(candidates), "token", "left_semi")
        .groupBy("token")
        .agg(F.count("*").alias("n_occurrences"))
        .filter(F.col("n_occurrences") * HH_K > F.lit(n_tokens))
    )
    return exact.select("token", "n_occurrences")


#: sliding chunk geometry: 64-token windows advancing by 48 (16-token
#: overlap) — the context-window prep shape; production swaps the
#: whitespace tokens for BPE ids, same plan
CHUNK_TOKENS = 64
CHUNK_STRIDE = 48


def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window document chunking — the 1→N context-window prep
    every training/RAG pipeline runs before packing: token windows of
    CHUNK_TOKENS advancing by CHUNK_STRIDE (overlap keeps boundary
    context), last partial window kept. A chunk i>0 is only emitted when
    it ADDS tokens beyond the previous window's n-clamped end
    (min(i·stride + tokens, n) > min((i-1)·stride + tokens, n)
    ⇔ n > (i-1)·stride + tokens), so no
    chunk is ever a strict suffix of its predecessor — the dedup real
    chunkers apply: n_chunks = 1 + floor(max(n - tokens + stride - 1, 0)
    / stride). ENTIRELY JVM built-ins
    (split → transform(sequence) → explode): no Python in the hot path,
    whole-stage codegen end to end, and the 1→N expansion happens
    inside the scan stage — no shuffle at any corpus size. Every doc
    emits >= 1 chunk (short docs yield one partial chunk)."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    base = d.select("doc_id", toks.alias("t")).withColumn(
        "n", F.size(F.col("t"))
    )
    n_chunks = F.floor(
        F.greatest(
            F.col("n") - F.lit(CHUNK_TOKENS - CHUNK_STRIDE + 1), F.lit(0)
        )
        / F.lit(CHUNK_STRIDE)
    ).cast("int") + F.lit(1)
    chunk = lambda i: F.struct(  # noqa: E731
        i.alias("chunk_idx"),
        F.concat_ws(
            " ", F.slice(F.col("t"), i * CHUNK_STRIDE + 1, CHUNK_TOKENS)
        ).alias("chunk_text"),
        F.least(
            F.lit(CHUNK_TOKENS), F.col("n") - i * CHUNK_STRIDE
        ).alias("chunk_tokens"),
    )
    return (
        base.withColumn(
            "c",
            F.explode(
                F.transform(F.sequence(F.lit(0), n_chunks - 1), chunk)
            ),
        )
        .select(
            "doc_id",
            F.col("c.chunk_idx").alias("chunk_idx"),
            F.col("c.chunk_text").alias("chunk_text"),
            F.col("c.chunk_tokens").alias("chunk_tokens"),
        )
    )


#: merge candidates surfaced per BPE count step
BPE_TOPK = 20


def q_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE tokenizer-training count step: global
    adjacent-token-pair frequencies, top-BPE_TOPK merge candidates.
    One iteration of the classic corpus-scale BPE trainer (Sennrich et
    al. 2016 "Neural Machine Translation of Rare Words with Subword
    Units", public) — production loops this count step, merging the
    winning pair between iterations; the per-iteration plan is
    identical at every step, so this single step IS the scale shape.

    Plan: the 1→N pair expansion (slice+zip+explode) happens inside
    the scan stage (whole-stage codegen, no Python); the only exchange
    is the pair-count hash aggregate WITH map-side partials — each
    mapper ships at most |local vocab|² pair partials, not its token
    stream; the global top-K is TakeOrderedAndProject (per-partition
    top-K, no full sort). The (count DESC, left, right) order is total,
    so the K-boundary is deterministic on both engines."""
    d = load_table(spark, sf_dir, "documents")
    toks = tokens(F.col("text"), drop_empty=True)
    base = d.select(toks.alias("t")).withColumn("n", F.size("t"))
    ln = F.greatest(F.col("n") - 1, F.lit(0))  # n=1 → zero pairs
    pairs = F.arrays_zip(
        F.slice(F.col("t"), 1, ln).alias("l"),
        F.slice(F.col("t"), 2, ln).alias("r"),
    )
    return (
        base.select(F.explode(pairs).alias("p"))
        .groupBy(
            F.col("p.l").alias("left_tok"), F.col("p.r").alias("right_tok")
        )
        .agg(F.count("*").alias("pair_count"))
        .orderBy(F.col("pair_count").desc(), "left_tok", "right_tok")
        .limit(BPE_TOPK)
    )


def bpe_merge_fold(tokens, left, right):
    """Greedy left-to-right non-overlapping merge of the (left, right)
    pair in a token array, as a JVM-evaluated higher-order fold: append
    each token unless the accumulator's last element is `left` and the
    token is `right` — then collapse the two into one space-joined
    token (a space cannot occur inside a whitespace-split token, so a
    fresh merge is never mistaken for a bare `left`, which is what
    makes an "a a a" run merge floor(run/2) times).

    This form references ``tokens`` exactly ONCE, so k merges can be
    CHAINED as one nested expression (the literal re-encode sites)
    with a tree that stays linear in k — the faster
    ``bpe_merge_greedy`` below references its input many times and
    would make such a chain exponential (it blew the analyzer's
    100-iteration resolution budget when chained, measured). Use
    ``bpe_merge_greedy`` whenever the input is a plain column (loop
    bodies separated by checkpoints, stacked single-merge selects)."""
    return F.aggregate(
        tokens,
        F.array().cast("array<string>"),
        lambda acc, x: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == left)
            & (x == right),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1),
                F.array(F.concat_ws(" ", left, right)),
            ),
        ).otherwise(F.concat(acc, F.array(x))),
    )


def bpe_apply_rules_regex(tokens, rules):
    """Apply a COLLECTED literal merge table (round-ordered
    (left_tok, right_tok) pairs) to a token array — the persisted-
    artifact re-encode path — as one chained ``regexp_replace`` pass
    over a newline-delimited rendering.

    Tokens are whitespace-split so none contains ``\\n``; merged tokens
    are space-joined so they don't either. Render the array as
    ``\\n tok \\n\\n tok \\n\\n ... tok \\n`` (every token bounded by
    newlines on both sides) and each merge rule becomes one literal
    regex ``\\n L \\n\\n R \\n → \\n L␣R \\n``. Java ``replaceAll``
    scans left-to-right and resumes AFTER each consumed match — exactly
    the greedy non-overlapping semantics of ``bpe_merge_fold``,
    including the ``left == right`` run case (floor(run/2) merges), so
    no case split is needed. Each level references its input ONCE, so k
    chained rules build a k-deep linear expression (analyzer-safe where
    the multi-reference vectorized form is not), and each pass is the
    native JVM regex engine instead of an interpreted per-element fold
    — measured 14× over the chained fold on the sf0.1 corpus with
    byte-identical output (l==r and merged-token rules included).
    Patterns are Python-side escaped literals; replacements escape
    ``\\`` and ``$`` (Java Matcher semantics)."""
    s = F.concat(F.lit("\n"), F.array_join(tokens, "\n\n"), F.lit("\n"))
    for r in rules:
        left, right = r["left_tok"], r["right_tok"]
        pat = "\n" + re.escape(left) + "\n\n" + re.escape(right) + "\n"
        repl = ("\n" + left + " " + right + "\n").replace(
            "\\", "\\\\"
        ).replace("$", "\\$")
        s = F.regexp_replace(s, F.lit(pat), F.lit(repl))
    body = F.regexp_replace(s, F.lit("^\n|\n$"), F.lit(""))
    return F.when(F.size(tokens) < 1, F.array().cast("array<string>")).otherwise(
        F.split(body, "\n\n")
    )


def bpe_merge_greedy(tokens, left, right):
    """``bpe_merge_fold``'s semantics in closed vectorized form: when ``left != right`` two match starts
    can never be adjacent (the shared middle token would have to equal
    both), so greedy-LTR degenerates to "merge EVERY match" — drop the
    positions consumed as a match's right half, rewrite match starts
    to the merged token. Two O(n) higher-order passes replace the
    accumulator fold, whose per-element array concat is O(n²)
    interpreted per document (measured 4.3× faster on the sf0.1
    corpus, byte-identical output). The ``left == right`` case
    (overlap genuinely matters) delegates to the exact fold; `F.when`
    branches lazily, so only self-pair winners pay it. NULL
    left/right is the identity, matching the fold (where NULL never
    equals anything and every token is appended unchanged).

    ONLY for inputs that are plain column references — this expression
    references ``tokens`` many times, so chaining it k-deep inline
    grows the tree exponentially; chained sites stack one merge per
    projection (CollapseProject keeps multi-referenced non-cheap
    aliases materialized) or use ``bpe_merge_fold``."""
    fold = bpe_merge_fold(tokens, left, right)
    n = F.size(tokens)
    idx = F.sequence(F.lit(1), n)
    # position i (1-based) is consumed iff a match starts at i-1
    # (F.get is 0-based and NULL out of bounds — no ANSI index hazard)
    keep = F.filter(
        idx,
        lambda i: ~(
            (i > 1)
            & (F.get(tokens, i - 2) == left)
            & (F.get(tokens, i - 1) == right)
        ),
    )
    vec = F.transform(
        keep,
        lambda i: F.when(
            (F.get(tokens, i - 1) == left) & (F.get(tokens, i) == right),
            F.concat_ws(" ", left, right),
        ).otherwise(F.get(tokens, i - 1)),
    )
    return F.when(left.isNull() | right.isNull(), tokens).otherwise(
        F.when(left == right, fold).otherwise(
            F.when(n < 1, F.array().cast("array<string>")).otherwise(vec)
        )
    )


def q_bpe_merge_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The BPE trainer's APPLY step: take the winning pair from the
    count step (q_bpe_pair_counts, top-1) and greedily merge its
    non-overlapping left-to-right occurrences in every document,
    publishing per-doc token counts before/after. Together with the
    count step this is one full BPE training iteration — production
    loops the two, feeding the merged stream back in.

    The merge itself is a real left-to-right fold, executed JVM-side
    as a JVM-evaluated higher-order ``F.aggregate``: the accumulator array
    appends each token unless its last element equals LEFT and the
    token equals RIGHT, in which case the pair collapses into one
    merged token (joined with a space — impossible inside a
    whitespace-split token, so a fresh merge can never be mistaken for
    a bare LEFT and overlapping occurrences — the "a a a" run — merge
    floor(run/2) times, the standard greedy semantics). The winning
    pair reaches every row via crossJoin(broadcast(top-1)) — a 1-row
    scalar broadcast, no driver collect.

    The oracle does NOT re-run a fold (DuckDB's list_reduce cannot
    carry an array accumulator); it verifies through the closed form:
    greedy non-overlapping merges = sum over islands of consecutive
    adjacent-match positions of ceil(island/2). The two computations
    share no code path, so agreement certifies the fold."""
    d = load_table(spark, sf_dir, "documents")
    toks = tokens(F.col("text"), drop_empty=True)
    base = d.select("doc_id", toks.alias("t")).withColumn(
        "n", F.size("t")
    )
    ln = F.greatest(F.col("n") - 1, F.lit(0))
    pairs = F.arrays_zip(
        F.slice(F.col("t"), 1, ln).alias("l"),
        F.slice(F.col("t"), 2, ln).alias("r"),
    )
    top1 = (
        base.select(F.explode(pairs).alias("p"))
        .groupBy(
            F.col("p.l").alias("left_tok"), F.col("p.r").alias("right_tok")
        )
        .agg(F.count("*").alias("pair_count"))
        .orderBy(F.col("pair_count").desc(), "left_tok", "right_tok")
        .limit(1)
        .select("left_tok", "right_tok")
    )
    merged = bpe_merge_greedy(
        F.col("t"), F.col("left_tok"), F.col("right_tok")
    )
    return base.crossJoin(F.broadcast(top1)).select(
        "doc_id",
        "left_tok",
        "right_tok",
        F.col("n").alias("n_tokens_before"),
        (F.col("n") - F.size(merged)).alias("n_merges"),
        F.size(merged).alias("n_tokens_after"),
    )


#: rounds of the k-round BPE training loop (count → merge → recount);
#: the oracle unrolls the same number of rounds
BPE_TRAIN_ROUNDS = 4


def _bpe_adjacent_pairs(col: str):
    """The adjacent-pair expansion every BPE count reads: arrays_zip of
    the token array against its 1-shift, length-guarded for 0/1-token
    docs — shared so the full round-1 count and the incremental
    delta pass build pairs with ONE expression."""
    ln = F.greatest(F.size(col) - 1, F.lit(0))
    return F.arrays_zip(
        F.slice(F.col(col), 1, ln).alias("l"),
        F.slice(F.col(col), 2, ln).alias("r"),
    )


def _bpe_counts_update(counts: DataFrame, merged: DataFrame) -> DataFrame:
    """counts(k+1) from counts(k) and the round's merged frame — the
    incremental BPE pair-count maintenance (guide §2.2): rows whose
    arrays the merge changed (t_old non-NULL by construction upstream)
    contribute their OLD pairs with weight −1 and NEW pairs with weight
    +1; one vocabulary-bounded aggregate over
    state ∪ delta reproduces the full recount exactly (a doc's pair
    multiset is a pure function of its array; unchanged docs cancel).
    Zero rows are dropped — a pair count can never go negative, and the
    full recount never emits a 0 — so the winner scan sees the same
    table a recount would build."""
    ch = merged.filter(F.col("t_old").isNotNull())
    delta = ch.select(
        F.explode(_bpe_adjacent_pairs("t_old")).alias("p"),
        F.lit(-1).cast("long").alias("w"),
    ).unionAll(
        ch.select(
            F.explode(_bpe_adjacent_pairs("t")).alias("p"),
            F.lit(1).cast("long").alias("w"),
        )
    )
    return (
        counts.select(
            "left_tok", "right_tok", F.col("pair_count").alias("w")
        )
        .unionAll(
            delta.select(
                F.col("p.l").alias("left_tok"),
                F.col("p.r").alias("right_tok"),
                "w",
            )
        )
        .groupBy("left_tok", "right_tok")
        .agg(F.sum("w").alias("pair_count"))
        .filter(F.col("pair_count") > 0)
        .localCheckpoint(eager=False)
    )


def q_bpe_train_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full k-round BPE TRAINING LOOP: compose the proven count step
    (q_bpe_pair_counts' plan) and apply step (q_bpe_merge_apply's
    JVM-side greedy fold) BPE_TRAIN_ROUNDS times, feeding each round's
    merged token stream into the next round's count — the actual
    tokenizer-training control flow (Sennrich et al. 2016), not a single
    iteration. Output: one row per round with the winning pair, its
    corpus frequency, total merges applied, and the corpus token count
    after the round — the vocabulary-growth trajectory a trainer logs.

    Per-round plan (identical every round — this IS the scale shape):
    pair expansion inside the scan stage (slice+zip+explode, whole-stage
    codegen), ONE exchange for the pair-count hash aggregate with
    map-side partials (shuffle rows bounded by |vocab|² partials per
    mapper, measured vocabulary-bounded in scripts/measure_bpe_scaling
    .py), top-1 via TakeOrderedAndProject, winner broadcast to every row
    as a 1-row crossJoin scalar, merge as a JVM higher-order fold. The
    merged stream is localCheckpoint-ed between rounds — exactly the
    persist a production trainer does so round k+1 scans the merged
    stream once instead of recomputing k folds (lineage would otherwise
    grow multiplicatively); checkpoint size is the token stream, which
    SHRINKS every round.

    Oracle: the identical loop unrolled BPE_TRAIN_ROUNDS times as a CTE
    chain (_bpe_round_ctes) — the merge simulated position-wise (match
    flags → gaps-and-islands → odd-offset positions merge, the closed
    form of the greedy LTR fold; islands longer than 1 require
    left = right), sharing no code with the Spark fold, so agreement
    certifies both the fold and the loop plumbing round by round.

    INCREMENTAL pair counts: only round 1 explodes the full corpus;
    every later round maintains the (left_tok, right_tok, pair_count)
    state table from the docs the previous merge actually CHANGED
    (measured ~7% of docs / ~8% of tokens per round at sf0.1; the table
    itself is pair-vocabulary-bounded, ~1k rows) — a doc's pair
    multiset is a pure function of its token array, so
        counts(round k+1) = counts(round k)
                            − pairs(changed docs' old arrays)
                            + pairs(changed docs' new arrays)
    is EXACT (unchanged arrays contribute identical multisets on both
    sides), and the winner ordering (count DESC, left, right) reads
    identical counts. Randomized cross-implementation equivalence is
    pinned by tests/test_round14_ops.py; the unrolled-CTE oracle pins
    it end-to-end at every SF (guide §2.2: shuffle the delta, not the
    corpus — per-round exchange rows drop from O(corpus tokens) to
    O(changed tokens + |pair vocab|))."""
    d = load_table(spark, sf_dir, "documents")
    toks = tokens(F.col("text"), drop_empty=True)
    cur = d.select("doc_id", toks.alias("t"))
    per_round = []
    counts = None
    for rnd in range(1, BPE_TRAIN_ROUNDS + 1):
        if counts is None:
            # round 1: the one full-corpus pair expansion (in-scan
            # slice+zip+explode, ONE vocabulary-bounded exchange)
            counts = (
                cur.select(F.explode(_bpe_adjacent_pairs("t")).alias("p"))
                .groupBy(
                    F.col("p.l").alias("left_tok"),
                    F.col("p.r").alias("right_tok"),
                )
                .agg(F.count("*").alias("pair_count"))
                .localCheckpoint(eager=False)
            )
        top1 = counts.orderBy(
            F.col("pair_count").desc(), "left_tok", "right_tok"
        ).limit(1)
        # broadcast the 1-row winner on a constant equi-key LEFT join:
        # a pair-less round (every doc down to <= 1 token) yields an
        # EMPTY top1 — a crossJoin would silently empty the corpus, the
        # left join keeps every row and the fold falls back to identity
        merged = (
            cur.withColumn("_k", F.lit(1))
            .join(
                F.broadcast(top1.withColumn("_k", F.lit(1))), "_k", "left"
            )
            .select(
                "doc_id",
                "left_tok",
                "right_tok",
                "pair_count",
                F.col("t").alias("t_old"),
                F.when(F.col("left_tok").isNull(), F.col("t"))
                .otherwise(
                    bpe_merge_greedy(
                        F.col("t"), F.col("left_tok"), F.col("right_tok")
                    )
                )
                .alias("t"),
            )
            # nb (pre-merge length) and the changed flag derive from
            # t_old; unchanged docs null it out so the checkpoint only
            # carries the ~7% of old arrays the delta pass reads
            .select(
                "doc_id",
                "left_tok",
                "right_tok",
                "pair_count",
                F.size("t_old").alias("nb"),
                "t",
                F.when(F.size("t") != F.size("t_old"), F.col("t_old")).alias(
                    "t_old"
                ),
            )
            .localCheckpoint()
        )
        per_round.append(
            # a winner-less round contributes no trajectory row (nothing
            # was merged) — filter before the aggregate
            merged.filter(F.col("left_tok").isNotNull())
            .groupBy("left_tok", "right_tok", "pair_count").agg(
                F.sum(F.col("nb") - F.size("t")).alias("n_merges_total"),
                F.sum(F.size("t")).alias("n_tokens_after_total"),
            )
            .select(
                F.lit(rnd).alias("round"),
                "left_tok",
                "right_tok",
                "pair_count",
                "n_merges_total",
                "n_tokens_after_total",
            )
        )
        if rnd < BPE_TRAIN_ROUNDS:
            counts = _bpe_counts_update(counts, merged)
        cur = merged.select("doc_id", "t")
    out = per_round[0]
    for s in per_round[1:]:
        out = out.unionByName(s)
    return out.orderBy("round")


def q_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end BPE ENCODE: train the BPE_TRAIN_ROUNDS-merge
    table (q_bpe_train_k's count→merge loop verbatim) and then PUBLISH
    THE FINAL TOKEN STREAMS — one row per surviving token
    (doc_id, pos, tok), 1-based positions — i.e. what a tokenizer
    actually hands the training pipeline, not just the per-round
    trajectory. Merged tokens carry their space-joined surface form
    ("the brewery"), so the merge lineage is readable and the oracle
    can compare strings exactly.

    Plan: identical to q_bpe_train_k round for round (pair expansion
    inside the scan stage, ONE vocabulary-bounded exchange per round
    for the pair-count aggregate, top-1 via TakeOrderedAndProject,
    1-row broadcast winner, JVM higher-order greedy fold,
    localCheckpoint between rounds so round k+1 scans the merged
    stream instead of recomputing k folds) plus one final posexplode —
    which runs INSIDE the last checkpoint's scan stage, no extra
    exchange. Per-merge cost stays scan-bound: the token stream
    SHRINKS every round and the exchange is pair-vocabulary-bounded
    (scripts/measure_bpe_train_rounds.py; SURVEY §6).

    Oracle: the identical loop unrolled as the q_bpe_train_k CTE chain
    (_bpe_round_ctes — the gaps-and-islands closed form of the greedy
    fold), selecting the FINAL stream instead of the per-round rows;
    the two computations share no code path, so agreement certifies
    every merge round AND the final stream assembly.

    The loop body IS ``bpe_train_rounds``, which carries the
    incremental pair-count state, so the encode trains off delta counts
    too."""
    d = load_table(spark, sf_dir, "documents")
    toks = tokens(F.col("text"), drop_empty=True)
    cur, _winners = bpe_train_rounds(d.select("doc_id", toks.alias("t")))
    return cur.select(
        "doc_id", F.posexplode(F.col("t")).alias("pos0", "tok")
    ).select(
        "doc_id", (F.col("pos0") + 1).cast("long").alias("pos"), "tok"
    )


def bpe_train_rounds(cur: DataFrame):
    """The q_bpe_train_k count→merge loop over a prepared (doc_id, t)
    token frame, returning ``(folded_frame, winners)`` where winners is
    one 1-row (round, left_tok, right_tok) frame per round — factored
    from q_bpe_vocab_persist so the drift report trains its "old"
    tokenizer on a sub-corpus with PROVABLY the same loop (one
    vocabulary-bounded exchange per round, 1-row guarded winner join —
    the empty-round identity-fold guard included — JVM greedy fold,
    localCheckpoint between rounds).

    q_bpe_train_k's incremental pair-count state — only round 1
    explodes the full corpus; later rounds update
    the vocabulary-bounded counts table from the ~7% of docs the merge
    changed (``_bpe_counts_update``; exact by the pair-multiset
    identity documented there)."""
    winners = []
    counts = None
    for rnd in range(1, BPE_TRAIN_ROUNDS + 1):
        if counts is None:
            counts = (
                cur.select(F.explode(_bpe_adjacent_pairs("t")).alias("p"))
                .groupBy(
                    F.col("p.l").alias("left_tok"),
                    F.col("p.r").alias("right_tok"),
                )
                .agg(F.count("*").alias("pair_count"))
                .localCheckpoint(eager=False)
            )
        top1 = (
            counts.orderBy(
                F.col("pair_count").desc(), "left_tok", "right_tok"
            )
            .limit(1)
            .select(
                F.lit(rnd).cast("int").alias("round"),
                "left_tok",
                "right_tok",
            )
        )
        winners.append(top1)
        cur = (
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
                F.col("t").alias("t_old"),
                F.when(F.col("left_tok").isNull(), F.col("t"))
                .otherwise(
                    bpe_merge_greedy(
                        F.col("t"), F.col("left_tok"), F.col("right_tok")
                    )
                )
                .alias("t"),
            )
            # unchanged docs null t_old so the checkpoint only carries
            # the changed old arrays the delta pass reads
            .select(
                "doc_id",
                "t",
                F.when(F.size("t") != F.size("t_old"), F.col("t_old")).alias(
                    "t_old"
                ),
            )
            .localCheckpoint()
        )
        if rnd < BPE_TRAIN_ROUNDS:
            counts = _bpe_counts_update(counts, cur)
        cur = cur.select("doc_id", "t")
    return cur, winners


def q_bpe_vocab_persist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE merge-table PERSISTENCE + re-encode — the tokenizer
    artifact lifecycle a training pipeline actually runs: train once,
    SAVE the merge table, then every encode job LOADS the artifact and
    applies the recorded merges (never retrains). Three phases:

    1. **Train**: the q_bpe_train_k count→merge loop (the shared
       ``bpe_train_rounds`` helper — one vocabulary-bounded exchange
       per round, 1-row guarded winner join, JVM greedy fold,
       localCheckpoint between rounds), collecting each round's
       winning pair.
    2. **Persist**: the (round, left_tok, right_tok) merge table —
       BPE_TRAIN_ROUNDS rows — written as a parquet artifact and
       registered through the session catalog (DDL over a LOCATION,
       the io/catalog.py bootstrap stance), then READ BACK via
       ``spark.table``: the artifact round-trip is part of the checked
       dataflow, not a side effect. The artifact path AND table name
       are namespaced by the Spark application id
       (``tokenizer.bpe_merges_<appId>``), so concurrent runs in
       separate sessions (a parallel bench/test session sharing the
       warehouse/staging dir) never race each other's DROP/overwrite;
       within one session the query stays idempotent (same name, an
       overwrite + CREATE OR REPLACE of its own artifact).
    3. **Re-encode from the artifact**: the loaded rules (a k-row
       bounded artifact — collected like any tokenizer load) are
       applied as ONE chained-regexp pass over a newline-delimited
       rendering (``bpe_apply_rules_regex`` — native JVM regex with
       greedy-LTR semantics identical to the fold chain) in ONE narrow select, ZERO exchanges for the whole encode
       (cheaper than training's per-round plan: this is exactly why
       tokenizers persist their merges) — then one posexplode.

    Output (doc_id, pos, tok) — identical to q_bpe_encode by
    construction; the oracle IS q_bpe_encode's unrolled CTE chain, so
    the driver value-checks that save → register → load → re-encode
    reproduces the trained encode exactly (a serialization or ordering
    bug in the artifact reds the driver)."""
    from breweries_case_spark.io.rest_source import _staging_dir

    d = load_table(spark, sf_dir, "documents")
    toks = tokens(F.col("text"), drop_empty=True)
    _, winners = bpe_train_rounds(d.select("doc_id", toks.alias("t")))
    merges = winners[0]
    for w in winners[1:]:
        merges = merges.unionByName(w)
    run_ns = re.sub(r"[^A-Za-z0-9_]", "_", spark.sparkContext.applicationId)
    table = f"tokenizer.bpe_merges_{run_ns}"
    path = f"{_staging_dir()}/bpe_merges_{run_ns}"
    merges.write.mode("overwrite").parquet(path)
    spark.sql("CREATE DATABASE IF NOT EXISTS tokenizer")
    spark.sql("DROP TABLE IF EXISTS " + table)
    spark.sql(
        f"CREATE TABLE {table} "
        "(round INT, left_tok STRING, right_tok STRING) "
        f"USING parquet LOCATION '{path}'"
    )
    rules = sorted(
        spark.table(table).collect(),
        key=lambda r: r["round"],
    )
    # The round trip is complete once the rules are
    # collected — drop the appId-namespaced catalog entry (and its
    # staging artifact) so a persistent metastore doesn't accumulate one
    # stale table per run, each with a dangling LOCATION once the
    # staging dir is reaped. The re-encode below uses only the collected
    # LITERAL rules, never the table.
    spark.sql("DROP TABLE IF EXISTS " + table)
    shutil.rmtree(path, ignore_errors=True)
    enc_t = tokens(F.col("text"), drop_empty=True)
    # The k collected literal rules are
    # applied as ONE chained-regexp pass over a delimited rendering
    # (bpe_apply_rules_regex — native JVM regex, greedy-LTR semantics
    # identical to the fold, measured 14×) instead of k nested
    # interpreted folds; still one narrow select, zero exchanges
    return (
        d.select(
            "doc_id", bpe_apply_rules_regex(enc_t, rules).alias("t")
        )
        .select("doc_id", F.posexplode(F.col("t")).alias("pos0", "tok"))
        .select(
            "doc_id", (F.col("pos0") + 1).cast("long").alias("pos"), "tok"
        )
    )


#: candidate vocab sizes for the trained-BPE OOV report
OOV_REPORT_KS = (10, 50, 200)


def q_bpe_oov_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language OOV report of the TRAINED tokenizer — the
    multilingual-fairness readout after training, where
    q_vocab_coverage sizes the vocab BEFORE training on raw
    whitespace types: apply the persisted merge table
    (q_bpe_vocab_persist's full save → catalog register → load →
    literal-fold re-encode — the artifact round trip is in the checked
    dataflow), count the POST-MERGE type distribution, rank types
    globally (count DESC, token ASC — every k-boundary deterministic),
    and publish per (lang, k ∈ OOV_REPORT_KS) the occurrences a top-k
    vocabulary would map to <unk> plus the 6-dp OOV rate. A language
    whose oov_rate stays high at production k is under-served by the
    trained merges — the decision row next to q_bpe_compression's
    ratio and q_vocab_coverage's pre-training curve.

    Plan: the encoded stream's only corpus-sized exchanges are the
    benched vocab_persist encode; type counts are ONE map-side-combined
    aggregate to a vocab-bounded table (the global rank window runs on
    that summary — the q_vocab_coverage stance), per-(lang, type)
    counts are |langs|×|vocab|-bounded, and the 3-row k table expands
    via a broadcast crossJoin. Oracle: the unrolled encode CTE chain +
    the same rank/aggregate SQL — merges, artifact round trip, ranking
    and rates all value-checked."""
    stream = q_bpe_vocab_persist(spark, sf_dir)
    lang = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    per_lang = (
        stream.join(lang, "doc_id")
        .groupBy("lang", "tok")
        .agg(F.count("*").alias("lcnt"))
        .localCheckpoint()  # vocab×langs-bounded: feeds rank + 3-k agg
    )
    ranked = (
        per_lang.groupBy("tok")
        .agg(F.sum("lcnt").alias("cnt"))
        .withColumn(
            "rnk",
            F.row_number().over(
                Window.orderBy(F.col("cnt").desc(), F.col("tok"))
            ),
        )
        .select("tok", "rnk")
    )
    ks = spark.range(0, len(OOV_REPORT_KS)).select(
        F.element_at(
            F.array(*[F.lit(k) for k in OOV_REPORT_KS]),
            (F.col("id") + 1).cast("int"),
        )
        .cast("long")
        .alias("vocab_size")
    )
    q6 = lambda c: F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)  # noqa: E731
    return (
        per_lang.join(ranked, "tok")
        .crossJoin(F.broadcast(ks))
        .groupBy("lang", "vocab_size")
        .agg(
            F.sum(
                F.when(F.col("rnk") > F.col("vocab_size"), F.col("lcnt"))
                .otherwise(F.lit(0))
            ).alias("oov_occurrences"),
            F.sum("lcnt").alias("total_occurrences"),
        )
        .select(
            "lang",
            "vocab_size",
            "oov_occurrences",
            "total_occurrences",
            q6(
                F.col("oov_occurrences")
                / F.col("total_occurrences").cast("double")
            ).alias("oov_rate"),
        )
    )


#: "old corpus" selector for the tokenizer drift report — the half the
#: previous training run saw
BPE_DRIFT_MOD = 2


def q_bpe_drift_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer DRIFT (rot) report — the audit a tokenizer owner runs
    when the corpus moves under a frozen vocabulary: train the k-merge
    table on the OLD corpus (doc_id % BPE_DRIFT_MOD == 0 — the half a
    previous run saw), apply those FROZEN merges to the CURRENT full
    corpus as literal folds (the persisted-artifact re-encode path —
    zero exchanges), train FRESH merges on the full corpus, and
    publish per language: docs, tokens under the frozen old merges,
    tokens under fresh merges, and the 6-dp drift ratio
    (old/new — how much compression the stale vocabulary forfeits; a
    language whose ratio grows round-over-round is drifting away from
    the frozen tokenizer and drives the retrain decision, next to
    q_bpe_compression's absolute ratio and q_bpe_oov_report's OOV
    curve).

    Both trainings run the SHARED ``bpe_train_rounds`` loop (factored
    from q_bpe_vocab_persist), so the drift numbers describe the real
    registered tokenizer, not a reimplementation; the old rules are a
    k-row collected artifact (exactly what a tokenizer load is) chained
    as literal folds in ONE narrow select. Docs with zero whitespace
    tokens never enter either stream (the q_bpe_compression inner-join
    convention). Oracle: THREE unrolled CTE chains — the old-half
    training chain, an apply chain whose per-round winner is READ FROM
    the old chain (frozen merges applied to the full corpus), and the
    standard fresh chain — re-aggregated per lang; integer sums exact,
    one IEEE division + half-up 6-dp.

    Scale: two benched train loops (vocabulary-bounded exchanges) + a
    fold-only re-encode + two |langs|-bounded aggregates."""
    d = load_table(spark, sf_dir, "documents")
    toks = tokens(F.col("text"), drop_empty=True)
    base = d.select("doc_id", "lang", toks.alias("t")).filter(
        F.size("t") > 0
    )
    _, old_winners = bpe_train_rounds(
        base.filter(F.col("doc_id") % BPE_DRIFT_MOD == 0).select(
            "doc_id", "t"
        )
    )
    merges = old_winners[0]
    for w in old_winners[1:]:
        merges = merges.unionByName(w)
    rules = sorted(merges.collect(), key=lambda r: r["round"])
    # The frozen rules are applied as ONE
    # chained-regexp pass (bpe_apply_rules_regex — native JVM regex,
    # greedy-LTR semantics identical to the fold, measured 14×) instead
    # of k nested interpreted folds; still zero exchanges
    old_counts = base.select(
        "doc_id",
        "lang",
        F.size(bpe_apply_rules_regex(F.col("t"), rules))
        .cast("long")
        .alias("c_old"),
    )
    new_cur, _ = bpe_train_rounds(base.select("doc_id", "t"))
    new_counts = new_cur.select(
        "doc_id", F.size("t").cast("long").alias("c_new")
    )
    q6 = lambda c: F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)  # noqa: E731
    return (
        old_counts.join(new_counts, "doc_id")
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("c_old").alias("tokens_old"),
            F.sum("c_new").alias("tokens_new"),
        )
        .select(
            "lang",
            "n_docs",
            "tokens_old",
            "tokens_new",
            q6(
                F.col("tokens_old") / F.col("tokens_new").cast("double")
            ).alias("drift_ratio"),
        )
    )


def q_bpe_compression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer COMPRESSION report — the number a tokenizer owner
    reads after training: per language, documents, whitespace-token
    count BEFORE the merges, token count AFTER the k trained merges,
    merges applied, and the 6-dp compression ratio (after/before). A
    language whose ratio stays ≈ 1 is under-served by the learned
    vocabulary (the multilingual-fairness audit beside
    q_vocab_coverage's frequency curve and q_quality_gate_by_lang's
    per-lang gate). Composes the REGISTERED encode (q_bpe_encode —
    merges, guard and all), so the report provably describes the real
    token stream: one count aggregate over the final stream + one
    scan-time before-count, joined and re-aggregated per lang. Docs
    with zero whitespace tokens never enter the encode's stream_1 —
    the c0 > 0 filter mirrors the oracle's inner join. Integer sums
    exact on both engines; the ratio is one IEEE division + the module
    half-up 6-dp rounding.

    Scale: rides the benched encode loop (vocabulary-bounded exchanges
    — SURVEY §6) plus two |langs|-bounded aggregates."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.filter(
        F.split(F.lower(F.trim(F.col("text"))), r"\s+"),
        lambda x: x != F.lit(""),
    )
    base = d.select(
        "doc_id", "lang", F.size(toks).cast("long").alias("c0")
    ).filter(F.col("c0") > 0)
    after = (
        q_bpe_encode(spark, sf_dir)
        .groupBy("doc_id")
        .agg(F.count("*").alias("c1"))
    )
    q6 = lambda c: F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)  # noqa: E731
    return (
        base.join(after, "doc_id")
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("c0").alias("tokens_before"),
            F.sum("c1").alias("tokens_after"),
            (F.sum("c0") - F.sum("c1")).alias("merges_applied"),
        )
        .select(
            "lang",
            "n_docs",
            "tokens_before",
            "tokens_after",
            "merges_applied",
            q6(
                F.col("tokens_after").cast("double")
                / F.col("tokens_before").cast("double")
            ).alias("compression"),
        )
    )


#: cross-source overlap shingle width (string n-grams — readable and
#: oracle-checkable; the hashed-shingle variant lives in dedup.py)
OVERLAP_N = 5


def q_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source n-gram contamination matrix: for every source pair,
    the count of shared distinct OVERLAP_N-gram shingles and the
    Jaccard overlap — the corpus-curation pass that finds mirrored /
    cross-posted content BETWEEN ingest sources before mixing (the
    same shape as train-vs-eval decontamination, q_decontaminate, but
    symmetric over all source pairs).

    Plan: gram generation is the chunking shape (slice inside the scan
    stage); one distinct on (source, gram); the pair counting is an
    equi-join ON GRAM — per-gram fanout is bounded by
    (sources sharing that gram)², never corpus², and the source-pair
    aggregate output is at most |sources|²/2 rows. Totals are
    broadcast. At web scale (millions of domains) the same plan holds
    because a gram shared by that many sources is stopword noise —
    production caps per-gram source lists (cf. the heavy-hitters
    prune); at this corpus's 20 sources the cap is moot. Jaccard uses
    the repo-standard FLOOR(q·1e6+0.5)/1e6 rendering on both engines."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.filter(
        F.split(F.lower(F.trim(F.col("text"))), r"\s+"),
        lambda x: x != F.lit(""),
    )
    base = d.select("source", toks.alias("t")).withColumn(
        "n", F.size("t")
    )
    gram = lambda i: F.concat_ws(  # noqa: E731
        " ", F.slice(F.col("t"), i, OVERLAP_N)
    )
    grams = (
        base.filter(F.col("n") >= OVERLAP_N)
        .select(
            "source",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.col("n") - (OVERLAP_N - 1)),
                    gram,
                )
            ).alias("gram"),
        )
        .distinct()
    )
    totals = grams.groupBy("source").agg(F.count("*").alias("n_grams"))
    a, b = grams.alias("a"), grams.alias("b")
    common = (
        a.join(
            b,
            (F.col("a.gram") == F.col("b.gram"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("src_a"),
            F.col("b.source").alias("src_b"),
        )
        .agg(F.count("*").alias("common_grams"))
    )
    ta = totals.select(
        F.col("source").alias("src_a"), F.col("n_grams").alias("grams_a")
    )
    tb = totals.select(
        F.col("source").alias("src_b"), F.col("n_grams").alias("grams_b")
    )
    q = F.col("common_grams") / (
        F.col("grams_a") + F.col("grams_b") - F.col("common_grams")
    )
    return (
        common.join(F.broadcast(ta), "src_a")
        .join(F.broadcast(tb), "src_b")
        .select(
            "src_a",
            "src_b",
            "common_grams",
            "grams_a",
            "grams_b",
            (F.floor(q * 1e6 + F.lit(0.5)) / 1e6).alias("jaccard"),
        )
    )


#: quality-curve bucket width: floor(score * QC_BUCKETS_PER_UNIT)
QC_SCALE = 50


#: vocabulary-coverage curve sample points (the fixture's whitespace
#: vocabulary is a few hundred types; production uses 1k/32k/128k)
VOCAB_COVERAGE_KS = (10, 50, 200)


def q_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary COVERAGE CURVE — the tokenizer-sizing plot: for each
    candidate vocab size k, the fraction of corpus token OCCURRENCES
    covered by the k most frequent types (the complement of the OOV
    rate a k-type vocabulary would incur). Teams read this curve to
    pick vocab size before training the tokenizer; the BPE loop
    (q_bpe_train_k) then builds the actual vocab. Total ordering
    (count DESC, token ASC) makes every k-boundary deterministic.

    Plan: ONE map-side-combined token-count aggregate (the corpus's
    only exchange — output is |vocab| rows); the rank window and the
    per-k sums run on the vocab-bounded count table (at 100 TB that
    table is a few million rows — window-safe); ks expand via a
    broadcast-range crossJoin of a 3-row literal array. Coverage
    follows the module float discipline: one IEEE division, then the
    module's FLOOR(x·1e6 + 0.5)/1e6 HALF-UP rounding to 6 dp (not a
    floor — the +0.5 makes it round-half-up)."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.explode(
        F.filter(
            F.split(F.lower(F.trim(F.col("text"))), r"\s+"),
            lambda t: t != F.lit(""),
        )
    ).alias("tok")
    counts = (
        d.select(toks)
        .groupBy("tok")
        .agg(F.count("*").alias("cnt"))
        .withColumn(
            "rnk",
            F.row_number().over(
                Window.orderBy(F.col("cnt").desc(), F.col("tok"))
            ),
        )
        .localCheckpoint()  # vocab-bounded: window + 3 aggregates read it
    )
    ks = spark.range(0, len(VOCAB_COVERAGE_KS)).select(
        F.element_at(
            F.array(*[F.lit(k) for k in VOCAB_COVERAGE_KS]),
            (F.col("id") + 1).cast("int"),
        ).alias("vocab_size")
    )
    q6 = lambda c: F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)  # noqa: E731
    return (
        counts.crossJoin(F.broadcast(ks))
        .groupBy("vocab_size")
        .agg(
            F.sum(
                F.when(F.col("rnk") <= F.col("vocab_size"), F.col("cnt"))
                .otherwise(F.lit(0))
            ).alias("covered_occurrences"),
            F.sum("cnt").alias("total_occurrences"),
        )
        .select(
            "vocab_size",
            "covered_occurrences",
            "total_occurrences",
            q6(
                F.col("covered_occurrences")
                / F.col("total_occurrences").cast("double")
            ).alias("coverage"),
        )
    )


def q_quality_gate_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PER-LANGUAGE quantile quality gate — the multilingual-fairness
    form of q_quality_gate: the bottom QG_DROP_PCT% is computed within
    EACH language, so a low-resource language whose scores sit below
    the global distribution is not disproportionately culled (the
    standard multilingual-curation correction; the global gate's single
    cutoff removes whole languages when score distributions differ).
    Same histogram-quantile topology, lang-partitioned: the bin summary
    is (lang × bins)-bounded, the cumulative window partitions by lang
    (value-bounded partitions — never corpus-keyed), and the per-lang
    cutoff re-enters as a broadcast join on lang. Whole bins live or
    die together within their language; a language whose doc count
    floors the drop budget to 0 keeps every doc."""
    scored = gate_scored(
        load_table(spark, sf_dir, "documents")
    ).localCheckpoint()
    hist = scored.groupBy("lang", "quality_bin").agg(
        F.count("*").alias("c")
    )
    w_cum = (
        Window.partitionBy("lang")
        .orderBy("quality_bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy("lang").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = hist.select(
        "lang",
        "quality_bin",
        F.sum("c").over(w_cum).alias("cum"),
        F.sum("c").over(w_all).alias("total"),
    )
    cutoff = (
        cum.filter(
            F.col("cum")
            <= F.floor(F.col("total") * F.lit(QG_DROP_PCT) / F.lit(100.0))
        )
        .groupBy("lang")
        .agg(F.max("quality_bin").alias("_cutoff_bin"))
    )
    return (
        scored.join(F.broadcast(cutoff), "lang", "left")
        .filter(
            F.col("_cutoff_bin").isNull()
            | (F.col("quality_bin") > F.col("_cutoff_bin"))
        )
        .select("doc_id", "lang", "quality_bin", "quality_score")
    )


#: curriculum stages (quality quartiles; stage 0 = cleanest, fed first)
CURRICULUM_STAGES = 4


def curriculum_stage_table(scored: DataFrame) -> DataFrame:
    """(quality_bin → stage) assignment over ANY frame carrying a
    ``quality_bin`` column — q_curriculum_order's histogram-quantile
    topology factored out (the training_mix shared-helper rule) so
    q_curation_pipeline's staging is provably THE registered
    operator's, recomputed over whatever population it is given (the
    composite feeds gate survivors; the unit id feeds the full scored
    corpus). One map-side-combined histogram + a cumulative window
    over the tiny bin summary; stage(bin) = LEAST(S−1,
    FLOOR((cum−1)·S / total)) with bins ordered quality DESC."""
    hist = scored.groupBy("quality_bin").agg(F.count("*").alias("c"))
    w_cum = Window.orderBy(F.col("quality_bin").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_all = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return hist.select(
        "quality_bin",
        F.least(
            F.lit(CURRICULUM_STAGES - 1),
            F.floor(
                (F.sum("c").over(w_cum) - 1)
                * CURRICULUM_STAGES
                / F.sum("c").over(w_all)
            ),
        )
        .cast("long")
        .alias("stage"),
    )


def q_curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum DATA ORDERING (Bengio et al. 2009 curriculum
    learning, public; quality-staged pretraining orders the cleanest
    data first): assign every scored doc a quality-quartile STAGE
    (stage 0 = top quartile) and a deterministic intra-stage shuffle
    key — the (stage, order_key) sort the dataloader consumes. No
    dense global rank is published ON PURPOSE: a corpus-wide
    row_number is one task at any size, while (stage, md5) is already
    a total order the storage layer can range-partition on.

    Stage assignment is quantile-exact at BIN granularity via the
    q_quality_gate topology: one map-side-combined histogram, a
    cumulative window over the tiny bin summary (quality DESC so
    stage 0 is the best bins), stage(bin) = LEAST(S−1,
    FLOOR((cum−1)·S / total)) — whole bins share a stage, so the
    assignment is deterministic under score ties; the bin→stage table
    re-enters as a value-bounded broadcast join. All stage math is
    integer-derived (one exact double division), bit-identical
    cross-engine; order_key is md5(doc_id) — the layout-free shuffle
    discipline of q_sample_hash."""
    scored = gate_scored(
        load_table(spark, sf_dir, "documents")
    ).localCheckpoint()
    stages = curriculum_stage_table(scored)
    return scored.join(F.broadcast(stages), "quality_bin").select(
        "doc_id",
        "quality_bin",
        "stage",
        F.md5(F.col("doc_id").cast("string")).alias("order_key"),
    )


def q_quality_token_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-threshold planning curve: per quality-score bucket, the
    doc count, token sum, and the fraction of ALL corpus tokens
    retained if the filter threshold were set at that bucket (keep
    bucket >= X). This is how a pretraining-mix owner picks the
    quality cutoff — "what cutoff keeps 80% of tokens?" — without
    materializing a filtered corpus per candidate threshold.

    Scale shape: a naive exact curve needs a GLOBAL sort/ntile over
    every document (single-partition window — the anti-pattern); the
    bucketed histogram instead does one map-side-combined hash
    aggregate over quantized scores, then runs the cumulative window
    over the TINY bucket summary (~tens of rows at any corpus size).
    The score reuses q_quality_score's features unrounded — every term
    is IEEE +,×,/ (no transcendentals), so the double is bit-identical
    across engines and bucketing cannot flip."""
    d = load_table(spark, sf_dir, "documents")
    n_tok = F.size(_ws_tokens(F.col("text")))
    n_chars = F.length(F.col("text"))
    n_punct = F.regexp_count(F.col("text"), F.lit(r"[^\w\s]"))
    n_stop = F.regexp_count(F.col("text"), F.lit(EN_MARKERS))
    score = (
        (n_stop / n_tok) * 0.5
        + (n_punct / n_chars) * -0.25
        + (n_chars / n_tok) * 0.05
    )
    per_doc = d.filter((n_tok > 0) & (n_chars > 0)).select(
        F.floor(score * QC_SCALE).cast("long").alias("score_bucket"),
        n_tok.cast("long").alias("n_tok"),
    )
    summary = per_doc.groupBy("score_bucket").agg(
        F.count("*").alias("n_docs"), F.sum("n_tok").alias("bucket_tokens")
    )
    # both windows run over the tiny bucket summary only
    w_cum = Window.orderBy(F.col("score_bucket").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_all = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = F.sum("bucket_tokens").over(w_cum)
    total = F.sum("bucket_tokens").over(w_all)
    return summary.select(
        "score_bucket",
        "n_docs",
        "bucket_tokens",
        cum.alias("tokens_retained"),
        (F.floor(cum / total * 1e6 + F.lit(0.5)) / 1e6).alias(
            "retained_frac"
        ),
    )


def q_quality_curve_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-CURVE drift report (VERDICT r12 item 7) — the
    q_quality_token_curve planning curve computed per deterministic
    corpus half (doc_id parity, the q_decontaminate_drift population
    split) with signed per-bucket deltas: the monitoring row a mix owner
    reads to catch "did today's delivery get worse BEFORE it entered the
    mix" — a delivery whose even half retains materially fewer tokens at
    the planned cutoff than its odd twin shifted the quality
    distribution, not just the volume. Score, bucketing (QC_SCALE) and
    the FLOOR-quantized retained fraction are EXACTLY the registered
    curve's, so this id drifts iff q_quality_token_curve would.

    Output: one row per score bucket present in either half —
    docs/tokens per half, each half's cumulative retained fraction at
    that bucket (guarded 0 for an empty half), and retained_drift =
    frac_even − frac_odd (6-dp re-quantized, the decontaminate_drift
    discipline).

    Plan: ONE scan + map-side-combined conditional aggregate to the tiny
    bucket summary; all four cumulative/total windows run over that
    summary only (~tens of rows at any corpus size) — the report adds
    zero corpus-sized work to the curve's own topology."""
    d = load_table(spark, sf_dir, "documents")
    n_tok = F.size(_ws_tokens(F.col("text")))
    n_chars = F.length(F.col("text"))
    n_punct = F.regexp_count(F.col("text"), F.lit(r"[^\w\s]"))
    n_stop = F.regexp_count(F.col("text"), F.lit(EN_MARKERS))
    score = (
        (n_stop / n_tok) * 0.5
        + (n_punct / n_chars) * -0.25
        + (n_chars / n_tok) * 0.05
    )
    even = F.col("doc_id") % 2 == 0
    per_doc = d.filter((n_tok > 0) & (n_chars > 0)).select(
        F.floor(score * QC_SCALE).cast("long").alias("score_bucket"),
        n_tok.cast("long").alias("n_tok"),
        even.alias("ev"),
    )
    summary = per_doc.groupBy("score_bucket").agg(
        F.sum(F.col("ev").cast("long")).alias("n_docs_even"),
        F.sum(F.when(F.col("ev"), F.col("n_tok")).otherwise(F.lit(0))).alias(
            "tokens_even"
        ),
        F.sum((~F.col("ev")).cast("long")).alias("n_docs_odd"),
        F.sum(F.when(~F.col("ev"), F.col("n_tok")).otherwise(F.lit(0))).alias(
            "tokens_odd"
        ),
    )
    w_cum = Window.orderBy(F.col("score_bucket").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_all = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )

    def q6(c):
        return F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)

    def frac(col):
        tot = F.sum(col).over(w_all)
        return F.when(
            tot > 0,
            q6(F.sum(col).over(w_cum).cast("double") / tot.cast("double")),
        ).otherwise(F.lit(0.0))

    fe = frac("tokens_even")
    fo = frac("tokens_odd")
    return summary.select(
        "score_bucket",
        "n_docs_even",
        "tokens_even",
        fe.alias("retained_frac_even"),
        "n_docs_odd",
        "tokens_odd",
        fo.alias("retained_frac_odd"),
        q6(fe - fo).alias("retained_drift"),
    )


#: gate bin width (finer than the planning curve's QC_SCALE — the gate
#: needs bin-level rank resolution, the curve needs readable buckets)
QG_SCALE = 1000
#: doc-count percentile dropped from the bottom of the score ranking
QG_DROP_PCT = 25


def gate_scored(d: DataFrame) -> DataFrame:
    """The gate's scoring projection over a documents frame —
    (doc_id, lang, quality_bin, quality_score), binning on the RAW
    (unrounded) score. Factored out of q_quality_gate so tests and
    composites derive bins from the SAME expression the gate bins on
    (re-deriving bins from the 6dp-rounded published score can mis-bin
    a score within ~5e-7 of a bin edge)."""
    n_tok = F.size(_ws_tokens(F.col("text")))
    n_chars = F.length(F.col("text"))
    n_punct = F.regexp_count(F.col("text"), F.lit(r"[^\w\s]"))
    n_stop = F.regexp_count(F.col("text"), F.lit(EN_MARKERS))
    score = (
        (n_stop / n_tok) * 0.5
        + (n_punct / n_chars) * -0.25
        + (n_chars / n_tok) * 0.05
    )
    return d.filter((n_tok > 0) & (n_chars > 0)).select(
        "doc_id",
        "lang",
        F.floor(score * QG_SCALE).cast("long").alias("quality_bin"),
        (F.floor(score * 1e6 + F.lit(0.5)) / 1e6).alias("quality_score"),
    )


def q_quality_gate_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental quality-gate CUTOFF maintainer (the
    mergeable-state discipline on the gate surface): admit a NEW document shard
    (doc_id % 20 == 0) through the global-quantile gate WITHOUT
    re-scoring the corpus. The stored state is the corpus's
    quantized-score HISTOGRAM (one value-bounded (quality_bin, count)
    table — integer counts over disjoint doc sets add exactly, so the
    merged histogram IS the full-population histogram); the day's work
    is scoring the shard, adding its bin counts, re-deriving the
    cutoff over the tiny merged summary, and gating the SHARD rows.
    The cutoff is therefore exactly the full-recompute cutoff — which
    is what the oracle pins: q_quality_gate's cutoff CTEs over ALL
    documents, output filtered to shard survivors.

    Output: q_quality_gate's row shape restricted to shard docs that
    clear the post-update cutoff. Population note (mirrored in the
    oracle): the cutoff moves when the shard shifts the distribution,
    so a shard doc's verdict here can differ from gating the shard
    against yesterday's cutoff — that is the point of maintaining the
    histogram rather than freezing the threshold."""
    d = load_table(spark, sf_dir, "documents")
    is_shard = F.col("doc_id") % TEXT_SHARD_MOD == 0
    stored_hist = (
        gate_scored(d.filter(~is_shard))
        .groupBy("quality_bin")
        .agg(F.count("*").alias("c"))
        .localCheckpoint()
    )
    scored_shard = gate_scored(d.filter(is_shard)).localCheckpoint()
    shard_hist = scored_shard.groupBy("quality_bin").agg(
        F.count("*").alias("c")
    )
    merged = merge_counts(stored_hist, shard_hist, "quality_bin", "c")
    w_cum = Window.orderBy("quality_bin").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_all = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = merged.select(
        "quality_bin",
        F.sum("c").over(w_cum).alias("cum"),
        F.sum("c").over(w_all).alias("total"),
    )
    cutoff = cum.filter(
        F.col("cum")
        <= F.floor(F.col("total") * F.lit(QG_DROP_PCT) / F.lit(100.0))
    ).agg(F.max("quality_bin").alias("_cutoff_bin"))
    return (
        scored_shard.crossJoin(F.broadcast(cutoff))
        .filter(
            F.col("_cutoff_bin").isNull()
            | (F.col("quality_bin") > F.col("_cutoff_bin"))
        )
        .select("doc_id", "lang", "quality_bin", "quality_score")
    )


def q_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global-quantile quality GATE: materialize the filtered corpus
    that keeps the top (100 − QG_DROP_PCT)% of documents by quality
    score — the step after the planning curve (q_quality_token_curve
    answers "where should the cutoff sit?", this operator applies it).
    The cutoff is doc-count-rank exact at bin granularity: cutoff_bin =
    the largest score bin whose cumulative doc count still fits the
    drop budget floor(n · QG_DROP_PCT / 100); every doc in a bin ABOVE
    the cutoff survives (whole bins live or die together, so the gate
    is deterministic under ties — no row_number over equal scores).

    Scale shape: the naive exact-quantile gate sorts the corpus
    globally (or percent_rank()s it — one task at any size). Here the
    corpus is reduced to a QUANTIZED-SCORE HISTOGRAM via one map-side-
    combined hash aggregate; the cumulative window and the cutoff max
    run over the tiny bin summary (value-bounded: ≤ a few thousand
    rows at ANY corpus size), and the cutoff re-enters the plan as a
    1-row broadcast — three tiny jobs plus one corpus scan, nothing
    global. Score arithmetic is IEEE +,×,/ only (no transcendentals),
    identical operation order on both engines, so binning cannot flip;
    only truly EMPTY docs (zero chars — undefined ratios) are excluded
    before scoring, same as the curve. A whitespace-only doc still
    scores: trim+split of '' yields [''] so n_tok = 1 on BOTH engines
    (its mean-token-length term is then n_chars/1, an artifact of the
    whitespace tokenizer — cross-engine parity holds, and the synthetic
    corpus contains no such doc)."""
    scored = gate_scored(
        load_table(spark, sf_dir, "documents")
    ).localCheckpoint()  # score once: hist + gate both read the narrow
    # 4-col projection instead of re-running the regex scan per branch
    hist = scored.groupBy("quality_bin").agg(F.count("*").alias("c"))
    w_cum = Window.orderBy("quality_bin").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_all = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = hist.select(
        "quality_bin",
        F.sum("c").over(w_cum).alias("cum"),
        F.sum("c").over(w_all).alias("total"),
    )
    cutoff = cum.filter(
        F.col("cum")
        <= F.floor(F.col("total") * F.lit(QG_DROP_PCT) / F.lit(100.0))
    ).agg(F.max("quality_bin").alias("_cutoff_bin"))
    return (
        scored.crossJoin(F.broadcast(cutoff))
        .filter(
            F.col("_cutoff_bin").isNull()
            | (F.col("quality_bin") > F.col("_cutoff_bin"))
        )
        .select("doc_id", "lang", "quality_bin", "quality_score")
    )


QUERIES = {
    "q_bpe_pair_counts": q_bpe_pair_counts,
    "q_bpe_merge_apply": q_bpe_merge_apply,
    "q_bpe_train_k": q_bpe_train_k,
    "q_bpe_encode": q_bpe_encode,
    "q_bpe_vocab_persist": q_bpe_vocab_persist,
    "q_bpe_oov_report": q_bpe_oov_report,
    "q_bpe_drift_report": q_bpe_drift_report,
    "q_bpe_compression": q_bpe_compression,
    "q_quality_token_curve": q_quality_token_curve,
    "q_quality_curve_drift": q_quality_curve_drift,
    "q_quality_gate": q_quality_gate,
    "q_quality_gate_incremental": q_quality_gate_incremental,
    "q_quality_gate_by_lang": q_quality_gate_by_lang,
    "q_vocab_coverage": q_vocab_coverage,
    "q_curriculum_order": q_curriculum_order,
    "q_source_overlap": q_source_overlap,
    "q_chunk_documents": q_chunk_documents,
    "q_heavy_hitters": q_heavy_hitters,
    "q_token_count": q_token_count,
    "q_text_stats": q_text_stats,
    "q_lang_id": q_lang_id,
    "q_quality_score": q_quality_score,
    "q_fingerprint": q_fingerprint,
    "q_tfidf": q_tfidf,
    "q_tfidf_incremental": q_tfidf_incremental,
    "q_pandas_udf_textlen": q_pandas_udf_textlen,
    "q_quality_repetition": q_quality_repetition,
    "q_decontaminate": q_decontaminate,
    "q_decontaminate_drift": q_decontaminate_drift,
    "q_decontaminate_incremental": q_decontaminate_incremental,
    "q_contamination_by_source": q_contamination_by_source,
    "q_ngram_lm_score": q_ngram_lm_score,
    "q_doc_ngram_topk": q_doc_ngram_topk,
    "q_dup_span_fraction": q_dup_span_fraction,
    "q_dup_span_removal": q_dup_span_removal,
    "q_decontaminate_spans": q_decontaminate_spans,
    "q_repetition_removal": q_repetition_removal,
    "q_text_bm25": q_text_bm25,
    "q_bm25_incremental": q_bm25_incremental,
    "q_dedup_cdc_chunks": q_dedup_cdc_chunks,
}


#: the BM25 CTE chain, shared verbatim by the q_text_bm25 oracle and the
#: hybrid-search oracle (similarity.py) so the two can never drift
BM25_ORACLE_CTES = r"""
        docs AS (
            SELECT doc_id,
                   list_filter(string_split_regex(lower(trim(text)), '\s+'),
                               t -> t <> '') AS tk
            FROM documents),
        d2 AS (SELECT doc_id, tk, len(tk) AS dl FROM docs),
        stats AS (
            SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
                   CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl
            FROM d2),
        tf AS (
            SELECT doc_id, dl, t.term, COUNT(*) AS tf
            FROM d2, unnest(tk) AS t(term)
            WHERE t.term IN ('hash', 'join', 'spark')
            GROUP BY 1, 2, 3),
        dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
        scored AS (
            SELECT tf.doc_id,
                   FLOOR((FLOOR(ln((s.n_docs - f.df + 0.5) / (f.df + 0.5)
                                   + 1.0) * 1e9 + 0.5) / 1e9)
                         * (tf.tf * 2.2)
                         / (tf.tf + 1.2 * (1.0 - 0.75
                                           + 0.75 * tf.dl / s.avgdl))
                         * 1e6 + 0.5) / 1e6 AS c
            FROM tf JOIN dfreq f USING (term) CROSS JOIN stats s),
        bm AS (
            SELECT doc_id, COUNT(*) AS n_hit_terms,
                   CAST(SUM(CAST(c AS DECIMAL(18,6))) AS DOUBLE) AS bm25
            FROM scored GROUP BY 1)"""


ORACLES = {
    # one BPE count step: zip of the two off-by-one token slices is the
    # adjacent-pair multiset; the (count DESC, left, right) order is
    # total, so the LIMIT boundary is engine-independent
    "q_bpe_pair_counts": rf"""
        WITH t AS (
            SELECT list_filter(
                       string_split_regex(lower(trim(text)), '\s+'),
                       x -> x <> '') AS tk
            FROM documents),
        p AS (
            SELECT unnest(list_zip(tk[1:len(tk)-1], tk[2:len(tk)])) AS z
            FROM t)
        SELECT z[1] AS left_tok, z[2] AS right_tok,
               COUNT(*) AS pair_count
        FROM p
        GROUP BY 1, 2
        ORDER BY pair_count DESC, left_tok, right_tok
        LIMIT {BPE_TOPK}
    """,
    # merge apply: the oracle never re-runs the fold — greedy
    # non-overlapping LTR merges equal sum(ceil(island/2)) over islands
    # of consecutive adjacent-match positions (an island longer than 1
    # requires left_tok = right_tok, the "a a a" run case)
    "q_bpe_merge_apply": r"""
        WITH tk AS (
            SELECT doc_id,
                   list_filter(
                       string_split_regex(lower(trim(text)), '\s+'),
                       x -> x <> '') AS t
            FROM documents),
        pos AS (
            SELECT doc_id, p.tok, p.pos
            FROM tk, LATERAL (SELECT unnest(tk.t) AS tok,
                                     generate_subscripts(tk.t, 1) AS pos) p),
        adj AS (
            SELECT doc_id, pos, tok AS l,
                   lead(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS r
            FROM pos),
        counts AS (
            SELECT l, r, COUNT(*) AS c
            FROM adj WHERE r IS NOT NULL GROUP BY 1, 2),
        top1 AS (
            SELECT l AS left_tok, r AS right_tok FROM counts
            ORDER BY c DESC, l, r LIMIT 1),
        m AS (
            SELECT adj.doc_id, adj.pos
            FROM adj, top1
            WHERE adj.l = top1.left_tok AND adj.r = top1.right_tok),
        isl AS (
            SELECT doc_id, grp, COUNT(*) AS run
            FROM (SELECT doc_id,
                         pos - ROW_NUMBER() OVER (PARTITION BY doc_id
                                                  ORDER BY pos) AS grp
                  FROM m)
            GROUP BY 1, 2),
        merges AS (
            SELECT doc_id,
                   SUM(CAST(CEIL(run / 2.0) AS BIGINT)) AS n_merges
            FROM isl GROUP BY 1),
        nn AS (SELECT doc_id, len(t) AS n_tok FROM tk)
        SELECT nn.doc_id, top1.left_tok, top1.right_tok,
               CAST(nn.n_tok AS INT) AS n_tokens_before,
               CAST(COALESCE(merges.n_merges, 0) AS INT) AS n_merges,
               CAST(nn.n_tok - COALESCE(merges.n_merges, 0) AS INT)
                   AS n_tokens_after
        FROM nn CROSS JOIN top1
        LEFT JOIN merges ON merges.doc_id = nn.doc_id
    """,
    # k-round BPE training loop: the Spark fold's greedy LTR merge is
    # simulated position-wise per round (match flags → gaps-and-islands
    # → odd island offsets merge, then rebuild the stream), unrolled
    # BPE_TRAIN_ROUNDS times — see _bpe_round_ctes below; injected after
    # the dict literal because the chain is generated by a loop
    # (placeholder replaced right below)
    # threshold curve: identical raw-double score (IEEE +,×,/ only, so
    # bucketing cannot flip between engines); BIGINT-cast every summed
    # column (DuckDB SUM(BIGINT) is HUGEINT → float64 via .df())
    # quantile gate: identical score expression and operation order as
    # the Spark side (IEEE +,×,/ only); the cutoff CTE mirrors the
    # histogram-cumsum-budget derivation, integer math throughout
    "q_quality_gate": rf"""
        WITH b AS (
            SELECT doc_id, lang,
                   CAST(FLOOR((
                       len(regexp_extract_all(text,
                               '\b(the|a|of|is|and|to|in)\b'))
                           / len(string_split_regex(trim(text), '\s+'))
                           * 0.5
                       + len(regexp_extract_all(text, '[^\w\s]'))
                           / length(text) * -0.25
                       + length(text)
                           / len(string_split_regex(trim(text), '\s+'))
                           * 0.05) * {QG_SCALE}) AS BIGINT)
                       AS quality_bin,
                   FLOOR((
                       len(regexp_extract_all(text,
                               '\b(the|a|of|is|and|to|in)\b'))
                           / len(string_split_regex(trim(text), '\s+'))
                           * 0.5
                       + len(regexp_extract_all(text, '[^\w\s]'))
                           / length(text) * -0.25
                       + length(text)
                           / len(string_split_regex(trim(text), '\s+'))
                           * 0.05) * 1e6 + 0.5) / 1e6 AS quality_score
            FROM documents
            WHERE len(string_split_regex(trim(text), '\s+')) > 0
              AND length(text) > 0),
        h AS (SELECT quality_bin, COUNT(*) AS c FROM b GROUP BY 1),
        cw AS (
            SELECT quality_bin,
                   SUM(c) OVER (ORDER BY quality_bin
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS cum,
                   SUM(c) OVER () AS total
            FROM h),
        cut AS (
            SELECT MAX(quality_bin) AS cutoff_bin
            FROM cw
            WHERE cum <= FLOOR(total * {QG_DROP_PCT} / 100.0))
        SELECT doc_id, lang, quality_bin, quality_score
        FROM b, cut
        WHERE cut.cutoff_bin IS NULL OR quality_bin > cut.cutoff_bin
    """,
    # incremental gate: the merged stored+shard histogram must yield
    # exactly the full-population cutoff — same CTEs, output filtered
    # to the shard (the maintainer's admission grain)

    # vocab coverage: one token-count CTE, rank by the same total order,
    # per-k conditional sums over the vocab-bounded table
    "q_vocab_coverage": rf"""
        WITH tok AS (
            SELECT unnest(list_filter(
                       string_split_regex(lower(trim(text)), '\s+'),
                       x -> x <> '')) AS tok
            FROM documents),
        cnts AS (
            SELECT tok, COUNT(*) AS cnt FROM tok GROUP BY tok),
        ranked AS (
            SELECT cnt,
                   ROW_NUMBER() OVER (ORDER BY cnt DESC, tok) AS rnk
            FROM cnts),
        ks AS (
            SELECT unnest([{", ".join(str(k) for k in VOCAB_COVERAGE_KS)}])
                       AS vocab_size)
        SELECT CAST(vocab_size AS INT) AS vocab_size,
               CAST(SUM(CASE WHEN rnk <= vocab_size THEN cnt ELSE 0 END)
                    AS BIGINT) AS covered_occurrences,
               CAST(SUM(cnt) AS BIGINT) AS total_occurrences,
               FLOOR(SUM(CASE WHEN rnk <= vocab_size THEN cnt ELSE 0 END)
                     / CAST(SUM(cnt) AS DOUBLE) * 1000000.0 + 0.5)
                   / 1000000.0 AS coverage
        FROM ranked CROSS JOIN ks
        GROUP BY vocab_size
    """,
    # per-lang gate: the gate CTEs with lang-partitioned cum/total and a
    # per-lang cutoff joined back on lang (LEFT so cutoff-less langs keep
    # everything)
    "q_quality_gate_by_lang": rf"""
        WITH b AS (
            SELECT doc_id, lang,
                   CAST(FLOOR((
                       len(regexp_extract_all(text,
                               '\b(the|a|of|is|and|to|in)\b'))
                           / len(string_split_regex(trim(text), '\s+'))
                           * 0.5
                       + len(regexp_extract_all(text, '[^\w\s]'))
                           / length(text) * -0.25
                       + length(text)
                           / len(string_split_regex(trim(text), '\s+'))
                           * 0.05) * {QG_SCALE}) AS BIGINT)
                       AS quality_bin,
                   FLOOR((
                       len(regexp_extract_all(text,
                               '\b(the|a|of|is|and|to|in)\b'))
                           / len(string_split_regex(trim(text), '\s+'))
                           * 0.5
                       + len(regexp_extract_all(text, '[^\w\s]'))
                           / length(text) * -0.25
                       + length(text)
                           / len(string_split_regex(trim(text), '\s+'))
                           * 0.05) * 1e6 + 0.5) / 1e6 AS quality_score
            FROM documents
            WHERE len(string_split_regex(trim(text), '\s+')) > 0
              AND length(text) > 0),
        h AS (SELECT lang, quality_bin, COUNT(*) AS c FROM b GROUP BY 1, 2),
        cw AS (
            SELECT lang, quality_bin,
                   SUM(c) OVER (PARTITION BY lang ORDER BY quality_bin
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS cum,
                   SUM(c) OVER (PARTITION BY lang) AS total
            FROM h),
        cut AS (
            SELECT lang, MAX(quality_bin) AS cutoff_bin
            FROM cw
            WHERE cum <= FLOOR(total * {QG_DROP_PCT} / 100.0)
            GROUP BY lang)
        SELECT b.doc_id, b.lang, b.quality_bin, b.quality_score
        FROM b LEFT JOIN cut USING (lang)
        WHERE cut.cutoff_bin IS NULL OR b.quality_bin > cut.cutoff_bin
    """,
    # curriculum staging: the gate's scoring CTE + a DESC cumulative
    # window over the bin histogram; stage math is LEAST/FLOOR over an
    # exact division — bit-identical cross-engine
    "q_curriculum_order": rf"""
        WITH b AS (
            SELECT doc_id,
                   CAST(FLOOR((
                       len(regexp_extract_all(text,
                               '\b(the|a|of|is|and|to|in)\b'))
                           / len(string_split_regex(trim(text), '\s+'))
                           * 0.5
                       + len(regexp_extract_all(text, '[^\w\s]'))
                           / length(text) * -0.25
                       + length(text)
                           / len(string_split_regex(trim(text), '\s+'))
                           * 0.05) * {QG_SCALE}) AS BIGINT)
                       AS quality_bin
            FROM documents
            WHERE len(string_split_regex(trim(text), '\s+')) > 0
              AND length(text) > 0),
        h AS (SELECT quality_bin, COUNT(*) AS c FROM b GROUP BY 1),
        st AS (
            SELECT quality_bin,
                   CAST(LEAST({CURRICULUM_STAGES - 1},
                              FLOOR((SUM(c) OVER (ORDER BY quality_bin DESC
                                         ROWS BETWEEN UNBOUNDED PRECEDING
                                         AND CURRENT ROW) - 1)
                                    * {CURRICULUM_STAGES}
                                    / SUM(c) OVER ())) AS BIGINT) AS stage
            FROM h)
        SELECT b.doc_id, b.quality_bin, st.stage,
               md5(CAST(b.doc_id AS VARCHAR)) AS order_key
        FROM b JOIN st USING (quality_bin)
    """,
    "q_quality_token_curve": rf"""
        WITH per_doc AS (
            SELECT CAST(FLOOR((
                       len(regexp_extract_all(text,
                               '\b(the|a|of|is|and|to|in)\b'))
                           / len(string_split_regex(trim(text), '\s+'))
                           * 0.5
                       + len(regexp_extract_all(text, '[^\w\s]'))
                           / length(text) * -0.25
                       + length(text)
                           / len(string_split_regex(trim(text), '\s+'))
                           * 0.05) * {QC_SCALE}) AS BIGINT)
                       AS score_bucket,
                   CAST(len(string_split_regex(trim(text), '\s+'))
                        AS BIGINT) AS n_tok
            FROM documents
            WHERE len(string_split_regex(trim(text), '\s+')) > 0
              AND length(text) > 0),
        summary AS (
            SELECT score_bucket, COUNT(*) AS n_docs,
                   CAST(SUM(n_tok) AS BIGINT) AS bucket_tokens
            FROM per_doc GROUP BY 1)
        SELECT score_bucket, n_docs, bucket_tokens,
               CAST(SUM(bucket_tokens) OVER (
                   ORDER BY score_bucket DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS tokens_retained,
               FLOOR(SUM(bucket_tokens) OVER (
                         ORDER BY score_bucket DESC
                         ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW)
                     / SUM(bucket_tokens) OVER ()
                     * 1e6 + 0.5) / 1e6 AS retained_frac
        FROM summary
    """,
    # curve drift: the token-curve formula per doc_id-parity half +
    # guarded per-half cumulative fractions + 6-dp re-quantized delta
    "q_quality_curve_drift": rf"""
        WITH per_doc AS (
            SELECT CAST(FLOOR((
                       len(regexp_extract_all(text,
                               '\b(the|a|of|is|and|to|in)\b'))
                           / len(string_split_regex(trim(text), '\s+'))
                           * 0.5
                       + len(regexp_extract_all(text, '[^\w\s]'))
                           / length(text) * -0.25
                       + length(text)
                           / len(string_split_regex(trim(text), '\s+'))
                           * 0.05) * {QC_SCALE}) AS BIGINT)
                       AS score_bucket,
                   CAST(len(string_split_regex(trim(text), '\s+'))
                        AS BIGINT) AS n_tok,
                   doc_id % 2 = 0 AS ev
            FROM documents
            WHERE len(string_split_regex(trim(text), '\s+')) > 0
              AND length(text) > 0),
        summary AS (
            SELECT score_bucket,
                   CAST(SUM(CASE WHEN ev THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_docs_even,
                   CAST(SUM(CASE WHEN ev THEN n_tok ELSE 0 END) AS BIGINT)
                       AS tokens_even,
                   CAST(SUM(CASE WHEN ev THEN 0 ELSE 1 END) AS BIGINT)
                       AS n_docs_odd,
                   CAST(SUM(CASE WHEN ev THEN 0 ELSE n_tok END) AS BIGINT)
                       AS tokens_odd
            FROM per_doc GROUP BY 1),
        c AS (
            SELECT *,
                   SUM(tokens_even) OVER (
                       ORDER BY score_bucket DESC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS cum_e,
                   SUM(tokens_even) OVER () AS tot_e,
                   SUM(tokens_odd) OVER (
                       ORDER BY score_bucket DESC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS cum_o,
                   SUM(tokens_odd) OVER () AS tot_o
            FROM summary),
        f AS (
            SELECT *,
                   CASE WHEN tot_e > 0
                        THEN FLOOR(cum_e / CAST(tot_e AS DOUBLE)
                                   * 1e6 + 0.5) / 1e6
                        ELSE 0.0 END AS retained_frac_even,
                   CASE WHEN tot_o > 0
                        THEN FLOOR(cum_o / CAST(tot_o AS DOUBLE)
                                   * 1e6 + 0.5) / 1e6
                        ELSE 0.0 END AS retained_frac_odd
            FROM c)
        SELECT score_bucket, n_docs_even, tokens_even, retained_frac_even,
               n_docs_odd, tokens_odd, retained_frac_odd,
               FLOOR((retained_frac_even - retained_frac_odd) * 1e6 + 0.5)
                   / 1e6 AS retained_drift
        FROM f
    """,
    # cross-source contamination: same gram generation as the chunk
    # oracle (1-indexed list_slice over an unnested series); DuckDB's
    # `/` on integers is IEEE double division like Spark's
    "q_source_overlap": rf"""
        WITH base AS (
            SELECT source,
                   list_filter(
                       string_split_regex(lower(trim(text)), '\s+'),
                       x -> x <> '') AS t
            FROM documents),
        ex AS (
            SELECT source, t,
                   unnest(generate_series(1, len(t) - {OVERLAP_N - 1}))
                       AS i
            FROM base WHERE len(t) >= {OVERLAP_N}),
        grams AS (
            SELECT DISTINCT source,
                   array_to_string(
                       list_slice(t, i, i + {OVERLAP_N - 1}), ' ') AS gram
            FROM ex),
        totals AS (SELECT source, COUNT(*) AS n_grams FROM grams
                   GROUP BY 1),
        common AS (
            SELECT a.source AS src_a, b.source AS src_b,
                   COUNT(*) AS common_grams
            FROM grams a
            JOIN grams b ON a.gram = b.gram AND a.source < b.source
            GROUP BY 1, 2)
        SELECT src_a, src_b, common_grams,
               ta.n_grams AS grams_a, tb.n_grams AS grams_b,
               FLOOR(common_grams
                     / (ta.n_grams + tb.n_grams - common_grams)
                     * 1e6 + 0.5) / 1e6 AS jaccard
        FROM common
        JOIN totals ta ON ta.source = src_a
        JOIN totals tb ON tb.source = src_b
    """,
    # sliding chunks: list_slice + unnested per-row series reproduce the
    # window geometry exactly (1-indexed slice, last partial kept; a
    # trailing window that would be a strict suffix of the previous one
    # is not emitted — same n_chunks formula as the Spark side);
    # note documents text is never empty so n >= 1 and every doc chunks
    "q_chunk_documents": rf"""
        WITH base AS (
            SELECT doc_id,
                   string_split_regex(lower(trim(text)), '\s+') AS t,
                   len(string_split_regex(lower(trim(text)), '\s+')) AS n
            FROM documents),
        ex AS (
            SELECT doc_id, t, n,
                   unnest(generate_series(
                       0, CAST(floor(greatest(
                              n - {CHUNK_TOKENS - CHUNK_STRIDE + 1}, 0)
                                     / {CHUNK_STRIDE}) AS INT))) AS i
            FROM base)
        SELECT doc_id,
               CAST(i AS INT) AS chunk_idx,
               array_to_string(
                   list_slice(t, i * {CHUNK_STRIDE} + 1,
                              i * {CHUNK_STRIDE} + {CHUNK_TOKENS}),
                   ' ') AS chunk_text,
               CAST(least({CHUNK_TOKENS}, n - i * {CHUNK_STRIDE}) AS INT)
                   AS chunk_tokens
        FROM ex
    """,
    # exact heavy hitters — the MG pass only prunes candidates, so the
    # plain GROUP BY/HAVING twin must match value-for-value; the
    # integer-exact threshold (count * HH_K > n) mirrors the Spark side
    "q_heavy_hitters": rf"""
        WITH tok AS (
            SELECT t.token
            FROM (SELECT list_filter(
                             string_split_regex(lower(trim(text)), '\s+'),
                             x -> x <> '') AS tk
                  FROM documents) d,
                 unnest(d.tk) AS t(token)),
        n AS (SELECT COUNT(*) AS n_tokens FROM tok)
        SELECT token, COUNT(*) AS n_occurrences
        FROM tok CROSS JOIN n
        GROUP BY token, n.n_tokens
        HAVING COUNT(*) * {HH_K} > n.n_tokens
    """,
    "q_dedup_cdc_chunks": rf"""
        WITH toks AS (
            SELECT doc_id, t.tok,
                   ROW_NUMBER() OVER (PARTITION BY doc_id
                       ORDER BY t.pos) - 1 AS pos
            FROM (SELECT doc_id,
                         list_filter(
                             string_split_regex(lower(trim(text)), '\s+'),
                             x -> x <> '') AS tk
                  FROM documents) d,
                 LATERAL (SELECT unnest(d.tk) AS tok,
                                 generate_subscripts(d.tk, 1) AS pos) t),
        flagged AS (
            SELECT doc_id, pos, tok,
                   CASE WHEN CAST('0x' || substr(md5(tok), 1, 8) AS BIGINT)
                             % {CDC_MOD} = 0
                        THEN 1 ELSE 0 END AS is_boundary
            FROM toks),
        chunked AS (
            SELECT doc_id, pos, tok,
                   COALESCE(SUM(is_boundary) OVER (
                       PARTITION BY doc_id ORDER BY pos
                       ROWS BETWEEN UNBOUNDED PRECEDING
                            AND 1 PRECEDING), 0) AS chunk_id
            FROM flagged),
        chunks AS (
            SELECT doc_id, chunk_id,
                   md5(string_agg(tok, ' ' ORDER BY pos)) AS h
            FROM chunked GROUP BY 1, 2),
        occ AS (
            SELECT doc_id, h, COUNT(*) AS occ FROM chunks GROUP BY 1, 2),
        tot AS (
            SELECT doc_id, occ,
                   SUM(occ) OVER (PARTITION BY h) AS tot
            FROM occ),
        counted AS (
            SELECT doc_id,
                   CAST(SUM(occ) AS BIGINT) AS n_chunks,
                   CAST(SUM(CASE WHEN tot > occ THEN occ ELSE 0 END)
                        AS BIGINT) AS n_dup_chunks
            FROM tot GROUP BY 1)
        SELECT doc_id, n_chunks, n_dup_chunks,
               FLOOR(n_dup_chunks / n_chunks * 1e6 + 0.5) / 1e6 AS dup_frac
        FROM counted
    """,
    "q_text_bm25": f"""
        WITH {BM25_ORACLE_CTES}
        SELECT doc_id, n_hit_terms, bm25 FROM bm
    """,
    # incremental BM25: merged (N, avgdl, df) must equal the full
    # recompute — the SAME shared CTE chain, filtered to the shard
    "q_bm25_incremental": f"""
        WITH {BM25_ORACLE_CTES}
        SELECT doc_id, n_hit_terms, bm25 FROM bm
        WHERE doc_id % {TEXT_SHARD_MOD} = 0
    """,
    "q_ngram_lm_score": r"""
        WITH t AS (
            SELECT doc_id,
                   string_split_regex(lower(trim(text)), '\s+') AS tk
            FROM documents),
        bg AS (
            SELECT doc_id, tk[i] || ' ' || tk[i+1] AS g, tk[i] AS w1
            FROM t, unnest(generate_series(1, len(tk) - 1)) AS s(i)),
        c2 AS (SELECT g, count(*) AS c2 FROM bg GROUP BY 1),
        c1 AS (SELECT w1, count(*) AS c1 FROM bg GROUP BY 1)
        SELECT bg.doc_id, count(*) AS n_bigrams,
               CAST(FLOOR(SUM(CAST(CAST(c2.c2 AS DOUBLE) / c1.c1
                                   AS DECIMAL(18,6))) / COUNT(*)
                          * 1000000.0 + 0.5) / 1000000.0
                    AS DOUBLE) AS avg_cond_p
        FROM bg JOIN c2 USING (g) JOIN c1 USING (w1)
        GROUP BY bg.doc_id
    """,
    "q_doc_ngram_topk": r"""
        WITH t AS (
            SELECT lang,
                   string_split_regex(lower(trim(text)), '\s+') AS tk
            FROM documents),
        tg AS (
            SELECT lang, tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] AS g
            FROM t, unnest(generate_series(1, len(tk) - 2)) AS s(i)),
        c AS (SELECT lang, g, count(*) AS cnt FROM tg GROUP BY 1, 2)
        SELECT * FROM (
            SELECT lang, g AS trigram, cnt,
                   CAST(row_number() OVER (
                       PARTITION BY lang ORDER BY cnt DESC, g) AS INT) AS rnk
            FROM c)
        WHERE rnk <= 10
    """,
    "q_tfidf": r"""
        WITH toks AS (
            SELECT doc_id, t.term
            FROM documents,
                 unnest(string_split_regex(lower(trim(text)), '\s+')) AS t(term)
            WHERE t.term <> ''),
        tf AS (
            SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
        dfreq AS (
            SELECT term, count(*) AS df FROM tf GROUP BY 1),
        n AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents)
        SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
               ROUND(CAST(tf.tf AS DOUBLE) * n.n_docs / CAST(dfreq.df AS DOUBLE),
                     6) AS tfidf_ratio
        FROM tf JOIN dfreq USING (term), n
    """,
    # incremental TF-IDF: the merged stored-index must equal the full
    # recompute — same tf/df/N CTEs as q_tfidf, rows filtered to the
    # shard (the maintainer's output grain)
    "q_tfidf_incremental": rf"""
        WITH toks AS (
            SELECT doc_id, t.term
            FROM documents,
                 unnest(string_split_regex(lower(trim(text)), '\s+')) AS t(term)
            WHERE t.term <> ''),
        tf AS (
            SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
        dfreq AS (
            SELECT term, count(*) AS df FROM tf GROUP BY 1),
        n AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents)
        SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
               ROUND(CAST(tf.tf AS DOUBLE) * n.n_docs / CAST(dfreq.df AS DOUBLE),
                     6) AS tfidf_ratio
        FROM tf JOIN dfreq USING (term), n
        WHERE tf.doc_id % {TEXT_SHARD_MOD} = 0
    """,
    "q_token_count": r"""
        SELECT doc_id,
               len(string_split_regex(trim(text), '\s+')) AS ws_tokens,
               len(regexp_extract_all(text, '\w+|[^\w\s]')) AS re_tokens
        FROM documents
    """,
    "q_text_stats": r"""
        SELECT lang, source, count(*) AS doc_count,
               min(n_chars) AS min_chars, max(n_chars) AS max_chars,
               CAST(FLOOR(SUM(CAST(CAST(n_chars AS DOUBLE) AS DECIMAL(18,6)))
                          / COUNT(n_chars) * 10000.0 + 0.5) / 10000.0
                    AS DOUBLE) AS avg_chars
        FROM documents GROUP BY lang, source
    """,
    "q_lang_id": r"""
        SELECT doc_id, lang,
               ROUND(len(regexp_extract_all(text, '\b(the|a|of|is|and|to|in)\b'))
                     / len(string_split_regex(trim(text), '\s+')), 6)
                   AS en_marker_ratio,
               CASE WHEN len(regexp_extract_all(text, '\b(the|a|of|is|and|to|in)\b'))
                         / len(string_split_regex(trim(text), '\s+')) >= 0.05
                    THEN 'en' ELSE 'other' END AS predicted_lang
        FROM documents
    """,
    "q_quality_score": r"""
        SELECT doc_id,
               len(string_split_regex(trim(text), '\s+')) AS n_tokens,
               ROUND(length(text)
                     / NULLIF(len(string_split_regex(trim(text), '\s+')), 0), 6)
                   AS mean_token_len,
               ROUND(len(regexp_extract_all(text, '[^\w\s]'))
                     / NULLIF(length(text), 0), 6)
                   AS punct_ratio,
               ROUND(len(regexp_extract_all(text, '\b(the|a|of|is|and|to|in)\b'))
                     / NULLIF(len(string_split_regex(trim(text), '\s+')), 0), 6)
                   AS stopword_ratio,
               ROUND(len(regexp_extract_all(text, '\b(the|a|of|is|and|to|in)\b'))
                         / NULLIF(len(string_split_regex(trim(text), '\s+')), 0) * 0.5
                     + len(regexp_extract_all(text, '[^\w\s]'))
                         / NULLIF(length(text), 0) * -0.25
                     + length(text)
                         / NULLIF(len(string_split_regex(trim(text), '\s+')), 0) * 0.05,
                     6) AS quality_score
        FROM documents
    """,
    "q_fingerprint": """
        SELECT doc_id, md5(lower(trim(text))) AS fingerprint FROM documents
    """,
    "q_pandas_udf_textlen": """
        SELECT doc_id, length(text) AS text_len FROM documents
    """,
    "q_quality_repetition": r"""
        WITH t AS (
            SELECT doc_id,
                   string_split_regex(lower(trim(text)), '\s+') AS tk
            FROM documents),
        bg AS (
            SELECT doc_id, tk[i] || ' ' || tk[i+1] AS g
            FROM t, unnest(generate_series(1, len(tk) - 1)) AS s(i)),
        bgc AS (SELECT doc_id, g, count(*) AS c FROM bg GROUP BY 1, 2),
        bstats AS (
            SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams,
                   max(c) AS top_c
            FROM bgc GROUP BY 1),
        tg AS (
            SELECT doc_id, tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] AS g
            FROM t, unnest(generate_series(1, len(tk) - 2)) AS s(i)),
        tstats AS (
            SELECT doc_id, count(*) AS n_trigrams,
                   count(DISTINCT g) AS n_distinct_tri
            FROM tg GROUP BY 1)
        SELECT d.doc_id, b.n_bigrams,
               ROUND(b.top_c / b.n_bigrams, 6) AS top_bigram_frac,
               ts.n_trigrams,
               ROUND(1 - ts.n_distinct_tri / ts.n_trigrams, 6)
                   AS dup_trigram_frac
        FROM documents d
        LEFT JOIN bstats b ON d.doc_id = b.doc_id
        LEFT JOIN tstats ts ON d.doc_id = ts.doc_id
    """,
    # incremental decontamination maintainer: two fixpoints (stored
    # benchmark, stored + delta) over the SAME df-capped distinct
    # posting the Spark side probes — phase precedence 'stored' first
    "q_decontaminate_incremental": rf"""
        WITH t AS (
            SELECT doc_id,
                   string_split_regex(lower(trim(text)), '\s+') AS tk
            FROM documents),
        tg AS (
            SELECT DISTINCT doc_id,
                   tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] AS g
            FROM t, unnest(generate_series(1, len(tk) - 2)) AS s(i)),
        post AS (SELECT doc_id, g FROM tg WHERE doc_id % {BENCHMARK_MOD} <> 0),
        ok AS (SELECT g FROM post GROUP BY g
               HAVING COUNT(*) <= {DECON_DF_CAP}),
        pc AS (SELECT p.doc_id, p.g FROM post p JOIN ok USING (g)),
        oldb AS (SELECT DISTINCT g FROM tg
                 WHERE doc_id % {BENCHMARK_DELTA_MOD} = 0),
        newb AS (SELECT DISTINCT g FROM tg
                 WHERE doc_id % {BENCHMARK_MOD} = 0
                   AND doc_id % {BENCHMARK_DELTA_MOD} <> 0),
        stored AS (SELECT DISTINCT doc_id FROM pc
                   WHERE g IN (SELECT g FROM oldb)),
        deltac AS (SELECT DISTINCT doc_id FROM pc
                   WHERE g IN (SELECT g FROM newb))
        SELECT d.doc_id, d.lang, d.source,
               CASE WHEN s.doc_id IS NOT NULL THEN 'stored'
                    ELSE 'delta' END AS phase
        FROM documents d
        LEFT JOIN stored s ON s.doc_id = d.doc_id
        LEFT JOIN deltac x ON x.doc_id = d.doc_id
        WHERE d.doc_id % {BENCHMARK_MOD} <> 0
          AND (s.doc_id IS NOT NULL OR x.doc_id IS NOT NULL)
    """,
    "q_decontaminate": r"""
        WITH t AS (
            SELECT doc_id,
                   string_split_regex(lower(trim(text)), '\s+') AS tk
            FROM documents),
        tg AS (
            SELECT doc_id, tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] AS g
            FROM t, unnest(generate_series(1, len(tk) - 2)) AS s(i)),
        bench AS (SELECT DISTINCT g FROM tg WHERE doc_id % 97 = 0),
        bad AS (
            SELECT DISTINCT doc_id FROM tg
            WHERE doc_id % 97 <> 0 AND g IN (SELECT g FROM bench))
        SELECT doc_id, lang, source FROM documents
        WHERE doc_id % 97 <> 0
          AND doc_id NOT IN (SELECT doc_id FROM bad)
    """,
    # drift report: q_decontaminate's bench/bad CTEs verbatim, the
    # non-bench corpus split by doc_id parity, rates 6-dp FLOOR-rounded
    # with the zero-doc guard mirrored from the Spark side
    "q_decontaminate_drift": r"""
        WITH t AS (
            SELECT doc_id,
                   string_split_regex(lower(trim(text)), '\s+') AS tk
            FROM documents),
        tg AS (
            SELECT doc_id, tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] AS g
            FROM t, unnest(generate_series(1, len(tk) - 2)) AS s(i)),
        bench AS (SELECT DISTINCT g FROM tg WHERE doc_id % 97 = 0),
        bad AS (
            SELECT DISTINCT doc_id FROM tg
            WHERE doc_id % 97 <> 0 AND g IN (SELECT g FROM bench)),
        per AS (
            SELECT d.lang,
                   CAST(SUM(CASE WHEN d.doc_id % 2 = 0 THEN 1 ELSE 0 END)
                        AS BIGINT) AS docs_even,
                   CAST(SUM(CASE WHEN d.doc_id % 2 = 0
                                  AND bad.doc_id IS NOT NULL
                                 THEN 1 ELSE 0 END) AS BIGINT)
                       AS hits_even,
                   CAST(SUM(CASE WHEN d.doc_id % 2 <> 0 THEN 1 ELSE 0 END)
                        AS BIGINT) AS docs_odd,
                   CAST(SUM(CASE WHEN d.doc_id % 2 <> 0
                                  AND bad.doc_id IS NOT NULL
                                 THEN 1 ELSE 0 END) AS BIGINT)
                       AS hits_odd
            FROM documents d LEFT JOIN bad ON d.doc_id = bad.doc_id
            WHERE d.doc_id % 97 <> 0
            GROUP BY d.lang),
        r AS (
            SELECT *,
                   CASE WHEN docs_even > 0
                        THEN FLOOR(CAST(hits_even AS DOUBLE)
                                   / CAST(docs_even AS DOUBLE)
                                   * 1000000.0 + 0.5) / 1000000.0
                        ELSE 0.0 END AS rate_even,
                   CASE WHEN docs_odd > 0
                        THEN FLOOR(CAST(hits_odd AS DOUBLE)
                                   / CAST(docs_odd AS DOUBLE)
                                   * 1000000.0 + 0.5) / 1000000.0
                        ELSE 0.0 END AS rate_odd
            FROM per)
        SELECT lang, docs_even, hits_even, rate_even,
               docs_odd, hits_odd, rate_odd,
               FLOOR((rate_even - rate_odd) * 1000000.0 + 0.5)
                   / 1000000.0 AS rate_drift
        FROM r
    """,
    # per-source contamination: q_decontaminate's bench/bad CTEs
    # verbatim, rolled up by source with the guarded 6-dp rate
    "q_contamination_by_source": r"""
        WITH t AS (
            SELECT doc_id,
                   string_split_regex(lower(trim(text)), '\s+') AS tk
            FROM documents),
        tg AS (
            SELECT doc_id, tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] AS g
            FROM t, unnest(generate_series(1, len(tk) - 2)) AS s(i)),
        bench AS (SELECT DISTINCT g FROM tg WHERE doc_id % 97 = 0),
        bad AS (
            SELECT DISTINCT doc_id FROM tg
            WHERE doc_id % 97 <> 0 AND g IN (SELECT g FROM bench)),
        per AS (
            SELECT d.source,
                   CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(CASE WHEN bad.doc_id IS NOT NULL
                                 THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_contaminated
            FROM documents d LEFT JOIN bad ON d.doc_id = bad.doc_id
            WHERE d.doc_id % 97 <> 0
            GROUP BY d.source)
        SELECT source, n_docs, n_contaminated,
               CASE WHEN n_docs > 0
                    THEN FLOOR(CAST(n_contaminated AS DOUBLE)
                               / CAST(n_docs AS DOUBLE)
                               * 1000000.0 + 0.5) / 1000000.0
                    ELSE 0.0 END AS contamination_rate
        FROM per
    """,
    "q_dup_span_fraction": r"""
        WITH t AS (
            SELECT doc_id,
                   string_split_regex(lower(trim(text)), '\s+') AS tk
            FROM documents),
        g AS (
            SELECT doc_id, md5(gram) AS h FROM (
                SELECT doc_id,
                       unnest(list_transform(
                           generate_series(1, len(tk) - 7),
                           i -> array_to_string(tk[i:i+7], ' '))) AS gram
                FROM t)),
        nd AS (SELECT h, count(DISTINCT doc_id) AS ndocs FROM g GROUP BY h)
        SELECT g.doc_id,
               count(*) AS n_spans,
               CAST(sum(CASE WHEN nd.ndocs > 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_dup_spans,
               FLOOR(CAST(sum(CASE WHEN nd.ndocs > 1 THEN 1 ELSE 0 END)
                          AS BIGINT) / count(*) * 1000000.0 + 0.5)
                   / 1000000.0 AS dup_frac
        FROM g JOIN nd USING (h)
        GROUP BY g.doc_id
    """,
}

# shared gaps-and-islands excision suffix (q_dup_span_removal /
# q_decontaminate_spans): reads CTEs ``tk`` (doc_id, t — the op's doc
# population), ``nn`` (doc_id, n) and ``rmstart`` (doc_id, pos, e) —
# prev-running-max merges overlapping/touching removed intervals,
# complement = lag-gaps + per-doc tail + untouched whole docs; kept
# text rebuilt by list slicing so the excision itself is value-checked
_EXCISION_SQL_SUFFIX = r""",
        pm AS (
            SELECT doc_id, pos, e,
                   MAX(e) OVER (PARTITION BY doc_id ORDER BY pos
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND 1 PRECEDING) AS prev_max
            FROM rmstart),
        grp AS (
            SELECT doc_id, pos, e,
                   SUM(CASE WHEN prev_max IS NULL OR pos > prev_max + 1
                            THEN 1 ELSE 0 END)
                       OVER (PARTITION BY doc_id ORDER BY pos
                             ROWS UNBOUNDED PRECEDING) AS grp
            FROM pm),
        rm AS (
            SELECT doc_id, grp, MIN(pos) AS rm_start, MAX(e) AS rm_end
            FROM grp GROUP BY 1, 2),
        gaps AS (
            SELECT doc_id,
                   COALESCE(lag(rm_end) OVER (PARTITION BY doc_id
                                              ORDER BY rm_start) + 1,
                            1) AS kept_start,
                   rm_start - 1 AS kept_end
            FROM rm),
        tails AS (
            SELECT rm.doc_id, MAX(rm_end) + 1 AS kept_start,
                   MAX(nn.n) AS kept_end
            FROM rm JOIN nn USING (doc_id) GROUP BY rm.doc_id),
        whole AS (
            SELECT doc_id, CAST(1 AS BIGINT) AS kept_start, n AS kept_end
            FROM nn
            WHERE n >= 1
              AND doc_id NOT IN (SELECT DISTINCT doc_id FROM rm)),
        islands AS (
            SELECT * FROM gaps WHERE kept_end >= kept_start
            UNION ALL SELECT * FROM tails WHERE kept_end >= kept_start
            UNION ALL SELECT * FROM whole)
        SELECT i.doc_id, i.kept_start, i.kept_end,
               i.kept_end - i.kept_start + 1 AS kept_tokens,
               array_to_string(tk.t[i.kept_start:i.kept_end], ' ')
                   AS kept_text
        FROM islands i JOIN tk USING (doc_id)
    """

# ExactSubstr removal: identical duplication rule as the fraction
# oracle (corpus total > own-doc occurrences, via two window counts),
# then the shared excision chain
ORACLES["q_dup_span_removal"] = (
    rf"""
        WITH tk AS (
            SELECT doc_id,
                   list_filter(
                       string_split_regex(lower(trim(text)), '\s+'),
                       x -> x <> '') AS t
            FROM documents),
        nn AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS n FROM tk),
        sp AS (
            SELECT doc_id, CAST(i AS BIGINT) AS pos,
                   md5(array_to_string(t[i:i+{DUP_SPAN_N - 1}], ' ')) AS h
            FROM tk, unnest(generate_series(1, len(t) - {DUP_SPAN_N - 1}))
                     AS s(i)
            WHERE len(t) >= {DUP_SPAN_N}),
        marked AS (
            SELECT doc_id, pos,
                   COUNT(*) OVER (PARTITION BY h)
                       > COUNT(*) OVER (PARTITION BY doc_id, h) AS dup
            FROM sp),
        rmstart AS (
            SELECT doc_id, pos, pos + {DUP_SPAN_N - 1} AS e
            FROM marked WHERE dup)"""
    + _EXCISION_SQL_SUFFIX
)

# intra-doc repetition removal: keep each repeated gram's FIRST
# occurrence (MIN window per (doc, gram)), excise the rest, then the
# shared excision chain
ORACLES["q_repetition_removal"] = (
    rf"""
        WITH tk AS (
            SELECT doc_id,
                   list_filter(
                       string_split_regex(lower(trim(text)), '\s+'),
                       x -> x <> '') AS t
            FROM documents),
        nn AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS n FROM tk),
        sp AS (
            SELECT doc_id, CAST(i AS BIGINT) AS pos,
                   md5(array_to_string(t[i:i+{REP_SPAN_N - 1}], ' ')) AS h
            FROM tk, unnest(generate_series(1, len(t) - {REP_SPAN_N - 1}))
                     AS s(i)
            WHERE len(t) >= {REP_SPAN_N}),
        rmstart AS (
            SELECT doc_id, pos, pos + {REP_SPAN_N - 1} AS e FROM (
                SELECT doc_id, pos,
                       MIN(pos) OVER (PARTITION BY doc_id, h) AS first_pos
                FROM sp)
            WHERE pos > first_pos)"""
    + _EXCISION_SQL_SUFFIX
)

# span decontamination: bench grams via the UNFILTERED split (the
# _ngram_rows tokenization the doc-level oracle also uses), span grams
# over the filtered token arrays, membership (no windows), then the
# shared excision chain over non-benchmark docs only
ORACLES["q_decontaminate_spans"] = (
    rf"""
        WITH tk AS (
            SELECT doc_id,
                   list_filter(
                       string_split_regex(lower(trim(text)), '\s+'),
                       x -> x <> '') AS t
            FROM documents WHERE doc_id % {BENCHMARK_MOD} <> 0),
        nn AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS n FROM tk),
        btk AS (
            SELECT string_split_regex(lower(trim(text)), '\s+') AS bt
            FROM documents WHERE doc_id % {BENCHMARK_MOD} = 0),
        bg AS (
            SELECT DISTINCT bt[i] || ' ' || bt[i+1] || ' ' || bt[i+2] AS g
            FROM btk, unnest(generate_series(1, len(bt) - 2)) AS s(i)),
        sp AS (
            SELECT doc_id, CAST(i AS BIGINT) AS pos,
                   array_to_string(t[i:i+2], ' ') AS g
            FROM tk, unnest(generate_series(1, len(t) - 2)) AS s(i)
            WHERE len(t) >= 3),
        rmstart AS (
            SELECT doc_id, pos, pos + 2 AS e
            FROM sp WHERE g IN (SELECT g FROM bg))"""
    + _EXCISION_SQL_SUFFIX
)


def _bpe_round_ctes(i: int) -> str:
    """One unrolled BPE training round over ``stream_{i}`` (doc_id, pos,
    tok): winner by the (count DESC, left, right) total order; greedy
    LTR non-overlapping merge via gaps-and-islands (match positions in
    the same island merge at ODD island offsets — the closed form of
    the fold; islands longer than 1 require left = right); the surviving
    positions rebuild ``stream_{i+1}``. COALESCE keeps the last-token
    NULL lookahead out of the boolean pipeline (a NULL mt would drop the
    row at the NOT consumed filter)."""
    return f"""
        adj_{i} AS (
            SELECT doc_id, pos, tok,
                   lead(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt
            FROM stream_{i}),
        win_{i} AS (
            SELECT tok AS left_tok, nxt AS right_tok, COUNT(*) AS pair_count
            FROM adj_{i} WHERE nxt IS NOT NULL
            GROUP BY 1, 2
            ORDER BY pair_count DESC, left_tok, right_tok LIMIT 1),
        mt_{i} AS (
            SELECT a.doc_id, a.pos, a.tok, a.nxt,
                   COALESCE(a.tok = w.left_tok AND a.nxt = w.right_tok,
                            FALSE) AS mt
            FROM adj_{i} a CROSS JOIN win_{i} w),
        grp_{i} AS (
            SELECT *, pos - ROW_NUMBER() OVER (PARTITION BY doc_id, mt
                                               ORDER BY pos) AS grp
            FROM mt_{i}),
        fl_{i} AS (
            SELECT doc_id, pos, tok, nxt,
                   mt AND (ROW_NUMBER() OVER (PARTITION BY doc_id, mt, grp
                                              ORDER BY pos) % 2 = 1)
                       AS merged_at
            FROM grp_{i}),
        nx_{i} AS (
            SELECT doc_id, pos, tok, nxt, merged_at,
                   lag(merged_at, 1, FALSE)
                       OVER (PARTITION BY doc_id ORDER BY pos) AS consumed
            FROM fl_{i}),
        stream_{i + 1} AS (
            SELECT doc_id,
                   ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos)
                       AS pos,
                   CASE WHEN merged_at THEN tok || ' ' || nxt
                        ELSE tok END AS tok
            FROM nx_{i} WHERE NOT consumed),
        row_{i} AS (
            SELECT {i} AS round, w.left_tok, w.right_tok, w.pair_count,
                   (SELECT COUNT(*) FROM fl_{i} WHERE merged_at)
                       AS n_merges_total,
                   (SELECT COUNT(*) FROM stream_{i + 1})
                       AS n_tokens_after_total
            FROM win_{i} w)"""


ORACLES["q_bpe_train_k"] = (
    r"""
        WITH tk AS (
            SELECT doc_id,
                   list_filter(
                       string_split_regex(lower(trim(text)), '\s+'),
                       x -> x <> '') AS t
            FROM documents),
        stream_1 AS (
            SELECT doc_id, p.pos, p.tok
            FROM tk, LATERAL (SELECT unnest(tk.t) AS tok,
                                     generate_subscripts(tk.t, 1) AS pos) p),"""
    + ",".join(_bpe_round_ctes(i) for i in range(1, BPE_TRAIN_ROUNDS + 1))
    + "\n        "
    + "\n        UNION ALL ".join(
        f"SELECT * FROM row_{i}" for i in range(1, BPE_TRAIN_ROUNDS + 1)
    )
    + "\n        ORDER BY round\n    "
)

# full encode: the same unrolled round CTEs, but publish the FINAL
# stream (the merged token sequence after all rounds) instead of the
# per-round trajectory rows. ROW_NUMBER re-packs positions per round,
# so stream_{k+1}.pos is already the 1-based final position. The CTE
# prefix is shared with the compression report's oracle.
_BPE_ENCODE_CTES = (
    r"""
        WITH tk AS (
            SELECT doc_id,
                   list_filter(
                       string_split_regex(lower(trim(text)), '\s+'),
                       x -> x <> '') AS t
            FROM documents),
        stream_1 AS (
            SELECT doc_id, p.pos, p.tok
            FROM tk, LATERAL (SELECT unnest(tk.t) AS tok,
                                     generate_subscripts(tk.t, 1) AS pos) p),"""
    + ",".join(_bpe_round_ctes(i) for i in range(1, BPE_TRAIN_ROUNDS + 1))
)

ORACLES["q_bpe_encode"] = (
    _BPE_ENCODE_CTES
    + f"""
        SELECT doc_id, CAST(pos AS BIGINT) AS pos, tok
        FROM stream_{BPE_TRAIN_ROUNDS + 1}
    """
)

# the persisted-artifact round trip must reproduce the trained encode
# EXACTLY — same oracle, so a save/register/load/re-encode drift reds
# the driver on values, not just rows
ORACLES["q_bpe_vocab_persist"] = ORACLES["q_bpe_encode"]

def _bpe_round_ctes_pfx(i: int, pfx: str, win_ref: str | None = None) -> str:
    """One unrolled merge round over ``{pfx}stream_{i}`` — the
    _bpe_round_ctes machinery with a name prefix, and optionally the
    winner READ FROM another chain's CTE (``win_ref``) instead of
    counted from this stream: that is exactly "apply a frozen merge
    table", the drift report's old-tokenizer branch."""
    win = win_ref or f"{pfx}win_{i}"
    win_cte = (
        ""
        if win_ref
        else f"""
        {pfx}win_{i} AS (
            SELECT tok AS left_tok, nxt AS right_tok, COUNT(*) AS pair_count
            FROM {pfx}adj_{i} WHERE nxt IS NOT NULL
            GROUP BY 1, 2
            ORDER BY pair_count DESC, left_tok, right_tok LIMIT 1),"""
    )
    return f"""
        {pfx}adj_{i} AS (
            SELECT doc_id, pos, tok,
                   lead(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt
            FROM {pfx}stream_{i}),{win_cte}
        {pfx}mt_{i} AS (
            -- LEFT JOIN ON TRUE, not CROSS JOIN: if a
            -- training round on the half corpus finds zero adjacent
            -- pairs its winner CTE is empty, and a cross join would
            -- annihilate the stream; the left join keeps every row with
            -- NULL winner columns and the COALESCE makes the round an
            -- identity pass — mirroring the Spark side's left-join +
            -- null->keep guard.
            SELECT a.doc_id, a.pos, a.tok, a.nxt,
                   COALESCE(a.tok = w.left_tok AND a.nxt = w.right_tok,
                            FALSE) AS mt
            FROM {pfx}adj_{i} a LEFT JOIN {win} w ON TRUE),
        {pfx}grp_{i} AS (
            SELECT *, pos - ROW_NUMBER() OVER (PARTITION BY doc_id, mt
                                               ORDER BY pos) AS grp
            FROM {pfx}mt_{i}),
        {pfx}fl_{i} AS (
            SELECT doc_id, pos, tok, nxt,
                   mt AND (ROW_NUMBER() OVER (PARTITION BY doc_id, mt, grp
                                              ORDER BY pos) % 2 = 1)
                       AS merged_at
            FROM {pfx}grp_{i}),
        {pfx}nx_{i} AS (
            SELECT doc_id, pos, tok, nxt, merged_at,
                   lag(merged_at, 1, FALSE)
                       OVER (PARTITION BY doc_id ORDER BY pos) AS consumed
            FROM {pfx}fl_{i}),
        {pfx}stream_{i + 1} AS (
            SELECT doc_id,
                   ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos)
                       AS pos,
                   CASE WHEN merged_at THEN tok || ' ' || nxt
                        ELSE tok END AS tok
            FROM {pfx}nx_{i} WHERE NOT consumed)"""


# drift report: THREE chains in one WITH list — the old-half training
# chain (own winners), the apply chain whose per-round winner is READ
# FROM the old chain (frozen merges over the full corpus), and the
# standard fresh chain (_BPE_ENCODE_CTES) — re-aggregated per lang
ORACLES["q_bpe_drift_report"] = (
    _BPE_ENCODE_CTES
    + f"""
        , hstream_1 AS (
            SELECT doc_id, pos, tok FROM stream_1
            WHERE doc_id % {BPE_DRIFT_MOD} = 0),"""
    + ",".join(
        _bpe_round_ctes_pfx(i, "h") for i in range(1, BPE_TRAIN_ROUNDS + 1)
    )
    + """
        , astream_1 AS (SELECT doc_id, pos, tok FROM stream_1),"""
    + ",".join(
        _bpe_round_ctes_pfx(i, "a", win_ref=f"hwin_{i}")
        for i in range(1, BPE_TRAIN_ROUNDS + 1)
    )
    + f"""
        , c_old AS (
            SELECT doc_id, COUNT(*) AS c_old
            FROM astream_{BPE_TRAIN_ROUNDS + 1} GROUP BY 1),
        c_new AS (
            SELECT doc_id, COUNT(*) AS c_new
            FROM stream_{BPE_TRAIN_ROUNDS + 1} GROUP BY 1)
        SELECT d.lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(c_old) AS BIGINT) AS tokens_old,
               CAST(SUM(c_new) AS BIGINT) AS tokens_new,
               FLOOR(SUM(c_old) / CAST(SUM(c_new) AS DOUBLE)
                     * 1000000.0 + 0.5) / 1000000.0 AS drift_ratio
        FROM documents d
             JOIN c_old USING (doc_id)
             JOIN c_new USING (doc_id)
        GROUP BY d.lang
    """
)

# OOV report: the unrolled encode chain + global type rank + per-lang
# per-k aggregation — merges, artifact round trip, ranking and rates
# all value-checked from one chain
ORACLES["q_bpe_oov_report"] = (
    _BPE_ENCODE_CTES
    + f"""
        , lt AS (
            SELECT d.lang, s.tok, COUNT(*) AS lcnt
            FROM stream_{BPE_TRAIN_ROUNDS + 1} s
                 JOIN documents d USING (doc_id)
            GROUP BY 1, 2),
        vr AS (
            SELECT tok,
                   ROW_NUMBER() OVER (ORDER BY SUM(lcnt) DESC, tok)
                       AS rnk
            FROM lt GROUP BY tok)
        SELECT lt.lang, CAST(k.vocab_size AS BIGINT) AS vocab_size,
               CAST(SUM(CASE WHEN vr.rnk > k.vocab_size
                             THEN lt.lcnt ELSE 0 END) AS BIGINT)
                   AS oov_occurrences,
               CAST(SUM(lt.lcnt) AS BIGINT) AS total_occurrences,
               FLOOR(SUM(CASE WHEN vr.rnk > k.vocab_size
                              THEN lt.lcnt ELSE 0 END)
                     / CAST(SUM(lt.lcnt) AS DOUBLE) * 1000000.0 + 0.5)
                   / 1000000.0 AS oov_rate
        FROM lt JOIN vr USING (tok)
             CROSS JOIN (SELECT unnest({list(OOV_REPORT_KS)})
                         AS vocab_size) k
        GROUP BY 1, 2
    """
)

# compression report: per-lang before/after token totals from the SAME
# unrolled chain (stream_1 = pre-merge, stream_{k+1} = final); docs
# whose trimmed text is empty never enter stream_1 — the Spark side's
# c0 > 0 filter mirrors that inner-join semantics
# incremental gate: the merged stored+shard histogram must yield exactly
# the full-population cutoff — q_quality_gate's oracle SQL verbatim,
# output filtered to the shard (the maintainer's admission grain)
ORACLES["q_quality_gate_incremental"] = (
    ORACLES["q_quality_gate"].replace(
        "WHERE cut.cutoff_bin IS NULL OR quality_bin > cut.cutoff_bin",
        "WHERE (cut.cutoff_bin IS NULL OR quality_bin > cut.cutoff_bin)"
        f" AND doc_id % {TEXT_SHARD_MOD} = 0",
    )
)

ORACLES["q_bpe_compression"] = (
    _BPE_ENCODE_CTES
    + f"""
        , tok_before AS (
            SELECT doc_id, COUNT(*) AS c0 FROM stream_1 GROUP BY 1),
        tok_after AS (
            SELECT doc_id, COUNT(*) AS c1
            FROM stream_{BPE_TRAIN_ROUNDS + 1} GROUP BY 1)
        SELECT d.lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(c0) AS BIGINT) AS tokens_before,
               CAST(SUM(c1) AS BIGINT) AS tokens_after,
               CAST(SUM(c0) - SUM(c1) AS BIGINT) AS merges_applied,
               FLOOR(SUM(c1) / CAST(SUM(c0) AS DOUBLE) * 1000000.0 + 0.5)
                   / 1000000.0 AS compression
        FROM documents d
             JOIN tok_before USING (doc_id)
             JOIN tok_after USING (doc_id)
        GROUP BY d.lang
    """
)
