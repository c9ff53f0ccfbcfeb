"""The end-to-end training-data curation pipeline as ONE registered,
oracle-checked query — the composition a pretraining data team actually
ships, built from the engine's own stages:

    quality gate → benchmark decontamination → exact dedup → per-source
    token-budget mixing

Each stage exists as a standalone id (`q_quality_score`,
`q_decontaminate`, `q_dedup_exact`, `q_sample_token_budget`); this module
proves they COMPOSE — the driver value-checks the full four-stage
dataflow against a single DuckDB CTE chain, so a semantic drift in any
stage (or in how stages hand off) turns the composite red even if every
unit id stays green. The near-dup analog (`q_dedup_clusters_bounded` →
`q_dedup_filtered_corpus`) covers the fuzzy tier; this is the exact tier
end to end.

Scale shape (the stages narrow monotonically, so each pays less than the
last): quality is a scan-time filter; decontamination broadcasts the
KB-scale benchmark gram set into a semi/anti pair; dedup is one shuffle
on the md5 fingerprint; the budget window shuffles once on source and
keeps only the md5-ordered prefix. Nothing in the pipeline is
all-pairs, collects to the driver, or shuffles the corpus more than once
per stage key."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from breweries_case_spark.functions import fingerprint, ws_tokens
from breweries_case_spark.io.reader import load_table, spread
from breweries_case_spark.io.rest_source import (
    PII_EMAIL_RE as _PII_EMAIL_RE,
    PII_PHONE_RE as _PII_PHONE_RE,
    PII_SSN_RE as _PII_SSN_RE,
)
from breweries_case_spark.operators.pandas_ops import PACK_SEQ_LEN
from breweries_case_spark.operators.sampling import (
    TOKEN_BUDGET_PER_SOURCE,
    _md5_key,
)
from breweries_case_spark.operators.dedup import (
    CONTAINMENT_THRESHOLD,
    _CLUSTERS_CTES,
    containment_pairs,
)
from breweries_case_spark.operators.text import (
    BENCHMARK_MOD,
    CURRICULUM_STAGES,
    QG_DROP_PCT,
    QG_SCALE,
    _ngram_rows,
)

#: quality-gate thresholds — language-agnostic (the synthetic corpus is
#: 5-lingual word soup; stopword-based gates would only fit English)
MIN_TOKENS = 10
MEAN_TOKEN_LEN_RANGE = (2.0, 12.0)


def quality_mask():
    """Stage-1 gate predicate over a ``text`` column: ≥ MIN_TOKENS
    whitespace tokens AND mean token length inside MEAN_TOKEN_LEN_RANGE.
    Shared with ``pipelines/corpus.py`` so the nightly pipeline's gate
    is provably THIS gate, not a drifting re-implementation."""
    n_tok = F.size(ws_tokens(F.col("text")))
    mean_len = F.length(F.col("text")).cast("double") / n_tok
    lo, hi = MEAN_TOKEN_LEN_RANGE
    return (n_tok >= MIN_TOKENS) & mean_len.between(lo, hi)


def content_fingerprint():
    """Exact-dedup canonicalization: md5 of the lowercased trimmed text
    (the q_dedup_exact contract; shared with pipelines/corpus.py)."""
    return fingerprint(F.col("text"))


def q_training_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Four-stage curation composite over documents; output is the final
    mixed corpus slice (doc_id, lang, source, ws_tokens, cum_tokens)."""
    d = load_table(spark, sf_dir, "documents")
    n_tok = F.size(F.split(F.trim(F.col("text")), r"\s+"))
    is_bench = F.col("doc_id") % BENCHMARK_MOD == 0

    # 1. quality gate: narrow scan-time predicate, no shuffle
    qual = d.filter(quality_mask())

    # 2. decontamination: benchmark grams come from the FULL corpus (the
    # eval suite exists regardless of training-side quality filtering),
    # broadcast into a semi-join on the survivors' gram stream
    bench_grams = _ngram_rows(d.filter(is_bench), 3).select("g").distinct()
    corpus = qual.filter(~is_bench)
    contaminated = (
        _ngram_rows(corpus, 3)
        .join(F.broadcast(bench_grams), "g", "left_semi")
        .select("doc_id")
        .distinct()
    )
    clean = corpus.join(contaminated, "doc_id", "left_anti")

    # 3. exact dedup: md5 content fingerprint, keep-min-doc_id (the
    # q_dedup_exact contract), one shuffle on the fingerprint
    fp = content_fingerprint()
    keepers = (
        clean.select(fp.alias("fp"), "doc_id")
        .groupBy("fp")
        .agg(F.min("doc_id").alias("doc_id"))
    )
    kept = clean.join(keepers.select("doc_id"), "doc_id", "left_semi")

    # 4. per-source token budget: md5-ordered cumulative prefix
    wo = (
        Window.partitionBy("source")
        .orderBy(_md5_key(F.col("doc_id")), "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        kept.select("doc_id", "lang", "source", n_tok.alias("ws_tokens"))
        .withColumn("cum_tokens", F.sum("ws_tokens").over(wo))
        .filter(F.col("cum_tokens") <= TOKEN_BUDGET_PER_SOURCE)
        .select("doc_id", "lang", "source", "ws_tokens", "cum_tokens")
    )


def q_mix_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-smoothed source sampling weights — the multilingual /
    multi-source mixing rule p_s ∝ (tokens_s)^α (exponentiated
    smoothing, public from Conneau et al. 2020 "Unsupervised
    Cross-lingual Representation Learning at Scale", XLM-R §3): α = 1
    is proportional sampling, smaller α upweights small sources. One
    row per source with the probabilities at α ∈ {1, 0.5, 0.25}.

    Cross-engine float discipline: the exponents are 0.5 and 0.25 ON
    PURPOSE — sqrt is a correctly-rounded IEEE operation (unlike pow),
    so nested sqrt gives bit-identical weights on both engines; each
    weight is then quantized FLOOR(w·1e6+0.5)/1e6, the normalizer is an
    exact DECIMAL sum of the quantized weights (functions/numeric.py
    contract — addition-order-independent), and the final probability
    is one IEEE division + the same quantization. Every step is a
    single correctly-rounded op on bit-identical operands.

    Plan: one hash aggregate to per-source totals (the only exchange —
    corpus-sized scan, |sources|-sized result), then a 1-row broadcast
    crossJoin for the normalizers: at 100 TB the normalization costs
    nothing because it runs on the |sources|-row aggregate, never the
    corpus."""
    d = load_table(spark, sf_dir, "documents")
    n_tok = F.size(F.split(F.trim(F.col("text")), r"\s+"))

    def q6(c):
        return F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)

    per = (
        d.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(n_tok.cast("long")).alias("ws_tokens"),
        )
        .withColumn("w05", q6(F.sqrt(F.col("ws_tokens").cast("double"))))
        .withColumn(
            "w025", q6(F.sqrt(F.sqrt(F.col("ws_tokens").cast("double"))))
        )
    )
    z = per.agg(
        F.sum("ws_tokens").alias("z1"),
        F.sum(F.col("w05").cast("decimal(18,6)")).cast("double").alias("z05"),
        F.sum(F.col("w025").cast("decimal(18,6)"))
        .cast("double")
        .alias("z025"),
    )
    return per.crossJoin(F.broadcast(z)).select(
        "source",
        "n_docs",
        "ws_tokens",
        q6(
            F.col("ws_tokens").cast("double") / F.col("z1").cast("double")
        ).alias("p_alpha1"),
        q6(F.col("w05") / F.col("z05")).alias("p_alpha05"),
        q6(F.col("w025") / F.col("z025")).alias("p_alpha025"),
    )


#: epoch cap for the smallest sources (LLaMA-style mixes repeat curated
#: sources a few epochs, never unboundedly)
MIX_MAX_EPOCHS = 4.0
#: fractional-epoch selector resolution: the extra copy is chosen by the
#: first two md5 hex chars (1/256 ≈ 0.4% quantization — documented)
_EPOCH_HEX_CHARS = 2


def epoch_table(corpus: DataFrame) -> DataFrame:
    """Per-source epoch plan over a corpus frame with (source, text):
    e_s = min(MIX_MAX_EPOCHS, tokens_largest / tokens_s). Shared by
    q_mix_epochs and q_training_mix_v2 stage 3 so the epoch formula
    cannot drift between the unit operator and the composite. One hash
    aggregate (the only corpus exchange) + a 1-row broadcast scalar."""
    n_tok = F.size(ws_tokens(F.col("text")))
    per = corpus.groupBy("source").agg(
        F.sum(n_tok.cast("long")).alias("toks")
    )
    z = per.agg(F.max("toks").alias("mx"))
    return per.crossJoin(F.broadcast(z)).select(
        "source",
        F.least(
            F.lit(MIX_MAX_EPOCHS),
            F.col("mx").cast("double") / F.col("toks").cast("double"),
        ).alias("e"),
    )


def n_copies_expr():
    """Copy-count column over (doc_id, e): floor(e) epochs plus ONE
    extra copy for the md5-prefix-selected (e − floor(e)) fraction —
    the fractional-epoch selector shared by q_mix_epochs and
    q_training_mix_v2 (1/256 resolution, layout-free determinism)."""
    frac = F.col("e") - F.floor(F.col("e"))
    thresh = F.lpad(
        F.lower(F.hex(F.floor(frac * F.lit(256.0)).cast("long"))),
        _EPOCH_HEX_CHARS,
        "0",
    )
    return (
        F.floor(F.col("e")).cast("long")
        + (
            F.substring(_md5_key(F.col("doc_id")), 1, _EPOCH_HEX_CHARS)
            < thresh
        ).cast("long")
    )


def q_mix_epochs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Epoch-based source upsampling, MATERIALIZED — the LLaMA-style
    data mix where each source is repeated e_s epochs (Touvron et al.
    2023 report e.g. Wikipedia 2.45, Books 2.23 epochs; public). Here
    e_s = min(MIX_MAX_EPOCHS, tokens_largest / tokens_s): the largest
    source runs one epoch, smaller sources are repeated inversely to
    size, capped. Every doc is emitted floor(e_s) times, plus ONE extra
    copy for a deterministic hash-selected (e_s − floor(e_s)) fraction
    of its source's docs — the standard way fractional epochs are
    realized without RNG state: the selector is the doc's md5 prefix
    against a per-source threshold, so the same docs get the extra copy
    on any cluster layout, any partitioning, any retry (same
    layout-free discipline as q_sample_hash). Fraction resolution is
    1/256 (two hex chars) by design.

    Output: one row per EMITTED COPY (doc_id, source, copy_idx,
    n_copies) — the actual 1→N replication a mix materialization runs,
    not just the per-source plan.

    Plan: one hash aggregate to per-source token totals (the only
    corpus exchange), a 1-row broadcast for the largest-source scalar,
    a |sources|-row broadcast join back onto the corpus, then the 1→N
    explode(sequence) INSIDE the scan stage — no shuffle on the
    expanded rows. Output volume is ≤ MIX_MAX_EPOCHS + 1 times the
    corpus by construction. Float discipline: e_s is one IEEE division
    of two exact int64 totals, floor/frac are exact double ops, and the
    hex threshold floor(frac·256) is integer on both engines —
    bit-identical everywhere (same contract as q_mix_temperature)."""
    d = load_table(spark, sf_dir, "documents")
    ep = epoch_table(d)
    return (
        d.select("doc_id", "source")
        .join(F.broadcast(ep), "source")
        .withColumn("n_copies", n_copies_expr())
        .withColumn(
            "copy_idx",
            F.explode(F.sequence(F.lit(0), (F.col("n_copies") - 1).cast("int"))),
        )
        .select(
            "doc_id", "source", F.col("copy_idx").cast("long").alias("copy_idx"), "n_copies"
        )
    )


def q_mix_epochs_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QUALITY-WEIGHTED epoch mix (r12 queue): the q_mix_epochs source
    plan with per-doc epoch counts MODULATED by the quality gate's
    curriculum tier — the mix a curation pipeline actually trains on,
    where a small curated source is still repeated but its weakest
    quartile is not repeated as hard as its cleanest. Composition is
    the shared-helper rule end to end: stage 1 is q_quality_gate
    itself; the (quality_bin → stage) assignment is
    ``curriculum_stage_table`` over the SURVIVOR histogram (stage 0 =
    cleanest quartile, q_curation_pipeline's hand-off); per-source
    epochs are ``epoch_table`` over the survivors (upsampling weights
    reflect what survives the gate, the q_training_mix_v2 stance); and
    the fractional-epoch selector is ``n_copies_expr``, unchanged.

    The modulation: e_doc = e_source · (S − stage)/S with
    S = CURRICULUM_STAGES — multipliers 1.0 / 0.75 / 0.5 / 0.25 by
    quartile, all exact binary fractions, so e_doc is ONE extra IEEE
    multiply on both engines (the q_mix_epochs float discipline
    holds bit-for-bit). A doc whose e_doc falls below 1 keeps a
    deterministic md5-selected e_doc-fraction chance of its single
    copy — quality-weighted SAMPLING, not just repetition damping.

    Output: one row per gate survivor (doc_id, source, stage,
    eq6 = e_doc at 6 dp, n_copies).

    Plan: the gate's histogram jobs + ONE survivor-corpus token
    aggregate (epoch_table's only exchange); stages and epochs re-enter
    as |bins|- and |sources|-row broadcasts; n_copies is scan-side
    arithmetic. Nothing new shuffles at 100 TB beyond q_mix_epochs'
    own topology. Oracle: the q_curation_pipeline gate+stage CTE chain
    (spliced with source/text carried through) + q_mix_epochs' epoch
    CTEs over the survivors + the same CASE selector."""
    from breweries_case_spark.operators.text import (
        curriculum_stage_table,
        q_quality_gate,
    )

    def q6(c):
        return F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)

    gated = (
        q_quality_gate(spark, sf_dir)
        .select("doc_id", "quality_bin")
        .localCheckpoint()
    )
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    surv = d.join(gated, "doc_id")
    ep = epoch_table(surv)
    stages = curriculum_stage_table(gated)
    mult = (
        F.lit(float(CURRICULUM_STAGES)) - F.col("stage").cast("double")
    ) / F.lit(float(CURRICULUM_STAGES))
    return (
        surv.select("doc_id", "source", "quality_bin")
        .join(F.broadcast(stages), "quality_bin")
        .join(F.broadcast(ep), "source")
        .withColumn("e", F.col("e") * mult)
        .select(
            "doc_id",
            "source",
            "stage",
            q6(F.col("e")).alias("eq6"),
            n_copies_expr().alias("n_copies"),
        )
    )


def q_training_mix_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second-generation curation composite, chaining the quantile gate,
    containment dedup and epoch upsampling operators end to end the way
    q_training_mix chained the exact tier:

        quantile quality gate → containment (subset-dup) dedup →
        epoch-based source upsampling

    Semantics per stage are THE registered operators' — stage 1 calls
    q_quality_gate directly; stage 2 calls the SHARED
    ``containment_pairs`` builder (the q_dedup_containment_blocked
    implementation) on the surviving subset; stage 3 applies the shared
    ``epoch_table`` / ``n_copies_expr`` helpers q_mix_epochs itself
    runs — so a change to any unit operator flows into the composite by
    construction, and a hand-off drift turns this composite red even
    while the unit ids stay green. Containment drop rule: for each
    qualifying pair, drop the doc with the SMALLER gram set (the
    contained excerpt); equal sizes drop the larger doc_id —
    deterministic, cascade-safe (a doc dropped via one pair stays
    dropped regardless of other pairs). Epoch totals are computed over
    the CLEANED corpus — upsampling weights must reflect what survives
    curation, not the raw crawl.

    Output: one row per surviving doc (doc_id, lang, source, n_copies).

    Scale: stage 1 is histogram-cheap (see q_quality_gate); stage 2
    runs the df-CAPPED candidate join + full-inventory verify (the
    containment family's production default — every candidate bucket
    ≤ DF_CAP² by construction, closing the uncapped join's Σdf²
    quadratic; recall pinned 0 by q_dedup_containment_capped's
    oracle, and this composite's own oracle recomputes the EXACT pair
    set, so a lossy cap reds the driver here too) RESTRICTED to gate
    survivors (the composition order is itself an optimization — gate
    first shrinks the join's input; measured −36% candidates for −25%
    docs, SURVEY §6); stage 3 is one aggregate + broadcast join. No
    stage shuffles the corpus more than once per key. The stage
    HAND-OFF frames are checkpointed: without them the gate's
    histogram subplan re-executed inside the gram build, the epoch
    aggregate, AND the output join (3×), and the survivor scan twice —
    the measured source of this composite's 3× floor drift; kept_ids
    is |survivors| ids and clean's projection is |survivors| short
    rows, so both pins are value-bounded."""
    from breweries_case_spark.operators.dedup import _docs_with_gram_rows
    from breweries_case_spark.operators.text import q_quality_gate

    d = load_table(spark, sf_dir, "documents")

    # 1. quantile gate — the registered operator itself (checkpointed:
    # consumed by the survivor scan AND the gram build)
    kept_ids = (
        q_quality_gate(spark, sf_dir).select("doc_id").localCheckpoint()
    )
    surv = d.join(kept_ids, "doc_id", "left_semi")

    # 2. containment dedup among survivors — the shared df-capped
    # builder (q_dedup_containment_blocked's plan) on the gated
    # inventory. Survivors are filtered BEFORE the gram build: Spark
    # cannot push a semi-join above the explode+window down, so the
    # gated-out tail would be tokenized and gram-distincted just to be
    # discarded (guide §2.3)
    grams = _docs_with_gram_rows(
        spread(
            d.select("doc_id", "lang", "text").join(
                kept_ids, "doc_id", "left_semi"
            )
        )
    )
    pairs = containment_pairs(grams, capped=True)
    dropped = pairs.select(
        F.when(F.col("sz_a") < F.col("sz_b"), F.col("doc_a"))
        .when(F.col("sz_b") < F.col("sz_a"), F.col("doc_b"))
        .otherwise(F.greatest(F.col("doc_a"), F.col("doc_b")))
        .alias("doc_id")
    ).distinct()
    # checkpointed: the epoch aggregate and the output join both read it
    clean = (
        surv.select("doc_id", "lang", "source", "text")
        .join(dropped, "doc_id", "left_anti")
        .localCheckpoint()
    )

    # 3. epoch mix over the CLEANED corpus — the shared q_mix_epochs
    # helpers
    ep = epoch_table(clean)
    return (
        clean.select("doc_id", "lang", "source")
        .join(F.broadcast(ep), "source")
        .select("doc_id", "lang", "source", n_copies_expr().alias("n_copies"))
    )


def q_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Third-generation curation composite: the DATALOADER-FACING end
    of the chain, where q_training_mix ends at a mixed corpus and
    q_training_mix_v2 at per-doc copy counts —

        quantile quality gate → curriculum staging → concat-and-cut
        packing per stage

    i.e. "which tokens, in what order, cut into which training
    examples". Stage semantics are THE registered operators', via the
    shared-helper rule: stage 1 calls q_quality_gate itself; stage 2
    calls ``curriculum_stage_table`` (q_curriculum_order's
    histogram-quantile topology) recomputed over the GATE SURVIVORS —
    curriculum quartiles must describe what actually trains, not the
    pre-gate distribution; stage 3 packs each curriculum stage with
    ``concat_scan`` (q_pack_concat's two-phase Blelloch scan) in
    (order_key, doc_id) order — the md5 shuffle key IS the intra-stage
    order the dataloader consumes, so the pack offsets are the real
    artifact. Output one row per surviving doc: (doc_id, stage,
    order_key, n_tokens, start_offset, example_first, example_last).

    Oracle: gate CTE = q_quality_gate's, stage CTE = the curriculum
    assignment over the survivor histogram, pack = a plain per-stage
    window cumsum — one chain, so any stage or hand-off drift reds the
    composite even while the unit ids stay green (and the window-free
    distributed scan is proven boundary-invariant against the window
    formulation, the q_pack_concat contract).

    Scale: gate is histogram-cheap; staging is a value-bounded
    broadcast join; the pack is one range exchange + a narrow re-walk.
    Composition order is the optimization: packing runs on the gated
    25%-smaller corpus, and nothing here shuffles the corpus more than
    once per stage key."""
    from breweries_case_spark.operators.pandas_ops import concat_scan
    from breweries_case_spark.operators.text import (
        curriculum_stage_table,
        q_quality_gate,
    )

    d = load_table(spark, sf_dir, "documents")

    # 1. quantile gate — the registered operator itself
    gated = (
        q_quality_gate(spark, sf_dir)
        .select("doc_id", "quality_bin")
        .localCheckpoint()
    )

    # 2. curriculum staging over the SURVIVORS — the shared
    # histogram-quantile helper + the layout-free md5 order key
    stages = curriculum_stage_table(gated)
    n_tok = (
        F.size(F.split(F.lower(F.trim(F.col("text"))), r"\s+"))
        .cast("long")
        .alias("n_tokens")
    )
    staged = (
        gated.join(F.broadcast(stages), "quality_bin")
        .join(d.select("doc_id", n_tok), "doc_id")
        .select(
            "doc_id",
            "stage",
            F.md5(F.col("doc_id").cast("string")).alias("order_key"),
            "n_tokens",
        )
    )

    # 3. concat-and-cut pack per stage — the shared two-phase scan
    return concat_scan(staged, "stage", ["order_key", "doc_id"])


def pii_footer_expr():
    """The deterministic closed-form PII contact footer appended per
    doc (the ingest-join story: every doc arrives with a contact
    line): an email always, an SSN when doc_id % 3 = 0, a phone when
    doc_id % 2 = 0 — shared by q_curation_pipeline_pii and
    q_dedup_keeper_pii so the redaction-count semantics cannot drift
    between the composite and the keeper policy; the oracles
    regenerate it via `_PII_FOOTER_SQL`."""
    four = F.format_string("%04d", (F.col("doc_id") % 10000).cast("int"))
    return F.concat(
        F.lit(" Contact: doc-"),
        F.col("doc_id").cast("string"),
        F.lit("@example.org"),
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(F.lit(", SSN 123-45-"), four),
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 2 == 0,
            F.concat(F.lit(", tel 555-"), four),
        ).otherwise(F.lit("")),
        F.lit("."),
    )


def q_dedup_keeper_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PRIVACY-AWARE cluster keeper — the joint dedup × PII policy:
    inside each exact-Jaccard near-dup cluster (q_dedup_clusters'
    components) elect the copy with the FEWEST redactions first
    (n_redactions ASC — ship the cleanest mirror of a page, not
    whichever copy happens to embed contact lines), quality
    (n_chars DESC) then doc_id as tiebreaks. n_redactions is counted
    on the scrubbed text + the shared closed-form contact footer
    (``pii_footer_expr`` — q_curation_pipeline_pii's carrier, so
    counts vary per doc and both engines derive them exactly).
    Output one row per cluster (cluster_id, cluster_size,
    keeper_doc_id, keeper_redactions); singletons keep themselves —
    a total cluster table.

    Plan: the shared pair source + min-label components, one
    documents join carrying the scrub-count expression (codegen
    regexp chain riding the join — no extra exchange), ONE
    cluster-keyed rank window — q_dedup_keeper_priority's topology
    with the privacy ORDER BY. Oracle: the clusters recursive-CTE
    fixpoint + the same footer/regex counts + the same window."""
    from breweries_case_spark.operators.dedup import (
        connected_components,
        q_dedup_ngram_jaccard,
    )
    from breweries_case_spark.io.rest_source import pii_scrub_expr

    pairs = q_dedup_ngram_jaccard(spark, sf_dir).select(
        F.col("doc_a").alias("u"), F.col("doc_b").alias("v")
    )
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "n_chars", "text"
    )
    comps = connected_components(
        pairs, docs.select(F.col("doc_id").alias("node"))
    )
    n_red = (
        F.regexp_count(
            pii_scrub_expr(F.concat(F.col("text"), pii_footer_expr())),
            F.lit(r"\[EMAIL\]|\[SSN\]|\[PHONE\]"),
        )
        .cast("long")
        .alias("n_redactions")
    )
    member = comps.join(docs, comps["node"] == docs["doc_id"]).select(
        "doc_id", "n_chars", "label", n_red
    )
    w = Window.partitionBy("label")
    rk = F.row_number().over(
        Window.partitionBy("label").orderBy(
            "n_redactions", F.col("n_chars").desc(), F.col("doc_id").asc()
        )
    )
    return (
        member.withColumn("cluster_size", F.count("*").over(w))
        .withColumn("rk", rk)
        .filter(F.col("rk") == 1)
        .select(
            F.col("label").alias("cluster_id"),
            "cluster_size",
            F.col("doc_id").alias("keeper_doc_id"),
            F.col("n_redactions").alias("keeper_redactions"),
        )
    )


def q_curation_pipeline_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curation composite WITH the privacy stage a production
    pipeline runs between gating and packing:

        quality gate → PII scrub of keeper text → curriculum staging
        → concat-and-cut packing

    The packed artifact must describe the text that actually trains —
    i.e. the REDACTED stream — so this id's n_tokens (and therefore
    every start_offset / example boundary downstream) is computed on
    the scrubbed text, and each doc also publishes ``n_redactions``
    (the per-doc audit count a privacy review sums). The documents
    fixture is digit/email-free, so the PII carrier is a DETERMINISTIC
    closed-form contact footer appended per doc (the ingest-join
    story: every doc arrives with a contact line; an email always,
    an SSN when doc_id % 3 = 0, a phone when doc_id % 2 = 0 — so
    redaction counts VARY per doc and a scrub regression shifts real
    offsets, not a constant). Stage semantics are THE registered
    operators' via the shared-helper rule: q_quality_gate itself,
    ``pii_scrub_expr`` (q_pii_scrub's exact chain — email → SSN →
    phone), ``curriculum_stage_table`` over the survivors, and
    ``concat_scan`` for the pack; drift in ANY unit reds this
    composite. Oracle: the q_curation_pipeline chain (spliced, so the
    shared prefix stays literally shared) with the footer + regex
    chain regenerated closed-form — scrub, counts, and offsets all
    value-checked.

    Scale: the scrub is a codegen regexp_replace chain over the
    survivor-pruned scan (left_semi against the gated ids, r12 — the
    chain runs on kept docs only); everything else is the benched
    q_curation_pipeline topology."""
    from breweries_case_spark.io.rest_source import pii_scrub_expr
    from breweries_case_spark.operators.pandas_ops import concat_scan
    from breweries_case_spark.operators.text import (
        curriculum_stage_table,
        q_quality_gate,
    )

    d = load_table(spark, sf_dir, "documents")

    # 1. quantile gate — the registered operator itself
    gated = (
        q_quality_gate(spark, sf_dir)
        .select("doc_id", "quality_bin")
        .localCheckpoint()
    )

    # 2. PII scrub of the survivors' text (+ the closed-form contact
    # footer that carries the PII) — the registered scrub chain. r12
    # (ADVICE): the scrub projection runs AFTER a left_semi prune of
    # documents against the gate survivors — Catalyst won't push the
    # later inner join's filter into this side on its own, so without
    # the prune the 3-regex chain also ran over culled docs (parity was
    # unaffected; only the plan shape was wrong). The q_training_mix_v2
    # survivor pattern.
    docs = d.join(gated.select("doc_id"), "doc_id", "left_semi").select(
        "doc_id",
        pii_scrub_expr(
            F.concat(F.col("text"), pii_footer_expr())
        ).alias("scrubbed"),
    )

    # 3. curriculum staging over the survivors; token counts on the
    # SCRUBBED stream (what actually trains)
    stages = curriculum_stage_table(gated)
    staged = (
        gated.join(F.broadcast(stages), "quality_bin")
        .join(docs, "doc_id")
        .select(
            "doc_id",
            "stage",
            F.md5(F.col("doc_id").cast("string")).alias("order_key"),
            F.size(F.split(F.lower(F.trim(F.col("scrubbed"))), r"\s+"))
            .cast("long")
            .alias("n_tokens"),
            F.regexp_count(
                F.col("scrubbed"),
                F.lit(r"\[EMAIL\]|\[SSN\]|\[PHONE\]"),
            )
            .cast("long")
            .alias("n_redactions"),
        )
    )

    # 4. concat-and-cut pack per stage — the shared two-phase scan
    return concat_scan(staged, "stage", ["order_key", "doc_id"])


QUERIES = {
    "q_training_mix": q_training_mix,
    "q_mix_temperature": q_mix_temperature,
    "q_mix_epochs": q_mix_epochs,
    "q_mix_epochs_quality": q_mix_epochs_quality,
    "q_training_mix_v2": q_training_mix_v2,
    "q_curation_pipeline": q_curation_pipeline,
    "q_curation_pipeline_pii": q_curation_pipeline_pii,
    "q_dedup_keeper_pii": q_dedup_keeper_pii,
}

ORACLES = {
    "q_training_mix": rf"""
        WITH base AS (
            SELECT doc_id, lang, source, text,
                   len(string_split_regex(trim(text), '\s+')) AS n_tok
            FROM documents),
        qual AS (
            SELECT * FROM base
            WHERE n_tok >= {MIN_TOKENS}
              AND CAST(length(text) AS DOUBLE) / n_tok
                  BETWEEN {MEAN_TOKEN_LEN_RANGE[0]} AND {MEAN_TOKEN_LEN_RANGE[1]}),
        btk AS (
            SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS tk
            FROM documents WHERE doc_id % {BENCHMARK_MOD} = 0),
        bgrams AS (
            SELECT DISTINCT tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] AS g
            FROM btk, unnest(generate_series(1, len(tk) - 2)) AS s(i)),
        ctk AS (
            SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS tk
            FROM qual WHERE doc_id % {BENCHMARK_MOD} <> 0),
        contaminated AS (
            SELECT DISTINCT c.doc_id
            FROM (SELECT doc_id,
                         tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] AS g
                  FROM ctk,
                       unnest(generate_series(1, len(tk) - 2)) AS s(i)) c
            JOIN bgrams USING (g)),
        clean AS (
            SELECT * FROM qual
            WHERE doc_id % {BENCHMARK_MOD} <> 0
              AND doc_id NOT IN (SELECT doc_id FROM contaminated)),
        keepers AS (
            SELECT MIN(doc_id) AS doc_id
            FROM (SELECT md5(lower(trim(text))) AS fp, doc_id FROM clean)
            GROUP BY fp),
        ranked AS (
            SELECT doc_id, lang, source, n_tok AS ws_tokens,
                   CAST(SUM(n_tok) OVER (
                       PARTITION BY source
                       ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
                       ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
            FROM clean
            WHERE doc_id IN (SELECT doc_id FROM keepers))
        SELECT doc_id, lang, source, ws_tokens, cum_tokens
        FROM ranked
        WHERE cum_tokens <= {TOKEN_BUDGET_PER_SOURCE}
    """,
    # temperature mixing: nested-sqrt exponents (correctly-rounded IEEE,
    # unlike pow), FLOOR-quantized weights, exact DECIMAL normalizer —
    # every step bit-identical cross-engine (see q_mix_temperature)
    "q_mix_temperature": r"""
        WITH per AS (
            SELECT source, COUNT(*) AS n_docs,
                   CAST(SUM(len(string_split_regex(trim(text), '\s+')))
                        AS BIGINT) AS ws_tokens
            FROM documents GROUP BY source),
        w AS (
            SELECT *,
                   FLOOR(sqrt(CAST(ws_tokens AS DOUBLE)) * 1000000.0 + 0.5)
                       / 1000000.0 AS w05,
                   FLOOR(sqrt(sqrt(CAST(ws_tokens AS DOUBLE)))
                         * 1000000.0 + 0.5) / 1000000.0 AS w025
            FROM per),
        z AS (
            SELECT CAST(SUM(ws_tokens) AS BIGINT) AS z1,
                   CAST(SUM(CAST(w05 AS DECIMAL(18,6))) AS DOUBLE) AS z05,
                   CAST(SUM(CAST(w025 AS DECIMAL(18,6))) AS DOUBLE) AS z025
            FROM w)
        SELECT source, n_docs, ws_tokens,
               FLOOR(CAST(ws_tokens AS DOUBLE) / CAST(z1 AS DOUBLE)
                     * 1000000.0 + 0.5) / 1000000.0 AS p_alpha1,
               FLOOR(w05 / z05 * 1000000.0 + 0.5) / 1000000.0 AS p_alpha05,
               FLOOR(w025 / z025 * 1000000.0 + 0.5) / 1000000.0 AS p_alpha025
        FROM w CROSS JOIN z
    """,
    # epoch mix: identical int64 totals → one IEEE division → exact
    # floor/frac → integer hex threshold; the generate_series unnest is
    # the explode(sequence) twin. n_copies >= 1 always (e >= 1).
    "q_mix_epochs": rf"""
        WITH per AS (
            SELECT source,
                   CAST(SUM(len(string_split_regex(trim(text), '\s+')))
                        AS BIGINT) AS toks
            FROM documents GROUP BY source),
        z AS (SELECT MAX(toks) AS mx FROM per),
        ep AS (
            SELECT source,
                   LEAST({MIX_MAX_EPOCHS},
                         CAST(mx AS DOUBLE) / CAST(toks AS DOUBLE)) AS e
            FROM per CROSS JOIN z),
        assigned AS (
            SELECT d.doc_id, d.source,
                   CAST(FLOOR(ep.e) AS BIGINT)
                   + CASE WHEN substr(md5(CAST(d.doc_id AS VARCHAR)),
                                      1, {_EPOCH_HEX_CHARS})
                          < lpad(lower(to_hex(CAST(FLOOR(
                                (ep.e - FLOOR(ep.e)) * 256.0) AS BIGINT))),
                                {_EPOCH_HEX_CHARS}, '0')
                          THEN 1 ELSE 0 END AS n_copies
            FROM documents d JOIN ep USING (source))
        SELECT doc_id, source,
               CAST(i AS BIGINT) AS copy_idx, n_copies
        FROM assigned,
             unnest(generate_series(0, n_copies - 1)) AS s(i)
    """,
    # quality-weighted epochs: gate CTE = q_quality_gate's oracle
    # (source/text carried through), stage CTE = the curriculum
    # assignment over the SURVIVOR histogram, epoch CTE = q_mix_epochs'
    # over the survivors, modulated e = e·(S−stage)/S with exact binary
    # fraction multipliers — one chain, any hand-off drift reds it
    "q_mix_epochs_quality": rf"""
        WITH b AS MATERIALIZED (
            SELECT doc_id, source,
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
                   len(string_split_regex(trim(text), '\s+')) AS n_tok
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
            WHERE cum <= FLOOR(total * {QG_DROP_PCT} / 100.0)),
        kept AS MATERIALIZED (
            SELECT doc_id, source, quality_bin, n_tok
            FROM b, cut
            WHERE cut.cutoff_bin IS NULL
               OR quality_bin > cut.cutoff_bin),
        kh AS (SELECT quality_bin, COUNT(*) AS c FROM kept GROUP BY 1),
        st AS (
            SELECT quality_bin,
                   CAST(LEAST({CURRICULUM_STAGES - 1},
                              FLOOR((SUM(c) OVER (ORDER BY quality_bin DESC
                                         ROWS BETWEEN UNBOUNDED PRECEDING
                                         AND CURRENT ROW) - 1)
                                    * {CURRICULUM_STAGES}
                                    / SUM(c) OVER ())) AS BIGINT) AS stage
            FROM kh),
        per AS (
            SELECT source, CAST(SUM(n_tok) AS BIGINT) AS toks
            FROM kept GROUP BY source),
        z AS (SELECT MAX(toks) AS mx FROM per),
        ep AS (
            SELECT source,
                   LEAST({MIX_MAX_EPOCHS},
                         CAST(mx AS DOUBLE) / CAST(toks AS DOUBLE)) AS e
            FROM per CROSS JOIN z),
        modded AS (
            SELECT k.doc_id, k.source, st.stage,
                   ep.e * (CAST({CURRICULUM_STAGES} - st.stage AS DOUBLE)
                           / {CURRICULUM_STAGES}) AS e
            FROM kept k JOIN st USING (quality_bin)
                 JOIN ep USING (source))
        SELECT doc_id, source, stage,
               FLOOR(e * 1000000.0 + 0.5) / 1000000.0 AS eq6,
               CAST(FLOOR(e) AS BIGINT)
               + CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)),
                                  1, {_EPOCH_HEX_CHARS})
                      < lpad(lower(to_hex(CAST(FLOOR(
                            (e - FLOOR(e)) * 256.0) AS BIGINT))),
                            {_EPOCH_HEX_CHARS}, '0')
                      THEN 1 ELSE 0 END AS n_copies
        FROM modded
    """,
    # v2 composite: gate CTE = q_quality_gate's oracle, containment
    # pair CTE = q_dedup_containment's (on gate survivors), epoch CTE =
    # q_mix_epochs' (on the cleaned corpus) — one chain, so any stage
    # or hand-off drift reds the composite. MATERIALIZED on every
    # multiply-referenced CTE (DuckDB inlines plain CTEs).
    "q_training_mix_v2": rf"""
        WITH b AS MATERIALIZED (
            SELECT doc_id, lang, source, text,
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
            WHERE cum <= FLOOR(total * {QG_DROP_PCT} / 100.0)),
        kept AS MATERIALIZED (
            SELECT doc_id, lang, source, text
            FROM b, cut
            WHERE cut.cutoff_bin IS NULL
               OR quality_bin > cut.cutoff_bin),
        sh AS MATERIALIZED (
            SELECT doc_id, lang,
                   list_distinct(list_transform(
                       generate_series(1, len(string_split_regex(trim(lower(text)), '\s+')) - 2),
                       i -> string_split_regex(trim(lower(text)), '\s+')[i] || ' ' ||
                            string_split_regex(trim(lower(text)), '\s+')[i+1] || ' ' ||
                            string_split_regex(trim(lower(text)), '\s+')[i+2])) AS sh
            FROM kept),
        pairs AS MATERIALIZED (
            SELECT * FROM (
                SELECT a.doc_id AS da, b2.doc_id AS db,
                       len(a.sh) AS la, len(b2.sh) AS lb,
                       FLOOR(len(list_intersect(a.sh, b2.sh))
                             / least(len(a.sh), len(b2.sh)) * 1e6 + 0.5)
                           / 1e6 AS containment
                FROM sh a JOIN sh b2
                  ON a.lang = b2.lang AND a.doc_id < b2.doc_id
                WHERE len(a.sh) > 0 AND len(b2.sh) > 0)
            WHERE containment >= {CONTAINMENT_THRESHOLD}),
        dropped AS MATERIALIZED (
            SELECT DISTINCT CASE WHEN la < lb THEN da
                                 WHEN lb < la THEN db
                                 ELSE greatest(da, db) END AS doc_id
            FROM pairs),
        clean AS MATERIALIZED (
            SELECT k.doc_id, k.lang, k.source, k.text
            FROM kept k
            WHERE k.doc_id NOT IN (SELECT doc_id FROM dropped)),
        per AS MATERIALIZED (
            SELECT source,
                   CAST(SUM(len(string_split_regex(trim(text), '\s+')))
                        AS BIGINT) AS toks
            FROM clean GROUP BY source),
        z AS (SELECT MAX(toks) AS mx FROM per),
        ep AS MATERIALIZED (
            SELECT source,
                   LEAST({MIX_MAX_EPOCHS},
                         CAST(mx AS DOUBLE) / CAST(toks AS DOUBLE)) AS e
            FROM per CROSS JOIN z)
        SELECT c.doc_id, c.lang, c.source,
               CAST(FLOOR(ep.e) AS BIGINT)
               + CASE WHEN substr(md5(CAST(c.doc_id AS VARCHAR)),
                                  1, {_EPOCH_HEX_CHARS})
                      < lpad(lower(to_hex(CAST(FLOOR(
                            (ep.e - FLOOR(ep.e)) * 256.0) AS BIGINT))),
                            {_EPOCH_HEX_CHARS}, '0')
                      THEN 1 ELSE 0 END AS n_copies
        FROM clean c JOIN ep USING (source)
    """,
    # curation pipeline: gate CTE = q_quality_gate's oracle, stage CTE
    # = the curriculum assignment over the SURVIVOR histogram, pack =
    # a plain per-stage window cumsum (the boundary-invariance proof of
    # the Spark side's two-phase scan) — one chain, so any stage or
    # hand-off drift reds the composite.
    "q_curation_pipeline": rf"""
        WITH b AS MATERIALIZED (
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
            WHERE cum <= FLOOR(total * {QG_DROP_PCT} / 100.0)),
        kept AS MATERIALIZED (
            SELECT doc_id, quality_bin
            FROM b, cut
            WHERE cut.cutoff_bin IS NULL
               OR quality_bin > cut.cutoff_bin),
        kh AS (SELECT quality_bin, COUNT(*) AS c FROM kept GROUP BY 1),
        st AS (
            SELECT quality_bin,
                   CAST(LEAST({CURRICULUM_STAGES - 1},
                              FLOOR((SUM(c) OVER (ORDER BY quality_bin DESC
                                         ROWS BETWEEN UNBOUNDED PRECEDING
                                         AND CURRENT ROW) - 1)
                                    * {CURRICULUM_STAGES}
                                    / SUM(c) OVER ())) AS BIGINT) AS stage
            FROM kh),
        staged AS MATERIALIZED (
            SELECT k.doc_id, st.stage,
                   md5(CAST(k.doc_id AS VARCHAR)) AS order_key,
                   CAST(len(string_split_regex(lower(trim(d.text)),
                                               '\s+')) AS BIGINT)
                       AS n_tokens
            FROM kept k JOIN st USING (quality_bin)
                 JOIN documents d USING (doc_id)),
        sc AS (
            SELECT *,
                   CAST(SUM(n_tokens) OVER (
                            PARTITION BY stage
                            ORDER BY order_key, doc_id
                            ROWS UNBOUNDED PRECEDING) - n_tokens
                        AS BIGINT) AS start_offset
            FROM staged)
        SELECT doc_id, stage, order_key, n_tokens, start_offset,
               CAST(start_offset // {PACK_SEQ_LEN} AS BIGINT)
                   AS example_first,
               CAST((start_offset + n_tokens - 1) // {PACK_SEQ_LEN}
                    AS BIGINT) AS example_last
        FROM sc
    """,
}

# PII-composite oracle: SPLICED from the base composite's chain (the
# shared gate/stage/pack prefix stays literally shared, so base-oracle
# drift propagates here) — only the staged CTE changes: the closed-form
# contact footer is appended, the q_pii_scrub regex chain applied, and
# n_tokens/n_redactions measured on the scrubbed stream.
_PII_FOOTER_SQL = (
    "' Contact: doc-' || d.doc_id || '@example.org' || "
    "CASE WHEN d.doc_id % 3 = 0 THEN ', SSN 123-45-' || "
    "printf('%04d', d.doc_id % 10000) ELSE '' END || "
    "CASE WHEN d.doc_id % 2 = 0 THEN ', tel 555-' || "
    "printf('%04d', d.doc_id % 10000) ELSE '' END || '.'"
)
_PII_SCRUB_SQL = (
    "regexp_replace(regexp_replace(regexp_replace("
    f"d.text || {_PII_FOOTER_SQL}, "
    f"'{_PII_EMAIL_RE}', '[EMAIL]', 'g'), "
    f"'{_PII_SSN_RE}', '[SSN]', 'g'), "
    f"'{_PII_PHONE_RE}', '[PHONE]', 'g')"
)
# privacy-aware keeper: the q_dedup_clusters fixpoint + the SAME
# footer/scrub counting as the composite oracle + the election window
ORACLES["q_dedup_keeper_pii"] = (
    _CLUSTERS_CTES
    + rf"""
        , pm AS (
            SELECT l.cluster_id, d.doc_id, d.n_chars,
                   CAST(len(regexp_extract_all({_PII_SCRUB_SQL},
                       '\[EMAIL\]|\[SSN\]|\[PHONE\]')) AS BIGINT)
                       AS n_redactions,
                   COUNT(*) OVER (PARTITION BY l.cluster_id)
                       AS cluster_size
            FROM labels l JOIN documents d USING (doc_id)),
        pk AS (
            SELECT *,
                   row_number() OVER (
                       PARTITION BY cluster_id
                       ORDER BY n_redactions ASC, n_chars DESC,
                                doc_id ASC) AS prk
            FROM pm)
        SELECT cluster_id, cluster_size, doc_id AS keeper_doc_id,
               n_redactions AS keeper_redactions
        FROM pk WHERE prk = 1
    """
)

ORACLES["q_curation_pipeline_pii"] = (
    ORACLES["q_curation_pipeline"]
    .replace(
        r"""staged AS MATERIALIZED (
            SELECT k.doc_id, st.stage,
                   md5(CAST(k.doc_id AS VARCHAR)) AS order_key,
                   CAST(len(string_split_regex(lower(trim(d.text)),
                                               '\s+')) AS BIGINT)
                       AS n_tokens
            FROM kept k JOIN st USING (quality_bin)
                 JOIN documents d USING (doc_id)),""",
        rf"""scrub AS MATERIALIZED (
            SELECT d.doc_id, {_PII_SCRUB_SQL} AS scrubbed
            FROM documents d),
        staged AS MATERIALIZED (
            SELECT k.doc_id, st.stage,
                   md5(CAST(k.doc_id AS VARCHAR)) AS order_key,
                   CAST(len(string_split_regex(lower(trim(s.scrubbed)),
                                               '\s+')) AS BIGINT)
                       AS n_tokens,
                   CAST(len(regexp_extract_all(s.scrubbed,
                       '\[EMAIL\]|\[SSN\]|\[PHONE\]')) AS BIGINT)
                       AS n_redactions
            FROM kept k JOIN st USING (quality_bin)
                 JOIN scrub s USING (doc_id)),""",
        1,
    )
    .replace(
        "SELECT doc_id, stage, order_key, n_tokens, start_offset,",
        "SELECT doc_id, stage, order_key, n_tokens, n_redactions,"
        " start_offset,",
        1,
    )
)
