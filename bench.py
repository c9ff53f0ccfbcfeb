"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line {"metric", "value", "unit", "queries", "sf"}.

Each run of an id goes through ``measure``: the id is fully materialized
via the noop sink (no driver collect, no result serialization) under a
Spark job group of its own, and perfbench's status-store counters (jobs,
stages, tasks, shuffle records and bytes, executor CPU) are read for
exactly that run's jobs. Counters do not move with host load; wall time
does, and corroborates them.

Per-query time is BEST OF 2 runs (3 for ids measuring sub-second — see
EXTRA_RUN_UNDER_SEC): the first execution of a novel plan pays 1-2 s of
driver-side analysis + whole-stage-codegen (Janino) compilation, a fixed
local-JVM cost that amortizes to zero on any long-lived cluster and
otherwise drowns the sub-second queries in noise. The total is the sum of
the reported per-query times. All samples per id, the first run's
counters and its signature (jobs, stages, shuffle_write_records) are
written to BENCH_FULL.json; scripts/build_bench_minima.py folds that
artifact into the per-id floors. The stdout line is budgeted to the
driver's 2000-byte tail."""

from __future__ import annotations

import json
import math
import os
import sys
import time
import uuid

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from breweries_case_spark.session import get_session  # noqa: E402
from perfbench.counters import StatusStoreCounters  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def sf_of(sf_dir: str) -> float | None:
    """The scale factor an ``sfN`` directory name carries (``sf0.01`` is
    0.01); None for any other name."""
    base = os.path.basename(sf_dir.rstrip("/"))
    try:
        return float(base[2:]) if base.startswith("sf") else None
    except ValueError:
        return None


# Headline set: one per operator family (scan, filter, join shapes, agg
# shapes, windows, top-k, set ops, flagship) plus the extended-op ids;
# ids missing from the registry are skipped rather than crashing.
HEADLINE = [
    "q_flagship",
    "q_tpch_q1",
    "q_tpch_q2",
    "q_tpch_q3",
    "q_tpch_q4",
    "q_tpch_q5",
    "q_tpch_q6",
    "q_tpch_q7",
    "q_tpch_q8",
    "q_tpch_q9",
    "q_tpch_q10",
    "q_tpch_q11",
    "q_tpch_q12",
    "q_tpch_q13",
    "q_tpch_q14",
    "q_tpch_q15",
    "q_tpch_q16",
    "q_tpch_q17",
    "q_tpch_q18",
    "q_tpch_q19",
    "q_tpch_q20",
    "q_tpch_q21",
    "q_tpch_q22",
    "q_groupby_count",
    "q_count_distinct",
    "q_join_inner",
    "q_join_broadcast",
    "q_join_semi",
    "q_window_rank",
    "q_dedup_keep_latest",
    "q_window_running_sum",
    "q_topk",
    "q_rollup",
    "q_partition_pruned_scan",
]
EXTENDED = [
    "q_json_extract",
    "q_clean_normalize",
    "q_dedup_exact",
    "q_dedup_minhash",
    "q_text_stats",
    "q_token_count",
    "q_lang_id",
    "q_quality_score",
    "q_sim_topk",
    "q_stream_tumbling_batch",
    "q_stream_session_batch",
    "q_join_asof",
    "q_agg_salted",
    "q_tfidf",
    "q_sim_knn_join",
    "q_sim_knn_join_ann",
    "q_dedup_simhash",
    "q_dedup_clusters",
    # the bounded (candidate-verified) form is the benched one: the exact
    # (lang, length-bin) twin is measured corpus-quadratic (SURVEY §6) and
    # stays out of the headline suite by design
    "q_dedup_levenshtein_bounded",
    # the production-topology compositions: blocker candidates -> verify
    # -> star CC, and the shard-vs-corpus probe
    "q_dedup_clusters_bounded",
    "q_dedup_incremental",
    "q_sim_ivf",
    "q_sim_ivf_trained",
    "q_sample_hash",
    "q_sample_stratified",
    "q_scd2_compress",
    "q_profile_columns",
    "q_embed_normalize",
    "q_applyinpandas_minmax",
    "q_udtf_chunks",
    "q_quality_repetition",
    "q_decontaminate",
    "q_sample_token_budget",
    # analytics + LLM ids (trivial narrow ops — unpivot, map_funcs,
    # posexplode, histogram — and regr_funcs, whose plan is
    # q_stats_moments', stay out to keep the suite lean)
    "q_funnel",
    "q_retention_cohort",
    "q_event_transitions",
    "q_rolling_distinct",
    "q_stats_moments",
    "q_ngram_lm_score",
    "q_doc_ngram_topk",
    "q_embed_quantize",
    "q_sim_centroid",
    # the four-stage exact-tier curation composite (quality -> decontam
    # -> dedup -> budget) — the pipeline users actually run end to end
    "q_training_mix",
    "q_user_streaks",
    "q_anomaly_zscore",
    "q_locf_fill",
    "q_pagerank",
    "q_lateral_topn",
    "q_variant_json",
    "q_recursive_cte",
    "q_quality_expectations",
    # record linkage (blocked JW verify is the one pandas-UDF hot path —
    # blocking ratio is what's being measured), span-level duplication
    # (two gram-hash shuffles), grid spatial join, and the heavier of the
    # analytics (two grouped percentile passes). The narrow ones
    # (weighted/split samplers, interval merge, Pareto sweep,
    # semi-additive) stay out for leanness.
    "q_join_jaro",
    "q_entity_resolution",
    "q_dup_span_fraction",
    "q_geo_join_radius",
    "q_robust_stats",
    # retrieval scoring (explode cut to query-term postings), triangle
    # counting (degree-ordered wedge join — the quadratic-risk shape
    # worth watching), reconciliation checksum (single-pass multi-agg),
    # per-dim embedding stats, and the distributed-moments +
    # driver-eigensolve PCA (mapInPandas partials).
    "q_text_bm25",
    "q_graph_triangles",
    "q_table_checksum",
    "q_embed_dim_stats",
    "q_embed_pca",
    # attribution (user-keyed temporal join + rank windows), z-order
    # layout audit (32 codegen interleave terms), the frame-explicit
    # navigation windows, and the branch lifecycle (write-shaped:
    # commits + three-way merge + three snapshot reads).
    "q_attribution",
    "q_zorder_layout",
    "q_window_first_last",
    "q_branch_merge",
    # content-defined chunk dedup (1.60 s at sf0.1 — the dup_span shape
    # with variable-length chunks)
    "q_dedup_cdc_chunks",
    # hybrid retrieval: BM25 candidates -> exact-cosine re-rank -> mixed
    # top-K (1.68 s at sf0.1)
    "q_hybrid_search",
    # pipeline ids: rate-limited streaming executor-side ingest (4
    # micro-batches), real WAV/BMP/IVF decode via mapInPandas, and the
    # cents-exact arbitrary-state stream. Certificate ids (blocker
    # recall, ANN recall, pack/PCA invariants) stay out: they are
    # verification queries composed of already-benched operators, and
    # every certificate below stays out for the same reason.
    "q_python_datasource_stream",
    "q_multimodal_decode",
    "q_stream_stateful_exact",
    # ordered CDC apply (window + full-outer merge), snapshot
    # change-data-feed diff (write-shaped, like q_branch_merge), and the
    # point-in-time SCD2 probe-grid lookup
    "q_cdc_apply",
    "q_snapshot_changes",
    "q_scd2_lookup",
    "q_profile_drift",
    # the 1→N mapInPandas frame-sampling shape (output cardinality >
    # input — not covered by q_multimodal_decode's 1→1 decode). The
    # ingest-payload, byte-stat-feature and cycled-resize ids add no new
    # plan shape, and the q_sim_ivf_recall certificate stays out.
    "q_multimodal_frames",
    # map-side Misra-Gries candidates + broadcast-semi exact recount —
    # the two-pass heavy-hitter topology (no full-token-stream shuffle)
    "q_heavy_hitters",
    # month-grid interval-overlap join with count-once-at-first-shared-
    # cell dedup — the binned interval x interval shape (q_join_range is
    # point-in-band)
    "q_join_interval_overlap",
    # the join-free sweep-line twin of the overlap COUNT — union of ±1
    # events, ONE exchange on suppkey, window running sum; benched so
    # the grid-vs-sweep crossover stays measured
    "q_join_interval_sweep",
    # per-row higher-order fold over full token arrays (the BPE APPLY
    # step) — the only O(tokens)-per-row F.aggregate in the registry;
    # its count/curve/overlap siblings reuse already-benched explode→agg
    # and gram-join shapes and stay out
    "q_bpe_merge_apply",
    # the k-round training LOOP over the same plan: benched so the
    # per-round checkpoint + re-scan cadence (the loop overhead on top
    # of the already-benched single apply step) stays measured
    "q_bpe_train_k",
    # 6-batch watermark replay: the only id whose cost is dominated by
    # repeated micro-batch scheduling (6 processAllAvailable rounds),
    # not by a data plan — benched so that cadence regression is visible
    "q_stream_late_data",
    # cluster-root split: pair source + connected components + label
    # join — the only id that composes component labels back onto a
    # full-corpus projection (q_dedup_clusters aggregates instead)
    "q_split_leakage_safe",
    # two-phase distributed prefix scan (range exchange + tiny collect +
    # narrow mapInPandas re-walk) — the only multi-job scan topology in
    # the registry; benched so the checkpoint + double-pass overhead
    # stays measured against the one-task-per-lang window it replaces
    "q_pack_concat",
    # the UNPRUNED Σdf² inverted-index self-join (containment admits no
    # size-ratio pruning) — the candidate-volume worst case of the
    # gram-join family; benched as the skew watchdog for that shape (the
    # ground-truth tier — the blocked form below is the production
    # default)
    "q_dedup_containment",
    # the df-capped + full-inventory-verify production default — benched
    # NEXT TO the uncapped watchdog so the cap's candidate cut and
    # verify-join overhead stay measured as a pair
    "q_dedup_containment_blocked",
    # the second-generation end-to-end curation chain (quantile gate →
    # containment dedup → epoch mix, stage 2 on the capped builder) —
    # benched like q_training_mix so the composed-stage cost stays
    # measured alongside the unit ids
    "q_training_mix_v2",
    # ExactSubstr span REMOVAL — the only id composing gram-window
    # duplication marking with an interval-merge gaps-and-islands window
    # chain + complement union + doc-keyed text rebuild join
    "q_dup_span_removal",
    # banded aHash blocker + XOR/bit_count verify over REAL decoded BMP
    # payloads — the multimodal near-dup join (96.5k verified pairs at
    # sf0.1), on the two-tier capped core. q_multimodal_image_hash alone
    # reuses the benched q_multimodal_decode mapInPandas shape and stays
    # out; q_bpe_encode adds only a final posexplode to the benched
    # q_bpe_train_k loop and stays out
    "q_dedup_image_near",
    # these ids reuse already-benched plan shapes and stay out for
    # leanness: q_repetition_removal/q_decontaminate_spans (the benched
    # excision chain), q_dedup_rate_by_source (clusters + one window),
    # q_quality_gate_by_lang (the benched gate topology,
    # lang-partitioned), q_vocab_coverage / q_curriculum_order /
    # q_dedup_soft_weights (count-rank / gate-histogram / clusters
    # reuses), the audio/video hash tiers (the benched image mapInPandas
    # + banded-join shapes), q_pii_scrub (scan-shaped regex),
    # q_bpe_vocab_persist (the benched train loop + a fold-only encode)
    # and q_dedup_keeper_priority (clusters + one window);
    # q_dedup_perceptual_capped is a certificate (the near ids' own
    # stages re-counted).
    # The dataloader-facing composite (gate → survivor-staged curriculum
    # → per-stage two-phase pack) is benched like the other end-to-end
    # chains.
    "q_curation_pipeline",
    # the privacy-stage composite (gate → PII scrub → curriculum → pack)
    # — benched NEXT TO q_curation_pipeline so the scrub stage's marginal
    # cost stays measured (it should ride the survivor scan); and the
    # video-tier cluster composition (set collapse → capped pair plan →
    # CC → bounded output)
    "q_curation_pipeline_pii",
    "q_dedup_video_clusters",
    # the BPE-report, incremental, keeper and cross-modal ids get a floor
    # instead of a reuse rationale. q_bpe_drift_report runs TWO full train loops + a
    # fold-only re-encode (strictly heavier than the benched single-loop
    # vocab_persist); q_bpe_oov_report adds vocab-bounded aggregates on
    # top of the persist loop; the incremental/keeper/cross-modal ids
    # each compose benched stages but had no recorded floor. Only the
    # certificates q_dedup_mechanism_cap and q_dedup_lsh_mechanism_cap
    # stay out.
    "q_bpe_oov_report",
    "q_bpe_drift_report",
    "q_dedup_media_clusters",
    "q_dedup_video_incremental",
    "q_dedup_video_keeper",
    "q_dedup_keeper_pii",
    # the incremental cluster maintainer (probe + O(shard) CC), the
    # quality-weighted epoch mix (gate + two broadcasts + scan
    # arithmetic), and the contamination-drift rollup
    "q_dedup_cluster_incremental",
    "q_dedup_cluster_chain",
    "q_dedup_text_cluster_incremental",
    "q_dedup_video_cluster_incremental",
    "q_mix_epochs_quality",
    "q_decontaminate_drift",
    "q_sample_token_budget_quality",
    "q_contamination_by_source",
    # the incremental IVF maintainer pair (shard assignment + balance
    # table), the snapshot-persisted maintainer chain and the other
    # incremental maintainers. The IVF recall certificate (two Lloyd
    # loops by construction) stays out.
    "q_sim_ivf_incremental",
    "q_sim_ivf_maintain",
    "q_dedup_cluster_chain_persisted",
    "q_decontaminate_incremental",
    "q_dedup_text_keeper",
    "q_quality_curve_drift",
    "q_embed_stats_incremental",
    "q_tfidf_incremental",
    "q_quality_gate_incremental",
    "q_bm25_incremental",
]


def _materialize(df) -> None:
    df.write.format("noop").mode("overwrite").save()


#: every job and stage a run started must still be in the status store
#: when ``measure`` reads it: by default Spark keeps 1000 stages and drops
#: skipped ones (the reused shuffle stages of every AQE job) first
STATUS_STORE_CONFIGS = {
    "spark.ui.retainedJobs": "100000",
    "spark.ui.retainedStages": "100000",
    "spark.scheduler.listenerbus.eventqueue.appStatus.capacity": "100000",
}
#: the counters that identify an id's plan: a floor is re-seeded when
#: they change (scripts/build_bench_minima.py)
SIGNATURE = ("jobs", "stages", "shuffle_write_records")


def measure(spark, qid: str, fn, sf_dir: str) -> tuple[float, dict[str, int]]:
    """One run of the id ``fn(spark, sf_dir)`` through the noop sink,
    under a job group of its own: returns the wall seconds and
    ``StatusStoreCounters`` of exactly the jobs that run started."""
    sc = spark.sparkContext
    group = f"{qid}#{uuid.uuid4().hex}"
    counters = StatusStoreCounters(sc)
    sc.setJobGroup(group, qid)
    try:
        t0 = time.perf_counter()
        _materialize(fn(spark, sf_dir))
        sec = time.perf_counter() - t0
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    counters.flush()
    return sec, counters.collect(group)


def growth(
    sf_a: float, a: dict[str, float], sf_b: float, b: dict[str, float]
) -> dict[str, float | None]:
    """Per field of two measurements of one id at scale factors ``sf_a``
    and ``sf_b``, the exponent k of x ∝ sf^k: log10(x_b / x_a) /
    log10(sf_b / sf_a). None where either side is 0."""
    span = math.log10(sf_b / sf_a)
    return {
        k: round(math.log10(b[k] / a[k]) / span, 3) if a[k] and b[k] else None
        for k in a
    }


#: run the stall sentinel after every N benched ids, so a host-weather
#: burst is localized to a 5-id bracket (the sentinel is diagnostics-only,
#: timings are untouched)
SENTINEL_EVERY = 5
#: ids whose best sample lands under this get ONE extra run (best-of-3):
#: best-of-2 on a bursty shared host let 17 untouched sub-second ids
#: "regress" in one comparison — a single contaminated sample IS the
#: reported time when both runs straddle a burst. The trigger is the
#: id's OWN in-session samples (no history consulted), so the harness
#: stays self-contained.
EXTRA_RUN_UNDER_SEC = 1.0
#: a sentinel sample this many times over the session MEDIAN marks the
#: bracket of ids since the previous sentinel as stall-suspect (median,
#: not min: the sentinel itself has a fast-path outlier mode on this
#: host — smoke run showed samples of 0.094 s against a 0.26-0.30 s
#: typical band, and a min reference would flag every bracket)
SENTINEL_STALL_FACTOR = 1.5


def _sentinel_time(spark) -> float:
    """Fixed-cost reference job (pure JVM range-sum, constant plan, no
    data dependence): its wall time moves ONLY with host weather, so a
    drifting sentinel marks the surrounding per-id samples as
    stall-contaminated instead of leaving round-over-round comparisons
    hostage to single-run noise (SURVEY §6 variance model; a +6.2% on
    bit-identical plans is the motivating incident)."""
    from pyspark.sql import functions as F

    t0 = time.perf_counter()
    _materialize(
        spark.range(0, 20_000_000, 1, 32).select(F.sum("id").alias("s"))
    )
    return time.perf_counter() - t0


def warm_up(spark, sf_dir: str) -> None:
    """Neutral warm-up: one scan+count of every parquet table in the SF
    dir (JVM, codegen and parquet footers for all ids alike) plus one
    sentinel-shaped range job, so every measured slot, the first one
    included, starts from the same conditions."""
    for fname in sorted(os.listdir(sf_dir)):
        if fname.endswith(".parquet"):
            spark.read.parquet(os.path.join(sf_dir, fname)).count()
    _sentinel_time(spark)


def _medallion_layer_times(spark) -> dict[str, float]:
    """Per-layer wall time for a 10k-row medallion run — the reference's
    only published envelope is < 30 s/layer at 10k rows
    (tests/integration/test_performance.py:71-73); emitting the measured
    layer times makes that comparison machine-readable round over round.
    The day is the pipeline's own (``medallion._run_day``), and each layer
    is timed THROUGH its persisted parquet commit, like the reference
    times task-to-task: a layer's time is the gap between the end of its
    write and the end of the previous one, so bronze includes ingest."""
    import datetime as dt
    import shutil
    import tempfile

    from breweries_case_spark.io.rest_source import (
        fetch_paginated,
        synthetic_page_fetcher,
    )
    from breweries_case_spark.pipelines import medallion

    day = dt.date(2024, 1, 15)
    records = fetch_paginated(synthetic_page_fetcher(10_000), per_page=200)
    base = tempfile.mkdtemp(prefix="bench_medallion_")
    schemas = {"bronze": medallion.BRONZE_SCHEMA, "silver": medallion.SILVER_SCHEMA}
    ends = [time.perf_counter()]

    def persist(df, layer: str) -> int:
        rows = medallion._persist_layer(df, f"{base}/{layer}", day)  # noqa: SLF001
        ends.append(time.perf_counter())
        return rows

    def read(layer: str):
        return medallion.read_partitioned(spark, f"{base}/{layer}", schemas[layer])

    try:
        medallion._run_day(spark, records, day, persist, read)  # noqa: SLF001
    finally:
        shutil.rmtree(base, ignore_errors=True)
    return {
        layer: round(end - start, 3)
        for layer, start, end in zip(("bronze", "silver", "gold"), ends, ends[1:])
    }


# The driver records only the LAST ~2000 bytes of stdout; the final JSON
# line must fit inside that window or the head of the line (metric, total,
# the TPC-H block) is lost — exactly what happened to BENCH_r04 when the
# suite grew to 99 queries. Budget with headroom for the trailing newline
# and any stray stderr interleave.
TAIL_BYTE_BUDGET = 1850
#: committed full artifact: every id with ALL its samples (2, or 3 for
#: sub-second ids), so stall-hit queries are identifiable from the
#: artifact itself.
FULL_ARTIFACT = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "BENCH_FULL.json"
)


#: the widest values the line is budgeted for: an id or a medallion layer
#: runs in well under 100 s at sf0.1, the suite total in under 10,000 s
_WORST_SEC, _WORST_TOTAL = 88.888, 8888.888


def build_stdout_line(
    names: list[str],
    per_query: dict[str, float],
    total: float,
    sf: float | None,
    medallion: dict[str, float],
    stall_suspect_n: int = 0,
) -> str:
    """The final stdout line: complete spec shape, truncated to the tail
    budget by dropping per-query entries from the END of the priority
    order (HEADLINE block — flagship + TPC-H — survives longest);
    anything dropped is still in BENCH_FULL.json, and ``queries_omitted``
    says how many to look for there.

    How many ids are printed depends on the id list alone: the budget is
    checked on a worst-case line (every value at ``_WORST_SEC`` width,
    the total at ``_WORST_TOTAL``, ``stall_suspect_n`` present), so
    neither a wide value nor a stall count can push an id off the line."""

    def _payload(keep, per_query, total, medallion, stall_suspect_n) -> str:
        doc = {
            "metric": "headline_queries_total_wall",
            "value": total,
            "unit": "sec",
            "queries": {k: per_query[k] for k in names[:keep]},
            "sf": sf,
            "medallion_10k_rows_per_layer_sec": medallion,
        }
        if stall_suspect_n:
            # how many per-id numbers the sentinel flags as
            # stall-contaminated (details in BENCH_FULL.json)
            doc["stall_suspect_n"] = stall_suspect_n
        if keep < len(names):
            doc["queries_omitted"] = len(names) - keep
            doc["full_artifact"] = "BENCH_FULL.json"
        return json.dumps(doc, separators=(",", ":"))

    worst = dict.fromkeys(names, _WORST_SEC)
    worst_medallion = dict.fromkeys(medallion, _WORST_SEC)
    keep = len(names)
    while keep > 0 and len(
        _payload(keep, worst, _WORST_TOTAL, worst_medallion, len(names))
    ) > TAIL_BYTE_BUDGET:
        keep -= 1
    return _payload(keep, per_query, total, medallion, stall_suspect_n)


def main() -> None:
    from __spark_entry__ import queries

    qs = queries()
    names = [q for q in HEADLINE if q in qs] + [q for q in EXTENDED if q in qs]

    spark = get_session(
        app_name="bench",
        # keep stdout clean: the \r console-progress spam shares the
        # driver's 2000-byte tail capture with the result JSON
        extra_configs={
            **STATUS_STORE_CONFIGS,
            "spark.ui.showConsoleProgress": "false",
        },
    )
    per_query: dict[str, float] = {}
    samples: dict[str, list[float]] = {}
    counters: dict[str, dict[str, int]] = {}  # the first run's, per id
    warm_up(spark, SF_DIR)

    import gc

    sentinel_samples: list[list] = []  # [after_n_ids, sec]
    sentinel_samples.append([0, round(_sentinel_time(spark), 3)])
    for i, name in enumerate(names):
        runs: list[float] = []
        for _ in range(2):
            sec, run_counters = measure(spark, name, qs[name], SF_DIR)
            runs.append(sec)
            counters.setdefault(name, run_counters)
        if min(runs) < EXTRA_RUN_UNDER_SEC:
            # best-of-3 for sub-second ids (see EXTRA_RUN_UNDER_SEC)
            runs.append(measure(spark, name, qs[name], SF_DIR)[0])
        # same 3-dp scale as the samples so the stdout total (sum of
        # per-query minima) reconciles exactly with BENCH_FULL.json's
        # min samples — the two artifacts must sum consistently
        samples[name] = [round(t, 3) for t in sorted(runs)]
        per_query[name] = round(min(runs), 3)
        # Release this query's localCheckpoint blocks before the next one
        # runs: dropping the Python refs lets the ContextCleaner reclaim
        # the RDD blocks, and the explicit JVM GC forces it now. Without
        # this, 60 queries x 2 runs of checkpoint blocks pile up in the
        # block manager and late queries measure GC pressure, not their
        # plan (one run recorded q_dedup_clusters at 37.3 s this way; isolated
        # it runs in 3.3 s). GC time lands between timing windows, so it
        # is not billed to any query.
        gc.collect()
        spark.sparkContext._jvm.System.gc()
        # sentinel AFTER the GC barrier so it reads host weather, not
        # this query's block-cleanup debt
        if (i + 1) % SENTINEL_EVERY == 0 or i + 1 == len(names):
            sentinel_samples.append([i + 1, round(_sentinel_time(spark), 3)])
    total = round(sum(per_query.values()), 3)

    # stall-suspect ids: every id benched in a bracket whose trailing
    # sentinel drifted SENTINEL_STALL_FACTOR× over the session median
    import statistics

    sentinel_ref = statistics.median(s for _, s in sentinel_samples)
    stall_suspect: list[str] = []
    prev_mark = 0
    for mark, sec in sentinel_samples[1:]:
        if sec > SENTINEL_STALL_FACTOR * sentinel_ref:
            stall_suspect.extend(names[prev_mark:mark])
        prev_mark = mark

    sf = sf_of(SF_DIR)
    medallion = _medallion_layer_times(spark)

    # Full artifact first (committed alongside the code): both samples per
    # id — min is the honest plan cost, the (min, second) gap flags a
    # host-stall window (SURVEY §6 variance model) without SURVEY prose.
    with open(FULL_ARTIFACT, "w") as fh:
        json.dump(
            {
                "metric": "headline_queries_total_wall",
                "value": total,
                "unit": "sec",
                "sf": sf,
                "samples_min_second": samples,
                "counters": counters,
                "signatures": {
                    q: [c[k] for k in SIGNATURE] for q, c in counters.items()
                },
                "medallion_10k_rows_per_layer_sec": medallion,
                "sentinel": {
                    "job": "range(20M,32p).sum via noop",
                    "median": round(sentinel_ref, 3),
                    "samples_after_n_ids": sentinel_samples,
                    "stall_factor": SENTINEL_STALL_FACTOR,
                    "stall_suspect_ids": stall_suspect,
                },
            },
            fh,
            indent=1,
        )
        fh.write("\n")

    line = build_stdout_line(
        names, per_query, total, sf, medallion, len(stall_suspect)
    )
    sys.stdout.flush()
    print(line)
    spark.stop()


if __name__ == "__main__":
    main()
