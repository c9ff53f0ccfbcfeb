"""Build BENCH_MINIMA.json — the cross-round per-id minimum table.

Round-over-round bench comparisons on this host are hostage to stall
weather (SURVEY §6 variance model: r7 drifted +6.2% on bit-identical
plans). The honest per-id cost is the MINIMUM over every recorded
sample: the committed BENCH_r*.json round snapshots plus both samples
per id in BENCH_FULL.json, restricted to sf0.1 (the driver's bench sf).
Judges and future rounds should compare a fresh number against this
table's floor, not against the single previous round.

Usage: PYTHONPATH=. python scripts/build_bench_minima.py   (run after
each bench round; commit the refreshed BENCH_MINIMA.json)
"""

from __future__ import annotations

import json
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
BENCH_SF = 0.1

#: deliberate plan changes: qid -> unix committer time of the commit that
#: landed the new plan. Floors are per-PLAN (r11/r12 verdicts): a sample
#: recorded before this time measured an ABANDONED plan and must not seed
#: the floor — min-over-history can't otherwise forget a faster plan that
#: no longer exists. Blob sources are dated by their commit time; clean
#: working-tree files by the commit that last touched them; dirty or
#: untracked working-tree files are undated (always current plan).
FLOOR_RESETS = {
    # r11: containment verify-recount prune + needs-frame pin (3ca51fb);
    # training-mix stage hand-off checkpoints (3980fe2)
    "q_training_mix_v2": 1786871205,
    "q_dedup_containment_blocked": 1786871205,
    # r12: two-tier capped LSH candidates + exact-dup pre-collapse
    # (cd22cec) — every id whose MinHash leg changed plans
    "q_dedup_minhash": 1786892378,
    "q_dedup_levenshtein_bounded": 1786892378,
    # r13: neutral bench warmup — the two formerly warmed-first ids were
    # benched as hot SECOND runs through r12, so their floors measure a
    # different protocol, not a different plan; re-seed under the
    # symmetric cold-slot conditions every other id always had
    "q_flagship": 1786915881,
    "q_tpch_q1": 1786915881,
    # r13 optimization round, commit e5d6974: connected-components loops
    # rebuilt (label-prop: one join + min-groupBy per round, sum-stall
    # fixpoint; star: window minima over the co-located adjacency,
    # canonical orientation) and the text maintainer's shared feature
    # checkpoint — every id that executes either CC loop or
    # bounded_component_assignment/_text_cluster_update runs a new
    # topology
    "q_dedup_clusters": 1786977807,
    "q_dedup_filtered_corpus": 1786977807,
    "q_dedup_soft_weights": 1786977807,
    "q_dedup_rate_by_source": 1786977807,
    "q_dedup_keeper_priority": 1786977807,
    "q_dedup_keeper_pii": 1786977807,
    "q_dedup_clusters_star": 1786977807,
    "q_entity_resolution": 1786977807,
    "q_dedup_image_clusters": 1786977807,
    "q_dedup_media_clusters": 1786977807,
    "q_dedup_video_clusters": 1786977807,
    "q_dedup_video_keeper": 1786977807,
    "q_dedup_cluster_incremental": 1786977807,
    "q_dedup_cluster_chain": 1786977807,
    "q_dedup_cluster_chain_persisted": 1786977807,
    "q_dedup_video_cluster_incremental": 1786977807,
    # r13 optimization round, commit 4f3d8f4: interval sweep single-scan
    # explode; incremental decontaminator zero-exchange posting +
    # broadcast-anti cap + broadcast-gated id joins
    "q_join_interval_sweep": 1786979493,
    "q_decontaminate_incremental": 1786979493,
    # r13 optimization round, commit 89518ea: vectorized BPE merge
    # (bpe_merge_greedy) at every train/encode loop site + the chained-
    # regexp literal re-encode (bpe_apply_rules_regex) — every benched
    # BPE id runs a new per-round topology
    "q_bpe_merge_apply": 1786984673,
    # r14 optimization round, commit c5092c0: interval-overlap count
    # routed through the sweep line + same-key correction (zero joins);
    # text maintainer family on ONE shared MinHash signature pass with
    # single-count broadcast gates and no blocker-union distinct; the
    # late-data staging write repartitions on the batch column
    # (supersedes its r13 reset at 1787018655 — the r13 harness rebuild)
    "q_join_interval_overlap": 1787031898,
    "q_dedup_clusters_bounded": 1787031898,
    "q_dedup_text_cluster_incremental": 1787031898,
    "q_dedup_text_keeper": 1787031898,
    "q_stream_late_data": 1787031898,
    # r14 optimization round: BPE training loop maintains an incremental
    # pair-count state table (only round 1 explodes the full corpus;
    # later rounds shuffle the changed-doc delta + the vocabulary-bounded
    # table) — per-round topology changed for every id that trains
    "q_bpe_train_k": 1787043302,
    "q_bpe_encode": 1787043302,
    "q_bpe_vocab_persist": 1787043302,
    "q_bpe_oov_report": 1787043302,
    "q_bpe_drift_report": 1787043302,
    # r14 optimization round: triangle edge build = one orderkey
    # exchange + in-row combinations (was distinct + self-join); IVF
    # trained/maintain read ONE checkpointed embeddings frame instead of
    # re-scanning parquet per Lloyd iteration / assignment pass
    "q_graph_triangles": 1787044193,
    "q_sim_ivf_trained": 1787044193,
    "q_sim_ivf_maintain": 1787044193,
}


def collect_minima(
    docs: list[tuple[str, dict, float | None]],
    resets: dict[str, float] | None = None,
) -> dict[str, dict]:
    """Pure floor computation over (source_name, bench_doc,
    recorded_at_unix_or_None) triples — factored from main() so the
    FLOOR_RESETS semantics are unit-testable (tests/test_bench_minima.py):
    a sample dated BEFORE its id's reset time measured an abandoned plan
    and never seeds the floor; undated samples (the working tree) are
    always the current plan."""
    resets = FLOOR_RESETS if resets is None else resets
    minima: dict[str, dict] = {}

    def offer(
        qid: str, sec: float, source: str, recorded_at: float | None
    ) -> None:
        reset = resets.get(qid)
        if reset is not None and recorded_at is not None and recorded_at < reset:
            return  # pre-plan-change sample: not this plan's floor
        cur = minima.get(qid)
        if cur is None or sec < cur["min_sec"]:
            minima[qid] = {"min_sec": sec, "source": source}

    for stem, doc, recorded in docs:
        if doc.get("sf") != BENCH_SF:
            continue
        # driver round snapshots wrap the bench stdout JSON in "parsed"
        if isinstance(doc.get("parsed"), dict):
            doc = doc["parsed"]
        for qid, sec in doc.get("queries", {}).items():
            if isinstance(sec, (int, float)):
                offer(qid, float(sec), stem, recorded)
        for qid, ss in doc.get("samples_min_second", {}).items():
            for sec in ss if isinstance(ss, list) else []:
                if isinstance(sec, (int, float)):
                    offer(qid, float(sec), stem, recorded)
    return minima


def main() -> None:
    # BENCH_FULL.json is overwritten every bench run, so its older
    # (per-round) versions only survive in git history — read every
    # committed blob of it alongside the working-tree files
    import subprocess

    def _commit_time(args: list[str]) -> float | None:
        out = subprocess.run(
            ["git", "-C", str(ROOT)] + args, capture_output=True, text=True
        ).stdout.strip()
        try:
            return float(out.splitlines()[0])
        except (ValueError, IndexError):
            return None

    docs: list[tuple[str, dict, float | None]] = []
    revs = subprocess.run(
        ["git", "-C", str(ROOT), "rev-list", "HEAD", "--", "BENCH_FULL.json"],
        capture_output=True,
        text=True,
    ).stdout.split()
    for rev in revs:
        blob = subprocess.run(
            ["git", "-C", str(ROOT), "show", f"{rev}:BENCH_FULL.json"],
            capture_output=True,
            text=True,
        ).stdout
        try:
            docs.append(
                (
                    f"BENCH_FULL@{rev[:7]}",
                    json.loads(blob),
                    _commit_time(["show", "-s", "--format=%ct", rev]),
                )
            )
        except ValueError:
            continue

    sources = sorted(ROOT.glob("BENCH_r*.json")) + [ROOT / "BENCH_FULL.json"]
    n_sources = len(sources) + len(docs)
    for f in sources:
        try:
            doc = json.loads(f.read_text())
        except (OSError, ValueError):
            continue
        # one dating rule for every working-tree source (r12 ADVICE): a
        # file with UNCOMMITTED edits is current-plan data wearing an old
        # commit date — fresh post-plan-change measurements written into a
        # previously committed snapshot must not be excluded by
        # FLOOR_RESETS, so dirty (or untracked) files are undated. A CLEAN
        # file is byte-identical to its newest blob, so it keeps the
        # commit date (an undated clean BENCH_FULL.json would smuggle
        # pre-reset samples past a reset as "current plan").
        dirty = subprocess.run(
            ["git", "-C", str(ROOT), "status", "--porcelain", "--", f.name],
            capture_output=True,
            text=True,
        ).stdout.strip()
        recorded = (
            None
            if dirty
            else _commit_time(["log", "-1", "--format=%ct", "--", f.name])
        )
        docs.append((f.stem, doc, recorded))
    minima = collect_minima(docs)

    out = ROOT / "BENCH_MINIMA.json"
    out.write_text(
        json.dumps(
            {
                "sf": BENCH_SF,
                "n_sources": n_sources,
                "minima": dict(sorted(minima.items())),
            },
            indent=1,
        )
        + "\n"
    )
    print(f"{len(minima)} ids, {n_sources} source files -> {out.name}")


if __name__ == "__main__":
    main()
