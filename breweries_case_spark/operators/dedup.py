"""Deduplication operators over ``documents`` / ``embeddings`` (north-star
X1/X2 + training-data-pipeline surface).

Six strategies, one blocking discipline:

- **exact** — md5 content fingerprint, hash-groupBy keep-min (oracle-checked);
- **n-gram Jaccard** — exact pairwise token-3-gram Jaccard within lang
  blocks (oracle-checked; the ground truth the probabilistic methods
  approximate);
- **SimHash** — 64-bit per-doc signature, near-dups = small Hamming
  distance within blocks (rows-only: xxhash64 is Spark-side);
- **MinHash + LSH banding** — shingle → k minhashes → band buckets →
  bucket-join candidates → exact-Jaccard verification (rows-only);
- **embedding cosine** — exact cosine pairs ≥ threshold within label
  blocks (oracle-checked against DuckDB list_dot_product; dot products
  are bit-identical across engines — verified);
- **Levenshtein** — edit-distance ≤ k pairs via lossless length-band
  blocking + bounded distance evaluation (oracle-checked).

Scale stance: NOTHING here is globally quadratic. Every pairwise step is
blocked (lang / label / LSH bucket) so the blow-up is per-block; at 100 TB
block sizes are controlled by the banding parameters (more bands → smaller
buckets), and the verification join only touches candidate pairs. The
O(n²)-within-block exact variants exist as oracle-checkable ground truth
at test scale."""

from __future__ import annotations

from typing import NamedTuple

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType
from pyspark.sql.window import Window

from breweries_case_spark.functions import fingerprint, token_hashes, tokens
from breweries_case_spark.io.reader import load_table, spread

# --- shared fragments -------------------------------------------------------
#
# The feature builders take a documents frame (doc_id, lang, text). Callers
# that read a table pass ``spread(load_table(...))``: shingling is
# compute-bound, and spread parallelizes a small local scan (a no-op at
# scale, where splits >> cores).


def _norm_tokens(col):
    """The dedup token base: ``tokens`` with empty tokens kept."""
    return tokens(col, drop_empty=False)


def _docs_with_gram_rows(docs: DataFrame, n: int = 3) -> DataFrame:
    """DISTINCT (doc_id, lang, gram) rows — one row per string 3-gram
    shingle per document of ``docs``.

    Built codegen-first: posexplode tokens → window lead(n-1) to form each
    gram → groupBy for distinctness. Every expression is JVM codegen; the
    window and the dedup groupBy both hash-cluster on doc_id so the build
    is ONE shuffle. Replaces a sequence+transform+element_at array
    formulation whose interpreted higher-order functions made the build
    ~8× slower at sf0.1. Docs with < n tokens yield no rows — equivalent
    to an empty shingle set for every consumer (it can never clear a
    positive Jaccard threshold). Spark cannot push a caller's doc_id
    semi-join below the explode+window, so a caller that grams a subset
    filters ``docs`` first (guide §2.3: project/filter before the
    expensive pass)."""
    toks = docs.select(
        "doc_id", "lang", F.posexplode(_norm_tokens(F.col("text"))).alias("pos", "tok")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    gram = F.when(
        F.lead("tok", n - 1).over(w).isNotNull(),
        F.concat_ws(" ", "tok", *[F.lead("tok", k).over(w) for k in range(1, n)]),
    )
    return (
        toks.select("doc_id", "lang", gram.alias("gram"))
        .filter(F.col("gram").isNotNull())
        .distinct()
    )


_MERSENNE_P = (1 << 31) - 1
_SHINGLE_MIX = 2654435761 % _MERSENNE_P


def _docs_with_token_hashes(docs: DataFrame) -> DataFrame:
    """(doc_id, lang, th64: array<long>) — one 64-bit xxhash64 per token,
    in document order. The SHARED feature base for the probabilistic
    blockers: MinHash folds these down to [0, P) and rolls shingle hashes;
    SimHash votes on the distinct raw 64-bit values. Composite pipelines
    (q_dedup_levenshtein_bounded, q_dedup_clusters_bounded) localCheckpoint
    this ONCE so the corpus is scanned/tokenized/hashed a single time for
    both blockers instead of once per blocker."""
    return docs.select(
        "doc_id", "lang", token_hashes(_norm_tokens(F.col("text"))).alias("th64")
    )


def _hashed_shingles_from_token_hashes(
    base: DataFrame, n: int = 3, keep: tuple[str, ...] = ()
) -> DataFrame:
    """th64 → distinct rolled n-gram shingle hashes in [0, P). Token hashes
    land in a materialized column (referenced ~doc_len times by the roll's
    element_at calls, so CollapseProject keeps it materialized rather than
    inlining the transform into every use). ``keep`` names extra ``base``
    columns to carry through unchanged (lets the incremental text
    maintainer build ONE (doc_id, lang, fp, th64, sh) feature checkpoint
    instead of re-scanning/re-tokenizing the corpus per consumer)."""
    body = base.select(
        "doc_id",
        "lang",
        *keep,
        F.transform(
            F.col("th64"), lambda h: F.pmod(h, F.lit(_MERSENNE_P))
        ).alias("th"),
    )
    count = F.size(F.col("th")) - (n - 1)

    def roll(i):
        acc = F.element_at(F.col("th"), i)
        for k in range(1, n):
            acc = F.pmod(
                acc * F.lit(_SHINGLE_MIX) + F.element_at(F.col("th"), i + k),
                F.lit(_MERSENNE_P),
            )
        return acc

    sh = F.when(count < 1, F.array().cast("array<long>")).otherwise(
        F.array_distinct(F.transform(F.sequence(F.lit(1), count), roll))
    )
    return body.select("doc_id", "lang", *keep, sh.alias("sh"))


def _docs_with_hashed_shingles(docs: DataFrame, n: int = 3) -> DataFrame:
    """Integer shingles for the probabilistic dedup path: hash each token
    ONCE (xxhash64 → [0, P)), then roll n-gram hashes with modular mixing —
    no per-shingle string building. Same distinct-shingle semantics as the
    string form (collision probability ~n²/P per doc, negligible), at a
    fraction of the CPU; the string form stays as the DuckDB-checkable
    ground truth in q_dedup_ngram_jaccard."""
    return _hashed_shingles_from_token_hashes(_docs_with_token_hashes(docs), n)


# --- X1: exact dedup --------------------------------------------------------


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy on the md5 content fingerprint, keep the
    smallest doc_id (deterministic keeper). One shuffle on the fingerprint;
    at 100 TB this is the cheapest dedup and runs first in any pipeline."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select(fingerprint(F.col("text")).alias("fingerprint"), "doc_id")
        .groupBy("fingerprint")
        .agg(F.min("doc_id").alias("keeper_doc_id"), F.count("*").alias("copies"))
    )


# --- X2a: exact n-gram Jaccard (ground truth) -------------------------------


def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT 3-gram Jaccard similarity for all same-lang pairs ≥ 0.5,
    computed WITHOUT an all-pairs join: the classic inverted-index
    set-similarity formulation (the candidate-generation core of AllPairs
    / PPJoin, Bayardo et al. WWW'07). Distinct (doc, gram) rows self-join
    on (lang, gram) — an equi-join whose output is Σ_gram df² rows, never
    |docs|² — and grouping by the pair COUNTS the exact intersection;
    jaccard = inter/(|a|+|b|-inter) with the same arithmetic shape as the
    oracle so doubles match bitwise. A pair with J ≥ t > 0 must share a
    gram, so recall is exact by construction.

    Everything is codegen: no shingle arrays, no array_intersect, no
    interpreted higher-order functions. Size-bound residuals
    (J ≥ t ⇒ t·|b| ≤ |a| ≤ |b|/t) prune non-qualifying pairs inside the
    join, before they reach the aggregate. The gram table is checkpointed
    once for both join sides. Skew note: a pathologically frequent gram
    fattens its df² bucket — at 100 TB the standard fix is dropping
    ultra-high-df grams (stopword n-grams carry no similarity signal) or
    prefix-filtering; unnecessary at test scale."""
    t = JACCARD_THRESHOLD
    grams = (
        _docs_with_gram_rows(spread(load_table(spark, sf_dir, "documents")))
        .withColumn("sz", F.count("*").over(Window.partitionBy("doc_id")))
        .localCheckpoint()
    )
    a, b = grams.alias("a"), grams.alias("b")
    inter = F.count("*")
    union = F.col("a.sz") + F.col("b.sz") - inter
    return (
        a.join(
            b,
            (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.gram") == F.col("b.gram"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (F.col("a.sz") >= F.col("b.sz") * F.lit(t))
            & (F.col("b.sz") >= F.col("a.sz") * F.lit(t)),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.lang").alias("lang"),
            F.col("a.sz").alias("sz_a"),
            F.col("b.sz").alias("sz_b"),
        )
        .agg(F.round(inter / union, 6).alias("jaccard"))
        .filter(F.col("jaccard") >= F.lit(t))
        .select("doc_a", "doc_b", "lang", "jaccard")
    )


#: minimum containment of the smaller doc for a subset-duplicate pair
CONTAINMENT_THRESHOLD = 0.8

#: size gate (needs-pair rows) for the verify-recount broadcast hint —
#: ≤ 1M pair rows ⟹ ≤ 2M doc ids ≈ 16 MB per broadcast side, safely
#: inside executor/driver budgets; above it the recount falls back to
#: the shuffle semi-join plan instead of risking a broadcast OOM. The
#: same bound caps the edge list that ``connected_components`` collects
#: and solves on the driver: one row per edge as the caller gives it, not
#: symmetrized, so still ≈ 16 MB of long pairs — and the update graph
#: ``maintain_clusters`` collects (one row per shard id or edge, plus a
#: one-byte kind).
_NEEDS_BROADCAST_MAX = 1_000_000

#: round bound of ``connected_components_star``: star rounds number
#: O(log n), so hitting it means a defect, not a large graph, and raises
_STAR_MAX_ROUNDS = 30


def broadcast_if_small(df: DataFrame, max_rows: int | None = None) -> DataFrame:
    """Size-gated broadcast hint: an explicit ``F.broadcast`` does NOT
    degrade at runtime, so a shard-derived key set that outgrew the driver
    would fail the job outright instead of falling back to a shuffle.
    Hint only when the frame has at most ``max_rows`` rows (default
    ``_NEEDS_BROADCAST_MAX``, read at call time); above the gate
    return the frame unhinted and let the shuffle semi-join plan run. Used
    for shard-sized id sets (the nightly corpus update's candidate pairs,
    dropped and contaminated ids); a probe's shard keys are gated inside
    ``probe_postings`` instead, on the checkpoint it takes anyway.

    The frame is materialized once, by an eager localCheckpoint that also
    observes its row count, so the gate costs no separate count job and
    the consuming join reads the checkpoint whichever side of the gate
    wins. Callers need not checkpoint the frame first."""
    n = Observation()
    mat = df.observe(n, F.count(F.lit(1)).alias("n")).localCheckpoint()
    gate = _NEEDS_BROADCAST_MAX if max_rows is None else max_rows
    return F.broadcast(mat) if n.get["n"] <= gate else mat


def probe_postings(
    shard: DataFrame, stored: DataFrame | None, keys: list[str]
) -> tuple[DataFrame, DataFrame | None]:
    """THE shard→stored probe of every incremental near-dup family (text
    LSH bands, image band postings, video frame fingerprints, the nightly
    corpus update): before any pair forms, the stored postings are
    pruned to the shard's ``keys``, so stored-side work is O(shard).

    ``shard`` (posting rows carrying ``keys``) is materialized once, by
    an eager localCheckpoint that observes its row count. That count
    bounds the shard's distinct key set from above, so the size gate
    (``_NEEDS_BROADCAST_MAX``, read at call time) costs no job of its
    own: at most that many rows, the key projection of the checkpoint
    joins as a broadcast semi-join; above it, as a shuffle semi-join (an
    unconditional ``F.broadcast`` would fail a large delivery instead).
    No ``distinct`` on the keys: a semi-join's build side needs none.

    Returns (the shard checkpoint, ``stored`` semi-joined to its keys);
    the second is None when there is no stored side yet. The probe runs
    one job, the checkpoint; each family pairs and verifies the two
    frames its own way."""
    n = Observation()
    mat = shard.observe(n, F.count(F.lit(1)).alias("n")).localCheckpoint()
    if stored is None:
        return mat, None
    probe_keys = mat.select(*keys)
    if n.get["n"] <= _NEEDS_BROADCAST_MAX:
        probe_keys = F.broadcast(probe_keys)
    return mat, stored.join(probe_keys, keys, "left_semi")


def rare_postings(
    rows: DataFrame, keys: list[str], cap: int, by_window: bool = False
) -> DataFrame:
    """THE df cap of every near-dup family: the posting ``rows`` whose
    ``keys`` bucket holds at most ``cap`` rows, so a bucket self-join
    pairs at most cap² candidates by construction. The count is a
    group-by (partial aggregation never buffers a bucket, so a hot
    bucket costs nothing to drop), or with ``by_window`` a window over
    the bucket: one exchange fewer, which a join on the same keys
    reuses, but the window buffers each bucket whole, so use it only on
    shard-sized rows (a probe's pruned postings: pruning keeps every
    posting of a touched bucket, so its df is unchanged)."""
    if by_window:
        df = F.count(F.lit(1)).over(Window.partitionBy(*keys))
        return rows.withColumn("_df", df).filter(F.col("_df") <= cap).drop("_df")
    rare = (
        rows.groupBy(*keys)
        .agg(F.count("*").alias("_df"))
        .filter(F.col("_df") <= cap)
        .select(*keys)
    )
    return rows.join(rare, keys, "left_semi")


def containment_pairs(
    grams: DataFrame, capped: bool = True, df_cap: int | None = None
) -> DataFrame:
    """Shared containment-pair builder over a distinct ``(doc_id, lang,
    gram)`` inventory — THE implementation behind the whole containment
    family (q_dedup_containment, q_dedup_containment_blocked, the
    q_dedup_containment_capped certificate, and q_training_mix_v2
    stage 2 all call this, so the pair semantics cannot drift apart).
    containment = |a∩b| / min(|a|,|b|), FLOOR(x·1e6 + 0.5)/1e6 rounded,
    thresholded at CONTAINMENT_THRESHOLD on the rounded value.

    ``capped=True`` (the DEFAULT — the production blocking tier): the
    candidate join runs only over grams with document frequency
    ≤ ``df_cap`` (default DF_CAP), so every per-gram candidate bucket
    is capped at df_cap² by construction — the Σ_gram df² blow-up a
    saturated high-df gram causes (measured corpus-QUADRATIC in
    scripts/measure_containment_scaling.py) cannot happen. The
    candidate aggregate counts the shared-RARE-gram intersection as it
    groups; pairs whose BOTH docs hold only rare grams publish that
    count directly (it IS the full intersection), and only pairs
    touching a hot (df > cap) gram take the full-inventory VERIFY
    recount (candidate-then-verify, the q_dedup_prefix_filter
    topology) — so published containment values are exact everywhere;
    the recount's posting tables are pruned to the needs-pair docs via
    broadcast semi-joins, so an idle cap costs zero posting
    shuffle and an engaged one shuffles only the hot-pair docs' grams.
    The cap is NOT recall-free in general: a true pair
    whose shared grams ALL have df > df_cap posts no candidate — at
    corpus scale that regime is real (a dup cluster of k near-identical
    docs pushes every shared gram to df ≥ k), which is why the default
    sits well above typical cluster sizes (DF_CAP's note), identical
    docs should be collapsed by the exact-hash tier (q_dedup_exact /
    q_training_mix stage 3) BEFORE this tier, and the loss is pinned 0
    on the driver datasets by q_dedup_containment_capped's oracle
    (``capped_missed_true_pairs``) so a blocking-recall regression reds
    the driver rather than silently dropping duplicates.

    ``capped=False``: the uncapped inverted-index join — the
    ground-truth tier (exact-Levenshtein analog): complete by
    construction (containment ≥ t > 0 ⇒ ≥ 1 shared gram) but
    corpus-quadratic in saturated-gram regimes; run it to certify the
    capped tier, not as the 100 TB plan.

    Returns (doc_a, doc_b, lang, sz_a, sz_b, containment)."""
    t = CONTAINMENT_THRESHOLD
    cap = DF_CAP if df_cap is None else df_cap
    sized = grams.withColumn(
        "sz", F.count("*").over(Window.partitionBy("doc_id"))
    ).localCheckpoint()

    def rounded(inter, sz_a: str = "sz_a", sz_b: str = "sz_b"):
        return F.floor(inter / F.least(F.col(sz_a), F.col(sz_b)) * 1e6 + F.lit(0.5)) / 1e6

    def pair_groups(g: DataFrame):
        """Same-lang pairs sharing a gram of ``g``, grouped per pair."""
        a, b = g.alias("a"), g.alias("b")
        return a.join(
            b,
            (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.gram") == F.col("b.gram"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        ).groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.lang").alias("lang"),
            F.col("a.sz").alias("sz_a"),
            F.col("b.sz").alias("sz_b"),
        )

    if capped:
        blocked = rare_postings(sized, ["lang", "gram"], cap)
        # the candidate aggregate ALSO counts the rare-gram intersection
        # (one row per shared rare gram by distinctness of the gram
        # inventory) — for a pair whose BOTH docs hold only rare grams
        # that count IS the full intersection, so verify is skipped for
        # it (at driver scale no gram exceeds the cluster-sized
        # cap, making the whole verify join empty; at 100 TB only pairs
        # touching a hot gram pay it)
        cand = (
            pair_groups(blocked)
            .agg(F.count("*").alias("rare_inter"))
            .localCheckpoint()  # reused by the clean/verify splits
        )
        # docs carrying at least one hot (df > cap) gram — only their
        # pairs need the full-inventory recount. A doc in a candidate
        # pair has blocked postings; it is hot iff it has fewer of them
        # than grams
        hot = (
            blocked.groupBy("doc_id", "sz")
            .agg(F.count("*").alias("n_rare"))
            .filter(F.col("n_rare") < F.col("sz"))
            .select("doc_id")
        )
        clean = cand.join(
            hot.select(F.col("doc_id").alias("doc_a")), "doc_a", "left_anti"
        ).join(
            hot.select(F.col("doc_id").alias("doc_b")), "doc_b", "left_anti"
        )
        exact_clean = clean.select(
            "doc_a",
            "doc_b",
            "lang",
            "sz_a",
            "sz_b",
            rounded(F.col("rare_inter")).alias("containment"),
        )
        # checkpointed: consumed by the verify probe AND both broadcast
        # prune sides — without the pin each broadcast subtree would
        # replay the anti-join chain (and its shuffles) independently.
        # Bounded: ⊆ cand, and empty whenever the cap never engaged. The
        # checkpoint observes its row count for the broadcast gate below.
        n_needs = Observation()
        needs = (
            cand.join(
                clean.select("doc_a", "doc_b"), ["doc_a", "doc_b"], "left_anti"
            )
            .drop("rare_inter")
            .observe(n_needs, F.count(F.lit(1)).alias("n"))
            .localCheckpoint()
        )
        # prune the full-inventory recount to the docs that actually
        # need it via semi-joins on the needs-pair ids BEFORE the
        # posting tables enter the join — without this the recount
        # shuffles the ENTIRE posting inventory even when zero pairs
        # touch a hot gram. Hot-pair docs are usually ≪ corpus (by
        # construction: docs sharing a hotter-than-cap gram with a
        # candidate partner), so the id sets broadcast — but an explicit
        # F.broadcast hint does NOT degrade at runtime: a dup-heavy
        # corpus whose needs set outgrew the driver would fail the job
        # outright, so the hint is size-gated on the needs row count the
        # checkpoint observed and falls back to the shuffle semi-join plan
        # above the gate.
        # no .distinct() on the broadcast sides: the semi join dedups,
        # and a distinct here would cost a shuffle each
        ids_a = needs.select(F.col("doc_a").alias("doc_id"))
        ids_b = needs.select(F.col("doc_b").alias("doc_id"))
        if n_needs.get["n"] <= _NEEDS_BROADCAST_MAX:
            ids_a, ids_b = F.broadcast(ids_a), F.broadcast(ids_b)
        ga = sized.join(ids_a, "doc_id", "left_semi").select(
            F.col("doc_id").alias("doc_a"), "gram"
        )
        gb = sized.join(ids_b, "doc_id", "left_semi").select(
            F.col("doc_id").alias("doc_b"), "gram"
        )
        verified = (
            needs.join(ga, "doc_a")
            .join(gb, ["doc_b", "gram"])
            .groupBy("doc_a", "doc_b", "lang", "sz_a", "sz_b")
            .agg(rounded(F.count("*")).alias("containment"))
        )
        return exact_clean.unionByName(verified).filter(
            F.col("containment") >= F.lit(t)
        )
    return (
        pair_groups(sized)
        .agg(rounded(F.count("*"), "a.sz", "b.sz").alias("containment"))
        .filter(F.col("containment") >= F.lit(t))
    )


def q_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT 3-gram CONTAINMENT pairs — the subset-duplicate detector
    Jaccard structurally misses: containment = |a∩b| / min(|a|,|b|)
    (Broder 1997's resemblance/containment split). A 100-gram doc fully
    embedded in a 10,000-gram doc has J ≈ 0.01 (invisible to every
    Jaccard tier) but containment 1.0 — the quote-page / boilerplate-
    plus-article / excerpt-republication shape web corpora are full of.

    GROUND-TRUTH TIER (the exact-Levenshtein analog): the uncapped
    inverted-index join is complete by construction but its candidate
    volume is Σ_gram df² — measured corpus-QUADRATIC in saturated-gram
    regimes (scripts/measure_containment_scaling.py: 4.11× pairs for
    2× docs), so on a 100 TB corpus one high-df boilerplate gram makes
    a C(df,2) bucket that never finishes. The production default is
    ``q_dedup_containment_blocked`` — same pair set (recall pinned 0 by
    q_dedup_containment_capped), df-capped candidate buckets — exactly
    as q_dedup_levenshtein defers to its _bounded twin. Keep this form
    for certifying the blocked tier on samples."""
    return containment_pairs(
        _docs_with_gram_rows(spread(load_table(spark, sf_dir, "documents"))),
        capped=False,
    ).select("doc_a", "doc_b", "lang", "containment")


def q_dedup_containment_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The containment family's PRODUCTION DEFAULT: df≤DF_CAP-capped
    candidate blocking + full-inventory verify (see
    ``containment_pairs``; the q_dedup_prefix_filter candidate-then-
    verify topology). Oracled by the SAME exact-pair SQL as
    q_dedup_containment — on the driver datasets the cap loses nothing
    (q_dedup_containment_capped pins ``capped_missed_true_pairs`` = 0),
    so the driver value-checks both that the blocked plan finds every
    true pair and that its verified containment values are exact. The
    cap's general miss mode (a true pair whose shared grams all have
    df > DF_CAP — dup clusters larger than the cap) is documented on
    the builder; run the exact-hash tier first and size DF_CAP above
    expected cluster fan-out.

    Scale: every candidate bucket is ≤ DF_CAP² rows by construction —
    the Σ_gram df² quadratic of the ground-truth tier cannot occur; the
    price is one df aggregate + a semi-join + the verify join, all
    equi-joins on (lang, gram) / (doc, gram). The verify recount is
    pruned to the needs-pair docs via broadcast semi-joins before the
    posting tables enter the join (see ``containment_pairs``) — an
    empty hot set costs zero posting shuffle; that broadcast hint is
    size-gated (_NEEDS_BROADCAST_MAX) so an oversized needs set falls
    back to the shuffle plan instead of failing the job. This is
    the plan you run at 100×."""
    return containment_pairs(
        _docs_with_gram_rows(spread(load_table(spark, sf_dir, "documents"))),
        capped=True,
    ).select("doc_a", "doc_b", "lang", "containment")


#: document-frequency ceiling for containment candidate blocking: only
#: grams with df ≤ DF_CAP post candidates (the skew lever both gram-join
#: docstrings reference — this id makes it real and driver-certified).
#: Sized WELL ABOVE typical near-dup cluster fan-out (at
#: df_cap=2 any dup cluster of 3+ docs pushes every shared gram past the
#: cap and the pair posts no candidate) while still bounding every
#: per-gram candidate bucket at DF_CAP² = 4096 rows — the Σdf² quadratic
#: stays closed. Clusters larger than this belong to the exact-hash tier
#: (identical docs) or the LSH tiers; `containment_pairs` takes a
#: per-call ``df_cap`` override for corpora with fatter clusters.
DF_CAP = 64


def q_dedup_containment_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-checked certificate for the HIGH-DF-GRAM CAP — the
    blocking tier ``q_dedup_containment_blocked`` and q_training_mix_v2
    stage 2 run BY DEFAULT (and the skew mitigation
    q_dedup_ngram_jaccard documents for 100 TB: frequent grams fatten
    Σdf² candidate buckets and carry no similarity signal; see
    `scripts/measure_containment_scaling.py`: the saturated-gram fixture
    regime grows candidates corpus-QUADRATICALLY). Blocking only on
    grams with df ≤ DF_CAP breaks exactly those buckets; the price is
    possible recall loss (a true pair whose shared grams are all
    frequent posts no candidate). This certificate publishes the
    trade-off and pins the loss, blocker_recall-style — rows
    ``(check_name, value)``:

    - ``exact_pairs``: the full unpruned containment pair count,
      RECOMPUTED by the oracle from raw text (anchors the certificate).
    - ``capped_missed_true_pairs``: exact pairs with NO df≤cap shared
      gram — **pinned 0 in the oracle**: on the driver's fixed
      datasets the cap is currently lossless, so any blocking-recall
      regression (cap too tight after a data or tokenizer change)
      turns the driver red instead of silently dropping duplicates.
    - ``candidate_pairs_full`` / ``candidate_pairs_capped``: distinct
      sharing pairs with and without the cap — the measured candidate
      cut (~25% at driver scales, far larger in skewed corpora where
      it matters; both recomputed by the oracle).

    Scale: the capped candidate build is the production path — df
    aggregate + semi-join keeps only rare-gram postings, so the
    self-join's per-bucket cost is capped at DF_CAP² by construction."""
    grams = _docs_with_gram_rows(
        spread(load_table(spark, sf_dir, "documents"))
    ).localCheckpoint()
    gr = rare_postings(grams, ["lang", "gram"], DF_CAP)

    def _pairs(g: DataFrame) -> DataFrame:
        a, b = g.alias("a"), g.alias("b")
        return (
            a.join(
                b,
                (F.col("a.lang") == F.col("b.lang"))
                & (F.col("a.gram") == F.col("b.gram"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            .select(
                F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"),
            )
            .distinct()
        )

    cand_full = _pairs(grams).count()
    cand_capped_df = _pairs(gr).localCheckpoint()
    cand_capped = cand_capped_df.count()
    exact = q_dedup_containment(spark, sf_dir).select("doc_a", "doc_b")
    exact_n = exact.count()
    missed = exact.join(
        cand_capped_df, ["doc_a", "doc_b"], "left_anti"
    ).count()
    rows = [
        ("exact_pairs", exact_n),
        ("capped_missed_true_pairs", missed),
        ("candidate_pairs_full", cand_full),
        ("candidate_pairs_capped", cand_capped),
    ]
    return spark.createDataFrame(rows, "check_name string, value long")


def q_dedup_prefix_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same exact-Jaccard pair set as ``q_dedup_ngram_jaccard``
    (same oracle — two independent Spark plans against one DuckDB
    formulation) computed with PPJoin-style PREFIX FILTERING (Chaudhuri
    et al. ICDE'06; Xiao et al. WWW'08): instead of indexing EVERY gram
    of every document, each document posts only its p = |d| − ⌈t·|d|⌉ + 1
    rarest grams (global ascending-document-frequency order, ties broken
    by gram text for determinism), and candidates are prefix⋈prefix on
    (lang, gram). Lossless by the prefix lemma: J(a,b) ≥ t implies
    |a∩b| ≥ t·max(|a|,|b|), and if the smallest shared gram (in the
    global order) escaped either document's prefix, that document could
    hold at most ⌈t·|d|⌉ − 1 < t·|d| shared grams — contradiction; so
    every qualifying pair shares a PREFIX gram and survives to the
    verify stage, which recounts the full intersection exactly.

    Scale shape vs the full inverted index: candidate volume drops from
    Σ_gram df² to Σ_prefix-gram df_p² where the prefix keeps only the
    (1−t)-fraction RAREST grams of each doc — precisely the grams with
    the smallest df — so the frequent-gram buckets that dominate the
    df² sum (the skew hazard flagged on q_dedup_ngram_jaccard) never
    enter the join at all. The price is one extra df aggregate + a
    per-doc rank window + a candidate-verify join — the same
    candidate-then-verify topology as the bounded dedup tier. Measured
    at sf0.1: see SURVEY §6."""
    t = JACCARD_THRESHOLD
    grams = (
        _docs_with_gram_rows(spread(load_table(spark, sf_dir, "documents")))
        .withColumn("sz", F.count("*").over(Window.partitionBy("doc_id")))
        .localCheckpoint()
    )
    df_tbl = grams.groupBy("lang", "gram").agg(F.count("*").alias("df"))
    ranked = grams.join(df_tbl, ["lang", "gram"]).withColumn(
        "pos",
        F.row_number().over(
            Window.partitionBy("doc_id").orderBy("df", "gram")
        ),
    )
    prefix = ranked.filter(
        F.col("pos")
        <= F.col("sz") - F.ceil(F.col("sz") * F.lit(t)) + F.lit(1)
    )
    a, b = prefix.alias("a"), prefix.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.gram") == F.col("b.gram"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (F.col("a.sz") >= F.col("b.sz") * F.lit(t))
            & (F.col("b.sz") >= F.col("a.sz") * F.lit(t)),
        )
        # two shared prefix grams emit the pair twice; dedup before the
        # verify join or the intersection counts double
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.lang").alias("lang"),
            F.col("a.sz").alias("sz_a"),
            F.col("b.sz").alias("sz_b"),
        )
        .agg(F.lit(1).alias("_one"))
        .drop("_one")
    )
    ga = grams.select(F.col("doc_id").alias("doc_a"), "gram")
    gb = grams.select(F.col("doc_id").alias("doc_b"), "gram")
    inter = F.count("*")
    union = F.col("sz_a") + F.col("sz_b") - inter
    return (
        cand.join(ga, "doc_a")
        .join(gb, ["doc_b", "gram"])
        .groupBy("doc_a", "doc_b", "lang", "sz_a", "sz_b")
        .agg(F.round(inter / union, 6).alias("jaccard"))
        .filter(F.col("jaccard") >= F.lit(t))
        .select("doc_a", "doc_b", "lang", "jaccard")
    )


# --- X2b: SimHash -----------------------------------------------------------

SIMHASH_BITS = 64
HAMMING_MAX = 6


def simhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit SimHash per document: bit b of the signature is set iff
    more than half the doc's DISTINCT token hashes have bit b set
    (identical to the ±1-vote-sum formulation, sum > 0 ⟺ 2·count > n).
    Routes through the shared token-hash base and the vectorized vote
    kernel — see ``_simhash_signatures_from_token_hashes``."""
    return _simhash_signatures_from_token_hashes(
        _docs_with_token_hashes(spread(load_table(spark, sf_dir, "documents")))
    )


def _simhash_signatures_from_token_hashes(base: DataFrame) -> DataFrame:
    """SimHash signatures from the shared ``_docs_with_token_hashes``
    base, as an Arrow-batched ``mapInPandas`` over the per-doc hash
    arrays: np.unique per doc (the distinct-token vote set, same as the
    string path short of an intra-doc xxhash64 collision, ~2^-64), a
    64-column bit matrix summed per doc, majority vote per bit.

    Why Python here when the repo doctrine is JVM-first: this REPLACES
    a packed-lane JVM vote aggregate (22 lane-structured longs
    summed per doc, itself ~10× over the naive HOF form) after
    measuring the Arrow kernel BIT-IDENTICAL on the sf0.1 corpus and
    5.5× faster warm (0.46 s vs 2.56 s) — ~64 numpy C ops per doc on a
    distinct-hash matrix beat whole-stage codegen's per-lane
    shift/mask chains. It is also strictly better in plan shape: one
    row per doc rides its scan partition through Arrow with ZERO
    exchange, where the aggregate paid a doc_id shuffle of packed
    partial rows. At 100 TB the blocker signature is scan-adjacent.
    Docs with no tokens vanish, matching the old explode behavior."""
    import numpy as np
    import pandas as pd

    def sim_batches(batches):
        shifts = np.arange(64, dtype=np.uint64)
        for pdf in batches:
            ids, langs, sigs = [], [], []
            for doc_id, lang, th in zip(pdf.doc_id, pdf.lang, pdf.th64):
                h = np.unique(
                    np.asarray(th, dtype=np.int64).view(np.uint64)
                )
                n = len(h)
                if n == 0:
                    continue
                votes = ((h[:, None] >> shifts) & np.uint64(1)).sum(axis=0)
                sig = int(
                    np.sum(
                        (votes * 2 > n).astype(np.uint64) << shifts,
                        dtype=np.uint64,
                    )
                )
                ids.append(doc_id)
                langs.append(lang)
                # explicit two's-complement wrap to LongType range
                sigs.append(sig - (1 << 64) if sig >= (1 << 63) else sig)
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "lang": pd.Series(langs, dtype="object"),
                    "simhash": pd.Series(sigs, dtype="int64"),
                }
            )

    return base.mapInPandas(
        sim_batches, "doc_id long, lang string, simhash long"
    )


_SIMHASH_CHUNKS = HAMMING_MAX + 1  # pigeonhole: ≤6 differing bits over 7 chunks


def _chunk_layout() -> list[tuple[int, int, int]]:
    """(chunk_idx, bit_offset, width) for the HAMMING_MAX+1 disjoint chunks."""
    widths = [SIMHASH_BITS // _SIMHASH_CHUNKS] * _SIMHASH_CHUNKS
    for i in range(SIMHASH_BITS % _SIMHASH_CHUNKS):
        widths[i] += 1
    layout, off = [], 0
    for idx, w in enumerate(widths):
        layout.append((idx, off, w))
        off += w
    return layout


def _simhash_chunks(sig):
    """Split the 64-bit signature into HAMMING_MAX+1 disjoint bit chunks.
    Pigeonhole: two signatures within Hamming distance HAMMING_MAX must
    agree EXACTLY on at least one chunk — so a chunk-equality join has
    100% recall for the ≤HAMMING_MAX band, no all-pairs blow-up."""
    return F.array(
        *[
            F.struct(
                F.lit(idx).alias("chunk_idx"),
                F.shiftright(sig, off)
                .bitwiseAND(F.lit((1 << w) - 1))
                .alias("chunk_val"),
            )
            for idx, off, w in _chunk_layout()
        ]
    )


def _first_agreeing_chunk(xor_col):
    """Index of the lowest chunk on which two signatures agree, computed
    from their XOR (chunk j agrees ⟺ its bits in the XOR are all zero)."""
    expr = F.lit(-1)
    for idx, off, w in reversed(_chunk_layout()):
        agrees = F.shiftright(xor_col, off).bitwiseAND(F.lit((1 << w) - 1)) == 0
        expr = F.when(agrees, F.lit(idx)).otherwise(expr)
    return expr


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs: same-lang pairs with Hamming(sig_a, sig_b)
    ≤ 6, found by PIGEONHOLE BLOCKING — the signature is split into 7
    disjoint chunks and candidate pairs come from an equi-join on
    (lang, chunk_idx, chunk_val); any pair within distance 6 shares a
    chunk, so recall is exact while the join never goes all-pairs (the
    lang-only self-join it replaces was O(n²/|langs|)). The full signature
    rides along with each exploded chunk row, so verification is a column
    expression, not another join — and so is de-duplication: a near-dup
    pair agrees on MANY chunks and would surface once per agreeing chunk,
    but keeping only the row whose chunk_idx is the pair's FIRST agreeing
    chunk (computed from the XOR already in hand) emits each pair exactly
    once as a codegen filter, where a .distinct() would shuffle the
    ~chunk-count-inflated candidate stream. Rows-only check (xxhash64 has
    no DuckDB twin); unit tests pin identical docs → distance 0 and
    token-disjoint docs → large distance."""
    return simhash_pairs(simhash_signatures(spark, sf_dir))


def simhash_pairs(sigs: DataFrame) -> DataFrame:
    """(doc_id, lang, simhash) → (doc_a, doc_b, hamming ≤ HAMMING_MAX)
    via the pigeonhole chunk join described in ``q_dedup_simhash``."""
    banded = sigs.select(
        "doc_id",
        "lang",
        "simhash",
        F.explode(_simhash_chunks(F.col("simhash"))).alias("c"),
    ).select("doc_id", "lang", "simhash", "c.chunk_idx", "c.chunk_val")
    a, b = banded.alias("a"), banded.alias("b")
    x = F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
    return (
        a.join(
            b,
            (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.chunk_idx") == F.col("b.chunk_idx"))
            & (F.col("a.chunk_val") == F.col("b.chunk_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (F.col("a.chunk_idx") == _first_agreeing_chunk(x)),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.bit_count(x).alias("hamming"),
        )
        .filter(F.col("hamming") <= HAMMING_MAX)
    )


# --- X2c: MinHash + LSH banding --------------------------------------------

MINHASH_K = 16  # signature length
LSH_BANDS = 4  # 4 bands x 4 rows → catches jaccard ≳ 0.5 with high prob
JACCARD_THRESHOLD = 0.5


# Universal-hash family over a Mersenne prime: h_i(x) = (a_i*x + b_i) mod P.
# a_i odd and < P, x < P → the product stays < 2^62, so LongType arithmetic
# never overflows (Spark 4 runs ANSI mode: long overflow would THROW, not
# wrap — the modular family is what makes k hashes safe AND cheap).
_HASH_AB = [
    (((s * 0x9E3779B1) % _MERSENNE_P) | 1, (s * 0x85EBCA77 + 17) % _MERSENNE_P)
    for s in range(1, MINHASH_K + 1)
]


def minhash_signatures(docs_with_hashed_shingles: DataFrame) -> DataFrame:
    """k min-hashes per doc: explode the integer shingles
    (``_docs_with_hashed_shingles``), then ONE hash aggregate per doc
    taking min((a_i*s + b_i) mod P) for each of the k slots.

    Plan shape: each slot is plain JVM codegen arithmetic inside a single
    partial+final aggregate — the map side pre-combines to one k-long row
    per (doc, mapper) before the doc_id exchange, so the shuffle carries
    ~one row per document regardless of shingle count. This replaces a
    narrow transform+array_min formulation whose k higher-order functions
    are interpreted per element (measured ~20× slower at sf0.1 despite
    shuffling nothing). MinHash is duplicate-insensitive (min over a
    multiset = min over its set), so exploding pre-distincted arrays
    changes nothing. Docs with no shingles (< n tokens) vanish on explode,
    matching the old isNotNull filter.

    No lang column: the LSH path is deliberately NOT lang-blocked (bucket
    membership is the blocking key)."""
    ex = docs_with_hashed_shingles.select("doc_id", F.explode("sh").alias("s"))
    mins = [
        F.min(F.pmod(F.col("s") * F.lit(a) + F.lit(b), F.lit(_MERSENNE_P))).alias(
            f"mh{i}"
        )
        for i, (a, b) in enumerate(_HASH_AB)
    ]
    return ex.groupBy("doc_id").agg(*mins)


#: the bucket key of an LSH band row
LSH_BAND_KEYS = ["band_idx", "band_hash"]


def _lsh_banded(sigs: DataFrame) -> DataFrame:
    """Signature table → exploded (doc_id, band_idx, band_hash) bucket rows.
    Band hashes are 64-bit (xxhash64 of the band's minhash slots), so the
    bucket space never saturates with corpus growth — what makes these rows
    usable both for the self-join (``lsh_candidates``) and as the probe key
    of the incremental shard-vs-corpus path."""
    rows_per_band = MINHASH_K // LSH_BANDS
    bands = F.array(
        *[
            F.struct(
                F.lit(j).alias("band_idx"),
                F.xxhash64(
                    *[F.col(f"mh{j * rows_per_band + r}") for r in range(rows_per_band)]
                ).alias("band_hash"),
            )
            for j in range(LSH_BANDS)
        ]
    )
    return sigs.select("doc_id", F.explode(bands).alias("b")).select(
        "doc_id", "b.band_idx", "b.band_hash"
    )


#: df ceiling for a (band_idx, band_hash) LSH bucket over DISTINCT
#: signatures: a band value shared by more than this many distinct
#: signatures posts no tier-2 candidates (its bucket would be C(df,2)), so every candidate
#: bucket is ≤ LSH_BAND_DF_CAP² by construction — the perceptual tier's
#: BAND_DF_CAP discipline (multimodal.py) applied to text. The cap acts
#: on DISTINCT signatures: exact-dup floods (boilerplate, mirrors)
#: collapse to ONE distinct signature in tier 1 before banding, so they
#: never inflate band df at all. Sized above the fixtures' max observed
#: distinct-signature band df (4 / 3 / 13 at sf0.001/0.01/0.1), so the
#: cap is currently lossless on driver data, pinned by
#: q_dedup_blocker_recall's missed-pair row and exercised in cap-miss
#: mode by q_dedup_lsh_mechanism_cap.
LSH_BAND_DF_CAP = 64


def _sig_tagged(sigs: DataFrame) -> DataFrame:
    """Signature table + ``rep`` = the smallest doc_id sharing the FULL
    k-slot minhash signature — the exact-dup set-collapse (the video
    tier's distinct-fingerprint pattern, multimodal.py). Grouping is on
    the signature tuple itself (no derived group hash), so two docs are
    collapsed ONLY when their signatures are bit-identical — a derived
    64-bit group key could collide two distinct signatures and silently
    drop their band rows (a recall hazard the full-tuple key can't have)."""
    mh_cols = [f"mh{i}" for i in range(MINHASH_K)]
    w = Window.partitionBy(*mh_cols)
    return sigs.select("doc_id", *mh_cols, F.min("doc_id").over(w).alias("rep"))


def lsh_candidates(sigs: DataFrame, band_df_cap: int | None = None) -> DataFrame:
    """Banded LSH candidate pairs, in the two-tier scale form:

    1. **Identical signatures**: docs sharing the full k-slot signature
       (exact-dup populations — identical shingle sets always collide on
       every slot) pair directly via the rep tag. Their pair set IS the
       output for a pairs contract — and they contribute ONE row per
       signature to banding instead of m rows, so a mirror flood of m
       copies no longer posts m²/2 rows into EVERY band bucket.
    2. **Distinct signatures**: band the one-row-per-signature rep table,
       drop (band_idx, band_hash) buckets hotter than ``band_df_cap``
       (default LSH_BAND_DF_CAP — every surviving bucket ≤ cap² by
       construction), bucket-equi-join, then expand rep pairs back to
       member doc pairs through two rep-keyed joins (output-bound).

    Uncapped, the union is EXACTLY the old single-join candidate set
    (band hashes are a function of the signature, so members collide iff
    their reps do); the cap only drops residual near-collisions between
    distinct signatures, and is sized lossless on driver data (see
    LSH_BAND_DF_CAP). Downstream always verifies candidates with exact
    Jaccard, so tier-1's (astronomically unlikely) minhash-collision
    false positives cost a verify row, never a wrong pair."""
    cap = LSH_BAND_DF_CAP if band_df_cap is None else band_df_cap
    # one window shuffle tags members with reps; materialized because the
    # tag table feeds tier 1 (both sides) and the tier-2 expansion joins
    tagged = _sig_tagged(sigs).localCheckpoint()
    same = (
        tagged.alias("a")
        .join(
            tagged.alias("b"),
            (F.col("a.rep") == F.col("b.rep"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
    )
    reps = tagged.filter(F.col("doc_id") == F.col("rep")).drop("rep")
    rb = rare_postings(_lsh_banded(reps), LSH_BAND_KEYS, cap)
    rep_pairs = (
        rb.alias("a")
        .join(
            rb.alias("b"),
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("rep_a"), F.col("b.doc_id").alias("rep_b"))
        .distinct()
    )
    ma = tagged.select(F.col("doc_id").alias("da"), F.col("rep").alias("rep_a"))
    mb = tagged.select(F.col("doc_id").alias("db"), F.col("rep").alias("rep_b"))
    cross = (
        rep_pairs.join(ma, "rep_a")
        .join(mb, "rep_b")
        .select(
            F.least("da", "db").alias("doc_a"),
            F.greatest("da", "db").alias("doc_b"),
        )
    )
    # tiers are disjoint (same rep vs different reps) and each is distinct
    # by construction — no global distinct shuffle needed
    return same.unionByName(cross)


def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH dedup: candidates from band buckets, then exact-Jaccard
    verification of ONLY the candidates. Rows-only check (probabilistic
    recall); precision is exact because of the verification join — every
    returned pair genuinely clears the threshold, which the unit test
    cross-checks against q_dedup_ngram_jaccard's exact output."""
    # materialize the shingle table ONCE: it feeds the signature aggregate
    # and BOTH sides of the verification join, and recomputing the rolling
    # n-gram hash three times costs more than storing k longs per token.
    # The signatures are materialized too — the band self-join consumes
    # them twice, and unmaterialized it would redo the k-min aggregation
    # per side (measured 4x slower at sf0.1). localCheckpoint rather than
    # persist(): a persist with no owner to unpersist it accumulates in
    # the cache manager across invocations (every later run silently
    # measures a cache hit); checkpointed blocks are GC'd with the
    # DataFrame and never match future plans.
    docs = _docs_with_hashed_shingles(
        spread(load_table(spark, sf_dir, "documents"))
    ).localCheckpoint()
    return minhash_verified_pairs(docs)


def minhash_verified_pairs(
    docs: DataFrame, cands: DataFrame | None = None
) -> DataFrame:
    """The candidate→verify body of q_dedup_minhash over a PREPARED
    (ideally checkpointed) shingle table — exposed so the blocker-recall
    certificate can reuse one shingle/signature build for both its
    candidate check and the verified output instead of recomputing the
    heaviest dedup stages twice. ``cands`` short-circuits candidate
    generation when the caller already has the banded pair set."""
    if cands is None:
        cands = lsh_candidates(minhash_signatures(docs).localCheckpoint())
    a = docs.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    b = docs.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    return (
        cands.join(a, "doc_a")
        .join(b, "doc_b")
        .select("doc_a", "doc_b", jaccard("sh_a", "sh_b").alias("jaccard"))
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
    )


def jaccard(sh_a: str, sh_b: str):
    """Exact Jaccard of two shingle-array columns, ROUND(…, 6) before any
    threshold — the one edge definition shared with
    q_dedup_ngram_jaccard and the oracles' pair CTEs. An empty union
    (SimHash can pair sub-3-token docs, whose shingle sets are empty)
    scores 0.0 instead of dividing 0 by 0."""
    inter = F.size(F.array_intersect(F.col(sh_a), F.col(sh_b)))
    union = F.size(F.col(sh_a)) + F.size(F.col(sh_b)) - inter
    return F.when(
        union > 0, F.round(inter.cast("double") / union.cast("double"), 6)
    ).otherwise(F.lit(0.0))


def jaccard_verified(
    cands: DataFrame,
    a_docs: DataFrame,
    b_docs: DataFrame,
    b_tag: str | None = None,
) -> DataFrame:
    """The verify step of every text near-dup tier: (doc_a, doc_b)
    candidate pairs → the pairs whose docs share a language and clear
    ``JACCARD_THRESHOLD``. ``a_docs``/``b_docs`` are the (doc_id, lang,
    sh) shingle frames that ``doc_a``/``doc_b`` are looked up in; a
    broadcast hint on either one carries through to its join. ``b_tag``
    names a column that ``cands`` and ``b_docs`` both carry and the b
    lookup matches too, so one b frame can hold docs from two sources
    that reuse an id."""
    tags = (b_tag,) if b_tag else ()

    def side(docs: DataFrame, s: str, keep: tuple[str, ...] = ()) -> DataFrame:
        return docs.select(
            F.col("doc_id").alias(f"doc_{s}"),
            F.col("lang").alias(f"lang_{s}"),
            F.col("sh").alias(f"sh_{s}"),
            *keep,
        )

    return (
        cands.join(side(a_docs, "a"), "doc_a")
        .join(side(b_docs, "b", tags), ["doc_b", *tags])
        .filter(
            (F.col("lang_a") == F.col("lang_b"))
            & (jaccard("sh_a", "sh_b") >= F.lit(JACCARD_THRESHOLD))
        )
        .select("doc_a", "doc_b")
    )


def q_dedup_blocker_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-checked RECALL CERTIFICATE for the two fuzzy-dedup blockers
    (the q_embed_pca_invariants pattern applied to dedup): xxhash64 has
    no DuckDB twin, so the signatures themselves can never be
    oracle-checked — but the PROPERTIES that make the blockers safe to
    run at 100 TB can be. Four ``(check_name, value)`` rows:

    - ``true_pairs``: count of the exact inverted-index 3-gram Jaccard
      pairs (q_dedup_ngram_jaccard — the oracle RECOMPUTES this from raw
      text, anchoring the certificate to real data).
    - ``minhash_lsh_missed_true_pairs``: true pairs absent from the LSH
      band-bucket candidate set (anti-join). Oracle pins 0 — banding
      losing recall on this corpus reds the driver hash. The
      candidate set is the two-tier capped form (LSH_BAND_DF_CAP),
      so this row also pins the production cap lossless.
    - ``minhash_output_vs_exact_diff``: symmetric difference between
      q_dedup_minhash's verified output pairs and the exact pair set,
      SAME-LANG restricted — certifies precision AND recall of the full
      operator end to end. (The exact ground truth is lang-blocked;
      minhash is not and legitimately also surfaces cross-lang pairs the
      blocked query never considers, so those are out of scope here —
      the same contract test_minhash_precision_against_exact pins.)
    - ``simhash_pigeonhole_vs_bruteforce_diff``: symmetric difference
      between the pigeonhole chunk-join pairs and brute-force Hamming
      over all same-lang signature pairs — the lossless-blocking claim
      (`_simhash_chunks`) checked against its own definition.

    Scale note: the brute-force arm is |sigs|²/|langs| over ONE ROW PER
    DOC (signatures, not data) — the deliberate audit tier, like the
    exact twins of every ANN id; the certified blockers are the forms
    that run on the corpus."""
    true_pairs = (
        q_dedup_ngram_jaccard(spark, sf_dir)
        .select("doc_a", "doc_b")
        .localCheckpoint()
    )
    n_true = true_pairs.count()

    # one shingle/signature build feeds BOTH the candidate check and the
    # verified output (minhash_verified_pairs with cands passed through)
    docs = _docs_with_hashed_shingles(
        spread(load_table(spark, sf_dir, "documents"))
    ).localCheckpoint()
    cands = lsh_candidates(
        minhash_signatures(docs).localCheckpoint()
    ).localCheckpoint()
    missed = true_pairs.join(cands, ["doc_a", "doc_b"], "left_anti").count()

    langs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    la = langs.select(
        F.col("doc_id").alias("doc_a"), F.col("lang").alias("lang_a")
    )
    lb = langs.select(
        F.col("doc_id").alias("doc_b"), F.col("lang").alias("lang_b")
    )
    mh_out = (
        minhash_verified_pairs(docs, cands)
        .select("doc_a", "doc_b")
        .join(F.broadcast(la), "doc_a")
        .join(F.broadcast(lb), "doc_b")
        .filter(F.col("lang_a") == F.col("lang_b"))
        .select("doc_a", "doc_b")
    )
    mh_diff = (
        mh_out.exceptAll(true_pairs).count()
        + true_pairs.exceptAll(mh_out).count()
    )

    sigs = simhash_signatures(spark, sf_dir).localCheckpoint()
    pig = simhash_pairs(sigs).select("doc_a", "doc_b")
    a, b = sigs.alias("a"), sigs.alias("b")
    x = F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
    brute = (
        a.join(
            b,
            (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .filter(F.bit_count(x) <= HAMMING_MAX)
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
    )
    sh_diff = (
        pig.exceptAll(brute).count() + brute.exceptAll(pig).count()
    )

    rows = [
        ("true_pairs", n_true),
        ("minhash_lsh_missed_true_pairs", missed),
        ("minhash_output_vs_exact_diff", mh_diff),
        ("simhash_pigeonhole_vs_bruteforce_diff", sh_diff),
    ]
    return spark.createDataFrame(rows, "check_name string, value long")


#: mechanism cap for the text-LSH pruning-plumbing certificate —
#: deliberately BELOW the fixtures' max distinct-signature band df
#: (4 / 3 at sf0.001/0.01) so the prune branch genuinely engages under
#: the oracle; the production LSH_BAND_DF_CAP sits above every fixture
#: df, where the prune is a no-op end-to-end (the q_dedup_mechanism_cap
#: discipline, multimodal.py)
LSH_MECH_CAP = 2


def q_dedup_lsh_mechanism_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-checked MECHANISM-CAP certificate for the text MinHash-LSH
    blocker (the q_dedup_mechanism_cap pattern applied to the
    LSH_BAND_DF_CAP band-df cap): xxhash64 signatures have no DuckDB
    twin, so — like q_dedup_blocker_recall — the oracle recomputes the
    TRUE pair anchor from raw text and pins every mechanism property as
    a literal, making any drift in the collapse/cap/expand plumbing red
    the driver on values. Rows ``(check_name, value)``:

    - ``true_pairs``: exact 3-gram Jaccard pair count (oracle RECOMPUTES
      from text — anchors the certificate to real data).
    - ``production_cap_missed_true_pairs``: true pairs absent from the
      production-capped candidate set (LSH_BAND_DF_CAP). Pinned 0 — the
      cap losing recall on driver data reds the driver.
    - ``mech_cap_prunes_candidates``: 1 iff candidates at
      LSH_MECH_CAP = 2 are STRICTLY fewer than uncapped — proves the
      df-prune branch actually executes on driver data (production caps
      never bite on fixtures, so only this row exercises the cap-miss
      mode end to end).
    - ``mech_capped_subset_violations``: capped candidates not present in
      the uncapped set (anti-join). Pinned 0 — pruning must only remove.
    - ``tier1_pairs_survive_mech_cap``: identical-signature pairs (the
      exact-dup collapse tier) missing from the capped candidates.
      Pinned 0 — THE two-tier property: an exact-dup flood survives ANY
      band cap because it is paired in tier 1, before banding.
    - ``verified_diff_capped_vs_uncapped``: symmetric difference between
      the verified outputs built from production-capped vs uncapped
      candidates. Pinned 0 — losslessness at the VALUE level, not just
      candidate counts.

    Scale note: this is a CERTIFICATE (it runs the blocker three times
    and the uncapped form once); the production ids run the capped
    builder once."""
    docs = _docs_with_hashed_shingles(
        spread(load_table(spark, sf_dir, "documents"))
    ).localCheckpoint()
    sigs = minhash_signatures(docs).localCheckpoint()
    cands_prod = lsh_candidates(sigs).localCheckpoint()
    cands_unc = lsh_candidates(sigs, band_df_cap=1 << 62).localCheckpoint()
    cands_mech = lsh_candidates(sigs, band_df_cap=LSH_MECH_CAP).localCheckpoint()

    true_pairs = (
        q_dedup_ngram_jaccard(spark, sf_dir)
        .select("doc_a", "doc_b")
        .localCheckpoint()
    )
    keys = ["doc_a", "doc_b"]
    tagged = _sig_tagged(sigs)
    tier1 = (
        tagged.alias("a")
        .join(
            tagged.alias("b"),
            (F.col("a.rep") == F.col("b.rep"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
    )
    vp = minhash_verified_pairs(docs, cands_prod).select(*keys)
    vu = minhash_verified_pairs(docs, cands_unc).select(*keys)
    rows = [
        ("true_pairs", true_pairs.count()),
        (
            "production_cap_missed_true_pairs",
            true_pairs.join(cands_prod, keys, "left_anti").count(),
        ),
        (
            "mech_cap_prunes_candidates",
            1 if cands_mech.count() < cands_unc.count() else 0,
        ),
        (
            "mech_capped_subset_violations",
            cands_mech.join(cands_unc, keys, "left_anti").count(),
        ),
        (
            "tier1_pairs_survive_mech_cap",
            tier1.join(cands_mech, keys, "left_anti").count(),
        ),
        (
            "verified_diff_capped_vs_uncapped",
            vp.exceptAll(vu).count() + vu.exceptAll(vp).count(),
        ),
    ]
    return spark.createDataFrame(rows, "check_name string, value long")


# --- X2d: embedding-cosine near-dup ----------------------------------------

# The driver's synthetic embeddings are near-uniform (max same-label cosine
# ≈ 0.45), so the threshold is set where this data actually has pairs; on a
# real corpus near-dup is 0.9+. The operator is threshold-parametric.
COSINE_THRESHOLD = 0.4


def q_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup: exact cosine ≥ COSINE_THRESHOLD for same-label pairs.
    Label is the blocking key (the ANN-bucket analog). Dot products reuse
    operators.similarity's _dot (zip_with+aggregate) — ONE implementation
    of the arithmetic that is bit-identical to DuckDB's list_dot_product
    (verified empirically); duplicating it would let the two copies drift
    and silently break cross-engine bit-parity."""
    from breweries_case_spark.operators.similarity import (
        _dot,
        _embeddings_double,
    )

    emb = _embeddings_double(spark, sf_dir).withColumn(
        "norm", F.sqrt(_dot(F.col("v"), F.col("v")))
    )
    a, b = emb.alias("a"), emb.alias("b")
    cos = _dot(F.col("a.v"), F.col("b.v")) / (F.col("a.norm") * F.col("b.norm"))
    return (
        a.join(
            b,
            (F.col("a.label") == F.col("b.label"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            F.col("a.label").alias("label"),
            F.round(cos, 6).alias("cosine"),
        )
        .filter(F.col("cosine") >= F.lit(COSINE_THRESHOLD))
    )


# --- X2f: edit-distance (Levenshtein) near-dup ------------------------------

EDIT_DISTANCE_MAX = 20


def q_dedup_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance near-dup: same-lang pairs with Levenshtein ≤ k
    (k = 20), found WITHOUT an all-pairs join. Blocking is lossless:
    lev(a,b) ≤ k forces |len(a) − len(b)| ≤ k, so binning length by k and
    equi-joining (lang, bin) with the a-side exploded to bin−1/bin/bin+1
    covers every qualifying pair exactly once (b's bin is fixed, so a's
    three exploded values hit it at most once — no dedup pass needed).
    The O(len·k) distance itself runs last in the join condition, only on
    pairs that survive the cheap length residual, and uses Spark's
    bounded ``levenshtein(l, r, threshold)`` which abandons rows early
    once the running distance exceeds k (returning −1, filtered here).

    Scale tier: GROUND TRUTH, like the other exact variants — (lang,
    length-bin) has FIXED cardinality, so block density and pair count
    grow quadratically with corpus size (measured 1×/2×/4× sf0.1:
    3.6 s / 15.9 s / 40 s — see SURVEY §6 scaling table). The lossless
    content-blocked alternatives (PassJoin/Ed-Join q-gram count or
    segment filters, VLDB'08/'12) are the production path ONLY when
    k is small relative to string length; at this operator's contract
    (k = 20 on ~300-char texts, q·k ≈ 60 ≥ the typical distinct-3-gram
    count) every such filter is provably vacuous and degenerates to the
    same quadratic. At 100 TB, bound k/len (filters regain power) or use
    the probabilistic tier (simhash/minhash) as the scale path and keep
    this operator for oracle-checked verification of candidates."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "text", F.length("text").alias("len")
    )
    bin_of = F.floor(F.col("len") / F.lit(EDIT_DISTANCE_MAX))
    a = d.select(
        "doc_id",
        "lang",
        "text",
        "len",
        F.explode(F.array(bin_of - 1, bin_of, bin_of + 1)).alias("bin"),
    )
    b = d.select("doc_id", "lang", "text", "len", bin_of.alias("bin"))
    lev = F.levenshtein(F.col("a.text"), F.col("b.text"), EDIT_DISTANCE_MAX)
    return (
        a.alias("a")
        .join(
            b.alias("b"),
            (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.bin") == F.col("b.bin"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (
                F.abs(F.col("a.len") - F.col("b.len"))
                <= F.lit(EDIT_DISTANCE_MAX)
            )
            & (lev >= 0),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.lang").alias("lang"),
            lev.alias("lev"),
        )
    )


SHORT_DOC_MAX_TOKENS = 64  # SimHash tier of the bounded-Levenshtein blocker


def _short_doc_simhash_candidates(base: DataFrame, doc_len: DataFrame) -> DataFrame:
    """SimHash pigeonhole candidates RESTRICTED to the short-doc tail
    (≤ SHORT_DOC_MAX_TOKENS tokens per side), with the bounded-Levenshtein
    length residual |len_a − len_b| ≤ k applied INSIDE the chunk join —
    both are codegen predicates evaluated before any pair row leaves the
    join, so the candidate stream never materializes the template-heavy
    mid-length population that dominates full-corpus SimHash output
    (measured at sf0.1: 158,768 full-corpus hamming ≤ 6 pairs vs 1,880
    short-tier pairs, for the same final 79-row output). The signature
    kernel itself also only runs over the short tail. Max bucket df drops
    with the population, so the chunk join's per-bucket quadratic
    expansion (Σ df² ≈ 6.8 M at sf0.1 uncapped) collapses too."""
    short = base.filter(F.size("th64") <= SHORT_DOC_MAX_TOKENS)
    sigs = _simhash_signatures_from_token_hashes(short).join(doc_len, "doc_id")
    banded = sigs.select(
        "doc_id",
        "lang",
        "simhash",
        "len",
        F.explode(_simhash_chunks(F.col("simhash"))).alias("c"),
    ).select("doc_id", "lang", "simhash", "len", "c.chunk_idx", "c.chunk_val")
    a, b = banded.alias("a"), banded.alias("b")
    x = F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
    return (
        a.join(
            b,
            (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.chunk_idx") == F.col("b.chunk_idx"))
            & (F.col("a.chunk_val") == F.col("b.chunk_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (
                F.abs(F.col("a.len") - F.col("b.len"))
                <= F.lit(EDIT_DISTANCE_MAX)
            )
            & (F.col("a.chunk_idx") == _first_agreeing_chunk(x)),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .filter(F.bit_count(x) <= HAMMING_MAX)
    )


def q_dedup_levenshtein_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance near-dup, SCALE TIER: verify Levenshtein ≤ k only on
    candidate pairs from the probabilistic blockers, instead of the exact
    variant's (lang, length-bin) blocks whose density is corpus-quadratic
    (measured 3.6/15.9/40 s at 1×/2×/4× sf0.1 — SURVEY §6). Candidate
    volume scales with the near-dup rate, not the corpus squared, so this
    is the form that survives a 100× corpus; the exact form remains as
    the oracle-checked ground-truth twin.

    Recall: the two blockers split the corpus by length. MinHash-LSH
    covers long docs (many shingles → low signature variance); the
    SimHash hamming ≤ 6 pigeonhole tier covers ONLY the short-doc tail
    (both sides ≤ SHORT_DOC_MAX_TOKENS = 64 tokens) where few-shingle
    MinHash signatures get noisy — at sf0.1 MinHash alone misses exactly
    one 12-token pair; SimHash catches it. The split is seam-free with
    margin: one character edit changes the token count by at most 1, so
    a true lev ≤ 20 pair differs by ≤ 20 tokens and every pair whose
    shorter doc has ≤ 44 tokens lands entirely inside the SimHash tier,
    while pairs with min ≥ 45 tokens (≥ 43 shingles) sit squarely in
    MinHash's reliable regime. SimHash over the FULL corpus would emit
    158,768 candidates for 79 true pairs at sf0.1 from its hamming ≤ 6
    band on mid-length template docs, and that candidate shuffle +
    bounded verify swings this id's wall time 9.6–25 s. The short tier
    emits 1,880. Both blockers are deterministic (fixed seeds), so
    equality with the exact output is a reproducible test property, not
    a distributional claim; the union is verified equal to the exact
    pairs at sf0.001/0.01/0.1 in tests.
    Precision is exact: every candidate is re-checked with Spark's
    bounded ``levenshtein(l, r, k)`` (early-exit at k, −1 filtered) plus
    the same-lang and length residuals, so the output contract is
    identical to q_dedup_levenshtein.

    Driver-red interpretation: this id is registered against the EXACT
    all-pairs oracle, so a rows/hash mismatch here means BLOCKER RECALL
    LOSS (a qualifying pair that both MinHash-LSH and the short-doc
    SimHash tier missed on a new corpus/SF), not a bug in the bounded
    verify — treat it as a recall metric, re-tune bands/chunks/the tier
    bound rather than debugging the join.

    Both blockers are fed from ONE checkpointed token-hash base
    (``_docs_with_token_hashes``): the corpus is scanned, tokenized and
    64-bit-hashed a single time; MinHash folds the hashes to [0, P) and
    rolls shingles, SimHash votes on the distinct raw values of the
    short tail.

    The MinHash leg runs the two-tier ``lsh_candidates``
    (identical-signature collapse + LSH_BAND_DF_CAP over distinct
    signatures): the cap is lossless on this data (pinned by
    q_dedup_lsh_mechanism_cap), and bucket volume stays bounded on dup
    floods."""
    base = _docs_with_token_hashes(
        spread(load_table(spark, sf_dir, "documents"))
    ).localCheckpoint()
    mh = lsh_candidates(
        minhash_signatures(
            _hashed_shingles_from_token_hashes(base)
        ).localCheckpoint()
    )
    doc_len = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.length("text").alias("len")
    )
    sh = _short_doc_simhash_candidates(base, doc_len)
    cands = mh.union(sh).distinct()
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "text", F.length("text").alias("len")
    )
    a = d.select(
        F.col("doc_id").alias("doc_a"),
        F.col("lang").alias("lang_a"),
        F.col("text").alias("text_a"),
        F.col("len").alias("len_a"),
    )
    b = d.select(
        F.col("doc_id").alias("doc_b"),
        F.col("lang").alias("lang_b"),
        F.col("text").alias("text_b"),
        F.col("len").alias("len_b"),
    )
    lev = F.levenshtein(F.col("text_a"), F.col("text_b"), EDIT_DISTANCE_MAX)
    return (
        cands.join(a, "doc_a")
        .join(b, "doc_b")
        .filter(
            (F.col("lang_a") == F.col("lang_b"))
            & (F.abs(F.col("len_a") - F.col("len_b")) <= F.lit(EDIT_DISTANCE_MAX))
            & (lev >= 0)
        )
        .select(
            "doc_a",
            "doc_b",
            F.col("lang_a").alias("lang"),
            lev.alias("lev"),
        )
    )


# --- X2e: cluster resolution (pairs → components → keeper) ------------------


def connected_components(edges: DataFrame, vertices: DataFrame) -> DataFrame:
    """Connected components of an undirected graph.

    ``edges`` is (u, v) undirected candidate pairs, each pair in either
    or both directions; ``vertices`` is (node). Returns (node, label)
    where label = the component's minimum node id; isolated vertices
    label themselves, and an edge with a null endpoint is no edge.

    The edge list is materialized once, as given, and the same
    materialization observes its row count. The count picks one of two
    tiers, both reading that checkpoint:

    - at most ``_NEEDS_BROADCAST_MAX`` rows (the size gate a broadcast
      join uses): the list is collected as Arrow and labelled on the
      driver by vectorized union-find (``_min_labels``), then handed
      back as a small frame. The maintainers' update graphs are
      O(shard + touched labels) by construction, so they take this tier
      at any corpus size, for two jobs in all.
    - above it: ``connected_components_star``, whose alternating
      large-star/small-star rounds number O(log n) whatever the
      component diameters.
    """
    # materialize ONCE: without it the (possibly expensive) upstream
    # pair-finding plan would re-execute for the gate and again for the
    # tier that reads it
    size = Observation()
    e = (
        edges.select("u", "v")
        .observe(size, F.count(F.lit(1)).alias("n"))
        .localCheckpoint()
    )
    if size.get["n"] > _NEEDS_BROADCAST_MAX:
        return connected_components_star(e, vertices)
    t = e.schema["u"].dataType
    labels = e.sparkSession.createDataFrame(
        _min_labels(e.toArrow()),
        StructType([StructField("node", t), StructField("label", t)]),
    )
    return _total_labels(vertices, labels)


def _total_labels(vertices: DataFrame, labels: DataFrame) -> DataFrame:
    """(node, label) for every vertex: isolated vertices label
    themselves. ``labels`` has one row per edge endpoint — in a near-dup
    graph small next to |V| — so below the gate the join broadcasts it."""
    return vertices.join(labels, "node", "left").select(
        "node", F.coalesce("label", "node").alias("label")
    )


def _min_labels(edges: pa.Table) -> pa.Table:
    """(node, label = component minimum) for every endpoint of the
    undirected Arrow edge list ``edges`` (u, v), by vectorized union-find
    on the driver. Direction does not matter, and rows with a null
    endpoint are no edge.

    Nodes are indexed in sorted order, so a smaller index is a smaller
    id. Every parent pointer points at an index ≤ its own, so each tree's
    root is its minimum. A round compresses every pointer to its root,
    then hooks the larger root of each edge that still joins two trees
    onto the smaller one; each round removes at least one root, and the
    loop stops when no edge crosses trees."""
    edges = edges.drop_null()
    u = edges.column("u").to_numpy()
    v = edges.column("v").to_numpy()
    nodes, idx = np.unique(np.concatenate([u, v]), return_inverse=True)
    a, b = idx[: len(u)], idx[len(u) :]
    parent = np.arange(len(nodes))
    while True:
        while not np.array_equal(hop := parent[parent], parent):
            parent = hop
        ra, rb = parent[a], parent[b]
        cross = ra != rb
        if not cross.any():
            break
        ra, rb = ra[cross], rb[cross]
        np.minimum.at(parent, np.maximum(ra, rb), np.minimum(ra, rb))
    t = edges.schema.field("u").type
    return pa.table(
        {"node": pa.array(nodes, t), "label": pa.array(nodes[parent], t)}
    )


#: row kinds of a ``maintain_clusters`` update graph: a shard id (as a
#: self-loop), a shard item's contact with a stored label, and a
#: verified pair of shard items
_SHARD, _CONTACT, _INTRA = 0, 1, 2


class ClusterUpdate(NamedTuple):
    """One ``maintain_clusters`` result. ``out`` = one row per shard
    item (node, cluster_id, verdict); ``comps`` = (node, label) over the
    update graph's nodes; ``lab_nodes`` = the touched stored labels
    (node); ``remap`` = (label0, newl), where each touched stored label
    moved (``touched_remap``)."""

    out: DataFrame
    comps: DataFrame
    lab_nodes: DataFrame
    remap: DataFrame


def maintain_clusters(
    shard_ids: DataFrame, e_corpus: DataFrame, e_shard: DataFrame
) -> ClusterUpdate:
    """The contraction step every incremental cluster maintainer (text,
    image, video) ends in: assign a new shard to the EXISTING clusters,
    or mint new cluster ids, without recomputing the corpus fixpoint.

    A stored corpus cluster is already connected, so it enters the
    update as ONE node — its label. The update graph is

        nodes = ``shard_ids`` (node, distinct) ∪ the stored labels the
                shard touches
        edges = ``e_corpus`` (u = shard item, v = stored label it was
                verified against) ∪ ``e_shard`` (u, v = verified pairs
                of shard items; a null endpoint is no edge)

    and one min-label components pass over it reproduces the
    full-recompute fixpoint restricted to shard-touched components:
    stored labels are their clusters' minima, and every combined-graph
    path between corpus items crosses the shard only through verified
    shard↔corpus edges (corpus↔corpus edges are already inside the
    stored clusters). Work is O(shard + touched labels), never O(corpus).

    The graph is materialized ONCE — shard ids as self-loops, contact
    edges and intra-shard edges in one tagged checkpoint whose row count
    is observed — and that count picks one of two tiers, both reading
    the checkpoint:

    - at most ``_NEEDS_BROADCAST_MAX`` rows: the checkpoint is collected
      once as Arrow, and one driver union-find (``_min_labels``) yields
      the labels, each component's count of stored labels and so the
      verdicts, and the touched remap. They come back as small frames;
      Spark runs no join or aggregation for them.
    - above it: ``connected_components_star`` over the same checkpoint,
      and the verdicts, touched labels and remap by Spark joins (the
      remap materialized, since it relabels state and earlier days).

    Returns a ``ClusterUpdate``: ``out`` has one row per shard item
    (node, cluster_id = its post-update label, verdict 'new' — no stored
    cluster in its component; 'attached' — exactly one; 'merged' — its
    arrival bridged ≥ 2 formerly separate stored clusters)."""
    size = Observation()
    loops = shard_ids.select(F.col("node").alias("u"), F.col("node").alias("v"))
    g = (
        _tagged(loops, _SHARD)
        .unionByName(_tagged(e_corpus, _CONTACT))
        .unionByName(_tagged(e_shard, _INTRA))
        .observe(size, F.count(F.lit(1)).alias("n"))
        .localCheckpoint()
    )
    if size.get["n"] > _NEEDS_BROADCAST_MAX:
        return _maintain_on_cluster(g)
    return _maintain_on_driver(g)


def _tagged(edges: DataFrame, kind: int) -> DataFrame:
    return edges.select("u", "v", F.lit(kind).cast("byte").alias("kind"))


def _with_verdict(labelled: DataFrame) -> DataFrame:
    """(node, cluster_id, n_corpus) → (node, cluster_id, verdict), where
    n_corpus counts the stored labels in the node's component."""
    n = F.coalesce(F.col("n_corpus"), F.lit(0))
    return labelled.select(
        "node",
        "cluster_id",
        F.when(n == 0, F.lit("new"))
        .when(n == 1, F.lit("attached"))
        .otherwise(F.lit("merged"))
        .alias("verdict"),
    )


def _maintain_on_driver(g: DataFrame) -> ClusterUpdate:
    """The driver tier of ``maintain_clusters`` over its graph checkpoint."""
    t = g.toArrow().drop_null()
    kind = t.column("kind").to_numpy()
    v = t.column("v").to_numpy()
    comps = _min_labels(t.select(["u", "v"]))
    nodes = comps.column("node").to_numpy()
    label = comps.column("label").to_numpy()
    shard = v[kind == _SHARD]
    labs = np.unique(v[kind == _CONTACT])
    # nodes are sorted and every label is a node, so positions index the
    # component roots; n_root counts each root's stored labels
    root = np.searchsorted(nodes, label)
    s_at, l_at = np.searchsorted(nodes, shard), np.searchsorted(nodes, labs)
    n_root = np.bincount(root[l_at], minlength=len(nodes))
    typ = t.schema.field("u").type
    spark = g.sparkSession

    def frame(**cols):
        return spark.createDataFrame(
            pa.table({k: pa.array(c, typ) for k, c in cols.items()})
        )

    return ClusterUpdate(
        out=_with_verdict(
            frame(node=shard, cluster_id=label[s_at], n_corpus=n_root[root[s_at]])
        ),
        comps=spark.createDataFrame(comps),
        lab_nodes=frame(node=labs),
        remap=frame(label0=labs, newl=label[l_at]),
    )


def _maintain_on_cluster(g: DataFrame) -> ClusterUpdate:
    """The above-gate tier of ``maintain_clusters``: star rounds over its
    graph checkpoint, then the verdicts and remap by Spark joins."""
    shard_ids = g.filter(F.col("kind") == _SHARD).select(F.col("u").alias("node"))
    lab_nodes = (
        g.filter(F.col("kind") == _CONTACT)
        .select(F.col("v").alias("node"))
        .distinct()
    )
    comps = connected_components_star(
        g.select("u", "v"), shard_ids.unionByName(lab_nodes).distinct()
    )
    comp_corpus = (
        comps.join(lab_nodes, "node")
        .groupBy("label")
        .agg(F.countDistinct("node").alias("n_corpus"))
    )
    out = _with_verdict(
        shard_ids.join(comps, "node")
        .join(comp_corpus, "label", "left")
        .select("node", F.col("label").alias("cluster_id"), "n_corpus")
    )
    remap = touched_remap(comps, lab_nodes).localCheckpoint()
    return ClusterUpdate(out, comps, lab_nodes, remap)


def touched_remap(comps: DataFrame, lab_nodes: DataFrame) -> DataFrame:
    """(label0, newl): where the update graph moved each touched stored
    label. Untouched labels have no row — by definition they have no
    edge to the shard, so their clusters keep their label. The driver
    tier of ``maintain_clusters`` computes the same rows on the driver
    (``ClusterUpdate.remap``); this is the Spark form the above-gate tier
    runs. For the image chain a stored label is a label of the stored
    hash index."""
    return comps.join(lab_nodes, "node").select(
        F.col("node").alias("label0"), F.col("label").alias("newl")
    )


def relabel(rows: DataFrame, remap: DataFrame) -> DataFrame:
    """``rows``' ``label`` column mapped through a ``touched_remap``
    (labels without a remap row stay), all other columns unchanged."""
    return rows.join(remap, F.col("label") == F.col("label0"), "left").select(
        *[
            F.coalesce("newl", "label").alias("label") if c == "label" else c
            for c in rows.columns
        ]
    )


def advance_state(
    state: DataFrame, update: ClusterUpdate, added: DataFrame
) -> DataFrame:
    """One day's state-advance step of a maintainer chain: ``state`` is
    the stored (…, label) table the day probed, ``update`` its
    ``maintain_clusters`` result and ``added`` the rows the shard adds
    to the state, already carrying their post-update labels. Returns
    the lazy next state: stored rows with touched labels remapped
    (``update.remap``), plus ``added``. Cost is O(touched) plus the
    append, never a corpus rewrite.

    For the image chain the state is the stored hash index — one
    (hash_hi, hash_lo, label) row per distinct stored hash — and
    ``added`` holds the shard's hashes the index did not hold yet."""
    return relabel(state, update.remap).unionByName(added)


def connected_components_star(edges: DataFrame, vertices: DataFrame) -> DataFrame:
    """Connected components by alternating large-star/small-star rounds
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC'14 — public algorithm): the above-gate tier of
    ``connected_components``, with the same (node, label) output contract
    (label = component minimum; isolated vertices label themselves; an
    edge with a null endpoint is no edge). Equality with the driver tier
    is unit-tested on paths, random graphs, and the real near-dup pair
    stream.

    Each round is two edge transforms, each one groupBy + one join on the
    current edge list — per-round cost is O(|E|) shuffle rows with no
    vertex-diameter dependence, so a path of D hops finishes in O(log D)
    rounds (at most ``_STAR_MAX_ROUNDS``). Convergence is detected by
    EXACT edge-set equality: a count per round (one tiny agg job), and
    only when consecutive counts match, an `exceptAll(...).isEmpty()`
    difference check over the two checkpointed edge lists. Both lists are
    distinct, so equal counts + empty difference ⟺ identical sets — no
    reliance on a sum-of-hashes fingerprint whose ~2^-64 collision would
    have silently terminated early with wrong labels.

    - large-star: every node u links its LARGER neighbors to
      m(u) = min(N(u) ∪ {u}) — hooks big ids onto small ones.
    - small-star: every node u links its smaller-or-equal neighbors and
      itself to their minimum — flattens chains into stars.

    Each star is ONE exchange: the per-node minimum is a window over
    the adjacency partitioned by u, and the entry edge list is
    canonically high→low oriented + distinct, which makes a per-round
    symmetrize-then-distinct redundant (a one-directional distinct edge
    list can never produce a duplicate when reversed rows are appended;
    both star outputs stay one-directional and distinct by
    construction).
    """

    def _large_star(e: DataFrame) -> DataFrame:
        # full adjacency: emit each edge both ways so every node sees all
        # its neighbors; e is one-directional + distinct (entry
        # canonicalization, preserved by both stars), so no dedup needed
        sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        m = F.least(F.min("v").over(Window.partitionBy("u")), F.col("u"))
        return (
            sym.withColumn("m", m)
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )

    def _small_star(e: DataFrame) -> DataFrame:
        # orient every edge high → low, attach each node to itself, then
        # point all of a node's low neighbors (and itself) at their
        # collective min; large-star output is already high → low and
        # distinct, so only the self-rows need a dedup
        oriented = e.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        with_self = oriented.union(
            oriented.select(F.col("u").alias("u"), F.col("u").alias("v"))
            .distinct()
        )
        m = F.min("v").over(Window.partitionBy("u"))
        return (
            with_self.withColumn("m", m)
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )

    # lazy checkpoints: the per-round count both materializes the round's
    # edge list (persist + lineage truncation) and reads its cardinality
    # in ONE job. greatest/least skip a null, so an edge with one null
    # endpoint becomes a self-loop and the filter drops it with the rest.
    e = (
        edges.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    n = e.count()
    for _ in range(_STAR_MAX_ROUNDS):
        stepped = _small_star(_large_star(e)).localCheckpoint(eager=False)
        m = stepped.count()
        # exact set equality over the two materialized distinct edge
        # lists; the difference scan runs only in rounds whose counts
        # already agree (i.e. at or near the fixpoint)
        if m == n and stepped.exceptAll(e).isEmpty():
            e = stepped
            break
        e, n = stepped, m
    else:
        raise RuntimeError(
            "connected_components_star: no fixpoint in "
            f"{_STAR_MAX_ROUNDS} rounds"
        )
    # fixpoint is a star forest: every remaining edge points node → root.
    # Roots and isolated vertices label themselves.
    return _total_labels(
        vertices, e.select(F.col("u").alias("node"), F.col("v").alias("label"))
    )


def _clusters_output(comps: DataFrame, docs: DataFrame) -> DataFrame:
    """(node, label) components + (doc_id, n_chars) → the cluster table:
    size, quality keeper (longest doc, min-id tiebreak), sorted member
    CSV. Shared by both component algorithms so their outputs are
    definitionally comparable."""
    members = comps.join(docs, comps.node == docs.doc_id)
    return members.groupBy(F.col("label").alias("cluster_id")).agg(
        F.count("*").alias("cluster_size"),
        F.max_by(
            "doc_id", F.struct(F.col("n_chars"), (-F.col("doc_id")).alias("nid"))
        ).alias("keeper_doc_id"),
        # sort NUMERICALLY, then stringify — matches DuckDB's
        # list_sort(list(bigint)) ∘ array_to_string
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list("doc_id")),
                lambda x: x.cast("string"),
            ),
            ",",
        ).alias("members_csv"),
    )


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster resolution — the stage every training-data dedup pipeline
    ends with: near-dup PAIRS (exact 3-gram Jaccard ≥ 0.5, the
    oracle-checkable pair source) → connected components → one keeper per
    cluster. Keeper policy: longest document (n_chars), ties to the
    smallest doc_id — a quality-based choice rather than the redundant
    min-id. Singleton docs appear as size-1 clusters (they keep
    themselves), so the output is a total doc→cluster assignment.
    Oracle: DuckDB recursive CTE reaching the same fixpoint."""
    pairs = q_dedup_ngram_jaccard(spark, sf_dir).select(
        F.col("doc_a").alias("u"), F.col("doc_b").alias("v")
    )
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    comps = connected_components(
        pairs, docs.select(F.col("doc_id").alias("node"))
    )
    return _clusters_output(comps, docs)


def q_dedup_filtered_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup pipeline's FINAL artifact: the corpus with every near-dup
    cluster collapsed to its quality keeper (longest doc, min-id
    tiebreak) — what actually feeds tokenization downstream. Singletons
    keep themselves, so output size = cluster count. One semi-join of the
    corpus against the keeper set; at 100 TB keepers ≈ corpus − dup rate,
    so this stays a shuffle-partitioned semi join (not hinted broadcast)."""
    keepers = q_dedup_clusters(spark, sf_dir).select(
        F.col("keeper_doc_id").alias("doc_id")
    )
    d = load_table(spark, sf_dir, "documents")
    return d.join(keepers, "doc_id", "left_semi").select(
        "doc_id", "lang", "source", "n_chars"
    )


def q_dedup_soft_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SOFT dedup at NEAR-DUP-CLUSTER granularity — the
    downweight-instead-of-drop policy (public: SoftDedup, He et al.
    2024; RefinedWeb/Gopher discuss the same drop-vs-discount choice)
    applied to the engine's own cluster resolution: every doc KEEPS its
    row, weighted by the inverse of its near-dup cluster size, so a
    cluster's total effective contribution is bounded at 1 while the
    natural distribution inside the cluster is preserved. Completes the
    weighting family: q_url_downweight discounts by crawl-frequency
    (URL key), this id by CONTENT similarity (exact-Jaccard clusters —
    the same components q_dedup_clusters keeps one doc of). Singletons
    get weight 1. Output (doc_id, cluster_id, cluster_size,
    sample_weight).

    Plan: the q_dedup_clusters pair source + min-label components, then
    ONE cluster-keyed window for sizes (no join back). Float
    discipline: 1/size is one IEEE division of exact operands + 6-dp
    FLOOR quantization (the q_mix_temperature contract). Oracle: the
    same recursive-CTE fixpoint as q_dedup_clusters with a window over
    members — cluster membership, sizes, and weights all value-checked."""
    pairs = q_dedup_ngram_jaccard(spark, sf_dir).select(
        F.col("doc_a").alias("u"), F.col("doc_b").alias("v")
    )
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    comps = connected_components(
        pairs, docs.select(F.col("doc_id").alias("node"))
    )
    w = Window.partitionBy("label")
    q6 = lambda c: F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)  # noqa: E731
    return comps.select(
        F.col("node").alias("doc_id"),
        F.col("label").alias("cluster_id"),
        F.count("*").over(w).alias("cluster_size"),
    ).withColumn(
        "sample_weight",
        q6(F.lit(1.0) / F.col("cluster_size").cast("double")),
    )


def q_dedup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-SOURCE duplication report — the data-quality dashboard number
    a curation team watches per ingest feed: for each source, total
    docs, near-duplicate docs (cluster members that are NOT their
    cluster's quality keeper — q_dedup_clusters' longest-doc/min-id
    keeper rule), and the dup rate. A source whose rate spikes is
    re-crawling or mirroring content and gets its budget cut (the
    q_sample_source_cap lever); this id produces the evidence.

    Plan: the cluster components (pair source + CC), ONE cluster-keyed
    rank window for the keeper flag, one source-keyed aggregate —
    |sources| output rows. Rate follows the module float discipline
    (one IEEE division + 6-dp FLOOR). Oracle: the q_dedup_clusters
    recursive fixpoint + the same members ranking, re-aggregated by
    source."""
    pairs = q_dedup_ngram_jaccard(spark, sf_dir).select(
        F.col("doc_a").alias("u"), F.col("doc_b").alias("v")
    )
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "n_chars", "source"
    )
    comps = connected_components(
        pairs, docs.select(F.col("doc_id").alias("node"))
    )
    rk = F.row_number().over(
        Window.partitionBy("label").orderBy(
            F.col("n_chars").desc(), F.col("doc_id").asc()
        )
    )
    q6 = lambda c: F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)  # noqa: E731
    member = comps.join(
        docs, comps["node"] == docs["doc_id"]
    ).select("doc_id", "n_chars", "source", "label")
    flagged = member.withColumn("is_dup", (rk > 1).cast("long"))
    return flagged.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("is_dup").alias("dup_docs"),
        q6(F.sum("is_dup") / F.count("*")).alias("dup_rate"),
    )


#: source-priority tiers for keeper election: sources src0..src4 are the
#: "curated" feeds (tier 0 — books/wiki-grade), the rest are "web" (tier
#: 1). In production this is a feed-priority lookup table; here it is a
#: deterministic function of the source name so both engines derive it.
CURATED_SOURCE_MAX = 5


def _source_priority(source_col):
    """0 for curated feeds (src0..src{CURATED_SOURCE_MAX-1}), 1 for web
    — the numeric suffix comparison both engines compute identically.
    Null handling is EXPLICIT and mirrored in the oracle: the first 10
    suffix chars go through try_cast (never throws under ANSI mode) and
    an unparsable suffix COALESCEs to the web tier, as
    ``COALESCE(TRY_CAST(substr(source, 4, 10) AS INT) < 5, FALSE)`` does
    on the DuckDB side — no engine-parity drift if the fixture ever
    grows a non-'srcN' source name."""
    return (
        F.when(
            F.coalesce(
                F.substring(source_col, 4, 10).try_cast("int")
                < CURATED_SOURCE_MAX,
                F.lit(False),
            ),
            0,
        )
        .otherwise(1)
        .cast("long")
    )


def q_dedup_keeper_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SOURCE-PRIORITY cluster keeper — the keeper policy real curation
    pipelines run (RefinedWeb/Dolma-style: when a page is mirrored
    across feeds, keep the CURATED copy, not whichever is longest):
    inside each near-dup cluster (the SAME exact-Jaccard components as
    q_dedup_clusters) elect the keeper by (source tier ASC, n_chars
    DESC, doc_id ASC) — curated > web first, the quality rule only as
    the within-tier tiebreak. Output one row per cluster (cluster_id,
    cluster_size, keeper_doc_id, keeper_source, keeper_priority);
    singletons keep themselves, so this is a total cluster table.

    Plan: the shared pair source + min-label components, one members
    join, ONE cluster-keyed rank window (value-bounded partitions) —
    exactly q_dedup_clusters' topology with a different ORDER BY, so
    the priority policy costs nothing extra. Oracle: the
    q_dedup_clusters recursive-CTE fixpoint + the priority-ordered
    window — membership, sizes, keepers, and tiers all value-checked."""
    pairs = q_dedup_ngram_jaccard(spark, sf_dir).select(
        F.col("doc_a").alias("u"), F.col("doc_b").alias("v")
    )
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "n_chars", "source"
    )
    comps = connected_components(
        pairs, docs.select(F.col("doc_id").alias("node"))
    )
    member = (
        comps.join(docs, comps["node"] == docs["doc_id"])
        .select("doc_id", "n_chars", "source", "label")
        .withColumn("prio", _source_priority(F.col("source")))
    )
    w = Window.partitionBy("label")
    rk = F.row_number().over(
        Window.partitionBy("label").orderBy(
            "prio", F.col("n_chars").desc(), F.col("doc_id").asc()
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
            F.col("source").alias("keeper_source"),
            F.col("prio").alias("keeper_priority"),
        )
    )


def q_dedup_clusters_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q_dedup_clusters with components resolved by the alternating-star
    tier (``connected_components_star``) called directly, skipping the
    size gate of ``connected_components`` — registered separately because
    at fixture sizes every other id takes the driver tier, so this is the
    one id that checks the above-gate tier against the SAME
    recursive-CTE oracle, not just in unit tests."""
    pairs = q_dedup_ngram_jaccard(spark, sf_dir).select(
        F.col("doc_a").alias("u"), F.col("doc_b").alias("v")
    )
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    comps = connected_components_star(
        pairs, docs.select(F.col("doc_id").alias("node"))
    )
    return _clusters_output(comps, docs)


def q_dedup_clusters_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION-TOPOLOGY dedup pipeline end to end, driver-checked as
    one id: exact-fingerprint pre-collapse → candidates from the
    probabilistic blockers (MinHash-LSH ∪ SimHash, both fed from ONE
    checkpointed token-hash base) → exact-Jaccard verification of ONLY the
    candidates (hashed 3-gram shingles, same arithmetic as the ground-truth
    pair source) → connected components over REPRESENTATIVES → member
    expansion → cluster table. Every stage is the corpus-linear scale form:
    no (lang, block) pair enumeration anywhere, candidate volume scales
    with the near-dup rate, and components are solved on the driver up to
    the size gate and by O(log n) star rounds above it. This is the
    composition that runs at 100 TB; q_dedup_clusters/_star are its
    exact-pair-source ground-truth twins.

    The pre-collapse: docs are grouped by (lang, md5 of normalized
    text) — the q_dedup_exact fingerprint — and only one representative
    per group enters the blocker → verify → CC stages; members rejoin
    through their rep's component label at the end (the video tier's
    set-collapse pattern, multimodal.py). An exact-dup flood of m copies therefore contributes
    ONE doc to signatures, banding, verification, and the CC edge list —
    never C(m,2) edges. Output-identical by construction: within a group
    the shingle sets are identical and nonempty (short docs, < 3 tokens,
    stay singleton reps — their empty shingle sets can never clear the
    Jaccard threshold, so merging them would DIVERGE from the oracle), so
    every within-group pair is a genuine J = 1 same-lang edge, and cross
    edges depend only on (shingle set, lang), which every member shares
    with its rep; contracting the groups preserves the component fixpoint
    and the min-doc_id labels (each rep IS its group's minimum).

    Driver-red interpretation: registered against the SAME recursive-CTE
    oracle as q_dedup_clusters, so equality requires blocker recall to be
    lossless on the corpus (deterministic seeds make this a reproducible
    property, verified at sf0.001/0.01/0.1 in tests). A rows/hash mismatch
    here means a J ≥ 0.5 pair escaped BOTH blockers — a recall metric, not
    a verify/CC bug (see q_dedup_levenshtein_bounded). The pre-collapse
    group key is a typed (lang, fp) struct and NULL-lang docs stay
    singleton reps: the edge predicate never joins NULL langs."""
    d = spread(load_table(spark, sf_dir, "documents"))
    comps = bounded_component_assignment(d)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    return _clusters_output(comps, docs)


def bounded_component_assignment(
    d: DataFrame,
    feats: DataFrame | None = None,
    sigs: DataFrame | None = None,
) -> DataFrame:
    """The q_dedup_clusters_bounded engine over ANY documents frame
    (doc_id, lang, text): (lang, md5) pre-collapse → MinHash-LSH ∪
    SimHash blockers over representatives → exact hashed-shingle
    Jaccard verify → ``connected_components`` → member expansion.
    Returns the TOTAL (node, label) assignment (label = component
    minimum; singletons label themselves). The incremental text-cluster
    maintainer builds its stored corpus state with it, so the state has
    exactly the flagship pipeline's semantics.

    ``feats``: an optional pre-materialized
    per-doc feature table (doc_id, lang, fp, th64, sh) — fp/th64/sh
    built with exactly the expressions this function would build
    (md5(lower(trim(text))), xxhash64 per token,
    ``_hashed_shingles_from_token_hashes``), so results are identical
    by construction. When provided, the corpus is NOT re-scanned or
    re-tokenized here: the lean rep-tagging projection and the
    representative shingle/token-hash tables are narrow selects off the
    caller's one checkpoint.

    ``sigs``: an optional pre-materialized
    MinHash signature table over (a superset of) ``d``'s docs, built
    with ``minhash_signatures`` off the same shingle sets — signatures
    are a pure per-doc function, so filtering the caller's one
    checkpointed table to the representatives is row-identical to
    recomputing them here, and saves the representative explode+16-slot
    aggregate pass."""
    # rep-tagging runs over a LEAN projection (doc_id, lang, fp, n_tok)
    # — the group-key window shuffles ~50-byte rows, never token-hash
    # arrays — and only the surviving representatives are tokenized and
    # hashed (a second scan of the narrow documents columns costs less
    # than dragging th64 through the exchange, and dup members skip
    # tokenization entirely; token count is the split length, identical
    # to size(th64))
    if feats is not None:
        lean = feats.select(
            "doc_id", "lang", "fp", F.size("th64").alias("n_tok")
        )
    else:
        lean = d.select(
            "doc_id",
            "lang",
            fingerprint(F.col("text")).alias("fp"),
            F.size(_norm_tokens(F.col("text"))).alias("n_tok"),
        )
    # group key: (lang, fingerprint) for docs with ≥ 3 tokens (nonempty
    # shingle set ⟹ within-group J = 1 ⟹ genuinely mergeable edges);
    # sub-3-token docs stay singletons (see docstring). Typed STRUCT, not
    # a delimited string: concat_ws skips NULLs, so two
    # identical NULL-lang docs would have shared a string key and merged
    # even though the verified edge predicate (lang_a == lang_b) never
    # joins NULL langs — NULL-lang docs therefore also take the singleton
    # branch (k1 is NULL only there, and k2 = doc_id is unique, so
    # singleton keys can never collide with a real (lang, fp) group).
    gk = F.when(
        (F.col("n_tok") >= 3) & F.col("lang").isNotNull(),
        F.struct(F.col("lang").alias("k1"), F.col("fp").alias("k2")),
    ).otherwise(
        F.struct(
            F.lit(None).cast("string").alias("k1"),
            F.col("doc_id").cast("string").alias("k2"),
        )
    )
    w = Window.partitionBy("gk")
    members = (
        lean.select("doc_id", gk.alias("gk"))
        .withColumn("rep", F.min("doc_id").over(w))
        .select("doc_id", "rep")
        .localCheckpoint()
    )
    rep_ids = members.filter(F.col("doc_id") == F.col("rep")).select("doc_id")
    if feats is not None:
        # reps inherit their precomputed th64/sh — one semi-join off the
        # caller's checkpoint replaces the tokenize+shingle rebuild
        base = (
            feats.join(rep_ids, "doc_id", "left_semi")
            .select("doc_id", "lang", "th64", "sh")
            .localCheckpoint()
        )
        sh_docs = base.select("doc_id", "lang", "sh")
    else:
        base = _docs_with_token_hashes(
            d.join(rep_ids, "doc_id", "left_semi")
        ).localCheckpoint()
        # shingles feed the MinHash signatures AND both sides of the
        # verification join — materialize once
        sh_docs = _hashed_shingles_from_token_hashes(base).localCheckpoint()
    if sigs is not None:
        # reps inherit their precomputed signatures — one semi-join off
        # the caller's checkpoint replaces the explode+k-min aggregate
        rep_sigs = sigs.join(rep_ids, "doc_id", "left_semi")
    else:
        rep_sigs = minhash_signatures(sh_docs).localCheckpoint()
    mh = lsh_candidates(rep_sigs)
    sim = simhash_pairs(
        _simhash_signatures_from_token_hashes(
            base.select("doc_id", "lang", "th64")
        )
    ).select("doc_a", "doc_b")
    # no global distinct on the candidate union — the only consumer is
    # the verify join feeding the components, which take duplicate edges
    # in either tier; a duplicate candidate (a pair both blockers
    # surface) costs one extra verify row, where the distinct would cost
    # a full exchange of the candidate stream
    cands = mh.union(sim)
    # the verify join attaches the shingle arrays to the candidate
    # stream — size-gate a broadcast of the (already checkpointed)
    # per-doc shingle table so the candidate stream is never shuffled
    # twice just to pick up its payloads; above the row gate the hint is
    # withheld and the shuffle plan runs, which is the correct shape when
    # the corpus outgrows the executors. Both sides read the SAME table,
    # so one count job gates both.
    if sh_docs.count() <= _NEEDS_BROADCAST_MAX:
        sh_docs = F.broadcast(sh_docs)
    pairs = jaccard_verified(cands, sh_docs, sh_docs).select(
        F.col("doc_a").alias("u"), F.col("doc_b").alias("v")
    )
    # components over REPRESENTATIVES only; members inherit their rep's
    # label (rep = group minimum, so min-label semantics are preserved
    # through the contraction — see docstring)
    rep_comps = connected_components(
        pairs, base.select(F.col("doc_id").alias("node"))
    )
    return (
        members.select("doc_id", "rep")
        .join(rep_comps.withColumnRenamed("node", "rep"), "rep")
        .select(F.col("doc_id").alias("node"), "label")
    )


# --- X2g: incremental corpus dedup (new shard vs deduped corpus) ------------

# deterministic shard split: ~5% of docs play the "new daily shard"
_SHARD_MOD = 20


def shard_band_pairs(shard_banded: DataFrame, hits: DataFrame) -> DataFrame:
    """The text pair step of the shard→stored probe: shard band rows ⋈
    the stored band rows ``probe_postings`` kept, on the bucket key →
    (doc_a = shard doc, doc_b = stored doc), one row per shared band."""
    return shard_banded.join(
        hits.select(F.col("doc_id").alias("doc_b"), *LSH_BAND_KEYS), LSH_BAND_KEYS
    ).select(F.col("doc_id").alias("doc_a"), "doc_b")


def incremental_near_candidates(banded: DataFrame, is_shard) -> DataFrame:
    """Distinct (doc_a = shard doc, doc_b = corpus doc) LSH candidate
    pairs, the shape ``jaccard_verified`` takes, from the full
    (doc_id, band_idx, band_hash) bucket table and a shard predicate:
    ``probe_postings`` prunes the corpus rows to the shard's bucket keys
    before ``shard_band_pairs`` forms any pair, so corpus-side work is
    O(shard) (tests/test_llm_ops.py pins the bound on the probe)."""
    shard_banded, hits = probe_postings(
        banded.filter(is_shard), banded.filter(~is_shard), LSH_BAND_KEYS
    )
    return shard_band_pairs(shard_banded, hits).distinct()


def dup_verdicts(shard: DataFrame, exact: DataFrame, near: DataFrame) -> DataFrame:
    """The verdict tail of the incremental dedup ids: one row per
    ``shard`` row (key column first, then any carried columns), left-
    joined to ``exact`` (key, exact_dup_of) and ``near`` (key,
    near_dup_of) → the shard columns, verdict 'exact_dup' / 'near_dup' /
    'new' (exact precedence) and dup_of (NULL for 'new')."""
    key = shard.columns[0]
    return (
        shard.join(exact, key, "left")
        .join(near, key, "left")
        .select(
            *shard.columns,
            F.when(F.col("exact_dup_of").isNotNull(), F.lit("exact_dup"))
            .when(F.col("near_dup_of").isNotNull(), F.lit("near_dup"))
            .otherwise(F.lit("new"))
            .alias("verdict"),
            F.coalesce("exact_dup_of", "near_dup_of").alias("dup_of"),
        )
    )


def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup — the production shape none of the batch ids
    cover: classify a NEW shard of documents against an already-deduped
    corpus without re-pairing the corpus. Shard = doc_id % 20 == 0 (a
    deterministic ~5% 'daily delivery'); corpus = the rest.

    Tiers, exactly as a training-data pipeline runs them:

    1. **exact** — shard fingerprints (md5 of normalized text) equi-join
       corpus fingerprints; at scale the corpus side is a stored
       fingerprint table, so the join is one shuffle of O(shard) probe
       rows against it.
    2. **near** — MinHash-LSH band buckets. The corpus side is probed ONLY
       where a shard doc shares a bucket: the shard's bucket-key set
       (O(shard × bands), tiny) semi-joins the corpus bucket table
       (``probe_postings``: a broadcast under the size gate) before any
       pair is formed, so corpus-side candidate work is
       proportional to the SHARD, not the corpus — the unit test pins this
       (corpus docs reaching verification ≪ corpus). Candidates are
       verified with exact hashed-shingle Jaccard ≥ 0.5 (same-lang), the
       same contract as the batch pipeline. MinHash bands are the RIGHT
       probe key here (64-bit band hashes — selective at any corpus size);
       SimHash's pigeonhole chunks are deliberately NOT probed: a ~10-bit
       chunk value saturates as the shard grows, pulling in O(corpus) false
       bucket hits. Measured on this data: LSH-only recall over
       shard↔corpus J ≥ 0.5 pairs is lossless at sf0.001/0.01/0.1
       (1/0/8 truth pairs, 0 missed).

    Output: one row per shard doc — verdict 'exact_dup' / 'near_dup' /
    'new' with dup_of = the smallest matching corpus doc_id (NULL for
    'new'). Oracle: brute-force exact SQL over the same split; like the
    other bounded ids, a driver red here means blocker recall loss, not a
    verify bug. At 100 TB the corpus signature/bucket tables are the
    incremental state (pipelines/incremental.py discipline): built once,
    appended per shard — per-day cost is O(shard), and this operator's
    join topology is exactly that steady state."""
    is_shard = F.col("doc_id") % _SHARD_MOD == 0
    d = load_table(spark, sf_dir, "documents")
    shard_docs = d.filter(is_shard).select("doc_id", "lang")

    # --- tier 1: exact fingerprint ---
    with_fp = d.select("doc_id", fingerprint(F.col("text")).alias("fp"))
    ex = (
        with_fp.filter(is_shard)
        .alias("s")
        .join(with_fp.filter(~is_shard).alias("c"), "fp")
        .groupBy(F.col("s.doc_id").alias("doc_id"))
        .agg(F.min(F.col("c.doc_id")).alias("exact_dup_of"))
    )

    # --- tier 2: near-dup via shard-driven bucket probe ---
    sh_docs = _docs_with_hashed_shingles(spread(d)).localCheckpoint()
    banded = _lsh_banded(minhash_signatures(sh_docs)).localCheckpoint()
    cand = incremental_near_candidates(banded, is_shard)
    near = (
        jaccard_verified(cand, sh_docs, sh_docs)
        .groupBy(F.col("doc_a").alias("doc_id"))
        .agg(F.min("doc_b").alias("near_dup_of"))
    )

    return dup_verdicts(shard_docs, ex, near)


def _text_cluster_update(
    spark: SparkSession, sf_dir: str
) -> tuple[ClusterUpdate, DataFrame]:
    """Incremental TEXT-cluster maintainer: assign a new document shard
    (doc_id % 20 == 0) to the EXISTING near-dup clusters, or mint new
    ids, without recomputing the corpus fixpoint (``maintain_clusters``
    holds the contraction argument). The stored state is the flagship
    pipeline's own assignment over the corpus
    (``bounded_component_assignment`` — at 100 TB this table is loaded,
    not recomputed; here it is built once as the baseline). Edges:

    - shard↔corpus: the q_dedup_incremental LSH bucket probe (shard band
      keys semi-join the corpus bucket table, ``probe_postings``), candidates
      verified by ``jaccard_verified``, mapped doc → stored label;
    - intra-shard: MinHash ∪ SimHash restricted to the shard (the
      flagship blocker pair), then the same verify.

    Identical-text arrivals need no separate exact tier: identical
    shingle sets share every LSH band, so the probe already pairs them.

    Returns (the ``ClusterUpdate``, its ``out`` keyed by doc_id,
    corpus_assign = the stored corpus state) — the keeper election
    (q_dedup_text_keeper) reuses the remap and the state.
    Oracle (q_dedup_text_cluster_incremental): the exact 3-gram Jaccard
    pair CTEs + TWO recursive fixpoints (corpus-only stored state, full
    corpus+shard ground truth) — label equality proves the contraction
    loses nothing; a driver red is blocker/probe recall loss (the
    flagship's driver-red contract), not CC logic."""
    is_shard = F.col("doc_id") % _SHARD_MOD == 0
    d = spread(load_table(spark, sf_dir, "documents")).select(
        "doc_id", "lang", "text"
    )
    # ONE feature checkpoint (doc_id, lang, fp, th64, sh) over corpus ∪
    # shard feeds the stored-state build, the probe signatures, the shard
    # SimHash blocker and every verification join; fp/th64/sh are the
    # exact expressions those paths would build on their own
    feats = _hashed_shingles_from_token_hashes(
        d.select(
            "doc_id",
            "lang",
            fingerprint(F.col("text")).alias("fp"),
            token_hashes(_norm_tokens(F.col("text"))).alias("th64"),
        ),
        keep=("fp", "th64"),
    ).localCheckpoint()
    # ONE MinHash signature table over corpus ∪ shard feeds the
    # stored-state build's rep blocker, the probe banding and the
    # intra-shard blocker: signatures are a pure per-doc function, so
    # each consumer filters it to its population
    sh_docs = feats.select("doc_id", "lang", "sh")
    sigs_full = minhash_signatures(sh_docs).localCheckpoint()
    corpus_assign = bounded_component_assignment(
        d.filter(~is_shard),
        feats=feats.filter(~is_shard),
        sigs=sigs_full,
    ).localCheckpoint()

    banded = _lsh_banded(sigs_full).localCheckpoint()
    cand = incremental_near_candidates(banded, is_shard)
    e_corpus = (
        jaccard_verified(cand, sh_docs, sh_docs)
        .join(corpus_assign.withColumnRenamed("node", "doc_b"), "doc_b")
        .select(F.col("doc_a").alias("u"), F.col("label").alias("v"))
        .distinct()
    )
    # no distinct on the blocker union: edges feed the min-label CC,
    # where duplicate edges are harmless (min over a multiset)
    shard_sh = sh_docs.filter(is_shard)
    mh = lsh_candidates(sigs_full.filter(is_shard))
    sim = simhash_pairs(
        _simhash_signatures_from_token_hashes(
            feats.filter(is_shard).select("doc_id", "lang", "th64")
        )
    ).select("doc_a", "doc_b")
    e_shard = jaccard_verified(mh.union(sim), shard_sh, shard_sh).select(
        F.col("doc_a").alias("u"), F.col("doc_b").alias("v")
    )

    update = maintain_clusters(
        shard_sh.select(F.col("doc_id").alias("node")), e_corpus, e_shard
    )
    out = update.out.withColumnRenamed("node", "doc_id")
    return update._replace(out=out), corpus_assign


def q_dedup_text_cluster_incremental(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Incremental TEXT-cluster maintainer: one row per shard doc —
    (doc_id, cluster_id = the post-update fixpoint label, verdict
    'attached'/'merged'/'new'). See ``_text_cluster_update``."""
    update, _state = _text_cluster_update(spark, sf_dir)
    return update.out


def q_dedup_text_keeper(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KEEPER election over the text maintainer's updated clusters:
    after q_dedup_text_cluster_incremental assigns a shard, which doc
    survives each shard-touched cluster? Election
    order: quality_bin DESC (the gate's bin — curation keeps the
    cleanest copy), n_chars DESC, md5(doc_id) ASC (the layout-free
    tiebreak discipline of q_curriculum_order's order_key). Members of
    an updated cluster are its shard arrivals plus the corpus members
    of every stored cluster it absorbed — recovered WITHOUT touching
    the corpus fixpoint: stored labels in the touched set remap through
    the contracted update graph, and their members come from the stored
    assignment table (O(touched) rows; the corpus is read only through
    its stored state, the maintainer's own discipline).

    Output: one row per shard-touched cluster — (cluster_id,
    cluster_size, keeper_doc_id, keeper_quality_bin, keeper_in_shard).
    One rank window over O(shard-touched members) rows. Oracle: the
    full recursive fixpoint restricted to clusters containing a shard
    doc + the same quality-bin expression and election window — keeper
    identity proves the maintainer's member recovery AND the election
    order agree with ground truth."""
    from breweries_case_spark.operators.text import gate_scored

    update, corpus_assign = _text_cluster_update(spark, sf_dir)
    corpus_members = (
        corpus_assign.join(update.remap, F.col("label") == F.col("label0"))
        .select(F.col("node").alias("doc_id"), F.col("newl").alias("cluster_id"))
    )
    members = corpus_members.unionByName(update.out.select("doc_id", "cluster_id"))
    docs = load_table(spark, sf_dir, "documents")
    m = (
        members.join(docs.select("doc_id", "n_chars"), "doc_id")
        .join(
            gate_scored(docs).select("doc_id", "quality_bin"),
            "doc_id",
            "left",
        )
        .withColumn("_mk", F.md5(F.col("doc_id").cast("string")))
    )
    w = Window.partitionBy("cluster_id")
    rk = F.row_number().over(
        Window.partitionBy("cluster_id").orderBy(
            F.col("quality_bin").desc_nulls_last(),
            F.col("n_chars").desc(),
            F.col("_mk").asc(),
        )
    )
    return (
        m.withColumn("cluster_size", F.count("*").over(w))
        .withColumn("rk", rk)
        .filter(F.col("rk") == 1)
        .select(
            "cluster_id",
            "cluster_size",
            F.col("doc_id").alias("keeper_doc_id"),
            F.col("quality_bin").alias("keeper_quality_bin"),
            (F.col("doc_id") % _SHARD_MOD == 0).cast("long").alias(
                "keeper_in_shard"
            ),
        )
    )


QUERIES = {
    "q_dedup_exact": q_dedup_exact,
    "q_dedup_ngram_jaccard": q_dedup_ngram_jaccard,
    "q_dedup_containment": q_dedup_containment,
    "q_dedup_containment_blocked": q_dedup_containment_blocked,
    "q_dedup_containment_capped": q_dedup_containment_capped,
    "q_dedup_prefix_filter": q_dedup_prefix_filter,
    "q_dedup_simhash": q_dedup_simhash,
    "q_dedup_minhash": q_dedup_minhash,
    "q_dedup_blocker_recall": q_dedup_blocker_recall,
    "q_dedup_lsh_mechanism_cap": q_dedup_lsh_mechanism_cap,
    "q_dedup_embedding": q_dedup_embedding,
    "q_dedup_levenshtein": q_dedup_levenshtein,
    "q_dedup_levenshtein_bounded": q_dedup_levenshtein_bounded,
    "q_dedup_clusters": q_dedup_clusters,
    "q_dedup_soft_weights": q_dedup_soft_weights,
    "q_dedup_rate_by_source": q_dedup_rate_by_source,
    "q_dedup_keeper_priority": q_dedup_keeper_priority,
    "q_dedup_clusters_star": q_dedup_clusters_star,
    "q_dedup_clusters_bounded": q_dedup_clusters_bounded,
    "q_dedup_filtered_corpus": q_dedup_filtered_corpus,
    "q_dedup_incremental": q_dedup_incremental,
    "q_dedup_text_cluster_incremental": q_dedup_text_cluster_incremental,
    "q_dedup_text_keeper": q_dedup_text_keeper,
}

# exact containment ground truth — shared verbatim by the uncapped
# ground-truth id and the df-capped blocked default (lossless cap,
# pinned by q_dedup_containment_capped)
_CONTAINMENT_EXACT_SQL = rf"""
        WITH sh AS (
            SELECT doc_id, lang,
                   list_distinct(list_transform(
                       generate_series(1, len(string_split_regex(trim(lower(text)), '\s+')) - 2),
                       i -> string_split_regex(trim(lower(text)), '\s+')[i] || ' ' ||
                            string_split_regex(trim(lower(text)), '\s+')[i+1] || ' ' ||
                            string_split_regex(trim(lower(text)), '\s+')[i+2])) AS sh
            FROM documents)
        SELECT doc_a, doc_b, lang, containment FROM (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.lang AS lang,
                   FLOOR(len(list_intersect(a.sh, b.sh))
                         / least(len(a.sh), len(b.sh)) * 1e6 + 0.5) / 1e6
                       AS containment
            FROM sh a JOIN sh b
              ON a.lang = b.lang AND a.doc_id < b.doc_id
            WHERE len(a.sh) > 0 AND len(b.sh) > 0)
        WHERE containment >= {CONTAINMENT_THRESHOLD}
    """

# both component algorithms must reach the same recursive-CTE fixpoint;
# the filtered-corpus oracle reuses the identical CTE chain
_CLUSTERS_CTES = r"""
        WITH RECURSIVE
        sh AS (
            SELECT doc_id, lang,
                   list_distinct(list_transform(
                       generate_series(1, len(string_split_regex(trim(lower(text)), '\s+')) - 2),
                       i -> string_split_regex(trim(lower(text)), '\s+')[i] || ' ' ||
                            string_split_regex(trim(lower(text)), '\s+')[i+1] || ' ' ||
                            string_split_regex(trim(lower(text)), '\s+')[i+2])) AS sh
            FROM documents),
        pairs AS (
            -- ROUND(...,6) BEFORE thresholding, identical to the Spark
            -- side (F.round(inter/union, 6) >= t) and to
            -- _NGRAM_JACCARD_CTES, so the edge set can never differ by a
            -- sub-ulp quotient landing a hair under 0.5 on one engine
            SELECT doc_a, doc_b FROM (
                SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                       ROUND(len(list_intersect(a.sh, b.sh)) /
                             (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))),
                             6) AS jaccard
                FROM sh a JOIN sh b ON a.lang = b.lang AND a.doc_id < b.doc_id)
            WHERE jaccard >= 0.5),
        edges AS (
            SELECT doc_a AS u, doc_b AS v FROM pairs
            UNION SELECT doc_b, doc_a FROM pairs),
        reach(u, l) AS (
            SELECT doc_id, doc_id FROM documents
            UNION
            SELECT e.u, r.l FROM edges e JOIN reach r ON e.v = r.u),
        labels AS (SELECT u AS doc_id, min(l) AS cluster_id FROM reach GROUP BY u),
        members AS (
            SELECT l.cluster_id, d.doc_id, d.n_chars,
                   row_number() OVER (PARTITION BY l.cluster_id
                                      ORDER BY d.n_chars DESC, d.doc_id ASC) AS rk
            FROM labels l JOIN documents d USING (doc_id))
    """

_CLUSTERS_ORACLE = (
    _CLUSTERS_CTES
    + r"""
        SELECT cluster_id,
               count(*) AS cluster_size,
               max(CASE WHEN rk = 1 THEN doc_id END) AS keeper_doc_id,
               array_to_string(list_sort(list(doc_id)), ',') AS members_csv
        FROM members GROUP BY cluster_id
    """
)

_FILTERED_CORPUS_ORACLE = (
    _CLUSTERS_CTES
    + r"""
        SELECT d.doc_id, d.lang, d.source, d.n_chars
        FROM documents d
        JOIN (SELECT max(CASE WHEN rk = 1 THEN doc_id END) AS doc_id
              FROM members GROUP BY cluster_id) k USING (doc_id)
    """
)

# per-source dup rate: the SAME fixpoint + the members keeper ranking,
# re-aggregated by source
_DUP_RATE_ORACLE = (
    _CLUSTERS_CTES
    + r"""
        SELECT d.source,
               COUNT(*) AS n_docs,
               CAST(SUM(CASE WHEN m.rk > 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS dup_docs,
               FLOOR(SUM(CASE WHEN m.rk > 1 THEN 1 ELSE 0 END)
                     / COUNT(*) * 1000000.0 + 0.5) / 1000000.0 AS dup_rate
        FROM members m JOIN documents d USING (doc_id)
        GROUP BY d.source
    """
)

# soft weights: the SAME fixpoint, one window over members — membership,
# sizes and 1/size weights all value-checked against the Spark CC
_SOFT_WEIGHTS_ORACLE = (
    _CLUSTERS_CTES
    + r"""
        SELECT doc_id, cluster_id,
               CAST(COUNT(*) OVER (PARTITION BY cluster_id) AS BIGINT)
                   AS cluster_size,
               FLOOR(1.0 / COUNT(*) OVER (PARTITION BY cluster_id)
                     * 1000000.0 + 0.5) / 1000000.0 AS sample_weight
        FROM members
    """
)

#: the exact 3-gram Jaccard pair query as a DuckDB CTE chain, shared by
#: the q_dedup_ngram_jaccard oracle and the blocker-recall certificate so
#: the two ground-truth definitions can never drift
_NGRAM_JACCARD_CTES = r"""
        WITH sh AS (
            SELECT doc_id, lang,
                   list_distinct(list_transform(
                       generate_series(1, len(string_split_regex(trim(lower(text)), '\s+')) - 2),
                       i -> string_split_regex(trim(lower(text)), '\s+')[i] || ' ' ||
                            string_split_regex(trim(lower(text)), '\s+')[i+1] || ' ' ||
                            string_split_regex(trim(lower(text)), '\s+')[i+2])) AS sh
            FROM documents),
        true_pairs AS (
            SELECT doc_a, doc_b, lang, jaccard FROM (
                SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.lang AS lang,
                       ROUND(len(list_intersect(a.sh, b.sh)) /
                             (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))),
                             6) AS jaccard
                FROM sh a JOIN sh b
                  ON a.lang = b.lang AND a.doc_id < b.doc_id)
            WHERE jaccard >= 0.5)
"""

ORACLES = {
    "q_dedup_exact": """
        SELECT md5(lower(trim(text))) AS fingerprint,
               min(doc_id) AS keeper_doc_id, count(*) AS copies
        FROM documents GROUP BY 1
    """,
    "q_dedup_ngram_jaccard": _NGRAM_JACCARD_CTES
    + """
        SELECT doc_a, doc_b, lang, jaccard FROM true_pairs
    """,
    # containment: same shingle CTE shape, asymmetric denominator
    # (min set size); FLOOR-rounded then thresholded, like the Spark
    # side. Docs with < 3 tokens have empty shingle sets and are
    # excluded on both engines (no gram rows / len = 0 guard).
    "q_dedup_containment": _CONTAINMENT_EXACT_SQL,
    # the blocked (df-capped + verify) default must reproduce the exact
    # ground-truth pair set — the cap is lossless on the driver data
    # (q_dedup_containment_capped pins capped_missed_true_pairs = 0), so
    # the SAME exact SQL oracles both plans
    "q_dedup_containment_blocked": _CONTAINMENT_EXACT_SQL,
    # df-cap certificate: exact pairs + candidate volumes recomputed
    # from raw text; the missed-pair count pinned literal 0 (a recall
    # regression must red the driver, not agree on a nonzero loss)
    "q_dedup_containment_capped": rf"""
        WITH sh AS (
            SELECT doc_id, lang,
                   list_distinct(list_transform(
                       generate_series(1, len(string_split_regex(trim(lower(text)), '\s+')) - 2),
                       i -> string_split_regex(trim(lower(text)), '\s+')[i] || ' ' ||
                            string_split_regex(trim(lower(text)), '\s+')[i+1] || ' ' ||
                            string_split_regex(trim(lower(text)), '\s+')[i+2])) AS sh
            FROM documents),
        g AS (SELECT doc_id, lang, unnest(sh) AS gram FROM sh),
        df AS (SELECT lang, gram, COUNT(*) AS df FROM g GROUP BY 1, 2),
        gr AS (SELECT g.doc_id, g.lang, g.gram
               FROM g JOIN df USING (lang, gram) WHERE df.df <= {DF_CAP}),
        exact AS (
            SELECT a.doc_id AS da, b.doc_id AS db
            FROM sh a JOIN sh b
              ON a.lang = b.lang AND a.doc_id < b.doc_id
            WHERE len(a.sh) > 0 AND len(b.sh) > 0
              AND FLOOR(len(list_intersect(a.sh, b.sh))
                        / least(len(a.sh), len(b.sh)) * 1e6 + 0.5) / 1e6
                  >= {CONTAINMENT_THRESHOLD}),
        cand_full AS (
            SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
            FROM g a JOIN g b
              ON a.lang = b.lang AND a.gram = b.gram
                 AND a.doc_id < b.doc_id),
        cand_cap AS (
            SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
            FROM gr a JOIN gr b
              ON a.lang = b.lang AND a.gram = b.gram
                 AND a.doc_id < b.doc_id)
        SELECT 'exact_pairs' AS check_name,
               CAST((SELECT COUNT(*) FROM exact) AS BIGINT) AS value
        UNION ALL SELECT 'capped_missed_true_pairs', 0
        UNION ALL SELECT 'candidate_pairs_full',
            CAST((SELECT COUNT(*) FROM cand_full) AS BIGINT)
        UNION ALL SELECT 'candidate_pairs_capped',
            CAST((SELECT COUNT(*) FROM cand_cap) AS BIGINT)
    """,
    # prefix filtering is LOSSLESS, so the PPJoin-style plan answers to
    # the identical exact-pair oracle as the full inverted index
    "q_dedup_prefix_filter": _NGRAM_JACCARD_CTES
    + """
        SELECT doc_a, doc_b, lang, jaccard FROM true_pairs
    """,
    # Spark computes every residual live (anti-joins / symmetric diffs);
    # the oracle recomputes the exact pair count and pins the residuals
    # at literal zero — a blocker losing recall reds the value hash.
    "q_dedup_blocker_recall": _NGRAM_JACCARD_CTES
    + """
        SELECT 'true_pairs' AS check_name,
               CAST(COUNT(*) AS BIGINT) AS value FROM true_pairs
        UNION ALL SELECT 'minhash_lsh_missed_true_pairs', 0
        UNION ALL SELECT 'minhash_output_vs_exact_diff', 0
        UNION ALL SELECT 'simhash_pigeonhole_vs_bruteforce_diff', 0
    """,
    # text-LSH mechanism-cap certificate: the anchor is recomputed from
    # raw text; every plumbing property is pinned literal (xxhash64
    # signatures have no DuckDB twin — the blocker_recall discipline)
    "q_dedup_lsh_mechanism_cap": _NGRAM_JACCARD_CTES
    + """
        SELECT 'true_pairs' AS check_name,
               CAST(COUNT(*) AS BIGINT) AS value FROM true_pairs
        UNION ALL SELECT 'production_cap_missed_true_pairs', 0
        UNION ALL SELECT 'mech_cap_prunes_candidates', 1
        UNION ALL SELECT 'mech_capped_subset_violations', 0
        UNION ALL SELECT 'tier1_pairs_survive_mech_cap', 0
        UNION ALL SELECT 'verified_diff_capped_vs_uncapped', 0
    """,
    "q_dedup_embedding": """
        WITH e AS (
            SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v,
                   sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                         CAST(embedding AS DOUBLE[]))) AS norm
            FROM embeddings)
        SELECT vec_a, vec_b, label, cosine FROM (
            SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.label AS label,
                   ROUND(list_dot_product(a.v, b.v) / (a.norm * b.norm), 6)
                       AS cosine
            FROM e a JOIN e b
              ON a.label = b.label AND a.vec_id < b.vec_id)
        WHERE cosine >= 0.4
    """,
    "q_dedup_levenshtein": """
        SELECT doc_a, doc_b, lang, lev FROM (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.lang AS lang,
                   levenshtein(a.text, b.text) AS lev
            FROM documents a JOIN documents b
              ON a.lang = b.lang AND a.doc_id < b.doc_id
             AND abs(length(a.text) - length(b.text)) <= 20)
        WHERE lev <= 20
    """,
    # Same exact-SQL oracle as q_dedup_levenshtein: the bounded form's
    # blockers are deterministic and verified lossless on this data, so
    # the candidate-verified output must equal the exact all-blocks one.
    "q_dedup_levenshtein_bounded": """
        SELECT doc_a, doc_b, lang, lev FROM (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.lang AS lang,
                   levenshtein(a.text, b.text) AS lev
            FROM documents a JOIN documents b
              ON a.lang = b.lang AND a.doc_id < b.doc_id
             AND abs(length(a.text) - length(b.text)) <= 20)
        WHERE lev <= 20
    """,
    "q_dedup_clusters": _CLUSTERS_ORACLE,
    "q_dedup_soft_weights": _SOFT_WEIGHTS_ORACLE,
    "q_dedup_rate_by_source": _DUP_RATE_ORACLE,
    # keeper-priority: the clusters fixpoint + ONE priority-ordered
    # window (curated tier first, quality as the within-tier tiebreak)
    "q_dedup_keeper_priority": _CLUSTERS_CTES
    + f"""
        , pm AS (
            SELECT l.cluster_id, d.doc_id, d.n_chars, d.source,
                   CASE WHEN COALESCE(
                            TRY_CAST(substr(d.source, 4, 10) AS INT)
                                < {CURATED_SOURCE_MAX}, FALSE)
                        THEN 0 ELSE 1 END AS prio,
                   COUNT(*) OVER (PARTITION BY l.cluster_id)
                       AS cluster_size
            FROM labels l JOIN documents d USING (doc_id)),
        pk AS (
            SELECT *,
                   row_number() OVER (
                       PARTITION BY cluster_id
                       ORDER BY prio ASC, n_chars DESC, doc_id ASC)
                       AS prk
            FROM pm)
        SELECT cluster_id, cluster_size, doc_id AS keeper_doc_id,
               source AS keeper_source,
               CAST(prio AS BIGINT) AS keeper_priority
        FROM pk WHERE prk = 1
    """,
    "q_dedup_clusters_star": _CLUSTERS_ORACLE,
    # the bounded composition must reach the SAME fixpoint as the exact
    # pair source — blocker recall is the property under test
    "q_dedup_clusters_bounded": _CLUSTERS_ORACLE,
    "q_dedup_filtered_corpus": _FILTERED_CORPUS_ORACLE,
    "q_dedup_incremental": r"""
        WITH sh AS (
            SELECT doc_id, lang,
                   list_distinct(list_transform(
                       generate_series(1, len(string_split_regex(trim(lower(text)), '\s+')) - 2),
                       i -> string_split_regex(trim(lower(text)), '\s+')[i] || ' ' ||
                            string_split_regex(trim(lower(text)), '\s+')[i+1] || ' ' ||
                            string_split_regex(trim(lower(text)), '\s+')[i+2])) AS sh
            FROM documents),
        ex AS (
            SELECT s.doc_id, min(c.doc_id) AS exact_dup_of
            FROM documents s JOIN documents c
              ON s.doc_id % 20 = 0 AND c.doc_id % 20 <> 0
             AND md5(lower(trim(s.text))) = md5(lower(trim(c.text)))
            GROUP BY s.doc_id),
        nr AS (
            SELECT a.doc_id, min(b.doc_id) AS near_dup_of
            FROM sh a JOIN sh b
              ON a.doc_id % 20 = 0 AND b.doc_id % 20 <> 0
             AND a.lang = b.lang
             AND ROUND(len(list_intersect(a.sh, b.sh)) /
                       (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))),
                       6)
                 >= 0.5
            GROUP BY a.doc_id)
        SELECT d.doc_id, d.lang,
               CASE WHEN ex.exact_dup_of IS NOT NULL THEN 'exact_dup'
                    WHEN nr.near_dup_of IS NOT NULL THEN 'near_dup'
                    ELSE 'new' END AS verdict,
               COALESCE(ex.exact_dup_of, nr.near_dup_of) AS dup_of
        FROM documents d
        LEFT JOIN ex USING (doc_id)
        LEFT JOIN nr USING (doc_id)
        WHERE d.doc_id % 20 = 0
    """,
    # q_dedup_simhash / q_dedup_minhash: rows-only (xxhash64 is Spark-side;
    # LSH recall is probabilistic). Precision of minhash is pinned by a unit
    # test against q_dedup_ngram_jaccard's exact output.
    # incremental text-cluster maintainer: the exact pair CTEs + TWO
    # recursive fixpoints — corpus-only (the stored state) and full
    # (ground truth); label equality proves the label-contraction loses
    # nothing, verdicts audit stored-cluster counts per component
    "q_dedup_text_cluster_incremental": _NGRAM_JACCARD_CTES.replace(
        "WITH sh", "WITH RECURSIVE sh", 1
    )
    + """
        , cedges AS (
            SELECT doc_a AS u, doc_b AS v FROM true_pairs
            WHERE doc_a % 20 <> 0 AND doc_b % 20 <> 0
            UNION
            SELECT doc_b, doc_a FROM true_pairs
            WHERE doc_a % 20 <> 0 AND doc_b % 20 <> 0),
        creach(u, l) AS (
            SELECT doc_id, doc_id FROM documents WHERE doc_id % 20 <> 0
            UNION
            SELECT e.u, r.l FROM cedges e JOIN creach r ON e.v = r.u),
        clbl AS (SELECT u AS doc_id, MIN(l) AS clabel FROM creach GROUP BY u),
        fedges AS (
            SELECT doc_a AS u, doc_b AS v FROM true_pairs
            UNION SELECT doc_b, doc_a FROM true_pairs),
        freach(u, l) AS (
            SELECT doc_id, doc_id FROM documents
            UNION
            SELECT e.u, r.l FROM fedges e JOIN freach r ON e.v = r.u),
        flbl AS (
            SELECT u AS doc_id, MIN(l) AS cluster_id FROM freach GROUP BY u),
        cc AS (
            SELECT f.cluster_id, COUNT(DISTINCT c.clabel) AS n_corpus
            FROM flbl f JOIN clbl c USING (doc_id)
            GROUP BY f.cluster_id)
        SELECT f.doc_id, f.cluster_id,
               CASE WHEN cc.n_corpus IS NULL THEN 'new'
                    WHEN cc.n_corpus = 1 THEN 'attached'
                    ELSE 'merged' END AS verdict
        FROM flbl f
        LEFT JOIN cc USING (cluster_id)
        WHERE f.doc_id % 20 = 0
    """,
}

# text-keeper election: the full fixpoint restricted to shard-touched
# clusters + the gate's quality-bin expression (q_quality_gate's oracle
# formula verbatim) + the (bin DESC, n_chars DESC, md5) election window
from breweries_case_spark.operators.text import QG_SCALE as _QG_SCALE  # noqa: E402

_KEEPER_QBIN_SQL = rf"""CASE
        WHEN len(string_split_regex(trim(d.text), '\s+')) > 0
         AND length(d.text) > 0
        THEN CAST(FLOOR((
                 len(regexp_extract_all(d.text,
                         '\b(the|a|of|is|and|to|in)\b'))
                     / len(string_split_regex(trim(d.text), '\s+')) * 0.5
                 + len(regexp_extract_all(d.text, '[^\w\s]'))
                     / length(d.text) * -0.25
                 + length(d.text)
                     / len(string_split_regex(trim(d.text), '\s+')) * 0.05)
                 * {_QG_SCALE}) AS BIGINT)
        END"""

ORACLES["q_dedup_text_keeper"] = (
    _NGRAM_JACCARD_CTES.replace("WITH sh", "WITH RECURSIVE sh", 1)
    + rf"""
        , fedges AS (
            SELECT doc_a AS u, doc_b AS v FROM true_pairs
            UNION SELECT doc_b, doc_a FROM true_pairs),
        freach(u, l) AS (
            SELECT doc_id, doc_id FROM documents
            UNION
            SELECT e.u, r.l FROM fedges e JOIN freach r ON e.v = r.u),
        flbl AS (
            SELECT u AS doc_id, MIN(l) AS cluster_id FROM freach GROUP BY u),
        touched AS (
            SELECT DISTINCT cluster_id FROM flbl
            WHERE doc_id % {_SHARD_MOD} = 0),
        mem AS (
            SELECT f.doc_id, f.cluster_id, d.n_chars,
                   {_KEEPER_QBIN_SQL} AS quality_bin,
                   md5(CAST(f.doc_id AS VARCHAR)) AS mk
            FROM flbl f JOIN touched USING (cluster_id)
            JOIN documents d USING (doc_id)),
        ranked AS (
            SELECT *,
                   ROW_NUMBER() OVER (
                       PARTITION BY cluster_id
                       ORDER BY quality_bin DESC NULLS LAST,
                                n_chars DESC, mk ASC) AS rk,
                   COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size
            FROM mem)
        SELECT cluster_id,
               CAST(cluster_size AS BIGINT) AS cluster_size,
               doc_id AS keeper_doc_id,
               quality_bin AS keeper_quality_bin,
               CAST(CASE WHEN doc_id % {_SHARD_MOD} = 0 THEN 1 ELSE 0 END
                    AS BIGINT) AS keeper_in_shard
        FROM ranked WHERE rk = 1
    """
)
