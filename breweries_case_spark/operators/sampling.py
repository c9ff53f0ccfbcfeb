"""Deterministic sampling, change-history (SCD2) compression, and column
profiling — the curation utilities a training-data pipeline runs between
ingest and dedup (north-star §2.9 additions; the reference has no
sampling/profiling surface).

Determinism stance: `df.sample()` is seed-and-partitioning dependent, so
it can never be oracle-checked and — worse for production — re-runs on
repartitioned data select DIFFERENT rows. Every sampler here derives its
coin flip from md5 of the row's stable key instead: the same row is
always in or out regardless of cluster layout, retries, or engine. That
is the property a 100 TB curation pipeline actually needs (reproducible
held-out splits), and it makes the DuckDB twin exact (both engines emit
identical lowercase-hex md5 over identical UTF-8 bytes).

Scale notes: hash sampling is a stateless per-row filter on the scan —
no shuffle, fully pushable-adjacent. Stratified sampling needs one
window shuffle on the stratum key (count + rank per stratum); at 100 TB
with few strata, per-stratum skew is the hazard — the rank window is a
single sort per stratum partition, so giant strata sort-spill rather
than OOM. SCD2 compression is two narrow windows over the entity key —
one shuffle, entity-partitioned. Profiling is one multi-distinct
aggregate (Spark plans it via EXPAND: rows × #distinct-cols before the
partial agg — at 100 TB profile column subsets per pass if the expand
factor hurts)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from breweries_case_spark.io.reader import load_table

# md5-hex first byte < 0x20 → 32/256 = 12.5% expected sample rate
HASH_SAMPLE_HEX_LT = "20"
STRATIFIED_FRACTION = 0.1


def _md5_key(col):
    return F.md5(col.cast("string"))


def q_sample_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """~12.5% deterministic Bernoulli sample of documents: keep rows whose
    md5(doc_id) hex starts below 0x20. Plans as scan → narrow filter —
    zero shuffles, and the SAME rows survive on any cluster layout."""
    d = load_table(spark, sf_dir, "documents")
    return d.filter(
        F.substring(_md5_key(F.col("doc_id")), 1, 2) < HASH_SAMPLE_HEX_LT
    ).select("doc_id", "lang", "source", "n_chars")


def q_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-rate stratified sample: ceil(10%) of every lang stratum,
    chosen by md5 rank within the stratum (deterministic, layout-free).
    Guarantees small strata are represented — the property a per-language
    training mix needs that global Bernoulli sampling can't give."""
    d = load_table(spark, sf_dir, "documents").withColumn(
        "_key", _md5_key(F.col("doc_id"))
    )
    w = Window.partitionBy("lang")
    wo = w.orderBy("_key", "doc_id")
    return (
        d.withColumn("stratum_rank", F.row_number().over(wo))
        .withColumn("stratum_size", F.count("*").over(w))
        .filter(
            F.col("stratum_rank")
            <= F.ceil(F.col("stratum_size") * F.lit(STRATIFIED_FRACTION))
        )
        .select("doc_id", "lang", "stratum_rank")
    )


def q_scd2_compress(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type-2 build: compress each customer's
    order-status event stream into [valid_from, valid_to) versions —
    keep only rows where the status CHANGED (lag differs), then close
    each version with the next change's date (lead). The standard
    history-table construction (reference keeps only current state, cf.
    its gold rollup `src/processors/breweries_gold_processors.py`; SCD2
    is the auditable superset). Two window passes over ONE entity-keyed
    shuffle — Catalyst reuses the o_custkey partitioning for both."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    changed = (
        o.withColumn("_prev", F.lag("o_orderstatus").over(w))
        .filter(
            F.col("_prev").isNull()
            | (F.col("o_orderstatus") != F.col("_prev"))
        )
        .select("o_custkey", "o_orderstatus", "o_orderdate", "o_orderkey")
    )
    w2 = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return (
        changed.withColumn("valid_to", F.lead("o_orderdate").over(w2))
        .withColumn(
            "is_current", F.col("valid_to").isNull().cast("int")
        )
        .select(
            "o_custkey",
            F.col("o_orderstatus").alias("status"),
            F.col("o_orderdate").alias("valid_from"),
            "valid_to",
            "is_current",
        )
    )


#: probe points for the point-in-time SCD2 lookup (evenly spaced)
SCD2_PROBE_POINTS = 6


def q_scd2_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time dimension lookup against the SCD2 history — the
    temporal-correctness join a feature store runs so training features
    NEVER leak the future: for every (customer, probe date) pair, the
    status version that was current AT that date (the latest version
    opened at-or-before it). Probe dates are SCD2_PROBE_POINTS evenly
    spaced points across the orders date range; customers whose first
    version opens after a probe get NULL (no value existed yet — the
    honest answer, not a leaked later one).

    As-of semantics under same-day changes: versions are sequenced by
    (valid_from, opening orderkey), and the lookup takes the LATEST
    version at the probe — expressed as one rank window over the
    candidate versions rather than a BETWEEN range join, which would be
    ambiguous on zero-length same-day intervals.

    Scale shape: the probe grid is |customers| × a HANDFUL of dates
    (broadcast nested-loop on a 6-row side — deliberate, output-sized);
    candidates come from one equi-join on custkey with the ≤-probe
    filter inside the join, then one rank window per (custkey, probe).
    Candidate volume is versions-per-customer bounded, not table-sized."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    dim = (
        o.withColumn("_prev", F.lag("o_orderstatus").over(w))
        .filter(
            F.col("_prev").isNull()
            | (F.col("o_orderstatus") != F.col("_prev"))
        )
        .select(
            F.col("o_custkey").alias("custkey"),
            F.col("o_orderstatus").alias("status"),
            F.col("o_orderdate").alias("valid_from"),
            F.col("o_orderkey").alias("seq_key"),
        )
    )
    bounds = o.agg(
        F.min("o_orderdate").alias("lo"), F.max("o_orderdate").alias("hi")
    )
    probes = (
        bounds.select(
            F.explode(
                F.sequence(F.lit(0), F.lit(SCD2_PROBE_POINTS - 1))
            ).alias("k"),
            "lo",
            "hi",
        )
        .select(
            F.date_add(
                F.col("lo"),
                F.floor(
                    F.col("k")
                    * F.datediff(F.col("hi"), F.col("lo"))
                    / F.lit(SCD2_PROBE_POINTS - 1)
                ).cast("int"),
            ).alias("probe_date")
        )
    )
    # custkeys straight from orders: every customer's first order
    # survives the SCD2 lag filter, so dim's key set equals orders' —
    # deriving the grid from dim would recompute the window subtree
    grid = (
        o.select(F.col("o_custkey").alias("custkey"))
        .distinct()
        .crossJoin(F.broadcast(probes))
    )
    cand = grid.join(
        dim,
        (grid.custkey == dim.custkey)
        & (dim.valid_from <= grid.probe_date),
        "left",
    ).select(
        grid.custkey, "probe_date", "status", "valid_from", "seq_key"
    )
    pick = Window.partitionBy("custkey", "probe_date").orderBy(
        F.col("valid_from").desc_nulls_last(),
        F.col("seq_key").desc_nulls_last(),
    )
    return (
        cand.withColumn("rn", F.row_number().over(pick))
        .filter(F.col("rn") == 1)
        .select(
            "custkey",
            "probe_date",
            F.col("status").alias("as_of_status"),
        )
    )


#: per-source whitespace-token budget for the mixing sampler
TOKEN_BUDGET_PER_SOURCE = 20_000


def q_sample_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget source mixing: from every source, keep a deterministic
    md5-ordered prefix of documents whose CUMULATIVE whitespace-token
    count stays within the per-source budget — how a pretraining mix caps
    each domain's contribution in tokens (the unit that matters), not
    documents. md5 ordering makes the kept set layout/retry-invariant,
    like the other samplers here.

    Plan shape: one shuffle on source, one running-sum window per
    partition, narrow filter. Skew note: at 100 TB a single giant source
    funnels into one window partition — shard it (salt the source key,
    budget/shards per salt) once any source outgrows an executor; with
    budgets in the 10⁵-token range the prefix that matters is tiny
    regardless."""
    d = load_table(spark, sf_dir, "documents")
    ntok = F.size(F.split(F.trim(F.col("text")), r"\s+"))
    wo = (
        Window.partitionBy("source")
        .orderBy(_md5_key(F.col("doc_id")), "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        d.select("doc_id", "source", ntok.alias("ws_tokens"))
        .withColumn("cum_tokens", F.sum("ws_tokens").over(wo))
        .filter(F.col("cum_tokens") <= TOKEN_BUDGET_PER_SOURCE)
        .select("doc_id", "source", "ws_tokens", "cum_tokens")
    )


def q_sample_token_budget_quality(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """QUALITY-ORDERED token-budget mixing (r12, the
    q_mix_epochs_quality pattern on the sampling surface): when a
    source exceeds its token budget, drop its WORST documents, not a
    hash-random prefix — the budget window consumes each source in
    (quality_bin DESC, md5, doc_id) order, so the kept set is the
    highest-quality prefix that fits and the md5 key only breaks ties
    INSIDE a bin (still layout/retry-invariant). Quality bins are THE
    gate's (``gate_scored`` — the shared raw-score binning expression),
    so a scoring change flows into this sampler by construction;
    the gate's empty-doc exclusion applies (undefined ratios can't be
    ranked).

    Output: one kept row per doc (doc_id, source, quality_bin,
    ws_tokens, cum_tokens).

    Plan: q_sample_token_budget's exact topology — one shuffle on
    source, one running-sum window, narrow filter — plus the scoring
    projection riding the scan (regex codegen, no extra exchange);
    same giant-source salting note applies at 100 TB. Oracle: the
    gate's scoring CTE + the same ordered window."""
    from breweries_case_spark.operators.text import gate_scored

    d = load_table(spark, sf_dir, "documents")
    scored = gate_scored(d).select("doc_id", "quality_bin")
    ntok = F.size(F.split(F.trim(F.col("text")), r"\s+"))
    wo = (
        Window.partitionBy("source")
        .orderBy(
            F.col("quality_bin").desc(), _md5_key(F.col("doc_id")), "doc_id"
        )
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        d.select("doc_id", "source", ntok.alias("ws_tokens"))
        .join(scored, "doc_id")
        .withColumn("cum_tokens", F.sum("ws_tokens").over(wo))
        .filter(F.col("cum_tokens") <= TOKEN_BUDGET_PER_SOURCE)
        .select("doc_id", "source", "quality_bin", "ws_tokens", "cum_tokens")
    )


def q_profile_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column data profile of documents (row count, null count, exact
    distinct count) in ONE aggregate pass — the pre-flight data-quality
    check before any curation step. Spark plans the multi-distinct via
    EXPAND (rows × 5 before partial agg); the stack() unpivot reshapes
    the 1-row result, touching no data."""
    d = load_table(spark, sf_dir, "documents")
    cols = ["doc_id", "text", "lang", "source", "n_chars"]
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in cols:
        aggs.append(
            F.sum(F.col(c).isNull().cast("long")).alias(f"_nn_{c}")
        )
        aggs.append(F.countDistinct(F.col(c)).alias(f"_nd_{c}"))
    stack_args = ", ".join(f"'{c}', _nn_{c}, _nd_{c}" for c in cols)
    return d.agg(*aggs).selectExpr(
        "n_rows",
        f"stack({len(cols)}, {stack_args}) AS (column_name, n_nulls, n_distinct)",
    )


def q_profile_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift report between two corpus slices — the
    monitoring pass a training-data pipeline runs between yesterday's
    and today's batch before letting the new data through (the drift
    companion to q_profile_columns' static profile and
    io/expectations' hard gates). Slices here are the deterministic
    even/odd doc_id halves (the reproducible stand-in for
    reference-vs-candidate batches); each metric is emitted for BOTH
    slices so the consumer computes whatever drift statistic it wants
    from exact inputs:

    - ``n_rows``, ``lang_distinct``, ``source_distinct``,
      ``text_null_count``: volume / cardinality / validity shifts
      (integer-exact);
    - ``n_chars_mean_x1e4``: length drift (decimal-sum discipline,
      quantized ×1e4 so both engines publish the identical integer);
    - ``top_lang_share_ppm``: category-mix drift — the modal language's
      share in ppm (integer arithmetic; ties broken by lang so the mode
      is deterministic).

    Plan shape: TWO scans total — one CONDITIONAL aggregate pass
    computes every ref and cand metric side by side (slice-filtered
    aggregates in a single groupBy-less agg, map-side combined), and
    one (slice, lang) pass finds the modal share with a window over the
    per-lang counts. The two 1-row results meet in a scalar crossJoin
    (allowlisted idiom) and a stack() unpivot that touches no data —
    at 100 TB this is two aggregate sweeps, embarrassingly parallel."""
    d = load_table(spark, sf_dir, "documents").withColumn(
        "slice",
        F.when(F.col("doc_id") % 2 == 0, "ref").otherwise("cand"),
    )
    is_ref = F.col("slice") == "ref"

    def per_slice(name, ref_agg, cand_agg):
        return [ref_agg.alias(f"{name}_r"), cand_agg.alias(f"{name}_c")]

    def cond_mean_x1e4(cond):
        total = F.sum(
            F.when(cond, F.col("n_chars").cast("decimal(18,6)"))
        ).cast("double")
        return (
            F.floor(
                total / F.count(F.when(cond, F.col("n_chars")))
                * F.lit(1e4)
                + F.lit(0.5)
            ).cast("long")
        )

    prof = d.agg(
        *per_slice(
            "n_rows",
            F.count(F.when(is_ref, F.lit(1))),
            F.count(F.when(~is_ref, F.lit(1))),
        ),
        *per_slice(
            "lang_distinct",
            F.countDistinct(F.when(is_ref, F.col("lang"))),
            F.countDistinct(F.when(~is_ref, F.col("lang"))),
        ),
        *per_slice(
            "source_distinct",
            F.countDistinct(F.when(is_ref, F.col("source"))),
            F.countDistinct(F.when(~is_ref, F.col("source"))),
        ),
        *per_slice(
            "text_null_count",
            F.sum((is_ref & F.col("text").isNull()).cast("long")),
            F.sum((~is_ref & F.col("text").isNull()).cast("long")),
        ),
        *per_slice(
            "n_chars_mean_x1e4",
            cond_mean_x1e4(is_ref),
            cond_mean_x1e4(~is_ref),
        ),
    )
    lc = d.groupBy("slice", "lang").agg(F.count("*").alias("cnt"))
    sw = Window.partitionBy("slice")
    top = Window.partitionBy("slice").orderBy(
        F.col("cnt").desc(), F.col("lang")
    )
    mode = (
        lc.withColumn("total", F.sum("cnt").over(sw))
        .withColumn("rk", F.row_number().over(top))
        .filter(F.col("rk") == 1)
        .agg(
            F.max(
                F.when(
                    F.col("slice") == "ref",
                    F.floor(F.col("cnt") * F.lit(1_000_000) / F.col("total")),
                )
            )
            .cast("long")
            .alias("top_lang_share_ppm_r"),
            F.max(
                F.when(
                    F.col("slice") == "cand",
                    F.floor(F.col("cnt") * F.lit(1_000_000) / F.col("total")),
                )
            )
            .cast("long")
            .alias("top_lang_share_ppm_c"),
        )
    )
    metrics = [
        "n_rows",
        "lang_distinct",
        "source_distinct",
        "text_null_count",
        "n_chars_mean_x1e4",
        "top_lang_share_ppm",
    ]
    stack_args = ", ".join(f"'{m}', {m}_r, {m}_c" for m in metrics)
    return (
        prof.crossJoin(F.broadcast(mode))
        .selectExpr(
            f"stack({len(metrics)}, {stack_args})"
            " AS (metric, ref_value, cand_value)"
        )
        .withColumn("delta", F.col("cand_value") - F.col("ref_value"))
    )


#: weighted-sample size for priority sampling
WEIGHTED_SAMPLE_K = 500
#: train/val/test split percentages (out of 100 hash buckets)
SPLIT_TRAIN_LT = 80
SPLIT_VAL_LT = 90


def _md5_uniform(col):
    """Deterministic uniform in (0, 1]: the first 48 bits of md5(key) as
    an integer, +1, over 2^48. Spark spells hex→int as ``conv(h,16,10)``,
    DuckDB as ``CAST('0x'||h AS BIGINT)`` — both exact, and the division
    is one IEEE op, so the doubles are bit-identical across engines
    (the module's no-transcendentals determinism stance)."""
    h = F.substring(F.md5(col.cast("string")), 1, 12)
    return (F.conv(h, 16, 10).cast("long") + F.lit(1)) / F.lit(
        float(2**48)
    )


def q_sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sample-without-replacement of documents, weight =
    ``n_chars``, via priority sampling (Duffield–Lund–Thorup): each row
    gets priority ``w / u`` with a deterministic md5-derived uniform
    ``u``; keep the top-k priorities. Long documents are proportionally
    likelier, yet the kept set is layout/retry/engine-invariant — unlike
    ``df.sample``-style weighted reservoirs whose output depends on
    partitioning.

    Exact arithmetic only (one division — no ``pow(u, 1/w)`` as in the
    A-ES scheme, whose exp/log round differently across libm builds), so
    the DuckDB twin matches bit-for-bit. Plan shape: narrow per-row
    priority compute → global top-k = TakeOrderedAndProject (per-partition
    heaps + driver merge of k rows, no shuffle of the data itself)."""
    d = load_table(spark, sf_dir, "documents")
    pri = (F.col("n_chars") / _md5_uniform(F.col("doc_id"))).alias(
        "priority"
    )
    return (
        d.select("doc_id", "source", "n_chars", pri)
        .orderBy(F.col("priority").desc(), "doc_id")
        .limit(WEIGHTED_SAMPLE_K)
    )


def q_split_train_val_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/val/test assignment: bucket =
    md5-derived 48-bit integer mod 100. The split every eval pipeline
    needs to be REPRODUCIBLE — same doc lands in the same split on any
    cluster, any re-run, any engine; adding new docs never reshuffles
    existing assignments (the property a random split with a seed does
    NOT have under repartitioning). Stateless per-row expression: zero
    shuffles, scan-adjacent at any scale."""
    d = load_table(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 12), 16, 10)
        .cast("long")
        % 100
    )
    split = (
        F.when(bucket < SPLIT_TRAIN_LT, "train")
        .when(bucket < SPLIT_VAL_LT, "val")
        .otherwise("test")
    )
    return d.select(
        "doc_id",
        "source",
        bucket.alias("bucket"),
        split.alias("split"),
    )


def q_split_leakage_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val/test split: the split UNIT is the near-dup
    CLUSTER, not the document. Hashing each doc independently
    (q_split_train_val_test) puts near-copies of an eval document into
    train — the classic train/test contamination path; hashing the
    cluster root instead guarantees every member of a near-dup cluster
    lands in the SAME split, by construction (split is a function of the
    root). Pipeline: exact-Jaccard pair source → connected components →
    per-doc root label → md5(root) bucket, the same deterministic
    80/10/10 rule as the naive split so the two are comparable;
    ``reassigned`` flags docs whose split MOVED relative to per-doc
    hashing (non-root members whose own bucket lands elsewhere — the
    would-be leaks plus their collateral).

    Scale: the pair source and components are the documented dedup-tier
    shapes (at 100 TB swap in the bounded blocker composition;
    ``connected_components`` moves to star rounds above its size gate
    by itself); the split itself adds one
    label-join plus stateless hash expressions — nothing new shuffles.
    Oracle: the recursive-CTE component fixpoint + the identical md5
    bucket arithmetic."""
    from breweries_case_spark.operators.dedup import (
        connected_components,
        q_dedup_ngram_jaccard,
    )

    pairs = q_dedup_ngram_jaccard(spark, sf_dir).select(
        F.col("doc_a").alias("u"), F.col("doc_b").alias("v")
    )
    d = load_table(spark, sf_dir, "documents")
    comps = connected_components(
        pairs, d.select(F.col("doc_id").alias("node"))
    )
    labeled = d.select("doc_id", "source").join(
        comps, d.doc_id == comps.node, "left"
    )
    root = F.coalesce(F.col("label"), F.col("doc_id"))

    def bucket_of(col):
        return (
            F.conv(F.substring(F.md5(col.cast("string")), 1, 12), 16, 10)
            .cast("long")
            % 100
        )

    def split_of(bucket):
        return (
            F.when(bucket < SPLIT_TRAIN_LT, "train")
            .when(bucket < SPLIT_VAL_LT, "val")
            .otherwise("test")
        )

    split = split_of(bucket_of(root))
    naive = split_of(bucket_of(F.col("doc_id")))
    return labeled.select(
        "doc_id",
        "source",
        root.alias("cluster_root"),
        split.alias("split"),
        (split != naive).cast("int").alias("reassigned"),
    )


#: canonical NULL sentinel for checksum hashing (concat_ws silently drops
#: nulls, so every column is coalesced BEFORE hashing/concatenation)
_CK_NULL = "<NULL>"

#: orders canonicalization: column -> engine-neutral string rendering.
#: Doubles render via the cents quantization FLOOR(x*100+0.5) — an
#: integer spelling both engines print identically, sidestepping double
#: formatting divergence (SURVEY §7.3 hard part 5). Timestamps render as
#: the plain 'YYYY-MM-DD HH:MM:SS' string cast, which is tz-independent
#: for TIMESTAMP_NTZ storage and byte-identical across Spark/DuckDB on
#: whole-second values (unix_micros would need an NTZ→TZ cast whose
#: result depends on the session time zone — worse for reconciliation).
#: The canonicalization IS part of the contract, as in any
#: cross-system migration check.
_CK_CANON = {
    "o_orderkey": "CAST(o_orderkey AS STRING)",
    "o_custkey": "CAST(o_custkey AS STRING)",
    "o_orderstatus": "o_orderstatus",
    "o_totalprice": "CAST(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS STRING)",
    "o_orderdate": "CAST(o_orderdate AS STRING)",
    "o_orderpriority": "o_orderpriority",
}


def q_table_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-independent table checksum over orders — the reconciliation
    fingerprint for cross-system migration (lakehouse copy vs source,
    snapshot vs snapshot): one row per column plus a ``__row__``
    composite, each carrying (n_rows, n_nulls, hash_sum) where hash_sum
    is the exact decimal SUM of a 60-bit md5 chunk of the column's
    canonical rendering. Equal checksums ⇒ equal multisets of values
    (up to md5-chunk collisions, ~2^-60 per pair); unequal localize the
    drift to a COLUMN without row-by-row diffing.

    ``hash_sum`` is PUBLISHED AS A STRING on both engines: the exact
    decimal value exceeds 2^63, and a pandas-based consumer would
    otherwise coerce DuckDB's HUGEINT to float64 (losing ~70 bits of
    the checksum — the r4/r5 driver red). String rendering keeps the
    full 38-digit integer bit-exact through ANY dataframe bridge.

    Scale shape: ONE aggregate pass over the table — every per-column
    sum is a commutative partial aggregate (map-side combine), so the
    exchange carries 13 numbers per task regardless of table size, and
    the stack() unpivot reshapes the single result row. Sum-of-chunks
    (not xor) is deliberate: xor would cancel duplicate rows pairwise,
    sums keep multiset sensitivity; DECIMAL(38,0) holds 2^60 × any
    realistic row count without overflow."""
    o = load_table(spark, sf_dir, "orders")
    cols = list(_CK_CANON)
    canon = {
        c: F.coalesce(F.expr(e), F.lit(_CK_NULL)) for c, e in _CK_CANON.items()
    }

    def hsum(col):
        chunk = F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")
        return F.sum(chunk.cast("decimal(38,0)"))

    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in cols:
        aggs.append((F.count(F.lit(1)) - F.count(F.col(c))).alias(f"_nn_{c}"))
        aggs.append(hsum(canon[c]).alias(f"_hs_{c}"))
    any_null = None
    for c in cols:
        cond = F.col(c).isNull()
        any_null = cond if any_null is None else (any_null | cond)
    aggs.append(F.count(F.when(any_null, F.lit(1))).alias("_nn___row__"))
    aggs.append(hsum(F.concat_ws("|", *[canon[c] for c in cols])).alias("_hs___row__"))
    names = cols + ["__row__"]
    stack_args = ", ".join(f"'{c}', _nn_{c}, _hs_{c}" for c in names)
    # Column order matches the oracle exactly (column_name first) — the
    # driver's value hash is positional, so (n_rows, column_name, ...)
    # vs (column_name, n_rows, ...) red-flags even when every tuple is
    # value-identical (the r4 lesson).
    return (
        o.agg(*aggs)
        .selectExpr(
            "n_rows",
            f"stack({len(names)}, {stack_args})"
            " AS (column_name, n_nulls, hash_sum)",
        )
        .select(
            "column_name",
            "n_rows",
            "n_nulls",
            F.col("hash_sum").cast("string").alias("hash_sum"),
        )
    )


#: hottest keys surfaced by the skew profile
SKEW_TOP_K = 10


def q_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew diagnostics over lineitem's supplier key — the
    measurement pass that DECIDES whether a join needs salting (SURVEY
    §6's skew study showed salting pays only past a crossover; this
    query is how you locate yourself relative to it). For each of the
    top-SKEW_TOP_K hottest keys: its row count, share of the table in
    ppm, and its ratio to the uniform-distribution expectation
    (count · n_distinct / total, ×1000) — a hot_x1000 of ~1000 means no
    skew; the straggler threshold from §6 maps to this ratio scaled by
    cluster parallelism.

    Plan: one hash aggregate to per-key counts (map-side combined), one
    scalar 1-row aggregate over those counts (n_distinct + total —
    broadcast crossJoin), top-k via rank over a count-ordered window.
    The window partitions by nothing but operates on the per-KEY table
    (|distinct keys| rows, not data rows) — at 100 TB that table is
    key-cardinality-sized; if even that overflows one task, the same
    top-k is a TakeOrderedAndProject. Integer math only — exact on both
    engines."""
    li = load_table(spark, sf_dir, "lineitem")
    per_key = li.groupBy("l_suppkey").agg(F.count("*").alias("cnt"))
    totals = per_key.agg(
        F.count("*").alias("_n_keys"), F.sum("cnt").alias("_total")
    )
    w = Window.orderBy(F.col("cnt").desc(), F.col("l_suppkey"))
    return (
        per_key.crossJoin(F.broadcast(totals))
        .withColumn("hot_rank", F.row_number().over(w))
        .filter(F.col("hot_rank") <= SKEW_TOP_K)
        .select(
            "hot_rank",
            "l_suppkey",
            "cnt",
            F.floor(F.col("cnt") * F.lit(1000000) / F.col("_total"))
            .cast("bigint")
            .alias("share_ppm"),
            F.floor(
                F.col("cnt") * F.col("_n_keys") * F.lit(1000) / F.col("_total")
            )
            .cast("bigint")
            .alias("hot_x1000"),
        )
    )


def _ck_oracle() -> str:
    canon = {
        "o_orderkey": "CAST(o_orderkey AS VARCHAR)",
        "o_custkey": "CAST(o_custkey AS VARCHAR)",
        "o_orderstatus": "o_orderstatus",
        "o_totalprice": "CAST(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS VARCHAR)",
        "o_orderdate": "CAST(o_orderdate AS VARCHAR)",
        "o_orderpriority": "o_orderpriority",
    }
    wrapped = {c: f"COALESCE({e}, '{_CK_NULL}')" for c, e in canon.items()}

    def hsum(expr: str) -> str:
        return (
            f"SUM(CAST(CAST('0x' || substr(md5({expr}), 1, 15) AS BIGINT)"
            " AS DECIMAL(38,0)))"
        )

    aggs = ["COUNT(*) AS n_rows"]
    for c in canon:
        aggs.append(f"COUNT(*) - COUNT({c}) AS nn_{c}")
        aggs.append(f"{hsum(wrapped[c])} AS hs_{c}")
    any_null = " OR ".join(f"{c} IS NULL" for c in canon)
    aggs.append(f"COUNT(CASE WHEN {any_null} THEN 1 END) AS nn_row")
    row_expr = "concat_ws('|', " + ", ".join(wrapped[c] for c in canon) + ")"
    aggs.append(f"{hsum(row_expr)} AS hs_row")
    # hash_sum rendered as VARCHAR — matches the Spark side's STRING
    # publication; DECIMAL(38,0) > 2^63 must never touch a float64 path.
    branches = [
        f"SELECT '{c}' AS column_name, n_rows, nn_{c} AS n_nulls,"
        f" CAST(hs_{c} AS VARCHAR) AS hash_sum FROM a"
        for c in canon
    ]
    branches.append(
        "SELECT '__row__' AS column_name, n_rows, nn_row AS n_nulls,"
        " CAST(hs_row AS VARCHAR) AS hash_sum FROM a"
    )
    return (
        "WITH a AS (SELECT " + ", ".join(aggs) + " FROM orders) "
        + " UNION ALL ".join(branches)
    )


#: per-source document cap — the web-corpus curation knob that stops a
#: single crawl source from dominating the training mix
SOURCE_CAP = 50


def q_sample_source_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cap documents per source: keep at most SOURCE_CAP docs from each
    ``source``, preferring longer documents (n_chars DESC, doc_id
    tiebreak) — the standard domain/source-balancing pass a web-scale
    corpus runs so one crawl source can't dominate the mix (the
    per-group analog of q_sample_token_budget's global greedy cut).

    Plan shape: row_number over (source) + a rank filter. Spark 4 plans
    the ``<= K`` filter as WindowGroupLimit — each map task keeps only
    its partial top-K per source BEFORE the shuffle, so the exchange
    carries O(sources x K) rows, not the corpus. That is exactly the
    100 TB form: a per-source cap never needs the full corpus sorted."""
    d = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        F.col("n_chars").desc(), F.col("doc_id")
    )
    return (
        d.withColumn("rank_in_source", F.row_number().over(w))
        .filter(F.col("rank_in_source") <= SOURCE_CAP)
        .select("doc_id", "source", "n_chars", "rank_in_source")
    )


# --- URL canonicalization / domain-level dedup ------------------------------

#: per-domain document cap for the web-curation cap pass — 15 so the
#: rank filter BINDS at the driver's sf0.001/sf0.01 gates (max
#: per-domain keeper counts there are ~18/~25; a cap that never
#: filters would be verified vacuously)
DOMAIN_CAP = 15


def _derived_url():
    """Deterministic synthetic raw URL (the driver's documents table
    carries no URL column, so one is derived from doc fields exactly
    like the interval joins derive l_receiptdate — the oracle builds the
    identical string). The residues inject every standard crawl mess
    canonicalization must undo: scheme varies, optional ``www.``,
    SHOUTING host case, explicit default ports, trailing-slash variance,
    utm_* tracking params (sometimes alongside a meaningful ``page``
    param), and fragments. Distinct docs from the same source/lang
    share a path when doc_id collides mod 50 — the canonical-dup
    groups a crawler's URL frontier produces."""
    d = F.col("doc_id")
    host = F.concat(F.col("source"), F.lit(".example.com"))
    parts = [
        F.when(d % 2 == 0, F.lit("https")).otherwise(F.lit("http")),
        F.lit("://"),
        F.when(d % 3 == 0, F.lit("www.")).otherwise(F.lit("")),
        F.when(d % 5 == 0, F.upper(host)).otherwise(host),
        F.when(
            d % 7 == 0,
            F.when(d % 2 == 0, F.lit(":443")).otherwise(F.lit(":80")),
        ).otherwise(F.lit("")),
        F.lit("/docs/"),
        F.col("lang"),
        F.lit("/item"),
        (d % 50).cast("string"),
        F.when(d % 4 == 0, F.lit("/")).otherwise(F.lit("")),
    ]
    utm = F.when(
        d % 6 == 0,
        F.concat(F.lit("utm_source=feed&utm_campaign=c"), (d % 9).cast("string")),
    ).otherwise(F.lit(""))
    page = F.when(
        d % 8 == 0, F.concat(F.lit("page="), (d % 3).cast("string"))
    ).otherwise(F.lit(""))
    qs = F.array_join(
        F.filter(F.array(utm, page), lambda x: x != F.lit("")), "&"
    )
    parts.append(
        F.when(qs != F.lit(""), F.concat(F.lit("?"), qs)).otherwise(F.lit(""))
    )
    parts.append(
        F.when(
            d % 10 == 0, F.concat(F.lit("#sec"), (d % 4).cast("string"))
        ).otherwise(F.lit(""))
    )
    return F.concat(*parts)


def _canonicalized():
    """(canonical_url, domain) from the raw ``url`` column, all JVM
    built-ins: ``parse_url`` splits host/path/query (dropping ports and
    fragments for free), the host lowercases and sheds ``www.``, the
    path sheds one trailing slash, and the query keeps only non-utm
    params via a higher-order filter — the standard canonicalization
    every URL-frontier dedup runs before hashing. The oracle reparses
    the same string with an independent regex pipeline."""
    u = F.col("url")
    host = F.regexp_replace(
        F.lower(F.parse_url(u, F.lit("HOST"))), r"^www\.", ""
    )
    path = F.regexp_replace(F.parse_url(u, F.lit("PATH")), r"/$", "")
    kept = F.array_join(
        F.filter(
            F.split(F.coalesce(F.parse_url(u, F.lit("QUERY")), F.lit("")), "&"),
            lambda x: (x != F.lit("")) & ~x.startswith("utm_"),
        ),
        "&",
    )
    canonical = F.concat(
        F.substring_index(u, "://", 1),
        F.lit("://"),
        host,
        path,
        F.when(kept != F.lit(""), F.concat(F.lit("?"), kept)).otherwise(
            F.lit("")
        ),
    )
    return canonical, host


def q_url_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization, the first pass of web-corpus curation:
    raw crawl URL → canonical form (lowercased host, www./default-port/
    fragment/trailing-slash stripped, utm_* tracking params dropped,
    meaningful params kept) plus the domain used for per-domain policy.
    Stateless per-row expressions — zero shuffles, scan-adjacent at any
    corpus size."""
    d = load_table(spark, sf_dir, "documents")
    canonical, host = _canonicalized()
    return d.select("doc_id", _derived_url().alias("url")).select(
        "doc_id",
        "url",
        canonical.alias("canonical_url"),
        host.alias("domain"),
    )


def q_dedup_url(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-level exact dedup AFTER canonicalization: raw URLs that
    differ only by scheme-noise/tracking-params/fragments collapse to
    one canonical key; keeper = min doc_id, like q_dedup_exact's
    fingerprint rule. One hash aggregate on the canonical string — the
    same O(n) shuffle shape as content fingerprint dedup, run first in
    production because it's 10-100× cheaper than content hashing (no
    document bytes move, only URLs)."""
    return (
        q_url_canonicalize(spark, sf_dir)
        .groupBy("canonical_url", "domain")
        .agg(
            F.min("doc_id").alias("keeper_doc_id"),
            F.count("*").alias("copies"),
        )
    )


def q_sample_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed web-curation cap pass: canonical-URL dedup survivors
    (keepers only), then at most DOMAIN_CAP docs per DOMAIN preferring
    longer documents — q_sample_source_cap's balancing knob applied to
    the domain a URL actually resolves to rather than the ingest-time
    source label. Plan: the dedup aggregate, one join back for doc
    attributes, then row_number ≤ K which Spark plans as
    WindowGroupLimit (map-side partial top-K per domain, exchange
    carries O(domains × K) rows — the 100 TB form)."""
    keepers = q_dedup_url(spark, sf_dir).select(
        F.col("keeper_doc_id").alias("doc_id"), "domain"
    )
    d = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    w = Window.partitionBy("domain").orderBy(
        F.col("n_chars").desc(), F.col("doc_id")
    )
    return (
        keepers.join(d, "doc_id")
        .withColumn("rank_in_domain", F.row_number().over(w))
        .filter(F.col("rank_in_domain") <= DOMAIN_CAP)
        .select("doc_id", "domain", "n_chars", "rank_in_domain")
    )


def q_url_downweight(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-frequency SOFT dedup — keep every fetch of a URL but weight
    each document by the inverse of its canonical-URL duplicate count,
    the repetition-discounting alternative to hard removal (public
    practice: RefinedWeb/Gopher-style pipelines weigh dropping repeated
    content against downweighting it; downweighting preserves the
    natural distribution while bounding any one page's effective
    contribution at 1). Per doc: its canonical group's copy count,
    sample_weight = 1/copies, and effective character budget under that
    weight. Weight and effective_chars follow the q_mix_temperature
    float discipline — single IEEE ops on bit-identical operands + 6-dp
    FLOOR quantization, bit-identical cross-engine.

    Plan: one canonical-string window-count exchange — exactly what the
    hard URL dedup (q_dedup_url) costs, but the per-doc row survives
    with its weight attached, no join back. (The content-fingerprint
    variant is the same plan over md5(text); the driver fixtures carry
    no exact content dups, so the URL key is the form whose weight math
    is actually exercised at every sf.)"""
    w = Window.partitionBy("canonical_url")
    q6 = lambda c: F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)  # noqa: E731
    d = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    return (
        q_url_canonicalize(spark, sf_dir)
        .join(d, "doc_id")
        .withColumn("copies", F.count("*").over(w))
        .withColumn(
            "sample_weight",
            q6(F.lit(1.0) / F.col("copies").cast("double")),
        )
        .withColumn(
            "effective_chars",
            q6(F.col("n_chars").cast("double") * F.col("sample_weight")),
        )
        .select(
            "doc_id",
            "canonical_url",
            "copies",
            "sample_weight",
            "effective_chars",
        )
    )


QUERIES = {
    "q_sample_source_cap": q_sample_source_cap,
    "q_url_canonicalize": q_url_canonicalize,
    "q_dedup_url": q_dedup_url,
    "q_sample_domain_cap": q_sample_domain_cap,
    "q_url_downweight": q_url_downweight,
    "q_sample_hash": q_sample_hash,
    "q_sample_stratified": q_sample_stratified,
    "q_scd2_compress": q_scd2_compress,
    "q_scd2_lookup": q_scd2_lookup,
    "q_profile_columns": q_profile_columns,
    "q_profile_drift": q_profile_drift,
    "q_sample_token_budget": q_sample_token_budget,
    "q_sample_token_budget_quality": q_sample_token_budget_quality,
    "q_sample_weighted": q_sample_weighted,
    "q_split_train_val_test": q_split_train_val_test,
    "q_split_leakage_safe": q_split_leakage_safe,
    "q_table_checksum": q_table_checksum,
    "q_skew_profile": q_skew_profile,
}


#: raw-URL derivation + regex canonicalization shared by the three URL
#: ids; the derivation mirrors _derived_url residue by residue while
#: the canonicalization reparses with regexes instead of parse_url —
#: independent pipelines, same contract
_URL_CTES = r"""
        WITH q0 AS (
            SELECT doc_id, lang, source, n_chars,
                   array_to_string(list_filter([
                       CASE WHEN doc_id % 6 = 0
                            THEN 'utm_source=feed&utm_campaign=c'
                                 || CAST(doc_id % 9 AS VARCHAR)
                            ELSE '' END,
                       CASE WHEN doc_id % 8 = 0
                            THEN 'page=' || CAST(doc_id % 3 AS VARCHAR)
                            ELSE '' END
                   ], x -> x <> ''), '&') AS qs
            FROM documents),
        u AS (
            SELECT doc_id, n_chars,
                   (CASE WHEN doc_id % 2 = 0 THEN 'https' ELSE 'http' END)
                   || '://'
                   || (CASE WHEN doc_id % 3 = 0 THEN 'www.' ELSE '' END)
                   || (CASE WHEN doc_id % 5 = 0
                            THEN upper(source || '.example.com')
                            ELSE source || '.example.com' END)
                   || (CASE WHEN doc_id % 7 = 0
                            THEN (CASE WHEN doc_id % 2 = 0
                                       THEN ':443' ELSE ':80' END)
                            ELSE '' END)
                   || '/docs/' || lang || '/item'
                   || CAST(doc_id % 50 AS VARCHAR)
                   || (CASE WHEN doc_id % 4 = 0 THEN '/' ELSE '' END)
                   || (CASE WHEN qs <> '' THEN '?' || qs ELSE '' END)
                   || (CASE WHEN doc_id % 10 = 0
                            THEN '#sec' || CAST(doc_id % 4 AS VARCHAR)
                            ELSE '' END) AS url
            FROM q0),
        c AS (
            SELECT doc_id, url, n_chars,
                   regexp_extract(url, '^([a-z]+)://', 1) AS scheme,
                   regexp_replace(regexp_replace(
                       lower(regexp_extract(url, '^[a-z]+://([^/?#]+)', 1)),
                       ':[0-9]+$', ''), '^www\.', '') AS dom,
                   regexp_replace(
                       regexp_extract(url, '^[a-z]+://[^/?#]+([^?#]*)', 1),
                       '/$', '') AS pth,
                   array_to_string(list_filter(
                       string_split(regexp_extract(url, '\?([^#]*)', 1), '&'),
                       x -> x <> '' AND NOT starts_with(x, 'utm_')), '&')
                       AS kept
            FROM u),
        canon AS (
            SELECT doc_id, url, n_chars, dom AS domain,
                   scheme || '://' || dom || pth
                   || CASE WHEN kept <> '' THEN '?' || kept ELSE '' END
                       AS canonical_url
            FROM c)
"""

ORACLES = {
    "q_url_canonicalize": _URL_CTES
    + """
        SELECT doc_id, url, canonical_url, domain FROM canon
    """,
    "q_dedup_url": _URL_CTES
    + """
        SELECT canonical_url, domain,
               MIN(doc_id) AS keeper_doc_id, COUNT(*) AS copies
        FROM canon GROUP BY 1, 2
    """,
    # soft URL dedup: the q_mix_temperature float discipline (single
    # IEEE ops on bit-identical operands + 6-dp FLOOR quantization)
    "q_url_downweight": _URL_CTES
    + """
        , dw AS (
            SELECT canon.doc_id, canon.canonical_url, d.n_chars,
                   COUNT(*) OVER (PARTITION BY canonical_url) AS copies
            FROM canon JOIN documents d USING (doc_id))
        SELECT doc_id, canonical_url, copies,
               FLOOR(1.0 / CAST(copies AS DOUBLE) * 1000000.0 + 0.5)
                   / 1000000.0 AS sample_weight,
               FLOOR(CAST(n_chars AS DOUBLE)
                     * (FLOOR(1.0 / CAST(copies AS DOUBLE)
                              * 1000000.0 + 0.5) / 1000000.0)
                     * 1000000.0 + 0.5) / 1000000.0 AS effective_chars
        FROM dw
    """,
    "q_sample_domain_cap": _URL_CTES
    + f"""
        , keepers AS (
            SELECT MIN(doc_id) AS doc_id, domain
            FROM canon GROUP BY canonical_url, domain)
        SELECT doc_id, domain, n_chars,
               CAST(rank_in_domain AS INT) AS rank_in_domain
        FROM (
            SELECT k.doc_id, k.domain, d.n_chars,
                   ROW_NUMBER() OVER (PARTITION BY k.domain
                                      ORDER BY d.n_chars DESC, k.doc_id)
                       AS rank_in_domain
            FROM keepers k JOIN documents d USING (doc_id))
        WHERE rank_in_domain <= {DOMAIN_CAP}
    """,
    "q_sample_source_cap": f"""
        SELECT doc_id, source, n_chars,
               CAST(rank_in_source AS INT) AS rank_in_source
        FROM (
            SELECT doc_id, source, n_chars,
                   ROW_NUMBER() OVER (PARTITION BY source
                                      ORDER BY n_chars DESC, doc_id)
                       AS rank_in_source
            FROM documents)
        WHERE rank_in_source <= {SOURCE_CAP}
    """,
    "q_scd2_lookup": """
        WITH dim AS (
            SELECT o_custkey AS custkey, o_orderstatus AS status,
                   o_orderdate AS valid_from, o_orderkey AS seq_key
            FROM (
                SELECT o_custkey, o_orderstatus, o_orderdate, o_orderkey,
                       LAG(o_orderstatus) OVER (
                           PARTITION BY o_custkey
                           ORDER BY o_orderdate, o_orderkey) AS prev
                FROM orders)
            WHERE prev IS NULL OR o_orderstatus <> prev),
        bounds AS (
            SELECT CAST(MIN(o_orderdate) AS DATE) AS lo,
                   CAST(MAX(o_orderdate) AS DATE) AS hi
            FROM orders),
        probes AS (
            SELECT lo + CAST(FLOOR(k * date_diff('day', lo, hi) / 5.0)
                             AS INTEGER) AS probe_date
            FROM bounds, generate_series(0, 5) t(k)),
        grid AS (
            SELECT DISTINCT o_custkey AS custkey, p.probe_date
            FROM orders CROSS JOIN probes p),
        cand AS (
            SELECT g.custkey, g.probe_date, d.status, d.valid_from,
                   d.seq_key
            FROM grid g
            LEFT JOIN dim d
              ON d.custkey = g.custkey AND d.valid_from <= g.probe_date),
        ranked AS (
            SELECT custkey, probe_date, status,
                   ROW_NUMBER() OVER (
                       PARTITION BY custkey, probe_date
                       ORDER BY valid_from DESC NULLS LAST,
                                seq_key DESC NULLS LAST) AS rn
            FROM cand)
        SELECT custkey, probe_date, status AS as_of_status
        FROM ranked WHERE rn = 1
    """,
    "q_profile_drift": """
        WITH d AS (
            SELECT *, CASE WHEN doc_id % 2 = 0 THEN 'ref' ELSE 'cand' END
                      AS slice
            FROM documents),
        prof AS (
            SELECT slice,
                   COUNT(*) AS n_rows,
                   COUNT(DISTINCT lang) AS lang_distinct,
                   COUNT(DISTINCT source) AS source_distinct,
                   SUM(CASE WHEN text IS NULL THEN 1 ELSE 0 END)
                       AS text_null_count,
                   CAST(FLOOR(CAST(SUM(CAST(n_chars AS DECIMAL(18,6)))
                                   AS DOUBLE)
                              / COUNT(n_chars) * 10000.0 + 0.5) AS BIGINT)
                       AS n_chars_mean_x1e4
            FROM d GROUP BY 1),
        lc AS (
            SELECT slice, lang, COUNT(*) AS cnt,
                   ROW_NUMBER() OVER (PARTITION BY slice
                                      ORDER BY COUNT(*) DESC, lang) AS rk
            FROM d GROUP BY slice, lang),
        ms AS (
            SELECT l.slice,
                   CAST(FLOOR(l.cnt * 1000000 / p.n_rows) AS BIGINT)
                       AS top_lang_share_ppm
            FROM lc l JOIN prof p ON p.slice = l.slice
            WHERE l.rk = 1),
        stacked AS (
            SELECT p.slice, u.metric, u.value
            FROM prof p JOIN ms m ON m.slice = p.slice,
            LATERAL (VALUES
                ('n_rows', p.n_rows),
                ('lang_distinct', p.lang_distinct),
                ('source_distinct', p.source_distinct),
                ('text_null_count', p.text_null_count),
                ('n_chars_mean_x1e4', p.n_chars_mean_x1e4),
                ('top_lang_share_ppm', m.top_lang_share_ppm)
            ) AS u(metric, value))
        SELECT r.metric,
               CAST(r.value AS BIGINT) AS ref_value,
               CAST(c.value AS BIGINT) AS cand_value,
               CAST(c.value - r.value AS BIGINT) AS delta
        FROM stacked r JOIN stacked c ON r.metric = c.metric
        WHERE r.slice = 'ref' AND c.slice = 'cand'
    """,
    "q_table_checksum": _ck_oracle(),
    "q_skew_profile": f"""
        WITH per_key AS (
            SELECT l_suppkey, COUNT(*) AS cnt FROM lineitem GROUP BY 1),
        totals AS (
            SELECT COUNT(*) AS n_keys, SUM(cnt) AS total FROM per_key),
        ranked AS (
            SELECT ROW_NUMBER() OVER (ORDER BY cnt DESC, l_suppkey)
                       AS hot_rank,
                   l_suppkey, cnt, t.n_keys, t.total
            FROM per_key CROSS JOIN totals t)
        SELECT hot_rank, l_suppkey, cnt,
               CAST(FLOOR(cnt * 1000000 / total) AS BIGINT) AS share_ppm,
               CAST(FLOOR(cnt * n_keys * 1000 / total) AS BIGINT)
                   AS hot_x1000
        FROM ranked WHERE hot_rank <= {SKEW_TOP_K}
    """,
    "q_sample_hash": f"""
        SELECT doc_id, lang, source, n_chars
        FROM documents
        WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '{HASH_SAMPLE_HEX_LT}'
    """,
    "q_sample_stratified": f"""
        SELECT doc_id, lang, stratum_rank
        FROM (SELECT doc_id, lang,
                     row_number() OVER (PARTITION BY lang
                         ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
                         AS stratum_rank,
                     count(*) OVER (PARTITION BY lang) AS stratum_size
              FROM documents)
        WHERE stratum_rank <= ceil(stratum_size * {STRATIFIED_FRACTION})
    """,
    "q_scd2_compress": """
        SELECT o_custkey, o_orderstatus AS status,
               o_orderdate AS valid_from,
               lead(o_orderdate) OVER (PARTITION BY o_custkey
                   ORDER BY o_orderdate, o_orderkey) AS valid_to,
               CAST(lead(o_orderdate) OVER (PARTITION BY o_custkey
                   ORDER BY o_orderdate, o_orderkey) IS NULL AS INT)
                   AS is_current
        FROM (SELECT o_custkey, o_orderstatus, o_orderdate, o_orderkey,
                     lag(o_orderstatus) OVER (PARTITION BY o_custkey
                         ORDER BY o_orderdate, o_orderkey) AS _prev
              FROM orders)
        WHERE _prev IS NULL OR o_orderstatus <> _prev
    """,
    "q_profile_columns": """
        WITH base AS (SELECT * FROM documents)
        SELECT count(*) AS n_rows, 'doc_id' AS column_name,
               CAST(sum(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_nulls,
               count(DISTINCT doc_id) AS n_distinct FROM base
        UNION ALL
        SELECT count(*), 'text',
               CAST(sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS BIGINT),
               count(DISTINCT text) FROM base
        UNION ALL
        SELECT count(*), 'lang',
               CAST(sum(CASE WHEN lang IS NULL THEN 1 ELSE 0 END) AS BIGINT),
               count(DISTINCT lang) FROM base
        UNION ALL
        SELECT count(*), 'source',
               CAST(sum(CASE WHEN source IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT),
               count(DISTINCT source) FROM base
        UNION ALL
        SELECT count(*), 'n_chars',
               CAST(sum(CASE WHEN n_chars IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT),
               count(DISTINCT n_chars) FROM base
    """,
    "q_sample_token_budget": r"""
        SELECT doc_id, source, ws_tokens, cum_tokens FROM (
            SELECT doc_id, source,
                   len(string_split_regex(trim(text), '\s+')) AS ws_tokens,
                   CAST(SUM(len(string_split_regex(trim(text), '\s+')))
                            OVER (PARTITION BY source
                                  ORDER BY md5(CAST(doc_id AS VARCHAR)),
                                           doc_id
                                  ROWS UNBOUNDED PRECEDING)
                        AS BIGINT) AS cum_tokens
            FROM documents)
        WHERE cum_tokens <= 20000
    """,
    # quality-ordered budget: the gate's scoring CTE (raw-score FLOOR
    # binning, empty-doc exclusion) + the same per-source running-sum
    # window, ordered quality DESC with the md5 key breaking ties
    # inside a bin
    "q_sample_token_budget_quality": r"""
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
                           * 0.05) * 1000) AS BIGINT) AS quality_bin
            FROM documents
            WHERE len(string_split_regex(trim(text), '\s+')) > 0
              AND length(text) > 0)
        SELECT doc_id, source, quality_bin, ws_tokens, cum_tokens FROM (
            SELECT d.doc_id, d.source, b.quality_bin,
                   len(string_split_regex(trim(d.text), '\s+')) AS ws_tokens,
                   CAST(SUM(len(string_split_regex(trim(d.text), '\s+')))
                            OVER (PARTITION BY d.source
                                  ORDER BY b.quality_bin DESC,
                                           md5(CAST(d.doc_id AS VARCHAR)),
                                           d.doc_id
                                  ROWS UNBOUNDED PRECEDING)
                        AS BIGINT) AS cum_tokens
            FROM documents d JOIN b USING (doc_id))
        WHERE cum_tokens <= 20000
    """,
    "q_sample_weighted": f"""
        SELECT doc_id, source, n_chars,
               n_chars / ((CAST(concat('0x',
                       substr(md5(CAST(doc_id AS VARCHAR)), 1, 12))
                   AS BIGINT) + 1) / {float(2**48)!r}) AS priority
        FROM documents
        ORDER BY priority DESC, doc_id
        LIMIT {WEIGHTED_SAMPLE_K}
    """,
    "q_split_train_val_test": f"""
        SELECT doc_id, source,
               CAST(concat('0x',
                       substr(md5(CAST(doc_id AS VARCHAR)), 1, 12))
                   AS BIGINT) % 100 AS bucket,
               CASE WHEN CAST(concat('0x',
                           substr(md5(CAST(doc_id AS VARCHAR)), 1, 12))
                       AS BIGINT) % 100 < {SPLIT_TRAIN_LT} THEN 'train'
                    WHEN CAST(concat('0x',
                           substr(md5(CAST(doc_id AS VARCHAR)), 1, 12))
                       AS BIGINT) % 100 < {SPLIT_VAL_LT} THEN 'val'
                    ELSE 'test' END AS split
        FROM documents
    """,
}

# Leakage-safe split twin: the dedup module's recursive-CTE component
# fixpoint supplies the doc -> cluster-root labels; the bucket/split
# arithmetic is the identical md5 rendering as q_split_train_val_test,
# applied to the root (split) and the doc (naive comparison flag).
from breweries_case_spark.operators.dedup import (  # noqa: E402
    _CLUSTERS_CTES as _DEDUP_CLUSTERS_CTES,
)

ORACLES["q_split_leakage_safe"] = (
    _DEDUP_CLUSTERS_CTES
    + f"""
        SELECT doc_id, source, cluster_root,
               CASE WHEN rb < {SPLIT_TRAIN_LT} THEN 'train'
                    WHEN rb < {SPLIT_VAL_LT} THEN 'val'
                    ELSE 'test' END AS split,
               CASE WHEN (CASE WHEN rb < {SPLIT_TRAIN_LT} THEN 'train'
                               WHEN rb < {SPLIT_VAL_LT} THEN 'val'
                               ELSE 'test' END)
                    <> (CASE WHEN nb < {SPLIT_TRAIN_LT} THEN 'train'
                             WHEN nb < {SPLIT_VAL_LT} THEN 'val'
                             ELSE 'test' END)
                    THEN 1 ELSE 0 END AS reassigned
        FROM (
            SELECT d.doc_id, d.source, l.cluster_id AS cluster_root,
                   CAST(concat('0x', substr(md5(
                       CAST(l.cluster_id AS VARCHAR)), 1, 12))
                       AS BIGINT) % 100 AS rb,
                   CAST(concat('0x', substr(md5(
                       CAST(d.doc_id AS VARCHAR)), 1, 12))
                       AS BIGINT) % 100 AS nb
            FROM documents d JOIN labels l USING (doc_id))
    """
)
