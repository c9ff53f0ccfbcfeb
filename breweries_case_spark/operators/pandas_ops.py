"""Python-execution surface: grouped ``applyInPandas`` and a Python UDTF
(SURVEY §2.8 — the reference has no custom-code path at all; these are
the engine's additive slow-path escapes, Arrow-batched end to end).

Stance: Python is the ESCAPE HATCH, not the hot path — both operators
here are deliberately chosen so a pure-SQL DuckDB oracle can check them
bit-for-bit, proving the Arrow round trip (types, nulls, grouping,
lateral multiplicity) is lossless. Anything expressible as built-in
Columns stays JVM-side (see operators/text.py for the fast twins).

Scale notes: applyInPandas shuffles once on the grouping key and streams
each group through Arrow — group size, not table size, must fit in
worker memory (lang groups here; at 100 TB you'd sub-salt giant groups
or switch to window functions). A UDTF evaluates per-row with Arrow
batching and its lateral expansion multiplies rows — partition counts
must account for output, not input, cardinality."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from breweries_case_spark.functions import tokens
from breweries_case_spark.io.reader import load_table, spread

CHUNK_TOKENS = 10


def q_applyinpandas_minmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-lang min-max normalization of n_chars via grouped
    applyInPandas — the canonical "per-group model/statistic" shape
    (fit-per-group, transform-within-group) that built-in aggregates
    can't express once the per-group logic grows arbitrary Python.
    Here the logic is KEPT oracle-expressible (window min/max in SQL) so
    the Arrow path itself is what's under test: integer subtraction is
    exact, the final double division is IEEE-identical in both engines,
    and a constant group yields NULL (DuckDB NULLIF twin)."""
    import pandas as pd

    def _norm(pdf: pd.DataFrame) -> pd.DataFrame:
        lo, hi = pdf["n_chars"].min(), pdf["n_chars"].max()
        rng = hi - lo
        if rng == 0:
            pdf["norm"] = None
        else:
            pdf["norm"] = (pdf["n_chars"] - lo) / rng
        return pdf[["doc_id", "lang", "n_chars", "norm"]]

    d = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    return d.groupBy("lang").applyInPandas(
        _norm, "doc_id long, lang string, n_chars long, norm double"
    )


def q_udtf_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF splitting each document into fixed 10-token chunks —
    the table-function surface (one input row → N output rows via
    LATERAL), the shape used for chunking documents ahead of embedding
    in a training-data pipeline. Tokenization matches the engine's
    _norm_tokens (trim → lower → split on whitespace) so the DuckDB
    list-slicing oracle reproduces it exactly."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="chunk_idx int, chunk_text string, n_tokens int")
    class ChunkTokens:
        def eval(self, text: str, k: int):
            toks = text.strip().lower().split()
            for i in range(0, len(toks), k):
                chunk = toks[i : i + k]
                yield i // k, " ".join(chunk), len(chunk)

    spark.udtf.register("chunk_tokens", ChunkTokens)
    spread(load_table(spark, sf_dir, "documents")).createOrReplaceTempView(
        "_udtf_docs"
    )
    return spark.sql(
        f"""
        SELECT d.doc_id, t.chunk_idx, t.chunk_text, t.n_tokens
        FROM _udtf_docs d, LATERAL chunk_tokens(d.text, {CHUNK_TOKENS}) t
        """
    )


PACK_CAP_TOKENS = 512


def ffd_pack(sizes: list[int], cap: int) -> list[int]:
    """First-fit packing of pre-ordered sizes into bins of capacity
    ``cap``: returns the bin id per input position. Pure function (the
    per-group kernel of q_pack_sequences) so the invariants are
    property-testable without a JVM. An item larger than cap gets a bin
    of its own — no item is ever dropped."""
    fills: list[int] = []
    out: list[int] = []
    for s in sizes:
        placed = None
        for i, fill in enumerate(fills):
            if fill + s <= cap:
                placed = i
                break
        if placed is None:
            fills.append(int(s))
            placed = len(fills) - 1
        else:
            fills[placed] += int(s)
        out.append(placed)
    return out


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing for LLM pre-training: greedily pack documents into
    bins of ≤ PACK_CAP_TOKENS whitespace tokens per lang (first-fit
    decreasing), the step that turns a ragged corpus into fixed-budget
    training rows. Token counts are computed JVM-side (narrow size/split
    — the Python stage sees only (doc_id, n_tokens) pairs, never text);
    the inherently sequential FFD loop runs per-lang in applyInPandas.
    Deterministic: FFD order is (n_tokens DESC, doc_id), so the packing
    is a pure function of the group — layout- and retry-invariant.
    Rows-only (greedy packing has no SQL twin); unit tests pin the
    invariants (every doc exactly once, no bin over cap unless a single
    doc alone exceeds it, bin ids dense from 0).

    Scale: one shuffle on lang; each group streams through Arrow sorted,
    and the loop is O(n·open_bins). Giant strata sub-shard by a hash
    prefix of doc_id (pack quality is unaffected — packing is per-shard
    greedy either way); the cap per Arrow batch is group size, same
    contract as q_applyinpandas_minmax."""
    import pandas as pd

    def _pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(
            ["n_tokens", "doc_id"], ascending=[False, True]
        ).reset_index(drop=True)
        bin_ids = ffd_pack(list(pdf["n_tokens"]), PACK_CAP_TOKENS)
        fills: dict[int, int] = {}
        for b, nt in zip(bin_ids, pdf["n_tokens"]):
            fills[b] = fills.get(b, 0) + int(nt)
        pdf["bin_id"] = bin_ids
        pdf["bin_fill"] = [fills[b] for b in bin_ids]
        return pdf[["doc_id", "lang", "n_tokens", "bin_id", "bin_fill"]]

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        F.size(tokens(F.col("text"), drop_empty=False)).alias("n_tokens"),
    )
    return d.groupBy("lang").applyInPandas(
        _pack, "doc_id long, lang string, n_tokens int, bin_id int, bin_fill int"
    )


def q_pack_nextfit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEXT-FIT sequence packing, fully value-oracled: documents in
    arrival order (doc_id ASC) per lang, each appended to the CURRENT
    bin if it fits in PACK_CAP_TOKENS, else opening a new bin — the
    packing a streaming pre-tokenizer actually runs, because it never
    revisits a closed bin (O(1) state, bins emit as soon as they close;
    FFD — q_pack_sequences — trades that for tighter bins and is
    certificate-checked instead). Output: (doc_id, lang, n_tokens,
    bin_idx, offset_in_bin).

    Unlike FFD, next-fit IS SQL-expressible: the bin assignment is a
    prefix-scan recurrence, so the oracle replays it as a recursive CTE
    advancing every lang's chain one row per step — a full value oracle
    where the FFD twin can only certify invariants. The Spark side runs
    the inherently sequential loop per-lang in applyInPandas (the
    honest applyInPandas use-case: built-ins cannot express a stateful
    scan whose state resets on a data-dependent condition); token
    counts are computed JVM-side, the Python stage sees (doc_id,
    n_tokens) only. Docs larger than the cap occupy a bin alone.

    Scale: one shuffle on lang; the loop is O(n) with O(1) state.
    Giant strata sub-shard by hash prefix exactly as q_pack_sequences
    documents — next-fit quality is shard-invariant."""
    import pandas as pd

    def _pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("doc_id").reset_index(drop=True)
        bins, offs = [], []
        b = 0
        end = None  # tokens used in current bin; None = no bin yet
        for n in pdf["n_tokens"]:
            n = int(n)
            if end is None:
                b, off, end = 0, 0, n
            elif end + n <= PACK_CAP_TOKENS:
                off = end
                end += n
            else:
                b += 1
                off = 0
                end = n
            bins.append(b)
            offs.append(off)
        pdf["bin_idx"] = bins
        pdf["offset_in_bin"] = offs
        return pdf[["doc_id", "lang", "n_tokens", "bin_idx", "offset_in_bin"]]

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        F.size(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias(
            "n_tokens"
        ),
    )
    return d.groupBy("lang").applyInPandas(
        _pack,
        "doc_id long, lang string, n_tokens int, bin_idx int, "
        "offset_in_bin int",
    )


#: fixed training-example length for concat-and-cut packing
PACK_SEQ_LEN = 256
#: range partitions for the distributed prefix scan (any value works —
#: the two-phase scan is partition-boundary-invariant by construction)
PACK_SCAN_PARTS = 8


def concat_scan(d: DataFrame, key: str, order_cols: list[str]) -> DataFrame:
    """Two-phase distributed EXCLUSIVE PREFIX SUM of ``n_tokens`` per
    ``key`` in (key, *order_cols) order — the Blelloch scan behind
    concat-and-cut packing, factored out so q_pack_concat (key=lang,
    order=doc_id) and q_curation_pipeline's stage-3 pack (key=stage,
    order=(order_key, doc_id)) provably run ONE implementation (the
    training_mix shared-helper rule). Appends start_offset /
    example_first / example_last to ``d``'s columns.

    (1) range-partition by (key, *order_cols) and reduce each partition
    to per-(partition, key) subtotals — a partition-count-sized
    aggregate collected to the driver; (2) the driver computes each
    partition's per-key base offset and broadcasts it; (3) a NARROW
    mapInPandas pass re-walks each sorted partition from its base. One
    range exchange total, partition-boundary-INVARIANT by construction
    (the oracle proves it: a plain per-key window cumsum). int64 only."""
    import pandas as pd

    from pyspark.sql import types as T

    spark = d.sparkSession
    parts = (
        d.repartitionByRange(PACK_SCAN_PARTS, key, *order_cols)
        .sortWithinPartitions(key, *order_cols)
        .withColumn("pid", F.spark_partition_id())
        .localCheckpoint()  # pin partitioning: both phases see one layout
    )
    # phase 1: per-(partition, key) subtotals — parts × keys rows
    partials = parts.groupBy("pid", key).agg(
        F.sum("n_tokens").alias("subtotal")
    ).collect()
    base: dict[tuple[int, object], int] = {}
    running: dict[object, int] = {}
    for r in sorted(partials, key=lambda r: (r[key], r["pid"])):
        base[(r["pid"], r[key])] = running.get(r[key], 0)
        running[r[key]] = running.get(r[key], 0) + int(r["subtotal"])
    base_b = spark.sparkContext.broadcast(base)

    # phase 2: narrow re-walk of each sorted partition from its base
    def _scan(batches) -> "pd.DataFrame":
        run: dict[object, int] = {}
        for pdf in batches:
            starts = []
            for pid, k, n in zip(
                pdf["pid"].tolist(),
                pdf[key].tolist(),
                pdf["n_tokens"].tolist(),
            ):
                if k not in run:
                    run[k] = base_b.value.get((int(pid), k), 0)
                starts.append(run[k])
                run[k] += int(n)
            out = pdf.drop(columns=["pid"]).copy()
            out["start_offset"] = pd.Series(starts, dtype="int64")
            out["example_first"] = out["start_offset"] // PACK_SEQ_LEN
            out["example_last"] = (
                out["start_offset"] + out["n_tokens"] - 1
            ) // PACK_SEQ_LEN
            yield out

    out_schema = T.StructType(
        [f for f in parts.schema.fields if f.name != "pid"]
        + [
            T.StructField("start_offset", T.LongType(), False),
            T.StructField("example_first", T.LongType(), False),
            T.StructField("example_last", T.LongType(), False),
        ]
    )
    return parts.mapInPandas(_scan, out_schema)


def q_pack_concat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-cut example packing — the GPT-style alternative to
    bin packing (q_pack_sequences/q_pack_nextfit): per lang, documents
    are concatenated in arrival order (doc_id ASC) into one token
    stream that is cut into fixed PACK_SEQ_LEN-token training examples;
    each doc gets its global token start_offset and the first/last
    example indices it lands in (example_last > example_first ⇔ the doc
    is split across an example boundary — the quantity a packing owner
    monitors, since boundary-split docs lose context).

    The start offset is a per-lang EXCLUSIVE PREFIX SUM over doc_id
    order — on 100 TB the naive formulation (one window per lang) is
    the classic scan anti-pattern: every lang funnels through a single
    task. This operator instead runs the shared two-phase distributed
    scan (``concat_scan`` — Blelloch; one range exchange, driver-side
    base offsets over ≤ parts × langs numbers, narrow re-walk;
    partition-boundary-invariant, which the plain per-lang window
    cumsum oracle proves). All arithmetic is int64 — exact on both
    engines."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        F.size(F.split(F.lower(F.trim(F.col("text"))), r"\s+"))
        .cast("long")
        .alias("n_tokens"),
    )
    return concat_scan(d, "lang", ["doc_id"])


def q_pack_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The training-example MANIFEST — the artifact a dataloader
    actually consumes after concat-and-cut packing: one row per
    (example, doc) slice, saying which tokens of which doc fill which
    part of which fixed-length example. Composes q_pack_concat (per-doc
    start offsets from the distributed prefix scan), then explodes each
    doc over its example range [example_first .. example_last]; the
    slice arithmetic is pure int64 interval overlap —
    tokens_in_example = min(s+n, (e+1)·L) − max(s, e·L),
    offset_in_example = max(s, e·L) − e·L. The 1→N expansion runs as
    explode(sequence(...)) inside the stage that already holds the
    offsets — no further shuffle; fanout per doc is ≤ n/L + 1 by
    construction. Invariant the oracle enforces by value equality:
    per-(lang, example) slices sum to exactly PACK_SEQ_LEN except each
    lang's final partial example."""
    packed = q_pack_concat(spark, sf_dir)
    L = F.lit(PACK_SEQ_LEN)
    e = F.col("example_id")
    ex_start = e * L
    ex_end = (e + 1) * L
    s = F.col("start_offset")
    doc_end = s + F.col("n_tokens")
    return (
        packed.withColumn(
            "example_id",
            F.explode(
                F.sequence(F.col("example_first"), F.col("example_last"))
            ),
        )
        .select(
            "lang",
            "example_id",
            "doc_id",
            (F.least(doc_end, ex_end) - F.greatest(s, ex_start)).alias(
                "tokens_in_example"
            ),
            (F.greatest(s, ex_start) - ex_start).alias(
                "offset_in_example"
            ),
        )
    )


def q_pack_invariants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-checked certificate for FFD sequence packing (greedy packing
    has no SQL twin, but its CONTRACT does — the certificate pattern of
    q_dedup_blocker_recall). Rows ``(check_name, value)``:

    - ``docs_packed`` / ``total_tokens``: every document packed, total
      whitespace-token mass conserved — both RECOMPUTED by the oracle
      from raw text, anchoring the certificate.
    - ``duplicate_doc_assignments``: docs appearing in more than one bin
      (0 — packing is a partition).
    - ``bin_fill_mismatches``: bins whose published fill ≠ the sum of
      their members' tokens (0 — the emitted fill is honest).
    - ``overfull_multi_doc_bins``: bins over PACK_CAP_TOKENS holding
      more than one doc (0 — only a single oversized doc may exceed the
      cap, alone).
    - ``non_dense_bin_id_langs``: langs whose bin ids are not exactly
      0..n-1 (0).
    - ``half_empty_bin_violating_langs``: langs with MORE THAN ONE bin
      at most half full — impossible for any first-fit packing (the
      second half-empty bin's first item would have fit the first), so
      this is a sound theorem, not a dataset floor; a regression to a
      worse placement heuristic trips it. (The classic 11/9 FFD bound
      is relative to OPT, which no SQL oracle can recompute — a
      volume-lower-bound stand-in would falsely red on corpora of
      just-over-half-cap docs, so it is deliberately NOT checked.)"""
    packed = q_pack_sequences(spark, sf_dir).localCheckpoint()
    n_packed = packed.count()
    n_distinct = packed.select("doc_id").distinct().count()
    total_tokens = int(packed.agg(F.sum("n_tokens")).collect()[0][0])

    bins = packed.groupBy("lang", "bin_id").agg(
        F.count("*").alias("n_docs"),
        F.max("bin_fill").alias("fill_max"),
        F.min("bin_fill").alias("fill_min"),
        F.sum("n_tokens").alias("tok"),
    )
    fill_mismatch = bins.filter(
        (F.col("fill_max") != F.col("tok"))
        | (F.col("fill_min") != F.col("tok"))
    ).count()
    overfull = bins.filter(
        (F.col("tok") > PACK_CAP_TOKENS) & (F.col("n_docs") > 1)
    ).count()
    density = bins.groupBy("lang").agg(
        (F.max("bin_id") + 1).alias("mx"),
        F.countDistinct("bin_id").alias("nd"),
    )
    gaps = density.filter(F.col("mx") != F.col("nd")).count()
    half_empty = bins.filter(
        F.col("tok") * 2 <= F.lit(PACK_CAP_TOKENS)
    )
    bound_violations = (
        half_empty.groupBy("lang")
        .agg(F.count("*").alias("n_half"))
        .filter(F.col("n_half") > 1)
        .count()
    )

    rows = [
        ("docs_packed", n_packed),
        ("duplicate_doc_assignments", n_packed - n_distinct),
        ("total_tokens", total_tokens),
        ("bin_fill_mismatches", fill_mismatch),
        ("overfull_multi_doc_bins", overfull),
        ("non_dense_bin_id_langs", gaps),
        ("half_empty_bin_violating_langs", bound_violations),
    ]
    return spark.createDataFrame(rows, "check_name string, value long")


def q_pandas_grouped_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom UDAF via a GROUPED_AGG pandas_udf: per-returnflag trimmed
    mean of l_quantity (drop one min and one max occurrence, average the
    rest) — the aggregate-API shape the other two operators here don't
    cover (applyInPandas = grouped MAP, UDTF = lateral; this is grouped
    REDUCE, usable inside ``.agg`` beside built-ins and partially
    Arrow-batched per group).

    Oracle-exactness argument: l_quantity values are integral doubles,
    so pandas' ``s.sum()`` is exact regardless of reduce order (< 2^53),
    min/max are exact, and the single division is one IEEE op — the
    same no-transcendentals discipline as functions/numeric.py. Scale:
    one shuffle on the group key; a GROUPED_AGG UDF must see each group
    whole, so giant groups need the same sub-salt + re-merge treatment
    as applyInPandas (trimmed mean is not losslessly mergeable — the
    min/max must be global)."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def _tm(s):
        n = len(s)
        if n <= 2:
            # None -> SQL NULL, matching the oracle's CASE guard; NaN
            # would diverge (DuckDB's division yields error/inf, and
            # NaN != NULL in the driver's value hash anyway)
            return None
        return float((s.sum() - s.min() - s.max()) / (n - 2))

    # real annotation objects (Series -> float selects the GROUPED_AGG
    # eval type); the module's `from __future__ import annotations`
    # would stringify inline hints and break the inference
    _tm.__annotations__ = {"s": pd.Series, "return": float}
    trimmed_mean = pandas_udf("double")(_tm)

    li = load_table(spark, sf_dir, "lineitem")
    # Spark forbids mixing a GROUPED_AGG pandas UDF with non-pandas
    # aggregates in one .agg (INVALID_PANDAS_UDF_PLACEMENT), so the row
    # count comes from a second tiny aggregate joined back (3 groups —
    # AQE broadcasts it)
    tm = li.groupBy("l_returnflag").agg(
        trimmed_mean(F.col("l_quantity")).alias("_tm")
    )
    counts = li.groupBy("l_returnflag").agg(F.count("*").alias("n_rows"))
    return tm.join(counts, "l_returnflag").select(
        "l_returnflag",
        "n_rows",
        (F.floor(F.col("_tm") * 1e6 + F.lit(0.5)) / 1e6).alias(
            "trimmed_mean_qty"
        ),
    )


QUERIES = {
    "q_applyinpandas_minmax": q_applyinpandas_minmax,
    "q_pandas_grouped_agg": q_pandas_grouped_agg,
    "q_udtf_chunks": q_udtf_chunks,
    "q_pack_sequences": q_pack_sequences,
    "q_pack_invariants": q_pack_invariants,
    "q_pack_nextfit": q_pack_nextfit,
    "q_pack_concat": q_pack_concat,
    "q_pack_manifest": q_pack_manifest,
}

ORACLES = {
    # concat-and-cut packing: the distributed two-phase prefix scan must
    # equal the plain per-lang window cumsum — partition-boundary
    # invariance is exactly what this twin proves (int64 throughout)
    "q_pack_concat": rf"""
        WITH t AS (
            SELECT doc_id, lang,
                   CAST(len(string_split_regex(trim(lower(text)), '\s+'))
                        AS BIGINT) AS n_tokens
            FROM documents),
        s AS (
            SELECT doc_id, lang, n_tokens,
                   CAST(COALESCE(SUM(n_tokens) OVER (
                       PARTITION BY lang ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                       0) AS BIGINT) AS start_offset
            FROM t)
        SELECT doc_id, lang, n_tokens, start_offset,
               CAST(start_offset // {PACK_SEQ_LEN} AS BIGINT)
                   AS example_first,
               CAST((start_offset + n_tokens - 1) // {PACK_SEQ_LEN}
                    AS BIGINT) AS example_last
        FROM s
    """,
    # example manifest: the concat-scan oracle extended with a
    # generate_series lateral over each doc's example range and the
    # same int64 interval-overlap slice arithmetic
    "q_pack_manifest": rf"""
        WITH t AS (
            SELECT doc_id, lang,
                   CAST(len(string_split_regex(trim(lower(text)), '\s+'))
                        AS BIGINT) AS n_tokens
            FROM documents),
        s AS (
            SELECT doc_id, lang, n_tokens,
                   CAST(COALESCE(SUM(n_tokens) OVER (
                       PARTITION BY lang ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                       0) AS BIGINT) AS so
            FROM t)
        SELECT lang, CAST(e AS BIGINT) AS example_id, doc_id,
               CAST(least(so + n_tokens, (e + 1) * {PACK_SEQ_LEN})
                    - greatest(so, e * {PACK_SEQ_LEN}) AS BIGINT)
                   AS tokens_in_example,
               CAST(greatest(so, e * {PACK_SEQ_LEN})
                    - e * {PACK_SEQ_LEN} AS BIGINT) AS offset_in_example
        FROM s,
             unnest(generate_series(so // {PACK_SEQ_LEN},
                                    (so + n_tokens - 1) // {PACK_SEQ_LEN}))
                 AS g(e)
    """,
    # packing certificate: doc count + token mass recomputed from raw
    # text; every structural residual pinned at zero
    # next-fit packing: the bin assignment is a prefix-scan recurrence,
    # replayed row by row as a recursive CTE advancing every lang's
    # chain one row per step — a FULL value oracle for a packing op
    # (FFD's q_pack_invariants can only certify its contract)
    "q_pack_nextfit": rf"""
        WITH RECURSIVE t AS (
            SELECT doc_id, lang,
                   CAST(len(string_split_regex(trim(lower(text)), '\s+'))
                        AS INT) AS n_tokens,
                   ROW_NUMBER() OVER (PARTITION BY lang ORDER BY doc_id)
                       AS rn
            FROM documents),
        r AS (
            SELECT doc_id, lang, n_tokens, rn,
                   0 AS bin_idx, 0 AS offset_in_bin, n_tokens AS bin_end
            FROM t WHERE rn = 1
            UNION ALL
            SELECT t.doc_id, t.lang, t.n_tokens, t.rn,
                   CASE WHEN r.bin_end + t.n_tokens <= {PACK_CAP_TOKENS}
                        THEN r.bin_idx ELSE r.bin_idx + 1 END,
                   CASE WHEN r.bin_end + t.n_tokens <= {PACK_CAP_TOKENS}
                        THEN r.bin_end ELSE 0 END,
                   CASE WHEN r.bin_end + t.n_tokens <= {PACK_CAP_TOKENS}
                        THEN r.bin_end + t.n_tokens ELSE t.n_tokens END
            FROM r JOIN t ON t.lang = r.lang AND t.rn = r.rn + 1)
        SELECT doc_id, lang, n_tokens,
               CAST(bin_idx AS INT) AS bin_idx,
               CAST(offset_in_bin AS INT) AS offset_in_bin
        FROM r
    """,
    "q_pack_invariants": r"""
        SELECT 'docs_packed' AS check_name,
               CAST(COUNT(*) AS BIGINT) AS value FROM documents
        UNION ALL SELECT 'duplicate_doc_assignments', 0
        UNION ALL SELECT 'total_tokens',
            (SELECT CAST(SUM(len(string_split_regex(trim(lower(text)), '\s+')))
                    AS BIGINT) FROM documents)
        UNION ALL SELECT 'bin_fill_mismatches', 0
        UNION ALL SELECT 'overfull_multi_doc_bins', 0
        UNION ALL SELECT 'non_dense_bin_id_langs', 0
        UNION ALL SELECT 'half_empty_bin_violating_langs', 0
    """,
    "q_pandas_grouped_agg": """
        SELECT l_returnflag,
               count(*) AS n_rows,
               CASE WHEN count(*) <= 2 THEN NULL ELSE
               FLOOR((SUM(l_quantity) - MIN(l_quantity) - MAX(l_quantity))
                     / (count(*) - 2) * 1000000.0 + 0.5) / 1000000.0
               END AS trimmed_mean_qty
        FROM lineitem
        GROUP BY l_returnflag
    """,
    "q_applyinpandas_minmax": """
        SELECT doc_id, lang, n_chars,
               CAST(n_chars - min(n_chars) OVER (PARTITION BY lang) AS DOUBLE)
               / NULLIF(max(n_chars) OVER (PARTITION BY lang)
                        - min(n_chars) OVER (PARTITION BY lang), 0) AS norm
        FROM documents
    """,
    "q_udtf_chunks": r"""
        WITH toks AS (
            SELECT doc_id,
                   string_split_regex(trim(lower(text)), '\s+') AS tk
            FROM documents)
        SELECT doc_id,
               i - 1 AS chunk_idx,
               array_to_string(tk[(i-1)*10 + 1 : (i-1)*10 + 10], ' ')
                   AS chunk_text,
               least(len(tk) - (i-1)*10, 10) AS n_tokens
        FROM toks,
             LATERAL (SELECT unnest(generate_series(
                 1, CAST(ceil(len(tk) / 10.0) AS BIGINT))) AS i) g
    """,
}
