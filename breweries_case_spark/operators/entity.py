"""Entity resolution: blocked Jaro–Winkler fuzzy matching and cluster
canonicalization — the record-linkage surface (north-star §2.9; the
reference's silver layer dedups only on exact keys,
`src/processors/breweries_silver_processors.py`, so fuzzy linkage is the
natural extension a real master-data pipeline needs).

Fixture note: the synthetic tables carry no dirty real-world name column
(c_name/s_name are zero-padded serials, p_name draws 5 words from a
92-word vocab — measured JW ≥ 0.94 for ALL same-block pairs, useless for
discrimination). So the fixture derives a high-entropy pseudo-address
per customer (md5 hex, regenerated identically by the DuckDB oracle —
same pattern as q_python_datasource's md5 payload) and perturbs a copy
in-query by one deterministic character drop. The OPERATORS — prefix
blocking, Arrow-batched JW verify, min-label clustering — are the
product; measured at sf0.01: blocking passes 10 182 of 2.25 M possible
pairs (0.45 %), threshold 0.9 keeps 1 358, all true links, 0 impostors.

The Python Jaro–Winkler below was verified bit-identical to DuckDB's
``jaro_winkler_similarity`` (rapidfuzz-derived) on adversarial cases
(transpositions, prefix boost, case, empty, disjoint) — same double
arithmetic ``(m/l1 + m/l2 + (m-t)/m)/3`` then ``j + l·0.1·(1−j)`` when
``j > 0.7`` — so the oracle can run the REAL similarity, not a proxy.

Scale: candidate generation is an equi-join on the block key (one
shuffle; block-size skew is the hazard — cap block width or add a second
blocking pass, exactly like LSH banding in dedup.py). The JW verify is a
pandas UDF: char-level O(l²) per pair has no numpy vectorization, but it
runs ONLY on blocked candidates (0.45 % here), Arrow-batched across
executors — the blocking ratio, not UDF speed, is the 100 TB lever, the
same candidates→verify economics as q_dedup_levenshtein_bounded."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from breweries_case_spark.io.reader import load_table

#: characters of md5-hex used as the pseudo-address
ADDR_LEN = 20
#: dirty-record ids are clean ids offset by this (disjoint node spaces)
DIRTY_OFFSET = 1_000_000
#: equality-blocking prefix width (chars)
BLOCK_PREFIX = 2
#: match threshold on raw (unrounded) Jaro–Winkler
JW_THRESHOLD = 0.9
#: staged-verify gate: bounded edit distance evaluated JVM-side BEFORE
#: the Python JW — part of the match contract (lev ≤ gate AND jw ≥ thr)
LEV_GATE = 2


def jaro_winkler(s1: str, s2: str) -> float:
    """Exact Jaro–Winkler, bit-identical to DuckDB's (see module doc)."""
    l1, l2 = len(s1), len(s2)
    if l1 == 0 or l2 == 0:
        # DuckDB scores ANY empty operand 0.0 — including both-empty,
        # where the textbook definition says 1.0. Match DuckDB.
        return 0.0
    window = max(l1, l2) // 2 - 1
    if window < 0:
        window = 0
    m1 = [False] * l1
    m2 = [False] * l2
    m = 0
    for i, c in enumerate(s1):
        lo = i - window if i > window else 0
        hi = min(l2, i + window + 1)
        for j in range(lo, hi):
            if not m2[j] and s2[j] == c:
                m1[i] = m2[j] = True
                m += 1
                break
    if m == 0:
        return 0.0
    t = 0
    j = 0
    for i in range(l1):
        if m1[i]:
            while not m2[j]:
                j += 1
            if s1[i] != s2[j]:
                t += 1
            j += 1
    t //= 2
    jaro = (m / l1 + m / l2 + (m - t) / m) / 3.0
    if jaro > 0.7:
        pre = 0
        for a, b in zip(s1[:4], s2[:4]):
            if a != b:
                break
            pre += 1
        jaro = jaro + pre * 0.1 * (1.0 - jaro)
    return jaro


def _jw_udf():
    """Arrow-batched JW verify; built lazily — pandas_udf needs an
    active session to resolve its return type."""

    @pandas_udf("double")
    def inner(a: pd.Series, b: pd.Series) -> pd.Series:
        return pd.Series(
            [jaro_winkler(x or "", y or "") for x, y in zip(a, b)],
            dtype="float64",
        )

    return inner


def _clean_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    return c.select(
        F.col("c_custkey").alias("clean_id"),
        F.substring(
            F.md5(F.concat(F.lit("addr"), F.col("c_custkey").cast("string"))),
            1,
            ADDR_LEN,
        ).alias("addr"),
    )


def _dirty_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perturbed copies: one md5-determined character dropped from each
    clean address — the typo'd re-entry of the same entity."""
    base = _clean_records(spark, sf_dir).withColumn(
        "_pos",
        (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.lit("pos"),
                            F.col("clean_id").cast("string"),
                        )
                    ),
                    1,
                    12,
                ),
                16,
                10,
            ).cast("long")
            % ADDR_LEN
        )
        + 1,
    )
    return base.select(
        (F.col("clean_id") + DIRTY_OFFSET).alias("dirty_id"),
        F.expr(
            "concat(substring(addr, 1, _pos - 1), "
            "substring(addr, _pos + 1, length(addr)))"
        ).alias("addr"),
    )


def _jw_pairs(
    spark: SparkSession, sf_dir: str, block_prefix: int = BLOCK_PREFIX
) -> DataFrame:
    """Blocked candidate pairs with raw JW attached (shared by both
    registered ids).

    ``block_prefix`` is the corpus-size dial: candidates scale as
    2n²/16^p, so p ≈ log₁₆(2n²/C) holds the candidate budget C as the
    corpus grows (p=2 at ~10⁴ records, p=4 at ~10⁶, p=5–6 at ~10⁸) — a
    config change, not a plan change; measured 4× corpus ⇒ 4.3× wall at
    fixed p=2 (SURVEY §6). Pigeonhole recall holds for any p ≤ len/2:
    one edit cannot change both ends.

    Dual-pass blocking (prefix block ∪ suffix block): a candidate pair
    must agree on the first OR the last BLOCK_PREFIX characters. A
    single-character edit cannot change both ends of a ≥ 2·prefix-char
    string, so true one-edit pairs have 100 % blocking recall — the
    pigeonhole argument of SimHash's chunk blocking and the standard
    multi-pass remedy for prefix-only blocking's dropped-first-char
    blind spot. Implemented as two equi-joins UNION'd then
    pair-deduplicated (NOT one OR-join, which Catalyst could only plan
    as a nested loop).

    Staged verify: blocking still leaves ~2·n²/16^p candidates (≈1.8 M
    at sf0.1) — far too many rows to hand a ~20 µs/pair Python UDF.
    Spark's bounded levenshtein(l, r, k) is whole-stage-codegen
    JVM-side and O(k·min(l₁,l₂)): it prunes candidates to ~the true
    pairs (measured 18.5 s → ~2 s at sf0.1), and the gate is part of
    the declared match contract (lev ≤ 2 AND jw ≥ 0.9), mirrored in
    the oracle, so the cascade changes cost, never semantics."""
    clean = _clean_records(spark, sf_dir)
    dirty = _dirty_records(spark, sf_dir)

    def blocked(prefix: bool) -> DataFrame:
        key = (
            F.substring("addr", 1, block_prefix)
            if prefix
            else F.substring("addr", -block_prefix, block_prefix)
        )
        return (
            clean.withColumn("block", key)
            .alias("c")
            .join(dirty.withColumn("block", key).alias("d"), "block")
            .filter(
                F.levenshtein(F.col("c.addr"), F.col("d.addr"), LEV_GATE)
                != F.lit(-1)
            )
            .select(
                "clean_id",
                "dirty_id",
                F.col("c.addr").alias("addr_c"),
                F.col("d.addr").alias("addr_d"),
            )
        )

    cand = (
        blocked(prefix=True)
        .unionByName(blocked(prefix=False))
        .dropDuplicates(["clean_id", "dirty_id"])
    )
    return cand.select(
        "clean_id",
        "dirty_id",
        _jw_udf()(F.col("addr_c"), F.col("addr_d")).alias("_jw"),
    ).filter(F.col("_jw") >= JW_THRESHOLD)


def q_join_jaro(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy record-linkage join: prefix-blocked candidates, a JVM-side
    bounded-levenshtein gate (≤ 2), then exact Jaro–Winkler ≥ 0.9 on the
    survivors. Plan: one block-keyed shuffle join, codegen edit-distance
    prune, Arrow-batched JW on ~the true-pair count (see module doc for
    the staged-verify scale argument)."""
    return _jw_pairs(spark, sf_dir).select(
        "clean_id",
        "dirty_id",
        (F.floor(F.col("_jw") * 1e6 + F.lit(0.5)) / 1e6).alias("jw"),
    )


def q_entity_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end entity resolution: blocked JW match edges → min-label
    connected components (reusing dedup's components engine) → one row
    per entity cluster with side counts. Matched clean/dirty re-entries
    collapse into one cluster keyed by the smallest record id; unmatched
    records stay singleton clusters (counted via the vertex union, not
    dropped). The master-data 'golden record' grouping."""
    from breweries_case_spark.operators.dedup import connected_components

    edges = _jw_pairs(spark, sf_dir).select(
        F.col("clean_id").alias("u"), F.col("dirty_id").alias("v")
    )
    clean_v = _clean_records(spark, sf_dir).select(
        F.col("clean_id").alias("node")
    )
    dirty_v = _dirty_records(spark, sf_dir).select(
        F.col("dirty_id").alias("node")
    )
    vertices = clean_v.unionByName(dirty_v)
    labels = connected_components(edges, vertices)
    return (
        labels.groupBy(F.col("label").alias("cluster_id"))
        .agg(
            F.count("*").alias("n_members"),
            F.sum((F.col("node") < DIRTY_OFFSET).cast("long")).alias(
                "n_clean"
            ),
            F.sum((F.col("node") >= DIRTY_OFFSET).cast("long")).alias(
                "n_dirty"
            ),
        )
        .select("cluster_id", "n_members", "n_clean", "n_dirty")
    )


_RECORDS_CTES = f"""
        clean AS (
            SELECT c_custkey AS clean_id,
                   substr(md5('addr' || CAST(c_custkey AS VARCHAR)),
                          1, {ADDR_LEN}) AS addr
            FROM customer),
        dirty AS (
            SELECT clean_id + {DIRTY_OFFSET} AS dirty_id,
                   concat(substr(addr, 1, pos - 1), substr(addr, pos + 1))
                       AS addr
            FROM (SELECT clean_id, addr,
                         1 + CAST(concat('0x',
                                 substr(md5('pos' ||
                                     CAST(clean_id AS VARCHAR)), 1, 12))
                             AS BIGINT) % {ADDR_LEN} AS pos
                  FROM clean)),
        pairs AS (
            SELECT clean_id, dirty_id,
                   jaro_winkler_similarity(c.addr, d.addr) AS jw_raw
            FROM clean c JOIN dirty d
              ON (substr(c.addr, 1, {BLOCK_PREFIX}) =
                  substr(d.addr, 1, {BLOCK_PREFIX})
                  OR substr(c.addr, length(c.addr) - {BLOCK_PREFIX - 1},
                            {BLOCK_PREFIX}) =
                     substr(d.addr, length(d.addr) - {BLOCK_PREFIX - 1},
                            {BLOCK_PREFIX}))
            WHERE levenshtein(c.addr, d.addr) <= {LEV_GATE}
              AND jaro_winkler_similarity(c.addr, d.addr)
                      >= {JW_THRESHOLD})
"""

QUERIES = {
    "q_join_jaro": q_join_jaro,
    "q_entity_resolution": q_entity_resolution,
}

ORACLES = {
    "q_join_jaro": "WITH "
    + _RECORDS_CTES
    + """
        SELECT clean_id, dirty_id,
               FLOOR(jw_raw * 1000000.0 + 0.5) / 1000000.0 AS jw
        FROM pairs
    """,
    "q_entity_resolution": "WITH RECURSIVE "
    + _RECORDS_CTES
    + f"""
        , edges AS (
            SELECT clean_id AS u, dirty_id AS v FROM pairs
            UNION SELECT dirty_id, clean_id FROM pairs),
        vertices AS (
            SELECT clean_id AS node FROM clean
            UNION ALL SELECT dirty_id FROM dirty),
        reach(u, l) AS (
            SELECT node, node FROM vertices
            UNION
            SELECT e.u, r.l FROM edges e JOIN reach r ON e.v = r.u),
        labels AS (SELECT u AS node, min(l) AS cluster_id
                   FROM reach GROUP BY u)
        SELECT cluster_id,
               count(*) AS n_members,
               CAST(sum(CASE WHEN node < {DIRTY_OFFSET} THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_clean,
               CAST(sum(CASE WHEN node >= {DIRTY_OFFSET} THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_dirty
        FROM labels GROUP BY cluster_id
    """,
}
