"""Git-like branches over snapshot-versioned tables — the Nessie analog:
the reference catalogs its Iceberg tables through Nessie
(`trino/etc/catalog/iceberg.properties:2-6`), whose core idea is named
refs over an immutable commit store — experiment on a branch against
production data, then merge or discard, without ever copying data
files.

This module re-expresses that PUBLIC design (Nessie refs / git branches)
on `io/snapshots.py`'s manifest log:

Layout (extends the snapshot layout)::

    table_dir/
      _manifests/v*.json            # trunk ("main") — unchanged
      _refs/<branch>/meta.json      # {"created_from": trunk version}
      _refs/<branch>/manifests/v*.json  # branch-local commit chain
      data/<commit-uuid>/...        # SHARED immutable data files

Protocol — a branch is one more manifest chain, listed, read and
committed by the snapshot log's own helpers (``_chain_versions``,
``_read_chain``, ``_commit``); this module only says what each commit
contains:
- **Create** claims ``_refs/<name>/meta.json`` with ``publish_json_excl``
  (exactly one creator) recording the trunk version the branch diverged
  from.
- **Branch commit** is the trunk's overwrite step on the branch chain:
  it carries forward from the branch head (or the divergence-point
  trunk manifest while the branch has no commits). Data files land in
  the shared ``data/`` dir — isolation is purely at the manifest layer,
  exactly as in Nessie, so a branch costs zero data copies.
- **Read** resolves a ref name to its head manifest and scans it like a
  trunk snapshot; trunk reads (`read_snapshot`) never see branch
  manifests — isolation both ways.
- **Merge into trunk** is Nessie's content-level three-way merge at
  partition granularity: base = the recorded divergence point, ours =
  trunk head, theirs = branch head. A partition changed on one side
  takes that side's files; changed on BOTH sides (to different content)
  raises ``MergeConflict`` listing the partitions — no silent
  last-writer-wins. The merge is a trunk commit step, so a lost version
  race re-runs the three-way walk against the new trunk head. The
  branch is then fast-forwarded onto the result by ONE direct head
  publish, so repeated merge cycles stay three-way.
- **Vacuum safety**: `snapshots.vacuum` retains every file referenced by
  any branch manifest (see its branch-aware live-set), so a branch can
  never have its data deleted from under it.

Scale notes: refs and manifests are metadata — O(partitions) JSON per
commit, zero data movement per branch/merge. At 100 TB this is the whole
point: an experiment branch over a petabyte table is a handful of JSON
files, and the merge publishes pointers, not rewrites."""

from __future__ import annotations

import json
import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession

from breweries_case_spark.io.snapshots import (
    _chain_path,
    _chain_versions,
    _commit,
    _read_chain,
    _read_manifest,
    _replace,
    _scan,
    _schema_of,
    _staged_schema,
    _trunk,
    latest_version,
    publish_json_excl,
    read_snapshot,
    stage_partition_files,
)

_REFS_DIR = "_refs"


class MergeConflict(Exception):
    """Both trunk and branch changed the same partitions since the
    divergence point; carries the conflicting partition values."""

    def __init__(self, partitions: list[str]):
        super().__init__(
            "trunk and branch both changed partitions: "
            + ", ".join(sorted(partitions))
        )
        self.partitions = sorted(partitions)


def _branch_dir(table_dir: str, name: str) -> str:
    return os.path.join(table_dir, _REFS_DIR, name)


def _branch_manifest_dir(table_dir: str, name: str) -> str:
    return os.path.join(_branch_dir(table_dir, name), "manifests")


def _branch_versions(table_dir: str, name: str) -> list[int]:
    return _chain_versions(_branch_manifest_dir(table_dir, name))


def _read_branch_manifest(table_dir: str, name: str, version: int) -> dict:
    return _read_chain(_branch_manifest_dir(table_dir, name), version)


def _read_meta(table_dir: str, name: str) -> dict:
    with open(os.path.join(_branch_dir(table_dir, name), "meta.json")) as f:
        return json.load(f)


def _divergence_manifest(table_dir: str, name: str) -> dict:
    return _read_manifest(table_dir, _read_meta(table_dir, name)["created_from"])


def _head(table_dir: str, name: str) -> dict:
    """Branch head manifest (the divergence-point trunk manifest for a
    commit-less branch)."""
    versions = _branch_versions(table_dir, name)
    if versions:
        return _read_branch_manifest(table_dir, name, versions[-1])
    return _divergence_manifest(table_dir, name)


def list_branches(table_dir: str) -> list[str]:
    refs = os.path.join(table_dir, _REFS_DIR)
    if not os.path.isdir(refs):
        return []
    return sorted(
        d
        for d in os.listdir(refs)
        if os.path.isfile(os.path.join(refs, d, "meta.json"))
    )


def create_branch(
    table_dir: str, name: str, from_version: int | None = None
) -> int:
    """Create ``name`` pointing at trunk ``from_version`` (default:
    latest). The exclusive claim on meta.json makes creation atomic and
    unique. Returns the divergence version.

    meta.json is published BEFORE the manifests dir exists: meta's
    ``created_from`` is the branch's only claim on trunk files until its
    first commit, so a vacuum racing creation must be able to read it the
    instant the branch becomes visible — the old manifests-first order
    left a window where a commit-less branch on an old base had NO
    readable claim and vacuum could reclaim its divergence point. Every
    reader tolerates the inverse window (meta present, manifests absent:
    ``_branch_versions`` returns [], and the commit loop makes the dir)."""
    base = latest_version(table_dir) if from_version is None else from_version
    if base is None:
        raise FileNotFoundError(f"no trunk snapshots under {table_dir!r}")
    bdir = _branch_dir(table_dir, name)
    os.makedirs(bdir, exist_ok=True)
    meta_path = os.path.join(bdir, "meta.json")
    if not publish_json_excl(
        meta_path, {"created_from": base, "created_at": time.time()}
    ):
        raise FileExistsError(meta_path)
    os.makedirs(os.path.join(bdir, "manifests"), exist_ok=True)
    return base


def commit_to_branch(
    df: DataFrame,
    table_dir: str,
    name: str,
    partition_col: str = "extraction_date",
) -> int:
    """Partition-overwrite commit onto a branch: data files go to the
    SHARED data dir; only the branch's manifest chain advances, through
    the same optimistic-retry commit loop as trunk commits."""
    touched = stage_partition_files(df, table_dir, partition_col)
    return _commit(
        _branch_manifest_dir(table_dir, name),
        _replace(touched, (), partition_col, _staged_schema(df, partition_col)),
        start=_divergence_manifest(table_dir, name),
    )


def read_branch(
    spark: SparkSession, table_dir: str, name: str
) -> DataFrame:
    """Read the branch head (the divergence-point trunk snapshot if the
    branch has no commits yet). Trunk reads never see branch state and
    vice versa — manifest-level isolation."""
    out = _scan(spark, table_dir, _head(table_dir, name))
    if out is None:
        raise ValueError(f"branch {name!r} head has no partitions")
    return out


def merge_branch(table_dir: str, name: str) -> int:
    """Three-way merge of the branch into trunk at partition
    granularity. Returns the new trunk version; raises ``MergeConflict``
    if trunk and branch both changed a partition to different content.

    After a successful merge the branch is FAST-FORWARDED onto the merge
    result: its divergence point advances to the merged trunk version
    AND its head is republished as the merged partition map (git's
    post-merge state — branch and trunk coincide until either commits
    again). Advancing only the base while leaving a stale head would
    make the next merge read every trunk partition the branch never saw
    as a branch-side DELETION and silently drop it — the repeated-merge
    data-loss path ``test_merge_cycles_preserve_trunk_divergence``
    pins."""
    meta = _read_meta(table_dir, name)
    base = _read_manifest(table_dir, meta["created_from"])["partitions"]
    head = _head(table_dir, name)
    theirs, pcol = head["partitions"], head["partition_col"]

    def step(trunk_head: dict) -> dict:
        ours = trunk_head["partitions"]
        merged = dict(ours)
        conflicts = []
        for key in set(base) | set(ours) | set(theirs):
            b, o, t = base.get(key), ours.get(key), theirs.get(key)
            branch_changed = t != b
            trunk_changed = o != b
            if branch_changed and trunk_changed and t != o:
                conflicts.append(key)
            elif branch_changed:
                if t is None:
                    merged.pop(key, None)
                else:
                    merged[key] = t
            # trunk-only changes are already in `merged` (copied from ours)
        if conflicts:
            raise MergeConflict(conflicts)
        return {
            "partition_col": pcol,
            **_schema_of(trunk_head),
            "partitions": merged,
            "merged_from": name,
        }

    version = _commit(_trunk(table_dir), step)
    # fast-forward the branch onto the merge result: advance the
    # divergence point AND republish the head as the merged map.
    # The two must move TOGETHER: if a concurrent commit_to_branch
    # claims this head version first, advancing created_from anyway
    # would pair the new base with a head built on the PRE-merge
    # map, so the next merge reads every partition that head never
    # saw as a branch-side deletion and silently drops trunk data
    # (the test_merge_cycles_preserve_trunk_divergence loss mode,
    # reintroduced under a race). On a lost race we leave the
    # branch DIVERGENT instead — base and head still agree, and the
    # next merge's three-way walk handles the already-landed keys
    # as t == o (same change both sides, no conflict, no loss). The
    # only cost is a possible surfaced MergeConflict if trunk later
    # rewrites one of those keys again — recoverable, unlike loss.
    mdir = _branch_manifest_dir(table_dir, name)
    bversions = _chain_versions(mdir)
    bversion = (bversions[-1] if bversions else 0) + 1
    merged_m = _read_manifest(table_dir, version)
    ff_won = publish_json_excl(
        _chain_path(mdir, bversion),
        {
            "version": bversion,
            "committed_at": time.time(),
            "partition_col": pcol,
            **_schema_of(merged_m),
            "partitions": merged_m["partitions"],
            "fast_forward_of": version,
        },
    )
    if ff_won:
        meta_path = os.path.join(_branch_dir(table_dir, name), "meta.json")
        # full publish_json_excl staging discipline, not just the
        # unique tmp name: a FIXED meta_path+'.tmp' would let two
        # concurrent merges truncate each other's staged file, and
        # replacing WITHOUT fsync can commit the rename metadata
        # before the data blocks — power loss then leaves an empty
        # meta.json that wedges every subsequent read/merge/vacuum
        tmp = f"{meta_path}.{uuid.uuid4().hex}.tmp"
        with open(tmp, "w") as f:
            json.dump({**meta, "created_from": version}, f)
            f.flush()
            os.fsync(f.fileno())
        try:
            os.replace(tmp, meta_path)
        except FileNotFoundError:
            # an aged-sidecar vacuum sweep beat us (≥15-min stall):
            # the head is already the merged map with base stale —
            # consistent (next merge sees t == o on every landed
            # key), just not fast-forwarded; don't crash a merge
            # that already published
            pass
    return version


def delete_branch(table_dir: str, name: str) -> None:
    """Drop the ref and its manifest chain (data files stay — they may
    be shared; vacuum reclaims unreferenced ones once the ref is gone)."""
    import shutil

    shutil.rmtree(_branch_dir(table_dir, name))


def q_branch_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered demonstration of the full branch lifecycle, VALUE-
    checked: trunk v1 holds the two busiest order days; a branch rewrites
    day 2 down to its min-orderkey row while trunk independently adds
    day 3; the three-way merge must land ALL THREE changes — day 1
    carried forward, the branch's day-2 rewrite, trunk's day 3 — with no
    conflict (disjoint partitions). Output: per-day order counts at each
    stage (trunk_v1 / branch / merged). The oracle recomputes every
    stage's expected counts straight from orders, so the driver checks
    the merge SEMANTICS, not just that files moved."""
    import tempfile

    from pyspark.sql import functions as F

    from breweries_case_spark.io.reader import load_table
    from breweries_case_spark.io.snapshots import commit_overwrite_partitions

    orders = load_table(spark, sf_dir, "orders").withColumn(
        "day", F.to_date(F.col("o_orderdate")).cast("string")
    )
    days = [
        r.day
        for r in orders.groupBy("day")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), "day")
        .limit(3)
        .collect()
    ]
    d1, d2, d3 = sorted(days)
    tdir = tempfile.mkdtemp(prefix="branch_")
    commit_overwrite_partitions(
        orders.filter(F.col("day").isin([d1, d2])), tdir, "day"
    )
    create_branch(tdir, "exp")
    keep_min = orders.filter(F.col("day") == d2).join(
        orders.filter(F.col("day") == d2)
        .groupBy("day")
        .agg(F.min("o_orderkey").alias("o_orderkey")),
        ["day", "o_orderkey"],
        "left_semi",
    )
    commit_to_branch(keep_min, tdir, "exp", "day")
    commit_overwrite_partitions(orders.filter(F.col("day") == d3), tdir, "day")
    branch_state = (
        read_branch(spark, tdir, "exp")
        .groupBy("day")
        .agg(F.count("*").alias("n"))
        .withColumn("stage", F.lit("branch"))
    )
    trunk_v1 = (
        read_snapshot(spark, tdir, version=1)
        .groupBy("day")
        .agg(F.count("*").alias("n"))
        .withColumn("stage", F.lit("trunk_v1"))
    )
    merge_branch(tdir, "exp")
    merged = (
        read_snapshot(spark, tdir)
        .groupBy("day")
        .agg(F.count("*").alias("n"))
        .withColumn("stage", F.lit("merged"))
    )
    out = trunk_v1.unionByName(branch_state).unionByName(merged).select(
        "stage", "day", "n"
    )
    # materialize (tiny: stages × days rows) so the scratch table can be
    # removed before the driver collects — q_write_dynamic_overwrite's
    # cleanup discipline; without this every bench/driver run leaks a
    # multi-partition parquet copy under /tmp
    rows = out.collect()
    import shutil

    shutil.rmtree(tdir, ignore_errors=True)
    return spark.createDataFrame(rows, out.schema)


QUERIES = {
    "q_branch_merge": q_branch_merge,
}


ORACLES = {
    "q_branch_merge": """
        WITH d AS (
            SELECT CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS day,
                   COUNT(*) AS n
            FROM orders GROUP BY 1),
        top3 AS (SELECT day, n FROM d ORDER BY n DESC, day LIMIT 3),
        s AS (SELECT day, n, ROW_NUMBER() OVER (ORDER BY day) AS rk
              FROM top3)
        SELECT 'trunk_v1' AS stage, day, n FROM s WHERE rk <= 2
        UNION ALL
        SELECT 'branch' AS stage, day,
               CASE WHEN rk = 1 THEN n ELSE 1 END AS n
        FROM s WHERE rk <= 2
        UNION ALL
        SELECT 'merged' AS stage, day,
               CASE WHEN rk = 1 THEN n WHEN rk = 2 THEN 1 ELSE n END AS n
        FROM s
    """,
}
