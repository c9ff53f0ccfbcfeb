"""Snapshot-versioned parquet tables: a minimal transaction log giving
plain-parquet tables the lakehouse semantics the reference gets from
Iceberg — atomic partition-overwrite commits, snapshot isolation, time
travel, rollback, and orphan-file vacuum — with no external runtime.

Why this exists: the reference's tables are Iceberg with snapshot
commits (``sql/table/bronze_table_ddl.sql:8-11``,
``setup/create_tables_script.py:57-108``), but iceberg-spark-runtime
cannot be resolved in this sandbox (no network — see
``io/writer.py::write_iceberg``'s documented attempt). This module
implements the same PUBLIC design idea (Iceberg snapshots / Delta's
JSON log): immutable data files + a totally-ordered series of manifest
files that each describe one complete table version; committing means
atomically publishing the next manifest.

Layout::

    table_dir/
      _manifests/v00000001.json   # {"version", "committed_at",
                                  #  "partition_col", "schema",
                                  #  "partitions": {val: [data paths]}}
      data/<commit-uuid>/<pcol>=<escaped val>/part-*.parquet

``schema`` is the data files' Spark schema (JSON; the partition column
is not stored in the files). ``partitions`` is keyed by the partition
VALUE as written, not by its escaped directory name; a null value is
keyed by Spark's default-partition name (``_NULL_PARTITION``), and
reads restore it as null.

Protocol — this module owns it, for the trunk chain above and for the
branch chains of ``io/branches.py``:
- **Stage**: data files go to a fresh commit dir, never touching live
  files (``stage_partition_files``).
- **Commit** is one loop for every verb (``_commit``): read the chain's
  head manifest, let the verb build the next one from it, and publish
  ``v{N+1}.json`` with ``publish_json_excl`` — the payload is fully
  written and fsynced to a sidecar and ``os.link``-ed into place, and
  link(2) fails with EEXIST if the version is claimed, so POSIX
  guarantees exactly one winner AND the visible manifest is always
  complete. A loser re-reads the new head and rebuilds (optimistic
  concurrency, as in Iceberg's commit conflict retry). The verbs:
  overwrite and delete (``_replace``), compaction (swaps a partition's
  files only if they are still the ones it rewrote — no lost update),
  rollback, branch commit, and the branch merge's trunk publish (which
  raises on a conflict against the head it read).
- **Replace-partitions** lives here, not in the callers: an overwrite
  replaces every partition it stages, and drops each partition it names
  in ``values`` but staged no rows for — the reference's idempotent
  daily-rerun contract (``breweries_bronze_processors.py:
  133,149-153``), including a rerun that yields nothing. Untouched
  partitions carry forward. A commit that would change nothing
  publishes nothing.
- **Read** = pick a manifest (latest or as-of version) and scan each
  selected partition's files with the manifest's recorded schema, the
  partition value restored as a literal column (``_scan``). A declared
  schema means no read runs a schema-inference job, so a snapshot of 1
  or 64 partitions reads in the same jobs. A manifest written without a
  schema infers it once, from one file. Partition pruning happens at
  the MANIFEST level — pruned partitions cost zero file-system I/O,
  strictly better than directory listing.
- **Readers never block writers**: a snapshot read holds the file list,
  and data files are immutable; vacuum only deletes files unreferenced
  by ANY retained manifest.

Scale notes: manifests are O(partitions × files) JSON — fine for the
daily-partition cardinality this models; at true 100 TB one moves to
Iceberg's split manifests (this module is the semantic bridge until the
jars exist, exposing the same verbs as ``io/writer.py::write_iceberg``).
The scan is a union of one declared-schema file scan per selected
partition: plans grow linearly in the partitions read, Spark jobs do
not. One scan over every selected file would pack small files into
fewer tasks, but Spark lists more than 32 root paths in a job of its
own (``spark.sql.sources.parallelPartitionDiscovery.threshold``), so a
long history would again cost jobs. As-of reads prune before Spark
ever lists a directory."""

from __future__ import annotations

import contextlib
import functools
import json
import os
import time
import urllib.parse
import uuid
from collections.abc import Callable, Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

_MANIFEST_DIR = "_manifests"
_MAX_COMMIT_RETRIES = 20
#: vacuum only sweeps publish sidecars at least this stale — younger ones
#: may be a live commit's staged payload (fsync→link window)
TMP_SIDECAR_RETENTION_SEC = 15 * 60


def publish_json_excl(target: str, payload: dict) -> bool:
    """Atomically publish ``payload`` at ``target``, claiming it
    exclusively. Returns False if another writer already claimed it.

    The payload is fully written and fsynced to a sidecar first, then
    ``os.link`` installs it — link(2) fails with EEXIST if the target
    exists (the exclusive claim) and otherwise makes the COMPLETE file
    visible in one atomic step. A bare O_EXCL-open-then-write would
    expose an empty/partial manifest to concurrent readers (and wedge
    the table permanently if the writer died mid-dump, since every
    subsequent read parses the corrupt latest manifest)."""
    tmp = f"{target}.{uuid.uuid4().hex}.tmp"
    fd = os.open(tmp, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
    try:
        with os.fdopen(fd, "w") as f:
            json.dump(payload, f)
            f.flush()
            os.fsync(f.fileno())
        try:
            os.link(tmp, target)
        except FileExistsError:
            return False
        except FileNotFoundError:
            # a concurrent vacuum swept our staged sidecar between fsync
            # and link (it can only do so legitimately if the sidecar
            # aged past the retention gate, i.e. this writer stalled for
            # that long) — report the claim as lost so the caller's
            # optimistic-retry loop re-reads state and re-stages
            return False
        return True
    finally:
        # the sidecar may already be gone (vacuum race AFTER a
        # successful link) — the publish still happened, don't raise
        with contextlib.suppress(FileNotFoundError):
            os.unlink(tmp)


# --- manifest chains: the trunk's _manifests/ and each branch's ----------


def _chain_path(mdir: str, version: int) -> str:
    return os.path.join(mdir, f"v{version:08d}.json")


def _chain_versions(mdir: str) -> list[int]:
    """Published versions of the manifest chain in ``mdir``, ascending;
    [] when the dir is missing (nothing committed yet, or a branch
    removed while this lists it)."""
    try:
        names = os.listdir(mdir)
    except FileNotFoundError:
        return []
    return sorted(
        int(n[1:-5]) for n in names if n.startswith("v") and n.endswith(".json")
    )


def _read_chain(mdir: str, version: int) -> dict:
    with open(_chain_path(mdir, version)) as f:
        return json.load(f)


def _trunk(table_dir: str) -> str:
    return os.path.join(table_dir, _MANIFEST_DIR)


def _manifest_path(table_dir: str, version: int) -> str:
    return _chain_path(_trunk(table_dir), version)


def _read_manifest(table_dir: str, version: int) -> dict:
    return _read_chain(_trunk(table_dir), version)


def latest_version(table_dir: str) -> int | None:
    versions = _chain_versions(_trunk(table_dir))
    return versions[-1] if versions else None


def _commit(
    mdir: str,
    step: Callable[[dict | None], dict | None],
    start: dict | None = None,
) -> int:
    """The one publish loop of every verb on every chain. ``step`` gets
    the chain's head manifest (``start`` while the chain is empty) and
    returns the next manifest's fields other than ``version`` and
    ``committed_at``, or None to publish nothing — the head version (0
    for an empty chain) is then returned. A lost claim re-reads the new
    head and calls ``step`` again."""
    os.makedirs(mdir, exist_ok=True)
    for _ in range(_MAX_COMMIT_RETRIES):
        versions = _chain_versions(mdir)
        head = versions[-1] if versions else 0
        fields = step(_read_chain(mdir, head) if head else start)
        if fields is None:
            return head
        version = head + 1
        manifest = {"version": version, "committed_at": time.time(), **fields}
        if publish_json_excl(_chain_path(mdir, version), manifest):
            return version
    raise RuntimeError(
        f"commit to {mdir!r} lost {_MAX_COMMIT_RETRIES} version races"
    )


def _schema_of(manifest: dict | None) -> dict:
    """``manifest``'s recorded file schema as a field to carry into the
    next manifest; {} when it records none."""
    if manifest and "schema" in manifest:
        return {"schema": manifest["schema"]}
    return {}


def _replace(
    touched: dict[str, list[str]],
    values: Iterable[str] = (),
    partition_col: str | None = None,
    schema: dict | None = None,
) -> Callable[[dict | None], dict | None]:
    """``_commit`` step of overwrite, delete and branch commits: each
    staged partition in ``touched`` replaces the head's, each of
    ``values`` with no staged files is dropped, the rest carry forward.
    ``schema`` is the staged frame's file schema; a delete (None)
    carries the head's forward. Builds nothing when nothing is staged
    and no listed value is held."""
    drop = set(values) - set(touched)

    def step(head: dict | None) -> dict | None:
        partitions = dict(head["partitions"]) if head else {}
        if not touched and drop.isdisjoint(partitions):
            return None
        for val in drop:
            partitions.pop(val, None)
        partitions.update(touched)
        return {
            "partition_col": partition_col or head["partition_col"],
            **({"schema": schema} if schema is not None else _schema_of(head)),
            "partitions": partitions,
        }

    return step


def _read_files(
    spark: SparkSession, table_dir: str, schema: StructType, files: list[str]
) -> DataFrame:
    return spark.read.schema(schema).parquet(
        *[os.path.join(table_dir, f) for f in files]
    )


def _file_schema(
    spark: SparkSession, table_dir: str, manifest: dict, files: list[str]
) -> StructType:
    """The data files' schema: as ``manifest`` recorded it at commit, or
    — for a manifest written without one — inferred once, from
    ``files[0]`` (one Spark job)."""
    if "schema" in manifest:
        return StructType.fromJson(manifest["schema"])
    return spark.read.parquet(os.path.join(table_dir, files[0])).schema


#: the directory value Spark writes for a null partition value, and so
#: the manifest key of that partition
_NULL_PARTITION = "__HIVE_DEFAULT_PARTITION__"


def _partition_value(val: str):
    """The literal a scan restores for partition key ``val``: the value,
    or a null string for Spark's null partition."""
    return F.lit(None).cast("string") if val == _NULL_PARTITION else F.lit(val)


def _scan(
    spark: SparkSession,
    table_dir: str,
    manifest: dict,
    values: Iterable[str] | None = None,
) -> DataFrame | None:
    """The one partition map → DataFrame scan: each selected partition's
    files (all partitions when ``values`` is None), read with the
    manifest's file schema and the partition value restored as a literal
    column (null for the null partition), unioned in value order. None
    when no selected partition holds files."""
    want = None if values is None else set(values)
    selected = [
        (val, files)
        for val, files in sorted(manifest["partitions"].items())
        if files and (want is None or val in want)
    ]
    if not selected:
        return None
    schema = _file_schema(spark, table_dir, manifest, selected[0][1])
    pcol = manifest["partition_col"]
    parts = [
        _read_files(spark, table_dir, schema, files).withColumn(
            pcol, _partition_value(val)
        )
        for val, files in selected
    ]
    return functools.reduce(DataFrame.union, parts)


def stage_partition_files(
    df: DataFrame, table_dir: str, partition_col: str
) -> dict[str, list[str]]:
    """Write ``df`` to a fresh commit dir under ``table_dir/data`` and
    return the staged files keyed by partition VALUE (table-relative
    paths). Spark escapes path specials in a partition directory name
    as ``%XX`` (``:`` → ``%3A``, ``%`` → ``%25``; only ASCII characters,
    so decoding the name recovers the value exactly). Shared by trunk
    commits and branch commits (io/branches.py::commit_to_branch) so the
    staging protocol cannot drift between the two write paths."""
    commit_id = uuid.uuid4().hex
    stage = os.path.join(table_dir, "data", commit_id)
    df.write.partitionBy(partition_col).parquet(stage)
    touched: dict[str, list[str]] = {}
    for entry in os.listdir(stage):
        if not entry.startswith(f"{partition_col}="):
            continue
        val = urllib.parse.unquote(entry.split("=", 1)[1])
        pdir = os.path.join(stage, entry)
        touched[val] = sorted(
            os.path.join("data", commit_id, entry, f)
            for f in os.listdir(pdir)
            if f.endswith(".parquet")
        )
    return touched


def _staged_schema(df: DataFrame, partition_col: str) -> dict:
    """The file schema a commit of ``df`` records: ``df``'s schema
    without the partition column, which lives in directory names."""
    return StructType(
        [f for f in df.schema.fields if f.name != partition_col]
    ).jsonValue()


def commit_overwrite_partitions(
    df: DataFrame,
    table_dir: str,
    partition_col: str = "extraction_date",
    values: Iterable[str] = (),
) -> int:
    """Atomically commit ``df`` with dynamic partition-overwrite
    semantics; returns the new version number. ``values`` names the
    partitions this commit replaces: one that ``df`` holds no rows for
    is dropped in the same version (an overwrite carrying zero rows for
    a partition removes it; Iceberg's overwritePartitions of an empty
    frame behaves the same). A commit that stages nothing and drops
    nothing publishes nothing and returns the current version."""
    touched = stage_partition_files(df, table_dir, partition_col)
    return _commit(
        _trunk(table_dir),
        _replace(touched, values, partition_col, _staged_schema(df, partition_col)),
    )


def commit_delete_partitions(table_dir: str, values: list[str]) -> int:
    """Publish a version WITHOUT the given partition values and return
    it; when the table holds none of them, publish nothing and return
    the current version (0 for a table with none). Data files stay on
    disk for time travel until vacuum."""
    return _commit(_trunk(table_dir), _replace({}, values))


def read_snapshot(
    spark: SparkSession,
    table_dir: str,
    version: int | None = None,
    partitions: list[str] | None = None,
) -> DataFrame:
    """Read a table snapshot (latest, or time-travel to ``version``),
    optionally pruned to a partition-value subset AT THE MANIFEST level."""
    v = latest_version(table_dir) if version is None else version
    if v is None:
        raise FileNotFoundError(f"no snapshots committed under {table_dir!r}")
    out = _scan(spark, table_dir, _read_manifest(table_dir, v), partitions)
    if out is None:
        raise ValueError(
            f"snapshot v{v} of {table_dir!r} has no matching partitions"
        )
    return out


def read_other_partitions(
    spark: SparkSession, table_dir: str, values: list[str]
) -> DataFrame | None:
    """The latest snapshot without the ``values`` partitions, pruned at
    the manifest level; None when the table has no snapshot or no other
    partition holds files."""
    v = latest_version(table_dir)
    if v is None:
        return None
    skip = set(values)
    others = [
        val
        for val, files in _read_manifest(table_dir, v)["partitions"].items()
        if files and val not in skip
    ]
    return read_snapshot(spark, table_dir, v, others) if others else None


def compact_partitions(
    spark: SparkSession,
    table_dir: str,
    values: list[str] | None = None,
) -> int:
    """Small-file compaction as a COMMIT (Iceberg's ``rewrite_data_files``
    analog on the snapshot log): rewrite the selected partitions (all
    when ``values`` is None) into one file each and publish a new
    version whose content is bit-for-bit the same rows. The rewrite is
    one write: the selected partitions are scanned together
    (``_scan``), repartitioned by the partition column so each value
    lands in one task, and staged like any commit
    (``stage_partition_files``), so compacting costs the same jobs for
    1 or 64 partitions. Readers of older versions keep the original
    files (vacuum reclaims them later); a concurrent overwrite of the
    same partition wins harmlessly — the retry re-reads the latest
    manifest and SKIPS partitions whose file list changed since the
    rewrite was planned, so compaction never clobbers newer data (the
    same no-lost-update rule Iceberg enforces via sequence numbers)."""
    base = latest_version(table_dir)
    if base is None:
        raise FileNotFoundError(f"no snapshots under {table_dir!r}")
    m = _read_manifest(table_dir, base)
    todo = {
        val: files
        for val, files in m["partitions"].items()
        if files and (values is None or val in values)
    }
    pcol = m["partition_col"]
    rows = _scan(spark, table_dir, m, todo)
    staged = {} if rows is None else stage_partition_files(
        rows.repartition(pcol), table_dir, pcol
    )

    def step(head: dict) -> dict:
        partitions = dict(head["partitions"])
        for val, new_files in staged.items():
            # no-lost-update: only swap if the partition still holds
            # exactly the files this rewrite was planned against
            if val in todo and partitions.get(val) == todo[val]:
                partitions[val] = new_files
        return {
            "partition_col": head["partition_col"],
            **_schema_of(head),
            "partitions": partitions,
            "compaction_of": base,
        }

    return _commit(_trunk(table_dir), step)


def snapshot_diff(
    spark: SparkSession, table_dir: str, v_from: int, v_to: int
) -> DataFrame:
    """Row-level change feed between two versions: every row with a
    ``_change`` column of 'insert' or 'delete' (an update appears as
    delete+insert — the minimal CDF encoding downstream incremental
    consumers need, cf. ``pipelines/incremental.py``'s mergeable-state
    discipline).

    MANIFEST-level pruning first: partitions whose file lists are
    identical in both versions are skipped without touching parquet — a
    daily-partitioned table diff therefore reads only the few changed
    days, O(changed data) not O(table). Within changed partitions the
    diff is exceptAll both ways (exact multiset semantics)."""
    m_from = _read_manifest(table_dir, v_from)
    m_to = _read_manifest(table_dir, v_to)
    p_from = m_from["partitions"]
    p_to = m_to["partitions"]
    changed = [
        val
        for val in set(p_from) | set(p_to)
        if p_from.get(val) != p_to.get(val)
    ]
    old = _scan(spark, table_dir, m_from, changed)
    new = _scan(spark, table_dir, m_to, changed)
    if old is None and new is None:
        raise ValueError(
            f"versions v{v_from} and v{v_to} of {table_dir!r} are identical"
        )
    if old is None:
        return new.withColumn("_change", F.lit("insert"))
    if new is None:
        return old.withColumn("_change", F.lit("delete"))
    inserts = new.exceptAll(old).withColumn("_change", F.lit("insert"))
    deletes = old.exceptAll(new).withColumn("_change", F.lit("delete"))
    return inserts.unionByName(deletes)


def rollback(table_dir: str, to_version: int) -> int:
    """Publish a NEW version whose content is ``to_version``'s — history
    stays append-only (the Iceberg rollback model), so the bad version
    remains inspectable and vacuum rules stay simple."""
    m = _read_manifest(table_dir, to_version)
    return _commit(
        _trunk(table_dir),
        lambda _head: {
            "partition_col": m["partition_col"],
            **_schema_of(m),
            "partitions": m["partitions"],
            "rollback_of": to_version,
        },
    )


def history(table_dir: str) -> list[dict]:
    """Commit log, oldest first: version, committed_at, partition count."""
    out = []
    for v in _chain_versions(_trunk(table_dir)):
        m = _read_manifest(table_dir, v)
        out.append(
            {
                "version": v,
                "committed_at": m["committed_at"],
                "n_partitions": len(m["partitions"]),
                "rollback_of": m.get("rollback_of"),
            }
        )
    return out


def vacuum(table_dir: str, keep_versions: int = 2) -> list[str]:
    """Delete data files unreferenced by the newest ``keep_versions``
    manifests (and drop the older manifests); returns deleted paths.
    Never touches files any retained snapshot can still read.

    Branch-aware (io/branches.py): every file referenced by any branch
    manifest stays live, and trunk manifests that are a branch's
    divergence point are retained beyond ``keep_versions`` — a branch
    can never have data or its merge base vacuumed from under it.

    Also sweeps orphaned ``*.tmp`` publish sidecars (a writer that died
    between staging and ``os.link`` leaves one; readers ignore them, so
    they are junk, not state) — but only ones older than
    ``TMP_SIDECAR_RETENTION_SEC``: a fresh sidecar may belong to a
    commit IN FLIGHT between fsync and link, and deleting it would make
    that commit's ``os.link`` fail spuriously."""
    versions = _chain_versions(_trunk(table_dir))
    if not versions:
        return []
    now = time.time()
    refs = os.path.join(table_dir, "_refs")
    branch_dirs = [
        os.path.join(refs, b)
        for b in (os.listdir(refs) if os.path.isdir(refs) else [])
    ]
    # sweep roots: trunk manifests + each branch's manifests AND its ref
    # dir itself (merge_branch stages meta.json rewrites there)
    for root in [_trunk(table_dir)] + [
        os.path.join(bdir, sub) for bdir in branch_dirs for sub in ("manifests", "")
    ]:
        # the isdir→listdir window can race delete_branch's rmtree — a
        # vanished dir has nothing to sweep
        try:
            names = os.listdir(root)
        except (FileNotFoundError, NotADirectoryError):
            continue
        for name in names:
            if name.endswith(".tmp"):
                full = os.path.join(root, name)
                with contextlib.suppress(FileNotFoundError):
                    if now - os.stat(full).st_mtime > TMP_SIDECAR_RETENTION_SEC:
                        os.unlink(full)
    kept = set(versions[-keep_versions:])
    live: set[str] = set()
    # a branch may be delete_branch()ed (rmtree) while this walks it — a
    # vanished branch has simply released its claims, so each read below
    # skips what is gone rather than crash mid-sweep
    for bdir in branch_dirs:
        # scoped to the meta read ONLY: a partially rmtree'd branch (meta
        # deleted first, manifests still present) must STILL honor the
        # manifests' live-file claims below. The creation-race direction
        # is closed on the other side: create_branch publishes meta.json
        # BEFORE the manifests dir exists, so a branch is never visible
        # without its created_from claim.
        try:
            with open(os.path.join(bdir, "meta.json")) as f:
                base_v = json.load(f)["created_from"]
            if base_v in versions:
                kept.add(base_v)
        except FileNotFoundError:
            pass
        mdir = os.path.join(bdir, "manifests")
        for v in _chain_versions(mdir):
            try:
                m = _read_chain(mdir, v)
            except FileNotFoundError:
                continue
            for files in m["partitions"].values():
                live.update(files)
    for v in kept:
        for files in _read_manifest(table_dir, v)["partitions"].values():
            live.update(files)
    deleted = []
    data_root = os.path.join(table_dir, "data")
    for dirpath, _dirnames, filenames in os.walk(data_root):
        for name in filenames:
            full = os.path.join(dirpath, name)
            rel = os.path.relpath(full, table_dir)
            if name.endswith(".parquet") and rel not in live:
                os.remove(full)
                deleted.append(rel)
    for v in versions:
        if v not in kept:
            os.remove(_manifest_path(table_dir, v))
    return deleted


def q_snapshot_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered demonstration (rows-only: write-side effects): commit
    January's first two days of orders as v1, overwrite day 2 and add
    day 3 as v2, then read BOTH snapshots — output is per-day order
    counts per version, proving time travel sees v1's day-2 rows after
    v2 replaced them, and that untouched day 1 carried forward."""
    import tempfile

    from breweries_case_spark.io.reader import load_table

    orders = load_table(spark, sf_dir, "orders").withColumn(
        "day", F.to_date(F.col("o_orderdate")).cast("string")
    )
    # the three busiest days (deterministic tie-break by day) so the v2
    # reduction below is guaranteed strict at every scale factor
    days = [
        r.day
        for r in orders.groupBy("day")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), "day")
        .limit(3)
        .collect()
    ]
    d1, d2, d3 = sorted(days)
    tdir = tempfile.mkdtemp(prefix="snap_")
    commit_overwrite_partitions(
        orders.filter(F.col("day").isin([d1, d2])), tdir, "day"
    )
    # v2 rewrites d2/d3 down to exactly the min-orderkey row per day
    keep_min = orders.filter(F.col("day").isin([d2, d3])).join(
        orders.filter(F.col("day").isin([d2, d3]))
        .groupBy("day")
        .agg(F.min("o_orderkey").alias("o_orderkey")),
        ["day", "o_orderkey"],
        "left_semi",
    )
    commit_overwrite_partitions(keep_min, tdir, "day")
    v1 = read_snapshot(spark, tdir, version=1).groupBy("day").agg(
        F.count("*").alias("n")
    ).withColumn("version", F.lit(1))
    v2 = read_snapshot(spark, tdir).groupBy("day").agg(
        F.count("*").alias("n")
    ).withColumn("version", F.lit(2))
    out = v1.unionByName(v2).select("version", "day", "n")
    # materialize (tiny) so the scratch table can be removed before the
    # driver collects — without this every run leaks a snap_* dir
    rows = out.collect()
    import shutil

    shutil.rmtree(tdir, ignore_errors=True)
    return spark.createDataFrame(rows, out.schema)


def q_snapshot_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-data-feed GENERATION between two snapshot versions — the
    Delta CDF / Iceberg changelog analog, derived purely from the
    snapshot log (no write-side change tracking needed): commit v1
    (days 1-2 of orders), commit v2 (day 2 rewritten to even-orderkey
    rows repriced ×1.1 in exact decimal; day 3 added; day 1 carried),
    then DIFF the two version reads with one full-outer join on the row
    key — v1-only rows are deletes, v2-only inserts, content-changed
    rows updates, identical rows (the carried day 1) drop out. Output:
    per-(day, op) change counts, a deterministic function of orders the
    oracle recomputes directly.

    Scale shape: the diff is one key-equi full-outer join between two
    snapshot reads — at 100 TB BOTH sides prune to the partitions whose
    FILE LISTS differ between the manifests first (day 1's identical
    files can be skipped without scanning), so the join cost tracks the
    changed data, not the table. The row-level compare here is the
    post-prune semantic core."""
    import shutil
    import tempfile

    from breweries_case_spark.io.reader import load_table

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
    tdir = tempfile.mkdtemp(prefix="snapcdf_")
    try:
        commit_overwrite_partitions(
            orders.filter(F.col("day").isin([d1, d2])), tdir, "day"
        )
        repriced = (
            F.col("o_totalprice").cast("decimal(18,2)")
            * F.lit("1.1").cast("decimal(3,2)")
        ).cast("double")
        v2_d2 = (
            orders.filter((F.col("day") == d2) & (F.col("o_orderkey") % 2 == 0))
            .withColumn("o_totalprice", repriced)
        )
        commit_overwrite_partitions(
            v2_d2.unionByName(orders.filter(F.col("day") == d3)), tdir, "day"
        )
        cols = ["o_orderkey", "day", "o_totalprice"]
        v1 = read_snapshot(spark, tdir, version=1).select(*cols)
        v2 = read_snapshot(spark, tdir, version=2).select(*cols)
        a = v1.select(
            F.col("o_orderkey").alias("k"),
            F.col("day").alias("day_a"),
            F.col("o_totalprice").alias("price_a"),
        )
        b = v2.select(
            F.col("o_orderkey").alias("k"),
            F.col("day").alias("day_b"),
            F.col("o_totalprice").alias("price_b"),
        )
        diff = (
            a.join(b, "k", "full_outer")
            .select(
                F.coalesce("day_a", "day_b").alias("day"),
                F.when(F.col("day_b").isNull(), "delete")
                .when(F.col("day_a").isNull(), "insert")
                .when(F.col("price_a") != F.col("price_b"), "update")
                .alias("op"),
            )
            .filter(F.col("op").isNotNull())  # identical rows: no change
        )
        out = diff.groupBy("day", "op").agg(F.count("*").alias("n"))
        rows = out.collect()  # tiny; materialize before scratch removal
        return spark.createDataFrame(rows, out.schema)
    finally:
        shutil.rmtree(tdir, ignore_errors=True)


QUERIES = {
    "q_snapshot_time_travel": q_snapshot_time_travel,
    "q_snapshot_changes": q_snapshot_changes,
}

#: each demonstration's output is a deterministic function of orders —
#: the oracles recompute it directly, so the driver value-checks the ACID
#: overwrite/carry-forward semantics, not just row counts.

ORACLES: dict[str, str] = {
    "q_snapshot_time_travel": """
        WITH d AS (
            SELECT CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS day,
                   COUNT(*) AS n
            FROM orders GROUP BY 1),
        top3 AS (SELECT day, n FROM d ORDER BY n DESC, day LIMIT 3),
        s AS (SELECT day, n, ROW_NUMBER() OVER (ORDER BY day) AS rk
              FROM top3)
        SELECT 1 AS version, day, n FROM s WHERE rk <= 2
        UNION ALL
        SELECT 2 AS version, day,
               CASE WHEN rk = 1 THEN n ELSE 1 END AS n
        FROM s
    """,
    # CDF diff recomputed from orders: day2 odd keys were dropped by the
    # rewrite (deletes), day2 even keys were repriced (updates), day3 is
    # new (inserts); carried day1 produces no change rows at all.
    "q_snapshot_changes": """
        WITH counts AS (
            SELECT CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS day,
                   COUNT(*) AS n
            FROM orders GROUP BY 1),
        top3 AS (SELECT day FROM counts ORDER BY n DESC, day LIMIT 3),
        ds AS (SELECT list_sort(list(day)) AS l FROM top3),
        base AS (
            SELECT CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS day,
                   o_orderkey
            FROM orders)
        SELECT (SELECT l[2] FROM ds) AS day, 'delete' AS op,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM base WHERE day = (SELECT l[2] FROM ds) AND o_orderkey % 2 = 1
        HAVING COUNT(*) > 0
        UNION ALL
        SELECT (SELECT l[2] FROM ds), 'update', COUNT(*)
        FROM base WHERE day = (SELECT l[2] FROM ds) AND o_orderkey % 2 = 0
        HAVING COUNT(*) > 0
        UNION ALL
        SELECT (SELECT l[3] FROM ds), 'insert', COUNT(*)
        FROM base WHERE day = (SELECT l[3] FROM ds)
        HAVING COUNT(*) > 0
    """,
}
