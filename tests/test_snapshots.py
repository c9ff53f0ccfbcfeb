"""Snapshot-log semantics (io/snapshots.py): atomic partition-overwrite
commits, snapshot isolation / time travel, append-only rollback, commit
race resolution, and vacuum safety — the lakehouse contract the
reference delegates to Iceberg, pinned here on the jar-less
implementation."""

from __future__ import annotations

import os

import pytest

from breweries_case_spark.io.snapshots import (
    commit_overwrite_partitions,
    history,
    latest_version,
    read_snapshot,
    rollback,
    vacuum,
)


def _df(spark, rows):
    return spark.createDataFrame(rows, "id long, day string")


def _counts(spark, tdir, version=None):
    rows = read_snapshot(spark, tdir, version=version).collect()
    out: dict[str, set] = {}
    for r in rows:
        out.setdefault(r.day, set()).add(r.id)
    return out


def test_partition_overwrite_replaces_only_touched(spark, tmp_path):
    t = str(tmp_path / "t")
    v1 = commit_overwrite_partitions(
        _df(spark, [(1, "d1"), (2, "d1"), (3, "d2")]), t, "day"
    )
    v2 = commit_overwrite_partitions(_df(spark, [(9, "d2"), (4, "d3")]), t, "day")
    assert (v1, v2) == (1, 2)
    assert _counts(spark, t) == {"d1": {1, 2}, "d2": {9}, "d3": {4}}


def test_time_travel_sees_replaced_rows(spark, tmp_path):
    t = str(tmp_path / "t")
    commit_overwrite_partitions(_df(spark, [(1, "d1"), (3, "d2")]), t, "day")
    commit_overwrite_partitions(_df(spark, [(9, "d2")]), t, "day")
    assert _counts(spark, t, version=1) == {"d1": {1}, "d2": {3}}
    assert _counts(spark, t, version=2) == {"d1": {1}, "d2": {9}}


def test_manifest_level_partition_pruning(spark, tmp_path):
    t = str(tmp_path / "t")
    commit_overwrite_partitions(
        _df(spark, [(1, "d1"), (3, "d2"), (5, "d3")]), t, "day"
    )
    got = read_snapshot(spark, t, partitions=["d2"]).collect()
    assert {(r.id, r.day) for r in got} == {(3, "d2")}


def test_rollback_is_append_only(spark, tmp_path):
    t = str(tmp_path / "t")
    commit_overwrite_partitions(_df(spark, [(1, "d1")]), t, "day")
    commit_overwrite_partitions(_df(spark, [(2, "d1")]), t, "day")
    v3 = rollback(t, to_version=1)
    assert v3 == 3
    assert _counts(spark, t) == {"d1": {1}}          # latest == v1 content
    assert _counts(spark, t, version=2) == {"d1": {2}}  # v2 still readable
    assert history(t)[-1]["rollback_of"] == 1


def test_commit_race_yields_distinct_versions_and_merges(spark, tmp_path):
    """Simulate the race: two commits prepared against the SAME base
    version must both land (distinct versions) with the loser's merge
    preserving the winner's partitions."""
    from breweries_case_spark.io import snapshots as S

    t = str(tmp_path / "t")
    commit_overwrite_partitions(_df(spark, [(1, "d1")]), t, "day")

    # force a collision at the atomic claim point (publish_json_excl's
    # os.link): the "other writer" wins v2 exactly once
    real_link = os.link
    claimed = {"done": False}

    def racing_link(src, dst, *a, **kw):
        if not claimed["done"] and dst.endswith("v00000002.json"):
            claimed["done"] = True
            import json

            with open(dst, "w") as f:
                json.dump(
                    {
                        "version": 2,
                        "committed_at": 0.0,
                        "partition_col": "day",
                        "partitions": {"d9": []},
                    },
                    f,
                )
            raise FileExistsError(dst)
        return real_link(src, dst, *a, **kw)

    S.os.link = racing_link
    try:
        v = commit_overwrite_partitions(_df(spark, [(5, "d5")]), t, "day")
    finally:
        S.os.link = real_link
    assert v == 3
    m = S._read_manifest(t, 3)
    # loser re-merged onto the winner's v2: d9 carried forward, d5 added
    assert set(m["partitions"]) == {"d9", "d5"}


def test_vacuum_deletes_only_unreferenced_files(spark, tmp_path):
    t = str(tmp_path / "t")
    commit_overwrite_partitions(_df(spark, [(1, "d1")]), t, "day")
    commit_overwrite_partitions(_df(spark, [(2, "d1")]), t, "day")
    commit_overwrite_partitions(_df(spark, [(3, "d1")]), t, "day")
    deleted = vacuum(t, keep_versions=2)
    assert deleted  # v1's d1 files are unreferenced by v2/v3
    # retained snapshots still read correctly
    assert _counts(spark, t, version=2) == {"d1": {2}}
    assert _counts(spark, t, version=3) == {"d1": {3}}
    # expired manifest is gone
    with pytest.raises(FileNotFoundError):
        read_snapshot(spark, t, version=1).collect()
    assert latest_version(t) == 3


def test_registered_time_travel_query(spark, sf_dir):
    """The registered demo returns both versions' per-day counts and
    proves v1's replaced day is still visible via time travel."""
    from breweries_case_spark.io.snapshots import q_snapshot_time_travel

    rows = q_snapshot_time_travel(spark, sf_dir).collect()
    by_ver: dict[int, dict[str, int]] = {}
    for r in rows:
        by_ver.setdefault(r.version, {})[r.day] = r.n
    d1, d2 = sorted(by_ver[1])
    # v2 rewrote d2 down to one row; time travel still sees v1's full day
    assert by_ver[2][d2] == 1 < by_ver[1][d2]
    assert by_ver[2][d1] == by_ver[1][d1]
    assert len(by_ver[2]) == 3


def test_snapshotted_medallion_rerun_time_travel_and_empty_delete(
    spark, tmp_path
):
    """The medallion pipeline on the snapshot log: reruns replace the
    date atomically, the previous run stays time-travel-readable, and an
    empty rerun removes the date via an explicit delete commit."""
    import datetime as dt

    from breweries_case_spark.pipelines.medallion import (
        run_medallion_snapshotted,
    )

    day = dt.date(2024, 1, 5)
    recs = [
        {
            "id": f"b{i}",
            "name": f"Brewery {i}",
            "brewery_type": "micro",
            "city": "Portland",
            "state": "OR",
            "country": "usa",
        }
        for i in range(4)
    ]
    base = str(tmp_path / "lake")
    c1 = run_medallion_snapshotted(spark, recs, day, base)
    assert c1 == {"bronze": 4, "silver": 4, "gold": 1}

    c2 = run_medallion_snapshotted(spark, recs[:2], day, base)
    assert c2 == {"bronze": 2, "silver": 2, "gold": 1}
    # v1 of bronze still shows the first run's 4 rows
    assert read_snapshot(spark, f"{base}/bronze", version=1).count() == 4

    c3 = run_medallion_snapshotted(spark, [], day, base)
    assert c3 == {"bronze": 0, "silver": 0, "gold": 0}
    assert history(f"{base}/bronze")[-1]["n_partitions"] == 0


def test_snapshot_diff_is_a_minimal_change_feed(spark, tmp_path):
    """Diffing two versions yields exactly the inserted/deleted rows of
    CHANGED partitions; identical partitions are pruned at the manifest
    level (their files never load)."""
    from breweries_case_spark.io.snapshots import snapshot_diff

    t = str(tmp_path / "t")
    commit_overwrite_partitions(
        _df(spark, [(1, "d1"), (2, "d2"), (3, "d2")]), t, "day"
    )
    commit_overwrite_partitions(_df(spark, [(3, "d2"), (4, "d2")]), t, "day")
    got = {
        (r.id, r.day, r._change)
        for r in snapshot_diff(spark, t, 1, 2).collect()
    }
    # d1 untouched -> absent; d2: row 2 deleted, row 4 inserted, row 3 kept
    assert got == {(4, "d2", "insert"), (2, "d2", "delete")}


def test_compaction_preserves_content_and_reduces_files(spark, tmp_path):
    """Compaction rewrites a partition's files into one, content
    bit-identical, as a NEW version — older snapshots keep reading the
    original files; a partition overwritten after the compaction was
    planned is skipped (no lost update)."""
    from breweries_case_spark.io.snapshots import (
        _read_manifest,
        compact_partitions,
    )

    t = str(tmp_path / "t")
    # two commits into d1 -> d1 holds files from... (each commit replaces
    # d1, so force many files in ONE commit via repartition)
    commit_overwrite_partitions(
        _df(spark, [(i, "d1") for i in range(8)]).repartition(4), t, "day"
    )
    commit_overwrite_partitions(_df(spark, [(99, "d2")]), t, "day")
    before = _read_manifest(t, 2)["partitions"]
    assert len(before["d1"]) > 1

    v = compact_partitions(spark, t, values=["d1"])
    after = _read_manifest(t, v)["partitions"]
    assert len(after["d1"]) == 1
    assert after["d2"] == before["d2"]  # untouched partition carried over
    assert _counts(spark, t) == {"d1": set(range(8)), "d2": {99}}
    # pre-compaction version still reads the original files
    assert _counts(spark, t, version=2) == {"d1": set(range(8)), "d2": {99}}


# --- model-based property test (hypothesis) --------------------------------

from hypothesis import given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

_PARTS = ["p1", "p2"]
_op = st.one_of(
    st.tuples(
        st.just("overwrite"),
        st.sampled_from(_PARTS),
        st.frozensets(st.integers(min_value=0, max_value=9), max_size=4),
    ),
    st.tuples(st.just("delete"), st.sampled_from(_PARTS)),
    st.tuples(st.just("compact")),
)


@given(ops=st.lists(_op, min_size=1, max_size=6))
@settings(max_examples=12, deadline=None)
def test_snapshot_log_matches_sequential_model(spark, tmp_path_factory, ops):
    """Model-based check: apply a random sequence of
    overwrite/delete/compact operations to BOTH the snapshot log and an
    in-memory {partition: rowset} model, then verify EVERY committed
    version reads back as the model's state at that point — i.e. history
    is immutable and each commit captures exactly one model transition."""
    from breweries_case_spark.io.snapshots import (
        commit_delete_partitions,
        commit_overwrite_partitions,
        compact_partitions,
        latest_version,
        read_snapshot,
    )

    t = str(tmp_path_factory.mktemp("snapmodel") / "t")
    model: dict[str, frozenset] = {}
    states: dict[int, dict[str, frozenset]] = {}

    for op in ops:
        if op[0] == "overwrite":
            _, part, rows = op
            if not rows:
                continue  # empty frames write no partition dirs — no-op
            df = spark.createDataFrame(
                [(i, part) for i in sorted(rows)], "id long, day string"
            )
            v = commit_overwrite_partitions(df, t, "day")
            model[part] = rows
        elif op[0] == "delete":
            if latest_version(t) is None:
                continue
            v = commit_delete_partitions(t, [op[1]])
            model.pop(op[1], None)
        else:  # compact
            if latest_version(t) is None or not model:
                continue
            v = compact_partitions(spark, t)
        states[v] = dict(model)

    for v, want in states.items():
        if not want:
            import pytest as _pytest

            with _pytest.raises(ValueError):
                read_snapshot(spark, t, version=v)
            continue
        got: dict[str, set] = {}
        for r in read_snapshot(spark, t, version=v).collect():
            got.setdefault(r.day, set()).add(r.id)
        assert got == {k: set(vset) for k, vset in want.items()}, (v, ops)


def test_vacuum_age_gates_publish_sidecars(spark, tmp_path):
    """A FRESH .tmp sidecar may be a commit in flight between fsync and
    os.link — vacuum must leave it alone and sweep only sidecars older
    than the retention gate."""
    import breweries_case_spark.io.snapshots as S

    t = str(tmp_path / "t")
    commit_overwrite_partitions(_df(spark, [(1, "d1")]), t, "day")
    commit_overwrite_partitions(_df(spark, [(2, "d1")]), t, "day")
    mdir = os.path.join(t, "_manifests")
    fresh = os.path.join(mdir, "v00000099.json.deadbeef.tmp")
    stale = os.path.join(mdir, "v00000099.json.cafebabe.tmp")
    for p in (fresh, stale):
        with open(p, "w") as f:
            f.write("{}")
    old = S.time.time() - S.TMP_SIDECAR_RETENTION_SEC - 60
    os.utime(stale, (old, old))
    vacuum(t, keep_versions=2)
    assert os.path.exists(fresh), "in-flight sidecar must survive vacuum"
    assert not os.path.exists(stale), "aged orphan sidecar must be swept"


def test_publish_tolerates_sidecar_swept_before_link(spark, tmp_path):
    """A vacuum racing the fsync→link window deletes the staged sidecar:
    publish must report a lost claim (False), not crash, so the caller's
    optimistic-retry loop re-stages."""
    import breweries_case_spark.io.snapshots as S

    target = str(tmp_path / "m.json")
    real_link = S.os.link

    def sweeping_link(src, dst, *a, **kw):
        os.unlink(src)  # the racing vacuum
        return real_link(src, dst, *a, **kw)  # raises FileNotFoundError

    S.os.link = sweeping_link
    try:
        assert S.publish_json_excl(target, {"v": 1}) is False
    finally:
        S.os.link = real_link
    assert not os.path.exists(target)
    # a clean retry then succeeds
    assert S.publish_json_excl(target, {"v": 1}) is True


def test_publish_tolerates_sidecar_swept_after_link(spark, tmp_path):
    """If the racing vacuum lands AFTER a successful link, the publish
    HAPPENED — the cleanup unlink must not turn success into a raise
    (which would make the caller retry and double-commit)."""
    import breweries_case_spark.io.snapshots as S

    target = str(tmp_path / "m.json")
    real_link = S.os.link

    def sweep_after_link(src, dst, *a, **kw):
        out = real_link(src, dst, *a, **kw)
        os.unlink(src)  # the racing vacuum, post-link
        return out

    S.os.link = sweep_after_link
    try:
        assert S.publish_json_excl(target, {"v": 7}) is True
    finally:
        S.os.link = real_link
    import json as _json

    with open(target) as f:
        assert _json.load(f) == {"v": 7}


def test_vacuum_tolerates_branch_deleted_mid_sweep(spark, tmp_path):
    """A branch whose ref directory lost its meta.json (delete_branch's
    rmtree racing the sweep) has simply released its claims — vacuum
    must skip it, not crash mid-sweep."""
    t = str(tmp_path / "t")
    commit_overwrite_partitions(_df(spark, [(1, "d1")]), t, "day")
    commit_overwrite_partitions(_df(spark, [(2, "d1")]), t, "day")
    half_deleted = os.path.join(t, "_refs", "ghost", "manifests")
    os.makedirs(half_deleted)  # ref dir exists, meta.json does not
    deleted = vacuum(t, keep_versions=1)
    assert deleted  # the sweep completed and reclaimed v1's files
    assert _counts(spark, t, version=2) == {"d1": {2}}


# --- publisher races: every verb rebuilds on the winner's manifest ---------


def test_delete_race_rebuilds_on_the_winners_manifest(spark, tmp_path, lose_claim):
    """A delete that loses its version claim to a concurrent overwrite
    lands the next version, dropping its partition from the WINNER's
    manifest: the winner's new partition survives."""
    from breweries_case_spark.io.snapshots import (
        _manifest_path,
        commit_delete_partitions,
    )

    t = str(tmp_path / "t")
    commit_overwrite_partitions(_df(spark, [(1, "d1"), (2, "d2")]), t, "day")
    fired = lose_claim(
        _manifest_path(t, 2),
        lambda: commit_overwrite_partitions(_df(spark, [(3, "d3")]), t, "day"),
    )
    v = commit_delete_partitions(t, ["d2"])
    assert fired and v == 3
    assert _counts(spark, t, version=2) == {"d1": {1}, "d2": {2}, "d3": {3}}
    assert _counts(spark, t) == {"d1": {1}, "d3": {3}}


def test_rollback_race_lands_after_the_winner(spark, tmp_path, lose_claim):
    """A rollback that loses its version claim republishes the rolled-
    back content at the next version; the winner's version stays in
    history."""
    from breweries_case_spark.io.snapshots import _manifest_path

    t = str(tmp_path / "t")
    commit_overwrite_partitions(_df(spark, [(1, "d1")]), t, "day")
    commit_overwrite_partitions(_df(spark, [(2, "d1")]), t, "day")
    fired = lose_claim(
        _manifest_path(t, 3),
        lambda: commit_overwrite_partitions(_df(spark, [(3, "d3")]), t, "day"),
    )
    v = rollback(t, to_version=1)
    assert fired and v == 4
    assert _counts(spark, t, version=3) == {"d1": {2}, "d3": {3}}
    assert _counts(spark, t) == {"d1": {1}}
    assert [h["rollback_of"] for h in history(t)] == [None, None, None, 1]


def test_compaction_race_keeps_the_winners_files(spark, tmp_path, lose_claim):
    """The no-lost-update rule: a compaction planned against a partition
    that a concurrent overwrite replaced before the compaction's publish
    must NOT swap its rewrite in — the winner's files survive, and
    untouched partitions still carry forward."""
    from breweries_case_spark.io.snapshots import (
        _manifest_path,
        _read_manifest,
        compact_partitions,
    )

    t = str(tmp_path / "t")
    commit_overwrite_partitions(
        _df(spark, [(i, "d1") for i in range(8)]).repartition(4), t, "day"
    )
    commit_overwrite_partitions(_df(spark, [(99, "d2")]), t, "day")
    fired = lose_claim(
        _manifest_path(t, 3),
        lambda: commit_overwrite_partitions(_df(spark, [(100, "d1")]), t, "day"),
    )
    v = compact_partitions(spark, t, values=["d1"])
    assert fired and v == 4
    winner, compacted = _read_manifest(t, 3), _read_manifest(t, 4)
    assert compacted["partitions"] == winner["partitions"]
    assert compacted["compaction_of"] == 2
    assert _counts(spark, t) == {"d1": {100}, "d2": {99}}


def test_replace_partitions_drops_listed_values_without_rows(spark, tmp_path):
    """An overwrite names the partitions it replaces: a listed value with
    no staged rows is dropped in the same version; an overwrite that
    stages nothing and a delete of values the table does not hold
    publish nothing."""
    from breweries_case_spark.io.snapshots import commit_delete_partitions

    t = str(tmp_path / "t")
    assert commit_delete_partitions(t, ["d1"]) == 0
    assert latest_version(t) is None
    commit_overwrite_partitions(_df(spark, [(1, "d1"), (2, "d2")]), t, "day")
    v = commit_overwrite_partitions(_df(spark, [(3, "d3")]), t, "day", ["d2", "d3"])
    assert v == 2
    assert _counts(spark, t) == {"d1": {1}, "d3": {3}}
    assert commit_overwrite_partitions(_df(spark, []), t, "day", ["d9"]) == 2
    assert commit_delete_partitions(t, ["d2"]) == 2
    assert latest_version(t) == 2


# --- declared-schema reads and partition values -----------------------------


def _read_jobs(spark, tdir, group):
    """(rows, jobs) of reading and counting the latest snapshot."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        n = read_snapshot(spark, tdir).count()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # noqa: SLF001
    return n, len(sc.statusTracker().getJobIdsForGroup(group))


def test_snapshot_read_jobs_do_not_grow_with_partitions(spark, tmp_path):
    """Reads scan with the schema the manifest recorded: no read runs a
    schema-inference job, so a 1-, 16- and 64-partition snapshot read
    and count in the same jobs (64 partitions also exceed the 32 root
    paths above which Spark lists files in a job of its own)."""
    from pyspark.sql import functions as F

    jobs = {}
    for n in (1, 16, 64):
        t = str(tmp_path / f"t{n}")
        df = spark.range(n).select(
            "id", F.format_string("d%02d", "id").alias("day")
        )
        commit_overwrite_partitions(df, t, "day")
        rows, jobs[n] = _read_jobs(spark, t, f"snap-read-{tmp_path.name}-{n}")
        assert rows == n
    assert jobs[1] == jobs[16] == jobs[64], jobs
    assert jobs[1] == 1, jobs  # only the count's own job (AQE off)


def test_manifest_without_schema_reads_back_identical_rows(spark, tmp_path):
    """A manifest written before the log recorded schemas reads back the
    same rows and column types: the schema is inferred once, from one
    file."""
    import datetime
    import json

    from breweries_case_spark.io.snapshots import _manifest_path

    t = str(tmp_path / "t")
    df = spark.createDataFrame(
        [
            (1, 0.5, [1, 2], datetime.datetime(2024, 1, 1, 3), "d1"),
            (2, None, [], None, "d2"),
        ],
        "id long, x double, xs array<int>, ts timestamp, day string",
    )
    commit_overwrite_partitions(df, t, "day")
    declared = read_snapshot(spark, t)
    want = (declared.schema, sorted(declared.collect()))
    _, declared_jobs = _read_jobs(spark, t, f"snap-declared-{tmp_path.name}")

    path = _manifest_path(t, 1)
    with open(path) as f:
        manifest = json.load(f)
    manifest.pop("schema", None)
    with open(path, "w") as f:
        json.dump(manifest, f)
    inferred = read_snapshot(spark, t)
    assert (inferred.schema, sorted(inferred.collect())) == want
    rows, jobs = _read_jobs(spark, t, f"snap-legacy-{tmp_path.name}")
    assert (rows, jobs) == (2, declared_jobs + 1)  # one inference job


def test_every_verb_carries_the_schema_forward(spark, tmp_path):
    """Overwrite and branch commits record the staged schema; delete,
    compaction, rollback and merge carry it from the manifest they build
    on, so no version of the table reads with an inferred schema."""
    from breweries_case_spark.io import branches
    from breweries_case_spark.io.snapshots import (
        _read_manifest,
        commit_delete_partitions,
        compact_partitions,
    )

    t = str(tmp_path / "t")
    commit_overwrite_partitions(_df(spark, [(1, "d1"), (2, "d2")]), t, "day")
    schema = _read_manifest(t, 1)["schema"]
    assert [f["name"] for f in schema["fields"]] == ["id"]
    branches.create_branch(t, "b")
    branches.commit_to_branch(_df(spark, [(3, "d3")]), t, "b", "day")
    commit_delete_partitions(t, ["d2"])  # v2
    compact_partitions(spark, t)  # v3
    rollback(t, 1)  # v4
    branches.merge_branch(t, "b")  # v5
    for v in range(1, 6):
        assert _read_manifest(t, v)["schema"] == schema, v
    head = branches._read_branch_manifest(t, "b", branches._branch_versions(t, "b")[-1])
    assert head["schema"] == schema
    assert _counts(spark, t) == {"d1": {1}, "d2": {2}, "d3": {3}}


def test_partition_values_that_spark_escapes_round_trip(spark, tmp_path):
    """Spark escapes path specials in partition directory names (``:`` →
    ``%3A``, ``%`` → ``%25``); the log records the value as written, so
    reads return it, ``read_other_partitions`` excludes it, and a rerun
    that names it with no rows drops it."""
    from breweries_case_spark.io.snapshots import read_other_partitions

    t = str(tmp_path / "t")
    odd = ["2024-01-01T00:00", "x%3Ay", "a b"]
    commit_overwrite_partitions(
        _df(spark, [(1, "d1")] + [(i + 2, v) for i, v in enumerate(odd)]), t, "day"
    )
    assert _counts(spark, t) == {"d1": {1}, **{v: {i + 2} for i, v in enumerate(odd)}}
    others = read_other_partitions(spark, t, odd)
    assert {(r.id, r.day) for r in others.collect()} == {(1, "d1")}
    commit_overwrite_partitions(_df(spark, []), t, "day", odd)
    assert _counts(spark, t) == {"d1": {1}}


def test_null_partition_value_reads_back_as_null(spark, tmp_path):
    """Spark writes a null partition value as the directory
    ``<pcol>=__HIVE_DEFAULT_PARTITION__``; trunk reads, branch reads and
    the change feed return null for it, not that directory name."""
    from breweries_case_spark.io.branches import (
        commit_to_branch,
        create_branch,
        read_branch,
    )
    from breweries_case_spark.io.snapshots import (
        read_other_partitions,
        snapshot_diff,
    )

    t = str(tmp_path / "t")
    commit_overwrite_partitions(_df(spark, [(1, "d1"), (2, None)]), t, "day")
    assert sorted(map(tuple, read_snapshot(spark, t).collect())) == [
        (1, "d1"),
        (2, None),
    ]
    assert [tuple(r) for r in read_other_partitions(spark, t, ["d1"]).collect()] == [
        (2, None)
    ]
    commit_overwrite_partitions(_df(spark, [(3, None)]), t, "day")
    assert {tuple(r) for r in snapshot_diff(spark, t, 1, 2).collect()} == {
        (3, None, "insert"),
        (2, None, "delete"),
    }
    create_branch(t, "b")
    commit_to_branch(_df(spark, [(4, None)]), t, "b", "day")
    assert sorted(map(tuple, read_branch(spark, t, "b").collect())) == [
        (1, "d1"),
        (4, None),
    ]
