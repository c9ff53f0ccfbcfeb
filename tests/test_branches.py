"""Branch semantics over the snapshot log (io/branches.py) — the Nessie
analog: ref isolation both ways, zero-copy branch commits, three-way
partition-level merge with conflict detection, divergence-point
advancement across merge cycles, and branch-aware vacuum safety."""

from __future__ import annotations

import os

import pytest

from breweries_case_spark.io.branches import (
    MergeConflict,
    commit_to_branch,
    create_branch,
    delete_branch,
    list_branches,
    merge_branch,
    read_branch,
)
from breweries_case_spark.io.snapshots import (
    commit_overwrite_partitions,
    latest_version,
    read_snapshot,
    vacuum,
)


def _df(spark, rows):
    return spark.createDataFrame(rows, "id long, day string")


def _trunk(spark, tdir, version=None):
    rows = read_snapshot(spark, tdir, version=version).collect()
    out: dict[str, set] = {}
    for r in rows:
        out.setdefault(r.day, set()).add(r.id)
    return out


def _branch(spark, tdir, name):
    out: dict[str, set] = {}
    for r in read_branch(spark, tdir, name).collect():
        out.setdefault(r.day, set()).add(r.id)
    return out


def test_branch_isolation_both_ways(spark, tmp_path):
    t = str(tmp_path / "t")
    commit_overwrite_partitions(_df(spark, [(1, "d1"), (3, "d2")]), t, "day")
    create_branch(t, "exp")
    # commit-less branch reads the divergence snapshot
    assert _branch(spark, t, "exp") == {"d1": {1}, "d2": {3}}

    commit_to_branch(_df(spark, [(9, "d2")]), t, "exp", "day")
    # branch sees its change; trunk does not
    assert _branch(spark, t, "exp") == {"d1": {1}, "d2": {9}}
    assert _trunk(spark, t) == {"d1": {1}, "d2": {3}}

    # trunk commits stay invisible to the branch head
    commit_overwrite_partitions(_df(spark, [(7, "d3")]), t, "day")
    assert _branch(spark, t, "exp") == {"d1": {1}, "d2": {9}}
    assert list_branches(t) == ["exp"]


def test_merge_combines_disjoint_changes(spark, tmp_path):
    t = str(tmp_path / "t")
    commit_overwrite_partitions(_df(spark, [(1, "d1"), (3, "d2")]), t, "day")
    create_branch(t, "exp")
    commit_to_branch(_df(spark, [(9, "d2")]), t, "exp", "day")  # branch: d2
    commit_overwrite_partitions(_df(spark, [(7, "d3")]), t, "day")  # trunk: d3
    v = merge_branch(t, "exp")
    assert v == latest_version(t)
    assert _trunk(spark, t) == {"d1": {1}, "d2": {9}, "d3": {7}}


def test_merge_conflict_names_partitions(spark, tmp_path):
    t = str(tmp_path / "t")
    commit_overwrite_partitions(_df(spark, [(1, "d1"), (3, "d2")]), t, "day")
    create_branch(t, "exp")
    commit_to_branch(_df(spark, [(9, "d2")]), t, "exp", "day")
    commit_overwrite_partitions(_df(spark, [(8, "d2")]), t, "day")
    with pytest.raises(MergeConflict) as ei:
        merge_branch(t, "exp")
    assert ei.value.partitions == ["d2"]
    # trunk unchanged by the failed merge
    assert _trunk(spark, t) == {"d1": {1}, "d2": {8}}


def test_merge_cycles_stay_three_way(spark, tmp_path):
    """After a merge the divergence point advances: a second branch
    commit + merge must not re-raise conflicts against the first
    cycle's own changes."""
    t = str(tmp_path / "t")
    commit_overwrite_partitions(_df(spark, [(1, "d1")]), t, "day")
    create_branch(t, "exp")
    commit_to_branch(_df(spark, [(2, "d2")]), t, "exp", "day")
    merge_branch(t, "exp")
    assert _trunk(spark, t) == {"d1": {1}, "d2": {2}}

    commit_to_branch(_df(spark, [(5, "d5")]), t, "exp", "day")
    merge_branch(t, "exp")
    assert _trunk(spark, t) == {"d1": {1}, "d2": {2}, "d5": {5}}


def test_merge_cycles_preserve_trunk_divergence(spark, tmp_path):
    """The repeated-merge data-loss regression: trunk diverges BEFORE
    the first merge (adds d3), the branch commits again after the merge,
    and the SECOND merge must keep d3 — a stale (non-fast-forwarded)
    branch head would read d3 as a branch-side deletion and silently
    drop it from trunk."""
    t = str(tmp_path / "t")
    commit_overwrite_partitions(_df(spark, [(1, "d1"), (3, "d2")]), t, "day")
    create_branch(t, "exp")
    commit_to_branch(_df(spark, [(9, "d2")]), t, "exp", "day")  # branch: d2
    commit_overwrite_partitions(_df(spark, [(7, "d3")]), t, "day")  # trunk: d3
    merge_branch(t, "exp")
    assert _trunk(spark, t) == {"d1": {1}, "d2": {9}, "d3": {7}}
    # post-merge the branch is fast-forwarded onto the merge result
    assert _branch(spark, t, "exp") == {"d1": {1}, "d2": {9}, "d3": {7}}

    commit_to_branch(_df(spark, [(4, "d4")]), t, "exp", "day")
    merge_branch(t, "exp")
    # d3 MUST survive the second merge
    assert _trunk(spark, t) == {
        "d1": {1},
        "d2": {9},
        "d3": {7},
        "d4": {4},
    }


def test_branch_commit_race_retries_and_merges(spark, tmp_path, monkeypatch):
    """Two branch commits racing for the same branch version: the loser
    must re-merge onto the winner's manifest and land the next version
    with BOTH partitions present (the trunk race contract, on a ref)."""
    import json
    import os as _os

    from breweries_case_spark.io import branches as B
    from breweries_case_spark.io import snapshots as S

    t = str(tmp_path / "t")
    commit_overwrite_partitions(_df(spark, [(1, "d1")]), t, "day")
    create_branch(t, "exp")

    real_link = _os.link
    claimed = {"done": False}

    def racing_link(src, dst, *a, **kw):
        if (
            not claimed["done"]
            and "_refs" in dst
            and dst.endswith("v00000001.json")
        ):
            claimed["done"] = True
            with open(dst, "w") as f:
                json.dump(
                    {
                        "version": 1,
                        "committed_at": 0.0,
                        "partition_col": "day",
                        "partitions": {"d9": []},
                    },
                    f,
                )
            raise FileExistsError(dst)
        return real_link(src, dst, *a, **kw)

    # the atomic claim point lives in snapshots.publish_json_excl
    monkeypatch.setattr(S.os, "link", racing_link)
    v = commit_to_branch(_df(spark, [(5, "d5")]), t, "exp", "day")
    monkeypatch.undo()
    assert v == 2  # lost v1, landed v2
    # the loser re-merged onto the WINNER's manifest: the winner's d9
    # partition is carried forward and the loser's d5 lands beside it.
    # (d1 is gone because the fake winner's manifest dropped it — the
    # same authority a delete-commit has; a real racing commit_to_branch
    # would have carried it forward.)
    m = B._read_branch_manifest(t, "exp", 2)
    assert set(m["partitions"]) == {"d9", "d5"}
    assert _branch(spark, t, "exp") == {"d5": {5}}


def test_vacuum_preserves_branch_data_and_base(spark, tmp_path):
    t = str(tmp_path / "t")
    commit_overwrite_partitions(_df(spark, [(1, "d1")]), t, "day")  # v1
    create_branch(t, "exp")  # diverges at v1
    commit_to_branch(_df(spark, [(2, "d2")]), t, "exp", "day")
    # pile up trunk versions so keep_versions=1 would normally drop v1
    commit_overwrite_partitions(_df(spark, [(3, "d1")]), t, "day")
    commit_overwrite_partitions(_df(spark, [(4, "d1")]), t, "day")
    vacuum(t, keep_versions=1)
    # branch still fully readable: its own commit AND the v1 base
    assert _branch(spark, t, "exp") == {"d1": {1}, "d2": {2}}

    # dropping the ref releases its claims; vacuum then reclaims
    delete_branch(t, "exp")
    deleted = vacuum(t, keep_versions=1)
    assert deleted  # the branch commit's files (and v1's) are gone
    assert _trunk(spark, t) == {"d1": {4}}
    assert list_branches(t) == []


def test_merge_ff_race_leaves_branch_divergent_not_lossy(
    spark, tmp_path, monkeypatch
):
    """A commit_to_branch racing merge_branch's fast-forward head publish:
    the merge must NOT advance created_from when the head republish loses
    — base and head must move together, else the next merge reads the
    racing head's unseen partitions as deletions and silently drops
    trunk data. On a lost race the branch stays divergent, and the NEXT
    merge lands the racing work with nothing lost."""
    import json as _json

    import breweries_case_spark.io.branches as B

    t = str(tmp_path / "t")
    commit_overwrite_partitions(_df(spark, [(1, "d1"), (3, "d2")]), t, "day")
    create_branch(t, "exp")
    commit_to_branch(_df(spark, [(9, "d2")]), t, "exp", "day")  # branch: d2
    commit_overwrite_partitions(_df(spark, [(7, "d3")]), t, "day")  # trunk: d3
    head_before = B._read_branch_manifest(
        t, "exp", B._branch_versions(t, "exp")[-1]
    )["partitions"]
    base_before = B._read_meta(t, "exp")["created_from"]

    # the racing branch commit: claims the exact head version the merge's
    # fast-forward will try, with content built on the pre-merge head
    real_publish = B.publish_json_excl

    def racing_publish(target, payload):
        if payload.get("fast_forward_of") is not None:
            racing = {
                "version": payload["version"],
                "committed_at": 0.0,
                "partition_col": "day",
                "partitions": {**head_before, "d4": head_before["d2"]},
            }
            with open(target, "w") as f:
                _json.dump(racing, f)
        return real_publish(target, payload)

    monkeypatch.setattr(B, "publish_json_excl", racing_publish)
    v = merge_branch(t, "exp")
    monkeypatch.undo()

    # trunk got the merge
    assert _trunk(spark, t) == {"d1": {1}, "d2": {9}, "d3": {7}}
    # the branch was NOT half-fast-forwarded: base unchanged, head is the
    # racing commit's map
    assert B._read_meta(t, "exp")["created_from"] == base_before
    assert _branch(spark, t, "exp") == {"d1": {1}, "d2": {9}, "d4": {9}}

    # the next merge lands the racing commit AND keeps trunk's d3
    v2 = merge_branch(t, "exp")
    assert v2 > v
    assert _trunk(spark, t) == {
        "d1": {1},
        "d2": {9},
        "d3": {7},
        "d4": {9},
    }


# --- model-based property test (hypothesis) --------------------------------

from hypothesis import given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

_BPARTS = ["p1", "p2"]
_bop = st.one_of(
    st.tuples(
        st.just("trunk"),
        st.sampled_from(_BPARTS),
        st.frozensets(
            st.integers(min_value=0, max_value=9), min_size=1, max_size=3
        ),
    ),
    st.tuples(st.just("create")),
    st.tuples(
        st.just("bcommit"),
        st.sampled_from(_BPARTS),
        st.frozensets(
            st.integers(min_value=10, max_value=19), min_size=1, max_size=3
        ),
    ),
    st.tuples(st.just("merge")),
    st.tuples(st.just("drop")),
    st.tuples(st.just("vacuum")),
)


@given(ops=st.lists(_bop, min_size=2, max_size=7))
@settings(max_examples=10, deadline=None)
def test_branch_lifecycle_matches_sequential_model(
    spark, tmp_path_factory, ops
):
    """Random create/commit/merge/drop/vacuum sequences against a pure
    Python three-way model. 'Changed' is COMMIT identity (every commit
    mints a fresh token), mirroring the engine's file-list comparison —
    recommitting identical rows still counts as a change. After every op
    trunk and branch contents must equal the model, merges must conflict
    exactly when the model says both sides changed a partition since the
    divergence point, and vacuum must never disturb either view."""
    t = str(tmp_path_factory.mktemp("blife") / "t")
    commit_overwrite_partitions(_df(spark, [(0, "p1")]), t, "day")

    tok = iter(range(1, 10_000))
    trunk_rows = {"p1": frozenset({0})}
    trunk_tok = {"p1": 0}
    branch = None  # (base_tok, head_tok, head_rows)

    for op in ops:
        kind = op[0]
        if kind == "trunk":
            _, part, rows = op
            commit_overwrite_partitions(
                _df(spark, [(i, part) for i in sorted(rows)]), t, "day"
            )
            trunk_rows[part] = rows
            trunk_tok[part] = next(tok)
        elif kind == "create":
            if branch is None:
                create_branch(t, "exp")
                branch = (
                    dict(trunk_tok),
                    dict(trunk_tok),
                    dict(trunk_rows),
                )
        elif kind == "bcommit":
            if branch is not None:
                _, part, rows = op
                commit_to_branch(
                    _df(spark, [(i, part) for i in sorted(rows)]),
                    t,
                    "exp",
                    "day",
                )
                branch[1][part] = next(tok)
                branch[2][part] = rows
        elif kind == "merge":
            if branch is not None:
                base_tok, head_tok, head_rows = branch
                keys = set(base_tok) | set(trunk_tok) | set(head_tok)
                conflicts = [
                    k
                    for k in keys
                    if head_tok.get(k) != base_tok.get(k)
                    and trunk_tok.get(k) != base_tok.get(k)
                ]
                if conflicts:
                    with pytest.raises(MergeConflict):
                        merge_branch(t, "exp")
                else:
                    merge_branch(t, "exp")
                    for k in keys:
                        if head_tok.get(k) != base_tok.get(k):
                            trunk_tok[k] = head_tok[k]
                            trunk_rows[k] = head_rows[k]
                    branch = (
                        dict(trunk_tok),
                        dict(trunk_tok),
                        dict(trunk_rows),
                    )
        elif kind == "drop":
            if branch is not None:
                delete_branch(t, "exp")
                branch = None
        elif kind == "vacuum":
            vacuum(t, keep_versions=2)

        assert _trunk(spark, t) == {
            k: set(v) for k, v in trunk_rows.items()
        }, (op, ops)
        if branch is not None:
            assert _branch(spark, t, "exp") == {
                k: set(v) for k, v in branch[2].items()
            }, (op, ops)


@pytest.mark.parametrize("winner_day", ["d3", "d2"], ids=["disjoint", "conflicting"])
def test_merge_trunk_publish_race_rechecks_conflicts(
    spark, tmp_path, lose_claim, winner_day
):
    """A merge that loses its trunk version claim to a concurrent trunk
    commit re-runs the three-way walk against the WINNER's manifest: a
    winner on another partition is kept beside the branch's change, and
    a winner on the branch's partition is a conflict — trunk then holds
    the winner's version and nothing else."""
    from breweries_case_spark.io.snapshots import _manifest_path

    t = str(tmp_path / "t")
    commit_overwrite_partitions(_df(spark, [(1, "d1"), (3, "d2")]), t, "day")
    create_branch(t, "exp")
    commit_to_branch(_df(spark, [(9, "d2")]), t, "exp", "day")
    fired = lose_claim(
        _manifest_path(t, 2),
        lambda: commit_overwrite_partitions(_df(spark, [(7, winner_day)]), t, "day"),
    )
    if winner_day == "d2":
        with pytest.raises(MergeConflict) as ei:
            merge_branch(t, "exp")
        assert ei.value.partitions == ["d2"]
        assert latest_version(t) == 2
        assert _trunk(spark, t) == {"d1": {1}, "d2": {7}}
    else:
        assert merge_branch(t, "exp") == 3
        assert _trunk(spark, t) == {"d1": {1}, "d2": {9}, "d3": {7}}
        assert _branch(spark, t, "exp") == {"d1": {1}, "d2": {9}, "d3": {7}}
    assert fired
