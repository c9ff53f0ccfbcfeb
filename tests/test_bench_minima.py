"""FLOOR_RESETS semantics of the bench-minima builder (r12): floors are
per-PLAN — a sample recorded before an id's plan-change commit must not
seed the floor, while undated (working-tree) samples always count."""

from __future__ import annotations

import importlib.util
import json
import subprocess
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]

spec = importlib.util.spec_from_file_location(
    "build_bench_minima", ROOT / "scripts" / "build_bench_minima.py"
)
bbm = importlib.util.module_from_spec(spec)
spec.loader.exec_module(bbm)


def _doc(queries=None, samples=None, sf=0.1, parsed=False):
    body = {
        "sf": sf,
        "queries": queries or {},
        "samples_min_second": samples or {},
    }
    return {"sf": sf, "parsed": body} if parsed else body


def test_reset_excludes_old_samples_but_keeps_new_ones():
    resets = {"q_x": 100.0}
    docs = [
        ("old", _doc(queries={"q_x": 1.0, "q_y": 1.0}), 50.0),
        ("new", _doc(queries={"q_x": 3.0, "q_y": 3.0}), 150.0),
    ]
    m = bbm.collect_minima(docs, resets)
    # q_x's 1.0 predates the reset: floor re-seeds at the new plan's 3.0
    assert m["q_x"] == {"min_sec": 3.0, "source": "new"}
    # q_y has no reset: min over history as before
    assert m["q_y"] == {"min_sec": 1.0, "source": "old"}


def test_undated_working_tree_samples_always_count():
    resets = {"q_x": 100.0}
    docs = [("wt", _doc(queries={"q_x": 0.5}), None)]
    m = bbm.collect_minima(docs, resets)
    assert m["q_x"]["min_sec"] == 0.5


def test_samples_list_wrapped_parsed_and_sf_filter():
    docs = [
        ("a", _doc(samples={"q_z": [2.0, 4.0]}), None),
        ("b", _doc(queries={"q_z": 1.5}, parsed=True), None),
        ("offsf", _doc(queries={"q_z": 0.1}, sf=0.01), None),
    ]
    m = bbm.collect_minima(docs, {})
    # both samples of a list count, parsed wrappers unwrap, off-sf skipped
    assert m["q_z"] == {"min_sec": 1.5, "source": "b"}


def test_live_resets_point_at_real_commits():
    """Every FLOOR_RESETS timestamp must correspond to a commit that
    exists in this repo's history (the reset is 'the committer time of
    the plan-change commit' — a typo'd epoch would silently disable or
    over-apply the reset)."""
    log = subprocess.run(
        ["git", "-C", str(ROOT), "log", "--format=%ct"],
        capture_output=True,
        text=True,
    ).stdout.split()
    times = {float(t) for t in log}
    for qid, ts in bbm.FLOOR_RESETS.items():
        assert ts in times, (qid, ts)


def test_regenerated_minima_match_committed_file():
    """BENCH_MINIMA.json in the worktree must be reproducible from the
    builder (guards against hand-edits drifting from the mechanism).
    Only run when the committed file exists."""
    path = ROOT / "BENCH_MINIMA.json"
    committed = json.loads(path.read_text())
    assert "minima" in committed and committed.get("sf") == bbm.BENCH_SF
    # every reset id that appears must NOT carry a pre-reset source time
    for qid in bbm.FLOOR_RESETS:
        entry = committed["minima"].get(qid)
        if entry is None:
            continue
        src = entry["source"]
        if src.startswith("BENCH_FULL@"):
            rev = src.split("@", 1)[1]
            ct = subprocess.run(
                ["git", "-C", str(ROOT), "show", "-s", "--format=%ct", rev],
                capture_output=True,
                text=True,
            ).stdout.strip()
            assert float(ct) >= bbm.FLOOR_RESETS[qid], (qid, src)


def test_floor_resets_literal_has_no_duplicate_keys():
    """A repeated key in the FLOOR_RESETS literal silently drops all but
    its last value, so a reader of the earlier entry sees a reset that
    never applies — each id must appear once."""
    import ast

    tree = ast.parse((ROOT / "scripts" / "build_bench_minima.py").read_text())
    (literal,) = [
        node.value
        for node in tree.body
        if isinstance(node, ast.Assign)
        and any(getattr(t, "id", None) == "FLOOR_RESETS" for t in node.targets)
    ]
    keys = [k.value for k in literal.keys]
    assert sorted({k for k in keys if keys.count(k) > 1}) == []
