"""The floor rule of the bench-minima fold: a floor belongs to one plan,
named by the id's counter signature (jobs, stages, shuffle_write_records).
While the signature is unchanged the floor keeps the lower sample; a
changed signature re-seeds it. Pure: no Spark session, no git history."""

from __future__ import annotations

import importlib.util
import json
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]

spec = importlib.util.spec_from_file_location(
    "build_bench_minima", ROOT / "scripts" / "build_bench_minima.py"
)
bbm = importlib.util.module_from_spec(spec)
spec.loader.exec_module(bbm)


def _doc(samples, signatures=None, sf=0.1):
    doc = {"sf": sf, "samples_min_second": samples}
    if signatures is not None:
        doc["signatures"] = signatures
    return doc


def test_unchanged_signature_keeps_the_minimum():
    m = bbm.fold({}, _doc({"q_x": [2.0, 4.0]}, {"q_x": [5, 7, 100]}), "a")
    assert m["q_x"] == {"min_sec": 2.0, "source": "a", "signature": [5, 7, 100]}
    # a slower run of the same plan is host load: the floor stays
    slower = bbm.fold(m, _doc({"q_x": [3.0]}, {"q_x": [5, 7, 100]}), "b")
    assert slower["q_x"] == m["q_x"]
    faster = bbm.fold(m, _doc({"q_x": [1.5]}, {"q_x": [5, 7, 100]}), "c")
    assert faster["q_x"]["min_sec"] == 1.5
    assert faster["q_x"]["source"] == "c"


def test_reset_excludes_old_samples_but_keeps_new_ones():
    """A changed signature is a new plan: the floor re-seeds."""
    m = {"q_x": {"min_sec": 1.0, "source": "old", "signature": [5, 7, 100]}}
    m2 = bbm.fold(m, _doc({"q_x": [3.0, 3.5]}, {"q_x": [4, 6, 100]}), "new")
    # a different plan: its slower floor replaces the old plan's
    assert m2["q_x"] == {"min_sec": 3.0, "source": "new", "signature": [4, 6, 100]}
    assert m["q_x"]["min_sec"] == 1.0  # the input table is not mutated


def test_first_signed_sample_reseeds_an_unsigned_entry():
    m = {
        "q_x": {"min_sec": 1.0, "source": "old"},
        "q_y": {"min_sec": 1.0, "source": "old"},
    }
    # an unsigned artifact shares the unsigned entries' signature
    unsigned = bbm.fold(m, _doc({"q_x": [3.0], "q_y": [0.5]}), "plain")
    assert unsigned["q_x"] == {"min_sec": 1.0, "source": "old"}
    assert unsigned["q_y"] == {"min_sec": 0.5, "source": "plain"}
    signed = bbm.fold(m, _doc({"q_x": [3.0]}, {"q_x": [2, 2, 0]}), "signed")
    assert signed["q_x"] == {"min_sec": 3.0, "source": "signed", "signature": [2, 2, 0]}


def test_samples_off_the_bench_sf_are_ignored():
    m = {"q_x": {"min_sec": 1.0, "source": "old"}}
    doc = _doc({"q_x": [0.1], "q_new": [0.1]}, {"q_x": [1, 1, 0]}, sf=0.01)
    assert bbm.fold(m, doc, "small") == m


def test_regenerated_minima_match_committed_file():
    """BENCH_MINIMA.json is a fixpoint of the fold of the committed
    BENCH_FULL.json: folding the artifact in once more changes nothing
    (a stale table has a floor above a committed sample, or a benched id
    without a floor)."""
    table = json.loads(bbm.MINIMA.read_text())
    full = json.loads(bbm.ARTIFACT.read_text())
    # the committed artifact is an sf0.1 run; an off-SF one would fold
    # to nothing and prove nothing
    assert table["sf"] == full["sf"] == bbm.BENCH_SF
    assert bbm.fold(table["minima"], full, bbm.ARTIFACT.stem) == table["minima"]
    assert set(full["samples_min_second"]) <= set(table["minima"])
