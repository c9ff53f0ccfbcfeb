"""Shared fixtures: one session-scoped local SparkSession (test profile:
AQE off, shuffle=4 — mirrors the reference's pytest convention,
reference tests/pytest_ini.txt:36-39) and the sf0.001 data dir."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from breweries_case_spark.session import get_test_session  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_test_session()
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture
def lose_claim(monkeypatch):
    """``lose_claim(target, winner)`` patches the snapshot log's atomic
    claim point (``os.link``) so that the first publish of ``target``
    runs ``winner`` — a real commit that claims ``target`` first — and
    then loses with EEXIST. Returns the list of targets it fired on."""
    import breweries_case_spark.io.snapshots as S

    real_link = S.os.link
    fired: list[str] = []

    def arm(target, winner):
        def racing_link(src, dst, *a, **kw):
            if not fired and dst == target:
                fired.append(dst)
                monkeypatch.setattr(S.os, "link", real_link)
                winner()
                monkeypatch.setattr(S.os, "link", racing_link)
            return real_link(src, dst, *a, **kw)

        monkeypatch.setattr(S.os, "link", racing_link)
        return fired

    return arm
