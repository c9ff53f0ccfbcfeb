"""The production session's driver heap when no size is given."""

from __future__ import annotations

from breweries_case_spark.session import _driver_memory

GIB = 2**30


def test_driver_memory_is_half_the_host_within_1g_and_48g():
    assert _driver_memory(16 * GIB) == "8g"
    assert _driver_memory(15 * GIB + GIB // 2) == "7g"
    assert _driver_memory(GIB) == "1g"
    assert _driver_memory(512 * GIB) == "48g"
