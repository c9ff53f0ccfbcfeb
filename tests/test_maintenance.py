"""Incremental rollup maintenance."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from breweries_case_spark.pipelines.incremental import (
    ROLLUP_KEYS,
    daily_partial,
    finalize,
    merge_states,
)


def _silver_day(spark, day: dt.date, rows):
    return spark.createDataFrame(
        [(t, c, i, day) for (t, c, i) in rows],
        "brewery_type string, country string, id string, extraction_date date",
    )


def test_incremental_rollup_matches_full_recompute(spark):
    days = [
        # (type, country, id) — ids overlap across days on purpose: the
        # sketch must merge, not sum
        [("micro", "US", f"id{i}") for i in range(40)]
        + [("brewpub", "US", f"bp{i}") for i in range(10)],
        [("micro", "US", f"id{i}") for i in range(20, 60)]
        + [("micro", "DE", f"de{i}") for i in range(5)],
        [("brewpub", "US", f"bp{i}") for i in range(5, 30)],
    ]
    frames = [
        _silver_day(spark, dt.date(2024, 1, 1 + n), rows)
        for n, rows in enumerate(days)
    ]

    # incremental: fold one day at a time, like a daily job would
    state = daily_partial(frames[0])
    for f in frames[1:]:
        state = merge_states(state, daily_partial(f))
    got = {
        tuple(r[k] for k in ROLLUP_KEYS): (r.row_count, r.approx_unique_ids)
        for r in finalize(state).collect()
    }

    full = frames[0]
    for f in frames[1:]:
        full = full.unionByName(f)
    want = {
        tuple(r[k] for k in ROLLUP_KEYS): (r.n, r.d)
        for r in full.groupBy(*ROLLUP_KEYS)
        .agg(F.count("*").alias("n"), F.countDistinct("id").alias("d"))
        .collect()
    }

    assert set(got) == set(want)
    for key, (n, approx) in got.items():
        exact_n, exact_d = want[key]
        assert n == exact_n, key  # counts are exact
        assert abs(approx - exact_d) <= max(1, 0.05 * exact_d), (
            key,
            approx,
            exact_d,
        )


def test_merge_states_is_order_insensitive(spark):
    a = daily_partial(
        _silver_day(spark, dt.date(2024, 2, 1), [("micro", "US", "x1")])
    )
    b = daily_partial(
        _silver_day(
            spark, dt.date(2024, 2, 2), [("micro", "US", "x1"), ("micro", "US", "x2")]
        )
    )
    ab = finalize(merge_states(a, b)).collect()[0]
    ba = finalize(merge_states(b, a)).collect()[0]
    assert (ab.row_count, ab.approx_unique_ids) == (3, 2)
    assert (ba.row_count, ba.approx_unique_ids) == (3, 2)

