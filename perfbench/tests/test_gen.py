"""Seeded generators: same seed, same inputs; other seed, other inputs;
planted rates as stated."""

import datetime as dt
import json

import gen

BASE = [
    (" ".join(f"w{(i * 7 + k) % 40}" for k in range(20 + i % 30)), "en", f"src{i % 5}")
    for i in range(300)
]


def _days(seed):
    return gen.medallion_days(seed, n_days=2, per_day=3000, redelivery_day=1)


def test_medallion_same_seed_same_inputs():
    assert _days(7) == _days(7)


def test_medallion_different_seed_different_inputs():
    a, b = _days(7), _days(8)
    assert [d.pages for d in a] != [d.pages for d in b]


def test_medallion_shape_and_planted_rates():
    days = _days(3)
    assert [d.date for d in days] == [dt.date(2024, 1, 1), dt.date(2024, 1, 2), dt.date(2024, 1, 2)]
    records = [r for p in days[0].pages for r in json.loads(p)]
    assert len(records) == days[0].n_records == 3000
    invalid = sum(1 for r in records if r["id"] is None or r["id"].strip(" ") == "")
    assert abs(invalid / 3000 - (gen.NULL_ID_RATE + gen.BLANK_ID_RATE)) < 0.015
    assert days[0].valid_rows == 3000 - invalid
    assert len({r["city"].strip() for r in records}) > 1000
    assert {r["phone"] is None for r in records} == {True, False}
    # the re-delivery changes the day's content
    assert days[2].pages != days[1].pages
    assert all(len(json.loads(p)) == gen.PER_PAGE for p in days[0].pages[:-1])


def test_page_fetcher_serves_pages_then_stops():
    day = _days(3)[0]
    fetch = gen.page_fetcher(day)
    assert len(fetch(1, gen.PER_PAGE)) == gen.PER_PAGE
    assert fetch(len(day.pages) + 1, gen.PER_PAGE) == []


def _corpus(seed):
    return gen.corpus_inputs(seed, BASE, backfill_n=100, n_shards=2, shard_n=400)


def test_corpus_same_seed_same_inputs():
    assert _corpus(5) == _corpus(5)


def test_corpus_different_seed_different_inputs():
    assert _corpus(5)[1][0].rows != _corpus(6)[1][0].rows


def test_corpus_planted_rates_and_kinds():
    backfill, shards = _corpus(5)
    texts = {t for _, t, _, _ in backfill.rows}
    assert len(texts) == 100 and all(gen.passes_gate(t) for t in texts)
    for shard in shards:
        assert len(shard.rows) == 400
        for kind, rate in gen.CORPUS_RATES.items():
            assert len(shard.planted[kind]) == round(rate * 400)
        by_id = {d: t for d, t, _, _ in shard.rows}
        assert all(by_id[d] in texts for d in shard.planted["redelivery"])
        assert not any(by_id[d] in texts for d in shard.planted["near_dup"])
        assert not any(gen.passes_gate(by_id[d]) for d in shard.planted["short"])
        assert all(
            any(g in by_id[d] for g in gen.BENCH_GRAMS) for d in shard.planted["contaminated"]
        )
        clean = [t for d, t, _, _ in shard.rows if d not in shard.planted["contaminated"]]
        assert not any(g in t for t in clean for g in gen.BENCH_GRAMS)
        assert shard.expected_after_gate == 400 - 20 - 20
