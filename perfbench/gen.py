"""Seeded input generators for the benchmark workloads.

Everything here is plain Python (no Spark), so the same seed gives the
same bytes on any machine, and the expected audit values are computed
next to the data they describe.

Medallion days are brewery records as a REST API would deliver them:
JSON page bodies. Corpus shards are documents built by mutating the
texts of a base documents table. The planted rates below are the
contract the correctness checks rely on.
"""

from __future__ import annotations

import datetime as dt
import json
import random
from dataclasses import dataclass

# --- medallion_daily --------------------------------------------------------

#: share of records whose id is null / blank ("", " ", "  "); both fail
#: the silver validity gate
NULL_ID_RATE = 0.02
BLANK_ID_RATE = 0.01
#: share of records re-using an id seen earlier the same day (gold's
#: brewery_count and unique_brewery_count then differ)
REPEAT_ID_RATE = 0.03
#: share of string fields padded with spaces (silver trims them)
PAD_RATE = 0.10
#: share of records with null coordinates
NULL_COORD_RATE = 0.03
N_CITIES = 4000
PER_PAGE = 2000
#: the re-delivery keeps this share of the day's records, changes the
#: city/phone of CHANGE_RATE of those and appends NEW_RATE fresh records
REDELIVERY_KEEP = 0.85
REDELIVERY_CHANGE_RATE = 0.20
REDELIVERY_NEW_RATE = 0.10

BREWERY_TYPES = (
    "micro", "nano", "regional", "brewpub", "large", "planning",
    "bar", "contract", "proprietor", "closed",
)
COUNTRIES = (
    ("United States", 0.70), ("England", 0.08), ("Ireland", 0.06),
    ("Germany", 0.06), ("Scotland", 0.04), ("Poland", 0.03),
    ("South Korea", 0.03),
)
_SYLLABLES = (
    "ash", "bel", "cor", "dun", "el", "fen", "gar", "hol", "ir", "jas",
    "kel", "lor", "mar", "nor", "os", "pen", "quin", "ros", "sal", "tor",
    "ul", "ven", "wes", "yar", "zel",
)
_SUFFIXES = ("ton", "ville", "field", "ford", " Springs", " City", "burg", "port")
_STREETS = ("Main", "Oak", "Mill", "River", "Market", "Harbor", "Elm", "Union")


@dataclass(frozen=True)
class MedallionDay:
    """One delivery: the page bodies plus what a correct run must report."""

    date: dt.date
    pages: tuple[bytes, ...]
    n_records: int
    valid_rows: int
    gold_groups: int

    @property
    def payload_bytes(self) -> int:
        return sum(len(p) for p in self.pages)


def _cities(seed: int) -> list[tuple[str, str | None, str]]:
    """N_CITIES distinct (city, state, country) triples."""
    rng = random.Random(f"{seed}:cities")
    names: set[str] = set()
    out = []
    weights = [w for _, w in COUNTRIES]
    while len(out) < N_CITIES:
        name = "".join(rng.choice(_SYLLABLES) for _ in range(rng.randint(1, 3)))
        name = name.capitalize() + rng.choice(_SUFFIXES)
        if name in names:
            continue
        names.add(name)
        country = rng.choices([c for c, _ in COUNTRIES], weights)[0]
        state = None if rng.random() < 0.01 else f"State {rng.randrange(60):02d}"
        out.append((name, state, country))
    return out


def _pick(r, seq):
    return seq[int(r() * len(seq))]


def _messy_case(r, s: str) -> str:
    return _pick(r, (s, s.lower(), s.upper(), s.title()))


def _pad(r, s: str) -> str:
    if r() < PAD_RATE:
        return " " * (1 + int(r() * 2)) + s + " " * int(r() * 3)
    return s


def _phone(r) -> str | None:
    a, b, c = 200 + int(r() * 800), int(r() * 1000), int(r() * 10000)
    return _pick(r, (
        None,
        f"({a}) {b:03d}-{c:04d}",
        f"{a}.{b:03d}.{c:04d}",
        f"+1 {a} {b:03d} {c:04d}",
        f"{a}{b:03d}{c:04d}",
        f"{a}-{b:03d}-{c:04d}",
    ))


def _record(rng: random.Random, cities, i: int, day_ids: list[str]) -> dict:
    r = rng.random
    u = r()
    if u < NULL_ID_RATE:
        rid = None
    elif u < NULL_ID_RATE + BLANK_ID_RATE:
        rid = _pick(r, ("", " ", "  "))
    elif day_ids and u < NULL_ID_RATE + BLANK_ID_RATE + REPEAT_ID_RATE:
        rid = _pick(r, day_ids)
    else:
        rid = "%016x" % rng.getrandbits(64)
        day_ids.append(rid)
        rid = _pad(r, rid)
    # skewed city popularity: a few big cities, a long tail of small ones
    city, state, country = cities[int(N_CITIES * r() ** 2)]
    coords_null = r() < NULL_COORD_RATE
    return {
        "id": rid,
        "name": _pad(r, f"{_pick(r, _SYLLABLES).capitalize()} Brewing {i}"),
        "brewery_type": _pad(r, _messy_case(r, _pick(r, BREWERY_TYPES))),
        "address_1": f"{1 + int(r() * 9998)} {_pick(r, _STREETS)} St",
        "city": _pad(r, city),
        "state_province": None if state is None else _pad(r, _messy_case(r, state)),
        "postal_code": _pad(r, f"{int(r() * 100000):05d}" if r() < 0.5
                            else f"{int(r() * 100000):05d}-{int(r() * 10000):04d}"),
        "country": _pad(r, _messy_case(r, country)),
        "longitude": None if coords_null else f"{r() * 360 - 180:.7f}",
        "latitude": None if coords_null else f"{r() * 180 - 90:.7f}",
        "phone": _phone(r),
        "website_url": None if r() < 0.4 else f"http://www.{_pick(r, _SYLLABLES)}{i}.com",
    }


def _strip(s: str | None) -> str | None:
    # Spark's trim removes spaces only, not all whitespace
    return None if s is None else s.strip(" ")


def expected_audit(records: list[dict], day: dt.date) -> tuple[int, int]:
    """(valid silver rows, gold groups), replicating silver's clean-up and
    validity gate and gold's grouping key in plain Python."""
    valid = 0
    groups = set()
    for r in records:
        rid = _strip(r["id"])
        if rid is None or rid == "":
            continue
        valid += 1
        state, country = _strip(r["state_province"]), _strip(r["country"])
        groups.add((
            _strip(r["brewery_type"]).lower(),
            None if country is None else country.upper(),
            None if state is None else state.upper(),
            _strip(r["city"]),
            day,
        ))
    return valid, len(groups)


def _day(records: list[dict], day: dt.date) -> MedallionDay:
    pages = tuple(
        json.dumps(records[i : i + PER_PAGE]).encode()
        for i in range(0, len(records), PER_PAGE)
    )
    valid, groups = expected_audit(records, day)
    return MedallionDay(day, pages, len(records), valid, groups)


def _day_records(seed: int, cities, day_idx: int, n: int) -> list[dict]:
    rng = random.Random(f"{seed}:day:{day_idx}")
    ids: list[str] = []
    return [_record(rng, cities, i, ids) for i in range(n)]


def medallion_days(
    seed: int,
    n_days: int,
    per_day: int,
    redelivery_day: int,
    start: dt.date = dt.date(2024, 1, 1),
) -> list[MedallionDay]:
    """``n_days`` consecutive deliveries, then one re-delivery of day
    ``redelivery_day`` carrying changed records (same date, new content)."""
    cities = _cities(seed)
    out = []
    redelivered = None
    for d in range(n_days):
        recs = _day_records(seed, cities, d, per_day)
        out.append(_day(recs, start + dt.timedelta(days=d)))
        if d == redelivery_day:
            redelivered = recs
    rng = random.Random(f"{seed}:redelivery")
    kept = [dict(r) for r in redelivered if rng.random() < REDELIVERY_KEEP]
    for r in kept:
        if rng.random() < REDELIVERY_CHANGE_RATE:
            r["city"] = cities[rng.randrange(N_CITIES)][0]
            r["phone"] = _phone(rng.random)
    ids: list[str] = []
    kept += [
        _record(rng, cities, per_day + i, ids)
        for i in range(int(per_day * REDELIVERY_NEW_RATE))
    ]
    out.append(_day(kept, start + dt.timedelta(days=redelivery_day)))
    return out


def page_fetcher(day: MedallionDay):
    """A ``PageFetcher`` serving the day's pages the way an HTTP client
    would: the body is decoded on every fetch."""

    def fetch(page: int, per_page: int) -> list[dict]:
        if per_page != PER_PAGE:
            raise ValueError(f"pages are cut at {PER_PAGE} records")
        if page > len(day.pages):
            return []
        return json.loads(day.pages[page - 1])

    return fetch


# --- corpus_nightly ---------------------------------------------------------

#: per-shard composition (the remainder are fresh documents)
CORPUS_RATES = {
    "redelivery": 0.10,  # exact copy of a backfill document's text
    "near_dup": 0.10,  # backfill document with one token replaced
    "contaminated": 0.05,  # fresh document carrying a benchmark 3-gram
    "short": 0.05,  # 3-8 tokens: fails the quality gate
}
#: tokens outside the documents vocabulary, so a benchmark 3-gram never
#: occurs in a document by chance
BENCH_GRAMS = (
    "mmlu question answer",
    "gsm8k problem solution",
    "hellaswag context ending",
    "arc challenge choice",
)
#: base documents need this many tokens to carry a one-token near-dup edit
MIN_BASE_TOKENS = 20
GATE_MIN_TOKENS = 10
GATE_MEAN_LEN = (2.0, 12.0)


@dataclass(frozen=True)
class CorpusShard:
    shard_date: str
    rows: tuple[tuple[int, str, str, str], ...]  # (doc_id, text, lang, source)
    planted: dict  # kind -> tuple of doc_ids

    @property
    def text_bytes(self) -> int:
        return sum(len(t.encode()) + len(l) + len(s) for _, t, l, s in self.rows)

    @property
    def expected_after_gate(self) -> int:
        """Documents that pass the quality gate and decontamination."""
        dirty = set(self.planted.get("contaminated", ()))
        return sum(
            1 for d, t, _, _ in self.rows if passes_gate(t) and d not in dirty
        )


def passes_gate(text: str) -> bool:
    """Plain-Python replica of the quality gate for single-spaced text."""
    n = len(text.split(" "))
    return n >= GATE_MIN_TOKENS and GATE_MEAN_LEN[0] <= len(text) / n <= GATE_MEAN_LEN[1]


def _fresh_text(rng: random.Random, base: list[tuple[str, str, str]]) -> tuple[str, str, str]:
    text, lang, source = base[rng.randrange(len(base))]
    toks = text.split(" ")
    rng.shuffle(toks)
    return " ".join(toks), lang, source


def corpus_inputs(
    seed: int,
    base_docs: list[tuple[str, str, str]],
    backfill_n: int,
    n_shards: int,
    shard_n: int,
    start: dt.date = dt.date(2024, 2, 1),
) -> tuple[CorpusShard, list[CorpusShard]]:
    """A backfill shard of fresh documents, then ``n_shards`` daily shards
    mixing the CORPUS_RATES kinds. ``base_docs`` are (text, lang, source)."""
    base = sorted(
        d for d in base_docs
        if len(d[0].split(" ")) >= MIN_BASE_TOKENS and passes_gate(d[0])
    )
    vocab = sorted({t for text, _, _ in base for t in text.split(" ")})
    rng = random.Random(f"{seed}:corpus")
    backfill_rows = []
    seen = set()
    while len(backfill_rows) < backfill_n:
        text, lang, source = _fresh_text(rng, base)
        if text in seen:
            continue
        seen.add(text)
        backfill_rows.append((len(backfill_rows), text, lang, source))
    backfill = CorpusShard(
        (start - dt.timedelta(days=1)).isoformat(), tuple(backfill_rows), {}
    )

    shards = []
    for s in range(n_shards):
        counts = {k: round(r * shard_n) for k, r in CORPUS_RATES.items()}
        kinds = [k for k, c in counts.items() for _ in range(c)]
        kinds += ["fresh"] * (shard_n - len(kinds))
        rng.shuffle(kinds)
        rows, planted = [], {k: [] for k in ["fresh", *CORPUS_RATES]}
        for i, kind in enumerate(kinds):
            doc_id = (s + 1) * 1_000_000 + i
            if kind in ("redelivery", "near_dup"):
                _, text, lang, source = backfill_rows[rng.randrange(backfill_n)]
                if kind == "near_dup":
                    toks = text.split(" ")
                    j = rng.randrange(len(toks))
                    toks[j] = rng.choice([v for v in vocab if v != toks[j]])
                    text = " ".join(toks)
            elif kind == "short":
                text = " ".join(rng.choice(vocab) for _ in range(rng.randint(3, 8)))
                lang, source = "en", f"src{rng.randrange(20)}"
            else:
                text, lang, source = _fresh_text(rng, base)
                if kind == "contaminated":
                    toks = text.split(" ")
                    toks.insert(rng.randrange(len(toks) + 1), rng.choice(BENCH_GRAMS))
                    text = " ".join(toks)
            rows.append((doc_id, text, lang, source))
            planted[kind].append(doc_id)
        shards.append(CorpusShard(
            (start + dt.timedelta(days=s)).isoformat(),
            tuple(rows),
            {k: tuple(v) for k, v in planted.items()},
        ))
    return backfill, shards
