"""Fold the bench artifact BENCH_FULL.json into BENCH_MINIMA.json, the
per-id floor table.

A floor belongs to a plan, and the bench names an id's plan by its
counter signature: the first run's (jobs, stages, shuffle_write_records),
which bench.py writes to BENCH_FULL.json beside the samples. Folding an
artifact taken at the bench SF (sf0.1):

- an id whose signature is unchanged keeps the lower of its floor and its
  fastest new sample; a slower sample with the same counters is host load;
- an id whose signature changed, or that has no floor yet, is re-seeded
  with its fastest new sample.

Entries with no signature (floors recorded before the bench read
counters) share one, so an unsigned artifact folds in as a plain minimum
and the first signed sample of an id re-seeds its floor. Artifacts at any
other SF change nothing.

Usage: python scripts/build_bench_minima.py   (after each sf0.1 bench
run; commit the refreshed BENCH_MINIMA.json)
"""

from __future__ import annotations

import json
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
BENCH_SF = 0.1
ARTIFACT = ROOT / "BENCH_FULL.json"
MINIMA = ROOT / "BENCH_MINIMA.json"


def fold(minima: dict[str, dict], doc: dict, source: str) -> dict[str, dict]:
    """``minima`` (qid -> {min_sec, source[, signature]}) with the bench
    artifact ``doc`` folded in, as a new dict; ``source`` names the
    artifact in the entries it seeds."""
    out = dict(minima)
    if doc.get("sf") != BENCH_SF:
        return out
    signatures = doc.get("signatures", {})
    for qid, samples in doc.get("samples_min_second", {}).items():
        sec, sig = min(samples), signatures.get(qid)
        cur = out.get(qid)
        if cur is None or cur.get("signature") != sig or sec < cur["min_sec"]:
            out[qid] = {"min_sec": sec, "source": source}
            if sig is not None:
                out[qid]["signature"] = sig
    return out


def main() -> None:
    minima = fold(
        json.loads(MINIMA.read_text())["minima"],
        json.loads(ARTIFACT.read_text()),
        ARTIFACT.stem,
    )
    table = {"sf": BENCH_SF, "minima": dict(sorted(minima.items()))}
    MINIMA.write_text(json.dumps(table, indent=1) + "\n")
    print(f"{len(minima)} ids -> {MINIMA.name}")


if __name__ == "__main__":
    main()
