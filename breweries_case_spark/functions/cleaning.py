"""String-cleaning expressions reproducing the reference's silver layer
normalization (reference ``src/processors/breweries_silver_processors.py:52-64``,
SURVEY §2.7 C1-C4), and the text features every LLM-data operator builds
on that same trim → case normalization: tokens, token counts, the exact
content fingerprint and per-token hashes."""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def clean_text(col: Column, case: str | None = None) -> Column:
    """``trim`` plus optional case normalization.

    case="lower" → brewery_type semantics; case="upper" → state/country
    semantics; None → id/name/city/postal_code/website_url semantics.
    """
    if case not in (None, "lower", "upper"):
        # a typo'd case must fail loudly, not silently skip normalization
        raise ValueError(f"case must be None, 'lower', or 'upper'; got {case!r}")
    out = F.trim(col)
    if case == "lower":
        out = F.lower(out)
    elif case == "upper":
        out = F.upper(out)
    return out


def digits_only(col: Column) -> Column:
    """Keep digits only — phone normalization
    (reference ``breweries_silver_processors.py:62``: regexp_replace [^\\d])."""
    return F.regexp_replace(col, r"[^\d]", "")


def tokens(col: Column, drop_empty: bool) -> Column:
    """Normalized word tokens: ``split(lower(trim(col)), '\\s+')``.

    Two contracts, each pinned by the oracles of the ids that use it.
    Spark's ``trim`` strips spaces only, so a tab- or newline-edged text
    splits into empty edge tokens: ``"\\tA b\\n"`` gives
    ``['', 'a', 'b', '']`` with ``drop_empty=False`` and ``['a', 'b']``
    with ``drop_empty=True``. ``""`` and ``"   "`` give ``['']`` (one
    token) with ``drop_empty=False`` and ``[]`` with ``drop_empty=True``.
    NULL stays NULL either way."""
    out = F.split(F.lower(F.trim(col)), r"\s+")
    return F.filter(out, lambda t: t != "") if drop_empty else out


def ws_tokens(col: Column) -> Column:
    """Case-preserving whitespace tokens of the trimmed text — the split
    behind every whitespace token count. Empty tokens stay, as in
    ``tokens(col, drop_empty=False)``: a blank text is one token."""
    return F.split(F.trim(col), r"\s+")


def fingerprint(col: Column) -> Column:
    """The exact-dedup key: md5 of the lowercased trimmed text (md5 is the
    hash both Spark and the DuckDB oracles share)."""
    return F.md5(F.lower(F.trim(col)))


def token_hashes(toks: Column) -> Column:
    """One 64-bit xxhash64 per token of a token array, in order."""
    return F.transform(toks, lambda t: F.xxhash64(t))
