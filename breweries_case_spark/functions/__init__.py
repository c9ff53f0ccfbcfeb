"""Scalar/aggregate expression helpers shared by operators.

All helpers are built-in Column expressions (JVM-side, whole-stage-codegen
eligible) — no Python UDFs in the hot path.
"""

from breweries_case_spark.functions.numeric import decimal_sum, decimal_avg
from breweries_case_spark.functions.cleaning import (
    clean_text,
    digits_only,
    fingerprint,
    token_hashes,
    tokens,
    ws_tokens,
)

__all__ = [
    "decimal_sum", "decimal_avg", "clean_text", "digits_only",
    "fingerprint", "token_hashes", "tokens", "ws_tokens",
]
