"""The benchmark's ``--trace 1`` mode wraps engine functions by name
(``perfbench/tracing.py``'s ``HOOKS``). A renamed or removed helper
would break traced runs without failing any engine test, so every hooked
name must resolve to a callable on its layer module."""

from __future__ import annotations

import importlib
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_every_tracing_hook_resolves():
    bench = os.path.join(ROOT, "perfbench")
    if bench not in sys.path:
        sys.path.insert(0, bench)
    tracing = importlib.import_module("tracing")
    missing = [
        (layer, name)
        for layer, hooks in tracing.HOOKS.items()
        for name in hooks
        if not callable(
            getattr(importlib.import_module(f"{tracing.PACKAGE}.{layer}"), name, None)
        )
    ]
    assert not missing
