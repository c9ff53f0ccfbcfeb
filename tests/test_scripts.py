"""The measurement scripts under ``scripts/`` run by hand, so no suite
imports them: parse each one (executing nothing of it) and check that
every name it imports from the package still exists."""

from __future__ import annotations

import ast
import importlib
import pathlib

import pytest

SCRIPTS = sorted((pathlib.Path(__file__).parent.parent / "scripts").glob("*.py"))


def _package_imports(tree: ast.AST):
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and (node.module or "").startswith(
            "breweries_case_spark"
        ):
            for alias in node.names:
                yield node.module, alias.name
        elif isinstance(node, ast.Import):
            for alias in node.names:
                if alias.name.startswith("breweries_case_spark"):
                    yield alias.name, None


@pytest.mark.parametrize("script", SCRIPTS, ids=lambda p: p.name)
def test_script_package_imports_resolve(script):
    missing = []
    for module, name in _package_imports(ast.parse(script.read_text(), str(script))):
        mod = importlib.import_module(module)
        if name is None or hasattr(mod, name):
            continue
        try:
            importlib.import_module(f"{module}.{name}")
        except ModuleNotFoundError:
            missing.append(f"{module}.{name}")
    assert not missing, f"{script.name} imports missing names: {missing}"
