"""Every engine name the scripts, the bench and the examples import must
exist.  The suite never runs those files, so a renamed or deleted operator
would otherwise break them silently.  Import-only: no Spark session."""

from __future__ import annotations

import ast
import glob
import importlib
import os

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
FILES = sorted(
    glob.glob(os.path.join(ROOT, "scripts", "*.py"))
    + glob.glob(os.path.join(ROOT, "examples", "*.py"))
    + [os.path.join(ROOT, "bench.py")]
)


def _engine_imports(path: str):
    """(line, module, name) for every ``from biggraphite_spark... import
    name`` and ``from __spark_entry__ import name`` in ``path`` (name is
    None for a plain ``import biggraphite_spark...``)."""
    with open(path) as f:
        tree = ast.parse(f.read(), path)
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and node.module and node.level == 0:
            if node.module == "__spark_entry__" or node.module.split(".")[0] == (
                "biggraphite_spark"
            ):
                for alias in node.names:
                    yield node.lineno, node.module, alias.name
        elif isinstance(node, ast.Import):
            for alias in node.names:
                if alias.name.split(".")[0] == "biggraphite_spark":
                    yield node.lineno, alias.name, None


def test_walk_finds_engine_imports():
    assert sum(1 for p in FILES for _ in _engine_imports(p)) > 10


@pytest.mark.parametrize("path", FILES, ids=lambda p: os.path.relpath(p, ROOT))
def test_engine_imports_resolve(path):
    missing = []
    for line, module, name in _engine_imports(path):
        mod = importlib.import_module(module)
        if name is None or name == "*" or hasattr(mod, name):
            continue
        try:
            importlib.import_module(f"{module}.{name}")
        except ModuleNotFoundError:
            missing.append(f"line {line}: from {module} import {name}")
    assert not missing, missing
