"""The library layers never import the suite above them.

``ext/``, ``streaming/``, ``sources/`` and ``functions/`` hold the one
implementation of each operator; ``suite/`` calls them and adds the
projection, ORDER BY and DuckDB oracle. An import in the other
direction (module-level or inside a function) would make the library
depend on the graded entries that are supposed to depend on it.
"""

from __future__ import annotations

import ast
from pathlib import Path

import pytest

PKG = Path(__file__).resolve().parent.parent / "marketing_etl_analytics_spark"
LOWER_LAYERS = ("ext", "streaming", "sources", "functions")
SUITE = "marketing_etl_analytics_spark.suite"


def _suite_imports(path: Path) -> list[str]:
    """Every ``suite`` import in ``path`` as "line: module", including
    imports nested in functions and relative imports."""
    package = "marketing_etl_analytics_spark." + path.parent.name
    found = []
    for node in ast.walk(ast.parse(path.read_text(), filename=str(path))):
        if isinstance(node, ast.Import):
            modules = [alias.name for alias in node.names]
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:
                parent = package.rsplit(".", node.level - 1)[0]
                base = f"{parent}.{base}" if base else parent
            modules = [base] + [f"{base}.{alias.name}" for alias in node.names]
        else:
            continue
        hits = [m for m in modules if m == SUITE or m.startswith(SUITE + ".")]
        if hits:
            found.append(f"{node.lineno}: {hits[0]}")
    return found


MODULES = sorted(p for layer in LOWER_LAYERS for p in (PKG / layer).glob("*.py"))


def test_lower_layers_exist():
    assert {p.parent.name for p in MODULES} == set(LOWER_LAYERS)


@pytest.mark.parametrize("path", MODULES, ids=lambda p: f"{p.parent.name}/{p.name}")
def test_no_suite_import(path):
    assert _suite_imports(path) == [], path
