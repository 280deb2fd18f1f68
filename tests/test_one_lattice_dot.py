"""The Spark lattice dot product is written once, in ``ext/embedding.py``.

Every embedding operator scores with the same 1e-12 integer-lattice
dot (``SPARK_DOT_L`` / ``SPARK_DOT``), and the suite oracles replay it
as ``SQL_DOT``. A second spelling of its per-term snap could drift from
the first without any test noticing, so this parses every module of
the package and looks for the term in its string literals, f-string
parts included.
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

PKG = Path(__file__).resolve().parent.parent / "marketing_etl_analytics_spark"
HOME = "ext/embedding.py"
# The per-term snap of the Spark spelling: the second operand's element
# widened to double, scaled onto the lattice and rounded half up. Any
# placeholder or column name may stand in for {b}.
LATTICE_TERM = re.compile(
    r"\*\s*CAST\(element_at\(\{?\w+\}?, i\) AS DOUBLE\)\s*\*\s*1e12\s*\+\s*0\.5"
)


def _lattice_terms(path: Path) -> list[int]:
    """Line numbers of the string literals in ``path`` that hold the
    Spark lattice term."""
    tree = ast.parse(path.read_text(), filename=str(path))
    return [
        node.lineno
        for node in ast.walk(tree)
        if isinstance(node, ast.Constant)
        and isinstance(node.value, str)
        and LATTICE_TERM.search(node.value)
    ]


def test_lattice_term_defined_only_in_embedding():
    found = {
        str(p.relative_to(PKG)): lines
        for p in sorted(PKG.rglob("*.py"))
        if (lines := _lattice_terms(p))
    }
    assert list(found) == [HOME], found
    assert len(found[HOME]) == 1, found


def test_pattern_matches_the_definition():
    from marketing_etl_analytics_spark.ext.embedding import SPARK_DOT_L

    assert LATTICE_TERM.search(SPARK_DOT_L)
