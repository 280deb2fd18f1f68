"""The driver contract in ``__spark_entry__.py``: three functions that
adapt the suite registry for an external grader."""

from __future__ import annotations

import __spark_entry__ as contract
from marketing_etl_analytics_spark.suite import SUITE


def test_contract_matches_suite_and_smoke_runs(spark):
    queries = contract.queries()
    assert list(queries) == list(SUITE)
    # registration order puts the reference surface (q*, etl_*, v_*) first
    parity = [n for n in SUITE if n.startswith(("q", "etl_", "v_"))]
    assert list(SUITE)[: len(parity)] == parity

    oracles = contract.oracle_sql()
    assert set(oracles) <= set(queries)
    for name, sql in oracles.items():
        assert isinstance(sql, str) and sql.strip(), name

    assert contract.entry(spark).count() > 0
