"""Driver-facing correctness suite.

Each entry maps one operator/query shape from SURVEY.md §2 onto the
driver's synthetic TPC-H-ish testdata (TESTDATA.md), as:

- a PySpark implementation ``(spark, sf_dir) -> DataFrame``, and
- (where SQL-expressible) a DuckDB oracle SQL twin run on the same
  parquet files.

Column names are aliased identically on both sides; numeric discipline
(see ``suite.common``) keeps value-hashes engine-independent.

``SUITE`` is in registration order: the modules below register their
entries on import, so the reference-parity queries and views (q*,
etl_*, v_*) come first. No entry is graded by position.
"""

from marketing_etl_analytics_spark.suite.registry import SUITE, SuiteEntry, register

# Importing the modules populates SUITE via their register() calls.
from marketing_etl_analytics_spark.suite import core  # noqa: F401
from marketing_etl_analytics_spark.suite import etl_builds  # noqa: F401
from marketing_etl_analytics_spark.suite import views  # noqa: F401
from marketing_etl_analytics_spark.suite import relational  # noqa: F401
from marketing_etl_analytics_spark.suite import ext  # noqa: F401
from marketing_etl_analytics_spark.suite import ext_scale  # noqa: F401
from marketing_etl_analytics_spark.suite import ext_pipeline  # noqa: F401
from marketing_etl_analytics_spark.suite import ext_select  # noqa: F401
from marketing_etl_analytics_spark.suite import udf  # noqa: F401
from marketing_etl_analytics_spark.suite import timeseries  # noqa: F401
from marketing_etl_analytics_spark.suite import funnels  # noqa: F401
from marketing_etl_analytics_spark.suite import graphs  # noqa: F401

__all__ = ["SUITE", "SuiteEntry", "register"]
