"""Bucketing: the co-located-join layout for 100 TB fact-fact joins.

The reference's B-tree indexes (`schema.sql:68-70`) accelerate
point/range access; Spark's equivalent for *join* access paths is
bucketed storage — both sides pre-hashed into the same number of
buckets on the join key, so the join needs NO Exchange (shuffle) at
read time. This test writes orders and lineitem bucketed by order key
and asserts the join plan is shuffle-free, which is the property that
matters when both sides are tens of TB.
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from marketing_etl_analytics_spark.sources.sinks import write_bucketed_table

SF_DIR = "/root/testdata/sf0.001"
N_BUCKETS = 8


@pytest.fixture(scope="module")
def bucketed(spark):
    # managed tables land in the session's spark-warehouse dir;
    # DROP TABLE below removes the files (managed-table semantics)
    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    lineitem = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    for df, name, key in (
        (orders, "orders_b", "o_orderkey"),
        (lineitem, "lineitem_b", "l_orderkey"),
    ):
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        write_bucketed_table(df, name, [key], n_buckets=N_BUCKETS)
    yield spark
    for name in ("orders_b", "lineitem_b"):
        spark.sql(f"DROP TABLE IF EXISTS {name}")


def test_cobucketed_join_has_no_shuffle(bucketed):
    spark = bucketed
    # disable broadcast so the join would otherwise need a shuffle
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = (
            spark.table("lineitem_b")
            .join(
                spark.table("orders_b"),
                F.col("l_orderkey") == F.col("o_orderkey"),
            )
            .groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        joined.collect()
        plan = joined._jdf.queryExecution().executedPlan().toString()
        # bucket-aligned SortMergeJoin. AQE's plan string doesn't order
        # nodes by tree depth, so instead of slicing around the join
        # assert the whole plan holds exactly ONE hash exchange — the
        # legitimate post-join aggregation one — and none on a join key
        final = plan.split("== Initial Plan ==")[0]  # AQE prints both plans
        assert "SortMergeJoin" in final
        assert final.count("Exchange hashpartitioning(") == 1
        assert "Exchange hashpartitioning(o_orderpriority" in final
        assert "Exchange hashpartitioning(l_orderkey" not in final
        assert "Exchange hashpartitioning(o_orderkey" not in final
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")


def test_bucketed_join_matches_unbucketed(bucketed):
    spark = bucketed
    b = (
        spark.table("lineitem_b")
        .join(spark.table("orders_b"), F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    u = (
        spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
        .join(
            spark.read.parquet(f"{SF_DIR}/orders.parquet"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    assert sorted(map(tuple, b.collect())) == sorted(map(tuple, u.collect()))
