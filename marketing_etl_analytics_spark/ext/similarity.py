"""Embedding similarity search on the 1e-12 lattice dot.

One implementation of each operator the similarity entries are built
from:

- :func:`with_norm` appends ``n2l``, the squared norm in BIGINT
  lattice units (``SPARK_DOT_L(vec, vec)``). A corpus stores it next
  to the vector, so no pair ever recomputes a norm. :func:`norm2` is
  the double view, ``CAST(n2l AS DOUBLE) / 1e12``, bit-identical to
  ``SPARK_DOT(vec, vec)``.
- :func:`sign_bucket_expr` is the sign-LSH bucket over a run of
  dimensions; :func:`with_sign_bucket` appends it over the first
  ``bits``.
- :func:`cosine_topk` scores ``SPARK_DOT / sqrt(nq * nc)`` with a
  rank window: brute force is a broadcast of the (small) query side
  against every candidate, and the bucketed scale path joins on the
  sign bucket instead of producing all pairs.

Every value is the one the suite's DuckDB oracles replay (``SQL_DOT``,
``SQL_BUCKET``), so a suite entry adds only its projection, rounding
and ORDER BY.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from marketing_etl_analytics_spark.ext.embedding import SPARK_DOT, SPARK_DOT_L


def with_norm(df: DataFrame, vec: str = "embedding") -> DataFrame:
    """Append ``n2l``: the lattice squared norm of ``vec`` (BIGINT)."""
    return df.withColumn("n2l", F.expr(SPARK_DOT_L.format(a=vec, b=vec)))


def norm2(n2l: str = "n2l") -> Column:
    """The double squared norm of a lattice norm column."""
    return F.col(n2l).cast("double") / F.lit(1e12)


def sign_bucket_expr(vec: str, first: int, last: int | str) -> str:
    """Spark SQL for the sign-LSH bucket over dims ``first..last``
    (1-based): bit ``i - first`` is set iff ``vec[i] > 0``. ``last``
    may be an SQL expression (a clamp to the vector's width).

    For real workloads the hyperplanes would be random projections;
    component signs are the deterministic, test-friendly variant with
    the same plan shape."""
    return (
        f"CAST(aggregate(sequence({first}, {last}), CAST(0 AS BIGINT),"
        f" (acc, i) -> acc + CASE WHEN CAST(element_at({vec}, i) AS DOUBLE) > 0"
        f" THEN CAST(pow(2, i - {first}) AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
        " AS BIGINT)"
    )


def with_sign_bucket(df: DataFrame, vec: str = "embedding", bits: int = 8) -> DataFrame:
    """Append ``bucket``: the sign-LSH bucket of the first ``bits``
    components (2^bits buckets)."""
    return df.withColumn("bucket", F.expr(sign_bucket_expr(vec, 1, bits)))


def cosine_topk(
    candidates: DataFrame,
    queries: DataFrame,
    k: int = 5,
    key: str = "vec_id",
    vec: str = "embedding",
    bucketed: bool = False,
    bucket_bits: int = 8,
) -> DataFrame:
    """Top-k cosine neighbors per query vector: (qid, cid, cosine, rn),
    plus ``bucket`` when ``bucketed``.

    candidates/queries: frames with (key, vec, n2l) columns, the norm
    from :func:`with_norm`. The cosine is ``SPARK_DOT(qe, ce) /
    sqrt(nq * nc)`` on the double norms; ties rank by ascending cid.
    With ``bucketed=True`` both sides are sign-bucketed on the first
    ``bucket_bits`` dims and the join runs per bucket (approximate;
    misses cross-bucket neighbors — that is the recall/cost trade).

    Zero-norm vectors are dropped from BOTH sides before scoring:
    cosine is undefined for them.
    """

    def side(df: DataFrame, id_: str, e: str, n: str) -> DataFrame:
        cols = [F.col(key).alias(id_), F.col(vec).alias(e), norm2().alias(n)]
        if bucketed:
            cols.append(F.expr(sign_bucket_expr(vec, 1, bucket_bits)).alias("bucket"))
        return df.filter(F.col("n2l") > 0).select(*cols)

    q = side(queries, "qid", "qe", "nq")
    c = side(candidates, "cid", "ce", "nc")
    if bucketed:
        joined = c.join(F.broadcast(q), "bucket")
    else:
        joined = c.crossJoin(F.broadcast(q))
    cos = F.expr(SPARK_DOT.format(a="qe", b="ce")) / F.sqrt(F.col("nq") * F.col("nc"))
    # cosine as a COLUMN so the rank window orders by an attribute
    # (one evaluation per pair, none per SortOrder comparison)
    pairs = joined.filter(F.col("qid") != F.col("cid")).select(
        "qid", "cid", *(["bucket"] if bucketed else []), cos.alias("cosine")
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cosine"), F.asc("cid"))
    return pairs.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= k)
