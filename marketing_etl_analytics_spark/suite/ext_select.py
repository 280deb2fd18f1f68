"""Data-selection operators, part 3 (round 9): mixture allocation and
diversity-based coreset selection.

Two selection shapes every large-scale pretraining-data build needs
that the suite did not yet cover:

- **UniMax budget allocation** (``ext_mix_unimax`` — Chung et al.
  2023, "UniMax: Fairer and More Effective Language Sampling for
  Large-Scale Multilingual Pretraining", ICLR): given a total token
  budget and an epoch cap, allocate the budget as uniformly as
  possible across sources, capping each source at ``cap = C * n_s``
  tokens — the successor to alpha-temperature sampling (which the
  suite already has as ``ext_sample_temperature``: that one re-weights
  proportionally, this one water-fills under hard caps). The classic
  water-filling closed form is exact INTEGER arithmetic over the
  per-source aggregate: sort sources ascending by cap; source i is
  capped iff ``cap_i * (#remaining) <= remaining_budget`` (a BIGINT
  comparison — no doubles anywhere in the decision), and every
  uncapped source gets the same integer fair share.

- **Greedy k-center coreset selection** (``ext_coreset_kcenter`` —
  Gonzalez 1985 farthest-point traversal as used for training-data
  diversity selection by Sener & Savarese 2018, "Active Learning for
  Convolutional Neural Networks: A Core-Set Approach", ICLR): pick K
  embedding-space centers by repeatedly taking the point farthest from
  the current center set, then report each center's selection radius
  and Voronoi cell size. Distances live on the shared 1e-12 integer
  lattice (``ext.embedding.SPARK_DOT_L``): per-term
  ``FLOOR(x*y*1e12 + 0.5)`` into a BIGINT accumulator makes every
  squared distance an exact, order-free integer in BOTH engines, so
  argmax/argmin decisions can never diverge on FP noise.

Scale shapes (100 TB): UniMax is one map-side-combined groupBy to the
per-source grain (#sources rows) and a window over that tiny
aggregate — the corpus never shuffles. K-center is K linear passes,
each a broadcast of ONE new center + a map-side max (the per-pass
argmax is a TakeOrderedAndProject top-1); the corpus is never
shuffled and the driver only ever holds K one-row frames — the
textbook distributed Gonzalez sweep.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from marketing_etl_analytics_spark.ext.classifier import (
    PCTR_B,
    PCTR_EPOCHS,
    PCTR_SHARDS,
    PCTR_STOP_DEN,
    PCTR_STOPWORDS,
    PCTR_TRAIN_LT,
    PCTR_TRAIN_MOD,
)
from marketing_etl_analytics_spark.ext.embedding import SPARK_DOT_L
from marketing_etl_analytics_spark.suite.common import (
    memo_df,
    pround,
    sql_pround,
    t,
)
from marketing_etl_analytics_spark.suite.ext import embedding_index
from marketing_etl_analytics_spark.suite.registry import register

# --- UniMax budget allocation ------------------------------------------------

# Epoch cap and budget, as exact integers relative to the corpus: each
# source may be seen at most _EPOCH_CAP times (Muennighoff et al. 2023
# measure repeated-data value decaying past ~4 epochs; UniMax's C), and
# the budget is 3/2 of the corpus's total tokens — strictly between
# 1x (nothing would cap under C=2) and 2x (everything would), so the
# water level lands mid-distribution and the output exhibits BOTH
# capped and fair-share sources at every graded SF.
_EPOCH_CAP = 2
_BUDGET_NUM, _BUDGET_DEN = 3, 2

_SQL_NTOK = "len(string_split(lower(text), ' '))"


@register(
    "ext_mix_unimax",
    f"""
    WITH counts AS (
      SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
        CAST(SUM({_SQL_NTOK}) AS BIGINT) AS n_tokens
      FROM documents GROUP BY lang
    ),
    capped AS (
      SELECT lang, n_docs, n_tokens,
        n_tokens * {_EPOCH_CAP} AS cap_tokens,
        CAST(ROW_NUMBER() OVER (ORDER BY n_tokens * {_EPOCH_CAP}, lang)
             AS BIGINT) AS rk,
        CAST(COUNT(*) OVER () AS BIGINT) AS n_src,
        -- integer division (//): the budget is an exact BIGINT in
        -- both engines (Spark mirrors with FLOOR)
        (SUM(n_tokens) OVER ()) * {_BUDGET_NUM} // {_BUDGET_DEN} AS budget,
        COALESCE(SUM(n_tokens * {_EPOCH_CAP}) OVER (
          ORDER BY n_tokens * {_EPOCH_CAP}, lang
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prefix_cap
      FROM counts
    ),
    flagged AS (
      -- exact-integer water-filling decision: ascending-cap prefix is
      -- capped iff its cap fits under the equal share of what remains
      SELECT *, CASE WHEN cap_tokens * (n_src - rk + 1)
                          <= budget - prefix_cap
                     THEN 1 ELSE 0 END AS is_capped
      FROM capped
    ),
    leveled AS (
      SELECT *,
        SUM(is_capped * cap_tokens) OVER () AS capped_total,
        SUM(is_capped) OVER () AS n_capped
      FROM flagged
    ),
    alloc AS (
      SELECT lang, n_docs, n_tokens, cap_tokens, budget,
        CAST(is_capped AS BIGINT) AS is_capped,
        CAST(CASE WHEN is_capped = 1 THEN cap_tokens
                  ELSE (budget - capped_total) // (n_src - n_capped)
             END AS BIGINT) AS allocated_tokens
      FROM leveled
    )
    SELECT lang, n_docs, n_tokens, cap_tokens, is_capped,
      allocated_tokens,
      {sql_pround("CAST(allocated_tokens AS DOUBLE) / CAST(n_tokens AS DOUBLE)", 4)} AS epochs,
      {sql_pround("CAST(allocated_tokens AS DOUBLE) / CAST(budget AS DOUBLE)", 6)} AS budget_frac
    FROM alloc
    ORDER BY lang
    """,
    doc="UniMax mixture allocation (Chung et al. 2023): water-fill a "
    "token budget (3/2 of corpus tokens) across languages under a "
    f"{_EPOCH_CAP}-epoch cap. The capping decision is pure BIGINT "
    "arithmetic on the per-source aggregate (sorted-ascending prefix "
    "property: a source is capped iff cap*(#remaining) <= remaining "
    "budget), so both engines decide identically with no FP anywhere; "
    "uncapped sources share the leftover by exact integer division. "
    "Plan: one map-side-combined groupBy(source), then windows over "
    "the #sources-row aggregate — the corpus itself never shuffles.",
)
def ext_mix_unimax(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    ntok = F.size(F.split(F.lower("text"), " ", -1)).cast("long")
    counts = docs.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(ntok).cast("long").alias("n_tokens"),
    )
    cap = (F.col("n_tokens") * _EPOCH_CAP).alias("cap_tokens")
    w_all = Window.partitionBy()
    w_ord = Window.partitionBy().orderBy("cap_tokens", "lang")
    leveled = (
        counts.select("lang", "n_docs", "n_tokens", cap)
        .select(
            "*",
            F.row_number().over(w_ord).cast("long").alias("rk"),
            F.count(F.lit(1)).over(w_all).cast("long").alias("n_src"),
            F.floor(
                F.sum("n_tokens").over(w_all) * _BUDGET_NUM
                / F.lit(_BUDGET_DEN)
            ).cast("long").alias("budget"),
            F.coalesce(
                F.sum("cap_tokens").over(w_ord.rowsBetween(
                    Window.unboundedPreceding, -1)),
                F.lit(0),
            ).cast("long").alias("prefix_cap"),
        )
        .withColumn(
            "is_capped",
            F.when(
                F.col("cap_tokens") * (F.col("n_src") - F.col("rk") + 1)
                <= F.col("budget") - F.col("prefix_cap"),
                F.lit(1),
            ).otherwise(F.lit(0)),
        )
        .select(
            "*",
            F.sum(F.col("is_capped") * F.col("cap_tokens")).over(w_all)
            .alias("capped_total"),
            F.sum("is_capped").over(w_all).alias("n_capped"),
        )
    )
    alloc = F.when(
        F.col("is_capped") == 1, F.col("cap_tokens")
    ).otherwise(
        # exact integer fair share of the post-cap leftover (FLOOR
        # mirrors the oracle's // — positive operands, so identical)
        F.floor(
            (F.col("budget") - F.col("capped_total"))
            / (F.col("n_src") - F.col("n_capped"))
        ).cast("long")
    )
    return (
        leveled.select(
            "lang", "n_docs", "n_tokens", "cap_tokens", "budget",
            F.col("is_capped").cast("long").alias("is_capped"),
            alloc.cast("long").alias("allocated_tokens"),
        )
        .select(
            "lang", "n_docs", "n_tokens", "cap_tokens", "is_capped",
            "allocated_tokens",
            pround(
                F.col("allocated_tokens").cast("double")
                / F.col("n_tokens").cast("double"), 4
            ).alias("epochs"),
            pround(
                F.col("allocated_tokens").cast("double")
                / F.col("budget").cast("double"), 6
            ).alias("budget_frac"),
        )
        .orderBy("lang")
    )


# --- greedy k-center coreset selection ---------------------------------------

_K_CENTERS = 8

# DuckDB twin of ext.embedding.SPARK_DOT_L, kept IN lattice units so
# squared distances d2 = n2(a) + n2(b) - 2*dot(a,b) stay exact,
# order-free integers: farthest/nearest decisions are identical in
# both engines by construction (no FP comparison anywhere).
_SQL_DOT_L = (
    "CAST(list_sum(list_transform(generate_series(1, len({a})),"
    " i -> CAST(FLOOR(CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)"
    " * 1e12 + 0.5) AS BIGINT))) AS BIGINT)"
)


def _sql_d2(a_emb: str, a_n2: str, b_emb: str, b_n2: str) -> str:
    return (
        f"({a_n2} + {b_n2} - 2 * "
        + _SQL_DOT_L.format(a=a_emb, b=b_emb)
        + ")"
    )


def _kcenter_oracle(k: int) -> str:
    """Unrolled greedy k-center CTE chain (DuckDB has no iterative
    construct that keeps per-round argmax deterministic; k is a small
    constant, so the textbook unroll IS the oracle)."""
    n2 = _SQL_DOT_L.format(a="embedding", b="embedding")
    parts = [
        f"WITH e AS (SELECT vec_id, embedding, {n2} AS n2"
        " FROM embeddings)",
        # round 0: deterministic seed = min vec_id; no radius yet
        "c0 AS (SELECT vec_id, embedding, n2, CAST(NULL AS BIGINT) AS r2"
        " FROM e ORDER BY vec_id LIMIT 1)",
        "d0 AS (SELECT e.vec_id, e.embedding, e.n2, "
        + _sql_d2("e.embedding", "e.n2", "c.embedding", "c.n2")
        + " AS dmin FROM e, c0 c)",
    ]
    for r in range(1, k):
        parts.append(
            f"c{r} AS (SELECT vec_id, embedding, n2, dmin AS r2"
            f" FROM d{r - 1} ORDER BY dmin DESC, vec_id LIMIT 1)"
        )
        if r < k - 1:
            parts.append(
                f"d{r} AS (SELECT d.vec_id, d.embedding, d.n2,"
                " LEAST(d.dmin, "
                + _sql_d2("d.embedding", "d.n2", "c.embedding", "c.n2")
                + f") AS dmin FROM d{r - 1} d, c{r} c)"
            )
    cent_union = " UNION ALL ".join(
        f"SELECT {r} AS round, vec_id, embedding, n2, r2 FROM c{r}"
        for r in range(k)
    )
    parts.append(f"cent AS ({cent_union})")
    parts.append(
        "assign AS (SELECT e.vec_id, c.round, "
        + _sql_d2("e.embedding", "e.n2", "c.embedding", "c.n2")
        + " AS d2 FROM e, cent c)"
    )
    parts.append(
        "best AS (SELECT vec_id, round FROM ("
        "SELECT vec_id, round, ROW_NUMBER() OVER ("
        "PARTITION BY vec_id ORDER BY d2, round) AS rn FROM assign)"
        " WHERE rn = 1)"
    )
    radius = sql_pround("CAST(c.r2 AS DOUBLE) / 1e12", 6)
    return (
        ",\n".join(parts)
        + f"""
    SELECT CAST(c.round AS BIGINT) AS round,
      c.vec_id AS center_vec_id,
      {radius} AS radius2,
      CAST(COUNT(b.vec_id) AS BIGINT) AS n_assigned
    FROM cent c LEFT JOIN best b ON b.round = c.round
    GROUP BY c.round, c.vec_id, c.r2
    ORDER BY round
    """
    )


def _lattice_base(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, embedding, n2) with BIGINT lattice squared norms: the
    shared vector index, whose norms every distance below reuses."""
    return embedding_index(spark, sf_dir).select(
        "vec_id", "embedding", F.col("n2l").alias("n2")
    )


def _kc_d2_lit(emb, n2: int) -> F.Column:
    """Squared lattice distance of the corpus row (embedding, n2) to a
    COLLECTED center inlined as literals. `<repr>D` double literals:
    repr() is the shortest round-trip decimal, so the parsed double is
    bit-identical to the value the original CAST(element AS DOUBLE) of
    the float column produced — the per-term FLOOR lattice products
    equal the column×column dot's exactly."""
    arr = ", ".join(f"{float(v)!r}D" for v in emb)
    dot = SPARK_DOT_L.format(a="embedding", b=f"array({arr})")
    return F.col("n2") + F.lit(int(n2)) - F.lit(2) * F.expr(dot)


@register(
    "ext_coreset_kcenter",
    _kcenter_oracle(_K_CENTERS),
    doc=f"Greedy k-center coreset selection, K={_K_CENTERS} (Gonzalez "
    "1985 farthest-point traversal; Sener & Savarese 2018 use exactly "
    "this sweep to pick diverse training subsets). Seed = min vec_id; "
    "each round broadcasts the ONE new center, updates every point's "
    "running min squared distance (exact BIGINT on the 1e-12 lattice), "
    "and takes the global argmax as the next center (ties broken by "
    "vec_id — a total order, so both engines select identically). "
    "Output: each center with its selection radius (the max-min "
    "distance that made it the farthest point) and its final Voronoi "
    "cell size. Plan: K linear passes, each a 1-row broadcast + "
    "map-side combinable min/max — the corpus is never shuffled; the "
    "per-round argmax is TakeOrderedAndProject, and the final Voronoi "
    "assignment inlines the K collected centers (planning-sized "
    "collect, the BPE merge-round precedent) into one codegen argmin "
    "projection, so only the K-group count partial-aggregates. The K "
    "cells then seed diversity-aware sampling exactly as the IVF "
    "centroids seed the ANN probes.",
)
def ext_coreset_kcenter(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = _lattice_base(spark, sf_dir)

    # Each greedy round's argmax is ONE row — collect it (planning-
    # sized, the BPE merge-round precedent) and inline the new center
    # as literals into the next round's running-min update, exactly
    # like the final Voronoi assignment always did. The r9 rework of
    # the previous frame-only loop, which built a broadcast exchange
    # per round, evaluated each round's TakeOrderedAndProject twice
    # (once for the center union, once under the next broadcast), and
    # re-executed all K of them a third time in the closing collect.
    # Per round: one TakeOrdered job + one checkpointed corpus pass —
    # nothing else.
    r0 = base.orderBy("vec_id").limit(1).collect()[0]
    # (round, center_vec_id, r2, embedding, n2); seed radius undefined
    cent_rows = [(0, int(r0["vec_id"]), None, list(r0["embedding"]),
                  int(r0["n2"]))]
    d = (
        base.select(
            "vec_id", "embedding", "n2",
            _kc_d2_lit(cent_rows[0][3], cent_rows[0][4]).alias("dmin"),
        )
        # materialize each round's state: K short lineages instead of
        # one K-deep recompute chain (the memo_df discipline)
        .localCheckpoint(eager=True)
    )
    for r in range(1, _K_CENTERS):
        nxt = d.orderBy(F.desc("dmin"), "vec_id").limit(1).collect()[0]
        cent_rows.append((r, int(nxt["vec_id"]), int(nxt["dmin"]),
                          list(nxt["embedding"]), int(nxt["n2"])))
        if r < _K_CENTERS - 1:
            d = (
                d.select(
                    "vec_id", "embedding", "n2",
                    F.least(
                        F.col("dmin"),
                        _kc_d2_lit(nxt["embedding"], int(nxt["n2"])),
                    ).alias("dmin"),
                )
                .localCheckpoint(eager=True)
            )
    # final Voronoi assignment: the K collected centers inlined as
    # literals into ONE codegen projection, so the argmin over K
    # centers is a per-row expression and the corpus is NEVER
    # shuffled — only the K-group count partial-aggregates. (A
    # window/groupBy argmin would exchange every row on vec_id just
    # to pick among K locally-computable distances.)
    dots = []
    for rnd, _vid, _r2, emb, n2 in cent_rows:
        dots.append(
            F.struct(
                _kc_d2_lit(emb, n2).alias("d2"),
                F.lit(rnd).alias("r"),
            )
        )
    nearest = F.array_min(F.array(*dots)).getField("r")
    counts = {
        int(row["r"]): int(row["n"])
        for row in base.select(nearest.alias("r"))
        .groupBy("r").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    out_rows = [
        (rnd, vid, r2, counts.get(rnd, 0))
        for rnd, vid, r2, _emb, _n2 in cent_rows
    ]
    out = spark.createDataFrame(
        out_rows, "round long, center_vec_id long, r2 long, n_assigned long"
    )
    return out.select(
        "round", "center_vec_id",
        pround(F.col("r2").cast("double") / F.lit(1e12), 6).alias("radius2"),
        F.col("n_assigned").cast("long").alias("n_assigned"),
    ).orderBy("round")


# --- lattice-quantized Lloyd k-means ------------------------------------------
#
# The clustering stage of embedding-space curation (SemDeDup, Abbas et
# al. 2023, clusters before deduplicating inside cells; DoReMi-style
# domain discovery clusters before reweighting; the suite's own IVF
# index uses exactly this as its coarse quantizer): Lloyd's algorithm
# with a FIXED, deterministic iteration count, engine-exact by
# quantizing both points and centroids to the 1e-6 coordinate lattice:
#
# - points:    xq[j] = FLOOR(x[j] * 1e6 + 0.5)            (BIGINT)
# - centroids: c[j]  = FLOOR(S[j] / n + 0.5)              (BIGINT,
#   S = per-cluster coordinate sum of xq — |S| <= n * 2^21 stays exact
#   in the double cast at any graded SF, and the divide + FLOOR are
#   single correctly-rounded IEEE ops, so both engines produce the
#   SAME quantized centroid; at >=2^53-scale coordinate sums the
#   documented form is a decimal-lattice division)
# - d2(x, c) = sum_j (xq[j] - c[j])^2 — an exact BIGINT, so every
#   argmin assignment decision is integer comparison, never FP.
#
# Seeds are the K points with the smallest md5(vec_id) — a
# deterministic pseudo-random draw that needs only a
# TakeOrderedAndProject top-K, never a global sort. Empty clusters
# keep their previous centroid (both engines, same rule).
#
# Scale shape: each Lloyd round is ONE corpus scan — the K centroids
# are inlined as literals into a single codegen argmin projection (the
# ext_coreset_kcenter zero-shuffle discipline), and the update
# aggregates K * (dim + 1) map-side-combined partials; the corpus
# itself never shuffles. Driver state is K * dim integers per round
# (planning-sized, the BPE merge-round precedent).

_KM_K = 4
_KM_ITERS = 3

_KM_SQL_XQ = (
    "list_transform(embedding,"
    " x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1e6 + 0.5) AS BIGINT))"
)


def _km_sql_d2(a: str, b: str) -> str:
    return (
        f"CAST(list_sum(list_transform(generate_series(1, len({a})),"
        f" i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i]))) AS BIGINT)"
    )


def _kmeans_oracle(k: int, iters: int) -> str:
    seed_ord = "md5(CAST(vec_id AS VARCHAR)), vec_id"
    parts = [
        f"WITH e AS (SELECT vec_id, {_KM_SQL_XQ} AS xq FROM embeddings)",
        f"c0 AS (SELECT CAST(ROW_NUMBER() OVER (ORDER BY {seed_ord})"
        f" AS BIGINT) - 1 AS k, xq AS c FROM e"
        f" ORDER BY {seed_ord} LIMIT {k})",
    ]
    d2 = _km_sql_d2("e.xq", "c.c")
    for r in range(1, iters + 1):
        parts.append(
            f"a{r} AS (SELECT vec_id, xq, k FROM ("
            f"SELECT e.vec_id, e.xq, c.k, ROW_NUMBER() OVER ("
            f"PARTITION BY e.vec_id ORDER BY {d2}, c.k) AS rn"
            f" FROM e CROSS JOIN c{r - 1} c) t WHERE rn = 1)"
        )
        parts.append(
            f"s{r} AS (SELECT k, j, CAST(SUM(xq[j]) AS BIGINT) AS s,"
            f" CAST(COUNT(*) AS BIGINT) AS n FROM a{r},"
            f" LATERAL unnest(generate_series(1, len(xq))) AS g(j)"
            f" GROUP BY k, j)"
        )
        parts.append(
            f"u{r} AS (SELECT k, list(CAST(FLOOR(CAST(s AS DOUBLE) / n"
            f" + 0.5) AS BIGINT) ORDER BY j) AS c FROM s{r} GROUP BY k)"
        )
        parts.append(
            f"c{r} AS (SELECT p.k, COALESCE(u.c, p.c) AS c"
            f" FROM c{r - 1} p LEFT JOIN u{r} u USING (k))"
        )
    parts.append(
        f"af AS (SELECT vec_id, k, d2 FROM ("
        f"SELECT e.vec_id, c.k, {d2} AS d2, ROW_NUMBER() OVER ("
        f"PARTITION BY e.vec_id ORDER BY {d2}, c.k) AS rn"
        f" FROM e CROSS JOIN c{iters} c) t WHERE rn = 1)"
    )
    parts.append(
        "stats AS (SELECT k, CAST(COUNT(*) AS BIGINT) AS n_assigned,"
        " SUM(d2) AS sd2 FROM af GROUP BY k)"
    )
    inertia = sql_pround(
        "CAST(COALESCE(s.sd2, 0) AS DOUBLE) / 1e12", 6
    )
    c_l2 = sql_pround(
        "sqrt(CAST(list_sum(list_transform(c.c, v -> v * v)) AS DOUBLE))"
        " / 1e6", 6
    )
    return (
        ",\n".join(parts)
        + f"""
    SELECT c.k AS cluster,
      CAST(COALESCE(s.n_assigned, 0) AS BIGINT) AS n_assigned,
      {inertia} AS inertia,
      {c_l2} AS centroid_l2
    FROM c{iters} c LEFT JOIN stats s USING (k)
    ORDER BY cluster
    """
    )


def _km_lattice_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, xq) with 1e-6-lattice BIGINT coordinates, memoized —
    the quantized-point table every Lloyd round re-scans."""

    def build() -> DataFrame:
        emb = t(spark, sf_dir, "embeddings")
        return emb.select(
            "vec_id",
            F.expr(
                "transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE)"
                " * 1e6 + 0.5) AS BIGINT))"
            ).alias("xq"),
        )

    return memo_df(spark, sf_dir, "emb_lattice6", build)


def _km_nearest(cents: list[list[int]]):
    """(nearest-k column, d2-at-nearest column) for literal centroids:
    one codegen argmin projection, zero shuffle (the kcenter final-
    assignment discipline)."""
    structs = []
    for ki, c in enumerate(cents):
        lits = ", ".join(f"{int(v)}L" for v in c)
        d2 = F.expr(
            f"aggregate(zip_with(xq, array({lits}),"
            " (x, c) -> (x - c) * (x - c)),"
            " CAST(0 AS BIGINT), (acc, v) -> acc + v)"
        )
        structs.append(F.struct(d2.alias("d2"), F.lit(ki).alias("k")))
    best = F.array_min(F.array(*structs))
    return best.getField("k"), best.getField("d2")


@register(
    "ext_cluster_kmeans",
    _kmeans_oracle(_KM_K, _KM_ITERS),
    doc=f"Lattice-quantized Lloyd k-means, K={_KM_K}, "
    f"{_KM_ITERS} fixed rounds (the clustering stage of SemDeDup, "
    "Abbas et al. 2023, and of IVF coarse quantization — the suite's "
    "ANN index trains its centroids exactly this way). Points AND "
    "centroids live on the 1e-6 coordinate lattice (centroid update "
    "FLOOR(sum/count + 0.5) is one correctly-rounded IEEE divide on "
    "exact BIGINT operands), so every squared distance is an exact "
    "BIGINT and every argmin decision is integer comparison — both "
    "engines assign identically by construction. Seeds = K smallest "
    "md5(vec_id) (TakeOrderedAndProject, no global sort); empty "
    "clusters keep their centroid. Plan: each round is ONE corpus "
    "scan with the K centroids inlined as literals into a codegen "
    "argmin projection (zero shuffle), aggregating K*(dim+1) "
    "map-side-combined partials; driver state is K*dim integers per "
    "round. Output: per-cluster size, inertia, centroid L2 norm.",
)
def ext_cluster_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math

    base = _km_lattice_points(spark, sf_dir)
    seed_rows = (
        base.orderBy(F.md5(F.col("vec_id").cast("string")), "vec_id")
        .limit(_KM_K)
        .collect()
    )
    cents = [[int(v) for v in r["xq"]] for r in seed_rows]
    dim = len(cents[0]) if cents else 0  # from the seeds already on the driver
    for _ in range(_KM_ITERS):
        k_col, _d2 = _km_nearest(cents)
        # per-coordinate sums via posexplode + ONE narrow aggregate:
        # the previous 64-column aggregate spent ~0.8s/iteration in
        # planning+codegen of a 65-expression plan (measured at sf0.1
        # — the 2000-row data itself is milliseconds); the exploded
        # form is the same K*(dim+1) map-side-combined partials with a
        # constant-size plan. Values identical: SUM per (k, pos) over
        # the same multiset, same decimal(38,0) accumulator (SUM of
        # BIGINT must not wrap where the oracle's HUGEINT cannot).
        sums = (
            base.select(k_col.alias("k"), "xq")
            .select("k", F.posexplode("xq"))
            .groupBy("k", "pos")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n"),
                F.sum(F.col("col").cast("decimal(38,0)")).alias("s"),
            )
            .collect()
        )
        percl: dict[int, dict[int, tuple[int, int]]] = {}
        for row in sums:
            percl.setdefault(int(row["k"]), {})[int(row["pos"])] = (
                int(row["n"]),
                int(row["s"]),
            )
        upd = {}
        for ki, coords in percl.items():
            n = coords[0][0]
            # float(S)/n mirrors the oracle's CAST(S AS DOUBLE)/n:
            # S is exact in double at any graded SF (|S| <= n * 2^21)
            upd[ki] = [
                int(math.floor(float(coords[j][1]) / n + 0.5))
                for j in range(dim)
            ]
        cents = [upd.get(ki, c) for ki, c in enumerate(cents)]
    k_col, d2_col = _km_nearest(cents)
    stats = {
        int(r["k"]): (int(r["n"]), int(r["sd2"]))
        for r in base.select(k_col.alias("k"), d2_col.alias("d2"))
        .groupBy("k")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.col("d2").cast("decimal(38,0)")).alias("sd2"),
        )
        .collect()
    }
    out_rows = []
    for ki, c in enumerate(cents):
        n, sd2 = stats.get(ki, (0, 0))
        # CAST-then-divide, mirrored op-for-op with the oracle
        out_rows.append((ki, n, float(sd2) / 1e12, sum(v * v for v in c)))
    out = spark.createDataFrame(
        out_rows, "cluster long, n_assigned long, inertia double, c2 long"
    )
    return out.select(
        "cluster", "n_assigned",
        pround(F.col("inertia"), 6).alias("inertia"),
        pround(F.sqrt(F.col("c2").cast("double")) / F.lit(1e6), 6)
        .alias("centroid_l2"),
    ).orderBy("cluster")


# --- distributed quality-classifier training (IPM perceptron) -----------------
#
# The learned-filter TRAINING stage (FineWeb-Edu / DCLM train a
# fastText-style linear classifier to select pretraining data; the
# suite's ext_quality_score grades the fixed-weight INFERENCE side).
# Algorithm: per-sample perceptron (Rosenblatt 1958) distributed by
# iterative parameter mixing (McDonald, Hall & Mann, NAACL 2010) — S
# content-addressed shards each fold the true sequential perceptron
# per epoch (one applyInPandas group per shard; a sequential fold is
# exactly what declarative operators cannot express), and the driver
# mixes the S weight vectors between epochs. Scaling epoch e's
# updates by S**(e-1) clears the uniform-mixture denominators, so
# every weight, bias, and margin is an exact BIGINT in both engines
# (reported at scale S**EPOCHS). The full-batch variant is
# deliberately NOT used: measured on this corpus it cycles with
# period 2 forever (constant-step batch subgradient descent has no
# convergence guarantee); the IPM mistake counts decrease
# monotonically (sf0.001: 152 -> 144 -> 118 -> 98).
#
# Labels are weak supervision (the FineWeb-Edu pattern, with a
# deterministic stopword-density rule standing in for the LLM
# annotator): y = +1 iff PCTR_STOP_DEN * n_stopwords >= n_tokens.
# Train split: doc_id % 10 < 7; the rest is the scored eval split.
#
# The oracle replays the SAME lockstep folds as one recursive CTE per
# epoch (all S shards advance one document per iteration; plain
# aggregates mix between epochs). Stage CTEs are MATERIALIZED —
# DuckDB otherwise re-evaluates the md5 featurization once per
# recursive step (measured 52 s -> 1.3 s at sf0.001). At 100x+ the
# recursion depth (max shard length) makes the one-shot oracle a
# harness boundary; the pure-Python replay in
# tests/test_perceptron.py is the large-SF verification path (the
# dsir_sliced_oracle precedent).

def _perceptron_oracle(
    b: int = PCTR_B,
    epochs: int = PCTR_EPOCHS,
    s: int = PCTR_SHARDS,
    den: int = PCTR_STOP_DEN,
) -> str:
    stop_lits = ", ".join(f"'{w}'" for w in PCTR_STOPWORDS)
    head = f"""WITH RECURSIVE base AS MATERIALIZED (
      SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents
    ),
    lab AS MATERIALIZED (
      SELECT doc_id,
        CASE WHEN {den} * len(list_filter(toks, t -> t IN ({stop_lits})))
                  - len(toks) >= 0 THEN 1 ELSE -1 END AS y,
        CASE WHEN doc_id % {PCTR_TRAIN_MOD} < {PCTR_TRAIN_LT}
             THEN 1 ELSE 0 END AS is_train
      FROM base
    ),
    tk AS MATERIALIZED (SELECT doc_id, unnest(toks) AS w FROM base),
    feats AS MATERIALIZED (
      SELECT doc_id, ('0x' || substr(md5(w), 1, 6))::BIGINT % {b} AS bk,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM tk GROUP BY doc_id, bk
    ),
    bks AS MATERIALIZED (SELECT unnest(generate_series(0, {b - 1})) AS bk),
    dvec AS MATERIALIZED (
      SELECT d.doc_id, list(COALESCE(f.cnt, 0) ORDER BY b.bk) AS x
      FROM (SELECT DISTINCT doc_id FROM base) d
      CROSS JOIN bks b
      LEFT JOIN feats f ON f.doc_id = d.doc_id AND f.bk = b.bk
      GROUP BY d.doc_id
    ),
    trn AS MATERIALIZED (
      SELECT doc_id, y, x, shard,
        CAST(ROW_NUMBER() OVER (PARTITION BY shard ORDER BY ord_key, doc_id)
             AS BIGINT) AS rn
      FROM (
        SELECT l.doc_id, l.y, v.x,
          ('0x' || substr(md5('pshard:' || CAST(l.doc_id AS VARCHAR)), 1, 6))::BIGINT
            % {s} AS shard,
          md5('pord:' || CAST(l.doc_id AS VARCHAR)) AS ord_key
        FROM lab l JOIN dvec v USING (doc_id) WHERE l.is_train = 1
      )
    ),
    mx AS MATERIALIZED (SELECT CAST(MAX(rn) AS BIGINT) AS maxlen FROM trn),
    shards AS MATERIALIZED (SELECT unnest(generate_series(0, {s - 1})) AS shard),
    ntr AS MATERIALIZED (SELECT CAST(COUNT(*) AS BIGINT) AS n_train FROM trn),
    w0 AS MATERIALIZED (
      SELECT s.shard,
             list_transform(generate_series(1, {b}), j -> CAST(0 AS BIGINT)) AS w,
             CAST(0 AS BIGINT) AS bias
      FROM shards s
    )"""
    parts = [head]
    dot = (
        f"list_sum(list_transform(generate_series(1, {b}),"
        " j -> s.w[j] * d.x[j]))"
    )
    for e in range(1, epochs + 1):
        p = e - 1
        step = s ** (e - 1)
        if e == 1:
            start = "w0"
        else:
            start = f"st{e}"
            parts.append(
                f"st{e} AS (SELECT s.shard, m.w, m.bias"
                f" FROM shards s CROSS JOIN mixed{p} m)"
            )
        upd = f"d.doc_id IS NOT NULL AND d.y * ({dot} + s.bias) <= 0"
        parts.append(f"""r{e} AS (
      SELECT shard, CAST(0 AS BIGINT) AS i, w, bias, CAST(0 AS BIGINT) AS mis
      FROM {start}
      UNION ALL
      SELECT s.shard, s.i + 1,
        CASE WHEN {upd}
             THEN list_transform(generate_series(1, {b}),
                                 j -> s.w[j] + {step} * d.y * d.x[j])
             ELSE s.w END,
        CASE WHEN {upd} THEN s.bias + {step} * d.y ELSE s.bias END,
        CASE WHEN {upd} THEN s.mis + 1 ELSE s.mis END
      FROM r{e} s
      CROSS JOIN mx
      LEFT JOIN trn d ON d.shard = s.shard AND d.rn = s.i + 1
      WHERE s.i < mx.maxlen
    )""")
        parts.append(
            f"fin{e} AS (SELECT r.shard, r.w, r.bias, r.mis"
            f" FROM r{e} r CROSS JOIN mx WHERE r.i = mx.maxlen)"
        )
        parts.append(f"""mixed{e} AS (
      SELECT list_transform(generate_series(1, {b}),
               j -> CAST(list_sum(list_transform(ws, v -> v[j])) AS BIGINT)) AS w,
             CAST(bsum AS BIGINT) AS bias, CAST(msum AS BIGINT) AS mis
      FROM (SELECT list(w) AS ws, SUM(bias) AS bsum, SUM(mis) AS msum FROM fin{e})
    )""")
    evdot = (
        f"list_sum(list_transform(generate_series(1, {b}),"
        " j -> m.w[j] * v.x[j]))"
    )
    parts.append(f"""evalm AS (
      SELECT l.doc_id, l.y, CAST({evdot} + m.bias AS BIGINT) AS margin
      FROM lab l JOIN dvec v USING (doc_id) CROSS JOIN mixed{epochs} m
      WHERE l.is_train = 0
    )""")
    eps = " UNION ALL ".join(
        f"SELECT CAST({e} AS BIGINT) AS epoch, mis FROM mixed{e}"
        for e in range(1, epochs + 1)
    )
    tail = f"""
    SELECT 'weight' AS kind, CAST(g.j - 1 AS BIGINT) AS id,
           CAST(-9 AS BIGINT) AS lbl, m.w[g.j] AS val, CAST(-9 AS BIGINT) AS extra
    FROM mixed{epochs} m, LATERAL unnest(generate_series(1, {b})) AS g(j)
    UNION ALL
    SELECT 'bias', CAST(-1 AS BIGINT), CAST(-9 AS BIGINT), m.bias,
           CAST(-9 AS BIGINT)
    FROM mixed{epochs} m
    UNION ALL
    SELECT 'epoch', e.epoch, CAST(-9 AS BIGINT), e.mis, n.n_train
    FROM ({eps}) e CROSS JOIN ntr n
    UNION ALL
    SELECT 'eval', doc_id, y, margin,
           CASE WHEN margin > 0 THEN 1 ELSE -1 END
    FROM evalm
    ORDER BY kind, id
    """
    return ",\n".join(parts) + tail


@register(
    "ext_quality_perceptron",
    _perceptron_oracle(),
    doc="Distributed quality-classifier TRAINING (the FineWeb-Edu / "
    "DCLM learned-filter stage; inference side already graded via "
    "ext_quality_score): hashed bag-of-words perceptron (Rosenblatt "
    "1958) trained by iterative parameter mixing (McDonald, Hall & "
    "Mann, NAACL 2010) — 8 content-addressed shards each fold the "
    "true per-sample perceptron per epoch inside ONE applyInPandas "
    "group (a sequential fold, the engine's UDF-tier case), and the "
    "driver sums the shard vectors between epochs; epoch-e updates "
    "scaled by S**(e-1) keep the uniform mixture exact-BIGINT, so "
    "both engines agree bit-for-bit (weights reported at scale "
    "S**4). Weak-supervision labels: stopword-density rule standing "
    "in for the LLM annotator. Output: final weights + bias, "
    "per-epoch mistake counts (monotone decreasing — the full-batch "
    "variant provably cycles here and is deliberately not used), and "
    "eval-split margins/predictions from a zero-shuffle literal-"
    "weight codegen scan. Oracle: recursive-CTE lockstep replay of "
    "the same folds (MATERIALIZED stage CTEs; at 100x the recursion "
    "is a measured harness boundary and the pure-Python replay in "
    "tests/test_perceptron.py verifies instead — the "
    "dsir_sliced_oracle precedent).",
)
def ext_quality_perceptron(spark: SparkSession, sf_dir: str) -> DataFrame:
    from marketing_etl_analytics_spark.ext.classifier import (
        ipm_train,
        margin_col,
        perceptron_docvec,
    )

    docs = t(spark, sf_dir, "documents")
    docvec = memo_df(
        spark, sf_dir, "pctr_docvec", lambda: perceptron_docvec(docs)
    )
    w, bias, hist = ipm_train(docvec)
    n_train = docvec.filter(F.col("is_train") == 1).count()
    small = [("weight", j, -9, int(w[j]), -9) for j in range(PCTR_B)]
    small.append(("bias", -1, -9, int(bias), -9))
    small.extend(("epoch", e, -9, mis, n_train) for e, mis in hist)
    small_df = spark.createDataFrame(
        small, "kind string, id long, lbl long, val long, extra long"
    )
    margin = margin_col(w, bias)
    ev = (
        docvec.filter(F.col("is_train") == 0)
        .select(
            F.lit("eval").alias("kind"),
            F.col("doc_id").alias("id"),
            F.col("y").alias("lbl"),
            margin.alias("val"),
            F.when(margin > 0, F.lit(1)).otherwise(F.lit(-1))
            .cast("long")
            .alias("extra"),
        )
    )
    return small_df.unionByName(ev).orderBy("kind", "id")
