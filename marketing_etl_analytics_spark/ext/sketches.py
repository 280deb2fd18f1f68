"""Mergeable sketch operators, column-parameterized.

HyperLogLog, Count-Min and Bloom: build constant-size summaries of
unbounded keyed data, merge them associatively, and answer
distinct-count / frequency / membership queries without rescanning
the data. The HLL and Count-Min entries of ``ext_sketch_suite`` and
``stream_sketch_suite`` call these functions. All hashing is md5-derived, so sketches
are deterministic and reproducible across engines, runs, and
partitionings — the property the suite's DuckDB oracles exploit to
verify the ESTIMATES exactly, and the property a production pipeline
exploits to make sketch stores idempotent under replays.

Scale shape: a sketch build is one shuffle to (group, register/
counter) and constant rows per group thereafter; merges touch sketch
rows only, never the source data.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# --- HyperLogLog -------------------------------------------------------------

HLL_M = 64  # registers; standard error 1.04/sqrt(m) ~ 13%
_ALPHA = 0.7213 / (1 + 1.079 / HLL_M)
_NUMER = _ALPHA * HLL_M * HLL_M * float(1 << 43)
_LC = {z: HLL_M * math.log(HLL_M / z) for z in range(1, HLL_M)}


def _hv(col: Column) -> Column:
    """48-bit md5-derived hash — the dedup family's hashing."""
    return F.conv(F.substring(F.md5(col.cast("string")), 1, 12), 16, 10).cast(
        "long"
    )


def _md5_bucket(salt: Column, value: Column, w: int) -> Column:
    """md5(salt ':' value) reduced to one of ``w`` buckets."""
    return (
        F.conv(F.substring(F.md5(F.concat_ws(":", salt, value)), 1, 12), 16, 10).cast(
            "long"
        )
        % w
    )


def hll_registers(
    df: DataFrame, value: str, group_cols: list[str] | None = None
) -> DataFrame:
    """(group..., idx, m) register table — the sketch itself.

    Mergeable: ``regs.groupBy(*groups, "idx").agg(F.max("m"))`` merges
    any union of register tables losslessly (max is associative,
    commutative, idempotent), which is what makes per-partition /
    per-micro-batch partial sketches combine exactly.
    """
    group_cols = group_cols or []
    # no DISTINCT before the register build: MAX(rank) over the raw
    # (group, hv) multiset equals MAX over the distinct set, so a
    # corpus-wide distinct exchange is pure overhead — the register
    # groupBy partial-aggregates map-side down to m rows per group
    h = df.select(*group_cols, _hv(F.col(value)).alias("hv"))
    w = F.expr(f"hv div {HLL_M}")
    ranked = h.select(
        *group_cols,
        (F.col("hv") % HLL_M).alias("idx"),
        F.when(w == 0, F.lit(43)).otherwise(43 - F.length(F.bin(w))).alias("rank"),
    )
    return ranked.groupBy(*group_cols, "idx").agg(F.max("rank").alias("m"))


def hll_merge(regs: DataFrame, group_cols: list[str] | None = None) -> DataFrame:
    """Merge register tables (register-wise max per group)."""
    group_cols = group_cols or []
    return regs.groupBy(*group_cols, "idx").agg(F.max("m").alias("m"))


def hll_estimate(regs: DataFrame, group_cols: list[str] | None = None) -> DataFrame:
    """(group..., n_zero_registers, hll_estimate) from a register table.

    Integer-exact harmonic sum (sum 2^(43-M_j) as BIGINT), one double
    division, and the linear-counting small-range correction via a
    precomputed ln table — deterministic end-to-end.
    """
    group_cols = group_cols or []
    agg = regs.groupBy(*group_cols).agg(
        (F.lit(HLL_M) - F.count(F.lit(1))).cast("long").alias("n_zero_registers"),
        F.sum(F.expr("shiftleft(CAST(1 AS BIGINT), 43 - m)")).alias("s_present"),
    )
    s = (
        F.col("s_present")
        + F.col("n_zero_registers") * F.lit(1 << 43).cast("long")
    ).cast("double")
    raw = F.lit(_NUMER) / s
    lc = F.expr(
        "CASE n_zero_registers "
        + " ".join(f"WHEN {z} THEN CAST({v!r} AS DOUBLE)" for z, v in _LC.items())
        + " ELSE 0.0 END"
    )
    est = F.when(
        (raw <= F.lit(2.5 * HLL_M)) & (F.col("n_zero_registers") > 0), lc
    ).otherwise(raw)
    return agg.select(
        *group_cols,
        "n_zero_registers",
        F.floor(est + F.lit(0.5)).cast("long").alias("hll_estimate"),
    )


# --- Count-Min ---------------------------------------------------------------

CM_D = 4
CM_W = 512


def countmin_counters(
    df: DataFrame, value: str, d: int = CM_D, w: int = CM_W
) -> DataFrame:
    """(j, bucket, c) counter table for a Count-Min sketch of the
    ``value`` column's frequencies (see ``countmin_freq_counters``)."""
    freq = df.groupBy(F.col(value).alias("v")).agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    return countmin_freq_counters(freq, "v", d, w)


def countmin_freq_counters(
    freq: DataFrame, value: str, d: int = CM_D, w: int = CM_W
) -> DataFrame:
    """(j, bucket, c) counters from a (``value``, n) frequency table.

    The d-fold expansion costs |distinct values| rows, not |rows|; the
    counter table is d*w rows regardless of input size. Counters are
    additive — summing two counter tables sketches the concatenated
    input.
    """
    return (
        freq.select(
            value, "n", F.explode(F.sequence(F.lit(0), F.lit(d - 1))).alias("j")
        )
        .withColumn("bucket", _md5_bucket(F.col("j"), F.col(value), w))
        .groupBy("j", "bucket")
        .agg(F.sum("n").alias("c"))
    )


def countmin_query(
    counters: DataFrame, probes: DataFrame, value: str, d: int = CM_D, w: int = CM_W
) -> DataFrame:
    """(probe columns..., cm_estimate) for each distinct probe row: min
    over the d row counters the ``value`` hashes into. Estimates never
    underestimate (one-sided error <= e*N/w with prob 1-e^-d)."""
    keyed = probes.select(
        "*", F.explode(F.sequence(F.lit(0), F.lit(d - 1))).alias("j")
    ).withColumn("bucket", _md5_bucket(F.col("j"), F.col(value), w))
    # LEFT join + 0-fill: counter tables only materialize OCCUPIED
    # buckets, but the sketch's semantics are min over ALL d cells —
    # a probe value never seen (or whose cells are partly empty) must
    # estimate from the empty cells' zeros, not vanish or inflate
    return (
        keyed.join(counters, ["j", "bucket"], "left")
        .groupBy(*probes.columns)
        .agg(
            F.min(F.coalesce(F.col("c"), F.lit(0)))
            .cast("long")
            .alias("cm_estimate")
        )
    )


# --- Bloom filter (membership) ------------------------------------------------

BLOOM_M = 1 << 20
BLOOM_K = 3


def _bloom_pos(value: Column, m: int, k: int) -> tuple[Column, Column]:
    """(exploded salt j, position) for the k salted md5 hashes."""
    j = F.explode(F.sequence(F.lit(1), F.lit(k))).alias("j")
    pos = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.col("j").cast("string"), F.lit(":"), value)),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % m
    )
    return j, pos


def bloom_bits(
    df: DataFrame, value: str, m: int = BLOOM_M, k: int = BLOOM_K
) -> DataFrame:
    """(pos) distinct set-bit positions — the Bloom filter itself in
    relational form (the suite's ext_sketch_bloom spelling). At most
    ``m`` rows at ANY input size; mergeable by UNION + distinct (the
    bitwise OR), idempotent under replays because the hashing is
    md5-deterministic. At scale the frame compiles to a broadcast
    m-bit bitmap and probes become row-local k-ANDs — the shape
    Spark's runtime bloom-filter join pruning uses."""
    j, pos = _bloom_pos(F.col(value), m, k)
    return df.select(F.col(value)).distinct().select(j, value).select(
        pos.alias("pos")
    ).distinct()


def bloom_might_contain(
    bits: DataFrame,
    probes: DataFrame,
    value: str,
    m: int = BLOOM_M,
    k: int = BLOOM_K,
) -> DataFrame:
    """(value, might_contain) for each distinct probe value: TRUE iff
    all k of its positions are set in ``bits``. NO FALSE NEGATIVES —
    a value that went into bloom_bits always returns TRUE; false
    positives occur at ~(set_bits/m)^k. ``bits`` must have been built
    with the same (m, k)."""
    j, pos = _bloom_pos(F.col(value), m, k)
    keyed = probes.select(F.col(value)).distinct().select(j, value).select(
        F.col(value), pos.alias("pos")
    )
    return (
        keyed.join(F.broadcast(bits.withColumn("_hit", F.lit(1))), "pos", "left")
        .groupBy(value)
        .agg((F.count_if(F.col("_hit").isNotNull()) == k).alias("might_contain"))
    )
