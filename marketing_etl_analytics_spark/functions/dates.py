"""Date/time column builders.

Reference semantics (SURVEY.md §2.H H1-H3):
- raw dates are ``M/d/yyyy`` strings with single-digit month/day
  (``etl_script/03_transform.sql:8``: ``to_date(..., 'MM/DD/YYYY')`` —
  Postgres accepts 1-digit fields under that pattern; Spark needs the
  single-letter pattern).
- ``date_id`` is epoch-seconds of midnight UTC
  (``etl_script/03_transform.sql:7``), not a serial.
- ``week`` is ISO week (Postgres ``EXTRACT(WEEK ...)``); Spark
  ``weekofyear`` is also ISO — they agree by construction.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import TimestampType

MDY_PATTERN = "M/d/yyyy"


def parse_mdy(col: Column | str) -> Column:
    """Parse a ``M/d/yyyy`` string (single-digit month/day) into a date."""
    return F.to_date(F.col(col) if isinstance(col, str) else col, MDY_PATTERN)


def epoch_date_id(date_col: Column | str) -> Column:
    """Epoch-seconds-of-midnight surrogate key (UTC session TZ required).

    Mirrors ``EXTRACT(EPOCH FROM to_date(...))::BIGINT`` at
    ``etl_script/03_transform.sql:7``.
    """
    c = F.col(date_col) if isinstance(date_col, str) else date_col
    return F.unix_timestamp(c.cast("timestamp")).cast("long")


def date_parts(date_col: Column | str) -> dict[str, Column]:
    """day / ISO week / month / year parts, as the dim_date build needs."""
    c = F.col(date_col) if isinstance(date_col, str) else date_col
    return {
        "day": F.dayofmonth(c),
        "week": F.weekofyear(c),  # ISO week, matches PG EXTRACT(WEEK ...)
        "month": F.month(c),
        "year": F.year(c),
    }


def pin_event_time_conf(spark: SparkSession) -> None:
    """Session settings every events.parquet reader needs, batch or
    stream, set before it reads.

    events.parquet stores TIMESTAMP(NANOS), which Spark's parquet
    reader rejects: read nanos as long (legacy conf, runtime-settable)
    and let ``event_time`` rebuild the timestamp. Timestamp
    day-boundaries (F.window, date_trunc) follow the session TZ, but
    the DuckDB oracle's timestamps are naive — pin UTC so the
    comparison holds under ANY host session (get_spark already sets
    this; the driver's own session may not).
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")


def event_time(raw: DataFrame) -> DataFrame:
    """The one event-time rule for events.parquet, batch or stream:
    ``ts`` becomes a micro-precision TIMESTAMP — the same truncation
    DuckDB applies when it reads nanos into its micro-precision
    TIMESTAMP. Needs ``pin_event_time_conf`` before the read."""
    ts_type = dict(raw.dtypes).get("ts")
    if ts_type == "bigint":
        # nanos-as-long (TIMESTAMP(NANOS) testdata): rebuild micro-
        # precision timestamps with integer DIV, not `/` — float division
        # of an int64 nanos value loses low-order microseconds
        return raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if ts_type == "timestamp_ntz":
        # naive micros parquet (isAdjustedToUTC=false), which Spark 4
        # infers as TIMESTAMP_NTZ — but unix_micros/window/watermark
        # want TIMESTAMP. Under the pinned UTC session TZ the NTZ->LTZ
        # cast is value-identical to DuckDB's naive read. Explicit
        # TimestampType(): the "timestamp" DDL keyword resolves via
        # spark.sql.timestampType, so a host session configured for
        # TIMESTAMP_NTZ would make the cast a silent no-op.
        return raw.withColumn("ts", F.col("ts").cast(TimestampType()))
    # already micro-precision TIMESTAMP
    return raw
