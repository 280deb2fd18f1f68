"""Streaming operators over the events table, and the one runner every
bounded stream goes through.

Batch/stream equivalence contract: ``daily_event_aggregates`` over a
bounded stream (``trigger(availableNow=True)``) must produce exactly
the rows of the equivalent batch tumbling-window aggregation — the
test suite asserts this.
"""

from __future__ import annotations

from typing import Callable, Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    StructField,
    StructType,
    TimestampType,
)

from marketing_etl_analytics_spark.functions.dates import (
    event_time,
    pin_event_time_conf,
)

# longest a bounded stream may run before run_bounded_stream stops it
STREAM_TIMEOUT_S = 300


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events parquet (bounded; run it with
    ``run_bounded_stream``), under the same event-time rule as the
    batch reader ``suite.common.events``."""
    pin_event_time_conf(spark)
    return event_time(read_table_stream(spark, sf_dir, "events"))


def _state_partitions(spark: SparkSession, path: str) -> int:
    """Size the state-store count of a stream from its source bytes,
    the way Spark sizes scan partitions from file bytes.

    Each shuffle partition of a stateful operator is one state-store
    instance paying a fixed commit (delta file + snapshot bookkeeping)
    per micro-batch, so over-partitioning a small stream is pure
    overhead — measured here: the stream-stream join at sf0.1 (2 MB of
    events) runs 2.7 s with 8 stores vs 6.5-9.7 s with 32 for identical
    output. Rule: one store per ~256 KB of source parquet, clamped to
    [4, defaultParallelism]; a cluster-scale stream hits the
    parallelism cap.
    """
    import os

    try:
        nbytes = (
            os.path.getsize(path)
            if os.path.isfile(path)
            else sum(
                os.path.getsize(os.path.join(path, f))
                for f in os.listdir(path)
                if f.endswith(".parquet")
            )
        )
    except OSError:
        nbytes = 0
    cap = spark.sparkContext.defaultParallelism
    return max(4, min(cap, nbytes // (256 * 1024) or 4))


def run_bounded_stream(
    spark: SparkSession,
    sf_dir: str,
    table: str,
    stream: DataFrame | Callable[[str], StreamingQuery],
    result: Callable[[str], DataFrame] | None = None,
) -> DataFrame:
    """Run one bounded stream over ``table`` to completion and return
    its output.

    Two sink shapes:

    - ``result is None``: ``stream`` is a streaming DataFrame. It runs
      into a memory sink under the availableNow trigger and its rows
      come back; the sink's temp view is dropped, the returned
      DataFrame keeps the rows.
    - otherwise ``stream(scratch)`` starts a foreachBatch sink that
      writes under the fresh directory ``scratch`` (the builders in
      ``streaming.sinks`` start under availableNow); ``result(scratch)``
      reads what it wrote, materialized before ``scratch`` is removed.

    For the run, ``spark.sql.shuffle.partitions`` (the state-store
    count) is sized from the bytes of ``table``; the caller's value is
    restored afterwards. A stream still running after
    ``STREAM_TIMEOUT_S`` is stopped and raises ``TimeoutError`` rather
    than returning a partial result.
    """
    import os
    import shutil
    import tempfile
    import uuid

    path = os.path.join(sf_dir, f"{table}.parquet")
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set(
        "spark.sql.shuffle.partitions", str(_state_partitions(spark, path))
    )
    scratch = None
    try:
        if result is None:
            name = f"{table}_stream_{uuid.uuid4().hex[:8]}"
            _await(
                stream.writeStream.format("memory")
                .queryName(name)
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            out = spark.table(name)
            spark.catalog.dropTempView(name)
            return out
        scratch = tempfile.mkdtemp(prefix=f"{table}_stream_")
        _await(stream(scratch))
        return result(scratch).localCheckpoint(eager=True)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
        if scratch is not None:
            shutil.rmtree(scratch, ignore_errors=True)


def _await(q: StreamingQuery) -> None:
    """Wait for a bounded query; never leave it running."""
    try:
        if not q.awaitTermination(STREAM_TIMEOUT_S):
            raise TimeoutError(
                f"stream {q.name or q.id} did not finish within "
                f"{STREAM_TIMEOUT_S} s and was stopped"
            )
    finally:
        q.stop()


def dedup_events(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Stateful dedup on event_id within the watermark horizon — the
    streaming analog of ON CONFLICT DO NOTHING idempotency.

    Uses ``dropDuplicatesWithinWatermark``, not ``dropDuplicates``:
    with a key subset that excludes the event-time column, plain
    dropDuplicates NEVER evicts its state (the watermark only bounds
    state when event time is part of the key), so on an unbounded
    stream the dedup map grows with total distinct keys — the classic
    silent OOM at cluster scale. The WithinWatermark variant evicts a
    key once the watermark passes its first-seen timestamp, trading
    "exact forever" for "exact within the deduplication horizon",
    which is the contract replays actually need (a source that can
    replay an event a day later needs a day's watermark, not an
    unbounded map). Duplicate handling verified by
    tests/test_streaming.py::test_dedup_within_watermark_drops_replays.
    """
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def attribution_join(
    events: DataFrame, window: str = "30 minutes", watermark: str = "1 hour"
) -> DataFrame:
    """Stream-stream inner join: each click matched to same-user views
    in the preceding ``window`` (the last-touch attribution shape).

    Both sides carry watermarks and the join predicate carries an
    event-time range, so the state store is bounded: a buffered view
    row is evicted once the watermark passes ``view_ts + window``, a
    click row once it passes ``click_ts`` — the state size is
    O(events per watermark horizon), independent of stream length.
    """
    views = (
        events.filter(F.col("event_type") == "view")
        .select(
            F.col("event_id").alias("view_id"),
            "user_id",
            F.col("ts").alias("view_ts"),
        )
        .withWatermark("view_ts", watermark)
    )
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("click_user"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", watermark)
    )
    return views.join(
        clicks,
        (F.col("user_id") == F.col("click_user"))
        & (F.col("view_ts") < F.col("click_ts"))
        & (F.col("view_ts") >= F.col("click_ts") - F.expr(f"INTERVAL {window}")),
    ).select(
        "click_id",
        "view_id",
        "user_id",
        (F.unix_micros("click_ts") - F.unix_micros("view_ts")).alias("gap_us"),
    )


def attribution_join_outer(
    events: DataFrame, window: str = "30 minutes", watermark: str = "1 hour"
) -> DataFrame:
    """Stream-stream LEFT OUTER join: every click, matched to same-user
    views in the preceding ``window`` — clicks with no qualifying view
    emit a NULL-view row (the unattributed-click feed).

    Outer rows cannot be emitted eagerly: a matching view may still
    arrive. Spark buffers the click and emits the NULL-joined row only
    once the global watermark (min across both sides) passes the
    click's last possible match time, so the unmatched feed is exactly
    the clicks provably beyond late-data reach — state stays bounded by
    the watermark horizon just like the inner join."""
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("click_user"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", watermark)
    )
    views = (
        events.filter(F.col("event_type") == "view")
        .select(
            F.col("event_id").alias("view_id"),
            "user_id",
            F.col("ts").alias("view_ts"),
        )
        .withWatermark("view_ts", watermark)
    )
    return clicks.join(
        views,
        (F.col("user_id") == F.col("click_user"))
        & (F.col("view_ts") < F.col("click_ts"))
        & (F.col("view_ts") >= F.col("click_ts") - F.expr(f"INTERVAL {window}")),
        "leftOuter",
    ).select(
        "click_id",
        F.col("click_user").alias("user_id"),
        "view_id",
        (F.unix_micros("click_ts") - F.unix_micros("view_ts")).alias("gap_us"),
    )


def daily_event_aggregates(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Tumbling daily windows per event_type with late-data watermark —
    the streaming form of the reference's nightly (day, campaign) grain."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.approx_count_distinct("user_id").alias("approx_users"),
            F.round(F.sum(F.col("value").cast("decimal(18,2)")), 2)
            .cast("double")
            .alias("total_value"),
        )
        .select(
            F.col("w.start").cast("date").alias("day"),
            "event_type",
            "n_events",
            "approx_users",
            "total_value",
        )
    )


SESSION_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("session_start", TimestampType()),
        StructField("session_end", TimestampType()),
        StructField("n_events", LongType()),
        StructField("total_value", DoubleType()),
    ]
)

SESSION_GAP_US = 30 * 60 * 1_000_000  # 30 minutes

# Users per applyInPandasWithState group: the state store is keyed by
# pmod(user_id, SESSION_BUCKETS), so the count is part of the
# checkpoint's state layout and must not change under a running query
# (see ``sessionize``).
SESSION_BUCKETS = 64

_LONGS = ArrayType(LongType(), containsNull=False)

# One row per bucket: parallel arrays, one slot per user of the bucket
# with an open session, sorted by user_id. close_ms is the user's
# event-time timeout, fixed when the session was last extended.
# user_id holds nulls only in the null-user bucket.
BUCKET_STATE_SCHEMA = StructType(
    [
        StructField("user_id", ArrayType(LongType())),
        StructField("start_us", _LONGS),
        StructField("last_us", _LONGS),
        StructField("n", _LONGS),
        StructField("cents", _LONGS),
        StructField("close_ms", _LONGS),
    ]
)


def sessionize_batch(ev: DataFrame) -> DataFrame:
    """Sessions by 30-min inactivity gap over (event_id, user_id, ts,
    value) rows — the gaps-and-islands batch twin of ``sessionize``,
    with the exact decimal(18,2) sum of ``value``."""
    order_w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(order_w))
    flagged = ev.select(
        "user_id",
        "event_id",
        "ts",
        "value",
        F.when(gap_us.isNull() | (gap_us > SESSION_GAP_US), 1)
        .otherwise(0)
        .alias("new_session"),
    )
    run_w = order_w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    numbered = flagged.withColumn("session_no", F.sum("new_session").over(run_w))
    return (
        numbered.groupBy("user_id", F.col("session_no").cast("long").alias("session_no"))
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(18,2)")), 2)
            .cast("double")
            .alias("total_value"),
        )
    )


def _bucket_events(
    pdfs: Iterator[pd.DataFrame], null_users: bool
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(user_id, ts micros, cents) of one bucket's rows in this call."""
    uid, us, cents = [], [], []
    for pdf in pdfs:
        if null_users:
            uid.append(np.zeros(len(pdf), np.int64))
        else:
            uid.append(pdf["user_id"].to_numpy(np.int64))
        us.append(pdf["ts"].to_numpy("datetime64[us]").astype(np.int64))
        cents.append(pdf["cents"].to_numpy(np.int64))
    if not uid:
        return tuple(np.empty(0, np.int64) for _ in range(3))
    return np.concatenate(uid), np.concatenate(us), np.concatenate(cents)


def _islands(
    uid: np.ndarray,
    start: np.ndarray,
    last: np.ndarray,
    n: np.ndarray,
    cents: np.ndarray,
) -> tuple[np.ndarray, ...]:
    """Merge items (rows, or open sessions [start, last]) into
    sessions, sorted by (user_id, start). Items of one user must be
    disjoint, so a sorted item joins its predecessor's session iff it
    is the same user's and starts within the gap of its last event."""
    order = np.lexsort((start, uid))
    uid, start, last = uid[order], start[order], last[order]
    if not len(uid):
        return uid, start, last, n[order], cents[order]
    first = np.ones(len(uid), bool)
    first[1:] = (uid[1:] != uid[:-1]) | (start[1:] - last[:-1] > SESSION_GAP_US)
    seg = np.flatnonzero(first)
    return (
        uid[seg],
        start[seg],
        last[np.append(seg[1:] - 1, len(uid) - 1)],
        np.add.reduceat(n[order], seg),
        np.add.reduceat(cents[order], seg),
    )


def _sessionize_bucket(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Sessionize every user of one bucket in one vectorized pass.

    Called for a bucket with rows in the micro-batch, or with none
    when the bucket's timeout (its users' earliest close time) has
    passed the watermark. Per user:

    - with rows: the rows and the user's open session are merged into
      gaps-and-islands sessions; all but the last are emitted, the
      last stays open with close time max(last_ms + gap_ms, wm + 1);
    - without rows: the open session is emitted if its close time is
      below the watermark, else kept with its close time.
    """
    (bucket,) = key
    null_users = pd.isna(bucket)  # pyspark passes the null key as NaN
    wm = state.getCurrentWatermarkMs()
    uid, us, cents = _bucket_events(pdfs, null_users)

    if state.exists:
        cols = state.get
        s_start, s_last, s_n, s_cents, s_close = (
            np.asarray(c, np.int64) for c in cols[1:]
        )
        s_uid = (
            np.zeros(len(s_start), np.int64)
            if null_users
            else np.asarray(cols[0], np.int64)
        )
    else:
        s_uid = s_start = s_last = s_n = s_cents = s_close = np.empty(0, np.int64)

    touched = np.isin(s_uid, uid)
    flush = ~touched & (s_close < wm)
    keep = ~touched & ~flush

    # a row inside its user's open session [start, last] joins it
    # in place, which leaves every user's items disjoint for _islands
    inside = np.zeros(len(uid), bool)
    if len(s_uid):
        pos = np.minimum(np.searchsorted(s_uid, uid), len(s_uid) - 1)
        inside = (s_uid[pos] == uid) & (us >= s_start[pos]) & (us <= s_last[pos])
        np.add.at(s_n, pos[inside], 1)
        np.add.at(s_cents, pos[inside], cents[inside])
    out = ~inside
    i_uid = np.concatenate((uid[out], s_uid[touched]))
    i_start = np.concatenate((us[out], s_start[touched]))
    i_last = np.concatenate((us[out], s_last[touched]))
    i_n = np.concatenate((np.ones(out.sum(), np.int64), s_n[touched]))
    i_cents = np.concatenate((cents[out], s_cents[touched]))
    g_uid, g_start, g_last, g_n, g_cents = _islands(
        i_uid, i_start, i_last, i_n, i_cents
    )
    is_open = np.append(g_uid[1:] != g_uid[:-1], True)[: len(g_uid)]
    g_close = np.maximum(g_last[is_open] // 1000 + SESSION_GAP_US // 1000, wm + 1)

    # the new state: kept users plus each touched user's last session
    n_uid = np.concatenate((s_uid[keep], g_uid[is_open]))
    if len(n_uid):
        by_user = np.argsort(n_uid, kind="stable")
        n_close = np.concatenate((s_close[keep], g_close))[by_user]
        state.update(
            (
                [None] * len(n_uid) if null_users else n_uid[by_user].tolist(),
                np.concatenate((s_start[keep], g_start[is_open]))[by_user].tolist(),
                np.concatenate((s_last[keep], g_last[is_open]))[by_user].tolist(),
                np.concatenate((s_n[keep], g_n[is_open]))[by_user].tolist(),
                np.concatenate((s_cents[keep], g_cents[is_open]))[by_user].tolist(),
                n_close.tolist(),
            )
        )
        # event-time timeout: a processing-time one would keep an
        # availableNow run spinning empty batches until wall-clock
        # expiry
        state.setTimeoutTimestamp(int(n_close.min()))
    elif state.exists:
        state.remove()

    closed = ~is_open
    if closed.any() or flush.any():
        uid = np.concatenate((g_uid[closed], s_uid[flush]))
        yield pd.DataFrame(
            {
                "user_id": [None] * len(uid) if null_users else uid,
                "session_start": pd.to_datetime(
                    np.concatenate((g_start[closed], s_start[flush])), unit="us"
                ),
                "session_end": pd.to_datetime(
                    np.concatenate((g_last[closed], s_last[flush])), unit="us"
                ),
                "n_events": np.concatenate((g_n[closed], s_n[flush])),
                "total_value": np.concatenate((g_cents[closed], s_cents[flush])) / 100,
            }
        )


def sessionize(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """30-min-gap sessionization via applyInPandasWithState.

    Emission contract (append mode). A session is the run of one
    user's events with no gap over ``SESSION_GAP_US``; it is emitted
    once, as (user_id, first ts, last ts, n_events, total_value), when
    it closes:

    - gap-closed: the micro-batch that brings a later event of the
      same user more than the gap after the session's last event
      emits it at once;
    - timed out: the user's last session closes at
      ``max(last_ms + gap_ms, wm + 1)`` (``wm`` the watermark when
      the session was last extended) and is emitted in the first
      micro-batch whose watermark is strictly above that time.

    Late rows within the watermark are merged into the user's open
    session, before it or across it. At the end of a bounded run the
    sessions not yet timed out stay in state. Under ``availableNow``
    over one file (one data batch, then one batch at the final
    watermark ``max_ms - 2 h``) the output is every gaps-and-islands
    session except each user's last one when
    ``floor(last_us / 1000) + gap_ms >= wm``, the rule the
    ``stream_sessionize`` oracle states in SQL. ``total_value`` is the
    exact sum of ``value`` as decimal(18,2) (carried as integer cents;
    a null value adds nothing), the same figure as ``sessionize_batch``.

    Native ``session_window`` does not meet this contract: in append
    mode it emits a session only once the watermark passes its end,
    so a session already closed by a later in-stream gap but still
    inside the watermark horizon stays in state (95,145 rows against
    these 95,163 at sf0.1).

    Buckets. The operator groups by ``pmod(user_id,
    SESSION_BUCKETS)``, so a micro-batch costs one Python call per
    bucket instead of one per user, each a vectorized pass over many
    users' rows (``_sessionize_bucket``); a null user_id is its own
    user in the null bucket. Only (bucket, user_id, ts, cents) cross
    the Arrow boundary. The count is a constant, not derived from
    ``spark.sql.shuffle.partitions``: the state store is keyed by
    bucket, so a query restarted from its checkpoint under another
    bucket count would look users up in the wrong state rows. The
    cost: a bucket with rows in a batch rewrites its whole state row,
    O(its open users), once per batch, and the operator never runs
    more than ``SESSION_BUCKETS`` tasks with data at once.

    Sweep at sf0.1 (1,500 users, 100,000 events, 4 cores, 4 state
    stores, 2 micro-batches), ``stream_sessionize`` wall time, median
    of 6 interleaved warm runs: per user 7.28 s; 16 buckets 3.67 s,
    32 3.74 s, 64 3.75 s, 128 3.89 s, 256 4.11 s. 16 to 64 tie within
    the run-to-run spread (3.0-5.3 s); 64 is the largest count in the
    tie, so it keeps the most parallelism and the smallest state rows.
    """
    return (
        events.withWatermark("ts", watermark)
        .select(
            F.pmod(F.col("user_id"), F.lit(SESSION_BUCKETS)).alias("bucket"),
            "user_id",
            "ts",
            F.coalesce(
                (F.col("value").cast("decimal(18,2)") * 100).cast("long"), F.lit(0)
            ).alias("cents"),
        )
        .groupBy("bucket")
        .applyInPandasWithState(
            _sessionize_bucket,
            outputStructType=SESSION_SCHEMA,
            stateStructType=BUCKET_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def session_window_agg(
    events: DataFrame, watermark: str = "1 hour", gap: str = "30 minutes"
) -> DataFrame:
    """Native session-window sessionization under Structured Streaming:
    the SAME expression as the batch ext_session_window_native entry,
    with a watermark bounding state. Append mode emits a session once
    the watermark passes its end (last event + gap) — sessions closer
    to the head of the stream stay in state (a later event could still
    extend them), which the suite oracle mirrors explicitly."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id", F.session_window("ts", gap).alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(18,2)")), 2)
            .cast("double")
            .alias("total_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            F.col("n_events").cast("long").alias("n_events"),
            "total_value",
        )
    )


def read_table_stream(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """File-source stream over any driver testdata parquet (bounded;
    run it with ``run_bounded_stream``), with the schema probed from a
    batch footer read.

    The parquet file source requires a *directory*, so a single-file
    table is exposed via a symlink inside a temp dir.
    """
    import hashlib
    import os
    import tempfile

    # abspath: a relative sf_dir would otherwise produce a symlink whose
    # relative target resolves against /tmp — a broken link the parquet
    # stream source reads as an EMPTY directory (0 rows, no error)
    src = os.path.abspath(os.path.join(sf_dir, f"{name}.parquet"))
    if os.path.isdir(src):
        # already a directory of part files (Spark-written layout) —
        # stream straight from it; a nested symlink would be invisible
        # to the file source (non-partition subdirs are not recursed)
        stage = src
    else:
        tag = hashlib.md5(src.encode()).hexdigest()[:8]
        stage = os.path.join(tempfile.gettempdir(), f"{name}_stream_{tag}")
        os.makedirs(stage, exist_ok=True)
        link = os.path.join(stage, f"{name}.parquet")
        if os.path.lexists(link) and os.path.realpath(link) != os.path.realpath(src):
            os.remove(link)  # stale/broken link from an earlier process
        if not os.path.lexists(link):
            os.symlink(src, link)
    schema = spark.read.parquet(stage).schema
    return spark.readStream.schema(schema).format("parquet").load(stage)
