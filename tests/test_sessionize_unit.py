"""Unit tests for the stateful sessionizer's bucket handler.

Drives ``_sessionize_bucket`` directly with a fake GroupState, covering
the paths a streaming run rarely exercises deterministically: empty
non-timeout batches (must keep the state and its timeout, not crash
on ``np.add.reduceat`` of an empty array), in-watermark out-of-order
batches that predate the stored session end (must merge, never
regress session boundaries), and several users sharing one bucket
(each keeps its own timeout).
"""

from __future__ import annotations

import pandas as pd

from marketing_etl_analytics_spark.streaming.events_stream import (
    SESSION_BUCKETS,
    SESSION_GAP_US,
    _sessionize_bucket,
)

US = 1_000_000


class FakeState:
    """The slice of pyspark's GroupState the state functions use."""

    def __init__(self, value=None, timed_out=False, watermark_ms=0):
        self._v = value
        self.hasTimedOut = timed_out
        self._wm = watermark_ms
        self.removed = False
        self.timeout_ts = None

    @property
    def exists(self):
        return self._v is not None

    @property
    def get(self):
        if self._v is None:
            raise ValueError("no state")
        return self._v

    def update(self, v):
        self._v = tuple(v)

    def remove(self):
        self._v = None
        self.removed = True

    def getCurrentWatermarkMs(self):
        return self._wm

    def setTimeoutTimestamp(self, ts):
        assert ts >= self._wm, "GroupState rejects a timeout below the watermark"
        self.timeout_ts = ts


def bucket_state(sessions):
    """Bucket state from {user_id: (start_us, last_us, n, cents,
    close_ms)}, slots sorted by user_id as the handler keeps them."""
    users = sorted(sessions)
    return (users,) + tuple([sessions[u][i] for u in users] for i in range(5))


def open_sessions(state):
    """{user_id: (start_us, last_us, n, cents, close_ms)} of a bucket state."""
    if not state.exists:
        return {}
    uid, *cols = state.get
    return {u: tuple(c[i] for c in cols) for i, u in enumerate(uid)}


def _batch(rows):
    """Handler input from (user_id, ts_us, cents) rows."""
    uid, ts, cents = zip(*rows) if rows else ((), (), ())
    return pd.DataFrame(
        {
            "bucket": [None if u is None else u % SESSION_BUCKETS for u in uid],
            "user_id": pd.Series(uid, dtype="float64" if None in uid else "int64"),
            "ts": pd.to_datetime(pd.Series(ts, dtype="int64"), unit="us"),
            "cents": pd.Series(cents, dtype="int64"),
        }
    )


def _run(state, *batches, bucket=7):
    out = list(_sessionize_bucket((bucket,), iter(batches), state))
    if not out:
        return []
    return sorted(
        (
            None if pd.isna(r.user_id) else int(r.user_id),
            r.session_start.value // 1000,
            r.session_end.value // 1000,
            r.n_events,
            round(r.total_value * 100),
        )
        for r in pd.concat(out).itertuples()
    )


def test_empty_batch_rearms_timeout_and_keeps_state():
    close = (100 * US + SESSION_GAP_US) // 1000
    state = FakeState(value=bucket_state({7: (0, 100 * US, 3, 500, close)}))
    assert _run(state, _batch([])) == []
    assert open_sessions(state) == {7: (0, 100 * US, 3, 500, close)}
    # timeout re-armed at the user's close time, past the watermark
    assert state.timeout_ts == max(close, state.getCurrentWatermarkMs() + 1)


def test_empty_batch_without_state_is_noop():
    state = FakeState()
    assert _run(state, _batch([])) == []
    assert not state.exists and state.timeout_ts is None


def test_out_of_order_batch_does_not_regress_session_end():
    # open session [0, 1000s]; a late in-watermark batch lands at 400s
    state = FakeState(value=bucket_state({7: (0, 1000 * US, 2, 200, 0)}))
    assert _run(state, _batch([(7, 400 * US, 100)])) == []
    start, last, n, cents, close = open_sessions(state)[7]
    assert (start, last) == (0, 1000 * US)  # end NOT regressed to 400s
    assert (n, cents) == (3, 300)
    assert close == (1000 * US + SESSION_GAP_US) // 1000


def test_out_of_order_batch_can_extend_session_start_backwards():
    # events arrive that predate the stored start but are in-gap
    state = FakeState(value=bucket_state({7: (500 * US, 600 * US, 1, 100, 0)}))
    _run(state, _batch([(7, 300 * US, 100), (7, 650 * US, 100)]))
    start, last, n, cents, _ = open_sessions(state)[7]
    assert (start, last, n, cents) == (300 * US, 650 * US, 3, 300)


def test_late_batch_fully_before_open_session_stays_separate():
    # open session 12:00-12:10; a late batch lands entirely earlier,
    # with its own internal gap: [10:30] and [11:20]. Neither is
    # in-gap with the open session (40+ min away), so two closed
    # sessions emit and the open one is untouched.
    h12, m10 = 12 * 3600 * US, 10 * 60 * US
    a, b = 10 * 3600 * US + 30 * 60 * US, 11 * 3600 * US + 20 * 60 * US
    state = FakeState(value=bucket_state({7: (h12, h12 + m10, 2, 200, 0)}))
    out = _run(state, _batch([(7, a, 5), (7, b, 6)]))
    assert out == [(7, a, a, 1, 5), (7, b, b, 1, 6)]  # both late segments closed
    start, last, n, cents, _ = open_sessions(state)[7]
    assert (start, last, n, cents) == (h12, h12 + m10, 2, 200)  # open session intact


def test_late_straddling_batch_merges_across_state():
    # late events on both sides of the stored session, all in-gap:
    # one merged open session spanning them
    state = FakeState(value=bucket_state({7: (1000 * US, 1100 * US, 1, 100, 0)}))
    _run(state, _batch([(7, 900 * US, 100), (7, 1200 * US, 100)]))
    start, last, n, _, _ = open_sessions(state)[7]
    assert (start, last, n) == (900 * US, 1200 * US, 3)


def test_gap_split_emits_closed_sessions():
    state = FakeState()
    out = _run(
        state,
        _batch([(7, 0, 100), (7, 10 * US, 250), (7, SESSION_GAP_US + 20 * US, 1)]),
    )
    assert out == [(7, 0, 10 * US, 2, 350)]  # first session closed
    start, last, n, _, _ = open_sessions(state)[7]  # second stays open in state
    assert start == SESSION_GAP_US + 20 * US and n == 1


def test_gap_boundary_is_inclusive():
    # a row exactly one gap after the last event joins the session
    state = FakeState()
    assert _run(state, _batch([(7, 0, 1), (7, SESSION_GAP_US, 1)])) == []
    assert open_sessions(state)[7][2] == 2


def test_timeout_flushes_open_session():
    state = FakeState(
        value=bucket_state({7: (0, 50 * US, 4, 800, 10)}),
        timed_out=True,
        watermark_ms=11,
    )
    out = _run(state)
    assert state.removed
    assert out == [(7, 0, 50 * US, 4, 800)]


def test_data_call_flushes_idle_user_behind_watermark():
    # users 7 and u2 share bucket 7; u2 has no rows in this batch and
    # its close time is behind the watermark, so the data call for
    # the bucket must flush it (no timeout call follows in this batch)
    wm = 10_000_000
    u2 = 7 + SESSION_BUCKETS
    state = FakeState(
        value=bucket_state(
            {
                7: (wm * 1000 - 10 * US, wm * 1000 - 10 * US, 1, 100, wm + 5),
                u2: (0, 60 * US, 2, 300, wm - 1),
            }
        ),
        watermark_ms=wm,
    )
    out = _run(state, _batch([(7, wm * 1000 + 5 * US, 100)]))
    assert out == [(u2, 0, 60 * US, 2, 300)]
    assert set(open_sessions(state)) == {7}
    n, cents, close = open_sessions(state)[7][2:]
    assert (n, cents) == (2, 200)
    assert close == (wm * 1000 + 5 * US + SESSION_GAP_US) // 1000
    assert state.timeout_ts == close


def test_timeout_call_flushes_some_users_and_rearms_the_rest():
    a, b, c, d = (7 + k * SESSION_BUCKETS for k in range(4))
    state = FakeState(
        value=bucket_state(
            {
                a: (0, 1 * US, 1, 10, 100),
                b: (0, 2 * US, 1, 20, 299),
                c: (0, 3 * US, 1, 30, 300),  # close == watermark: kept (strict <)
                d: (0, 4 * US, 1, 40, 500),
            }
        ),
        timed_out=True,
        watermark_ms=300,
    )
    out = _run(state)
    assert out == [(a, 0, 1 * US, 1, 10), (b, 0, 2 * US, 1, 20)]
    assert set(open_sessions(state)) == {c, d}
    assert state.timeout_ts == 300  # the earliest remaining close time
    assert not state.removed


def test_user_with_rows_is_merged_not_flushed():
    # user 7's close time is behind the watermark, but the batch has
    # an in-gap row for it: merge and re-arm, as the per-user operator
    # (which is never timed out in a call that has its rows) does
    wm = 10_000_000
    state = FakeState(
        value=bucket_state({7: (0, wm * 1000, 1, 100, wm - 1)}), watermark_ms=wm
    )
    assert _run(state, _batch([(7, wm * 1000 + 60 * US, 100)])) == []
    start, last, n, cents, close = open_sessions(state)[7]
    assert (start, n, cents) == (0, 2, 200)
    assert close == max((last + SESSION_GAP_US) // 1000, wm + 1)


def test_row_behind_watermark_closes_after_the_watermark():
    # a row whose last + gap is already behind the watermark still
    # opens a session, timed out no earlier than the next watermark
    wm = 10_000_000
    state = FakeState(watermark_ms=wm)
    assert _run(state, _batch([(7, 60 * US, 100)])) == []
    assert open_sessions(state)[7][4] == state.timeout_ts == wm + 1


def test_null_user_is_its_own_user():
    # pyspark hands the state function the null grouping key as NaN
    null_key = float("nan")
    state = FakeState()
    out = _run(
        state,
        _batch([(None, 0, 1), (None, 5 * US, 2), (None, SESSION_GAP_US + 6 * US, 4)]),
        bucket=null_key,
    )
    assert out == [(None, 0, 5 * US, 2, 3)]
    uid, start, _, n, cents, _ = state.get
    assert uid == [None] and n == [1] and cents == [4]
    state.hasTimedOut, state._wm = True, 10**12
    assert _run(state, bucket=null_key) == [
        (None, SESSION_GAP_US + 6 * US, SESSION_GAP_US + 6 * US, 1, 4)
    ]
    assert state.removed


def test_session_window_boundary_is_inclusive(spark):
    """An event at exactly last_ts + gap MERGES into the session:
    Spark's session_window end bound is inclusive (verified here, not
    assumed from the docs). This pins the strict > rule the
    ext_session_window_native oracle uses — the same rule as the
    gaps-and-islands twin."""
    import datetime as dt

    from pyspark.sql import functions as F

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        (1, t0),
        (1, t0 + dt.timedelta(minutes=30)),       # == gap -> merges
        (1, t0 + dt.timedelta(minutes=90)),       # > gap after prev -> new
    ]
    df = spark.createDataFrame(rows, "user_id long, ts timestamp")
    got = (
        df.groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select("w.start", "n")
        .orderBy("start")
        .collect()
    )
    assert [(r.start, r.n) for r in got] == [
        (t0, 2),
        (t0 + dt.timedelta(minutes=90), 1),
    ]
