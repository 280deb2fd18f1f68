"""Property test: the per-bucket sessionizer equals a per-user one.

``_sessionize_bucket`` sessionizes many users per applyInPandasWithState
call. The reference below is the per-user state function it replaced
(one call, and one state row, per user). Both are driven the way
Spark drives a state function: per micro-batch, one call per group
with rows, then one timed-out call per group whose timeout is below
the watermark. Over random multi-user events, random micro-batch
splits and an advancing watermark they must emit the same sessions
and leave the same open sessions and close times.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from marketing_etl_analytics_spark.streaming.events_stream import (
    SESSION_BUCKETS,
    SESSION_GAP_US,
    _sessionize_bucket,
)
from tests.test_sessionize_unit import FakeState, open_sessions

MIN_US = 60 * 1_000_000


def _sessionize_user(key: tuple, pdfs: Iterator[pd.DataFrame], state):
    """Reference: split one user's event stream into sessions
    separated by >30 min of inactivity. Emits closed sessions; keeps
    the open one in state (flushed on timeout). State is (start_us,
    last_us, n, value)."""
    (user_id,) = key
    if state.hasTimedOut:
        if state.exists:
            start_us, last_us, n, value = state.get
            state.remove()
            yield pd.DataFrame(
                {
                    "user_id": [user_id],
                    "session_start": [pd.Timestamp(start_us, unit="us")],
                    "session_end": [pd.Timestamp(last_us, unit="us")],
                    "n_events": [n],
                    "total_value": [round(value, 2)],
                }
            )
        return

    ts_parts, val_parts = [], []
    for pdf in pdfs:
        ts_parts.append(
            pd.to_datetime(pdf["ts"]).values.astype("datetime64[us]").astype(np.int64)
        )
        val_parts.append(pdf["value"].to_numpy(dtype=np.float64))
    us = np.concatenate(ts_parts) if ts_parts else np.empty(0, np.int64)
    vals = np.concatenate(val_parts) if val_parts else np.empty(0, np.float64)
    if len(us) == 0:
        if state.exists:
            _, last0, _, _ = state.get
            wm = state.getCurrentWatermarkMs()
            state.setTimeoutTimestamp(
                max(last0 // 1000 + SESSION_GAP_US // 1000, wm + 1)
            )
        return
    order = np.argsort(us, kind="stable")
    us, vals = us[order], vals[order]

    seg_starts = np.concatenate(
        ([0], np.flatnonzero(np.diff(us) > SESSION_GAP_US) + 1)
    )
    seg_last = np.concatenate((seg_starts[1:] - 1, [len(us) - 1]))
    counts = np.diff(np.concatenate((seg_starts, [len(us)])))
    sums = np.add.reduceat(vals, seg_starts)
    segments = [
        (int(us[s]), int(us[e]), int(c), float(v))
        for s, e, c, v in zip(seg_starts, seg_last, counts, sums)
    ]

    if state.exists:
        segments.append(tuple(state.get))
        segments.sort()
        merged = [segments[0]]
        for seg in segments[1:]:
            prev = merged[-1]
            if seg[0] - prev[1] <= SESSION_GAP_US:
                merged[-1] = (
                    min(prev[0], seg[0]),
                    max(prev[1], seg[1]),
                    prev[2] + seg[2],
                    prev[3] + seg[3],
                )
            else:
                merged.append(seg)
        segments = merged

    out = segments[:-1]
    start_us, last_us, n, value = segments[-1]
    state.update((start_us, last_us, n, value))
    timeout_ms = last_us // 1000 + SESSION_GAP_US // 1000
    wm = state.getCurrentWatermarkMs()
    state.setTimeoutTimestamp(max(timeout_ms, wm + 1))
    if out:
        yield pd.DataFrame(
            {
                "user_id": [user_id] * len(out),
                "session_start": [pd.Timestamp(s, unit="us") for s, _, _, _ in out],
                "session_end": [pd.Timestamp(e, unit="us") for _, e, _, _ in out],
                "n_events": [n_ for _, _, n_, _ in out],
                "total_value": [round(v_, 2) for _, _, _, v_ in out],
            }
        )


def _drive(fn, group_of, batches):
    """Run ``fn`` over micro-batches as Spark's stateful operator does;
    returns (emitted rows, {group: state})."""
    states: dict = {}
    emitted = []

    def call(group, pdfs, timed_out, wm):
        state = states.get(group) or FakeState()
        state.hasTimedOut, state._wm = timed_out, wm
        for pdf in fn((group,), iter(pdfs), state):
            emitted.extend(pdf.itertuples(index=False))
        states[group] = state

    for pdf, wm in batches:
        if len(pdf):
            keys = pdf["user_id"].map(group_of)
            for group, rows in pdf.groupby(keys, dropna=False, sort=False):
                call(None if pd.isna(group) else int(group), [rows], False, wm)
        for group, state in list(states.items()):
            if state.exists and state.timeout_ts is not None and state.timeout_ts < wm:
                call(group, [], True, wm)
    return emitted, {g: s for g, s in states.items() if s.exists}


def _rows(emitted, cents_scale):
    rows = (
        (
            None if pd.isna(r.user_id) else int(r.user_id),
            r.session_start.value // 1000,
            r.session_end.value // 1000,
            int(r.n_events),
            round(r.total_value * cents_scale),
        )
        for r in emitted
    )
    return sorted(rows, key=lambda r: (r[0] is None, r[0] or 0, r[1:]))


_events = st.lists(
    st.tuples(
        # three users share bucket 1; None is the null user
        st.sampled_from(
            [1, 1 + SESSION_BUCKETS, 1 + 2 * SESSION_BUCKETS, 2, None]
        ),
        st.integers(min_value=0, max_value=8 * 60),  # minutes
        st.integers(min_value=0, max_value=100_000),  # cents
        st.integers(min_value=0, max_value=3),  # micro-batch
    ),
    min_size=1,
    max_size=40,
)


@settings(max_examples=300, deadline=None, suppress_health_check=list(HealthCheck))
@given(events=_events, delay_min=st.sampled_from([0, 10, 45, 120, 600]))
def test_bucket_handler_equals_per_user_reference(events, delay_min):
    """Same sessions out, same sessions left open, same close times."""
    frame = pd.DataFrame(events, columns=["user_id", "minute", "cents", "batch"])
    frame["ts_us"] = frame["minute"] * MIN_US
    batches, wm, max_ms = [], 0, None
    for b in range(4):
        part = frame[frame["batch"] == b]
        # Spark drops rows at or behind the watermark before the
        # state function sees them
        part = part[part["ts_us"] > wm * 1000]
        pdf = pd.DataFrame(
            {
                "user_id": part["user_id"].astype("float64"),
                "ts": pd.to_datetime(part["ts_us"], unit="us"),
                "cents": part["cents"].astype("int64"),
            }
        )
        batches.append((pdf, wm))
        if len(part):
            seen = int(part["ts_us"].max()) // 1000
            max_ms = seen if max_ms is None else max(max_ms, seen)
        if max_ms is not None:
            wm = max(wm, max_ms - delay_min * MIN_US // 1000)
    # the no-data batch at the final watermark, then one far past it
    empty = batches[0][0].iloc[:0]
    batches += [(empty, wm), (empty, 10**13)]

    def per_user(key, pdfs, state):
        pdfs = [p.rename(columns={"cents": "value"}) for p in pdfs]
        return _sessionize_user(key, pdfs, state)

    ref_out, ref_states = _drive(per_user, lambda u: u, batches[:-1])
    got_out, got_states = _drive(
        _sessionize_bucket, lambda u: u % SESSION_BUCKETS, batches[:-1]
    )
    assert _rows(got_out, 100) == _rows(ref_out, 1)

    ref_open = {
        u: (*s.get[:3], round(s.get[3]), s.timeout_ts) for u, s in ref_states.items()
    }
    got_open = {}
    for state in got_states.values():
        got_open.update(open_sessions(state))
        assert state.timeout_ts == min(c for *_, c in open_sessions(state).values())
    assert got_open == ref_open

    # past every close time both have flushed every row they were fed
    ref_all, _ = _drive(per_user, lambda u: u, batches)
    got_all, left = _drive(
        _sessionize_bucket, lambda u: u % SESSION_BUCKETS, batches
    )
    assert _rows(got_all, 100) == _rows(ref_all, 1) and left == {}
    assert sum(r[3] for r in _rows(got_all, 100)) == sum(len(p) for p, _ in batches)
