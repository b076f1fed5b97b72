"""Custom stateful streaming operator via applyInPandasWithState.

PySpark has no mapGroupsWithState; the supported custom-state surface is
``applyInPandasWithState``. ``running_user_totals`` keeps one small state
tuple per user (event count, value sum, newest event time) across
micro-batches and emits the updated running totals each batch — the
streaming generalization of the reference's per-execution audit
accumulation (orchestrator.py:118-298).

State is per-key and expires by EVENT-TIME timeout over a watermark on
``ts``, so the store stays bounded — at 100 TB of events the state size
tracks |users active within the TTL|, not |events|. An event-time timeout
also lets a bounded query end: Spark runs another no-data batch only when
the watermark moves, whereas a processing-time timeout queues one on every
trigger, so ``trigger(availableNow=True)`` would never terminate.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

OUTPUT_SCHEMA = "user_id long, n_events long, total_value double"
STATE_SCHEMA = "n long, total double, last_ms long"
STATE_TTL_MS = 3600 * 1000  # idle event time after which a user's state expires


def _update(
    key: Any, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    (user_id,) = key
    if state.hasTimedOut:
        state.remove()
        return
    wm = state.getCurrentWatermarkMs()
    n, total, last_ms = state.get if state.exists else (0, 0.0, wm)
    for pdf in pdfs:
        n += len(pdf)
        total += float(pdf["value"].sum())
        ts = pdf["ts"].dropna()
        if len(ts):
            last_ms = max(last_ms, int(ts.astype("int64").max() // 1_000_000))
    state.update((n, total, last_ms))
    state.setTimeoutTimestamp(max(last_ms + STATE_TTL_MS, wm + 1))
    yield pd.DataFrame(
        {"user_id": [user_id], "n_events": [n], "total_value": [total]}
    )


def running_user_totals(events: DataFrame) -> DataFrame:
    """Streaming: running (count, sum) per user with bounded state.

    Emits one row per user touched by a micro-batch (update mode): the
    user's event count and value sum so far. Expiry: a user's state is
    removed once the watermark (newest ``ts`` seen minus one hour) passes
    the user's newest event time plus ``STATE_TTL_MS``; a later event for
    that user starts a fresh total. Events older than the watermark are
    dropped as late. Events with a null ``ts`` are counted; they do not
    extend the user's event time (their state then expires relative to
    the watermark at which they arrived). Within those bounds the totals
    converge to the batch twin q_user_totals_state."""
    return (
        events.select("user_id", "ts", "value")
        .withWatermark("ts", "1 hour")
        .groupBy("user_id")
        .applyInPandasWithState(
            _update,
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


# ---------------------------------------------------------------------------
# expiring sessions: state evicted by EVENT-TIME timeout (round 10)
# ---------------------------------------------------------------------------

SESSION_OUTPUT_SCHEMA = (
    "user_id long, session_start timestamp, session_end timestamp, "
    "n_events long, total_value double"
)
SESSION_STATE_SCHEMA = (
    "starts array<long>, lasts array<long>, ns array<long>, totals array<double>"
)


def _session_row(user_id, start_ms, last_ms, n, total):
    return pd.DataFrame(
        {
            "user_id": [user_id],
            "session_start": [pd.to_datetime(start_ms, unit="ms")],
            "session_end": [pd.to_datetime(last_ms, unit="ms")],
            "n_events": [n],
            "total_value": [total],
        }
    )


def merge_session_intervals(items: list[list], gap_ms: int) -> list[list]:
    """Merge [start, last, n, total] intervals whose gap is < ``gap_ms``
    (the session_window convention: an event extends a session iff it is
    STRICTLY closer than the gap). Sorting first makes the result
    independent of arrival order — the property that makes late-but-
    within-watermark events correct: a late event either back-extends an
    existing session (session_start moves EARLIER), bridges two sessions
    into one, or forms its own earlier session."""
    items.sort(key=lambda s: (s[0], s[1]))
    out: list[list] = []
    for it in items:
        if out and it[0] - out[-1][1] < gap_ms:
            out[-1][1] = max(out[-1][1], it[1])
            out[-1][2] += it[2]
            out[-1][3] += it[3]
        else:
            out.append(list(it))
    return out


def make_session_update(gap_ms: int):
    """The applyInPandasWithState update function for gap-based sessions
    whose state is EVICTED BY EVENT-TIME TIMER: a session emits exactly
    once — when the watermark passes its last event + gap — and leaves
    state at that moment.

    State holds ALL of a user's not-yet-ripe sessions (a round-10 review
    fix: the earlier single-open-session form emitted in-batch-gap
    sessions IMMEDIATELY, before the watermark passed their horizon, and
    never back-extended session_start — so a late-but-within-watermark
    event could split or mis-start a session vs the batch twin). Nothing
    emits until the watermark closes it: ripe means last + gap <= wm,
    and Spark's watermark row filtering guarantees no surviving event
    can still merge into a ripe session (it would need ts < last + gap
    <= wm, i.e. be late-dropped)."""

    def update(
        key: Any, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        wm = state.getCurrentWatermarkMs()
        sessions: list[list] = []
        if state.exists:
            starts, lasts, ns, totals = state.get
            sessions = [list(s) for s in zip(starts, lasts, ns, totals)]
        if not state.hasTimedOut:
            for pdf in pdfs:
                ts_ms = pdf["ts"].astype("int64") // 1_000_000
                for t, v in zip(ts_ms, pdf["value"]):
                    sessions.append([int(t), int(t), 1, float(v)])
            sessions = merge_session_intervals(sessions, gap_ms)
        live: list[list] = []
        for s in sessions:
            if s[1] + gap_ms <= wm:
                yield _session_row(user_id, s[0], s[1], s[2], s[3])
            else:
                live.append(s)
        if live:
            state.update(
                (
                    [s[0] for s in live],
                    [s[1] for s in live],
                    [s[2] for s in live],
                    [s[3] for s in live],
                )
            )
            # wake when the earliest live horizon passes; clamp > wm to
            # keep the registration legal on already-behind horizons
            state.setTimeoutTimestamp(
                max(min(s[1] + gap_ms for s in live), wm + 1)
            )
        else:
            state.remove()

    return update


def expiring_user_sessions(
    events: DataFrame,
    gap_minutes: int = 5,
    lateness_minutes: int | None = None,
) -> DataFrame:
    """Streaming gap-sessionization with state TTL semantics: one row per
    CLOSED session (append mode), state evicted by event-time timeout the
    moment the watermark passes ``last_event + gap``. State volume is
    |sessions not yet past the watermark| — bounded by the watermark
    delay by construction.

    ``lateness_minutes`` is the allowed-lateness knob (watermark delay),
    independent of the gap (review fix: they were coupled, so shrinking
    the gap silently shrank lateness tolerance); default = the gap.
    Events later than it are dropped by the watermark — the batch-twin
    equality claim holds for data within that bound. Null event times
    are filtered (they carry no position on the session axis — the
    batch session_window drops them the same way) and null values count
    as 0.0, matching SUM's null semantics while still counting the row.

    Batch twin: groupBy(user, session_window(ts, gap)) — the declared
    query q_stream_session_ttl; tests/test_streaming.py asserts the
    streaming output equals the twin on closed sessions and that an
    open session is NOT emitted until the watermark moves."""
    delay = gap_minutes if lateness_minutes is None else lateness_minutes
    return (
        events.select(
            "user_id", "ts", F.coalesce(F.col("value"), F.lit(0.0)).alias("value")
        )
        .where(F.col("ts").isNotNull())
        .withWatermark("ts", f"{delay} minutes")
        .groupBy("user_id")
        .applyInPandasWithState(
            make_session_update(gap_minutes * 60 * 1000),
            outputStructType=SESSION_OUTPUT_SCHEMA,
            stateStructType=SESSION_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )
