"""Custom stateful streaming operators — applyInPandasWithState.

The reference's generic reduce RPC (SURVEY UD1) generalized to
arbitrary user state over an unbounded stream: each key group keeps a
state tuple across micro-batches; the operator function sees Arrow
batches and the state handle.

Scale notes: state lives in the executor state store (one entry per
active key); ``GroupStateTimeout`` bounds lifetime so the store does
not grow monotonically — at 100 TB/day of events, keys MUST expire.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

RUNNING_SCHEMA = "user_id long, n_events long, total_value double"
STATE_SCHEMA = "n long, total double"


def running_totals_per_user(events: DataFrame) -> DataFrame:
    """Cumulative (n_events, total_value) per user, updated per micro-batch.

    The stateful twin of ``groupBy(user).agg(count, sum)`` — but
    emitting a running snapshot every batch instead of one final
    answer, the shape used for live per-entity counters.
    """

    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, round(total, 2)))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value": [round(total, 2)]}
        )

    return (
        events.groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=RUNNING_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


DISTINCT_SCHEMA = "user_id long, n_types long, n_events long"
DISTINCT_STATE_SCHEMA = "seen array<string>, n long"


def distinct_types_per_user(events: DataFrame) -> DataFrame:
    """Running per-user distinct event-type count: per user, state
    holds the sorted types seen so far and the event tally; each
    micro-batch merges its types in and emits the updated snapshot.

    Scale: state per key is O(distinct types) — bounded. The demo
    stream is finite, so no timeout is set; at unbounded ingest an
    event-time timeout (as in ``session_timeout_evictions``) is the
    knob that expires idle users.
    """

    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        seen, n = state.get if state.exists else ([], 0)
        seen = set(seen)
        for pdf in pdfs:
            n += len(pdf)
            seen.update(pdf["event_type"].unique())
        state.update((sorted(seen), n))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_types": [len(seen)], "n_events": [n]}
        )

    return (
        events.select("user_id", "event_type")
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=DISTINCT_SCHEMA,
            stateStructType=DISTINCT_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


TYPE_COUNTS_SCHEMA = "user_id long, event_type string, n long"
TYPE_COUNTS_STATE_SCHEMA = "counts map<string,bigint>"


def type_counts_per_user(events: DataFrame) -> DataFrame:
    """Per-user event-type histogram: per user, state holds a map
    event_type -> count; each micro-batch adds its (vectorized) tally
    and re-emits the full map as one snapshot row per type.

    Scale: state per key is O(distinct types) — bounded.
    """

    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        counts = dict(state.get[0]) if state.exists else {}
        for pdf in pdfs:
            for t, c in pdf["event_type"].value_counts().items():
                counts[t] = counts.get(t, 0) + int(c)
        state.update((counts,))
        yield pd.DataFrame(
            [(key[0], t, c) for t, c in sorted(counts.items())],
            columns=["user_id", "event_type", "n"],
        )

    return (
        events.select("user_id", "event_type")
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=TYPE_COUNTS_SCHEMA,
            stateStructType=TYPE_COUNTS_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


SCD2_SCHEMA = "user_id long, state string, valid_from_us long, valid_to_us long, is_current int"
SCD2_STATE_SCHEMA = "cur string, since_us long"


def scd2_stream_per_user(events: DataFrame) -> DataFrame:
    """Streaming SCD type-2 build — the stateful twin of
    ``operators.timeseries.scd2_intervals``: per user, state holds the
    current (state, since); when a micro-batch changes the state, the
    CLOSED interval [since, change_ts) is emitted and the open one
    replaces it in the store. Every snapshot also re-emits the open
    interval (valid_to_us = -1, is_current = 1) so downstream sinks
    upsert the live row.

    The CDC-feed-to-dimension pattern at unbounded ingest: state per
    key is O(1); interval rows append — no rescan of history. Batch
    parity is pinned by tests/test_stateful_streaming.py (closed
    intervals equal the batch build's on a single-batch replay).

    Assumes event-time order within the processed stream (guaranteed
    here by per-batch sorting inside the handler).
    """

    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        cur, since = state.get if state.exists else (None, None)
        out: list[tuple] = []
        for pdf in pdfs:
            pdf = pdf.sort_values(["ts_us", "event_id"])
            for ts_us, et in zip(pdf["ts_us"], pdf["event_type"]):
                if cur is None:
                    cur, since = et, int(ts_us)
                elif et != cur:
                    out.append((key[0], cur, since, int(ts_us), 0))
                    cur, since = et, int(ts_us)
        state.update((cur, since))
        out.append((key[0], cur, since, -1, 1))
        yield pd.DataFrame(
            out,
            columns=["user_id", "state", "valid_from_us", "valid_to_us", "is_current"],
        )

    from pyspark.sql import functions as F

    return (
        events.select(
            "user_id",
            "event_id",
            "event_type",
            F.unix_micros("ts").alias("ts_us"),
        )
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=SCD2_SCHEMA,
            stateStructType=SCD2_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


LOCF_SCHEMA = "event_id long, user_id long, ts_us long, last_purchase_value double"
LOCF_STATE_SCHEMA = "v double"


def forward_fill_stream_per_user(events: DataFrame) -> DataFrame:
    """Streaming LOCF — the stateful twin of
    ``operators.timeseries.forward_fill``: per user, ValueState holds
    the last purchase value; every event row is emitted enriched with
    it (NULL until the user's first purchase). State per key is ONE
    double — the live-feature-serving shape (last price mark, last
    sensor reading) at unbounded ingest.

    Assumes event-time order within the processed stream (per-batch
    sort inside the handler; single-batch replay in tests).
    """

    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        last = state.get[0] if state.exists else None
        for pdf in pdfs:
            pdf = pdf.sort_values(["ts_us", "event_id"])
            out = []
            for eid, ts_us, et, v in zip(
                pdf["event_id"], pdf["ts_us"], pdf["event_type"], pdf["value"]
            ):
                if et == "purchase" and v == v:  # not NaN
                    last = float(v)
                out.append((int(eid), key[0], int(ts_us), last))
            yield pd.DataFrame(
                out, columns=["event_id", "user_id", "ts_us", "last_purchase_value"]
            )
        if last is not None:
            state.update((last,))

    from pyspark.sql import functions as F

    return (
        events.select(
            "event_id",
            "user_id",
            "event_type",
            "value",
            F.unix_micros("ts").alias("ts_us"),
        )
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=LOCF_SCHEMA,
            stateStructType=LOCF_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


EWMA_SCHEMA = "event_id long, user_id long, ewma double"
EWMA_STATE_SCHEMA = "y double"


def ewma_stream_per_user(events: DataFrame, alpha: float = 0.2) -> DataFrame:
    """Streaming EWMA — the stateful twin of operators.timeseries.ewma:
    ValueState carries the previous smoothed value per user; each event
    emits its updated y. The clamped-fold class at unbounded ingest
    (state: ONE double per key), same recursive-CTE oracle as the
    batch build. Assumes event-time order within the processed stream
    (per-batch sort; single-batch replay in the gate)."""

    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        y = state.get[0] if state.exists else None
        for pdf in pdfs:
            pdf = pdf.sort_values(["ts_us", "event_id"])
            out = []
            for eid, x in zip(pdf["event_id"], pdf["value"]):
                x = float(x)
                y = x if y is None else alpha * x + (1 - alpha) * y
                out.append((int(eid), key[0], y))
            yield pd.DataFrame(out, columns=["event_id", "user_id", "ewma"])
        if y is not None:
            state.update((y,))

    from pyspark.sql import functions as F

    return (
        events.filter(F.col("value").isNotNull())
        .select("event_id", "user_id", "value", F.unix_micros("ts").alias("ts_us"))
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=EWMA_SCHEMA,
            stateStructType=EWMA_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


SESSION_EVICT_SCHEMA = (
    "user_id long, session_start_ms long, session_end_ms long,"
    " n_events long, via string"
)
SESSION_EVICT_STATE_SCHEMA = "start_ms long, last_ms long, n long"
_SESSION_COLUMNS = ["user_id", "session_start_ms", "session_end_ms", "n_events", "via"]


def session_timeout_evictions(
    events: DataFrame, gap_ms: int = 30 * 60 * 1000, watermark: str = "2 hours"
) -> DataFrame:
    """Session tracking with event-time TIMEOUT eviction.

    Per user, state holds the open session (start_ms, last_ms, n).
    Input rows extend it; a >gap_ms silence INSIDE a batch closes the
    session inline (via='input'). After each batch the session's
    deadline last_ms + gap_ms becomes the key's timeout; when the
    WATERMARK passes it, the function is called with
    ``state.hasTimedOut``, emits the session (via='timer') and removes
    the state — the idle-key eviction that bounds the state store at
    unbounded ingest. Users whose last event is within gap_ms of the
    final watermark keep their timeout pending and emit nothing —
    exactly the live-session set.

    Determinism (the oracle contract): timeouts fire on watermark
    (event-time), never wall clock, so a replay of the same input
    produces the same evictions — via='timer' iff
    last_ms + gap_ms <= final watermark, where the final watermark is
    max(event time) - ``watermark``. Assumes the finite replay arrives
    in one micro-batch (single parquet file), as all stateful entries
    here do; the timeout batch itself is the no-new-data micro-batch
    Spark triggers when the watermark advances.

    Scale: state per key is 3 longs + 1 timeout — O(active users), not
    O(events).
    """

    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            start, last, n = state.get
            state.remove()
            yield pd.DataFrame(
                [(key[0], start, last, n, "timer")], columns=_SESSION_COLUMNS
            )
            return
        start, last, n = state.get if state.exists else (None, None, 0)
        ts_all: list[int] = []
        for pdf in pdfs:
            # Epoch millis of the UTC session zone's naive timestamps
            # (read_events_stream pins the zone to UTC).
            ts_all.extend((pdf["ts"].astype("int64") // 1_000_000).tolist())
        out: list[tuple] = []
        for t in sorted(ts_all):
            if start is None:
                start = last = t
                n = 1
            elif t - last > gap_ms:
                out.append((key[0], start, last, n, "input"))
                start = last = t
                n = 1
            else:
                last = max(last, t)
                n += 1
        state.update((start, last, n))
        # Spark times a key out once its timeout is strictly BELOW the
        # watermark; the oracle evicts a session whose deadline is AT
        # or below it. One millisecond earlier makes the two agree.
        state.setTimeoutTimestamp(last + gap_ms - 1)
        if out:
            yield pd.DataFrame(out, columns=_SESSION_COLUMNS)

    return (
        events.withWatermark("ts", watermark)
        # ts must reach the function: an event-time timeout needs the
        # watermarked column in the operator's input.
        .select("user_id", "ts")
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=SESSION_EVICT_SCHEMA,
            stateStructType=SESSION_EVICT_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )
