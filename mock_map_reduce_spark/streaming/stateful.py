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

from mock_map_reduce_spark.functions.zipimports import reuse_zip_directories

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
        reuse_zip_directories()
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


def distinct_types_per_user(events: DataFrame) -> DataFrame:
    """Running per-user distinct event-type count via Spark 4's
    ``transformWithStateInPandas`` — the successor API to
    ``applyInPandasWithState`` (typed state handles instead of one
    opaque tuple): a ListState accumulates the seen types, a
    ValueState the event tally, both keyed in the executor state
    store and updated per micro-batch.

    Scale: state per key is O(distinct types) — bounded — and the
    API's per-state TTL (not used here: the demo stream is finite)
    is the knob that expires idle users at unbounded ingest.

    Dependency note: the transformWithState protocol speaks protobuf
    between the JVM and the Python state server. Environments without
    the ``protobuf`` package use the repo's minimal from-scratch
    runtime (/root/repo/google/protobuf — proto3 wire format +
    generated-code API surface, see its module docstring);
    ``ship_vendored_protobuf`` ships it to executors so worker
    sys.path does not depend on the driver's cwd. The query also
    needs the RocksDB state store provider (one column family per
    state variable) — callers set
    spark.sql.streaming.stateStore.providerClass before starting.
    """
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class DistinctTypes(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            reuse_zip_directories()
            self._seen = handle.getListState("seen", "t string")
            self._n = handle.getValueState("n", "n long")

        def handleInputRows(self, key, rows, timerValues):  # noqa: ANN001
            seen = {t for (t,) in self._seen.get()}
            cur = self._n.get()  # None when absent — one RPC, not two
            n = cur[0] if cur is not None else 0
            for pdf in rows:
                n += len(pdf)
                new = set(pdf["event_type"].unique()) - seen
                if new:
                    self._seen.appendList([(t,) for t in sorted(new)])
                    seen |= new
            self._n.update((n,))
            yield pd.DataFrame(
                {"user_id": [key[0]], "n_types": [len(seen)], "n_events": [n]}
            )

        def close(self) -> None:
            pass

    return (
        events.select("user_id", "event_type")
        .groupBy("user_id")
        .transformWithStateInPandas(
            DistinctTypes(),
            outputStructType=DISTINCT_SCHEMA,
            outputMode="Update",
            timeMode="None",
        )
    )


TYPE_COUNTS_SCHEMA = "user_id long, event_type string, n long"


def type_counts_per_user(events: DataFrame) -> DataFrame:
    """Per-user event-type histogram via transformWithStateInPandas
    MAP state — the third typed-state surface (ValueState and
    ListState are exercised by ``distinct_types_per_user``): a
    MapState[event_type -> count] updated per micro-batch, the full
    map re-emitted per snapshot. Exercises the map-state protocol
    end-to-end (getMapState, containsKey, getValue, updateValue,
    iterator) over the protobuf channel.

    Scale: state per key is O(distinct types) — bounded; the map
    lives in the RocksDB store keyed (user, type), so updates touch
    only the changed entries, never the whole map.
    """
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class TypeCounts(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            reuse_zip_directories()
            self._m = handle.getMapState("counts", "t string", "n long")

        def handleInputRows(self, key, rows, timerValues):  # noqa: ANN001
            local: dict[str, int] = {}
            for pdf in rows:
                # vectorized tally instead of a per-row Python loop
                for t, c in pdf["event_type"].value_counts().items():
                    local[t] = local.get(t, 0) + int(c)
            for t, add in sorted(local.items()):
                # getValue() returns None for a missing key — the
                # separate containsKey probe was a second proto RPC
                # per (user, type) against the state server.
                cur = self._m.getValue((t,))
                self._m.updateValue((t,), ((cur[0] if cur else 0) + add,))
            snapshot = [(key[0], k[0], v[0]) for k, v in self._m.iterator()]
            yield pd.DataFrame(
                snapshot, columns=["user_id", "event_type", "n"]
            )

        def close(self) -> None:
            pass

    return (
        events.select("user_id", "event_type")
        .groupBy("user_id")
        .transformWithStateInPandas(
            TypeCounts(),
            outputStructType=TYPE_COUNTS_SCHEMA,
            outputMode="Update",
            timeMode="None",
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
        reuse_zip_directories()
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
        reuse_zip_directories()
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
        reuse_zip_directories()
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


def session_timeout_evictions(
    events: DataFrame, gap_ms: int = 30 * 60 * 1000, watermark: str = "2 hours"
) -> DataFrame:
    """Session tracking with TIMER-driven eviction — the
    transformWithStateInPandas TIMER surface (register / expire /
    delete), completing the typed-state API next to ValueState /
    ListState (distinct_types_per_user) and MapState
    (type_counts_per_user).

    Per user, a ValueState holds the open session (start_ms, last_ms,
    n). Input rows extend it; a >gap_ms silence INSIDE a batch closes
    the session inline (via='input'). After each batch the processor
    re-arms ONE event-time timer at last_ms + gap_ms; when the
    WATERMARK passes it, ``handleExpiredTimer`` fires, emits the
    session (via='timer') and clears the state — the idle-key eviction
    that bounds the state store at unbounded ingest. Users whose last
    event is within gap_ms of the final watermark keep their timer
    pending and emit nothing — exactly the live-session set.

    Determinism (the oracle contract): timers fire on watermark
    (event-time), never wall clock, so a replay of the same input
    produces the same evictions — via='timer' iff
    last_ms + gap_ms <= final watermark, where the final watermark is
    max(event time) - ``watermark``. Assumes the finite replay arrives
    in one micro-batch (single parquet file), as all stateful entries
    here do; the timer batch itself is the no-new-data micro-batch
    Spark triggers when the watermark advances.

    Scale: state per key is 3 longs + 1 timer — O(active users), not
    O(events); the timer wheel is the state store's, sharded with the
    keys.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.streaming.stateful_processor import (
        ExpiredTimerInfo,
        StatefulProcessor,
        StatefulProcessorHandle,
        TimerValues,
    )

    class SessionEvict(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            reuse_zip_directories()
            self._handle = handle
            self._sess = handle.getValueState(
                "sess", "start_ms long, last_ms long, n long"
            )

        def handleInputRows(self, key, rows, timerValues: TimerValues):  # noqa: ANN001
            # ONE get() instead of exists()+get(): ValueState.get()
            # returns None when the variable has no value, and every
            # state op here is a synchronous proto RPC over the local
            # state-server socket — at 150k keys/batch the extra
            # round trip per key is measurable wall time (guide §4:
            # the per-row/per-key boundary cost is the bottleneck, so
            # cross it as few times as possible).
            prev = self._sess.get()
            start = last = None
            n = 0
            if prev is not None:
                start, last, n = (int(x) for x in prev)
            prev_last = last
            ts_all: list[int] = []
            for pdf in rows:
                # bulk int64 -> python-int conversion (tolist), not a
                # per-element generator
                ts_all.extend(pdf["ts_ms"].tolist())
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
            # Re-arm: exactly one pending timer per key, at the open
            # session's deadline. The pending timer's timestamp is
            # derivable from the stored state (prev_last + gap_ms —
            # this class's invariant), so the listTimers iterator RPC
            # is unnecessary: delete the known deadline directly, and
            # only when it actually moved (a fresh key has no timer;
            # an unchanged deadline is already armed).
            if last != prev_last:
                if prev_last is not None:
                    self._handle.deleteTimer(prev_last + gap_ms)
                self._handle.registerTimer(last + gap_ms)
            self._sess.update((start, last, n))
            if out:
                yield pd.DataFrame(
                    out,
                    columns=[
                        "user_id", "session_start_ms", "session_end_ms",
                        "n_events", "via",
                    ],
                )

        def handleExpiredTimer(
            self, key, timerValues: TimerValues, expiredTimerInfo: ExpiredTimerInfo
        ):  # noqa: ANN001
            sess = self._sess.get()  # None when absent — one RPC, not two
            if sess is not None:
                start, last, n = (int(x) for x in sess)
                # The re-arm in handleInputRows deletes prev_last +
                # gap_ms without listing timers, so the one pending
                # timer must sit at last + gap_ms. A raise, not an
                # assert: ``python -O`` keeps the check.
                due = expiredTimerInfo.getExpiryTimeInMs()
                if due != last + gap_ms:
                    raise RuntimeError(
                        f"session timer for key {key[0]!r} fired at {due},"
                        f" not at last_ms + gap_ms = {last + gap_ms}"
                    )
                self._sess.clear()
                yield pd.DataFrame(
                    [(key[0], start, last, n, "timer")],
                    columns=[
                        "user_id", "session_start_ms", "session_end_ms",
                        "n_events", "via",
                    ],
                )

        def close(self) -> None:
            pass

    return (
        events.withWatermark("ts", watermark)
        # Project ts AWAY once the millis are extracted: every column
        # crossing into the TWS Python worker is converted per row, and
        # the raw timestamp column was the most expensive of the three
        # (pandas tz-aware conversion) while the handler only reads
        # ts_ms. The watermark is plan-level metadata tracked upstream
        # of this projection, so timer semantics are unchanged —
        # verified result-identical at sf1 (951,630 rows). ~10-15%
        # off the batch-0 wall (guide §4: pass only the columns the
        # function needs).
        .select("user_id", F.unix_millis("ts").alias("ts_ms"))
        .groupBy("user_id")
        .transformWithStateInPandas(
            SessionEvict(),
            outputStructType=SESSION_EVICT_SCHEMA,
            outputMode="Append",
            timeMode="EventTime",
        )
    )


ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)


def ship_vendored_protobuf(spark) -> None:  # noqa: ANN001
    """Make ``google.protobuf`` importable on executors when the
    runtime in use is this repo's vendored minimal one.

    transformWithStateInPandas WORKERS import the protobuf-generated
    state protocol; shipping the package via ``addPyFile`` removes the
    dependency on the JVM's working directory happening to be the repo
    root. A real installed protobuf (version without our marker) is
    assumed to exist on executors too — nothing is shipped then.
    """
    try:
        import google.protobuf as gp
    except ImportError:
        return
    if "mock-map-reduce-spark-min" not in getattr(gp, "__version__", ""):
        return
    import hashlib
    import os
    import tempfile
    import zipfile

    root = os.path.dirname(
        os.path.dirname(os.path.dirname(os.path.abspath(gp.__file__)))
    )
    pkg = os.path.join(root, "google")
    srcs = sorted(
        os.path.join(dp, fn)
        for dp, _dirs, files in os.walk(pkg)
        for fn in files
        if fn.endswith(".py")
    )
    # Content-hash the zip name so an edited runtime is re-shipped
    # instead of a stale cached zip being reused (code-review finding).
    digest = hashlib.md5()
    for f in srcs:
        digest.update(f.encode())
        digest.update(open(f, "rb").read())
    # The transformWithState DRIVER-side runner (StreamingPythonRunner)
    # builds its PYTHONPATH from the UDF's captured env, not from
    # pyFiles — inject the package root there so the spawned process
    # can import the runtime regardless of the JVM's cwd. Task workers
    # additionally get the zip below via the normal pyFiles channel.
    env = spark.sparkContext.environment
    existing = env.get("PYTHONPATH", "")
    if root not in existing.split(os.pathsep):
        env["PYTHONPATH"] = (
            root + (os.pathsep + existing if existing else "")
        )
    dst = os.path.join(
        tempfile.gettempdir(),
        f"mmr_vendored_protobuf_{os.getuid()}_{digest.hexdigest()[:12]}.zip",
    )
    if not os.path.exists(dst):
        tmp = dst + f".{os.getpid()}.part"
        with zipfile.ZipFile(tmp, "w") as z:
            for full in srcs:
                z.write(full, os.path.relpath(full, root))
        os.replace(tmp, dst)
    spark.sparkContext.addPyFile(dst)
