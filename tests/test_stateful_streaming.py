"""applyInPandasWithState: custom stateful operator over a stream."""

from __future__ import annotations

from pyspark.sql import functions as F

from mock_map_reduce_spark.sources import load_table
from mock_map_reduce_spark.streaming import read_events_stream
from mock_map_reduce_spark.streaming.stateful import running_totals_per_user


def test_running_totals_match_batch(spark, sf_dir):
    stream = running_totals_per_user(read_events_stream(spark, sf_dir))
    q = (
        stream.writeStream.outputMode("update")
        .format("memory")
        .queryName("stateful_out")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    # single micro-batch -> one snapshot per user == the batch aggregate
    got = {
        r.user_id: (r.n_events, r.total_value)
        for r in spark.sql("SELECT * FROM stateful_out").collect()
    }
    batch = {
        r.user_id: (r.n, r.t)
        for r in load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum(F.col("value").cast("decimal(18,2)")).cast("double"), 2).alias("t"),
        )
        .collect()
    }
    assert set(got) == set(batch)
    mismatches = {u: (got[u], batch[u]) for u in got if got[u][0] != batch[u][0]}
    assert not mismatches
    # float accumulation in pandas vs decimal in batch: totals agree to cents
    assert all(abs(got[u][1] - batch[u][1]) < 0.02 for u in got)


def test_distinct_types_transform_with_state(spark, sf_dir):
    """transformWithStateInPandas (Spark 4 typed-state API): running
    per-user distinct-type counts equal the batch DISTINCT aggregate.
    Requires google.protobuf (the API's JVM<->Python state protocol)."""
    import pytest

    try:
        from google.protobuf import descriptor  # noqa: F401
    except ImportError:
        pytest.skip("google.protobuf not available: transformWithState protocol needs it")
    from mock_map_reduce_spark.streaming.stateful import distinct_types_per_user

    # transformWithState keeps one column family per state variable;
    # the default HDFSBackedStateStoreProvider can't, so the query
    # needs the RocksDB provider (bundled with Spark 4).
    provider_key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(provider_key, None)
    spark.conf.set(
        provider_key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    stream = distinct_types_per_user(read_events_stream(spark, sf_dir))
    q = (
        stream.writeStream.outputMode("update")
        .format("memory")
        .queryName("tws_out")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        if prev is None:
            spark.conf.unset(provider_key)
        else:
            spark.conf.set(provider_key, prev)
    got = {
        r.user_id: (r.n_types, r.n_events)
        for r in spark.sql("SELECT * FROM tws_out").collect()
    }
    batch = {
        r.user_id: (r.nt, r.n)
        for r in load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.countDistinct("event_type").alias("nt"), F.count("*").alias("n"))
        .collect()
    }
    assert got == batch


def test_scd2_stream_matches_batch_build(spark, sf_dir):
    """Streaming SCD2 (single-batch replay): closed + open intervals
    equal the batch scd2_intervals build exactly."""
    from mock_map_reduce_spark.operators.timeseries import scd2_intervals
    from mock_map_reduce_spark.streaming.stateful import scd2_stream_per_user

    stream = scd2_stream_per_user(read_events_stream(spark, sf_dir))
    q = (
        stream.writeStream.outputMode("update")
        .format("memory")
        .queryName("scd2_out")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        (r.user_id, r.valid_from_us): (r.state, r.valid_to_us, r.is_current)
        for r in spark.sql("SELECT * FROM scd2_out").collect()
    }
    batch = {
        (r.user_id, r.valid_from_us): (r.state, r.valid_to_us, r.is_current)
        for r in scd2_intervals(load_table(spark, sf_dir, "events")).collect()
    }
    assert got == batch


def test_ewma_stream_matches_batch_fold(spark, sf_dir):
    """Streaming EWMA (single-batch replay) equals the batch
    applyInPandas fold exactly."""
    from mock_map_reduce_spark.operators.timeseries import ewma
    from mock_map_reduce_spark.streaming.stateful import ewma_stream_per_user

    stream = ewma_stream_per_user(read_events_stream(spark, sf_dir))
    q = (
        stream.writeStream.outputMode("update")
        .format("memory")
        .queryName("ewma_out")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {r.event_id: r.ewma for r in spark.sql("SELECT * FROM ewma_out").collect()}
    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    batch = {r.event_id: r.ewma for r in ewma(ev, "value", alpha=0.2).collect()}
    assert got == batch


def test_type_counts_mapstate(spark, sf_dir):
    """transformWithStateInPandas MAP state: per-user type histogram
    equals the batch two-key COUNT aggregate (exercises updateValue /
    containsKey / getValue / iterator over the protobuf channel)."""
    import pytest

    try:
        from google.protobuf import descriptor  # noqa: F401
    except ImportError:
        pytest.skip("google.protobuf not available")
    from mock_map_reduce_spark.streaming.stateful import (
        ROCKSDB_PROVIDER,
        type_counts_per_user,
    )

    key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(key, None)
    spark.conf.set(key, ROCKSDB_PROVIDER)
    stream = type_counts_per_user(read_events_stream(spark, sf_dir))
    q = (
        stream.writeStream.outputMode("update")
        .format("memory")
        .queryName("tws_map_out")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)
    got = {
        (r.user_id, r.event_type): r.n
        for r in spark.sql("SELECT * FROM tws_map_out").collect()
    }
    batch = {
        (r.user_id, r.event_type): r.n
        for r in load_table(spark, sf_dir, "events")
        .groupBy("user_id", "event_type")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert got == batch


def test_session_timeout_evictions_timer_semantics(spark, sf_dir):
    """transformWithStateInPandas TIMERS: the last open session of a
    user is emitted via='timer' iff its deadline (last event + gap)
    is at or before the final watermark; sessions broken by in-input
    silence carry via='input'. Pins the register/expire/delete timer
    path and its event-time (replay-deterministic) firing rule."""
    import pytest

    try:
        from google.protobuf import descriptor  # noqa: F401
    except ImportError:
        pytest.skip("google.protobuf not available")
    from mock_map_reduce_spark.streaming.stateful import (
        ROCKSDB_PROVIDER,
        session_timeout_evictions,
    )

    key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(key, None)
    spark.conf.set(key, ROCKSDB_PROVIDER)
    stream = session_timeout_evictions(read_events_stream(spark, sf_dir))
    q = (
        stream.writeStream.outputMode("append")
        .format("memory")
        .queryName("tws_timer_out")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)
    rows = spark.sql("SELECT * FROM tws_timer_out").collect()
    assert rows, "expected at least one session emission"

    gap_ms, wm_delay_ms = 30 * 60 * 1000, 2 * 60 * 60 * 1000
    ev = (
        load_table(spark, sf_dir, "events")
        .select("user_id", F.unix_millis("ts").alias("ms"))
        .collect()
    )
    final_wm = max(r.ms for r in ev) - wm_delay_ms
    # rebuild expected sessions per user
    by_user: dict[int, list[int]] = {}
    for r in ev:
        by_user.setdefault(r.user_id, []).append(r.ms)
    expected = set()
    for u, ts in by_user.items():
        ts.sort()
        sessions, start, last, n = [], ts[0], ts[0], 1
        for t in ts[1:]:
            if t - last > gap_ms:
                sessions.append((start, last, n))
                start, last, n = t, t, 1
            else:
                last, n = t, n + 1
        for s in sessions:  # all but the final session: closed by input
            expected.add((u, *s, "input"))
        if last + gap_ms <= final_wm:  # final session: timer eviction
            expected.add((u, start, last, n, "timer"))
    got = {
        (r.user_id, r.session_start_ms, r.session_end_ms, r.n_events, r.via)
        for r in rows
    }
    assert got == expected
    assert any(v == "timer" for *_, v in got), "no timer ever fired"
    # at least one user must still be inside the horizon (timer pending)
    assert len({u for u, *_ in got if _[-1] == "timer"}) < len(by_user)


def test_session_timer_deadline_invariant_is_checked(spark):
    """handleExpiredTimer checks the invariant the re-arm relies on:
    the one pending timer sits at the stored last_ms + gap_ms. A timer
    firing anywhere else raises (a raise, so ``python -O`` keeps it);
    the right one emits the session and clears the state. The processor
    is driven with fake state handles; the session only builds the
    plan's column expressions."""
    import pytest
    from pyspark.sql.streaming.stateful_processor import ExpiredTimerInfo

    from mock_map_reduce_spark.streaming.stateful import session_timeout_evictions

    class Plan:  # stands in for the streaming DataFrame chain
        def __getattr__(self, name):
            return lambda *a, **kw: self

        def transformWithStateInPandas(self, processor, **kw):  # noqa: N802
            self.processor = processor
            return self

    class Value:
        def __init__(self, v):
            self.v = v

        def get(self):
            return self.v

        def clear(self):
            self.v = None

    class Handle:
        def __init__(self):
            self.state = Value((1_000, 5_000, 3))

        def getValueState(self, name, schema):  # noqa: N802
            return self.state

    gap_ms = 60_000
    proc = session_timeout_evictions(Plan(), gap_ms=gap_ms).processor
    handle = Handle()
    proc.init(handle)
    with pytest.raises(RuntimeError, match="last_ms \\+ gap_ms"):
        list(proc.handleExpiredTimer((7,), None, ExpiredTimerInfo(5_000 + gap_ms + 1)))
    assert handle.state.get() == (1_000, 5_000, 3)
    (out,) = proc.handleExpiredTimer((7,), None, ExpiredTimerInfo(5_000 + gap_ms))
    assert out.values.tolist() == [[7, 1_000, 5_000, 3, "timer"]]
    assert handle.state.get() is None
