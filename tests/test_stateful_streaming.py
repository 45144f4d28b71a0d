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
    """Running per-user distinct-type counts (array + tally state)
    equal the batch DISTINCT aggregate."""
    from mock_map_reduce_spark.streaming.stateful import distinct_types_per_user

    stream = distinct_types_per_user(read_events_stream(spark, sf_dir))
    q = (
        stream.writeStream.outputMode("update")
        .format("memory")
        .queryName("distinct_types_out")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        r.user_id: (r.n_types, r.n_events)
        for r in spark.sql("SELECT * FROM distinct_types_out").collect()
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
    """Per-user type histogram from a map-typed state equals the batch
    two-key COUNT aggregate."""
    from mock_map_reduce_spark.streaming.stateful import type_counts_per_user

    stream = type_counts_per_user(read_events_stream(spark, sf_dir))
    q = (
        stream.writeStream.outputMode("update")
        .format("memory")
        .queryName("type_counts_out")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        (r.user_id, r.event_type): r.n
        for r in spark.sql("SELECT * FROM type_counts_out").collect()
    }
    batch = {
        (r.user_id, r.event_type): r.n
        for r in load_table(spark, sf_dir, "events")
        .groupBy("user_id", "event_type")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert got == batch


def _run_session_evictions(spark, sf_dir, name):
    from mock_map_reduce_spark.streaming.stateful import session_timeout_evictions

    stream = session_timeout_evictions(read_events_stream(spark, sf_dir))
    q = stream.writeStream.outputMode("append").format("memory").queryName(name).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.sql(f"SELECT * FROM {name}").collect()


def test_session_timeout_evictions_timer_semantics(spark, sf_dir):
    """Event-time TIMEOUTS: the last open session of a user is emitted
    via='timer' iff its deadline (last event + gap) is at or before
    the final watermark; sessions broken by in-input silence carry
    via='input'. Pins the timeout path and its event-time
    (replay-deterministic) firing rule."""
    rows = _run_session_evictions(spark, sf_dir, "session_timeouts_out")
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


def test_session_timeout_fires_at_but_not_after_the_watermark(spark, tmp_path):
    """The timeout boundary: a session whose deadline (last event +
    gap) is 1 ms before or exactly AT the final watermark is evicted
    via='timer'; 1 ms after it stays pending. The oracle's rule is
    deadline <= watermark, while Spark times a key out only when its
    timeout is strictly below the watermark. Users 1-3 each have one
    event; user 4's event sets the max event time, and with it the
    final watermark (max - 2 h)."""
    from datetime import datetime, timezone

    import pyarrow as pa
    import pyarrow.parquet as pq

    gap_ms, wm_delay_ms = 30 * 60 * 1000, 2 * 60 * 60 * 1000
    t_max = int(datetime(2024, 1, 2, tzinfo=timezone.utc).timestamp() * 1000)
    final_wm = t_max - wm_delay_ms
    last_ms = {1: final_wm - gap_ms - 1, 2: final_wm - gap_ms, 3: final_wm - gap_ms + 1, 4: t_max}
    users = sorted(last_ms)
    table = pa.table(
        {
            "event_id": pa.array(users, pa.int64()),
            "ts": pa.array([last_ms[u] * 1000 for u in users], pa.timestamp("us")),
            "user_id": pa.array(users, pa.int64()),
            "event_type": pa.array(["view"] * len(users)),
            "value": pa.array([1.0] * len(users)),
            "props": pa.array(["{}"] * len(users)),
        }
    )
    pq.write_table(table, tmp_path / "events.parquet")

    rows = _run_session_evictions(spark, str(tmp_path), "session_boundary_out")
    got = {
        (r.user_id, r.session_start_ms, r.session_end_ms, r.n_events, r.via)
        for r in rows
    }
    assert got == {(u, last_ms[u], last_ms[u], 1, "timer") for u in (1, 2)}
