"""Streaming catalog entries — Structured Streaming runs driven to
completion through a memory sink, THEN compared against the same
batch oracle as their batch twins.

This makes the streaming engine itself oracle-checked: the watermarked
stream over the events parquet must produce exactly the rows DuckDB
computes for the batch query. (The driver executes queries
sequentially; each entry uses its own memory-sink name.)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from mock_map_reduce_spark.catalog.stats import KMV_DISTINCT_ORACLE
from mock_map_reduce_spark.operators.timeseries import TS_FMT
from mock_map_reduce_spark.sources import load_table
from mock_map_reduce_spark.registry import query
from mock_map_reduce_spark.streaming import (
    minute_partials_stream,
    read_events_stream,
    run_to_memory,
    session_stream,
    tumbling_stream,
)

_E = "e AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS t, event_type, value FROM events)"
_FMT = "%Y-%m-%d %H:%M:%S"


@query(
    "streaming_tumbling_counts",
    oracle=f"""
WITH {_E}
SELECT strftime(time_bucket(INTERVAL 1 HOUR, t), '{_FMT}') AS window_start,
       event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM e GROUP BY 1, 2
""",
)
def q_streaming_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked tumbling windows, streamed to completion, vs batch oracle."""
    stream = tumbling_stream(read_events_stream(spark, sf_dir), "1 hour")
    run_to_memory(stream, "drv_stream_tumbling")
    return spark.table("drv_stream_tumbling").select(
        F.date_format("window_start", TS_FMT).alias("window_start"),
        "event_type",
        "n_events",
        "total_value",
    )


@query(
    "streaming_distinct_types_stateful",
    oracle=f"""
WITH {_E}
SELECT user_id,
       CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_types,
       COUNT(*) AS n_events
FROM e GROUP BY 1
""",
)
def q_streaming_distinct_types_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """applyInPandasWithState driven to completion: running per-user
    distinct-type counts from an (array of seen types, tally) state
    per user, vs the batch DISTINCT aggregate.

    Scale: state per key is O(distinct types), bounded; an event-time
    timeout is the knob that expires idle keys at unbounded ingest
    (unused here: finite replay)."""
    from mock_map_reduce_spark.streaming.stateful import distinct_types_per_user

    stream = distinct_types_per_user(read_events_stream(spark, sf_dir))
    run_to_memory(stream, "drv_stream_distinct_types", mode="update")
    return spark.table("drv_stream_distinct_types")


@query(
    "streaming_type_counts_mapstate",
    oracle=f"""
WITH {_E}
SELECT user_id, event_type, COUNT(*) AS n
FROM e GROUP BY 1, 2
""",
)
def q_streaming_type_counts_mapstate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """applyInPandasWithState with a MAP-typed state driven to
    completion: per-user event-type histogram from a
    map<event_type, count> state, re-emitted in full every batch, vs
    the batch two-key COUNT aggregate."""
    from mock_map_reduce_spark.streaming.stateful import type_counts_per_user

    stream = type_counts_per_user(read_events_stream(spark, sf_dir))
    run_to_memory(stream, "drv_stream_type_counts", mode="update")
    return spark.table("drv_stream_type_counts")


@query(
    "streaming_session_timeout_evictions",
    oracle=f"""
WITH {_E},
ems AS (SELECT user_id, epoch_ms(t) AS ms, event_id FROM e),
wm AS (SELECT MAX(ms) - 7200000 AS w FROM ems),
s AS (
  SELECT user_id, ms,
         CASE WHEN ms - LAG(ms) OVER (PARTITION BY user_id ORDER BY ms, event_id)
                   > 1800000 THEN 1 ELSE 0 END AS brk
  FROM ems
),
g AS (
  SELECT user_id, ms,
         SUM(brk) OVER (PARTITION BY user_id ORDER BY ms
                        ROWS UNBOUNDED PRECEDING) AS sid
  FROM s
),
sess AS (
  SELECT user_id, sid, MIN(ms) AS session_start_ms, MAX(ms) AS session_end_ms,
         COUNT(*) AS n_events
  FROM g GROUP BY 1, 2
),
mx AS (SELECT user_id, MAX(sid) AS msid FROM sess GROUP BY 1)
SELECT s.user_id, session_start_ms, session_end_ms, n_events,
       CASE WHEN sid < msid THEN 'input' ELSE 'timer' END AS via
FROM sess s JOIN mx USING (user_id)
WHERE sid < msid OR session_end_ms + 1800000 <= (SELECT w FROM wm)
""",
)
def q_streaming_session_timeout_evictions(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Event-time TIMEOUTS in the hash gate: per-user session
    tracking where idle sessions are EVICTED when the watermark passes
    their deadline (applyInPandasWithState with
    ``GroupStateTimeout.EventTimeTimeout``) — the state-expiry surface
    that keeps the store bounded at unbounded ingest. Sessions closed
    by a >30 min silence inside the input carry via='input'; the last
    open session of a user is emitted with via='timer' iff its
    deadline (last event + 30 min) is at or before the final watermark
    (max event time - 2 h) — users still inside the horizon keep their
    timeout pending and emit nothing. The oracle replays exactly that:
    gap-sessionize in SQL, tag all non-final sessions 'input', and
    keep a final session only when its deadline cleared the watermark.
    Timeouts fire on WATERMARK, not wall clock, so the replay is
    deterministic (see
    streaming/stateful.py:session_timeout_evictions)."""
    from mock_map_reduce_spark.streaming.stateful import session_timeout_evictions

    stream = session_timeout_evictions(read_events_stream(spark, sf_dir))
    run_to_memory(stream, "drv_stream_session_timeouts", mode="append")
    return spark.table("drv_stream_session_timeouts")


@query(
    "streaming_session_counts",
    oracle=f"""
WITH {_E},
l AS (
  SELECT user_id, event_id, t,
         lag(epoch_us(t)) OVER (PARTITION BY user_id ORDER BY t, event_id) AS prev_us
  FROM e
),
f AS (
  SELECT user_id, event_id, t,
         CASE WHEN prev_us IS NULL OR (epoch_us(t) - prev_us) > 1800000000 THEN 1 ELSE 0 END AS new_s
  FROM l
),
s AS (
  SELECT user_id, t,
         SUM(new_s) OVER (PARTITION BY user_id ORDER BY t, event_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
  FROM f
)
SELECT user_id, strftime(min(t), '{_FMT}') AS session_start, COUNT(*) AS n_events
FROM s GROUP BY user_id, session_id
""",
)
def q_streaming_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native session_window stream vs the batch gap-sessionizer oracle.

    session_window's gap-merge grouping is semantically identical to
    the lag+cumsum batch formulation for complete (non-late) input.
    """
    stream = session_stream(read_events_stream(spark, sf_dir), gap="30 minutes")
    run_to_memory(stream, "drv_stream_sessions")
    return spark.table("drv_stream_sessions").select(
        "user_id",
        F.date_format("session_start", TS_FMT).alias("session_start"),
        "n_events",
    )


@query(
    "streaming_dedup",
    oracle="SELECT DISTINCT user_id, event_type FROM events",
)
def q_streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup (dropDuplicates state store) vs batch DISTINCT.

    The in-flight "have I processed this before" primitive: state holds
    one entry per key inside the watermark horizon and expires beyond
    it. Keys only in the output, so first-arrival nondeterminism in the
    non-key columns can't leak into the compare.
    """
    from mock_map_reduce_spark.streaming import dedup_stream

    stream = dedup_stream(
        read_events_stream(spark, sf_dir), keys=("user_id", "event_type")
    ).select("user_id", "event_type")
    run_to_memory(stream, "drv_stream_dedup", mode="append")
    return spark.table("drv_stream_dedup")


@query(
    "streaming_interval_join",
    oracle=f"""
WITH {_E},
c AS (SELECT user_id, event_id AS l_id, t AS l_ts FROM e WHERE event_type = 'click'),
p AS (SELECT user_id, event_id AS r_id, t AS r_ts FROM e WHERE event_type = 'purchase')
SELECT c.user_id, l_id, r_id
FROM c JOIN p ON c.user_id = p.user_id
 AND r_ts > l_ts AND r_ts <= l_ts + INTERVAL 30 MINUTE
""",
)
def q_streaming_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join (click -> purchase within 30 min,
    same user) vs the batch interval self-join — watermarks on both
    sides bound the join state."""
    from mock_map_reduce_spark.streaming import interval_join_stream

    stream = interval_join_stream(read_events_stream(spark, sf_dir))
    run_to_memory(stream, "drv_stream_ivjoin", mode="append")
    return spark.table("drv_stream_ivjoin")


@query(
    "streaming_interval_join_outer",
    oracle=f"""
WITH {_E},
c AS (SELECT user_id, event_id AS l_id, t AS l_ts FROM e WHERE event_type = 'click'),
p AS (SELECT user_id, event_id AS r_id, t AS r_ts FROM e WHERE event_type = 'purchase'),
wm AS (
  SELECT LEAST((SELECT epoch_ms(MAX(l_ts)) FROM c),
               (SELECT epoch_ms(MAX(r_ts)) FROM p)) - 7200000 AS wms
),
j AS (
  SELECT c.user_id, l_id, r_id, l_ts
  FROM c LEFT JOIN p
    ON c.user_id = p.user_id
   AND r_ts > l_ts AND r_ts <= l_ts + INTERVAL 30 MINUTE
)
SELECT user_id, l_id, r_id FROM j
WHERE r_id IS NOT NULL
   OR epoch_us(l_ts) + 1800000000 < (SELECT wms FROM wm) * 1000
""",
)
def q_streaming_interval_join_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER interval join — the OUTER-emission /
    state-eviction semantics in the hash gate, next to the inner
    variant: matched (click, purchase) pairs stream out as they join;
    an unmatched click surfaces with NULL r_id only once the watermark
    proves no qualifying purchase can still arrive, the same moment
    its join state is dropped (what keeps outer stream-stream joins
    bounded at unbounded ingest). Clicks still inside the horizon are
    withheld entirely.

    The oracle replays Spark's actual emission rule, pinned by probe
    (tests/test_streaming_windows.py): the global watermark is the MIN
    over both watermarked streams of (that stream's max event time,
    ms-floored, minus the 2 h delay) — each side's watermark tracks
    its own post-filter maximum, NOT the source's — and a NULL row is
    emitted iff its match deadline (l_ts + 30 min) is STRICTLY before
    that watermark (contrast the timer entry above, where expiry fires
    at deadline <= watermark)."""
    from mock_map_reduce_spark.streaming import interval_join_outer_stream

    stream = interval_join_outer_stream(read_events_stream(spark, sf_dir))
    run_to_memory(stream, "drv_stream_ivjoin_outer", mode="append")
    return spark.table("drv_stream_ivjoin_outer")


@query(
    "streaming_rollup_minute_to_hour",
    oracle=f"""
WITH {_E}
SELECT strftime(time_bucket(INTERVAL 1 HOUR, t), '{_FMT}') AS window_start,
       event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
       CAST(MIN(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS min_value,
       CAST(MAX(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS max_value
FROM e GROUP BY 1, 2
""",
)
def q_streaming_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming->batch continuous-aggregate handoff, oracle-checked:
    the STREAM maintains per-minute mergeable partials (n, Σ, min,
    max) under a watermark; the landed partials then merge to hourly
    IN BATCH, and the result must equal the oracle's direct hourly
    aggregation of raw events. The production hypertable shape — the
    stream lands minute partials continuously; coarse queries read
    partials, never raw events (batch-only twin:
    timeseries_rollup_two_level)."""
    stream = minute_partials_stream(read_events_stream(spark, sf_dir))
    run_to_memory(stream, "drv_stream_rollup_partials")
    partials = spark.table("drv_stream_rollup_partials")
    return (
        partials.groupBy(
            F.window("window_start", "1 hour").alias("hw"), "event_type"
        )
        .agg(
            F.sum("n").alias("n_events"),
            F.sum("s").cast("double").alias("total_value"),
            F.min("mn").cast("double").alias("min_value"),
            F.max("mx").cast("double").alias("max_value"),
        )
        .select(
            F.date_format("hw.start", TS_FMT).alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
            "min_value",
            "max_value",
        )
    )


@query(
    "streaming_scd2",
    oracle=f"""
WITH {_E},
flagged AS (
  SELECT user_id, event_type, t, event_id,
         CASE WHEN LAG(event_type) OVER w IS DISTINCT FROM event_type THEN 1 ELSE 0 END AS chg
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)
),
changes AS (SELECT * FROM flagged WHERE chg = 1),
iv AS (
  SELECT user_id, event_type AS state, epoch_us(t) AS valid_from_us,
         LEAD(epoch_us(t)) OVER (PARTITION BY user_id ORDER BY t, event_id) AS valid_to_us
  FROM changes
)
SELECT user_id, state, valid_from_us,
       COALESCE(valid_to_us, -1) AS valid_to_us,
       CASE WHEN valid_to_us IS NULL THEN 1 ELSE 0 END AS is_current
FROM iv
""",
)
def q_streaming_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming SCD type-2 (applyInPandasWithState CDC-to-dimension
    build) driven to completion and checked against the SAME oracle as
    the batch scd2_user_state — closed intervals emit on state change,
    the open interval re-emits per snapshot (single-batch replay here,
    so exactly once). State per key is O(1); intervals append-only.
    """
    from mock_map_reduce_spark.streaming.stateful import scd2_stream_per_user

    stream = scd2_stream_per_user(read_events_stream(spark, sf_dir))
    run_to_memory(stream, "drv_stream_scd2", mode="update")
    return spark.table("drv_stream_scd2")


@query(
    "streaming_forward_fill",
    oracle=f"""
WITH {_E}
SELECT event_id, user_id, epoch_us(t) AS ts_us,
       LAST_VALUE(CASE WHEN event_type = 'purchase' THEN value END IGNORE NULLS)
         OVER (PARTITION BY user_id ORDER BY t, event_id ROWS UNBOUNDED PRECEDING)
         AS last_purchase_value
FROM e
""",
)
def q_streaming_forward_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming LOCF (stateful per-user last-purchase carry) driven to
    completion against the SAME oracle as the batch
    timeseries_forward_fill — one double of state per key."""
    from mock_map_reduce_spark.streaming.stateful import forward_fill_stream_per_user

    stream = forward_fill_stream_per_user(read_events_stream(spark, sf_dir))
    run_to_memory(stream, "drv_stream_locf", mode="update")
    return spark.table("drv_stream_locf")


@query(
    "streaming_ewma",
    oracle="""
WITH RECURSIVE o AS (
  SELECT event_id, user_id, value,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id) AS rn
  FROM events WHERE value IS NOT NULL
),
s AS (
  SELECT event_id, user_id, rn, value AS ewma FROM o WHERE rn = 1
  UNION ALL
  SELECT o.event_id, o.user_id, o.rn, 0.2 * o.value + 0.8 * s.ewma
  FROM o JOIN s ON o.user_id = s.user_id AND o.rn = s.rn + 1
)
SELECT event_id, user_id, ROUND(ewma, 6) AS ewma FROM s
""",
)
def q_streaming_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming EWMA (stateful per-user smoothing, one double of
    state) driven to completion against the SAME recursive-CTE oracle
    as the batch events_ewma — the clamped-fold class running on the
    streaming engine."""
    from mock_map_reduce_spark.streaming.stateful import ewma_stream_per_user

    stream = ewma_stream_per_user(read_events_stream(spark, sf_dir))
    run_to_memory(stream, "drv_stream_ewma", mode="update")
    return spark.table("drv_stream_ewma").select(
        "event_id", "user_id", F.round("ewma", 6).alias("ewma")
    )


@query(
    "streaming_cdc_upsert",
    oracle=f"""
WITH {_E},
r AS (
  SELECT user_id, t, event_id, event_type, value,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY t DESC, event_id DESC) AS rn
  FROM e
)
SELECT user_id, strftime(t, '{_FMT}') AS last_ts, event_id AS last_event_id, value
FROM r WHERE rn = 1 AND event_type <> 'error'
""",
)
def q_streaming_cdc_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC apply (foreachBatch copy-on-write upsert with
    tombstones, streaming/windows.cdc_upsert_stream_to_snapshot): the
    maintained snapshot's live rows must equal the batch latest-
    event-per-user state with 'error'-typed last events deleted —
    i.e. the stream-maintained table IS the batch query's answer."""
    from mock_map_reduce_spark.functions.scratch import scratch_dir
    from mock_map_reduce_spark.streaming import cdc_upsert_stream_to_snapshot

    workdir = scratch_dir("cdc_upsert")
    snap = cdc_upsert_stream_to_snapshot(
        read_events_stream(spark, sf_dir), workdir=workdir
    )
    return snap.filter(F.col("op") != "D").select(
        "user_id",
        F.date_format("ts", TS_FMT).alias("last_ts"),
        F.col("event_id").alias("last_event_id"),
        "value",
    )


@query(
    "streaming_static_enrich",
    oracle=f"""
WITH {_E},
dim AS (SELECT c_custkey, c_nationkey FROM customer),
j AS (
  SELECT e.user_id, d.c_nationkey AS nationkey, e.value
  FROM e JOIN dim d ON e.user_id = d.c_custkey
)
SELECT nationkey, COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM j GROUP BY 1
""",
)
def q_streaming_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join: the unbounded event stream enriches against
    a STATIC dimension (customer → nation), then aggregates per
    nation — the canonical streaming-ETL enrichment shape. The static
    side needs no watermark and no join state: Spark re-plans it per
    micro-batch as an ordinary broadcast join, so dimension updates
    between batches are picked up for free and the stream side never
    shuffles for the join (state exists only for the downstream agg).
    """
    from mock_map_reduce_spark.sources import load_table

    events = read_events_stream(spark, sf_dir)
    dim = F.broadcast(
        load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    )
    enriched = events.join(dim, events.user_id == dim.c_custkey).select(
        dim.c_nationkey.alias("nationkey"), "value"
    )
    agg = enriched.groupBy("nationkey").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total_value"),
    )
    run_to_memory(agg, "drv_stream_static_enrich")
    return spark.table("drv_stream_static_enrich")


@query(
    "streaming_approx_distinct_users",
    oracle=f"""
WITH {_E}
SELECT strftime(time_bucket(INTERVAL 1 HOUR, t), '{_FMT}') AS window_start,
       COUNT(DISTINCT user_id) AS n_exact,
       true AS within_bound
FROM e GROUP BY 1
""",
)
def q_streaming_approx_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct users per hour on the STREAM — which forces the HLL
    sketch: COUNT(DISTINCT) is unsupported in streaming aggregation
    (it would need unbounded per-window sets), so
    approx_count_distinct IS streaming's distinct-count surface.
    Accuracy-gate design (same as approx_distinct): the landed
    per-window sketch estimates are bound-checked against the exact
    batch counts — |approx − exact| ≤ max(5, 25%·exact) per window —
    and the exact counts themselves hash-match DuckDB, so a sketch
    regression flips within_bound and fails the gate."""
    events = read_events_stream(spark, sf_dir)
    agg = (
        events.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.approx_count_distinct("user_id").alias("approx_users"))
        .select(F.col("w.start").alias("ws"), "approx_users")
    )
    run_to_memory(agg, "drv_stream_approx_distinct")
    landed = spark.table("drv_stream_approx_distinct")
    exact = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.countDistinct("user_id").alias("n_exact"))
        .select(F.col("w.start").alias("ws"), "n_exact")
    )
    return exact.join(landed, "ws").select(
        F.date_format("ws", TS_FMT).alias("window_start"),
        "n_exact",
        (
            F.abs(F.col("approx_users") - F.col("n_exact"))
            <= F.greatest(F.lit(5.0), F.lit(0.25) * F.col("n_exact"))
        ).alias("within_bound"),
    )


@query(
    "streaming_kmv_distinct",
    oracle=KMV_DISTINCT_ORACLE,
)
def q_streaming_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV distinct sketch built on the STREAM — and, unlike the HLL
    twin's tolerance band, EXACTLY equal to the batch sketch: each
    micro-batch folds to per-type K-smallest distinct-hash lists
    (bounded partials, K longs each) appended via foreachBatch; the
    post-drain merge dedups and re-takes K smallest. K-smallest-of-
    union is associative and duplicate-insensitive, so ANY batch
    slicing lands the identical sketch — this query shares
    sketch_kmv_distinct's oracle verbatim and passes the same
    bit-exact hash gate. The mergeable-summary algebra, proven across
    the batch/stream boundary.

    Scale: per-batch state is K longs per (type, batch); the merge
    reads only sketch rows. At real ingest the partials would append
    to a compacted state table keyed by type.
    """
    import os

    from mock_map_reduce_spark.catalog.stats import _KMV_K
    from mock_map_reduce_spark.functions.scratch import scratch_dir
    from mock_map_reduce_spark.streaming import read_events_stream

    events = read_events_stream(spark, sf_dir)
    h = F.conv(
        F.substring(F.md5(F.col("user_id").cast("string")), 1, 15), 16, 10
    ).cast("long")
    feed = events.select("event_type", h.alias("h"))
    workdir = scratch_dir("kmv_stream")
    outdir = os.path.join(workdir, "partials")

    def apply_batch(batch: DataFrame, epoch_id: int) -> None:
        (
            batch.distinct()
            .groupBy("event_type")
            .agg(F.slice(F.sort_array(F.collect_list("h")), 1, _KMV_K).alias("hs"))
            .write.mode("append")
            .parquet(outdir)
        )

    q = (
        feed.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", os.path.join(workdir, "checkpoint"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    merged = (
        spark.read.parquet(outdir)
        .groupBy("event_type")
        .agg(
            F.slice(
                F.array_sort(F.array_distinct(F.flatten(F.collect_list("hs")))),
                1,
                _KMV_K,
            ).alias("hs")
        )
    )
    from mock_map_reduce_spark.catalog.stats import _KMV_BOUND, _KMV_M

    exact = (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("exact_distinct"))
    )
    est = F.when(F.size("hs") < _KMV_K, F.size("hs").cast("double")).otherwise(
        F.lit(float(_KMV_K - 1))
        * F.lit(float(_KMV_M))
        / F.element_at("hs", _KMV_K).cast("double")
    )
    return (
        merged.join(exact, "event_type")
        .select(
            "event_type",
            F.size("hs").cast("long").alias("n_kept"),
            est.alias("est_distinct"),
            F.col("exact_distinct").cast("long").alias("exact_distinct"),
        )
        .withColumn(
            "within_bound",
            F.abs(
                F.col("est_distinct") / F.col("exact_distinct").cast("double")
                - F.lit(1.0)
            )
            <= F.lit(_KMV_BOUND),
        )
    )


@query(
    "streaming_rate_source_agg",
    oracle="""
SELECT range % 10 AS bucket,
       COUNT(*) AS n_rows,
       CAST(SUM(range) AS BIGINT) AS sum_value,
       CAST(MAX(range // 500) AS BIGINT) AS max_batch_offset
FROM range(5000) GROUP BY 1
""",
)
def q_streaming_rate_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unbounded message-bus-style source (rate-micro-batch), drained
    to a target offset, then aggregated — the Kafka-shaped ingest path
    with a broker-free deterministic source (see streaming/rate_source
    module docstring; swapping in Kafka changes only the reader).

    The source clock is part of the check: max_batch_offset is derived
    from the EVENT TIMESTAMPS the source stamped (seconds since the
    configured startTimestamp, timezone-free epoch math), and must
    equal value // rowsPerBatch — i.e. every row landed in the batch,
    and with the batch clock, that the source contract promises.
    sf_dir is unused: the source generates its rows."""
    from mock_map_reduce_spark.streaming.rate_source import (
        rate_micro_batch_stream,
        run_until_count,
    )

    target = 5000
    stream = rate_micro_batch_stream(spark, rows_per_batch=500).filter(
        F.col("value") < target
    )
    run_until_count(stream, "drv_stream_rate", target_rows=target)
    rows = spark.table("drv_stream_rate")
    return rows.groupBy((F.col("value") % 10).alias("bucket")).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("value").alias("sum_value"),
        F.max(F.unix_timestamp("timestamp") - F.lit(1_704_067_200)).alias(
            "max_batch_offset"
        ),
    )
