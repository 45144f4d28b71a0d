"""Structured Streaming operators — the streaming twins of
operators/timeseries.py (SURVEY §7 M4).

The reference is strictly batch (SURVEY §2.2: no streaming surface);
these operators extend the engine with watermark-bounded windowed
aggregation and session windows over an event stream.

State & scale: watermarks bound the state store — an unbounded
groupBy over event-time would otherwise accumulate state forever at
100 TB/day ingest. Tumbling/sliding state per key x window expires
``delay`` after the window closes; session state closes ``gap`` after
the last event. The parquet file source is used for deterministic
local tests (one file = one micro-batch replay); swap ``readStream
.format("kafka")`` in production — the plan below the source is
unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

# Explicit schema: a streaming source cannot infer. The ts wire type
# depends on how the generator wrote the file (TIMESTAMP(NANOS) reads
# as long under nanosAsLong; timestamp[us] isAdjustedToUTC=false reads
# as TIMESTAMP_NTZ), so the schema is chosen per-file by probing the
# footer with a batch read — see read_events_stream.
_EVENTS_SCHEMA_FMT = (
    "event_id long, ts {ts_type}, user_id long, event_type string, "
    "value double, props string"
)

# The long-typed variant, for callers streaming raw nanosecond-long
# files they wrote themselves (tests do; they convert ts explicitly).
EVENTS_SCHEMA = _EVENTS_SCHEMA_FMT.format(ts_type="long")


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.tables import _table_schema, ensure_session_confs, utc_ts

    # Even with an explicit schema, the parquet stream source rejects
    # TIMESTAMP(NANOS) columns on a vanilla session; set the runtime
    # confs here so a driver-built session works too.
    ensure_session_confs(spark)
    # Probe the footer (via the cached table-schema lookup) so the
    # stream schema matches the file's actual ts encoding; declaring
    # `long` against a micros file would silently reinterpret
    # microseconds as nanoseconds and collapse every event into 1970.
    path = f"{sf_dir}/events.parquet"
    sch = _table_schema(spark, path)
    if sch is None:
        sch = spark.read.parquet(path).schema
    probed = sch["ts"].dataType.simpleString()
    # The file stream source requires a directory basePath; select the
    # events file out of the shared sf_dir with a glob filter.
    raw = (
        spark.readStream.schema(_EVENTS_SCHEMA_FMT.format(ts_type=probed))
        .format("parquet")
        .option("pathGlobFilter", "events.parquet")
        .load(sf_dir)
    )
    return utc_ts(raw)


def tumbling_stream(
    events: DataFrame, window: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """Watermarked tumbling counts per event_type.

    Late events beyond the watermark are dropped; state for a window
    is freed once watermark passes window end.
    """
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def sliding_stream(
    events: DataFrame,
    window: str = "1 hour",
    slide: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window, slide).alias("w"))
        .agg(F.count("*").alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "n_events")
    )


def session_stream(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours"
) -> DataFrame:
    """Native session windows (gap-merged) per user with watermark."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("w.start").alias("session_start"),
            "user_id",
            "n_events",
        )
    )


def run_to_memory(stream_df: DataFrame, name: str, mode: str = "complete") -> None:
    """Drive a streaming query over all available input synchronously.

    Memory sink; deterministic full result for tests. mode="append"
    for stateful operators (dropDuplicates) that forbid complete mode.

    Shuffle partitions are pinned to the core count for the run:
    streaming state stores are one per shuffle partition with NO AQE
    coalescing, so a vanilla session's default of 200 means 200 state
    store commits per micro-batch (~10x overhead on a 32-core box; a
    real cluster sizes this to executor parallelism instead). The
    partition count only affects placement, not results; the prior
    value is restored after the stream stops. Round-11: sized from
    ``defaultParallelism`` (the session's ACTUAL core count — honors
    local[$SPARK_GRAFT_CPUS]) instead of os.cpu_count(), which
    over-provisioned state stores 4x when the driver benches at 8
    cores on a 32-core box.
    """
    spark = stream_df.sparkSession
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set(
        "spark.sql.shuffle.partitions",
        str(spark.sparkContext.defaultParallelism or 8),
    )
    # COMPLETE-mode runs don't need the trailing no-data micro-batch:
    # every batch re-emits the full state, so the extra batch only
    # re-commits identical state store contents (one full batch of
    # overhead per stream). APPEND/UPDATE-mode runs KEEP it — the
    # no-data batch is what advances the watermark and flushes final
    # windows; dropping it there would lose result rows.
    nodata_key = "spark.sql.streaming.noDataMicroBatches.enabled"
    prev_nodata = spark.conf.get(nodata_key, None)
    if mode == "complete":
        spark.conf.set(nodata_key, "false")
    try:
        q = (
            stream_df.writeStream.outputMode(mode)
            .format("memory")
            .queryName(name)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
        if mode == "complete":
            if prev_nodata is None:
                spark.conf.unset(nodata_key)
            else:
                spark.conf.set(nodata_key, prev_nodata)


def dedup_stream(
    events: DataFrame,
    watermark: str = "2 hours",
    keys: tuple[str, ...] = ("event_id",),
) -> DataFrame:
    """GLOBAL streaming dedup: each key tuple is emitted exactly once
    for the stream's lifetime.

    Honest state note: global distinct requires one state entry per
    key FOREVER — the watermark does NOT expire state here, because
    the dedup keys exclude the event-time column (Spark only expires
    dropDuplicates state when the time column is part of the keys).
    Right when the key space is bounded (entity ids); for unbounded
    keys at 100 TB/day use ``dedup_stream_bounded`` below, which
    trades "global" for "within the watermark horizon" and gets
    bounded state in return.
    """
    return events.withWatermark("ts", watermark).dropDuplicates(list(keys))


def dedup_stream_bounded(
    events: DataFrame,
    watermark: str = "2 hours",
    keys: tuple[str, ...] = ("event_id",),
) -> DataFrame:
    """Watermark-bounded streaming dedup (dropDuplicatesWithinWatermark).

    Drops duplicates that arrive within the watermark delay of the
    first occurrence; state per key is EXPIRED once the watermark
    passes it — bounded memory at unbounded ingest. Duplicates farther
    apart than the watermark are re-emitted (the deliberate trade vs
    ``dedup_stream``); dedup of at-least-once sources (Kafka replays,
    retried file commits) is exactly this shape.
    """
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        list(keys)
    )


def interval_join_stream(
    events: DataFrame,
    left_type: str = "click",
    right_type: str = "purchase",
    within: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-stream interval join: each ``left_type`` event paired
    with every ``right_type`` event by the SAME user in
    (left_ts, left_ts + within].

    Both sides are watermarked, and the join condition bounds
    right_ts relative to left_ts, so state on each side expires once
    the other side's watermark passes — bounded memory at unbounded
    ingest, the attribution-join shape (click -> purchase within N).
    """
    left = (
        events.filter(F.col("event_type") == left_type)
        .select(
            F.col("user_id"),
            F.col("event_id").alias("l_id"),
            F.col("ts").alias("l_ts"),
        )
        .withWatermark("l_ts", watermark)
    )
    right = (
        events.filter(F.col("event_type") == right_type)
        .select(
            F.col("user_id").alias("r_user"),
            F.col("event_id").alias("r_id"),
            F.col("ts").alias("r_ts"),
        )
        .withWatermark("r_ts", watermark)
    )
    cond = (
        (left.user_id == right.r_user)
        & (F.col("r_ts") > F.col("l_ts"))
        & (F.col("r_ts") <= F.col("l_ts") + F.expr(f"INTERVAL {within}"))
    )
    return left.join(right, cond).select("user_id", "l_id", "r_id")


def interval_join_outer_stream(
    events: DataFrame,
    left_type: str = "click",
    right_type: str = "purchase",
    within: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-stream LEFT OUTER interval join — the state-EVICTION
    side of the attribution join: matched (click, purchase) pairs are
    emitted as they join; an UNMATCHED click is emitted with a NULL
    r_id only once the watermark proves no qualifying purchase can
    still arrive (right watermark past l_ts + within), which is also
    the moment its buffered state is dropped. Clicks still inside the
    horizon are held back entirely — so the output is deterministic
    for a replay: NULL rows are exactly the clicks with
    l_ts + within <= final watermark and no partner.

    Scale: identical state bound to the inner variant (both sides
    expire on watermark); the NULL-emission path is what makes outer
    stream-stream joins safe at unbounded ingest — no unmatched row
    waits forever.
    """
    left = (
        events.filter(F.col("event_type") == left_type)
        .select(
            F.col("user_id"),
            F.col("event_id").alias("l_id"),
            F.col("ts").alias("l_ts"),
        )
        .withWatermark("l_ts", watermark)
    )
    right = (
        events.filter(F.col("event_type") == right_type)
        .select(
            F.col("user_id").alias("r_user"),
            F.col("event_id").alias("r_id"),
            F.col("ts").alias("r_ts"),
        )
        .withWatermark("r_ts", watermark)
    )
    cond = (
        (left.user_id == right.r_user)
        & (F.col("r_ts") > F.col("l_ts"))
        & (F.col("r_ts") <= F.col("l_ts") + F.expr(f"INTERVAL {within}"))
    )
    return left.join(right, cond, "leftOuter").select("user_id", "l_id", "r_id")


def stream_to_parquet_exactly_once(
    stream_df: DataFrame, out_dir: str, checkpoint_dir: str
):
    """foreachBatch + per-epoch dynamic partition overwrite: the
    exactly-once file-sink recipe for targets the built-in append-only
    file sink can't serve (upserts, dedup outputs, compaction).

    Each micro-batch writes (mode=overwrite, dynamic partition
    overwrite) into its own ``__epoch=<id>`` partition: a replayed
    batch after failure overwrites ITS OWN partition and nothing else,
    so restarts are idempotent — at-least-once execution + idempotent
    write = exactly-once output. The checkpoint dir carries offsets so
    a restarted query resumes, not restarts.

    Returns the started StreamingQuery (caller stops it).
    """

    def write_batch(df: DataFrame, epoch_id: int) -> None:
        (
            df.withColumn("__epoch", F.lit(epoch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("__epoch")
            .parquet(out_dir)
        )

    return (
        stream_df.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )


def minute_partials_stream(
    events: DataFrame, window: str = "1 minute", watermark: str = "2 hours"
) -> DataFrame:
    """Streaming half of the continuous-aggregate pattern: maintain
    per-``window`` MERGEABLE rollup state (n, Σ, min, max — exact
    decimals) under a watermark. Batch consumers merge these partials
    to any coarser grain (operators/timeseries.rollup_two_level is the
    all-batch form); at 100 TB the stream lands minute partials
    continuously and hour/day/month queries read partials, never raw
    events."""
    v = F.col("value").cast("decimal(18,2)")
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(v).alias("s"),
            F.min(v).alias("mn"),
            F.max(v).alias("mx"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n",
            "s",
            "mn",
            "mx",
        )
    )


def cdc_upsert_stream_to_snapshot(
    events: DataFrame,
    workdir: str,
    delete_type: str = "error",
) -> DataFrame:
    """Streaming CDC apply: maintain a latest-state-per-key snapshot
    (with tombstones) on parquet via foreachBatch — the streaming
    sibling of the batch ``merge_into`` (operators/relational.py),
    for targets that need upsert semantics the append-only file sink
    can't express.

    Events become a change feed: key = user_id, version = (ts,
    event_id), op = 'D' when event_type == ``delete_type`` else 'U'.
    Each micro-batch reduces to its per-key LATEST change (an
    associative max-of-struct — no window sort), then merges with the
    previous snapshot by the same max-of-struct, and writes a new
    snapshot generation (copy-on-write; the old generation stays
    readable until the swap, and a replayed batch re-derives the same
    state, so restarts are idempotent). On entry the snapshot pointer
    recovers to the NEWEST existing generation under ``workdir``: a
    process restart from the same checkpoint does not replay committed
    offsets, so without recovery the first post-restart batch would
    silently rebuild the snapshot from scratch and drop all earlier
    state — pinned by the restart unit test. Because the merge
    compares versions instead of trusting arrival order, OUT-OF-ORDER
    batches produce the identical snapshot — pinned by the unit test
    that streams files one per trigger in arbitrary order. Tombstones
    stay in the snapshot so a late pre-delete update cannot resurrect
    a deleted key; readers filter op = 'D'.

    Scale: per-batch work is one partial-agg'd groupBy on the batch
    (usually tiny) plus a key-partitioned merge with the snapshot; at
    100 TB the snapshot would be bucketed by key so the merge is a
    zero-shuffle sort-merge, and the copy-on-write would rewrite only
    buckets containing touched keys.
    """
    import os

    spark = events.sparkSession
    feed = events.select(
        "user_id",
        F.struct(
            "ts",
            "event_id",
            F.when(F.col("event_type") == delete_type, "D").otherwise("U").alias("op"),
            "value",
        ).alias("s"),
    )
    # Recover the snapshot pointer across process restarts: the file
    # source's committed offsets are NOT replayed, so the merge chain
    # must resume from the last published generation, not from None.
    def newest_gen() -> str | None:
        # Only generations with Spark's _SUCCESS marker count: a crash
        # mid-write of generation N leaves a partial parquet dir, and
        # resuming from it would merge batch N onto partial state and
        # silently drop keys. Incomplete dirs are skipped so recovery
        # falls back to the last fully-committed generation.
        try:
            gens = [
                name
                for name in os.listdir(workdir)
                if name.startswith("snapshot_gen_")
                and os.path.exists(os.path.join(workdir, name, "_SUCCESS"))
            ]
        except OSError:
            return None
        if not gens:
            return None
        top = max(gens, key=lambda name: int(name.rsplit("_", 1)[1]))
        return os.path.join(workdir, top)

    state = {"dir": newest_gen()}

    def latest(df: DataFrame) -> DataFrame:
        return df.groupBy("user_id").agg(F.max("s").alias("s"))

    def apply_batch(batch: DataFrame, epoch_id: int) -> None:
        merged = latest(batch)
        if state["dir"] is not None:
            prev = spark.read.parquet(state["dir"])
            merged = latest(merged.unionByName(prev))
        out = os.path.join(workdir, f"snapshot_gen_{epoch_id}")
        merged.write.mode("overwrite").parquet(out)
        state["dir"] = out

    q = (
        feed.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", os.path.join(workdir, "checkpoint"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    snap = spark.read.parquet(state["dir"])
    return snap.select("user_id", "s.ts", "s.event_id", "s.op", "s.value")
