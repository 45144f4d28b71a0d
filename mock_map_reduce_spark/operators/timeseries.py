"""Time-series operators: tumbling/sliding windows, sessionization,
as-of joins — batch forms (streaming twins live in streaming/).

The reference is strictly batch with no time semantics (SURVEY §2.2);
this family is the engine's window/stream extension. All arithmetic
on timestamps happens in integer microseconds (unix_micros) so Spark
and DuckDB agree exactly — no float seconds, no boundary-counting
date_diff semantics.

Scale notes: every operator here is one shuffle on the entity key
(user_id); windows are rows-frames over that partition. As-of join
uses the union-merge formulation — O(n log n) within partitions, no
range cross-product — the standard way to as-of at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.window import Window

from mock_map_reduce_spark.functions.zipimports import reuse_zip_directories

TS_FMT = "yyyy-MM-dd HH:mm:ss"


def tumbling_agg(
    events: DataFrame,
    window: str = "1 hour",
    ts_col: str = "ts",
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Tumbling-window counts/sums: (window_start, window_end, [groups], n, total).

    Epoch-aligned windows via F.window — identical alignment to
    DuckDB's time_bucket for divisor-of-day widths.
    """
    gcols = group_cols or []
    w = F.window(F.col(ts_col), window)
    return (
        events.groupBy(w.alias("w"), *gcols)
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total_value"),
        )
        .select(
            F.date_format("w.start", TS_FMT).alias("window_start"),
            F.date_format("w.end", TS_FMT).alias("window_end"),
            *gcols,
            "n_events",
            "total_value",
        )
    )


def sliding_agg(
    events: DataFrame,
    window: str = "1 hour",
    slide: str = "30 minutes",
    ts_col: str = "ts",
) -> DataFrame:
    """Sliding-window counts: each event lands in window/slide windows."""
    w = F.window(F.col(ts_col), window, slide)
    return (
        events.groupBy(w.alias("w"))
        .agg(F.count("*").alias("n_events"))
        .select(
            F.date_format("w.start", TS_FMT).alias("window_start"),
            "n_events",
        )
    )


def sessionize(
    events: DataFrame,
    gap_seconds: int = 1800,
    ts_col: str = "ts",
    key_col: str = "user_id",
    id_col: str = "event_id",
) -> DataFrame:
    """Gap-based sessionization: (key, session_id, n_events, session_start, duration_s).

    Classic lag + gap-flag + running-sum; one shuffle on the key. The
    gap compare and duration use integer microseconds end-to-end.
    """
    order = [F.col(ts_col), F.col(id_col)]
    w = Window.partitionBy(key_col).orderBy(*order)
    wrun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    us = F.unix_micros(F.col(ts_col))
    prev_us = F.lag(us).over(w)
    new_session = F.when(
        prev_us.isNull() | ((us - prev_us) > gap_seconds * 1_000_000), 1
    ).otherwise(0)
    with_sessions = events.withColumn("session_id", F.sum(new_session).over(wrun))
    return with_sessions.groupBy(key_col, "session_id").agg(
        F.count("*").alias("n_events"),
        F.date_format(F.min(ts_col), TS_FMT).alias("session_start"),
        F.expr(
            f"(unix_micros(max({ts_col})) - unix_micros(min({ts_col}))) div 1000000"
        ).alias("duration_s"),
    )


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key_col: str,
    left_ts: str,
    right_ts: str,
    right_cols: dict[str, str],
    left_id: str,
    right_id: str,
) -> DataFrame:
    """Merge-based as-of join: each left row gets the latest right row
    with right_ts <= left_ts for the same key.

    Union both sides tagged, one sort per key partition, last-non-null
    carry-forward — O(n log n), no range cross-product. Right rows at
    the exact left timestamp ARE visible (<= semantics: right sorts
    before left on ties via the side tag).

    right_cols maps right column -> output alias.
    """
    carried = [f"__r_{alias}" for alias in right_cols.values()]
    l_part = left.select(
        F.col(key_col).alias("__key"),
        F.col(left_ts).alias("__ts"),
        F.lit(1).alias("__side"),
        F.col(left_id).alias("__id"),
        *[F.lit(None).cast(dict(right.dtypes)[src]).alias(c) for src, c in zip(right_cols, carried)],
    )
    r_part = right.select(
        F.col(key_col).alias("__key"),
        F.col(right_ts).alias("__ts"),
        F.lit(0).alias("__side"),
        F.col(right_id).alias("__id"),
        *[F.col(src).alias(c) for src, c in zip(right_cols, carried)],
    )
    merged = l_part.unionAll(r_part)
    w = (
        Window.partitionBy("__key")
        .orderBy("__ts", "__side", "__id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = merged.select(
        "__key",
        "__ts",
        "__side",
        "__id",
        *[F.last(c, ignorenulls=True).over(w).alias(c) for c in carried],
    )
    return filled.filter(F.col("__side") == 1).select(
        F.col("__id").alias(left_id),
        F.col("__key").alias(key_col),
        F.col("__ts").alias(left_ts),
        *[F.col(f"__r_{alias}").alias(alias) for alias in right_cols.values()],
    )


def funnel_counts(
    events: DataFrame,
    stages: list[str],
    ts_col: str = "ts",
    user_col: str = "user_id",
    within_s: int | None = None,
) -> DataFrame:
    """Ordered-funnel stage counts: (stage_idx, stage, n_users).

    A user reaches stage i+1 only with an event of that type STRICTLY
    AFTER their earliest time of reaching stage i (classic
    min-timestamp funnel); with ``within_s`` set, ALSO within that
    many seconds of it (the conversion-window funnel — integer-
    microsecond arithmetic, so both engines agree exactly on the
    boundary). Each hop is one groupBy(user) agg joined back on user —
    shuffles carry one row per user per stage, never raw events.

    ONE declarative plan, no driver-side actions: the per-stage counts
    union into a single k-row result, and stage i's subtree (which
    contains stages 0..i-1) reuses the earlier stages' exchanges via
    ReusedExchange rather than recomputing them. At 100 TB the event
    scan dominates; each stage's type filter is pushed to the scan.
    """
    reached = (
        events.filter(F.col("event_type") == stages[0])
        .groupBy(user_col)
        .agg(F.min(ts_col).alias("t_prev"))
    )
    per_stage = [reached]
    for stage in stages[1:]:
        cond = F.col(ts_col) > F.col("t_prev")
        if within_s is not None:
            cond = cond & (
                F.unix_micros(F.col(ts_col)) - F.unix_micros(F.col("t_prev"))
                <= within_s * 1_000_000
            )
        reached = (
            events.filter(F.col("event_type") == stage)
            .join(reached, user_col)
            .filter(cond)
            .groupBy(user_col)
            .agg(F.min(ts_col).alias("t_prev"))
        )
        per_stage.append(reached)
    counts = [
        df.agg(F.count("*").alias("n_users")).select(
            F.lit(i).cast("int").alias("stage_idx"),
            F.lit(stage).alias("stage"),
            "n_users",
        )
        for i, (stage, df) in enumerate(zip(stages, per_stage))
    ]
    out = counts[0]
    for c in counts[1:]:
        out = out.unionAll(c)
    return out


def retention_cohorts(
    events: DataFrame,
    cohort_type: str = "signup",
    max_offset_days: int = 7,
    ts_col: str = "ts",
    user_col: str = "user_id",
) -> DataFrame:
    """Daily cohort retention: (cohort_day, offset_days, n_active).

    cohort_day = a user's first ``cohort_type`` event date; a user is
    retained at offset k if they have ANY event k days later. The
    classic growth-analytics rollup, and a pure two-agg plan: distinct
    (user, day) activity is one exchange, cohorts one more, the final
    groupBy a third — shuffles carry user/day pairs, never raw events.
    """
    cohorts = (
        events.filter(F.col("event_type") == cohort_type)
        .groupBy(user_col)
        .agg(F.min(F.to_date(ts_col)).alias("cohort_day"))
    )
    activity = events.select(
        F.col(user_col), F.to_date(ts_col).alias("day")
    ).distinct()
    return (
        activity.join(cohorts, user_col)
        .withColumn("offset_days", F.datediff("day", "cohort_day").cast("long"))
        .filter(
            (F.col("offset_days") >= 1) & (F.col("offset_days") <= max_offset_days)
        )
        .groupBy("cohort_day", "offset_days")
        .agg(F.countDistinct(user_col).alias("n_active"))
        .select(
            F.date_format("cohort_day", "yyyy-MM-dd").alias("cohort_day"),
            "offset_days",
            "n_active",
        )
    )


def rollup_two_level(
    events: DataFrame,
    small: str = "1 minute",
    big: str = "1 hour",
    ts_col: str = "ts",
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Hypertable-style continuous-aggregate rollup: fine-grained
    partial summaries re-aggregated into coarse buckets.

    Level 1 groups raw events into ``small`` windows keeping only
    MERGEABLE state (n, Σ, min, max — exact decimals); level 2 reads
    NOTHING but those partials and merges them into ``big`` windows
    (sum of n, sum of Σ, min of min, max of max). This is the pattern
    that lets a 100 TB event hypertable answer hour/day/month queries
    from minute-sized materialized state instead of rescanning raw
    events — and because the state is re-aggregatable, the same
    partials serve every coarser granularity. The matching oracle
    aggregates the RAW events directly at the coarse level, proving
    the merge algebra exact.
    """
    gcols = group_cols or []
    v = F.col("value").cast("decimal(18,2)")
    partials = events.groupBy(
        F.window(F.col(ts_col), small).alias("w"), *gcols
    ).agg(
        F.count("*").alias("n"),
        F.sum(v).alias("s"),
        F.min(v).alias("mn"),
        F.max(v).alias("mx"),
    )
    return (
        partials.groupBy(F.window(F.col("w.start"), big).alias("w"), *gcols)
        .agg(
            F.sum("n").alias("n_events"),
            F.sum("s").cast("double").alias("total_value"),
            F.min("mn").cast("double").alias("min_value"),
            F.max("mx").cast("double").alias("max_value"),
        )
        .select(
            F.date_format("w.start", TS_FMT).alias("window_start"),
            *gcols,
            "n_events",
            "total_value",
            "min_value",
            "max_value",
        )
    )


def gap_fill_daily(
    events: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Zero-fill missing days per key: (key, day, n_events) with one row
    for EVERY calendar day between the key's first and last active day.

    The spine is `sequence(min_day, max_day)` exploded per key — no
    driver-side calendar, no cross join against a global date table.

    Scale: two aggregations share the same key; the per-key bounds row
    is tiny (one row per key), so the explode output is bounded by
    key_count x span_days — at 100 TB the dominant cost stays the first
    per-(key, day) aggregation, which is map-side-combined. The final
    left join shuffles on (key, day), the same key as `daily`, so AQE
    plans it without an extra exchange of the spine's small side.
    """
    day = F.to_date(F.col(ts_col)).alias("day")
    daily = events.select(F.col(key_col), day).groupBy(key_col, "day").agg(
        F.count("*").alias("n_events")
    )
    spine = (
        daily.groupBy(key_col)
        .agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
        .select(key_col, F.explode(F.sequence("d0", "d1")).alias("day"))
    )
    return (
        spine.join(daily, [key_col, "day"], "left")
        .select(
            key_col,
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            F.coalesce("n_events", F.lit(0)).alias("n_events"),
        )
    )


def forward_fill(
    df: DataFrame,
    key_col: str,
    order_cols: list[str],
    fill_expr: Column,
    out_col: str,
) -> DataFrame:
    """Last-observation-carried-forward: the most recent non-null value
    of ``fill_expr`` at or before each row, per key, in order.

    `last(..., ignorenulls=True)` over a rows-frame running window —
    one shuffle on the key, linear within the partition. The classic
    way to propagate sparse sensor readings / latest-price marks onto
    a dense event stream without a range self-join.
    """
    w = (
        Window.partitionBy(key_col)
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return df.withColumn(out_col, F.last(fill_expr, ignorenulls=True).over(w))


def scd2_intervals(
    events: DataFrame,
    key_col: str = "user_id",
    state_col: str = "event_type",
    ts_col: str = "ts",
    id_col: str = "event_id",
) -> DataFrame:
    """Type-2 slowly-changing-dimension intervals from an event stream:
    collapse consecutive identical states per key, then emit
    [valid_from, valid_to) in integer microseconds (-1 = open/current).

    lag() detects state transitions, lead() closes each interval — two
    window passes over ONE shuffle on the key (both windows share the
    same partitioning/ordering, so Spark plans a single exchange+sort).
    This is the standard CDC-to-dimension build: at 100 TB the stream
    is already bucketed by entity key and the windows never spill
    beyond a key's own rows.
    """
    order = [F.col(ts_col), F.col(id_col)]
    w = Window.partitionBy(key_col).orderBy(*order)
    us = F.unix_micros(F.col(ts_col))
    changed = ~F.lag(F.col(state_col)).over(w).eqNullSafe(F.col(state_col))
    changes = (
        events.select(key_col, state_col, ts_col, id_col)
        .withColumn("__chg", changed)
        .filter(F.col("__chg"))
    )
    valid_to = F.lead(us).over(w)
    return changes.select(
        key_col,
        F.col(state_col).alias("state"),
        us.alias("valid_from_us"),
        F.coalesce(valid_to, F.lit(-1)).alias("valid_to_us"),
        F.when(valid_to.isNull(), F.lit(1)).otherwise(F.lit(0)).alias("is_current"),
    )


def capped_running_sum(
    events: DataFrame,
    delta_col: Column,
    cap: float,
    key_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    out_col: str = "balance",
) -> DataFrame:
    """Clamped running sum: balance' = clamp(balance + delta, 0, cap)
    per key in event order — inventory/credit/quota semantics.

    This fold is NOT window-expressible: the clamp makes each step
    depend on the clamped PREVIOUS result, so no prefix-sum algebra
    applies (SQL needs a recursive CTE; see the catalog oracle).
    Exactly the case the brief's operator ladder reserves for a
    Pandas-UDF-backed applyInPandas: one shuffle on the key, then a
    vectorized per-group fold — state is one float per key, group
    rows stream through Arrow.
    """
    import pandas as pd

    events = events.select(
        key_col, id_col, ts_col, delta_col.alias("__delta")
    )

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        reuse_zip_directories()
        pdf = pdf.sort_values([ts_col, id_col])
        bal = 0.0
        out = []
        for d in pdf["__delta"]:
            bal = max(0.0, min(cap, bal + float(d)))
            out.append(bal)
        pdf = pdf.assign(**{out_col: out})
        return pdf[[id_col, key_col, out_col]]

    return events.groupBy(key_col).applyInPandas(
        fold, f"{id_col} long, {key_col} long, {out_col} double"
    )


def ewma(
    events: DataFrame,
    value_col: str,
    alpha: float,
    key_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    out_col: str = "ewma",
) -> DataFrame:
    """Exponentially weighted moving average per key in event order:
    y_1 = x_1; y_n = alpha*x_n + (1-alpha)*y_{n-1}.

    Same operator class as capped_running_sum — the recurrence depends
    on the previous OUTPUT, so it is not window/prefix-sum
    expressible (the closed form needs (1-alpha)^(-i) factors that
    overflow). Arrow-batched applyInPandas fold behind one key
    shuffle; the multiply-add order matches the SQL oracle exactly,
    so results are bit-identical.
    """
    import pandas as pd

    events = events.select(key_col, id_col, ts_col, value_col)

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        reuse_zip_directories()
        pdf = pdf.sort_values([ts_col, id_col])
        y = None
        out = []
        for x in pdf[value_col]:
            x = float(x)
            y = x if y is None else alpha * x + (1 - alpha) * y
            out.append(y)
        pdf = pdf.assign(**{out_col: out})
        return pdf[[id_col, key_col, out_col]]

    return events.groupBy(key_col).applyInPandas(
        fold, f"{id_col} long, {key_col} long, {out_col} double"
    )


def point_in_time_state(
    status_events: DataFrame,
    facts: DataFrame,
    key_col: str = "user_id",
    state_col: str = "event_type",
    ts_col: str = "ts",
    id_col: str = "event_id",
) -> DataFrame:
    """Point-in-time (temporal) lookup: for each fact row, the state
    from ``status_events`` in effect at the fact's timestamp — the
    feature-store / SCD2-dimension read path.

    NOT implemented as an interval join against materialized
    [valid_from, valid_to) rows (the naive range join): instead the
    two streams UNION and one window pass per key carries the last
    seen state forward onto fact rows (LOCF over the merged
    timeline). Equivalent to probing scd2_intervals() with
    valid_from <= t < valid_to — at equal timestamps dim rows sort
    before facts (state applies inclusively at its own instant) and
    the latest of several same-instant changes wins (its interval is
    the non-empty one) — but costs ONE exchange + sort instead of a
    non-equi join, and at 100 TB both streams arrive bucketed by
    entity key so the merge never shuffles twice.
    """
    us = F.unix_micros(F.col(ts_col))
    dim = status_events.select(
        F.col(key_col),
        us.alias("t_us"),
        F.lit(0).alias("__kind"),
        F.col(id_col).alias("__oid"),
        F.col(state_col).alias("state"),
        F.lit(None).cast("long").alias(id_col),
    )
    fct = facts.select(
        F.col(key_col),
        us.alias("t_us"),
        F.lit(1).alias("__kind"),
        F.col(id_col).alias("__oid"),
        F.lit(None).cast("string").alias("state"),
        F.col(id_col),
    )
    w = (
        Window.partitionBy(key_col)
        .orderBy("t_us", "__kind", "__oid")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    merged = dim.unionByName(fct).withColumn(
        "status", F.last("state", ignorenulls=True).over(w)
    )
    return merged.filter(F.col("__kind") == 1).select(key_col, id_col, "t_us", "status")
