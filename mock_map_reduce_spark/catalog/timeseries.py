"""Time-series catalog — tumbling/sliding windows, sessions, as-of join.

Oracles use CAST(ts AS TIMESTAMP) to truncate DuckDB's nanosecond
events timestamps to microseconds — the same truncation the Spark
loader applies (sources/tables.py) — and integer-microsecond
arithmetic everywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

from mock_map_reduce_spark.operators import timeseries as ts
from mock_map_reduce_spark.registry import query
from mock_map_reduce_spark.functions.localdf import local_df
from mock_map_reduce_spark.sources import load_table

_E = "e AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS t, event_type, value FROM events)"
_FMT = "%Y-%m-%d %H:%M:%S"


@query(
    "tumbling_window_counts",
    oracle=f"""
WITH {_E}
SELECT strftime(time_bucket(INTERVAL 1 HOUR, t), '{_FMT}') AS window_start,
       strftime(time_bucket(INTERVAL 1 HOUR, t) + INTERVAL 1 HOUR, '{_FMT}') AS window_end,
       event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM e
GROUP BY 1, 2, 3
""",
)
def q_tumbling_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return ts.tumbling_agg(events, "1 hour", group_cols=["event_type"])


@query(
    "sliding_window_counts",
    oracle=f"""
WITH {_E},
w AS (
  SELECT time_bucket(INTERVAL 30 MINUTE, t) AS ws FROM e
  UNION ALL
  SELECT time_bucket(INTERVAL 30 MINUTE, t) - INTERVAL 30 MINUTE AS ws FROM e
)
SELECT strftime(ws, '{_FMT}') AS window_start, COUNT(*) AS n_events
FROM w GROUP BY ws
""",
)
def q_sliding_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour windows sliding every 30 min: each event lands in exactly 2."""
    events = load_table(spark, sf_dir, "events")
    return ts.sliding_agg(events, "1 hour", "30 minutes")


@query(
    "session_windows",
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
SELECT user_id, CAST(session_id AS BIGINT) AS session_id, COUNT(*) AS n_events,
       strftime(min(t), '{_FMT}') AS session_start,
       (epoch_us(max(t)) - epoch_us(min(t))) // 1000000 AS duration_s
FROM s GROUP BY 1, 2
""",
)
def q_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """30-minute-gap sessionization per user (batch twin of session_window)."""
    events = load_table(spark, sf_dir, "events")
    return ts.sessionize(events, gap_seconds=1800)


_ASOF_ORACLE = f"""
WITH {_E},
u AS (
  SELECT event_id, user_id, t,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS side,
         CASE WHEN event_type = 'click' THEN event_id END AS c_id
  FROM e WHERE event_type IN ('purchase', 'click')
),
m AS (
  SELECT *,
         last_value(c_id IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY t, side, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_click_id
  FROM u
)
SELECT event_id, user_id, strftime(t, '{_FMT}') AS purchase_ts, last_click_id
FROM m WHERE side = 1
"""


@query("asof_join_purchases", oracle=_ASOF_ORACLE)
def q_asof_join_purchases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each purchase gets the user's latest click at-or-before it."""
    events = load_table(spark, sf_dir, "events")
    purchases = events.filter(F.col("event_type") == "purchase")
    clicks = events.filter(F.col("event_type") == "click")
    out = ts.asof_join(
        purchases,
        clicks,
        key_col="user_id",
        left_ts="ts",
        right_ts="ts",
        right_cols={"event_id": "last_click_id"},
        left_id="event_id",
        right_id="event_id",
    )
    return out.select(
        "event_id",
        "user_id",
        F.date_format("ts", ts.TS_FMT).alias("purchase_ts"),
        "last_click_id",
    )


@query("asof_join_cogrouped", oracle=_ASOF_ORACLE)
def q_asof_join_cogrouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cogrouped-map Pandas UDF — ``groupBy().cogroup().applyInPandas``,
    the per-key TWO-TABLE custom-merge surface (the one UDF shape the
    catalog didn't yet exercise): each user's purchases and clicks
    arrive as two pandas DataFrames and ``pandas.merge_asof`` does the
    backward as-of match inside the group.

    Shares ``asof_join_purchases``' oracle verbatim — two
    implementations (declarative union+window vs cogrouped UDF), one
    answer, so the UDF surface itself is what the hash gate checks.
    Tie-breaks match the oracle's ``ORDER BY t, side, event_id``:
    clicks AT the purchase timestamp qualify (merge_asof's
    allow_exact_matches), and among equal-timestamp clicks the max
    event_id wins (right side sorted by (ts, event_id); merge_asof
    takes the last qualifying row).

    Scale shape: cogroup shuffles both sides ONCE on the key — the
    same two exchanges the declarative form pays — and per-call state
    is one user's rows, never the corpus; at 100 TB this is the
    surface for merge logic too gnarly for window algebra (custom
    event alignment, per-key model replay), paying only Arrow batch
    transfer on top of the unavoidable co-partitioning."""
    import pandas as pd

    events = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "event_type"
    )
    purchases = events.filter(F.col("event_type") == "purchase").drop("event_type")
    # The right side gets DISTINCT column names: both sides descend
    # from the same scan, and cogroup's attribute dedup mis-prunes the
    # right projection to just the key when the non-key attributes are
    # exprId-identical to the left's (observed: right arrived as
    # ['user_id'] only). Fresh aliases force fresh exprIds.
    clicks = events.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("c_event_id"),
        F.col("user_id").alias("c_user_id"),
        F.col("ts").alias("c_ts"),
    )

    def merge(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        # left = one user's purchases, right = that user's clicks;
        # either side may be empty (cogroup is full-outer on keys).
        if left.empty or right.empty:
            out = left.copy()
            out["last_click_id"] = pd.Series(pd.NA, index=out.index, dtype="Int64")
            return out[["event_id", "user_id", "ts", "last_click_id"]]
        left = left.sort_values(["ts", "event_id"])
        right = (
            right.sort_values(["c_ts", "c_event_id"])
            .rename(columns={"c_event_id": "last_click_id", "c_ts": "ts"})
        )
        out = pd.merge_asof(
            left, right[["ts", "last_click_id"]], on="ts", direction="backward"
        )
        out["last_click_id"] = out["last_click_id"].astype("Int64")
        return out[["event_id", "user_id", "ts", "last_click_id"]]

    merged = (
        purchases.groupBy("user_id")
        .cogroup(clicks.groupBy("c_user_id"))
        .applyInPandas(
            merge, "event_id long, user_id long, ts timestamp, last_click_id long"
        )
    )
    return merged.select(
        "event_id",
        "user_id",
        F.date_format("ts", ts.TS_FMT).alias("purchase_ts"),
        "last_click_id",
    )


@query(
    "range_join_banded",
    oracle="""
WITH bands(band, lo, hi) AS (
  VALUES ('neg', -10000.0, 0.0), ('low', 0.0, 2500.0),
         ('mid', 2500.0, 5000.0), ('high', 5000.0, 7500.0), ('top', 7500.0, 10000.0)
)
SELECT band, COUNT(*) AS n_customers
FROM customer JOIN bands ON c_acctbal >= lo AND c_acctbal < hi
GROUP BY band
""",
)
def q_range_join_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-equi (range-predicate) join against a broadcast bands dim."""
    cust = load_table(spark, sf_dir, "customer")
    # local_df: LocalRelation leaf — the list createDataFrame form ran a
    # 32-task PythonRDD to build this 5-row broadcast dim per scan.
    bands = local_df(
        spark,
        [("neg", -10000.0, 0.0), ("low", 0.0, 2500.0), ("mid", 2500.0, 5000.0),
         ("high", 5000.0, 7500.0), ("top", 7500.0, 10000.0)],
        "band string, lo double, hi double",
    )
    return (
        cust.join(
            F.broadcast(bands),
            (F.col("c_acctbal") >= F.col("lo")) & (F.col("c_acctbal") < F.col("hi")),
        )
        .groupBy("band")
        .agg(F.count("*").alias("n_customers"))
    )


@query(
    "events_funnel",
    oracle=f"""
WITH {_E},
s0 AS (SELECT user_id, min(t) AS t_prev FROM e WHERE event_type = 'view' GROUP BY user_id),
s1 AS (
  SELECT e.user_id, min(t) AS t_prev
  FROM e JOIN s0 USING (user_id)
  WHERE event_type = 'click' AND t > s0.t_prev GROUP BY e.user_id
),
s2 AS (
  SELECT e.user_id, min(t) AS t_prev
  FROM e JOIN s1 USING (user_id)
  WHERE event_type = 'purchase' AND t > s1.t_prev GROUP BY e.user_id
)
SELECT 0 AS stage_idx, 'view' AS stage, (SELECT count(*) FROM s0) AS n_users
UNION ALL
SELECT 1, 'click', (SELECT count(*) FROM s1)
UNION ALL
SELECT 2, 'purchase', (SELECT count(*) FROM s2)
""",
)
def q_events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered view -> click -> purchase funnel (min-timestamp chain)."""
    events = load_table(spark, sf_dir, "events")
    return ts.funnel_counts(events, ["view", "click", "purchase"])


@query(
    "events_retention",
    oracle=f"""
WITH {_E},
cohorts AS (
  SELECT user_id, min(CAST(t AS DATE)) AS cohort_day
  FROM e WHERE event_type = 'signup' GROUP BY user_id
),
activity AS (SELECT DISTINCT user_id, CAST(t AS DATE) AS day FROM e)
SELECT strftime(cohort_day, '%Y-%m-%d') AS cohort_day,
       datediff('day', cohort_day, day) AS offset_days,
       count(DISTINCT user_id) AS n_active
FROM activity JOIN cohorts USING (user_id)
WHERE datediff('day', cohort_day, day) BETWEEN 1 AND 7
GROUP BY cohorts.cohort_day, offset_days
""",
)
def q_events_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signup-cohort daily retention over a 7-day horizon."""
    events = load_table(spark, sf_dir, "events")
    return ts.retention_cohorts(events)


@query(
    "session_windows_builtin",
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
SELECT user_id, COUNT(*) AS n_events,
       strftime(min(t), '{_FMT}') AS session_start,
       (epoch_us(max(t)) - epoch_us(min(t))) // 1000000 AS duration_s
FROM s GROUP BY user_id, session_id
""",
)
def q_session_windows_builtin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization via Spark's BUILT-IN batch session_window
    aggregation — same oracle content as the hand-rolled lag/cumsum
    `session_windows`, proving the two implementations agree on this
    data.

    Boundary note: the built-in starts a new session at gap >= 30 min
    where the lag/cumsum form (and the oracle) split strictly at
    gap > 30 min; the testdata's microsecond-granularity timestamps
    contain no exact-boundary gap at any SF (checked), so the
    semantics coincide here. The built-in pushes session merging into
    the aggregation operator itself — one exchange on user_id, no
    window pass at all.
    """
    events = load_table(spark, sf_dir, "events")
    return (
        events.groupBy(
            "user_id", F.session_window("ts", "30 minutes").alias("w")
        )
        .agg(
            F.count("*").alias("n_events"),
            F.date_format(F.min("ts"), ts.TS_FMT).alias("session_start"),
            F.expr("(unix_micros(max(ts)) - unix_micros(min(ts))) div 1000000").alias(
                "duration_s"
            ),
        )
        .select("user_id", "n_events", "session_start", "duration_s")
    )


@query(
    "timeseries_rollup_two_level",
    oracle=f"""
WITH {_E}
SELECT strftime(time_bucket(INTERVAL 1 HOUR, t), '{_FMT}') AS window_start,
       event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
       CAST(MIN(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS min_value,
       CAST(MAX(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS max_value
FROM e
GROUP BY 1, 2
""",
)
def q_timeseries_rollup_two_level(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-aggregate rollup: per-minute mergeable partials
    (n, Σ, min, max) merged into hourly rows, checked against the
    oracle's DIRECT hourly aggregation of raw events — the two-level
    plan and the one-level plan must agree cell for cell, proving the
    re-aggregation algebra a 100 TB hypertable rollup depends on
    (operators/timeseries.rollup_two_level).
    """
    events = load_table(spark, sf_dir, "events")
    return ts.rollup_two_level(events, group_cols=["event_type"])


FUNNEL_HORIZON_S = 3600  # conversion window: next stage within 1 hour


@query(
    "events_funnel_bounded",
    oracle=f"""
WITH {_E},
s0 AS (SELECT user_id, min(t) AS t_prev FROM e WHERE event_type = 'view' GROUP BY user_id),
s1 AS (
  SELECT e.user_id, min(t) AS t_prev
  FROM e JOIN s0 USING (user_id)
  WHERE event_type = 'click' AND t > s0.t_prev
    AND epoch_us(t) - epoch_us(s0.t_prev) <= {FUNNEL_HORIZON_S}000000
  GROUP BY e.user_id
),
s2 AS (
  SELECT e.user_id, min(t) AS t_prev
  FROM e JOIN s1 USING (user_id)
  WHERE event_type = 'purchase' AND t > s1.t_prev
    AND epoch_us(t) - epoch_us(s1.t_prev) <= {FUNNEL_HORIZON_S}000000
  GROUP BY e.user_id
)
SELECT 0 AS stage_idx, 'view' AS stage, (SELECT count(*) FROM s0) AS n_users
UNION ALL
SELECT 1, 'click', (SELECT count(*) FROM s1)
UNION ALL
SELECT 2, 'purchase', (SELECT count(*) FROM s2)
""",
)
def q_events_funnel_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion-window funnel: view -> click -> purchase where each
    hop must land within 1 hour of the previous stage's first hit —
    the attribution-horizon variant of events_funnel (same
    min-timestamp chain, integer-microsecond window arithmetic so the
    boundary is engine-exact)."""
    events = load_table(spark, sf_dir, "events")
    return ts.funnel_counts(
        events, ["view", "click", "purchase"], within_s=FUNNEL_HORIZON_S
    )


@query(
    "events_latest_per_user",
    oracle=f"""
WITH {_E},
r AS (
  SELECT user_id, event_id, event_type, value,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY t DESC, event_id DESC) AS rn
  FROM e
)
SELECT user_id, event_id AS last_event_id, event_type AS last_event_type,
       value AS last_value
FROM r WHERE rn = 1
""",
)
def q_events_latest_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC-style compaction: each key's LATEST record (max ts, ties to
    the larger event_id) — the upsert-materialization primitive for
    changelog tables. One max_by-shaped groupBy via max-struct (no
    window sort): the exchange carries one struct per (partition, key)
    after partial aggregation, never the event stream."""
    events = load_table(spark, sf_dir, "events")
    agg = events.groupBy("user_id").agg(
        F.max(
            F.struct(
                F.col("ts"), F.col("event_id"), F.col("event_type"), F.col("value")
            )
        ).alias("last")
    )
    return agg.select(
        "user_id",
        F.col("last.event_id").alias("last_event_id"),
        F.col("last.event_type").alias("last_event_type"),
        F.col("last.value").alias("last_value"),
    )


@query(
    "events_dau_wau_stickiness",
    oracle=f"""
WITH {_E},
d AS (SELECT DISTINCT CAST(t AS DATE) AS day, user_id FROM e),
days AS (SELECT DISTINCT day FROM d),
dau AS (SELECT day, count(*) AS dau FROM d GROUP BY day),
wau AS (
  SELECT days.day, count(DISTINCT d.user_id) AS wau
  FROM days JOIN d ON d.day BETWEEN days.day - INTERVAL 6 DAY AND days.day
  GROUP BY days.day
)
SELECT strftime(dau.day, '%Y-%m-%d') AS day, dau, wau,
       round(CAST(dau AS DOUBLE) / wau, 6) AS stickiness
FROM dau JOIN wau ON dau.day = wau.day
""",
)
def q_events_dau_wau_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU / trailing-7-day WAU stickiness per day — the standard
    engagement ratio, and the one distinct-count-over-trailing-window
    shape in the catalog. Distinct (day, user) pairs are reduced FIRST
    (the only corpus-scale aggregation); the 7-day trailing union is a
    bounded 7x fan-out join on the tiny day x user table, never on raw
    events. Ratio is double division rounded to 6, engine-exact."""
    events = load_table(spark, sf_dir, "events")
    d = events.select(
        F.to_date("ts").alias("day"), "user_id"
    ).distinct()
    dau = d.groupBy("day").agg(F.count("*").alias("dau"))
    days = d.select("day").distinct()
    wau = (
        days.join(
            d.select(F.col("day").alias("d2"), "user_id"),
            (F.col("d2") >= F.date_sub(F.col("day"), 6))
            & (F.col("d2") <= F.col("day")),
        )
        .groupBy("day")
        .agg(F.countDistinct("user_id").alias("wau"))
    )
    return (
        dau.join(wau, "day")
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "dau",
            "wau",
            F.round(F.col("dau").cast("double") / F.col("wau"), 6).alias("stickiness"),
        )
    )


@query(
    "events_markov_transitions",
    oracle=f"""
WITH {_E},
pairs AS (
  SELECT event_type AS from_state,
         LEAD(event_type) OVER (PARTITION BY user_id ORDER BY t, event_id) AS to_state
  FROM e
),
pc AS (SELECT from_state, to_state, COUNT(*) AS c FROM pairs WHERE to_state IS NOT NULL GROUP BY 1, 2)
SELECT from_state, to_state, c,
       ROUND(c / CAST(SUM(c) OVER (PARTITION BY from_state) AS DOUBLE), 6) AS p
FROM pc
""",
)
def q_events_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over each user's event
    sequence: P(next event type | current) — the behavioral-model
    fit that powers next-action prediction and anomaly scoring.

    lead() pairs consecutive events inside one shuffle on user_id;
    the pair counts then aggregate to state-pair cardinality (tiny),
    and the per-from-state normalizer is a window sum over that tiny
    table — no join, no recompute of the corpus-scale branch. At
    100 TB only the per-user window pass touches corpus-scale data.
    """
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = events.select(
        F.col("event_type").alias("from_state"),
        F.lead("event_type").over(w).alias("to_state"),
    ).filter(F.col("to_state").isNotNull())
    pc = pairs.groupBy("from_state", "to_state").agg(F.count("*").alias("c"))
    n = F.sum("c").over(Window.partitionBy("from_state"))
    return pc.select(
        "from_state",
        "to_state",
        "c",
        F.round(F.col("c") / n.cast("double"), 6).alias("p"),
    )


@query(
    "events_time_weighted_avg",
    oracle=f"""
WITH {_E},
v AS (SELECT event_id, user_id, t, value FROM e WHERE value IS NOT NULL),
seg AS (
  SELECT user_id, CAST(value AS DECIMAL(18,2)) AS v,
         LEAD(epoch_us(t)) OVER (PARTITION BY user_id ORDER BY t, event_id) - epoch_us(t) AS dt_us
  FROM v
)
SELECT user_id, COUNT(*) AS n_segments,
       ROUND(CAST(SUM(v * dt_us) AS DOUBLE) / CAST(SUM(dt_us) AS DOUBLE), 6) AS twap
FROM seg WHERE dt_us IS NOT NULL
GROUP BY user_id
""",
)
def q_events_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average (TWAP): each observation is held until the
    next one, so its weight is the interval length — the correct mean
    for irregularly-sampled series (the arithmetic mean over-weights
    bursts). Integer-microsecond durations × DECIMAL values keep the
    weighted sums exact and merge-safe.

    One exchange on the entity key: the lead() window and the final
    per-user aggregation share partitioning.
    """
    events = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros("ts")
    seg = events.select(
        "user_id",
        F.col("value").cast("decimal(18,2)").alias("v"),
        (F.lead(us).over(w) - us).alias("dt_us"),
    ).filter(F.col("dt_us").isNotNull())
    return seg.groupBy("user_id").agg(
        F.count("*").alias("n_segments"),
        F.round(
            F.sum(F.col("v") * F.col("dt_us")).cast("double")
            / F.sum("dt_us").cast("double"),
            6,
        ).alias("twap"),
    )


@query(
    "events_ohlc_hourly",
    oracle=f"""
WITH {_E},
v AS (SELECT event_id, t, event_type, value FROM e WHERE value IS NOT NULL)
SELECT event_type,
       strftime(time_bucket(INTERVAL 1 HOUR, t), '{_FMT}') AS bar_start,
       MIN({{'k': epoch_us(t), 'id': event_id, 'v': value}}).v AS open,
       MAX(value) AS high,
       MIN(value) AS low,
       MAX({{'k': epoch_us(t), 'id': event_id, 'v': value}}).v AS close,
       COUNT(*) AS n_ticks
FROM v GROUP BY 1, 2
""",
)
def q_events_ohlc_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC bars: open/high/low/close per (event_type, hour) — the
    market-data downsampling shape. Open/close are argmin/argmax by
    time realized as MIN/MAX over a (time, id, value) struct — a
    plain mergeable aggregate (no window, no sort), with the unique
    event_id making the selection deterministic even on timestamp
    ties. One exchange; partials combine map-side.
    """
    events = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    key = F.struct(
        F.unix_micros("ts").alias("k"),
        F.col("event_id").alias("id"),
        F.col("value").alias("v"),
    )
    return (
        events.groupBy(
            "event_type",
            F.window("ts", "1 hour").alias("w"),
        )
        .agg(
            F.min(key).getField("v").alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max(key).getField("v").alias("close"),
            F.count("*").alias("n_ticks"),
        )
        .select(
            "event_type",
            F.date_format("w.start", ts.TS_FMT).alias("bar_start"),
            "open",
            "high",
            "low",
            "close",
            "n_ticks",
        )
    )


@query(
    "events_session_enriched",
    oracle=f"""
WITH {_E},
l AS (
  SELECT user_id, event_id, t,
         lag(epoch_us(t)) OVER w AS prev_us
  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)
),
f AS (
  SELECT user_id, event_id, t,
         CASE WHEN prev_us IS NULL OR (epoch_us(t) - prev_us) > 1800000000 THEN 1 ELSE 0 END AS new_s
  FROM l
),
s AS (
  SELECT user_id, event_id, t,
         CAST(SUM(new_s) OVER w2 AS BIGINT) AS session_id
  FROM f WINDOW w2 AS (PARTITION BY user_id ORDER BY t, event_id ROWS UNBOUNDED PRECEDING)
)
SELECT user_id, event_id, session_id,
       CAST(ROW_NUMBER() OVER w3 AS BIGINT) AS evt_idx,
       (epoch_us(t) - MIN(epoch_us(t)) OVER w3r) // 1000000 AS secs_into_session
FROM s
WINDOW w3 AS (PARTITION BY user_id, session_id ORDER BY t, event_id),
       w3r AS (PARTITION BY user_id, session_id)
""",
)
def q_events_session_enriched(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-EVENT session context (session_windows aggregates; this
    keeps every row): session id, 1-based index within the session,
    seconds since session start. The enrichment features behind
    "first action of the visit" / dwell-time models.

    Two window families: the lag/cumsum session assignment partitions
    by user; the in-session index/min re-partition by (user, session)
    — a prefix-compatible key, so the sort is reused and only one
    exchange on user_id appears in the plan.
    """
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wrun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    us = F.unix_micros("ts")
    prev = F.lag(us).over(w)
    new_s = F.when(prev.isNull() | ((us - prev) > 1800 * 1_000_000), 1).otherwise(0)
    s = events.select("user_id", "event_id", "ts").withColumn(
        "session_id", F.sum(new_s).over(wrun)
    )
    w3 = Window.partitionBy("user_id", "session_id").orderBy("ts", "event_id")
    w3r = Window.partitionBy("user_id", "session_id")
    return s.select(
        "user_id",
        "event_id",
        "session_id",
        F.row_number().over(w3).cast("long").alias("evt_idx"),
        ((us - F.min(us).over(w3r)) / F.lit(1_000_000)).cast("long").alias("secs_into_session"),
    )


@query(
    "events_debounce",
    oracle=f"""
WITH {_E},
l AS (
  SELECT event_id, user_id, event_type, t,
         LAG(epoch_us(t)) OVER (PARTITION BY user_id, event_type ORDER BY t, event_id) AS prev_us
  FROM e
)
SELECT event_id, user_id, event_type, epoch_us(t) AS ts_us
FROM l
WHERE prev_us IS NULL OR epoch_us(t) - prev_us > 60000000
""",
)
def q_events_debounce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Debounce: drop repeats of the same (user, event_type) arriving
    within 60 s of the PREVIOUS RAW event — the log-cleaning pass that
    kills double-clicks and retry storms before counting. One lag
    window per (user, type); integer-microsecond gap compare (same
    convention as sessionize). Note the lag form compares to the raw
    predecessor; debounce-to-last-KEPT is a clamped fold — see
    events_capped_running_sum for that operator class.
    """
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    us = F.unix_micros("ts")
    prev = F.lag(us).over(w)
    return (
        events.withColumn("__prev", prev)
        .filter(F.col("__prev").isNull() | ((us - F.col("__prev")) > 60_000_000))
        .select("event_id", "user_id", "event_type", us.alias("ts_us"))
    )
