"""Statistics catalog: crosstab, exact correlation, approximate quantiles."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from mock_map_reduce_spark.functions.materialize import materialize
from mock_map_reduce_spark.operators.text import word_tokens
from mock_map_reduce_spark.registry import query
from mock_map_reduce_spark.sources import load_table


@query(
    "stat_crosstab",
    oracle="""
SELECT l_returnflag AS l_returnflag_l_linestatus,
       COUNT(CASE WHEN l_linestatus = 'F' THEN 1 END) AS "F",
       COUNT(CASE WHEN l_linestatus = 'O' THEN 1 END) AS "O"
FROM lineitem GROUP BY l_returnflag
""",
)
def q_stat_crosstab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contingency table via df.stat.crosstab (pairwise frequency counts)."""
    li = load_table(spark, sf_dir, "lineitem")
    ct = li.stat.crosstab("l_returnflag", "l_linestatus")
    return ct.select("l_returnflag_l_linestatus", "F", "O")


@query(
    "agg_correlation_exact",
    oracle="""
WITH s AS (
  SELECT COUNT(*) AS n,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sx,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sy,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sxx,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS syy,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sxy
  FROM lineitem
)
SELECT ROUND((n * sxy - sx * sy) / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)), 6) AS corr_qty_price,
       ROUND((n * sxy - sx * sy) / n / n, 2) AS cov_pop,
       n
FROM s
""",
)
def q_agg_correlation_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation + population covariance from exact decimal
    sums — deterministic where native corr()'s streaming float update
    is partition-order-dependent."""
    qx = F.col("l_quantity").cast("decimal(18,2)")
    py = F.col("l_extendedprice").cast("decimal(18,2)")
    s = load_table(spark, sf_dir, "lineitem").agg(
        F.count("*").alias("n"),
        F.sum(qx).cast("double").alias("sx"),
        F.sum(py).cast("double").alias("sy"),
        F.sum(qx * qx).cast("double").alias("sxx"),
        F.sum(py * py).cast("double").alias("syy"),
        F.sum(qx * py).cast("double").alias("sxy"),
    )
    n, sx, sy, sxx, syy, sxy = (F.col(c) for c in ["n", "sx", "sy", "sxx", "syy", "sxy"])
    corr = (n * sxy - sx * sy) / (F.sqrt(n * sxx - sx * sx) * F.sqrt(n * syy - sy * sy))
    cov = (n * sxy - sx * sy) / n / n
    return s.select(
        F.round(corr, 6).alias("corr_qty_price"),
        F.round(cov, 2).alias("cov_pop"),
        "n",
    )


_QUANTILES = [0.25, 0.5, 0.75, 0.99]


@query(
    "approx_quantiles",
    oracle=f"""
SELECT l_returnflag, q.quantile, TRUE AS within_tol
FROM (SELECT DISTINCT l_returnflag FROM lineitem)
CROSS JOIN (SELECT CAST(unnest({list(_QUANTILES)}) AS DOUBLE) AS quantile) q
""",
)
def q_approx_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_percentile — the mergeable-sketch quantile for 100 TB
    groups (exact percentile sorts the group; see agg_percentiles for
    the exact baseline).

    Oracle strategy (t-digest values differ per engine, so raw sketch
    output can never hash-match): per (group, quantile) the query
    emits ONLY a boolean — |approx − exact| ≤ 2% of the group's value
    range — computed against Spark's own exact percentile, whose
    engine parity `agg_percentiles` already proves. The oracle expects
    TRUE for every row, so any sketch-accuracy regression flips a
    cell and fails the hash. No cross-engine float ever reaches the
    compare.
    """
    li = load_table(spark, sf_dir, "lineitem")
    qlit = F.array(*[F.lit(q) for q in _QUANTILES])
    agg = li.groupBy("l_returnflag").agg(
        F.percentile_approx("l_extendedprice", _QUANTILES, 10000).alias("qs"),
        F.percentile("l_extendedprice", qlit).alias("exact"),
        (F.max("l_extendedprice") - F.min("l_extendedprice")).alias("rng"),
    )
    return agg.select(
        "l_returnflag", "rng", F.posexplode(F.arrays_zip("qs", "exact")).alias("pos", "z")
    ).select(
        "l_returnflag",
        F.element_at(qlit, F.col("pos") + 1).alias("quantile"),
        (F.abs(F.col("z.qs") - F.col("z.exact")) <= 0.02 * F.col("rng")).alias("within_tol"),
    )


@query(
    "ab_test_two_proportion",
    oracle="""
WITH u AS (
  SELECT user_id, CAST(user_id % 2 AS INT) AS variant,
         MAX(CASE WHEN event_type = 'purchase' AND value >= 150 THEN 1 ELSE 0 END) AS converted
  FROM events GROUP BY user_id
),
s AS (SELECT variant, COUNT(*) AS n, SUM(converted) AS conv FROM u GROUP BY 1),
w AS (
  SELECT MAX(CASE WHEN variant = 0 THEN n END) AS n0,
         MAX(CASE WHEN variant = 0 THEN conv END) AS c0,
         MAX(CASE WHEN variant = 1 THEN n END) AS n1,
         MAX(CASE WHEN variant = 1 THEN conv END) AS c1
  FROM s
)
SELECT CAST(n0 AS BIGINT) AS n0, CAST(c0 AS BIGINT) AS c0,
       CAST(n1 AS BIGINT) AS n1, CAST(c1 AS BIGINT) AS c1,
       ROUND(CAST(c0 AS DOUBLE) / n0, 6) AS rate0,
       ROUND(CAST(c1 AS DOUBLE) / n1, 6) AS rate1,
       ROUND((CAST(c1 AS DOUBLE) / n1 - CAST(c0 AS DOUBLE) / n0)
             / sqrt((CAST(c0 + c1 AS DOUBLE) / (n0 + n1))
                    * (1 - CAST(c0 + c1 AS DOUBLE) / (n0 + n1))
                    * (1.0 / n0 + 1.0 / n1)), 6) AS z_stat
FROM w
""",
)
def q_ab_test_two_proportion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B experiment readout: per-variant conversion (user_id parity
    as the deterministic assignment; conversion = any purchase with
    value >= 150) and the pooled two-proportion z statistic — the
    experimentation primitive over raw event logs. The per-user
    reduce (max-flag) and per-variant roll-up are two chained
    map-side-combined aggregations; the z arithmetic runs on a
    2-row table.
    """
    ev = load_table(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.max(
            F.when(
                (F.col("event_type") == "purchase") & (F.col("value") >= 150), 1
            ).otherwise(0)
        ).alias("converted")
    ).select((F.col("user_id") % 2).cast("int").alias("variant"), "converted")
    s = u.groupBy("variant").agg(
        F.count("*").alias("n"), F.sum("converted").alias("conv")
    )
    w = s.agg(
        F.max(F.when(F.col("variant") == 0, F.col("n"))).alias("n0"),
        F.max(F.when(F.col("variant") == 0, F.col("conv"))).alias("c0"),
        F.max(F.when(F.col("variant") == 1, F.col("n"))).alias("n1"),
        F.max(F.when(F.col("variant") == 1, F.col("conv"))).alias("c1"),
    )
    c0d, c1d = F.col("c0").cast("double"), F.col("c1").cast("double")
    p0, p1 = c0d / F.col("n0"), c1d / F.col("n1")
    pool = (c0d + c1d) / (F.col("n0") + F.col("n1"))
    z = (p1 - p0) / F.sqrt(
        pool * (F.lit(1) - pool) * (F.lit(1.0) / F.col("n0") + F.lit(1.0) / F.col("n1"))
    )
    return w.select(
        F.col("n0").cast("long").alias("n0"),
        F.col("c0").cast("long").alias("c0"),
        F.col("n1").cast("long").alias("n1"),
        F.col("c1").cast("long").alias("c1"),
        F.round(p0, 6).alias("rate0"),
        F.round(p1, 6).alias("rate1"),
        F.round(z, 6).alias("z_stat"),
    )


@query(
    "stat_chi_square_independence",
    oracle="""
WITH o AS (SELECT event_type, CAST(user_id % 2 AS INT) AS g FROM events),
c AS (SELECT event_type, g, COUNT(*) AS n FROM o GROUP BY 1, 2),
tot AS (SELECT SUM(n) AS n_tot FROM c),
rows_ AS (SELECT event_type, SUM(n) AS n_row FROM c GROUP BY 1),
cols AS (SELECT g, SUM(n) AS n_col FROM c GROUP BY 1)
SELECT ROUND(SUM(POW(c.n - CAST(r.n_row AS DOUBLE) * l.n_col / t.n_tot, 2)
             / (CAST(r.n_row AS DOUBLE) * l.n_col / t.n_tot)), 6) AS chi2,
       CAST((COUNT(DISTINCT c.event_type) - 1) * (COUNT(DISTINCT c.g) - 1) AS INT) AS dof
FROM c JOIN rows_ r USING (event_type) JOIN cols l USING (g) CROSS JOIN tot t
""",
)
def q_stat_chi_square_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence test of event_type vs a deterministic
    user cohort — the contingency-table significance companion to
    stat_crosstab. Expected counts derive from row/column marginals
    of the (types × 2)-cell table; all joins run at contingency-table
    cardinality, so only the initial count aggregation touches
    corpus-scale data.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", (F.col("user_id") % 2).cast("int").alias("g")
    )
    c = ev.groupBy("event_type", "g").agg(F.count("*").alias("n"))
    tot = c.agg(F.sum("n").alias("n_tot"))
    rows_ = c.groupBy("event_type").agg(F.sum("n").alias("n_row"))
    cols = c.groupBy("g").agg(F.sum("n").alias("n_col"))
    j = (
        c.join(F.broadcast(rows_), "event_type")
        .join(F.broadcast(cols), "g")
        .crossJoin(F.broadcast(tot))
    )
    expected = F.col("n_row").cast("double") * F.col("n_col") / F.col("n_tot")
    return j.agg(
        F.round(F.sum(F.pow(F.col("n") - expected, 2) / expected), 6).alias("chi2"),
        (
            (F.countDistinct("event_type") - 1) * (F.countDistinct("g") - 1)
        ).cast("int").alias("dof"),
    )


_CMS_W = 16  # buckets per hash row (demo-sized so collisions actually occur)
_CMS_D = 4   # independent hash rows
_CMS_PROBES = ("spark", "data", "merge", "zzznotaword")


def _cms_bucket_sql(i: str, word: str) -> str:
    """0..15 bucket from the first hex nibble of a seeded md5 — the
    dedup-family md5 idiom, bit-identical in both engines."""
    return (
        f"strpos('0123456789abcdef', substring(md5(CAST({i} AS VARCHAR) || '|' || {word}), 1, 1)) - 1"
    )


@query(
    "sketch_count_min",
    oracle=f"""
WITH toks AS (
  SELECT list_filter(string_split_regex(lower(text), '[^a-z]+'), x -> x <> '') AS w
  FROM documents
),
vocab AS (
  SELECT word, CAST(count(*) AS BIGINT) AS cnt
  FROM (SELECT unnest(w) AS word FROM toks) GROUP BY word
),
cms AS (
  SELECT i, {_cms_bucket_sql("i", "word")} AS bucket, SUM(cnt) AS bsum
  FROM vocab CROSS JOIN (SELECT unnest(generate_series(0, {_CMS_D - 1})) AS i)
  GROUP BY 1, 2
),
probes AS (
  SELECT unnest(['{"','".join(_CMS_PROBES)}']) AS word
),
pb AS (
  SELECT word, i, {_cms_bucket_sql("i", "word")} AS bucket
  FROM probes CROSS JOIN (SELECT unnest(generate_series(0, {_CMS_D - 1})) AS i)
),
est AS (
  SELECT pb.word, CAST(MIN(COALESCE(cms.bsum, 0)) AS BIGINT) AS cms_est
  FROM pb LEFT JOIN cms ON pb.i = cms.i AND pb.bucket = cms.bucket
  GROUP BY pb.word
)
SELECT est.word, CAST(COALESCE(vocab.cnt, 0) AS BIGINT) AS exact_count,
       est.cms_est, est.cms_est >= COALESCE(vocab.cnt, 0) AS is_overestimate
FROM est LEFT JOIN vocab ON est.word = vocab.word
""",
)
def q_sketch_count_min(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch over corpus word counts, probed for a fixed
    word set — ENGINE-EXACT (md5-seeded buckets, the dedup-family
    idiom), so unlike the DataSketches HLL/t-digest entries the whole
    sketch is bit-for-bit oracle-checked, not accuracy-gated.

    The sketch completes the mergeable-summary family: HLL (distinct),
    t-digest (quantiles), approx_top_k (heavy hitters), CMS (point
    frequency). Build is two tiny exchanges (vocab, then d x w bucket
    sums — the CMS table is d*w rows at ANY corpus size); probing
    joins the broadcast sketch. The d bucket sums per probe take MIN —
    the classic CMS guarantee est >= exact surfaces as an
    is_overestimate column the oracle requires TRUE for all probes
    (including the absent word, whose exact count is 0). w=16 is
    demo-sized so collisions really happen; production widens w, the
    plan is unchanged. Mergeability: bucket sums are plain SUMs, so
    per-shard CMS tables union+re-sum exactly like
    agg_partial_merge_variance states.
    """
    docs = load_table(spark, sf_dir, "documents")
    vocab = (
        docs.select(F.explode(word_tokens("text")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )

    def bucket(i: int, word_col: str) -> F.Column:
        return F.expr(
            f"instr('0123456789abcdef', substring(md5(concat('{i}|', {word_col})), 1, 1)) - 1"
        ).cast("long")

    hb = F.explode(
        F.array(
            *[
                F.struct(F.lit(i).cast("long").alias("i"), bucket(i, "word").alias("bucket"))
                for i in range(_CMS_D)
            ]
        )
    ).alias("hb")
    cms = (
        vocab.select("cnt", hb)
        .select("hb.i", "hb.bucket", "cnt")
        .groupBy("i", "bucket")
        .agg(F.sum("cnt").alias("bsum"))
    )
    probes = spark.range(1).select(
        F.explode(F.array(*[F.lit(p) for p in _CMS_PROBES])).alias("word")
    )
    pb = probes.select("word", hb).select("word", "hb.i", "hb.bucket")
    est = (
        pb.join(F.broadcast(cms), ["i", "bucket"], "left")
        .groupBy("word")
        .agg(F.min(F.coalesce(F.col("bsum"), F.lit(0))).cast("long").alias("cms_est"))
    )
    return est.join(F.broadcast(vocab), "word", "left").select(
        "word",
        F.coalesce(F.col("cnt"), F.lit(0)).cast("long").alias("exact_count"),
        "cms_est",
        (F.col("cms_est") >= F.coalesce(F.col("cnt"), F.lit(0))).alias("is_overestimate"),
    )


@query(
    "analyze_orders_profile",
    oracle="""
WITH base AS (
  SELECT COUNT(*) AS n FROM orders
),
cols AS (
  SELECT 'o_orderkey' AS col, COUNT(o_orderkey) AS n_nonnull,
         COUNT(DISTINCT o_orderkey) AS n_distinct,
         CAST(MIN(o_orderkey) AS VARCHAR) AS min_val, CAST(MAX(o_orderkey) AS VARCHAR) AS max_val
  FROM orders
  UNION ALL
  SELECT 'o_custkey', COUNT(o_custkey), COUNT(DISTINCT o_custkey),
         CAST(MIN(o_custkey) AS VARCHAR), CAST(MAX(o_custkey) AS VARCHAR)
  FROM orders
  UNION ALL
  SELECT 'o_orderstatus', COUNT(o_orderstatus), COUNT(DISTINCT o_orderstatus),
         MIN(o_orderstatus), MAX(o_orderstatus)
  FROM orders
  UNION ALL
  SELECT 'o_orderpriority', COUNT(o_orderpriority), COUNT(DISTINCT o_orderpriority),
         MIN(o_orderpriority), MAX(o_orderpriority)
  FROM orders
  UNION ALL
  SELECT 'o_orderdate', COUNT(o_orderdate), COUNT(DISTINCT o_orderdate),
         strftime(CAST(MIN(o_orderdate) AS TIMESTAMP), '%Y-%m-%d %H:%M:%S'),
         strftime(CAST(MAX(o_orderdate) AS TIMESTAMP), '%Y-%m-%d %H:%M:%S')
  FROM orders
)
SELECT col, CAST(b.n AS BIGINT) AS n_rows,
       CAST(b.n - n_nonnull AS BIGINT) AS n_null,
       CAST(n_distinct AS BIGINT) AS n_distinct,
       min_val, max_val
FROM cols CROSS JOIN base b
""",
)
def q_analyze_orders_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE-style column profile: one row per column with row/null/
    NDV counts and min/max rendered as strings — the optimizer-stats
    collection every warehouse runs after a load (Spark's own
    `ANALYZE TABLE ... COMPUTE STATISTICS FOR COLUMNS` shape).

    All five columns profile in ONE aggregate over one scan; Catalyst
    expands the multi-count-distinct into the standard EXPAND plan
    (rows × #distinct-aggs before partial aggregation). Exact NDV is
    the point at this profile's cadence; a 100 TB hourly profile would
    swap count_distinct for approx_count_distinct (the engine's HLL
    surface — see approx_distinct/approx_distinct_merged) without
    changing the query shape.
    """
    o = load_table(spark, sf_dir, "orders")
    n = F.count(F.lit(1))
    # min/max aggregate on the NATIVE type (a string-rendered min would
    # compare lexicographically: "9999" > "14999"); rendering to the
    # profile's uniform string column happens on the aggregated scalar.
    ts_render = lambda c: F.date_format(c, "yyyy-MM-dd HH:mm:ss")  # noqa: E731
    str_render = lambda c: c.cast("string")  # noqa: E731
    specs = [
        ("o_orderkey", str_render),
        ("o_custkey", str_render),
        ("o_orderstatus", str_render),
        ("o_orderpriority", str_render),
        ("o_orderdate", ts_render),
    ]
    aggs = [n.alias("n_rows")]
    for name, render in specs:
        c = F.col(name)
        aggs += [
            (n - F.count(c)).alias(f"{name}__nulls"),
            F.countDistinct(c).alias(f"{name}__ndv"),
            render(F.min(c)).alias(f"{name}__min"),
            render(F.max(c)).alias(f"{name}__max"),
        ]
    wide = o.agg(*aggs)
    stack = ", ".join(
        f"'{name}', {name}__nulls, {name}__ndv, {name}__min, {name}__max"
        for name, _ in specs
    )
    return wide.select(
        F.expr(
            f"stack({len(specs)}, {stack}) AS (col, n_null, n_distinct, min_val, max_val)"
        ),
        F.col("n_rows").cast("long").alias("n_rows"),
    ).select(
        "col",
        "n_rows",
        F.col("n_null").cast("long").alias("n_null"),
        F.col("n_distinct").cast("long").alias("n_distinct"),
        "min_val",
        "max_val",
    )


@query(
    "diag_join_key_skew",
    oracle="""
WITH kc AS (
  SELECT user_id, COUNT(*) AS c FROM events GROUP BY 1
),
s AS (
  SELECT CAST(SUM(c) AS BIGINT) AS n_rows, CAST(COUNT(*) AS BIGINT) AS n_keys,
         CAST(MAX(c) AS BIGINT) AS max_per_key
  FROM kc
),
h AS (
  SELECT user_id AS heaviest_key FROM kc ORDER BY c DESC, user_id ASC LIMIT 1
)
SELECT n_rows, n_keys, max_per_key,
       ROUND(CAST(n_rows AS DOUBLE) / n_keys, 6) AS avg_per_key,
       ROUND(CAST(max_per_key AS DOUBLE) * n_keys / n_rows, 6) AS skew_ratio,
       heaviest_key
FROM s CROSS JOIN h
""",
)
def q_diag_join_key_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew profiler: the pre-flight diagnostic that decides
    between a plain shuffle join, AQE skew splitting, and explicit
    salting (operators/skew.py) for a prospective key. skew_ratio =
    max_per_key / avg_per_key; ~1 means uniform, tens+ means the
    hottest key serializes one reducer at 100 TB and the join wants
    salt.

    Two cheap aggregations (key counts, then a 5-number roll-up of
    the counts) plus a 1-row TakeOrdered for the heaviest key — the
    profile never materializes anything corpus-scale.
    """
    kc = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    s = kc.agg(
        F.sum("c").cast("long").alias("n_rows"),
        F.count(F.lit(1)).cast("long").alias("n_keys"),
        F.max("c").cast("long").alias("max_per_key"),
    )
    h = (
        kc.orderBy(F.col("c").desc(), F.col("user_id").asc())
        .limit(1)
        .select(F.col("user_id").alias("heaviest_key"))
    )
    return s.crossJoin(h).select(
        "n_rows",
        "n_keys",
        "max_per_key",
        F.round(F.col("n_rows").cast("double") / F.col("n_keys"), 6).alias("avg_per_key"),
        F.round(
            F.col("max_per_key").cast("double") * F.col("n_keys") / F.col("n_rows"), 6
        ).alias("skew_ratio"),
        "heaviest_key",
    )


_KMV_K = 64
_KMV_SALTS = 8
_KMV_M = 16**15  # hash domain: 15 hex chars = 2^60
# KMV standard error is 1/sqrt(K-1); gate at 5 sigma like the HLL entries.
_KMV_BOUND = 5.0 / (_KMV_K - 1) ** 0.5


KMV_DISTINCT_ORACLE = f"""
WITH d AS (
  SELECT DISTINCT event_type,
         CAST(('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
  FROM events
),
r AS (SELECT event_type, h, ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) AS rn FROM d),
s AS (
  SELECT event_type,
         SUM(CASE WHEN rn <= {_KMV_K} THEN 1 ELSE 0 END) AS n_kept,
         MAX(CASE WHEN rn = {_KMV_K} THEN h END) AS kth
  FROM r GROUP BY 1
),
x AS (SELECT event_type, COUNT(DISTINCT user_id) AS exact_distinct FROM events GROUP BY 1),
e AS (
  SELECT s.event_type, CAST(s.n_kept AS BIGINT) AS n_kept,
         CASE WHEN s.n_kept < {_KMV_K} THEN CAST(s.n_kept AS DOUBLE)
              ELSE {_KMV_K - 1}.0 * CAST({_KMV_M} AS DOUBLE) / CAST(s.kth AS DOUBLE) END AS est_distinct,
         CAST(x.exact_distinct AS BIGINT) AS exact_distinct
  FROM s JOIN x USING (event_type)
)
SELECT event_type, n_kept, est_distinct, exact_distinct,
       abs(est_distinct / CAST(exact_distinct AS DOUBLE) - 1.0) <= {_KMV_BOUND!r} AS within_bound
FROM e
"""


@query("sketch_kmv_distinct", oracle=KMV_DISTINCT_ORACLE)
def q_sketch_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-minimum-values distinct sketch (Bar-Yossef et al.) — the
    mergeable distinct-count summary that, unlike HLL's opaque binary
    state, is ENGINE-EXACT here: md5-derived 60-bit hashes make the
    kept-hash set, the estimator (K-1)/h_K, and even the 5-sigma
    accuracy flag bit-identical in DuckDB, so the sketch THEOREM is in
    the hash gate (the HLL entries can only accuracy-band their
    estimates). Distinct users per event_type, K=64.

    Scale/mergeability: after the (key, hash) distinct, hashes salt
    into {_KMV_SALTS} groups whose per-salt K-smallest lists are
    BOUNDED partials (K longs each — the sketch property); the final
    merge re-sorts K x {_KMV_SALTS} values per key. K smallest of the
    union == K smallest over per-salt K-smallest, so the two-level
    plan equals the oracle's direct global ranking — the same
    partial/merge algebra as the HLL and variance-state entries, with
    ~K longs per shard travelling instead of every distinct value.
    Small regime: under K distinct, the sketch IS the exact count.
    """
    ev = load_table(spark, sf_dir, "events")
    h = F.conv(
        F.substring(F.md5(F.col("user_id").cast("string")), 1, 15), 16, 10
    ).cast("long")
    d = ev.select("event_type", h.alias("h")).distinct()
    partial = d.groupBy(
        "event_type", F.pmod(F.col("h"), F.lit(_KMV_SALTS)).alias("salt")
    ).agg(F.slice(F.sort_array(F.collect_list("h")), 1, _KMV_K).alias("hs"))
    merged = partial.groupBy("event_type").agg(
        F.slice(F.sort_array(F.flatten(F.collect_list("hs"))), 1, _KMV_K).alias("hs")
    )
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_distinct")
    )
    est = F.when(
        F.size("hs") < _KMV_K, F.size("hs").cast("double")
    ).otherwise(
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


def _kmv_global_hashes(df: DataFrame, value_col: str) -> DataFrame:
    """One-row (hs: array<long>) global KMV sketch of a value column —
    the salted bounded-partial build from sketch_kmv_distinct without
    the grouping key."""
    h = F.conv(
        F.substring(F.md5(F.col(value_col).cast("string")), 1, 15), 16, 10
    ).cast("long")
    d = df.select(h.alias("h")).distinct()
    partial = d.groupBy(F.pmod(F.col("h"), F.lit(_KMV_SALTS)).alias("salt")).agg(
        F.slice(F.sort_array(F.collect_list("h")), 1, _KMV_K).alias("hs")
    )
    return partial.agg(
        F.slice(F.sort_array(F.flatten(F.collect_list("hs"))), 1, _KMV_K).alias("hs")
    )


@query(
    "sketch_kmv_jaccard",
    oracle=f"""
WITH ah AS (
  SELECT DISTINCT CAST(('0x' || substring(md5(CAST(o_custkey AS VARCHAR)), 1, 15)) AS BIGINT) AS h
  FROM orders WHERE o_orderpriority = '1-URGENT'
),
bh AS (
  SELECT DISTINCT CAST(('0x' || substring(md5(CAST(o_custkey AS VARCHAR)), 1, 15)) AS BIGINT) AS h
  FROM orders WHERE o_orderpriority = '2-HIGH'
),
atop AS (SELECT h FROM ah ORDER BY h LIMIT {_KMV_K}),
btop AS (SELECT h FROM bh ORDER BY h LIMIT {_KMV_K}),
utop AS (SELECT h FROM (SELECT h FROM atop UNION SELECT h FROM btop) ORDER BY h LIMIT {_KMV_K}),
u AS (SELECT COUNT(*) AS n_u, MAX(h) AS kth FROM utop),
ki AS (
  SELECT COUNT(*) AS k_int FROM utop
  WHERE h IN (SELECT h FROM atop) AND h IN (SELECT h FROM btop)
),
x AS (
  SELECT SUM(CASE WHEN in_a THEN 1 ELSE 0 END) AS n_a,
         SUM(CASE WHEN in_b THEN 1 ELSE 0 END) AS n_b,
         SUM(CASE WHEN in_a AND in_b THEN 1 ELSE 0 END) AS n_i
  FROM (
    SELECT o_custkey, bool_or(o_orderpriority = '1-URGENT') AS in_a,
           bool_or(o_orderpriority = '2-HIGH') AS in_b
    FROM orders WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
    GROUP BY o_custkey
  )
),
e AS (
  SELECT CAST(u.n_u AS BIGINT) AS n_union_kept,
         CASE WHEN u.n_u < {_KMV_K} THEN CAST(u.n_u AS DOUBLE)
              ELSE {_KMV_K - 1}.0 * CAST({_KMV_M} AS DOUBLE) / CAST(u.kth AS DOUBLE) END AS union_est,
         CAST(ki.k_int AS DOUBLE) / CAST(u.n_u AS DOUBLE) AS jaccard_est,
         CAST(x.n_a AS BIGINT) AS n_a, CAST(x.n_b AS BIGINT) AS n_b,
         CAST(x.n_i AS DOUBLE) / (x.n_a + x.n_b - x.n_i) AS jaccard_exact
  FROM u, ki, x
)
SELECT n_union_kept, union_est, jaccard_est, jaccard_est * union_est AS intersection_est,
       n_a, n_b, jaccard_exact
FROM e
""",
)
def q_sketch_kmv_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV SET OPERATIONS — the capability HLL lacks: from two K=64
    sketches alone, estimate the union, Jaccard, and intersection of
    the urgent-priority vs high-priority customer sets (Beyer et al.'s
    KMV synopses). jaccard_est = |A∩B∩topK(A∪B)| / K over the merged
    sketch, intersection_est = jaccard_est x union_est — every value,
    including the exact Jaccard it sits next to, bit-identical in the
    DuckDB twin because the sketch is engine-exact md5 arithmetic.

    Scale: both sketches build with the bounded salted partials of
    sketch_kmv_distinct (~K longs per shard); the set algebra then
    runs on two K-length arrays in a 1-row x 1-row combine — constant
    work regardless of corpus size, and sketches of shards stored as
    arrays union into corpus sketches without touching raw keys.
    """
    orders = load_table(spark, sf_dir, "orders")
    a = _kmv_global_hashes(
        orders.filter(F.col("o_orderpriority") == "1-URGENT"), "o_custkey"
    ).select(F.col("hs").alias("a_hs"))
    b = _kmv_global_hashes(
        orders.filter(F.col("o_orderpriority") == "2-HIGH"), "o_custkey"
    ).select(F.col("hs").alias("b_hs"))
    exact = (
        orders.filter(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
        .groupBy("o_custkey")
        .agg(
            F.max(F.col("o_orderpriority") == "1-URGENT").alias("in_a"),
            F.max(F.col("o_orderpriority") == "2-HIGH").alias("in_b"),
        )
        .agg(
            F.sum(F.col("in_a").cast("long")).alias("n_a"),
            F.sum(F.col("in_b").cast("long")).alias("n_b"),
            F.sum((F.col("in_a") & F.col("in_b")).cast("long")).alias("n_i"),
        )
    )
    utop = F.slice(
        F.sort_array(F.array_distinct(F.concat("a_hs", "b_hs"))), 1, _KMV_K
    )
    row = a.crossJoin(b).crossJoin(exact).select(
        utop.alias("utop"), "a_hs", "b_hs", "n_a", "n_b", "n_i"
    )
    union_est = F.when(
        F.size("utop") < _KMV_K, F.size("utop").cast("double")
    ).otherwise(
        F.lit(float(_KMV_K - 1))
        * F.lit(float(_KMV_M))
        / F.element_at("utop", _KMV_K).cast("double")
    )
    # Beyer et al. estimator: k_int / |combined sketch| — divide by the
    # MERGED sketch size, not the fixed K, so the small-set regime
    # (union carrying fewer than K hashes) is unbiased.
    jac_est = (
        F.size(F.array_intersect(F.array_intersect("utop", "a_hs"), "b_hs")).cast(
            "double"
        )
        / F.size("utop").cast("double")
    )
    return row.select(
        F.size("utop").cast("long").alias("n_union_kept"),
        union_est.alias("union_est"),
        jac_est.alias("jaccard_est"),
        (jac_est * union_est).alias("intersection_est"),
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        (
            F.col("n_i").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("n_i")).cast("double")
        ).alias("jaccard_exact"),
    )


@query(
    "stat_ks_two_sample",
    oracle="""
WITH g AS (
  SELECT o_totalprice AS v,
         CASE WHEN o_orderdate < TIMESTAMP '1998-01-01' THEN 0 ELSE 1 END AS grp
  FROM orders
),
c AS (
  SELECT v,
         COUNT(*) FILTER (WHERE grp = 0) AS c1,
         COUNT(*) FILTER (WHERE grp = 1) AS c2
  FROM g GROUP BY v
),
t AS (SELECT SUM(c1) AS n1, SUM(c2) AS n2 FROM c),
cum AS (
  SELECT SUM(c1) OVER (ORDER BY v) AS k1,
         SUM(c2) OVER (ORDER BY v) AS k2
  FROM c
)
SELECT CAST(t.n1 AS BIGINT) AS n1,
       CAST(t.n2 AS BIGINT) AS n2,
       CAST(MAX(ABS(k1 * t.n2 - k2 * t.n1)) AS BIGINT) AS d_num,
       CAST(MAX(ABS(k1 * t.n2 - k2 * t.n1)) AS DOUBLE)
         / CAST(t.n1 * t.n2 AS DOUBLE) AS d_stat
FROM cum CROSS JOIN t
GROUP BY t.n1, t.n2
""",
)
def q_stat_ks_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample Kolmogorov-Smirnov statistic — the data-DRIFT
    monitor: did o_totalprice's distribution shift between the pre-
    and post-1998 order cohorts? D = max_v |F1(v) - F2(v)| computed as
    a ratio of exact integers: D_num = max_v |cum1(v)*n2 - cum2(v)*n1|
    over the distinct-value histogram, then ONE IEEE division by
    n1*n2 — hash-exact across engines (the same all-integer-then-one-
    division discipline as the Jaccard family).

    The textbook formulation is a cumulative window ORDER BY value
    with no partition — one task sees every row, the canonical 100 TB
    scale-killer. Here the empirical CDFs use the range-partitioned
    prefix-sum idiom (layout_global_row_number generalized from row
    numbering to arbitrary prefix AGGREGATES): histogram first
    (groupBy(v) with map-side combine collapses the corpus to the
    distinct-value table), range-repartition on v, per-partition
    sums collected (a partition-count-sized driver collect),
    cumulative offsets broadcast back as a literal map, and the
    cumsum window runs WITHIN each contiguous range partition. The
    final agg is a 1-row max. No task ever materializes more than its
    value range; the only corpus-scale exchange is the histogram's.
    """
    from pyspark.sql.window import Window

    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_totalprice").alias("v"),
        (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
        .cast("int")
        .alias("pre"),
    )
    c = orders.groupBy("v").agg(
        F.sum("pre").alias("c1"),
        F.sum(F.lit(1) - F.col("pre")).alias("c2"),
    )
    n_parts = spark.sparkContext.defaultParallelism
    d = (
        c.repartitionByRange(n_parts, "v")
        .withColumn("__pid", F.spark_partition_id())
    )
    d = materialize(d, eager=False)  # pinned by the sums collect below
    sums = {
        r["__pid"]: (r["s1"] or 0, r["s2"] or 0)
        for r in d.groupBy("__pid")
        .agg(F.sum("c1").alias("s1"), F.sum("c2").alias("s2"))
        .collect()
    }
    off1: dict[int, int] = {}
    off2: dict[int, int] = {}
    a1 = a2 = 0
    for pid in sorted(sums):
        off1[pid], off2[pid] = a1, a2
        a1 += sums[pid][0]
        a2 += sums[pid][1]
    n1, n2 = a1, a2
    m1 = F.create_map(*[F.lit(x) for pid in sorted(off1) for x in (pid, off1[pid])])
    m2 = F.create_map(*[F.lit(x) for pid in sorted(off2) for x in (pid, off2[pid])])
    w = Window.partitionBy("__pid").orderBy("v")
    cum = d.select(
        (F.sum("c1").over(w) + m1[F.col("__pid")]).alias("k1"),
        (F.sum("c2").over(w) + m2[F.col("__pid")]).alias("k2"),
    )
    diff = F.abs(F.col("k1") * F.lit(n2) - F.col("k2") * F.lit(n1))
    return cum.agg(
        F.lit(n1).cast("long").alias("n1"),
        F.lit(n2).cast("long").alias("n2"),
        F.max(diff).cast("long").alias("d_num"),
        (F.max(diff).cast("double") / F.lit(n1 * n2).cast("double")).alias("d_stat"),
    )


_PSI_W = 50000  # fixed bucket width, histogram_totalprice's convention


@query(
    "stat_psi_drift",
    oracle=f"""
WITH g AS (
  SELECT CAST(floor(o_totalprice / {_PSI_W}) AS BIGINT) AS bucket,
         CASE WHEN o_orderdate < TIMESTAMP '1998-01-01' THEN 1 ELSE 0 END AS pre
  FROM orders
),
c AS (
  SELECT bucket,
         CAST(SUM(pre) AS BIGINT) AS c1,
         CAST(SUM(1 - pre) AS BIGINT) AS c2
  FROM g GROUP BY bucket
),
t AS (SELECT CAST(SUM(c1) AS BIGINT) AS n1, CAST(SUM(c2) AS BIGINT) AS n2,
             CAST(COUNT(*) AS BIGINT) AS nb FROM c),
p AS (
  SELECT bucket, c1, c2, n1, n2, nb,
         (c1 + 0.5) / (n1 + 0.5 * nb) AS p1,
         (c2 + 0.5) / (n2 + 0.5 * nb) AS p2
  FROM c CROSS JOIN t
)
SELECT bucket, c1, c2, n1, n2, nb,
       CAST(round(ln(p1 / p2) * 1000000) AS BIGINT) AS l_micro,
       CAST(round((p1 - p2) * 1000000000) AS BIGINT) AS d_nano,
       CAST(round(ln(p1 / p2) * 1000000) AS BIGINT)
         * CAST(round((p1 - p2) * 1000000000) AS BIGINT) AS term_femto
FROM p
""",
)
def q_stat_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population stability index — the BINNED drift monitor beside
    stat_ks_two_sample's sup-norm: per fixed-width o_totalprice
    bucket (histogram_totalprice's width), the pre-/post-1998 cohort
    shares with +0.5 Laplace smoothing (so a bucket empty on one side
    contributes a finite term), and the per-bucket PSI term
    (p1 - p2) * ln(p1/p2) in integer femto-units. PSI itself is
    sum(term_femto) / 1e15 (pinned against an independent Python
    model in test_governance; > 0.25 is the conventional "major
    shift" alarm).

    Exactness: cohort shares are ratios of exact integers (identical
    doubles in both engines); ln's last-ulp engine skew is quantized
    away by micro-unit rounding (text_bigram_logprob's discipline),
    and the term product is exact int64 x int64. Plan: ONE map-side-
    combinable groupBy at bucket cardinality, a 1-row totals
    crossJoin broadcast back, and everything after runs on the
    bucket-count-sized table. The monitor's cost is the fact scan.
    """
    o = load_table(spark, sf_dir, "orders").select(
        F.floor(F.col("o_totalprice") / _PSI_W).cast("long").alias("bucket"),
        (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
        .cast("int")
        .alias("pre"),
    )
    c = o.groupBy("bucket").agg(
        F.sum("pre").cast("long").alias("c1"),
        F.sum(F.lit(1) - F.col("pre")).cast("long").alias("c2"),
    )
    t = c.agg(
        F.sum("c1").cast("long").alias("n1"),
        F.sum("c2").cast("long").alias("n2"),
        F.count(F.lit(1)).cast("long").alias("nb"),
    )
    p = c.crossJoin(F.broadcast(t))
    p1 = (F.col("c1") + 0.5) / (F.col("n1") + 0.5 * F.col("nb"))
    p2 = (F.col("c2") + 0.5) / (F.col("n2") + 0.5 * F.col("nb"))
    l_micro = F.round(F.log(p1 / p2) * 1000000).cast("long")
    d_nano = F.round((p1 - p2) * 1000000000).cast("long")
    return p.select(
        "bucket", "c1", "c2", "n1", "n2", "nb",
        l_micro.alias("l_micro"),
        d_nano.alias("d_nano"),
        (l_micro * d_nano).alias("term_femto"),
    )
