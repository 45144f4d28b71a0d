"""Scale-technique catalog: salting, grouping sets, grouped Pandas UDF.

salted_word_count shares the plain word_count oracle — proving the
skew-mitigation rewrite is result-identical is the whole point.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from mock_map_reduce_spark.functions.arrowcols import rows_batch, schema as arrow_schema
from mock_map_reduce_spark.functions.materialize import materialize
from mock_map_reduce_spark.functions.zipimports import reuse_zip_directories
from mock_map_reduce_spark.operators.skew import salted_word_count
from mock_map_reduce_spark.registry import query
from mock_map_reduce_spark.sources import load_table, register_views

_WORDS_ORACLE = """
WITH words AS (
  SELECT unnest(string_split_regex(text, '[^A-Za-z]+')) AS word
  FROM documents
)
SELECT word, count(*) AS count
FROM words WHERE word <> ''
GROUP BY word
"""


@query("word_count_salted", oracle=_WORDS_ORACLE)
def q_word_count_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-key-safe word count: salt -> partial -> merge, same results."""
    return salted_word_count(load_table(spark, sf_dir, "documents"))


_GROUPING_SETS = """
SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n_orders
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
"""


@query("grouping_sets_orders", oracle=_GROUPING_SETS)
def q_grouping_sets_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_views(spark, sf_dir)
    return spark.sql(_GROUPING_SETS)


@query(
    "pandas_zscore_per_segment",
    oracle="""
SELECT c_custkey, c_mktsegment,
       ROUND((c_acctbal - avg(c_acctbal) OVER (PARTITION BY c_mktsegment))
             / stddev_pop(c_acctbal) OVER (PARTITION BY c_mktsegment), 4) AS z
FROM customer
""",
)
def q_pandas_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map Pandas UDF (applyInPandas): per-segment z-score.

    The UDAF-shaped slot of the reference's generic reduce contract
    (SURVEY UD1) on the Arrow path: each group arrives as one pandas
    DataFrame. Rounded to 4 so pandas' pairwise float summation and
    the oracle's streaming aggregate agree.
    """
    import pandas as pd

    def per_segment(pdf: pd.DataFrame) -> pd.DataFrame:
        reuse_zip_directories()
        m = pdf["c_acctbal"].mean()
        sd = pdf["c_acctbal"].std(ddof=0)
        out = pdf[["c_custkey", "c_mktsegment"]].copy()
        out["z"] = ((pdf["c_acctbal"] - m) / sd).round(4)
        return out

    cust = load_table(spark, sf_dir, "customer")
    return cust.groupBy("c_mktsegment").applyInPandas(
        per_segment, "c_custkey long, c_mktsegment string, z double"
    )


# --- mergeable aggregation state (two-level partial -> merge) --------------

_PARTIAL_MERGE_ORACLE = """
WITH s AS (
  SELECT l_returnflag,
         COUNT(*) AS n,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sm,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                  * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sq
  FROM lineitem GROUP BY l_returnflag
)
SELECT l_returnflag, n,
       ROUND(sm / n, 2) AS mean_price,
       ROUND((sq - sm * sm / n) / n, 2) AS var_pop
FROM s
"""


@query("agg_partial_merge_variance", oracle=_PARTIAL_MERGE_ORACLE)
def q_agg_partial_merge_variance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-level aggregation through an explicit MERGEABLE state:
    (n, Σx, Σx²) per (group, shard), then merged across shards —
    checked against the oracle's direct one-level aggregation.

    This is the re-aggregatable-summary pattern 100 TB pipelines live
    on: daily/per-file partial states are tiny, exactly mergeable
    (decimal sums are associative — no float drift), and the final
    variance/mean is a pure function of the merged state. The shard
    key is pmod(l_orderkey, 16), so the first level also demonstrates
    that ANY partitioning of the input yields the same final answer.
    """
    from pyspark.sql import functions as F

    dec = F.col("l_extendedprice").cast("decimal(18,2)")
    li = load_table(spark, sf_dir, "lineitem")
    partials = (
        li.groupBy("l_returnflag", F.pmod("l_orderkey", F.lit(16)).alias("shard"))
        .agg(
            F.count("*").alias("n"),
            F.sum(dec).alias("sm_d"),
            F.sum(dec * dec).alias("sq_d"),
        )
    )
    merged = partials.groupBy("l_returnflag").agg(
        F.sum("n").alias("n"),
        F.sum("sm_d").cast("double").alias("sm"),
        F.sum("sq_d").cast("double").alias("sq"),
    )
    n, sm, sq = F.col("n"), F.col("sm"), F.col("sq")
    return merged.select(
        "l_returnflag",
        "n",
        F.round(sm / n, 2).alias("mean_price"),
        F.round((sq - sm * sm / n) / n, 2).alias("var_pop"),
    )


# --- Z-order (Morton) layout clustering ------------------------------------

_Z_BITS = 12
_Z_BUCKET_SHIFT = 14


def _zorder_oracle() -> str:
    from mock_map_reduce_spark.operators.layout import zorder_sql

    z = zorder_sql("x", "y", _Z_BITS)
    return f"""
WITH d AS (
  SELECT o_orderkey,
         o_custkey % 4096 AS x,
         date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) % 4096 AS y
  FROM orders
)
SELECT o_orderkey, {z} AS z, CAST({z} >> {_Z_BUCKET_SHIFT} AS BIGINT) AS zbucket
FROM d
"""


@query("layout_zorder_orders", oracle=_zorder_oracle())
def q_layout_zorder_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering key over (customer, order-day).

    Bit-interleaving both keys gives ONE physical sort order under
    which min/max zone maps stay tight for range predicates on EITHER
    column — the lakehouse layout trick for 100 TB fact tables whose
    queries filter by tenant AND by date. `zbucket = z >> 14` is the
    range-partition a writer would split files on. Pure shift/mask
    column arithmetic (operators/layout.py) — whole-stage codegen, no
    UDF, and the oracle re-derives the interleave from the same
    generator.
    """
    from pyspark.sql import functions as F

    from mock_map_reduce_spark.operators.layout import zorder_layout

    orders = load_table(spark, sf_dir, "orders")
    d = orders.select(
        "o_orderkey",
        F.pmod("o_custkey", F.lit(4096)).alias("x"),
        F.pmod(
            F.datediff(F.to_date("o_orderdate"), F.to_date(F.lit("1992-01-01"))),
            F.lit(4096),
        ).alias("y"),
    )
    return zorder_layout(d, F.col("x"), F.col("y"), id_col="o_orderkey",
                         bits=_Z_BITS, bucket_shift=_Z_BUCKET_SHIFT)


_SALTED_JOIN_ORACLE = """
SELECT o_orderkey, c_custkey, c_mktsegment
FROM orders JOIN customer ON o_custkey = c_custkey
"""


@query("join_salted_skew", oracle=_SALTED_JOIN_ORACLE)
def q_join_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-salted equi-join sharing a PLAIN join oracle — proving the
    salt rewrite is result-identical, exactly as word_count_salted
    proves it for aggregation. The join-side recipe for hot keys that
    defeat both the broadcast threshold and AQE's skew split: big side
    scatters across num_salts sub-keys, small side replicates
    num_salts×, the hot key spreads over num_salts reducers.
    """
    from mock_map_reduce_spark.operators.skew import salted_join

    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    joined = salted_join(
        orders.withColumnRenamed("o_custkey", "c_custkey"), cust, key="c_custkey"
    )
    return joined.select("o_orderkey", "c_custkey", "c_mktsegment")


_TOP_K_WORDS = 20


@query(
    "approx_top_words",
    oracle=f"""
SELECT CAST(unnest(range(0, {_TOP_K_WORDS})) AS INT) AS pos,
       TRUE AS count_correct
""",
)
def q_approx_top_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-hitters sketch (approx_top_k) with a tie-robust oracle.

    The mergeable frequent-items sketch is the 100 TB answer to "top
    words" when the vocabulary no longer fits a bounded heap per
    partition. Raw sketch output can't hash-match another engine (tied
    tail items are picked arbitrarily), so the query emits one boolean
    per returned position: does the sketch's reported count equal the
    EXACT count of that item (broadcast join back against the exact
    aggregation)? The oracle expects {_TOP_K_WORDS} TRUE rows — any
    count error or short result fails the hash, any tie-flip passes.
    """
    from mock_map_reduce_spark.operators.wordcount import tokenize

    words = tokenize(load_table(spark, sf_dir, "documents"), "text")
    # maxItemsTracked must comfortably exceed the distinct vocabulary or
    # the sketch's counts go approximate and the equality gate below
    # flips on a regenerated/bigger corpus (default 10000 is too tight).
    sk = words.agg(
        F.expr(f"approx_top_k(word, {_TOP_K_WORDS}, 100000)").alias("tk")
    ).select(F.posexplode("tk").alias("pos", "e"))
    exact = words.groupBy("word").agg(F.count("*").alias("exact_count"))
    return (
        sk.join(F.broadcast(exact), sk.e.item == exact.word, "left")
        .select(
            "pos",
            (F.col("e.count") == F.coalesce(F.col("exact_count"), F.lit(-1))).alias(
                "count_correct"
            ),
        )
    )


@query(
    "approx_distinct_merged",
    oracle="""
SELECT COUNT(DISTINCT o_custkey) AS exact_count,
       TRUE AS merged_within_bound,
       TRUE AS direct_within_bound
FROM orders
""",
)
def q_approx_distinct_merged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL sketch-STATE mergeability — the distinct-count analogue of
    agg_partial_merge_variance: per-shard hll_sketch_agg states union
    via hll_union_agg, and BOTH the merged and the direct single-pass
    estimates land within 5 standard errors (~1.04/sqrt(2^12)) of the
    exact count. (The two estimates need not be bit-equal — the
    DataSketches union path can settle registers in a different
    representation mode than the direct aggregation.) At 100 TB this
    is how daily distinct-user counts roll up: tiny per-partition
    sketch states, re-aggregable forever, no rescan. Oracle expects
    the exact count plus both booleans TRUE.
    """
    orders = load_table(spark, sf_dir, "orders")
    partials = orders.groupBy(
        F.pmod("o_orderkey", F.lit(16)).alias("shard")
    ).agg(F.expr("hll_sketch_agg(o_custkey, 12)").alias("sk"))
    merged = partials.agg(
        F.expr("hll_sketch_estimate(hll_union_agg(sk))").alias("m_est")
    )
    direct = orders.agg(
        F.expr("hll_sketch_estimate(hll_sketch_agg(o_custkey, 12))").alias("d_est"),
        F.countDistinct("o_custkey").alias("exact_count"),
    )
    rel_err = 5 * 1.04 / (2 ** 6)  # 5 standard errors at lgK=12 (2^6 = sqrt(2^12))
    return merged.crossJoin(direct).select(
        "exact_count",
        (
            F.abs(F.col("m_est") - F.col("exact_count"))
            <= F.lit(rel_err) * F.col("exact_count")
        ).alias("merged_within_bound"),
        (
            F.abs(F.col("d_est") - F.col("exact_count"))
            <= F.lit(rel_err) * F.col("exact_count")
        ).alias("direct_within_bound"),
    )


@query(
    "join_bloom_pruned",
    oracle="""
SELECT c.c_nationkey, COUNT(*) AS n_orders,
       CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
WHERE c.c_mktsegment = 'BUILDING'
GROUP BY c.c_nationkey
""",
)
def q_join_bloom_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime Bloom-filter semi-join reduction: the BUILDING-segment
    customer keys fold into a 64 Kbit bitmap (one tiny exchange), the
    bitmap broadcasts, and orders are pruned by k=3 codegen'd bit
    tests BEFORE the exact join.

    Bloom false positives cannot change the result (the join is still
    exact), so the oracle is the PLAIN join — result-identity is the
    proof the prune is semantics-free, exactly like word_count_salted
    proving salting. Spark ships this rewrite natively as
    spark.sql.optimizer.runtime.bloomFilter (injected only for
    shuffle joins it deems worthwhile); doing it from primitives
    makes the pattern available to any join and keeps the knobs
    (n_bits, n_hashes) in user hands. At 100 TB the win is shuffling
    only fact rows that can possibly match — with a broadcast-able
    dim the join itself is already map-side, and the prune then pays
    by skipping the probe hash lookups and downstream agg input.
    tests/test_retrieval.py pins: pruned rowcount strictly below the full
    fact count, superset of true matches, and result identity with
    the un-pruned join.
    """
    from mock_map_reduce_spark.operators import bloom

    orders, customer = (
        load_table(spark, sf_dir, "orders"),
        load_table(spark, sf_dir, "customer"),
    )
    dim = customer.filter(F.col("c_mktsegment") == "BUILDING")
    bitmap = bloom.bloom_bitmap(dim, "c_custkey")
    pruned = bloom.bloom_prune(orders, bitmap, "o_custkey")
    joined = pruned.join(F.broadcast(dim), pruned.o_custkey == dim.c_custkey)
    return joined.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("total_price"),
    )


@query(
    "arrow_weighted_mean_per_type",
    oracle="""
WITH w AS (
  SELECT event_type,
         CAST(user_id % 5 + 1 AS BIGINT) AS wt,
         CAST(floor(value * 1000000.0 + 0.5) AS BIGINT) AS v_int
  FROM events WHERE value IS NOT NULL
)
SELECT event_type, COUNT(*) AS n, CAST(SUM(wt) AS BIGINT) AS wsum,
       round((CAST(SUM(wt * v_int) AS DOUBLE) / SUM(wt)) / 1000000.0, 6) AS wmean
FROM w GROUP BY event_type
""",
)
def q_arrow_weighted_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map Arrow UDF (applyInArrow): per-event-type weighted
    mean — the pyarrow-native sibling of applyInPandas, Spark 4's
    zero-copy surface when the logic speaks Arrow arrays directly
    (no pandas materialization).

    Float determinism is engineered out: values fix to integer
    micro-units (floor(v*1e6 + 0.5), mirrored in SQL) and the fold is
    exact int64 arithmetic in BOTH engines, so summation ORDER cannot
    matter; only the final quotient is a double, rounded to 6
    engine-side. The shape every custom UDAF at 100 TB should take:
    per-group state is 3 integers, merge-safe under any partitioning.
    """
    import pyarrow as pa

    out_ddl = "event_type string, n long, wsum long, wmean_raw double"
    out_schema = arrow_schema(out_ddl)

    def weighted(table: pa.Table) -> pa.Table:
        reuse_zip_directories()
        import math

        et = table.column("event_type")[0].as_py()
        wts = [(u % 5) + 1 for u in table.column("user_id").to_pylist()]
        vints = [
            int(math.floor(v * 1000000.0 + 0.5)) for v in table.column("value").to_pylist()
        ]
        swv = sum(w * v for w, v in zip(wts, vints))
        sw = sum(wts)
        return pa.Table.from_batches(
            [rows_batch([(et, len(wts), sw, (float(swv) / sw) / 1000000.0)], out_schema)]
        )

    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select("event_type", "user_id", "value")
    )
    out = ev.groupBy("event_type").applyInArrow(weighted, out_ddl)
    return out.select(
        "event_type", "n", "wsum", F.round("wmean_raw", 6).alias("wmean")
    )


@query(
    "layout_global_row_number",
    oracle="""
SELECT o_orderkey, ROW_NUMBER() OVER (ORDER BY o_orderkey) AS rn
FROM orders
""",
)
def q_layout_global_row_number(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global row numbering WITHOUT the single-reducer global sort —
    the scalable zipWithIndex idiom. A naive
    ROW_NUMBER() OVER (ORDER BY key) plans one unpartitioned window:
    every row funnels through ONE task — the canonical 100 TB
    scale-killer. Here: range-repartition on the key (contiguous
    ascending ranges per partition id), count rows per partition (a
    partition-count-sized driver collect, like kmeans centroids),
    broadcast the cumulative offsets back, and window only WITHIN each
    partition id — the sort is partition-local, the exchange is the
    one range shuffle, and no task ever sees more than its share.
    Result is deterministic whatever boundaries the range sampler
    picks, because offsets are computed from the actual counts of the
    contiguous ranges; the oracle is the naive global ROW_NUMBER.
    """
    from pyspark.sql.window import Window

    n_parts = spark.sparkContext.defaultParallelism
    d = (
        load_table(spark, sf_dir, "orders")
        .select("o_orderkey")
        .repartitionByRange(n_parts, "o_orderkey")
        .withColumn("__pid", F.spark_partition_id())
    )
    d = materialize(d)  # pin boundaries: count and number ONE materialization
    counts = {
        r["__pid"]: r["c"]
        for r in d.groupBy("__pid").agg(F.count(F.lit(1)).alias("c")).collect()
    }
    offsets, acc = {}, 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    off = F.create_map(
        *[F.lit(x) for pid in sorted(offsets) for x in (pid, offsets[pid])]
    )
    w = Window.partitionBy("__pid").orderBy("o_orderkey")
    return d.select(
        "o_orderkey",
        (F.row_number().over(w) + off[F.col("__pid")]).cast("long").alias("rn"),
    )


@query(
    "layout_partition_pruned_read",
    oracle="""
SELECT o_orderkey, o_custkey, o_totalprice
FROM orders WHERE o_orderpriority = '1-URGENT'
""",
)
def q_layout_partition_pruned_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition pruning exercised end to end — THE 100 TB scan lever:
    orders write out hive-partitioned by o_orderpriority
    (sources/tables.write_parquet partition_by), then a filtered read
    of one priority comes back. The physical plan must prune at
    PLANNING time: the scan's PartitionFilters carries the predicate
    and only the matching directory's files become tasks (asserted
    here — a full-scan-then-filter plan raises). Oracle is the
    identity on the pristine rows, so partition-column round-trip
    defects (hive-encoding, type coercion on the partition value)
    fail the hash.
    """
    import os

    from mock_map_reduce_spark.functions.scratch import scratch_dir
    from mock_map_reduce_spark.sources import tables as tb

    cols = ["o_orderkey", "o_custkey", "o_totalprice"]
    d = os.path.join(scratch_dir("part_prune"), "orders_by_priority")
    tb.write_parquet(
        load_table(spark, sf_dir, "orders").select(*cols, "o_orderpriority"),
        d,
        partition_by=["o_orderpriority"],
    )
    out = (
        spark.read.parquet(d)
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select(*cols)
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    if "PartitionFilters: []" in plan or "o_orderpriority" not in plan.split(
        "PartitionFilters"
    )[-1].split("]")[0]:
        raise AssertionError("partition filter did not reach the scan")
    return out


@query(
    "arrow_map_doc_stats",
    oracle="""
SELECT lang, COUNT(*) AS n_docs,
       CAST(SUM(strlen(text)) AS BIGINT) AS total_bytes,
       CAST(SUM(length(text) - length(replace(text, ' ', ''))) AS BIGINT) AS total_spaces
FROM documents GROUP BY lang
""",
)
def q_arrow_map_doc_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``mapInArrow`` — the zero-copy per-BATCH map surface (the last
    un-exercised UDF shape): the UDF receives raw ``pyarrow``
    RecordBatches and answers with RecordBatches, no pandas
    materialization and no per-row Python anywhere; all string work is
    vectorized ``pyarrow.compute`` kernels over the Arrow buffers
    Spark already holds.

    Per-doc byte length and space count map batch-by-batch, then the
    aggregation stays JVM-side (groupBy over the mapped stream gets
    a map-side partial like any other agg). All-integer arithmetic,
    mirrored exactly in DuckDB (strlen = bytes, length-replace = space
    chars), so the hash gate is exact. At 100 TB this is the shape for
    byte-level feature extraction where even pandas' block manager is
    measurable overhead — the narrow mapped columns (16 B/doc) shuffle
    instead of the corpus text."""
    import pyarrow as pa
    import pyarrow.compute as pc

    def stats(batches):
        reuse_zip_directories()
        for b in batches:
            text = b.column(b.schema.get_field_index("text"))
            yield pa.RecordBatch.from_arrays(
                [
                    b.column(b.schema.get_field_index("lang")),
                    pc.cast(pc.binary_length(text), pa.int64()),
                    pc.cast(pc.count_substring(text, pattern=" "), pa.int64()),
                ],
                names=["lang", "n_bytes", "n_spaces"],
            )

    docs = load_table(spark, sf_dir, "documents").select("lang", "text")
    mapped = docs.mapInArrow(stats, "lang string, n_bytes long, n_spaces long")
    return mapped.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_bytes").alias("total_bytes"),
        F.sum("n_spaces").alias("total_spaces"),
    )
