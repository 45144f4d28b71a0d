"""Physical-plan shape tests — scale guarantees, not just correctness.

Each assertion pins a property that matters at 1000 executors / 100 TB:
filters reach the parquet scan, small dims broadcast, top-N never
global-sorts, aggregation is partial+final, plans stay in codegen.
"""

from __future__ import annotations

import pytest

from mock_map_reduce_spark import registry
from mock_map_reduce_spark.plans import (
    count_exchanges,
    executed_plan,
    final_plan,
    has_broadcast_join,
    has_pushed_filters,
)

registry.load_all()


@pytest.fixture(scope="module")
def q(spark, sf_dir):
    def run(name):
        return registry.QUERIES[name](spark, sf_dir)

    return run


def test_filter_pushdown_reaches_scan(q):
    assert has_pushed_filters(q("filter_project"))


def test_dimension_joins_broadcast(q):
    plan = executed_plan(q("revenue_by_nation"))
    assert "BroadcastHashJoin" in plan  # nation must broadcast
    assert has_broadcast_join(q("broadcast_dim_join"))


def test_broadcast_dim_join_single_shuffle(q):
    # both dims broadcast -> the only exchange is the final groupBy
    assert count_exchanges(q("broadcast_dim_join")) <= 1


def test_top_n_uses_bounded_heap_not_global_sort(q):
    plan = executed_plan(q("top_words"))
    assert "TakeOrderedAndProject" in plan  # O2: bounded heap, never a full Sort


def test_word_count_partial_aggregation(q):
    # partial + final HashAggregate pair = map-side combine (A1)
    plan = executed_plan(q("word_count"))
    assert plan.count("HashAggregate") >= 2
    assert "partial_count" in plan


def test_word_count_single_shuffle(q):
    # the groupBy exchange is the only one: tokenize rides the scan
    assert count_exchanges(q("word_count")) == 1


def test_whole_stage_codegen_on_flagship(q):
    # AQE hides codegen stages until the final plan materializes;
    # "*(n)" prefixes mark WholeStageCodegen spans in the plan string.
    assert "*(" in final_plan(q("word_count"))


def test_pricing_summary_scans_only_needed_columns(q):
    plan = executed_plan(q("pricing_summary"))
    scan_line = next(line for line in plan.splitlines() if "ReadSchema" in line)
    assert "l_comment" not in scan_line  # column pruning
    assert "l_quantity" in scan_line


def test_semi_join_is_semi(q):
    assert "LeftSemi" in executed_plan(q("join_semi"))


def test_minhash_signatures_bounded_shuffle(spark, sf_dir):
    from mock_map_reduce_spark.operators import dedup as dd
    from mock_map_reduce_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents")
    # md5 path (round-11): ONE map-only Arrow pass — the kernel emits a
    # finished signature row per doc, so the only exchange is spread's
    # repartition and no aggregate exists at all (the pre-r11 explode →
    # md5 → partial-min pipeline shuffled O(docs) agg rows).
    sig = dd.minhash_signatures(docs)
    assert count_exchanges(sig) <= 1
    plan = executed_plan(sig)
    assert "MapInArrow" in plan
    assert "HashAggregate" not in plan


@pytest.mark.parametrize("pairs_fn", ["lsh_candidate_pairs", "simhash_candidate_pairs"])
def test_lsh_group_pair_generation_plan(spark, sf_dir, pairs_fn):
    from mock_map_reduce_spark.operators import dedup as dd
    from mock_map_reduce_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents")
    pairs = getattr(dd, pairs_fn)(docs)
    # grouped formulation: spread + bucket collect + distinct, and NO
    # join operator anywhere — pairs come from ordered_pairs over each
    # bucket's sorted id list
    assert count_exchanges(pairs) <= 4
    plan = executed_plan(pairs)
    assert "Join" not in plan
    assert "collect_list" in plan


# Catalog entries whose plans contain a BroadcastNestedLoopJoin whose
# BROADCAST side is a bounded small set — never the corpus:
#   similarity_topk_bruteforce: 5-vector query set × corpus (exact baseline)
#   similarity_ann_ivf:         8 centroid vectors × corpus (cell assign)
#   text_tfidf:                 vocabulary-sized df table broadcast back
#   range_join_banded:          5-row literal bands dimension
#   similarity_kmeans:          8 broadcast centroids × corpus per round
#   similarity_kmeans_pp:       ≤k broadcast seeds × hash-sampled pool
#                               per k-center round
#   approx_distinct_merged:     1-row merged-estimate × 1-row direct-
#                               estimate crossJoin (scalar combine)
#   dq_orders_constraints:      1-row checks × 1-row dup-count × 1-row
#                               orphan-count crossJoins (each side is a
#                               global aggregate — exactly one row by
#                               construction)
_BOUNDED_BNLJ = {
    "similarity_topk_bruteforce",
    "similarity_ann_ivf",
    "similarity_ann_ivf_pq",  # same 8 broadcast centroids as ann_ivf
    "similarity_ann_ivf_multiprobe",  # same 8 broadcast centroids
    "similarity_kmeans",
    "similarity_kmeans_pp",
    "dedup_semantic_semdedup",  # same k broadcast centroids as similarity_kmeans
    # kscaled twin: same centroid broadcast; the BNLJ became VISIBLE in
    # round 9 when materialize() (lineage-keeping persist) replaced
    # localCheckpoint (which truncated the plan above the pin) — the
    # executed shape is unchanged
    "dedup_semantic_semdedup_kscaled",
    "similarity_ann_recall_clustered",  # 20-query broadcast sample × corpus (eval baseline)
    "text_tfidf",
    "text_keywords_topk",  # built on tf_idf: same 1-row n_docs broadcast
    "range_join_banded",
    "dq_orders_constraints",
    "graph_triangle_count",  # same one-row scalar-combine crossJoins
    "graph_pagerank",  # 1-row n_nodes scalar broadcast into each iteration
    "stat_chi_square_independence",  # 1-row grand-total crossJoin onto the cell table
    "approx_distinct_merged",
    "events_dau_wau_stickiness",  # distinct-days table (tiny) × day-user pairs
    "text_bm25_topk",  # 1-row corpus-stats crossJoin broadcast onto the scan
    "join_bloom_pruned",  # 1-row Bloom-bitmap crossJoin broadcast onto the fact scan
    "basket_brand_lift",  # 1-row basket-count crossJoin broadcast onto the rule table
    "diag_join_key_skew",  # 1-row summary × 1-row heaviest-key crossJoin
    "sketch_kmv_jaccard",  # 1-row sketch × 1-row sketch × 1-row exact-count combine
    "similarity_ann_recall",  # 5-query broadcast sample × corpus (the exact eval baseline)
    "similarity_knn_label_accuracy",  # 50-query broadcast sample × corpus (same)
    "similarity_hard_negatives",  # 50-anchor broadcast sample × corpus (same)
    "embedding_label_centroid_cosines",  # label-count² pair join (≤10 centroids a side)
    "curation_temperature_mixture",  # 1-row (corpus_n, denom) totals crossJoin onto the source-count table
    "text_bigram_logprob",  # 1-row vocab-size crossJoin broadcast onto the bigram stream
    "retrieval_hybrid_rrf",  # inherits bm25's 1-row stats + bruteforce's 1-query broadcast crossJoins
    "dedup_semantic_contamination",  # bounded benchmark embedding set broadcast onto one corpus scan
    "stat_psi_drift",  # 1-row totals crossJoin broadcast onto the bucket table
}


def test_no_catalog_query_is_quadratic(spark, sf_dir):
    """No named query may plan a corpus×corpus nested loop.

    The exact all-pairs cosine (operators/similarity.cosine_pairs_above)
    is a verification helper only — a catalog user must always get a
    bucketed / broadcast-bounded plan. Pins VERDICT r2 item #2.
    """
    offenders = []
    for name, fn in sorted(registry.QUERIES.items()):
        plan = executed_plan(fn(spark, sf_dir))
        if "CartesianProduct" in plan:
            offenders.append((name, "CartesianProduct"))
        elif "BroadcastNestedLoopJoin" in plan and name not in _BOUNDED_BNLJ:
            offenders.append((name, "unbounded BNLJ"))
    assert not offenders, offenders


def test_contamination_benchmark_side_broadcasts(q):
    # eval-set grams must broadcast; corpus grams never shuffle to meet them
    plan = executed_plan(q("dedup_contamination"))
    assert "BroadcastHashJoin" in plan


def test_map_only_curation_queries_shuffle_nothing(q):
    # mixture sampling and PII scrubbing ride the scan: zero exchanges
    assert count_exchanges(q("curation_mixture_sample")) == 0
    assert count_exchanges(q("text_scrub_pii")) == 0
    assert count_exchanges(q("text_repetition")) == 0


def test_join_hints_switch_physical_strategy(spark, sf_dir):
    """The physical join strategy is user-steerable per join — hints
    select broadcast / sort-merge / shuffle-hash plans for the SAME
    logical join with identical results (the knob that matters when
    stats mislead the planner at 100 TB)."""
    from mock_map_reduce_spark.sources import load_table

    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    want = None
    for hint, node in [
        ("BROADCAST", "BroadcastHashJoin"),
        ("MERGE", "SortMergeJoin"),
        ("SHUFFLE_HASH", "ShuffledHashJoin"),
    ]:
        j = orders.join(cust.hint(hint), orders.o_custkey == cust.c_custkey)
        assert node in executed_plan(j), hint
        got = sorted(map(tuple, j.select("o_orderkey", "c_mktsegment").collect()))
        if want is None:
            want = got
        assert got == want, hint  # strategy never changes the answer


def test_spread_rule(spark, sf_dir):
    """spread(df) (functions/partitioning.py) has one rule: a frame with
    fewer than max(2, n // 2) partitions is repartitioned round-robin to
    n = defaultParallelism, whatever its size or source; any other
    frame is returned unchanged, as the same object."""
    from mock_map_reduce_spark.functions.partitioning import spread
    from mock_map_reduce_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    n = spark.sparkContext.defaultParallelism
    assert docs.rdd.getNumPartitions() < max(2, n // 2)  # under-parallel here
    spread_docs = spread(docs)
    assert "RoundRobinPartitioning" in executed_plan(spread_docs)
    assert spread_docs.rdd.getNumPartitions() == n
    wide = docs.repartition(max(2, n // 2))
    assert spread(wide) is wide
    mem = spark.range(100).toDF("doc_id").coalesce(1)  # no file behind it
    assert "RoundRobinPartitioning" in executed_plan(spread(mem))


def test_cheap_text_projections_do_not_spread(spark):
    """Word count and TF-IDF tokenize on their input's own partitions:
    even a single-partition in-memory frame plans no round-robin."""
    from mock_map_reduce_spark.operators.text import tf_idf
    from mock_map_reduce_spark.operators.wordcount import word_count

    docs = spark.createDataFrame(
        [(1, "the cat sat"), (2, "the dog ran")], "doc_id long, text string"
    ).coalesce(1)
    for df in (word_count(docs), tf_idf(docs)):
        assert "RoundRobinPartitioning" not in executed_plan(df)


def test_heavy_catalog_queries_spread_when_under_parallel(q):
    """Every catalog family doing per-row-heavy work (md5 shingles,
    vector folds, Arrow-batched decode) plans the spread repartition
    at this under-parallel SF; a new heavy operator that forgets
    spread() fails here."""
    from mock_map_reduce_spark.plans import executed_plan

    for name in (
        "dedup_minhash_signatures",
        "dedup_simhash",
        "dedup_substring_spans",
        "similarity_topk_bruteforce",
        "similarity_pq_codes",
        "multimodal_byte_features",
        "multimodal_image_features",
        "multimodal_audio_features",
        "multimodal_video_frames",
    ):
        assert "RoundRobinPartitioning" in executed_plan(q(name)), name


def test_pca_gram_stage_spreads_when_under_parallel(spark, sf_dir):
    """embedding_pca_pc1 returns a driver-built d-row frame (constant
    size — MLlib's computePrincipalComponents split), so its spread
    pin lives on the corpus-scale Gram-accumulation stage instead of
    the returned DataFrame."""
    from mock_map_reduce_spark.operators.clustering import pca_quantized
    from mock_map_reduce_spark.sources import load_table

    vecs = load_table(spark, sf_dir, "embeddings")
    assert "RoundRobinPartitioning" in executed_plan(pca_quantized(vecs))


def test_rollup_two_level_plan(q):
    """Two exchanges only (minute key, hour key), each fed by a
    partial+final HashAggregate pair — the coarse level reads partial
    state, never raw events."""
    from mock_map_reduce_spark.plans import count_exchanges, executed_plan

    df = q("timeseries_rollup_two_level")
    assert count_exchanges(df) == 2
    assert executed_plan(df).count("HashAggregate") == 4


def test_runtime_bloom_filter_prunes_fact_fact_join(spark, sf_dir):
    """Spark's runtime Bloom-filter join pruning — the 100 TB lever
    that pre-filters the big probe side of a shuffle join with a bloom
    filter built from the selective side, before the exchange. The
    application-side threshold defaults to 10 GB so it self-enables
    exactly at scale; here it's lowered to demonstrate the injected
    plan, and results must be identical with and without it."""
    from pyspark.sql import functions as F

    from mock_map_reduce_spark.sources import load_table

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",  # force a shuffle join
    }
    saved = {}
    for k in confs:
        try:
            saved[k] = spark.conf.get(k)
        except Exception:
            saved[k] = None

    def build():
        li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
        o = (
            load_table(spark, sf_dir, "orders")
            .filter(F.col("o_orderpriority") == "1-URGENT")
            .select("o_orderkey")
        )
        return li.join(o, li.l_orderkey == o.o_orderkey).select(
            "l_orderkey", "l_quantity"
        )

    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        filtered = build()
        assert "bloomfilter" in executed_plan(filtered).lower()
        with_bloom = sorted(map(tuple, filtered.collect()))
        spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "false")
        without = sorted(map(tuple, build().collect()))
        assert with_bloom == without  # pruning never changes the answer
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_feature_hashing_single_exchange(q):
    # md5 feature/sign are map-side; only the (doc, feat) agg shuffles —
    # plus, at bench scale ONLY, the adaptive under-parallelism
    # repartition (spread heavy=True, round-10: 3 md5/token on a
    # one-split corpus ran single-task; the repartition is a no-op at
    # production scale where input splits provide the parallelism).
    assert count_exchanges(q("text_feature_hashing")) <= 2


def test_bm25_stats_row_is_only_wide_exchange(q):
    # corpus stats collapse to ONE single-partition agg; the cut is a
    # bounded heap, so no other exchange may appear
    plan = executed_plan(q("text_bm25_topk"))
    assert "TakeOrderedAndProject" in plan
    assert count_exchanges(q("text_bm25_topk")) <= 2  # stats agg + rank of k rows


def test_bloom_prune_filters_before_the_join(q):
    # the bitmap bit-test Filter must sit BELOW the join: pruned fact
    # rows never reach the probe side
    plan = executed_plan(q("join_bloom_pruned"))
    join_at = plan.index("BroadcastHashJoin")
    bit_test_at = plan.rindex("shiftright")
    assert bit_test_at > join_at  # executed plans print top-down: deeper = later


def test_point_in_time_single_exchange(q):
    # union + one window per key: exactly one hash exchange
    import re

    plan = executed_plan(q("scd2_point_in_time"))
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1


def test_global_row_number_avoids_single_partition_sort(q):
    """The scalable zipWithIndex: the window must stay partitioned by
    the range-shuffle partition id — a naive global ROW_NUMBER would
    plan an Exchange SinglePartition (one task sorts everything)."""
    plan = executed_plan(q("layout_global_row_number"))
    assert "Window" in plan
    assert "SinglePartition" not in plan


def test_basket_lift_shares_one_baskets_exchange(q):
    """basket_brand_lift (round-7 consolidation): pair generation, the
    per-brand marginals, and the basket total must all consume ONE
    collect_set baskets shuffle via ReusedExchange — total shuffle
    exchanges <= 4 in the final AQE plan, one of which is the
    constant-size single-partition global count."""
    plan = final_plan(q("basket_brand_lift"))
    cut = plan.find("Initial Plan")
    body = plan[: cut if cut != -1 else len(plan)]
    shuffles = [
        line
        for line in body.splitlines()
        if ("Exchange hashpartitioning" in line or "Exchange SinglePartition" in line)
        and "Reused" not in line
    ]
    assert len(shuffles) <= 4, shuffles
    assert body.count("ReusedExchange") >= 2


def test_duplicate_spans_two_corpus_exchanges_no_broadcast(q):
    """dedup_substring_spans (round-7 rework): duplicated-position
    detection is a windowed count over ONE gram-keyed exchange — the
    plan must carry exactly the two corpus exchanges (gram, then doc)
    and may not broadcast a corpus-cardinality keep set or re-derive
    the gram explode through a join."""
    plan = final_plan(q("dedup_substring_spans"))
    cut = plan.find("Initial Plan")
    body = plan[: cut if cut != -1 else len(plan)]
    shuffles = [
        line
        for line in body.splitlines()
        if "Exchange hashpartitioning" in line and "Reused" not in line
    ]
    assert len(shuffles) == 2, shuffles
    assert "BroadcastHashJoin" not in body
    assert "Join" not in body  # no join at all: window + filter only
