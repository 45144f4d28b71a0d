"""Benchmark harness — one JSON line for the round driver.

Runs the headline queries at ``$SPARK_GRAFT_SF_DIR`` (default
/root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]`` and prints:

    {"metric": "...", "value": <total_sec>, "unit": "sec",
     "queries": {name: sec, ...}, "sf": 0.1}

Each query is forced with a cheap action (``count()`` for unbounded
results, ``collect()`` for bounded top-k) after a warm-up of the JVM
and the parquet footer cache. Timings are per-query wall clock.

Each query runs ``$SPARK_GRAFT_BENCH_REPS`` times (default 5), reps
interleaved across queries so a host throttle window cannot poison
every sample of one query. ``queries`` and ``value`` report per-query
MIN-of-N — host noise is one-sided (steal/throttle/GC only add time),
so the min estimates the engine's actual cost; medians
(``queries_median``) and [min, max] spread (``queries_minmax``) are
reported alongside, plus single-thread and all-cores CPU calibration
constants for cross-round host normalization.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

# Headline set: flagship + one per operator family (kept in sync with
# the registry as families land). Unbounded results are counted, not
# collected — the driver's metric is engine throughput, not driver IO.
HEADLINE = [
    "word_count",
    "top_words",
    "pricing_summary",
    "revenue_by_nation",
    "window_row_number",
    "dedup_exact",
    "dedup_lsh_candidates",
    "dedup_ngram_jaccard",
    "similarity_topk_bruteforce",
    "similarity_pq_adc_topk",
    "text_tfidf",
    "text_rank_surprisal",
    "session_windows",
    "asof_join_purchases",
    "events_session_enriched",
    "orders_open_backlog_daily",
    "multimodal_image_features",
    "text_feature_hashing",
    "join_bloom_pruned",
    "text_bpe_train_merges",
    "embedding_pca_pc1",
    # round 6: ExactSubstr spans, scalable global row ids, KMV sketch
    "dedup_substring_spans",
    "layout_global_row_number",
    "sketch_kmv_distinct",
    # round 7: the iterative/recursive/streaming families enter the bench
    "graph_pagerank",
    "sql_recursive_hierarchy",
    "streaming_tumbling_counts",
    # round 7: embedding-space semantic dedup (SemDeDup)
    "dedup_semantic_semdedup",
    # round 8: unbounded (message-bus-shaped) source family; the
    # small-file OPTIMIZE maintenance job (write-heavy by design);
    # the bigram-LM perplexity filter (corpus model train + score)
    "streaming_rate_source_agg",
    "layout_compact_small_files",
    "text_bigram_logprob",
    # round 8 (cont.): the lossless prefix-filter similarity join next
    # to its probabilistic (LSH) and exhaustive (ngram_jaccard) kin —
    # benched at the production t=0.8 operating point (the t=0.5
    # output-identity entry carries the regime analysis in PLANS.md) —
    # and the range-partitioned exact KS drift monitor
    "dedup_prefix_filter_jaccard_strict",
    "stat_ks_two_sample",
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or 0.1)

    from mock_map_reduce_spark import get_spark, registry

    registry.load_all()
    spark = get_spark("bench")

    # Warm-up: JVM, codegen, parquet footers — not counted.
    registry.QUERIES["top_words"](spark, sf_dir).collect()

    # Warm the Python-UDF worker pool (fork + numpy/pandas import +
    # Arrow serde) across all cores, so Pandas-UDF headliners measure
    # steady-state throughput instead of one-time worker spawn.
    def _warm(batches):
        import numpy, pandas  # noqa: F401  (the imports ARE the warm-up)

        yield from batches

    n_cores = spark.sparkContext.defaultParallelism
    spark.range(0, n_cores, 1, n_cores).mapInPandas(_warm, "id long").count()

    reps = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "5")))
    # Host-state sample BEFORE the measured reps (the matching post-run
    # sample is calib_mt_sec below): the throttle windows last minutes,
    # so one sample per run can misrepresent the window a query's reps
    # landed in — two bracket it.
    calib_mt_pre = None  # assigned after the calibrators are defined

    def calibrate() -> float:
        """Single-thread CPU proxy (sha256 over 200 MB), Spark-free.

        Recorded so cross-round totals can be normalized when the
        driver lands on a different/noisier host: engine time scales
        roughly with this constant, stalls and steal time inflate
        wall-clock but not the min-of-N statistics below.
        """
        import hashlib

        t0 = time.time()
        h = hashlib.sha256()
        block = bytes(1 << 20)
        for _ in range(200):
            h.update(block)
        return round(time.time() - t0, 3)

    def calibrate_mt() -> float:
        """ALL-CORES CPU proxy: the single-thread constant cannot see
        cgroup quotas / steal that only bite under parallel load —
        which is exactly the regime every measured query runs in
        (found in round 8: a broad ~1.3x drift on untouched queries
        reproduced identically on the prior round's code, i.e. host,
        not plans). Wall time for n_cores concurrent copies of the
        same sha256 loop; on an unthrottled box ≈ the single-thread
        number, inflating in direct proportion to contention."""
        import hashlib
        from concurrent.futures import ThreadPoolExecutor

        def one() -> None:
            h = hashlib.sha256()
            block = bytes(1 << 20)
            for _ in range(200):
                h.update(block)  # releases the GIL for ~1 MB updates

        t0 = time.time()
        with ThreadPoolExecutor(max_workers=n_cores) as ex:
            list(ex.map(lambda _: one(), range(n_cores)))
        return round(time.time() - t0, 3)

    def run_once(name: str) -> float:
        # Per-REP hygiene (uncounted): without it, later reps inherit
        # the previous rep's dead broadcast/shuffle blocks and a full
        # GC can land mid-measurement (observed: one 11 s outlier rep
        # on a 1.3 s query late in the 24-query run).
        spark.sparkContext._jvm.System.gc()
        t0 = time.time()
        df = registry.QUERIES[name](spark, sf_dir)
        # Bounded results (LIMIT plans) are collected; unbounded counted.
        if "limit" in df._jdf.queryExecution().optimizedPlan().toString().lower()[:2000]:
            df.collect()
        else:
            df.count()
        return time.time() - t0

    # Reps are INTERLEAVED (rep-major, not query-major): the host's
    # throttle windows last tens of seconds (measured: the all-cores
    # calibration swings 0.5 s -> 1.0 s within one bench run while the
    # single-thread constant stays flat), so query-major reps let one
    # window poison every sample of the queries it covers. Rep-major
    # order gives each query `reps` samples spread across the whole
    # run — at least one usually lands in a calm slice.
    calib_mt_pre = calibrate_mt()

    names = [n for n in HEADLINE if n in registry.QUERIES]
    samples: dict[str, list[float]] = {n: [] for n in names}
    # Round-11 (r10 VERDICT item 8): bracket EVERY rep round with the
    # all-cores calibration constant, not just the whole run — the
    # host's throttle windows last tens of seconds, so a per-rep
    # bracket lets per-QUERY normalized seconds be derived offline
    # from BENCH_DETAIL alone (sample i of query q ran between
    # calib_mt_reps[i] and calib_mt_reps[i+1]). Additions-only: the
    # stdout contract and the min-of-N estimator are unchanged; the
    # ~0.5-1.4 s calibration per rep round is OUTSIDE run_once's
    # timed window.
    calib_mt_reps: list[float] = [calib_mt_pre]
    for _ in range(reps):
        for name in names:
            samples[name].append(run_once(name))
        calib_mt_reps.append(calibrate_mt())

    # Noise on a shared/virtualized host is strictly ONE-SIDED — CPU
    # steal, cgroup throttling, and GC pauses only ever ADD time — so
    # the min-of-N is the faithful estimate of the engine's cost (the
    # standard timeit rationale) and is what `queries`/`value` report.
    # Medians and [min, max] spread stay alongside so run-to-run
    # variance and the host's state remain visible, and the two
    # calibration constants let cross-round totals be normalized when
    # the driver lands on a busier host.
    timings: dict[str, float] = {}
    medians: dict[str, float] = {}
    minmax: dict[str, list[float]] = {}
    for name in names:
        s = sorted(samples[name])
        timings[name] = round(s[0], 3)
        medians[name] = round(statistics.median(s), 3)
        minmax[name] = [round(s[0], 3), round(s[-1], 3)]

    total = round(sum(timings.values()), 3)
    total_median = round(sum(medians.values()), 3)
    calib = calibrate()
    # The post-run constant is taken after ALL work, the single-thread
    # calibration included, so "post" brackets the whole run; the
    # per-rep brackets stay in calib_mt_reps.
    calib_mt = calibrate_mt()

    # STDOUT CONTRACT: exactly one compact JSON line in the r1-r6 shape
    # the driver parses ({metric, value, unit, queries, sf} + small
    # scalars). Since round 7 the full diagnostic payload (medians,
    # min/max spread) had grown past the driver's ~2 KB stdout capture
    # window and BENCH_r07/r08 recorded "parsed": null — so the
    # diagnostics now go to a side file and stdout stays small.
    print(
        json.dumps(
            {
                "metric": "headline_queries_total",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": sf,
                "reps": reps,
                "estimator": "min_of_n",
                "calib_sec": calib,
                "calib_mt_pre": calib_mt_pre,
                "calib_mt_sec": calib_mt,
            },
            separators=(",", ":"),
        )
    )
    with open(os.path.join(REPO, "BENCH_DETAIL.json"), "w") as fh:
        json.dump(
            {
                "metric": "headline_queries_total",
                "value": total,
                "unit": "sec",
                "estimator": "min_of_n",
                "queries": timings,
                "queries_median": medians,
                "queries_minmax": minmax,
                # Per-rep raw samples + per-rep calibration brackets:
                # sample i of query q ran between calib_mt_reps[i] and
                # calib_mt_reps[i+1] (rep-major order), so per-query
                # host-normalized seconds are derivable offline.
                "queries_samples": {
                    n: [round(x, 3) for x in samples[n]] for n in names
                },
                "calib_mt_reps": calib_mt_reps,
                "total_median": total_median,
                "calib_sec": calib,
                "calib_mt_pre": calib_mt_pre,
                "calib_mt_sec": calib_mt,
                "reps": reps,
                "sf": sf,
            },
            fh,
            indent=2,
        )
        fh.write("\n")
    # Round-9 VERDICT item 6: cross-round normalized totals should be
    # derivable from PROGRESS.jsonl alone. The driver appends its own
    # {ts, wall_s, round, ...} lines there; bench appends one tagged
    # "kind": "bench_calib" line per run with the host-state brackets,
    # so {total, calib_mt_pre, calib_mt_post} live next to the driver's
    # round markers without touching the driver's schema.
    with open(os.path.join(REPO, "PROGRESS.jsonl"), "a") as fh:
        fh.write(
            json.dumps(
                {
                    "ts": round(time.time(), 1),
                    "kind": "bench_calib",
                    "sf": sf,
                    "total_min_sec": total,
                    "total_median_sec": total_median,
                    "calib_sec": calib,
                    "calib_mt_pre": calib_mt_pre,
                    "calib_mt_post": calib_mt,
                },
                separators=(",", ":"),
            )
            + "\n"
        )


if __name__ == "__main__":
    main()
