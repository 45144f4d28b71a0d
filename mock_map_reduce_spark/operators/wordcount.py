"""Flagship word-count / top-N operators — the reference's entire query.

The reference computes exactly one query (SURVEY §0):

    SELECT word, COUNT(*) AS count
    FROM  tokens(input text, split on every non-alphabetic char)
    GROUP BY word ORDER BY count DESC LIMIT N

Reference parity map (citations into /root/reference):
  * tokenize       -> P1 flatMap tokenize, slave.cc:77-98 (maximal
                      alphabetic runs, case-preserving) + F1 empty-token
                      filter master.cc:628 (we filter at tokenize time,
                      SURVEY §1.4.2).
  * word_count     -> A1 map-side combine slave.cc:155-203 + A2 final
                      hash agg slave.cc:101-152 + X1/X2 shuffle
                      master.cc:472-515. One ``groupBy().count()``:
                      Catalyst plans partial HashAggregate -> Exchange
                      (hash by word) -> final HashAggregate, i.e. the
                      same combine/shuffle/reduce pipeline, minus the
                      reference's text intermediates.
  * top_n          -> O2 bounded top-K heap master.cc:585-669. Spark's
                      TakeOrderedAndProjectExec runs the identical
                      bounded-heap algorithm per partition, then merges
                      — strictly less data movement than the
                      reference's single-threaded merge.
  * word_count_rdd -> UD1 generic map/reduce contract
                      masterslave.proto:7-13 — the literal
                      flatMap/reduceByKey shape, kept as a demo of the
                      raw MapReduce contract; NOT the hot path.

Scale notes (100 TB): the only shuffle is the hash exchange on
``word``; map-side partial aggregation shrinks it to one row per
distinct word per partition before any bytes move. Top-N never
materializes the full sort — bounded heaps per partition, merge of
N-row heaps at the driver. Natural-language key skew ("the", "a") is
absorbed by the partial aggregate: the hot key contributes one partial
row per input partition, not one row per occurrence.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from mock_map_reduce_spark.functions.partitioning import spread

# Maximal alphabetic runs: the reference splits on every non-alphabetic
# character via isalpha() (slave.cc:87-97), preserving case (§1.4.5).
TOKEN_DELIM_RE = "[^A-Za-z]+"


def tokenize(df: DataFrame, text_col: str = "text", out_col: str = "word") -> DataFrame:
    """Explode text into one row per token (P1 + F1).

    Empty tokens (produced by leading/trailing/consecutive delimiters)
    are dropped here rather than at the final sink — the intended
    semantics the reference only approximates (SURVEY §1.4.2).
    """
    return (
        spread(df.select(F.col(text_col)))
        .select(F.explode(F.split(F.col(text_col), TOKEN_DELIM_RE)).alias(out_col))
        .filter(F.col(out_col) != "")
    )


def word_count(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Full word-count relation: DataFrame[word string, count long].

    Counts are 64-bit (SURVEY §1.2: reference uses int32, we widen for
    100 TB inputs where a single word's count can exceed 2^31).
    """
    return tokenize(df, text_col).groupBy("word").agg(F.count("*").alias("count"))


def top_n(df: DataFrame, text_col: str = "text", n: int = 20) -> DataFrame:
    """Top-N most frequent words, deterministic tie-break on the word.

    The reference's heap breaks count-ties arbitrarily by arrival order
    (master.cc:630-637); we order ``count DESC, word ASC`` so results
    are reproducible and oracle-comparable.
    """
    return word_count(df, text_col).orderBy(F.desc("count"), F.asc("word")).limit(n)


def word_count_rdd(df: DataFrame, text_col: str = "text") -> DataFrame:
    """UD1 demo: the literal map/reduce contract on RDDs.

    flatMap(tokenize) -> map((w,1)) -> reduceByKey(+) — the exact shape
    of the reference's map/reduce RPCs (slave.cc:255-323). Kept for
    parity demonstration; ~10x slower than the DataFrame plan (no
    codegen, Python per-row) and never used on a hot path.
    """
    import re

    spark = df.sparkSession
    pat = re.compile(TOKEN_DELIM_RE)

    def tokenize(row):
        return (w for w in pat.split(row[0] or "") if w)

    counts = (
        df.select(text_col)
        .rdd.flatMap(tokenize)
        .map(lambda w: (w, 1))
        .reduceByKey(lambda a, b: a + b)
    )
    return spark.createDataFrame(counts, schema="word string, count long")


def word_count_range_partitioned(df: DataFrame, text_col: str = "text", num_ranges: int = 3) -> DataFrame:
    """X1 exact-shape analog: range-partition words by first letter.

    The reference assigns each reducer a contiguous first-letter range
    (master.cc:472-515, 26/slavecount letters each). Spark's hash
    exchange is the better default; this demonstrates the literal
    range-partitioning shape via repartitionByRange on the first
    character. Same result set as word_count.
    """
    toks = tokenize(df, text_col).withColumn("first_letter", F.substring("word", 1, 1))
    return (
        toks.repartitionByRange(num_ranges, "first_letter")
        .groupBy("word")
        .agg(F.count("*").alias("count"))
    )


def word_count_dual_sink(df: DataFrame, out_path: str, text_col: str = "text", n: int = 20) -> DataFrame:
    """S4 + O2 in one pass: full sink AND top-N from a single pipeline run.

    The reference streams every reducer line to the HDFS sink WHILE
    feeding the bounded top-N heap (master.cc:619-668) — one pass over
    reducer output, two consumers. The Spark form caches the counts
    relation: the parquet write materializes it (and populates the
    cache), then top-N reads the InMemoryRelation — tokenize + both
    aggregates run exactly once; the second consumer scans cached
    count rows, never the source text.

    Returns the top-N DataFrame; the counts relation stays cached so
    further consumers also skip the scan (unpersist via
    ``spark.catalog.clearCache()`` when done).
    """
    counts = word_count(df, text_col).cache()
    from mock_map_reduce_spark.sources.tables import write_parquet

    write_parquet(counts, out_path)
    return counts.orderBy(F.desc("count"), F.asc("word")).limit(n)
