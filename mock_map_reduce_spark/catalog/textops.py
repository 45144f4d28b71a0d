"""Text-analysis catalog: token stats, quality, language-ID,
fingerprints, TF-IDF — every one oracle-checked.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from mock_map_reduce_spark.operators import clustering as cl
from mock_map_reduce_spark.operators import text as tx
from mock_map_reduce_spark.registry import query
from mock_map_reduce_spark.sources import load_table

_TOKS = """
toks AS (
  SELECT doc_id, text,
         list_filter(string_split_regex(lower(text), '[^a-z]+'), x -> x <> '') AS w
  FROM documents
)"""


def _sw_list(lang: str) -> str:
    return "[" + ", ".join(f"'{w}'" for w in tx.STOPWORDS[lang]) + "]"


@query(
    "text_token_stats",
    oracle=r"""
SELECT doc_id,
       len(list_filter(string_split_regex(text, '\s+'), x -> x <> '')) AS n_ws_tokens,
       len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS n_bpe_pieces,
       length(text) AS n_chars
FROM documents
""",
)
def q_text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tx.token_stats(load_table(spark, sf_dir, "documents"))


# Quality-score CTE chain, shared by text_quality and the per-group
# quantile floor below (toks -> counting features -> ratios).
_QUALITY_CTES = f"""{_TOKS},
feat AS (
  SELECT doc_id,
         len(w) AS n_toks,
         length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS n_alpha,
         length(text) AS n_chars,
         len(list_filter(w, t -> list_contains({_sw_list("en")}, t))) AS n_stop,
         len(list_distinct(w)) AS n_distinct
  FROM toks
),
ratios AS (
  SELECT doc_id,
         CASE WHEN n_toks > 0 THEN CAST(n_alpha AS DOUBLE) / n_toks ELSE 0.0 END AS mean_word_len,
         CASE WHEN n_toks > 0 THEN CAST(n_stop AS DOUBLE) / n_toks ELSE 0.0 END AS stop_ratio,
         CASE WHEN n_chars > 0 THEN CAST(n_alpha AS DOUBLE) / n_chars ELSE 0.0 END AS alpha_ratio,
         CASE WHEN n_toks > 0 THEN CAST(n_distinct AS DOUBLE) / n_toks ELSE 0.0 END AS distinct_ratio
  FROM feat
)"""


@query(
    "text_quality",
    oracle=f"""
WITH {_QUALITY_CTES}
SELECT doc_id,
       round(mean_word_len, 6) AS mean_word_len,
       round(stop_ratio, 6) AS stopword_ratio,
       round(alpha_ratio, 6) AS alpha_ratio,
       round(distinct_ratio, 6) AS distinct_token_ratio,
       round(least(mean_word_len / 8.0, 1.0) * 0.25
             + least(stop_ratio * 4.0, 1.0) * 0.25
             + alpha_ratio * 0.25
             + distinct_ratio * 0.25, 6) AS quality_score
FROM ratios
""",
)
def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tx.quality_score(load_table(spark, sf_dir, "documents"))


_LANG_SCORES = ",\n         ".join(
    f"CASE WHEN len(w) > 0 THEN CAST(len(list_filter(w, t -> list_contains({_sw_list(lang)}, t))) AS DOUBLE) / len(w) ELSE 0.0 END AS s_{lang}"
    for lang in sorted(tx.STOPWORDS)
)


@query(
    "text_language_id",
    oracle=f"""
WITH {_TOKS},
scores AS (
  SELECT doc_id,
         {_LANG_SCORES}
  FROM toks
)
SELECT doc_id,
       CASE WHEN greatest(s_de, s_en, s_es, s_fr) = 0 THEN 'und'
            WHEN s_fr >= s_es AND s_fr >= s_en AND s_fr >= s_de THEN 'fr'
            WHEN s_es >= s_en AND s_es >= s_de THEN 'es'
            WHEN s_en >= s_de THEN 'en'
            ELSE 'de' END AS lang_pred,
       round(greatest(s_de, s_en, s_es, s_fr), 6) AS lang_score
FROM scores
""",
)
def q_text_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-voting lang-ID; ties break to the largest language code."""
    return tx.language_id(load_table(spark, sf_dir, "documents"))


@query(
    "text_fingerprint",
    oracle=f"""
WITH {_TOKS}
SELECT doc_id, md5(array_to_string(w, ' ')) AS fingerprint FROM toks
""",
)
def q_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tx.fingerprint(load_table(spark, sf_dir, "documents"))


@query(
    "text_rolling_hash",
    oracle=f"""
WITH {_TOKS}
SELECT doc_id,
       list_reduce(
         list_prepend(CAST(0 AS BIGINT),
           list_transform(w, t -> CAST('0x' || substring(md5(t), 1, 8) AS BIGINT))),
         (acc, v) -> (acc * 1000003 + v) % 2147483647) AS rhash
FROM toks
""",
)
def q_text_rolling_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rabin-Karp polynomial rolling hash over the normalized token
    stream — order-sensitive and incrementally extendable, vs the flat
    md5 fingerprint. list_prepend seeds the fold's zero (DuckDB
    list_reduce has no initial-value arg).
    """
    return tx.rolling_fingerprint(load_table(spark, sf_dir, "documents"))


@query(
    "text_tfidf",
    oracle="""
WITH words AS (
  SELECT doc_id,
         unnest(list_filter(string_split_regex(lower(text), '[^a-z]+'), x -> x <> '')) AS word
  FROM documents
),
tf AS (SELECT doc_id, word, count(*) AS tf FROM words GROUP BY 1, 2),
df AS (SELECT word, count(*) AS df FROM tf GROUP BY 1),
n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents)
SELECT doc_id, word, tf, df,
       round(tf * (ln((n_docs + 1.0) / (df + 1)) + 1.0), 6) AS tfidf
FROM tf JOIN df USING (word) CROSS JOIN n
""",
)
def q_text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tx.tf_idf(load_table(spark, sf_dir, "documents"))


@query(
    "text_tfidf_by_language",
    oracle=f"""
WITH {_TOKS},
scores AS (
  SELECT doc_id,
         {_LANG_SCORES}
  FROM toks
),
langs AS (
  SELECT doc_id,
         CASE WHEN greatest(s_de, s_en, s_es, s_fr) = 0 THEN 'und'
              WHEN s_fr >= s_es AND s_fr >= s_en AND s_fr >= s_de THEN 'fr'
              WHEN s_es >= s_en AND s_es >= s_de THEN 'es'
              WHEN s_en >= s_de THEN 'en'
              ELSE 'de' END AS lang_pred
  FROM scores
),
words AS (SELECT doc_id, unnest(w) AS word FROM toks),
tf AS (SELECT doc_id, word, count(*) AS tf FROM words GROUP BY 1, 2),
tfl AS (SELECT t.doc_id, l.lang_pred, t.word, t.tf FROM tf t JOIN langs l USING (doc_id)),
df AS (SELECT lang_pred, word, count(*) AS df FROM tfl GROUP BY 1, 2),
n AS (SELECT lang_pred, count(DISTINCT doc_id) AS n_docs FROM tfl GROUP BY 1)
SELECT doc_id, lang_pred, word, tf, df,
       round(tf * (ln((n_docs + 1.0) / (df + 1)) + 1.0), 6) AS tfidf
FROM tfl JOIN df USING (lang_pred, word) JOIN n USING (lang_pred)
""",
)
def q_text_tfidf_by_language(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF against the doc's own language sub-corpus (df and doc
    counts per predicted language). The (lang, word) dimension side is
    vocabulary-sized and broadcast; see operators.text.tf_idf_by_language.
    """
    return tx.tf_idf_by_language(load_table(spark, sf_dir, "documents"))


@query(
    "text_repetition",
    oracle="""
WITH toks AS (
  SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z]+'), x -> x <> '') AS w
  FROM documents
),
g AS (
  SELECT doc_id,
         list_transform(range(1, greatest(len(w), 1)), i -> w[i] || ' ' || w[i+1]) AS grams
  FROM toks
)
SELECT doc_id,
       len(grams) AS n_ngrams,
       len(list_distinct(grams)) AS n_distinct,
       CASE WHEN len(grams) > 0
            THEN CAST(len(grams) - len(list_distinct(grams)) AS DOUBLE) / len(grams)
            ELSE 0.0 END AS repetition_ratio
FROM g
""",
)
def q_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeated-bigram ratio — the boilerplate/template quality signal."""
    return tx.repetition_ratio(load_table(spark, sf_dir, "documents"), n=2)


@query(
    "curation_quality_floor",
    oracle=f"""
WITH {_QUALITY_CTES},
q AS (
  SELECT doc_id,
         round(least(mean_word_len / 8.0, 1.0) * 0.25
               + least(stop_ratio * 4.0, 1.0) * 0.25
               + alpha_ratio * 0.25
               + distinct_ratio * 0.25, 6) AS quality_score
  FROM ratios
),
j AS (SELECT d.doc_id, d.lang, q.quality_score FROM documents d JOIN q USING (doc_id)),
r AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY lang ORDER BY quality_score, doc_id) AS rn,
         COUNT(*) OVER (PARTITION BY lang) AS n
  FROM j
),
t AS (SELECT lang, quality_score AS thr FROM r WHERE rn = ((n - 1) * 25) // 100 + 1)
SELECT j.doc_id, j.lang, j.quality_score
FROM j JOIN t USING (lang) WHERE j.quality_score >= t.thr
""",
)
def q_curation_quality_floor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drop each language's worst quality quartile (discrete-rank p25
    threshold — integer rank arithmetic picks an actual data value, so
    the filter boundary is bit-identical across engines/retries)."""
    from mock_map_reduce_spark.operators import curation as cu

    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select("doc_id", "lang").join(
        tx.quality_score(docs).select("doc_id", "quality_score"), "doc_id"
    )
    return cu.per_group_quantile_floor(
        scored, "lang", "quality_score", 25, 100
    ).select("doc_id", "lang", "quality_score")


@query(
    "text_scrub_pii",
    oracle="""
SELECT doc_id,
       regexp_replace(
         regexp_replace(
           regexp_replace(
             text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com or 555-0199 ref 1234567890',
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
           '[0-9]{3}[- .][0-9]{4}', '<PHONE>', 'g'),
         '[0-9]{6,}', '<NUM>', 'g') AS clean_text
FROM documents
""",
)
def q_text_scrub_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction (emails / phone-shapes / long digit runs -> typed
    tokens). The corpus text is lowercase words, so the query plants a
    synthetic PII suffix on every row first — each row then exercises
    all three patterns instead of no-oping."""
    docs = load_table(spark, sf_dir, "documents")
    planted = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or 555-0199 ref 1234567890"),
        ).alias("text"),
    )
    return tx.scrub_pii(planted)


@query(
    "text_rank_surprisal",
    oracle="""
WITH tokocc AS (
  SELECT doc_id,
         unnest(list_filter(string_split_regex(lower(text), '[^a-z]+'), x -> x <> '')) AS tok
  FROM documents
),
tf AS (SELECT doc_id, tok, count(*) AS tf FROM tokocc GROUP BY 1, 2),
vc AS (SELECT tok, CAST(SUM(tf) AS BIGINT) AS c FROM tf GROUP BY tok),
hist AS (SELECT c, count(*) AS nt FROM vc GROUP BY c),
ranks AS (
  SELECT c, CAST(1 + COALESCE(SUM(nt) OVER (ORDER BY c DESC
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS rnk
  FROM hist
),
tr AS (SELECT tok, rnk FROM vc JOIN ranks USING (c))
SELECT doc_id,
       CAST(SUM(tf) AS BIGINT) AS n_toks,
       CAST(SUM(tf * rnk) AS BIGINT) AS rank_sum,
       MAX(rnk) AS rarest_rank,
       ROUND(CAST(SUM(tf * rnk) AS DOUBLE) / CAST(SUM(tf) AS BIGINT), 4) AS mean_rank
FROM tf JOIN tr USING (tok)
GROUP BY doc_id
""",
)
def q_text_rank_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM scoring proxy: per-doc corpus-frequency-rank
    surprisal (see operators/text.rank_surprisal). Competition ranks
    come from a cumulative window over the tiny count histogram —
    never a global vocabulary sort — and stay in exact integers, so
    the LM-ish quality signal is oracle-checkable bit-for-bit."""
    return tx.rank_surprisal(load_table(spark, sf_dir, "documents"))


@query(
    "text_chunks",
    oracle=r"""
WITH t AS (
  SELECT doc_id,
         list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS w
  FROM documents
),
c AS (
  SELECT doc_id, w,
         CASE WHEN len(w) <= 64 THEN 1
              ELSE CAST(ceil((len(w) - 64) / 48.0) AS BIGINT) + 1 END AS nc
  FROM t
),
x AS (SELECT doc_id, unnest(range(0, nc)) AS chunk_idx, w FROM c)
SELECT doc_id, chunk_idx,
       CAST(len(list_slice(w, chunk_idx * 48 + 1, chunk_idx * 48 + 64)) AS BIGINT) AS n_tokens,
       array_to_string(list_slice(w, chunk_idx * 48 + 1, chunk_idx * 48 + 64), ' ') AS chunk_text
FROM x
""",
)
def q_text_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping 64-token / stride-48 retrieval chunks per document
    (operators/text.chunk_documents) — the context-window chunking
    pass, as pure codegen'd array expressions riding the scan."""
    return tx.chunk_documents(load_table(spark, sf_dir, "documents"))


@query(
    "profile_corpus",
    oracle=f"""
WITH {_QUALITY_CTES},
q AS (
  SELECT doc_id,
         round(least(mean_word_len / 8.0, 1.0) * 0.25
               + least(stop_ratio * 4.0, 1.0) * 0.25
               + alpha_ratio * 0.25
               + distinct_ratio * 0.25, 6) AS quality_score
  FROM ratios
),
scores AS (
  SELECT doc_id,
         {_LANG_SCORES}
  FROM toks
),
lang AS (
  SELECT doc_id,
         CASE WHEN greatest(s_de, s_en, s_es, s_fr) = 0 THEN 'und'
              WHEN s_fr >= s_es AND s_fr >= s_en AND s_fr >= s_de THEN 'fr'
              WHEN s_es >= s_en AND s_es >= s_de THEN 'es'
              WHEN s_en >= s_de THEN 'en'
              ELSE 'de' END AS lang_pred
  FROM scores
),
ws AS (
  SELECT doc_id,
         len(list_filter(string_split_regex(text, '\\s+'), x -> x <> '')) AS n_ws,
         length(text) AS n_chars
  FROM documents
),
dup AS (
  SELECT doc_id, CASE WHEN count(*) OVER (PARTITION BY text) > 1 THEN 1 ELSE 0 END AS is_dup
  FROM documents
)
SELECT lang_pred,
       COUNT(*) AS n_docs,
       CAST(SUM(is_dup) AS BIGINT) AS n_dup_docs,
       CAST(SUM(n_ws) AS BIGINT) AS total_ws_tokens,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       round(CAST(SUM(CAST(quality_score AS DECIMAL(12,6))) AS DOUBLE) / COUNT(*), 6) AS mean_quality
FROM lang
JOIN q USING (doc_id)
JOIN ws USING (doc_id)
JOIN dup USING (doc_id)
GROUP BY lang_pred
""",
)
def q_profile_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language corpus data card: docs, exact-dup docs, token and
    char volume, mean quality — lang-ID, quality, and token features
    computed in ONE projection over ONE scan
    (operators/text.profile_features).

    Scale notes: every per-doc feature rides the single scan; the dup
    flag is a window over the sha2 digest (shuffles 32-byte digests +
    feature rows, never text); the mean quality uses an exact DECIMAL
    sum (a bare float SUM would be partition-order-dependent at the
    last ulp); the final rollup is a handful of rows.
    """
    from pyspark.sql.window import Window

    docs = load_table(spark, sf_dir, "documents")
    feats = tx.profile_features(docs)
    joined = feats.select(
        "lang_pred",
        "quality_score",
        "n_ws_tokens",
        "n_chars",
        (F.count("*").over(Window.partitionBy("__digest")) > 1).cast("int").alias("is_dup"),
    )
    return joined.groupBy("lang_pred").agg(
        F.count("*").alias("n_docs"),
        F.sum("is_dup").cast("long").alias("n_dup_docs"),
        F.sum("n_ws_tokens").cast("long").alias("total_ws_tokens"),
        F.sum("n_chars").cast("long").alias("total_chars"),
        F.round(
            F.sum(F.col("quality_score").cast("decimal(12,6)")).cast("double")
            / F.count("*"),
            6,
        ).alias("mean_quality"),
    )


@query(
    "text_bpe_pairs",
    oracle="""
WITH words AS (
  SELECT unnest(string_split_regex(text, '[^A-Za-z]+')) AS word
  FROM documents
),
pairs AS (
  SELECT substring(word, CAST(u.i AS INT), 2) AS pair
  FROM words, UNNEST(range(1, length(word))) AS u(i)
  WHERE length(word) >= 2
)
SELECT pair, COUNT(*) AS n
FROM pairs
GROUP BY pair
ORDER BY n DESC, pair ASC
LIMIT 20
""",
)
def q_text_bpe_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One byte-pair-encoding trainer round: the corpus's top-20
    adjacent character pairs (operators/text.bpe_pair_counts). The
    most frequent pair is the next BPE merge; the trainer is this
    aggregation iterated with a growing symbol alphabet. Tie-break
    (count DESC, pair ASC) keeps the cut deterministic in both
    engines."""
    docs = load_table(spark, sf_dir, "documents")
    return tx.bpe_pair_counts(docs, top_k=20)


@query(
    "text_entropy_by_source",
    oracle="""
WITH toks AS (
  SELECT source, unnest(string_split_regex(lower(text), '\\s+')) AS tok FROM documents
),
tc AS (SELECT source, tok, COUNT(*) AS c FROM toks WHERE tok <> '' GROUP BY 1, 2),
s AS (
  SELECT source, SUM(c) AS n, COUNT(*) AS n_distinct, SUM(c * ln(CAST(c AS DOUBLE))) AS sclnc
  FROM tc GROUP BY 1
)
SELECT source, CAST(n AS BIGINT) AS n_tokens, n_distinct,
       ROUND(ln(CAST(n AS DOUBLE)) - sclnc / n, 6) AS entropy_nats
FROM s
""",
)
def q_text_entropy_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy (nats) of each source's token distribution — the
    corpus-diversity diagnostic that flags templated/boilerplate
    sources before they skew a training mix.

    Uses the one-pass identity H = ln(n) − (Σ c·ln c)/n, so the whole
    query is two chained aggregations — token counts (map-side
    combined over the explode, the only corpus-scale shuffle) then a
    per-source moment roll-up. No normalization join, no second scan
    of the corpus, and Σ c·ln c is a mergeable aggregate, so the
    per-source state re-aggregates across shards/days like the
    variance algebra. Round(6) absorbs ln() ulp drift.
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "source",
        F.explode(F.split(F.lower(F.col("text")), r"\s+")).alias("tok"),
    ).filter(F.col("tok") != "")
    tc = toks.groupBy("source", "tok").agg(F.count("*").alias("c"))
    s = tc.groupBy("source").agg(
        F.sum("c").alias("n"),
        F.count("*").alias("n_distinct"),
        F.sum(F.col("c") * F.log(F.col("c").cast("double"))).alias("sclnc"),
    )
    return s.select(
        "source",
        F.col("n").cast("long").alias("n_tokens"),
        "n_distinct",
        F.round(
            F.log(F.col("n").cast("double")) - F.col("sclnc") / F.col("n"), 6
        ).alias("entropy_nats"),
    )


@query(
    "text_keywords_topk",
    oracle="""
WITH words AS (
  SELECT doc_id,
         unnest(list_filter(string_split_regex(lower(text), '[^a-z]+'), x -> x <> '')) AS word
  FROM documents
),
tf AS (SELECT doc_id, word, count(*) AS tf FROM words GROUP BY 1, 2),
df AS (SELECT word, count(*) AS df FROM tf GROUP BY 1),
n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
scored AS (
  SELECT doc_id, word,
         round(tf * (ln((n_docs + 1.0) / (df + 1)) + 1.0), 6) AS tfidf
  FROM tf JOIN df USING (word) CROSS JOIN n
),
ranked AS (
  SELECT doc_id, word, tfidf,
         CAST(ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, word) AS INT) AS rnk
  FROM scored
)
SELECT doc_id, word, tfidf, rnk FROM ranked WHERE rnk <= 3
""",
)
def q_text_keywords_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyword extraction: each document's top-3 TF-IDF terms — the
    per-doc summary tags behind search facets and dataset cards.
    Composes the tf_idf operator with a bounded per-doc ranking
    window (deterministic tie-break on the word); the window
    partitions on doc_id, the same key the tf aggregation already
    shuffled on.
    """
    from pyspark.sql.window import Window

    scored = tx.tf_idf(load_table(spark, sf_dir, "documents"))
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("word"))
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= 3)
        .select("doc_id", "word", "tfidf", "rnk")
    )


@query(
    "udtf_text_chunks",
    oracle=r"""
WITH t AS (
  SELECT doc_id,
         list_filter(string_split_regex(text, '\s+'), x -> x <> '') AS w
  FROM documents
),
c AS (
  SELECT doc_id, w,
         CASE WHEN len(w) <= 64 THEN 1
              ELSE CAST(ceil((len(w) - 64) / 48.0) AS BIGINT) + 1 END AS nc
  FROM t
),
x AS (SELECT doc_id, unnest(range(0, nc)) AS chunk_idx, w FROM c)
SELECT doc_id, CAST(chunk_idx AS INT) AS chunk_idx,
       CAST(len(list_slice(w, chunk_idx * 48 + 1, chunk_idx * 48 + 64)) AS INT) AS n_tokens
FROM x
""",
)
def q_udtf_text_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME chunk law as text_chunks, computed by a Python UDTF
    (Spark 3.5+ lateral table function) instead of codegen'd array
    expressions — the user-defined TABLE function surface, in the hard
    oracle gate rather than pytest only.

    The codegen form (text_chunks) remains the production path; a
    row-level Python UDTF is the slow lane, shown here because custom
    generators (parsers, samplers, tokenizers) are what the surface is
    FOR. Sharing text_chunks' oracle proves the two implementations
    agree chunk-for-chunk.
    """
    from pyspark.sql.functions import udtf

    @udtf(returnType="chunk_idx int, n_tokens int")
    class Chunker:
        def eval(self, text: str):
            toks = [t for t in (text or "").split() if t]
            if not toks:
                yield 0, 0
                return
            i = idx = 0
            while i < len(toks):
                yield idx, len(toks[i : i + 64])
                if i + 64 >= len(toks):
                    break
                i += 48
                idx += 1

    spark.udtf.register("mmr_chunker", Chunker)
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("mmr_udtf_docs")
    return spark.sql(
        "SELECT doc_id, c.chunk_idx, c.n_tokens "
        "FROM mmr_udtf_docs, LATERAL mmr_chunker(text) AS c"
    )


_BPE_N_MERGES = 8


def _bpe_cte_chain(n: int) -> str:
    """Generate the n-iteration BPE trainer as chained MATERIALIZED
    CTEs (one pair-count + argmax + rewrite round per iteration);
    returns the WITH body ending at seq{n}/b{n} so callers append
    their own final SELECT (trainer: the merges; apply: the segmented
    vocabulary). MATERIALIZED is load-bearing: each seq CTE is
    referenced by both the next round's pair count and its rewrite,
    and each b CTE five times — inlined, the plan (and the parquet
    open count) grows ~5^n."""
    parts = [
        """WITH words AS (
  SELECT lower(unnest(string_split_regex(text, '[^A-Za-z]+'))) AS word FROM documents
),
wf AS MATERIALIZED (SELECT word, COUNT(*) AS freq FROM words WHERE word <> '' GROUP BY 1),
seq0 AS MATERIALIZED (SELECT word, freq, trim(regexp_replace(word, '(.)', '\\1 ', 'g')) AS seq FROM wf)"""
    ]
    for i in range(1, n + 1):
        parts.append(
            f"""p{i} AS (
  SELECT t.l[CAST(u.i AS INT)] || ' ' || t.l[CAST(u.i AS INT) + 1] AS pair, SUM(t.freq) AS c
  FROM (SELECT freq, string_split(seq, ' ') AS l FROM seq{i - 1}) t,
       UNNEST(range(1, len(t.l))) AS u(i)
  GROUP BY 1
),
b{i} AS MATERIALIZED (SELECT pair, CAST(c AS BIGINT) AS c FROM p{i} ORDER BY c DESC, pair ASC LIMIT 1),
seq{i} AS MATERIALIZED (
  SELECT word, freq, trim(replace(replace(' ' || seq || ' ',
      ' ' || (SELECT pair FROM b{i}) || ' ',
      ' ' || replace((SELECT pair FROM b{i}), ' ', '') || ' '),
      ' ' || (SELECT pair FROM b{i}) || ' ',
      ' ' || replace((SELECT pair FROM b{i}), ' ', '') || ' ')) AS seq
  FROM seq{i - 1}
)"""
        )
    return ",\n".join(parts)


def _bpe_oracle(n: int) -> str:
    finals = "\nUNION ALL\n".join(
        f"SELECT {i} AS merge_rank, pair, replace(pair, ' ', '') AS token, c FROM b{i}"
        for i in range(1, n + 1)
    )
    return _bpe_cte_chain(n) + "\n" + finals


def _bpe_apply_oracle(n: int) -> str:
    return (
        _bpe_cte_chain(n)
        + f""",
vocab AS (SELECT word, len(string_split(seq, ' ')) AS n_toks FROM seq{n}),
wd AS (
  SELECT doc_id, lower(unnest(string_split_regex(text, '[^A-Za-z]+'))) AS word FROM documents
),
dwc AS (SELECT doc_id, word, COUNT(*) AS c FROM wd WHERE word <> '' GROUP BY 1, 2)
SELECT d.doc_id,
       CAST(SUM(d.c) AS BIGINT) AS n_words,
       CAST(SUM(d.c * length(v.word)) AS BIGINT) AS n_chars,
       CAST(SUM(d.c * v.n_toks) AS BIGINT) AS n_bpe_tokens
FROM dwc d JOIN vocab v USING (word)
GROUP BY 1"""
    )


@query("text_bpe_train_merges", oracle=_bpe_oracle(_BPE_N_MERGES))
def q_text_bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full iterative BPE trainer (operators/text.bpe_train): 8
    merge rounds over the lowercased corpus vocabulary, oracle-matched
    round-for-round against a DuckDB chained-CTE replica — pair
    counts, argmax tie-breaks, AND the greedy rewrite must all agree
    for the hash to match, because every round feeds the next."""
    docs = load_table(spark, sf_dir, "documents")
    return tx.bpe_train(docs, n_merges=_BPE_N_MERGES)

@query("text_bpe_tokenize", oracle=_bpe_apply_oracle(_BPE_N_MERGES))
def q_text_bpe_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer APPLY: train 8 BPE merges, segment the vocabulary
    with them (operators/text.bpe_segment_vocab), and account tokens
    per document — (doc_id, n_words, n_chars, n_bpe_tokens), the
    token-budget accounting every pretraining mix is planned with.

    Scale: merges rewrite only DISTINCT words; corpus-scale work is
    one (doc_id, word) count shuffle plus a vocabulary join (Catalyst
    broadcasts it at this SF; at 100 TB a million-word vocabulary is
    ~tens of MB — still broadcastable). The n_chars sum counts only
    [a-z] word characters, mirrored exactly in the oracle's
    length(word)."""
    docs = load_table(spark, sf_dir, "documents")
    merges = [r.pair for r in tx.bpe_train(docs, n_merges=_BPE_N_MERGES).collect()]
    vocab = tx.bpe_segment_vocab(docs, merges)
    dwc = (
        docs.select(
            "doc_id",
            F.explode(F.split(F.lower(F.col("text")), tx.WORD_SPLIT_RE)).alias("word"),
        )
        .filter(F.col("word") != "")
        .groupBy("doc_id", "word")
        .agg(F.count("*").alias("c"))
    )
    return (
        dwc.join(vocab, "word")
        .groupBy("doc_id")
        .agg(
            F.sum("c").cast("long").alias("n_words"),
            F.sum(F.col("c") * F.length("word")).cast("long").alias("n_chars"),
            F.sum(F.col("c") * F.col("n_toks")).cast("long").alias("n_bpe_tokens"),
        )
    )


_HINGE_PATTERNS = [" the ", " a ", " table ", " join ", " data ", " row "]
_HINGE_STEPS = 8
_HINGE_SCALE = 1024
_HINGE_LABEL_SQL = "CASE WHEN n_chars >= 300 THEN 1 ELSE -1 END"


def _hinge_chain(patterns: list[str], n_steps: int, scale: int) -> tuple[str, str, int]:
    """Shared DuckDB replica of train_hinge_classifier's training loop:
    integer feature extraction (replace-length occurrence counts) and
    n_steps of the all-integer margin-perceptron update, as chained
    MATERIALIZED 1-row weight CTEs. Returns (cte_prefix,
    final-weights dot expression over f's columns, k) so the trainer
    and scorer oracles share one replica; f carries doc_id for the
    scorer (training sums are unaffected)."""
    k = len(patterns) + 2
    feat_exprs = [
        "1 AS x0",
        # centered whitespace-token count: the integer analogue of
        # feature standardization — without it the unit bias cannot
        # track a magnitude-45 count and training stalls at base rate
        "(length(s) - length(replace(s, ' ', ''))) - 46 AS x1",
    ] + [
        f"(length(s) - length(replace(s, '{p}', ''))) // {len(p)} AS x{i + 2}"
        for i, p in enumerate(patterns)
    ]
    parts = [
        f"""WITH f AS MATERIALIZED (
  SELECT doc_id, {_HINGE_LABEL_SQL} AS y,
         {", ".join(feat_exprs)}
  FROM (SELECT doc_id, n_chars, ' ' || lower(text) || ' ' AS s FROM documents)
),
w0 AS MATERIALIZED (SELECT {", ".join(f"CAST(0 AS BIGINT) AS w{i}" for i in range(k))})"""
    ]
    # The weight CTE is joined in as a 1-row CROSS JOIN and the margin
    # hoisted to one column — NOT referenced via per-term scalar
    # subqueries inside every aggregate: k**2 scalar subqueries per
    # epoch made DuckDB's plan blow past 65 GB / >10 min on the 500k-doc
    # sf10 corpus, while this shape streams in seconds.
    for t in range(1, n_steps + 1):
        dot = " + ".join(f"wp.w{i} * x{i}" for i in range(k))
        grads = ", ".join(
            f"COALESCE(SUM(CASE WHEN m < {scale} THEN y * x{i} ELSE 0 END), 0) AS d{i}"
            for i in range(k)
        )
        upd = ", ".join(f"wp.w{i} + g.d{i} AS w{i}" for i in range(k))
        parts.append(
            f"""g{t} AS MATERIALIZED (SELECT {grads}
  FROM (SELECT f.*, y * ({dot}) AS m FROM f, w{t - 1} wp)),
w{t} AS MATERIALIZED (SELECT {upd} FROM w{t - 1} wp, g{t} g)"""
        )
    dotn = " + ".join(f"wn.w{i} * x{i}" for i in range(k))
    return ",\n".join(parts), dotn, k


def _hinge_oracle(patterns: list[str], n_steps: int, scale: int) -> str:
    chain, dotn, k = _hinge_chain(patterns, n_steps, scale)
    finals = "\nUNION ALL\n".join(
        f"SELECT 'w_{i}' AS name, CAST(w{i} AS BIGINT) AS value FROM w{n_steps}"
        for i in range(k)
    )
    return (
        chain
        + "\n"
        + finals
        + f"""
UNION ALL
SELECT '__n_train', CAST(COUNT(*) AS BIGINT) FROM f
UNION ALL
SELECT '__n_correct', CAST(COALESCE(SUM(CASE WHEN y * ({dotn}) > 0 THEN 1 ELSE 0 END), 0) AS BIGINT) FROM f, w{n_steps} wn"""
    )


def _hinge_score_oracle(patterns: list[str], n_steps: int, scale: int) -> str:
    chain, dotn, _ = _hinge_chain(patterns, n_steps, scale)
    return (
        chain
        + f"""
SELECT doc_id, CAST({dotn} AS BIGINT) AS margin,
       CAST(CASE WHEN ({dotn}) > 0 THEN 1 ELSE -1 END AS BIGINT) AS pred
FROM f, w{n_steps} wn"""
    )


@query(
    "ml_train_hinge_classifier",
    oracle=_hinge_oracle(_HINGE_PATTERNS, _HINGE_STEPS, _HINGE_SCALE),
)
def q_ml_train_hinge_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train a linear document classifier ON the engine — the
    fastText-style cheap-count-feature filter every pretraining
    pipeline runs: occurrence-count features → 8 full-batch hinge
    subgradient steps (operators/clustering.train_hinge_classifier).
    With η = 1/1024 the update is PURE INTEGER (gw ← gw + Σ y·x over
    margin violators), so weights AND train accuracy pass the
    bit-exact hash gate — every step replayed by the DuckDB twin.

    Target: length class (n_chars ≥ 300) from a centered
    whitespace-token count plus six word-occurrence counts — deliberately a task with REAL signal in this synthetic
    corpus (whose `lang` column is uncorrelated with its generated
    text, so a linguistic target would train to the base rate; a real
    corpus plugs stopword patterns + a language label into the same
    two lines). Learnability is pinned: the test requires accuracy
    well above the all-negative base rate, and separable-data
    convergence is proven on a planted set. Occurrence counts use the
    replace-length trick: identical non-overlapping semantics in both
    engines, no regex."""
    feats = _hinge_feats(load_table(spark, sf_dir, "documents"))
    return cl.train_hinge_classifier(
        feats, n_features=len(_HINGE_PATTERNS) + 2, n_steps=_HINGE_STEPS, scale=_HINGE_SCALE
    )


def _hinge_feats(docs: DataFrame, with_id: bool = False) -> DataFrame:
    """Shared integer count-feature extraction for the hinge trainer
    and scorer (replace-length occurrence counts — mirrored in the
    oracle's _hinge_chain)."""
    s = F.concat(F.lit(" "), F.lower(F.col("text")), F.lit(" "))
    cols = ([F.col("doc_id")] if with_id else []) + [
        F.when(F.col("n_chars") >= 300, 1).otherwise(-1).cast("long").alias("y"),
        F.lit(1).cast("long").alias("x0"),
        ((F.length(s) - F.length(F.replace(s, F.lit(" "), F.lit("")))) - F.lit(46))
        .cast("long")
        .alias("x1"),
    ]
    for i, p in enumerate(_HINGE_PATTERNS):
        cols.append(
            (
                (F.length(s) - F.length(F.replace(s, F.lit(p), F.lit(""))))
                / F.lit(len(p))
            )
            .cast("long")
            .alias(f"x{i + 2}")
        )
    return docs.select(*cols)


@query(
    "ml_score_quality",
    oracle=_hinge_score_oracle(_HINGE_PATTERNS, _HINGE_STEPS, _HINGE_SCALE),
)
def q_ml_score_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier APPLY — the other half of ml_train_hinge_classifier:
    train the 8-step integer hinge model on the engine, then score
    EVERY document with the learned weights — (doc_id, margin, pred),
    the quality-filter inference pass a pretraining pipeline runs over
    the whole corpus before the floor/sample stages. Margins are pure
    int64 dot products, so the per-document predictions hash-match the
    oracle's replayed training bit-for-bit.

    Scale: training is k-vector driver state + one corpus pass per
    step (trainer contract); scoring is ONE more corpus pass with the
    k weights as literals in the task closures — no join, no shuffle;
    the scan's projection carries only the count features."""
    k = len(_HINGE_PATTERNS) + 2
    docs = load_table(spark, sf_dir, "documents")
    w = cl.train_hinge_classifier(
        _hinge_feats(docs), n_features=k, n_steps=_HINGE_STEPS, scale=_HINGE_SCALE
    )
    gw = {r.name: int(r.value) for r in w.collect()}
    feats = _hinge_feats(docs, with_id=True)
    margin = sum(F.col(f"x{i}") * F.lit(gw[f"w_{i}"]) for i in range(k))
    return feats.select(
        "doc_id",
        margin.cast("long").alias("margin"),
        F.when(margin > 0, 1).otherwise(-1).cast("long").alias("pred"),
    )


_VOCAB_PCTS = (10, 25, 50, 100)


@query(
    "text_vocab_growth",
    oracle=f"""
WITH w AS (
  SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '[^a-z]+'), x -> x <> '')) AS word
  FROM documents
),
n AS (SELECT COUNT(*) AS nd FROM documents),
agg AS (
  SELECT
    {", ".join(f'''SUM(CASE WHEN doc_id < (SELECT nd FROM n) * {p} // 100 THEN 1 ELSE 0 END) AS t{p},
    COUNT(DISTINCT CASE WHEN doc_id < (SELECT nd FROM n) * {p} // 100 THEN word END) AS v{p}''' for p in _VOCAB_PCTS)}
  FROM w
)
{" UNION ALL ".join(f'''SELECT CAST({p} AS BIGINT) AS prefix_pct, CAST((SELECT nd FROM n) * {p} // 100 AS BIGINT) AS n_docs,
       CAST(t{p} AS BIGINT) AS n_tokens, CAST(v{p} AS BIGINT) AS n_vocab FROM agg''' for p in _VOCAB_PCTS)}
""",
)
def q_text_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-growth curve (Heaps'-law readout) — the corpus
    datacard diagnostic a pretraining mix is sized with: token count
    and DISTINCT vocabulary at nested doc-id prefixes (10/25/50/100 %
    of the corpus), all integers so the curve hash-matches DuckDB.
    A flattening n_vocab says new data repeats old vocabulary; a
    near-linear one says the corpus is still surfacing novel text.

    Scale: ONE pass over the token stream — the four prefixes are
    conditional aggregates in a single multi-distinct aggregation
    (Spark plans the EXPAND ×4 with map-side partials), never four
    scans; the prefix thresholds are a constant 1-row subquery.
    """
    docs = load_table(spark, sf_dir, "documents")
    n = docs.count()  # scalar, constant driver state (kmeans contract)
    words = docs.select("doc_id", F.explode(tx.word_tokens("text")).alias("word"))
    aggs = []
    for p in _VOCAB_PCTS:
        t = n * p // 100
        aggs.append(
            F.sum((F.col("doc_id") < t).cast("long")).alias(f"t{p}")
        )
        aggs.append(
            F.countDistinct(
                F.when(F.col("doc_id") < t, F.col("word"))
            ).alias(f"v{p}")
        )
    one = words.agg(*aggs)
    stack = ", ".join(
        f"CAST({p} AS BIGINT), CAST({n * p // 100} AS BIGINT), t{p}, v{p}"
        for p in _VOCAB_PCTS
    )
    return one.select(
        F.expr(
            f"stack({len(_VOCAB_PCTS)}, {stack}) AS (prefix_pct, n_docs, n_tokens, n_vocab)"
        )
    )


@query(
    "text_bigram_logprob",
    oracle=r"""
WITH t AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '[^a-z]+'), x -> x <> '') AS w
  FROM documents
),
b AS (
  SELECT doc_id, w[i] AS w1, w[i + 1] AS w2
  FROM t, UNNEST(range(1, len(w))) AS r(i)
  WHERE len(w) >= 2
),
uni AS (SELECT w1, count(*) AS c1 FROM b GROUP BY 1),
big AS (SELECT w1, w2, count(*) AS c2 FROM b GROUP BY 1, 2),
v AS (SELECT count(DISTINCT tok) AS vocab
      FROM (SELECT unnest(w) AS tok FROM t)),
s AS (
  SELECT b.doc_id,
         CAST(round(-ln((c2 + 1.0) / (c1 + vocab)), 6) AS DECIMAL(18,6)) AS nll
  FROM b JOIN big USING (w1, w2) JOIN uni USING (w1) CROSS JOIN v
)
SELECT doc_id, count(*) AS n_bigrams,
       CAST(sum(nll) AS DOUBLE) AS nll_total,
       CAST(CAST(sum(nll) * 1000000 AS BIGINT) // count(*) AS DOUBLE)
         / 1000000.0 AS avg_nll
FROM s GROUP BY doc_id
""",
)
def q_text_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LM-perplexity quality filtering (the CCNet recipe): add-one
    bigram model trained on the corpus, every doc scored by average
    bigram NLL — the filter signal that separates fluent text from
    boilerplate/gibberish better than rule scores. Exactness and the
    100 TB broadcast-model plan are documented on the operator
    (operators/text.bigram_logprob); distinct from text_rank_surprisal,
    which is the integer-exact rank PROXY for the same signal — this
    entry is the real log-probability scorer."""
    return tx.bigram_logprob(load_table(spark, sf_dir, "documents"))
