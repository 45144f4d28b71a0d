"""Text analysis operators — language-ID, quality scoring, token stats,
fingerprinting, TF-IDF.

LLM-pipeline extension surface (SURVEY §7 M3). Everything is built-in
column expressions (codegen'd, Arrow-free); ratios are int/int double
divisions so results are bit-identical across engines.
"""

from __future__ import annotations

from collections import Counter

from pyspark.sql import Column, DataFrame, functions as F

from mock_map_reduce_spark.functions.localdf import local_df
from mock_map_reduce_spark.functions.partitioning import spread

# Tiny per-language stopword lists for the n-gram/stopword heuristic
# language identifier. Deliberately minimal — the operator's value is
# the *plan shape* (pure column expressions, no UDF); swap in real
# lists for production.
STOPWORDS = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "for"],
    "es": ["el", "la", "de", "que", "y", "en", "los", "del"],
    "fr": ["le", "la", "de", "et", "les", "des", "un", "une"],
    "de": ["der", "die", "und", "das", "von", "mit", "den", "ist"],
}

_WS_RE = r"\s+"
# The word rule of the text, dedup and retrieval operators: lowercase,
# split on every non-[a-z] run, drop the empty tokens.
WORD_SPLIT_RE = "[^a-z]+"
# BPE-ish pre-tokenization: letter runs, digit runs, or single
# non-space symbols — the common GPT-2-style pre-split shape.
_BPE_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def _ws_tokens(text_col: str) -> Column:
    return F.filter(F.split(F.col(text_col), _WS_RE), lambda x: x != "")


def word_tokens(text_col: str) -> Column:
    """The lowercase word tokens of ``text_col`` (``WORD_SPLIT_RE``)."""
    return F.filter(
        F.split(F.lower(F.col(text_col)), WORD_SPLIT_RE), lambda x: x != ""
    )


def token_stats(docs_in: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Token counts per doc: whitespace tokens, BPE-ish pieces, chars."""
    return docs_in.select(
        F.col(id_col),
        F.size(_ws_tokens(text_col)).cast("long").alias("n_ws_tokens"),
        F.size(F.regexp_extract_all(F.col(text_col), F.lit(_BPE_RE), 0)).cast("long").alias("n_bpe_pieces"),
        F.length(text_col).cast("long").alias("n_chars"),
    )


def quality_score(docs_in: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Heuristic quality features + composite score per doc.

    Features (all deterministic ratios):
      * mean_word_len — chars per word token
      * stopword_ratio — fraction of tokens in the English stopword list
      * alpha_ratio — alphabetic chars / all chars
      * dedup_token_ratio — distinct tokens / tokens (repetition guard)
    score = weighted blend, bounded [0, 1]-ish; rounded to 6.
    """
    toks = word_tokens(text_col)
    n_toks = F.size(toks)
    sw = F.array([F.lit(w) for w in STOPWORDS["en"]])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(sw, t)))
    n_alpha = F.length(F.regexp_replace(F.col(text_col), "[^A-Za-z]", ""))
    n_chars = F.length(text_col)
    mean_word_len = F.when(n_toks > 0, n_alpha.cast("double") / n_toks).otherwise(0.0)
    stop_ratio = F.when(n_toks > 0, n_stop.cast("double") / n_toks).otherwise(0.0)
    alpha_ratio = F.when(n_chars > 0, n_alpha.cast("double") / n_chars).otherwise(0.0)
    distinct_ratio = F.when(
        n_toks > 0, F.size(F.array_distinct(toks)).cast("double") / n_toks
    ).otherwise(0.0)
    score = (
        F.least(mean_word_len / 8.0, F.lit(1.0)) * 0.25
        + F.least(stop_ratio * 4.0, F.lit(1.0)) * 0.25
        + alpha_ratio * 0.25
        + distinct_ratio * 0.25
    )
    return docs_in.select(
        F.col(id_col),
        F.round(mean_word_len, 6).alias("mean_word_len"),
        F.round(stop_ratio, 6).alias("stopword_ratio"),
        F.round(alpha_ratio, 6).alias("alpha_ratio"),
        F.round(distinct_ratio, 6).alias("distinct_token_ratio"),
        F.round(score, 6).alias("quality_score"),
    )


def language_id(docs_in: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Stopword-voting language ID: (id, lang_pred, lang_score).

    Per language: fraction of tokens in that language's stopword list;
    argmax with deterministic tie-break on language code. 'und' when
    no list scores > 0.
    """
    toks = word_tokens(text_col)
    n_toks = F.size(toks)
    scores = []
    for lang in sorted(STOPWORDS):
        sw = F.array([F.lit(w) for w in STOPWORDS[lang]])
        hits = F.size(F.filter(toks, lambda t: F.array_contains(sw, t)))
        scores.append(
            F.struct(
                F.when(n_toks > 0, hits.cast("double") / n_toks).otherwise(0.0).alias("score"),
                F.lit(lang).alias("lang"),
            )
        )
    # array_max compares structs field-by-field: highest score wins;
    # equal scores tie-break to the lexicographically LARGEST language
    # code (documented contract, mirrored in the SQL oracle).
    best = F.array_max(F.array(*scores))
    return docs_in.select(
        F.col(id_col),
        F.when(best["score"] > 0, best["lang"]).otherwise("und").alias("lang_pred"),
        F.round(best["score"], 6).alias("lang_score"),
    )


def fingerprint(docs_in: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Canonical document fingerprint: md5 of normalized token stream.

    Normalization = lowercase alphabetic tokens joined by single
    spaces — robust to case/punctuation/whitespace-only edits. md5 so
    the DuckDB oracle reproduces it bit-for-bit.
    """
    normalized = F.array_join(word_tokens(text_col), " ")
    return docs_in.select(
        F.col(id_col), F.md5(normalized).alias("fingerprint")
    )


def rolling_fingerprint(
    docs_in: DataFrame,
    base: int = 1000003,
    mod: int = 2147483647,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Order-sensitive polynomial rolling hash over the token stream.

    h = fold(tokens, 0, (acc, t) -> (acc * base + v(t)) mod m) with
    v(t) = first 32 bits of md5(t) — Rabin-Karp over tokens, so unlike
    the flat md5 ``fingerprint`` it extends incrementally (append a
    token = one multiply-add on the previous hash, the streaming/
    chunked-document use). Everything is a JVM-side fold; ``mod`` is
    2^31-1 so acc*base + v stays far below 2^63 (DuckDB BIGINT raises
    on overflow; Java would wrap silently — the mod keeps both exact).
    """
    # Token hashing must run as a flat codegen projection, NOT inside
    # the fold: CollapseProject re-inlines a single-use projected
    # array into the aggregate operand, and HOF lambdas re-evaluate
    # the inlined operand per element — O(tokens^2) md5 evaluations
    # (measured ~50x slower). posexplode keeps token order; the
    # order-sensitive fold then runs over plain longs re-collected per
    # doc (the same partial-collapse shape as minhash: a doc's tokens
    # stay in one partition, so collect_list sees one partial row
    # group pre-shuffle).
    toked = docs_in.select(
        F.col(id_col), F.posexplode_outer(word_tokens(text_col)).alias("__p", "__t")
    )
    hashed = toked.select(
        F.col(id_col),
        "__p",
        F.conv(F.substring(F.md5("__t"), 1, 8), 16, 10).cast("long").alias("__v"),
    )
    return hashed.groupBy(id_col).agg(
        F.aggregate(
            # posexplode_outer emits one null-pos row for token-less
            # docs; filter drops it so their fold is over [] -> 0
            F.filter(
                F.transform(
                    F.sort_array(F.collect_list(F.struct("__p", "__v"))),
                    lambda s: s["__v"],
                ),
                lambda v: v.isNotNull(),
            ),
            F.lit(0).cast("long"),
            lambda acc, v: (acc * base + v) % mod,
        ).alias("rhash")
    )


def tf_idf(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_df: int = 1,
) -> DataFrame:
    """(id, word, tf, df, tfidf) — smoothed ln idf, rounded to 6.

    Two aggregations (term counts per doc; doc frequency per term) and
    one broadcast-able join with the doc count. At 100 TB the df side
    is vocabulary-sized (small) and broadcast; the tf side never
    re-shuffles the corpus.
    """
    words = docs.select(
        F.col(id_col), F.explode(word_tokens(text_col)).alias("word")
    )
    tf = words.groupBy(id_col, "word").agg(F.count("*").alias("tf"))
    df = tf.groupBy("word").agg(F.count("*").alias("df")).filter(F.col("df") >= min_df)
    # id_col is the table's key (unique by contract), so plain count ==
    # countDistinct — without the hash-distinct exchange a distinct
    # aggregation would add over the third corpus scan.
    n_docs = docs.select(F.count(id_col).alias("n_docs"))
    return (
        tf.join(F.broadcast(df), "word")
        .crossJoin(F.broadcast(n_docs))
        .select(
            id_col,
            "word",
            "tf",
            "df",
            F.round(
                F.col("tf").cast("double")
                * (F.log((F.col("n_docs") + 1).cast("double") / (F.col("df") + 1)) + 1.0),
                6,
            ).alias("tfidf"),
        )
    )


def tf_idf_by_language(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, lang_pred, word, tf, df, tfidf) — TF-IDF with per-language
    document frequencies.

    Corpus-level IDF underweights terms that are common only within
    one language's sub-corpus; a multilingual training pipeline wants
    df computed against the documents that share the doc's predicted
    language. Plan shape: one tf aggregation over the corpus, one
    doc_id-keyed join to attach lang_pred, then a (lang, word)
    aggregation whose result is vocabulary×languages sized — small,
    so it (and the per-language doc counts) broadcast back onto the
    tf table. The corpus-scale side shuffles twice (tf groupBy, lang
    join) and never again.
    """
    langs = language_id(docs, text_col, id_col).select(id_col, "lang_pred")
    words = docs.select(
        F.col(id_col), F.explode(word_tokens(text_col)).alias("word")
    )
    tf = words.groupBy(id_col, "word").agg(F.count("*").alias("tf"))
    tfl = tf.join(langs, id_col)
    df = tfl.groupBy("lang_pred", "word").agg(F.count("*").alias("df"))
    # Count docs from tfl, not langs: a token-less doc gets lang 'und'
    # but contributes no terms, so it must not inflate the 'und' corpus.
    n_docs = tfl.groupBy("lang_pred").agg(F.countDistinct(id_col).alias("n_docs"))
    dim = df.join(n_docs, "lang_pred")
    return tfl.join(F.broadcast(dim), ["lang_pred", "word"]).select(
        id_col,
        "lang_pred",
        "word",
        "tf",
        "df",
        F.round(
            F.col("tf").cast("double")
            * (F.log((F.col("n_docs") + 1).cast("double") / (F.col("df") + 1)) + 1.0),
            6,
        ).alias("tfidf"),
    )


def repetition_ratio(
    docs_in: DataFrame, n: int = 2, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Boilerplate signal: fraction of repeated word n-grams per doc.

    (id, n_ngrams, n_distinct, repetition_ratio) where ratio =
    1 - distinct/total (0 for docs with < n tokens). High values mark
    template/boilerplate text a quality filter should down-weight.
    Pure column expressions over the token array — no UDF, no shuffle:
    the signal rides the scan like the other quality scores.
    """
    # Materialize the token array as a real column first — the gram
    # transform references it per element, and an inline tokenizer
    # would re-run the regex split once per gram: a higher-order
    # function's lambda re-evaluates its operand expression per element.
    base = docs_in.select(F.col(id_col), word_tokens(text_col).alias("__w"))
    grams = F.when(
        F.size("__w") >= n,
        F.transform(
            F.sequence(F.lit(1), F.size("__w") - (n - 1)),
            lambda i: F.concat_ws(" ", F.slice(F.col("__w"), i, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    g = base.select(F.col(id_col), grams.alias("__g"))
    total = F.size("__g")
    dist = F.size(F.array_distinct("__g"))
    return g.select(
        F.col(id_col),
        total.cast("long").alias("n_ngrams"),
        dist.cast("long").alias("n_distinct"),
        F.when(total > 0, (total - dist).cast("double") / total.cast("double"))
        .otherwise(F.lit(0.0))
        .alias("repetition_ratio"),
    )


# PII scrubbing patterns — conservative syntax that Java regex (Spark)
# and RE2 (DuckDB) interpret identically; no backrefs, no lookaround.
PII_EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
PII_PHONE_RE = "[0-9]{3}[- .][0-9]{4}"
PII_LONG_NUM_RE = "[0-9]{6,}"


def scrub_pii(
    docs_in: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Replace emails / phone-shaped numbers / long digit runs with
    typed placeholder tokens: (id, clean_text).

    The pre-training redaction pass. Order matters (emails before
    digit runs, phones before bare digit runs); pure regexp_replace
    projections riding the scan — no UDF, no shuffle.
    """
    c = F.col(text_col)
    c = F.regexp_replace(c, PII_EMAIL_RE, "<EMAIL>")
    c = F.regexp_replace(c, PII_PHONE_RE, "<PHONE>")
    c = F.regexp_replace(c, PII_LONG_NUM_RE, "<NUM>")
    return docs_in.select(F.col(id_col), c.alias("clean_text"))


def rank_surprisal(
    docs_in: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Corpus-frequency-rank surprisal per doc — an LM-scoring proxy
    with exact integer arithmetic: (id, n_toks, rank_sum, rarest_rank,
    mean_rank).

    A token's rank is its competition rank by corpus occurrence count
    (most frequent = 1; ties share the smallest rank), computed WITHOUT
    a global vocabulary sort: the count histogram (distinct count
    values — thousands of rows at any corpus size) gets a cumulative
    window, and each vocab entry joins its count to the histogram.
    Docs dominated by rare tokens (high mean/rarest rank) read as
    high-surprisal under a unigram LM; ranks sidestep float log-probs,
    so the score is engine-exact and oracle-checkable.

    100 TB shape: one corpus-token agg (vocab-sized), one tiny
    histogram broadcast back onto the vocab, one vocab-sized broadcast
    join onto per-doc term counts — the corpus rows shuffle once, on
    (doc, token).
    """
    from pyspark.sql.window import Window

    toks = docs_in.select(
        F.col(id_col), F.explode(word_tokens(text_col)).alias("tok")
    )
    # per-doc term counts first: the corpus-sized shuffle happens once
    tf = toks.groupBy(id_col, "tok").agg(F.count("*").alias("tf"))
    vc = tf.groupBy("tok").agg(F.sum("tf").alias("c"))
    hist = vc.groupBy("c").agg(F.count("*").alias("nt"))
    # competition rank start per count value: 1 + #tokens with a
    # strictly larger count. The histogram is tiny, so the global
    # window is O(distinct counts), never O(vocab).
    w = Window.orderBy(F.col("c").desc()).rowsBetween(Window.unboundedPreceding, -1)
    ranks = hist.select("c", (F.lit(1) + F.coalesce(F.sum("nt").over(w), F.lit(0))).alias("rnk"))
    tok_rank = vc.join(F.broadcast(ranks), "c").select("tok", "rnk")
    return (
        tf.join(tok_rank, "tok")
        .groupBy(id_col)
        .agg(
            F.sum("tf").alias("n_toks"),
            F.sum(F.col("tf") * F.col("rnk")).alias("rank_sum"),
            F.max("rnk").alias("rarest_rank"),
        )
        .select(
            id_col,
            "n_toks",
            "rank_sum",
            "rarest_rank",
            F.round(F.col("rank_sum").cast("double") / F.col("n_toks"), 4).alias("mean_rank"),
        )
    )


def chunk_documents(
    docs_in: DataFrame,
    chunk_tokens: int = 64,
    stride: int = 48,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Overlapping token-window chunks per doc: (id, chunk_idx,
    n_tokens, chunk_text) — the retrieval/context-window chunking pass
    of an LLM data pipeline.

    Chunk i covers tokens [i*stride, i*stride + chunk_tokens); the
    last chunk may be short; a doc shorter than one chunk yields one
    chunk with all its tokens. Pure array expressions (sequence ->
    transform -> posexplode) — whole-stage codegen, no UDF/UDTF, no
    shuffle: chunks ride the scan, so chunking 100 TB costs one pass
    and writes partition-local output.
    """
    if stride <= 0 or chunk_tokens <= 0 or stride > chunk_tokens:
        raise ValueError("need 0 < stride <= chunk_tokens")
    base = docs_in.select(F.col(id_col), _ws_tokens(text_col).alias("__w"))
    n = F.size("__w")
    # number of stride-starts whose window contains at least one token
    n_chunks = F.when(n <= chunk_tokens, F.lit(1)).otherwise(
        F.ceil((n - F.lit(chunk_tokens)).cast("double") / stride).cast("int") + 1
    )
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.slice(F.col("__w"), i * stride + 1, chunk_tokens),
    )
    return base.select(
        F.col(id_col), F.posexplode(chunks).alias("chunk_idx", "__c")
    ).select(
        F.col(id_col),
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        F.size("__c").cast("long").alias("n_tokens"),
        F.concat_ws(" ", F.col("__c")).alias("chunk_text"),
    )


def profile_features(
    docs_in: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    include_digest: bool = True,
) -> DataFrame:
    """Single-pass per-doc profile: (id, lang_pred, quality_score,
    n_ws_tokens, n_chars[, __digest]) — the same columns language_id /
    quality_score / token_stats produce separately, computed in ONE
    projection so a corpus report reads the text column once instead
    of once per feature family (joining the per-operator outputs back
    on doc_id would shuffle per-doc rows once per family AND rescan
    the corpus per family — pure waste at 100 TB).

    ``__digest`` is sha2(text, 256), emitted so downstream exact-dup
    windows (q_profile_corpus's is_dup) ride the same single text
    scan instead of re-reading the corpus; pass
    ``include_digest=False`` when you don't need it — it is the one
    expensive extra column in the projection.
    """
    toks = word_tokens(text_col)
    n_toks = F.size(toks)
    # language vote (mirrors language_id)
    scores = []
    for lang in sorted(STOPWORDS):
        sw = F.array([F.lit(w) for w in STOPWORDS[lang]])
        hits = F.size(F.filter(toks, lambda t: F.array_contains(sw, t)))
        scores.append(
            F.struct(
                F.when(n_toks > 0, hits.cast("double") / n_toks).otherwise(0.0).alias("score"),
                F.lit(lang).alias("lang"),
            )
        )
    best = F.array_max(F.array(*scores))
    # quality blend (mirrors quality_score)
    en = F.array([F.lit(w) for w in STOPWORDS["en"]])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(en, t)))
    n_alpha = F.length(F.regexp_replace(F.col(text_col), "[^A-Za-z]", ""))
    n_chars = F.length(text_col)
    mean_word_len = F.when(n_toks > 0, n_alpha.cast("double") / n_toks).otherwise(0.0)
    stop_ratio = F.when(n_toks > 0, n_stop.cast("double") / n_toks).otherwise(0.0)
    alpha_ratio = F.when(n_chars > 0, n_alpha.cast("double") / n_chars).otherwise(0.0)
    distinct_ratio = F.when(
        n_toks > 0, F.size(F.array_distinct(toks)).cast("double") / n_toks
    ).otherwise(0.0)
    score = (
        F.least(mean_word_len / 8.0, F.lit(1.0)) * 0.25
        + F.least(stop_ratio * 4.0, F.lit(1.0)) * 0.25
        + alpha_ratio * 0.25
        + distinct_ratio * 0.25
    )
    cols = [
        F.col(id_col),
        F.when(best["score"] > 0, best["lang"]).otherwise("und").alias("lang_pred"),
        F.round(score, 6).alias("quality_score"),
        F.size(_ws_tokens(text_col)).cast("long").alias("n_ws_tokens"),
        n_chars.cast("long").alias("n_chars"),
    ]
    if include_digest:
        cols.append(F.sha2(F.col(text_col), 256).alias("__digest"))
    return docs_in.select(*cols)


def bpe_pair_counts(
    docs_in: DataFrame, text_col: str = "text", top_k: int = 20
) -> DataFrame:
    """One BPE-trainer round: corpus-wide adjacent-symbol-pair counts
    (symbols = characters on round 0; the most frequent pair is the
    next merge — iterating this aggregation IS byte-pair-encoding
    training).

    Scale shape: the pair explode emits length-1 rows per word via
    codegen'd sequence→transform→substring (no Python, no UDF);
    map-side partial aggregation collapses each partition to one row
    per distinct pair (pair vocabulary ≪ corpus, so the exchange is
    tiny); top-k is a TakeOrdered bounded heap, never a global sort.
    Ties break on (count DESC, pair ASC) so the cut is deterministic
    across engines and retries.
    """
    words = (
        docs_in.select(F.explode(F.split(F.col(text_col), "[^A-Za-z]+")).alias("word"))
        .filter(F.length("word") >= 2)
    )
    pairs = words.select(
        F.explode(
            F.expr("transform(sequence(1, length(word) - 1), i -> substring(word, i, 2))")
        ).alias("pair")
    )
    return (
        pairs.groupBy("pair")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), F.col("pair").asc())
        .limit(top_k)
    )


def bpe_train(
    docs_in: DataFrame, n_merges: int, text_col: str = "text"
) -> DataFrame:
    """Train ``n_merges`` byte-pair-encoding merges over the corpus and
    return the learned merge table (merge_rank, pair, token, c), its
    rows in rank order — the full iterative trainer whose single round is ``bpe_pair_counts``.

    Algorithm (Sennrich et al. 2016, the public BPE formulation):
    symbols start as characters; each round counts adjacent symbol
    pairs weighted by word frequency, merges the most frequent pair
    (ties: count DESC, pair ASC on the space-joined pair string —
    tokens are [a-z], so Python's str order is Spark's and DuckDB's
    binary order), rewrites the sequences, repeats; it stops early
    when no word has two symbols left. Pair application is canonical
    greedy left-to-right non-overlapping merging, realized as TWO
    passes of space-padded ``replace``: pass one consumes the
    separating space of an immediately-following occurrence, pass two
    picks those up; no new occurrence of the same pair can be created
    by a replacement (merged tokens contain no space), so two passes
    are exact.

    Scale shape: the word-frequency groupBy (map-side combined) is the
    one corpus-scale pass and the only Spark work; its result, the
    distinct-word vocabulary, is collected and the merge rounds run on
    the driver over the (word, freq) rows (the power_iteration_pc1 split:
    distributed accumulation, small-state iterations on the driver),
    so training cost is independent of corpus size past the first
    pass and no round fires a job. Limit: the driver holds the
    vocabulary, about distinct words × average word length. The bench
    corpora have 31 distinct words at sf0.01 and sf0.1 (sf1 from
    tools/gen_sf.py replicates sf0.1, so it has the same 31).
    Pair counts are recounted each round, not updated incrementally:
    8 merges over the 31 words take about 1 ms on a 4-vCPU host.
    """
    spark = docs_in.sparkSession
    # spread: the tokenize+explode feeding the word-freq groupBy is
    # per-row-heavy (regex split per doc) and the bench corpus arrives
    # as ONE split — round-11 profiling showed this
    # stage running 2.2 s on a single task. No-op at 100 TB where file
    # splits provide parallelism (same policy as text_feature_hashing).
    wf = (
        spread(docs_in.select(text_col))
        .select(F.explode(F.split(F.lower(F.col(text_col)), WORD_SPLIT_RE)).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").alias("freq"))
        .collect()
    )
    vocab = [(" ".join(r.word), r.freq) for r in wf]
    merges: list[tuple[int, str, str, int]] = []
    for rank in range(1, n_merges + 1):
        counts: Counter[str] = Counter()
        for seq, freq in vocab:
            toks = seq.split(" ")
            for a, b in zip(toks, toks[1:]):
                counts[f"{a} {b}"] += freq
        if not counts:
            break
        pair, c = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        token = pair.replace(" ", "")
        merges.append((rank, pair, token, c))
        pp, pt = f" {pair} ", f" {token} "
        vocab = [
            (f" {s} ".replace(pp, pt).replace(pp, pt).strip(), freq)
            for s, freq in vocab
        ]
    return local_df(
        spark, merges, "merge_rank int, pair string, token string, c bigint"
    )


def bpe_segment_vocab(
    docs_in: DataFrame, merge_pairs: list[str], text_col: str = "text"
) -> DataFrame:
    """Segment the corpus VOCABULARY with an ordered list of learned
    BPE merges: (word, n_toks) where n_toks is the word's token count
    under the merges. Each merge is the trainer's rewrite rule (see
    bpe_train): the same exact two-pass space-padded greedy replace,
    here as a column expression, so segmentation matches training.

    Scale shape: merges apply to DISTINCT words, not the corpus — the
    whole rewrite chain is one shuffle (the distinct) plus pure
    column expressions; callers then join token counts back to
    corpus-scale word counts (vocabulary ≪ corpus, usually a
    broadcast). This is how a tokenizer pass over 100 TB stays one
    scan: segmentation cost is O(vocab), accounting is a join.
    """
    seqs = (
        docs_in.select(F.explode(F.split(F.lower(F.col(text_col)), WORD_SPLIT_RE)).alias("word"))
        .filter(F.col("word") != "")
        .distinct()
        .select("word", F.trim(F.regexp_replace("word", "(.)", "$1 ")).alias("seq"))
    )
    expr = F.concat(F.lit(" "), F.col("seq"), F.lit(" "))
    for pair in merge_pairs:
        padded_pair = F.lit(f" {pair} ")
        padded_token = F.lit(f" {pair.replace(' ', '')} ")
        expr = F.replace(F.replace(expr, padded_pair, padded_token), padded_pair, padded_token)
        expr = F.concat(F.lit(" "), F.trim(expr), F.lit(" "))
    return seqs.select(
        "word", F.size(F.split(F.trim(expr), " ")).alias("n_toks")
    )


def bigram_logprob(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-doc add-one-smoothed bigram-LM negative log-likelihood —
    the CCNet-style LM quality filter: train a bigram model on the
    corpus, score each doc by its average token NLL, drop the
    highest-perplexity tail. (doc_id, n_bigrams, avg_nll).

    p(w2|w1) = (c(w1,w2) + 1) / (c(w1·) + V): both counts and the
    vocabulary size are exact integers, so the only float per scored
    bigram is one division + one ln, rounded to 6 decimals (the
    text_tfidf exactness convention — a last-ulp ln disagreement
    cannot cross a 5e-7 rounding boundary in practice). Per-doc
    totals sum those rounded values as exact DECIMAL(18,6), so the
    sum is addition-order-independent across engines and retries.

    Scale: the model tables are vocabulary-sized (unigram contexts,
    distinct bigrams) and broadcast back onto the corpus-scale bigram
    stream — the corpus shuffles only for the two model groupBys, and
    the scoring pass rides the stream with zero exchange. At web
    scale the bigram table can outgrow a broadcast: production trains
    on a sample (the model is an estimator, not an aggregate) or
    falls back to a sort-merge join on (w1, w2); the plan shape
    downstream is unchanged.
    """
    t = spread(docs.select(id_col, text_col)).select(
        F.col(id_col), word_tokens(text_col).alias("w")
    )
    # sequence(1, size-1) DESCENDS when size < 2 — filter first.
    b = (
        t.filter(F.size("w") >= 2)
        .select(
            F.col(id_col),
            F.explode(
                F.expr(
                    "transform(sequence(1, size(w) - 1),"
                    " i -> struct(w[i-1] AS w1, w[i] AS w2))"
                )
            ).alias("bg"),
        )
        .select(id_col, F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
    )
    big = b.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c2"))
    # Context totals derive from the MODEL, not the corpus: c(w1·) is
    # exactly Σ_w2 c(w1,w2), so aggregating the distinct-bigram table
    # (model-scale) replaces a second corpus-scale tokenize+explode
    # pass — same exact integers, one fewer full pass (guide §1.2:
    # don't compute what another stage already holds). The tokenize is
    # spread: three corpus passes of per-row explode/aggregate work ran
    # single-split at bench scale.
    uni = big.groupBy("w1").agg(F.sum("c2").alias("c1"))
    vocab = t.select(F.explode("w").alias("tok")).agg(
        F.countDistinct("tok").alias("vocab")
    )
    nll = (
        -F.log(
            (F.col("c2") + 1).cast("double")
            / (F.col("c1") + F.col("vocab")).cast("double")
        )
    )
    scored = (
        b.join(F.broadcast(big), ["w1", "w2"])
        .join(F.broadcast(uni), "w1")
        .crossJoin(F.broadcast(vocab))
        .select(id_col, F.round(nll, 6).cast("decimal(18,6)").alias("nll"))
    )
    # avg = round(sum/count, 6) is a TRAP: the sum carries exactly 6
    # decimals, so dividing by e.g. count=10 lands EXACTLY on the
    # half-boundary at digit 7 and Spark (BigDecimal HALF_UP on the
    # double's binary expansion) and DuckDB (scaled multiply) round
    # systematically differently. Integer floor-division of the exact
    # micro-NLL sum instead: every step is integer or a deterministic
    # scalar cast.
    agg = scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.sum("nll").alias("__s"),
    )
    return agg.select(
        F.col(id_col),
        "n_bigrams",
        F.col("__s").cast("double").alias("nll_total"),
        (
            F.expr("CAST(__s * 1000000 AS BIGINT) div n_bigrams").cast("double")
            / F.lit(1e6)
        ).alias("avg_nll"),
    )
