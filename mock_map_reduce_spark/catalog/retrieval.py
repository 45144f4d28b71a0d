"""Retrieval catalog: BM25 ranking, inverted-index construction,
blocked fuzzy vocabulary matching.

Completes the text family with the ranking/indexing side of an IR
stack (reference parity: none — its text surface is word count,
slave.cc:77-203; these are the §2.2 "beyond the reference" shapes a
training-data pipeline uses for retrieval-based filtering).

Float determinism (BM25): both engines add the per-term double
contributions in the same fixed left-to-right order over identical
integer inputs; the only per-engine libm call is ln(), so scores
round to 6 before the rank/cut (the similarity-family convention).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from mock_map_reduce_spark.operators import retrieval as ir
from mock_map_reduce_spark.operators.text import word_tokens
from mock_map_reduce_spark.registry import query
from mock_map_reduce_spark.sources import load_table

_TOKS = """
toks AS (
  SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z]+'), x -> x <> '') AS w
  FROM documents
)
"""

BM25_TERMS = ("spark", "merge", "window")
_K1, _B, _K = 1.2, 0.75, 10


def _bm25_oracle(k: int = _K) -> str:
    tf_cols = ",\n         ".join(
        f"len(list_filter(w, x -> x = '{t}')) AS tf_{i}" for i, t in enumerate(BM25_TERMS)
    )
    df_cols = ",\n         ".join(
        f"sum(CASE WHEN tf_{i} > 0 THEN 1 ELSE 0 END) AS df_{i}"
        for i in range(len(BM25_TERMS))
    )
    # Mirror the Spark expression tree exactly: k1+1 and 1-b fold to
    # literals driver-side, avgdl = sum_dl/n_docs as doubles, and the
    # term contributions add left-to-right.
    contrib = [
        f"(ln(1.0 + (n_docs - df_{i} + 0.5) / (df_{i} + 0.5))"
        f" * (CAST(tf_{i} AS DOUBLE) * {_K1 + 1.0}))"
        f" / (CAST(tf_{i} AS DOUBLE) + {_K1} * ({1.0 - _B} + {_B} * (dl / avgdl)))"
        for i in range(len(BM25_TERMS))
    ]
    score = " + ".join(contrib)
    return f"""
WITH {_TOKS},
per_doc AS (
  SELECT doc_id, len(w) AS dl,
         {tf_cols}
  FROM toks
),
stats AS (
  SELECT count(*) AS n_docs, sum(dl) AS sum_dl,
         {df_cols}
  FROM per_doc
),
scored AS (
  SELECT doc_id, dl,
         round({score}, 6) AS bm25
  FROM per_doc CROSS JOIN (
    SELECT n_docs, CAST(sum_dl AS DOUBLE) / n_docs AS avgdl,
           {", ".join(f"df_{i}" for i in range(len(BM25_TERMS)))}
    FROM stats
  )
)
SELECT doc_id, dl, bm25, rank FROM (
  SELECT doc_id, dl, bm25,
         ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS rank
  FROM scored
) WHERE rank <= {k}
"""


@query("text_bm25_topk", oracle=_bm25_oracle())
def q_text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-10 documents for a fixed 3-term query.

    Plan: per-doc tf/dl are codegen'd array expressions (no explode);
    corpus stats reduce to ONE broadcast row; the cut is a bounded
    TakeOrdered — zero wide shuffles at any corpus size.
    """
    return ir.bm25_topk(load_table(spark, sf_dir, "documents"), BM25_TERMS, k=_K, k1=_K1, b=_B)


@query(
    "text_inverted_index",
    oracle=f"""
WITH {_TOKS},
words AS (SELECT doc_id, unnest(list_distinct(w)) AS term FROM toks)
SELECT term, count(*) AS df,
       array_to_string((list_sort(list(doc_id)))[1:100], ',') AS postings
FROM words GROUP BY term HAVING count(*) <= 400
""",
)
def q_text_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index build: term -> df + sorted postings head.

    One exchange carrying (term, doc_id); max_df drops stop-term skew
    (the ngram-Jaccard stop-shingle cap applied to postings), head
    bounds the emitted row. Both knobs mirror in the oracle.
    """
    return ir.inverted_index(load_table(spark, sf_dir, "documents"), max_df=400, head=100)


@query(
    "fuzzy_word_variants",
    oracle="""
WITH toks AS (
  SELECT list_filter(string_split_regex(lower(text), '[^a-z]+'), x -> x <> '') AS w
  FROM documents
),
vocab AS (
  SELECT word, count(*) AS df, substring(word, 1, 1) AS blk
  FROM (SELECT unnest(w) AS word FROM toks) GROUP BY word
)
SELECT a.word AS word_a, b.word AS word_b,
       levenshtein(a.word, b.word) AS dist,
       a.df AS df_a, b.df AS df_b
FROM vocab a JOIN vocab b
  ON a.blk = b.blk AND a.word < b.word
 AND abs(length(a.word) - length(b.word)) <= 2
WHERE levenshtein(a.word, b.word) <= 2
""",
)
def q_fuzzy_word_variants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked edit-distance matching over the corpus vocabulary:
    same-first-letter pairs within Levenshtein 2 (+ length band).

    The entity-resolution candidate/verify shape: equi-join on a cheap
    blocking key, expensive metric only inside the block — never
    vocabulary x vocabulary. Spark and DuckDB both implement classic
    Levenshtein, so the verify is engine-exact.
    """
    return ir.spelling_variants(load_table(spark, sf_dir, "documents"), max_edit=2, prefix_len=1)


@query(
    "text_feature_hashing",
    oracle="""
WITH toks AS (
  SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '[^a-z]+'), x -> x <> '')) AS word
  FROM documents
),
h AS (
  SELECT doc_id,
         (strpos('0123456789abcdef', substring(md5('fh|' || word), 1, 1)) - 1) * 16
       + (strpos('0123456789abcdef', substring(md5('fh|' || word), 2, 1)) - 1) AS feat,
         CASE WHEN strpos('0123456789abcdef', substring(md5('fh|' || word), 3, 1)) - 1 < 8
              THEN 1 ELSE -1 END AS sgn
  FROM toks
)
SELECT doc_id, CAST(feat AS BIGINT) AS feat, CAST(SUM(sgn) AS BIGINT) AS weight
FROM h GROUP BY doc_id, feat
HAVING SUM(sgn) <> 0
""",
)
def q_text_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hashing trick (HashingVectorizer / Vowpal Wabbit): every
    token maps to one of 256 features via a seeded hash, with a
    +/- sign bit so collisions cancel in expectation; per-doc feature
    weights are signed counts and zero-weight (fully cancelled)
    entries drop — the sparse fixed-width featurization that needs NO
    vocabulary pass, so feature extraction is a single map-side
    projection + one (doc, feat) partial-agg'd exchange at any corpus
    size. ENGINE-EXACT: feature index and sign both derive from md5
    nibbles (the dedup-family idiom), integer weights — bit-for-bit
    oracle-checked. Production widens 256 -> 2^20 by taking more
    nibbles; the plan is unchanged.
    """
    from mock_map_reduce_spark.functions.partitioning import spread

    docs = load_table(spark, sf_dir, "documents")
    # spread: 3 md5 evals per token is exactly the per-row-heavy regime
    # spread exists for (measured 1.20 s -> 0.77 s at sf0.1, where the
    # corpus arrives as one split); a no-op at 100 TB where splits
    # already provide the parallelism.
    toks = spread(docs.select("doc_id", "text")).select(
        "doc_id", F.explode(word_tokens("text")).alias("word")
    )
    hexpos = "instr('0123456789abcdef', substring(md5(concat('fh|', word)), {}, 1)) - 1"
    h = toks.select(
        "doc_id",
        (
            F.expr(hexpos.format(1)) * 16 + F.expr(hexpos.format(2))
        ).cast("long").alias("feat"),
        F.when(F.expr(hexpos.format(3)) < 8, F.lit(1)).otherwise(F.lit(-1)).alias("sgn"),
    )
    return (
        h.groupBy("doc_id", "feat")
        .agg(F.sum("sgn").cast("long").alias("weight"))
        .filter(F.col("weight") != 0)
    )


# --- hybrid retrieval: reciprocal-rank fusion ------------------------------

RRF_K = 60     # the canonical RRF constant (Cormack et al.)
RRF_DEPTH = 50  # depth of each retriever's candidate list
RRF_OUT = 20


def _hybrid_rrf_oracle() -> str:
    from mock_map_reduce_spark.catalog.similarity import _V, _cos

    return f"""
WITH lex AS (
  SELECT doc_id, rank AS rank_lex FROM ({_bm25_oracle(RRF_DEPTH)})
),
{_V},
q AS (SELECT e AS qe FROM v WHERE vec_id = 0),
scored AS (
  SELECT v.vec_id AS doc_id, {_cos("qe", "v.e")} AS cos
  FROM v CROSS JOIN q WHERE v.vec_id <> 0
),
sem AS (
  SELECT doc_id, rank_sem FROM (
    SELECT doc_id,
           ROW_NUMBER() OVER (ORDER BY cos DESC, doc_id) AS rank_sem
    FROM scored
  ) WHERE rank_sem <= {RRF_DEPTH}
),
fused AS (
  SELECT COALESCE(lex.doc_id, sem.doc_id) AS doc_id,
         lex.rank_lex, sem.rank_sem,
         COALESCE(1.0 / ({RRF_K} + lex.rank_lex), 0.0)
           + COALESCE(1.0 / ({RRF_K} + sem.rank_sem), 0.0) AS rrf_score
  FROM lex FULL JOIN sem ON lex.doc_id = sem.doc_id
)
SELECT doc_id, rank_lex, rank_sem, rrf_score
FROM fused ORDER BY rrf_score DESC, doc_id LIMIT {RRF_OUT}
"""


@query("retrieval_hybrid_rrf", oracle=_hybrid_rrf_oracle())
def q_retrieval_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval via reciprocal-rank fusion — the standard RAG
    recipe: a lexical BM25 list and a dense embedding-cosine list
    (documents and embeddings align on id in the testdata), fused as
    rrf = Σ 1/(60 + rank) over the lists each doc appears in, top-20.

    Fuses TRUNCATED top-50 lists, not full rankings — the production
    shape: the fusion operates on ≤ 2·depth rows, so it costs nothing
    at any corpus size; each retriever contributes only its own top-k
    machinery (BM25's bounded TakeOrdered cut; the dense side here is
    the exact brute-force baseline whose per-query window is the
    documented O(corpus) eval path — at 100 TB swap in
    similarity_ann_ivf's partition-pruned candidates, the fusion
    stage is unchanged). Exactness:
    ranks are integers from already-hash-exact scorers; each fused
    score is two IEEE divisions added in fixed written order —
    bit-identical across engines with no rounding step at all."""
    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    lex = ir.bm25_topk(docs, BM25_TERMS, k=RRF_DEPTH, k1=_K1, b=_B).select(
        "doc_id", F.col("rank").alias("rank_lex")
    )
    from mock_map_reduce_spark.operators import similarity as sim

    semt = sim.brute_force_topk(
        emb, emb.filter(F.col("vec_id") == 0), k=RRF_DEPTH
    ).select(F.col("neighbor_id").alias("doc_id"), F.col("rank").alias("rank_sem"))
    fused = lex.join(semt, "doc_id", "full_outer").select(
        "doc_id",
        "rank_lex",
        "rank_sem",
        (
            F.coalesce(F.lit(1.0) / (F.lit(RRF_K) + F.col("rank_lex")), F.lit(0.0))
            + F.coalesce(F.lit(1.0) / (F.lit(RRF_K) + F.col("rank_sem")), F.lit(0.0))
        ).alias("rrf_score"),
    )
    return fused.orderBy(F.desc("rrf_score"), F.asc("doc_id")).limit(RRF_OUT)
