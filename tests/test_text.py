"""Text analysis operator tests with hand-computed expectations."""

from __future__ import annotations

import hashlib
import math
import uuid

import pytest
from pyspark.sql import Row

from mock_map_reduce_spark.operators import text as tx


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(
        [
            Row(doc_id=1, text="the cat and the dog"),
            Row(doc_id=2, text="el gato y el perro en la casa"),
            Row(doc_id=3, text="xyz qrs!! 123"),
            Row(doc_id=4, text=""),
        ]
    )


def test_token_stats(docs):
    got = {r.doc_id: (r.n_ws_tokens, r.n_bpe_pieces, r.n_chars) for r in tx.token_stats(docs).collect()}
    assert got[1] == (5, 5, 19)
    # "xyz qrs!! 123" -> ws: 3; bpe: xyz, qrs, !, !, 123 = 5; chars 13
    assert got[3] == (3, 5, 13)
    assert got[4] == (0, 0, 0)


def test_quality_score_hand_computed(docs):
    r = {x.doc_id: x for x in tx.quality_score(docs).collect()}
    # doc 1: tokens [the cat and the dog]: 5 toks, alpha 15, chars 19
    assert r[1].mean_word_len == 3.0
    assert r[1].stopword_ratio == round(3 / 5, 6)  # the, and, the
    assert r[1].alpha_ratio == round(15 / 19, 6)
    assert r[1].distinct_token_ratio == round(4 / 5, 6)
    # empty doc: all zeros, no NaNs
    assert (r[4].mean_word_len, r[4].quality_score) == (0.0, 0.0)


def test_language_id(docs):
    got = {r.doc_id: r.lang_pred for r in tx.language_id(docs).collect()}
    assert got[1] == "en"
    assert got[2] == "es"
    assert got[3] == "und"  # no stopwords from any list
    assert got[4] == "und"


def test_fingerprint_normalization(spark):
    a = spark.createDataFrame([Row(doc_id=1, text="Hello, World!")])
    b = spark.createDataFrame([Row(doc_id=2, text="hello   world")])
    fa = tx.fingerprint(a).collect()[0].fingerprint
    fb = tx.fingerprint(b).collect()[0].fingerprint
    assert fa == fb == hashlib.md5(b"hello world").hexdigest()


def test_rolling_hash_matches_python_model(spark):
    def model(text):
        h = 0
        for t in [w for w in "".join(c if c.isalpha() else " " for c in text.lower()).split() if w]:
            v = int(hashlib.md5(t.encode()).hexdigest()[:8], 16)
            h = (h * 1000003 + v) % 2147483647
        return h

    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text="the quick brown fox"),
            Row(doc_id=2, text="fox brown quick the"),  # same bag, other order
            Row(doc_id=3, text="the quick brown fox jumps"),
            Row(doc_id=4, text="123 !!!"),  # token-less -> fold over [] = 0
        ]
    )
    got = {r.doc_id: r.rhash for r in tx.rolling_fingerprint(docs).collect()}
    assert got == {1: model("the quick brown fox"), 2: model("fox brown quick the"),
                   3: model("the quick brown fox jumps"), 4: 0}
    assert got[1] != got[2]  # order-sensitive, unlike the flat fingerprint
    # incremental property: appending one token = one multiply-add
    v5 = int(hashlib.md5(b"jumps").hexdigest()[:8], 16)
    assert got[3] == (got[1] * 1000003 + v5) % 2147483647


def test_tfidf_values(spark):
    docs = spark.createDataFrame(
        [Row(doc_id=1, text="a a b"), Row(doc_id=2, text="a c")]
    )
    got = {(r.doc_id, r.word): (r.tf, r.df, r.tfidf) for r in tx.tf_idf(docs).collect()}
    # n_docs=2; word a: df=2 -> idf = ln(3/3)+1 = 1
    assert got[(1, "a")] == (2, 2, 2.0)
    assert got[(2, "a")] == (1, 2, 1.0)
    # word b: df=1 -> idf = ln(3/2)+1
    assert got[(1, "b")] == (1, 1, round(math.log(3 / 2) + 1, 6))


def test_repetition_ratio(spark):
    from pyspark.sql import Row

    df = spark.createDataFrame(
        [
            Row(doc_id=1, text="x y x y x y"),   # bigrams: xy yx xy yx xy -> 5 total, 2 distinct
            Row(doc_id=2, text="a b c d"),        # all distinct
            Row(doc_id=3, text="single"),         # < n tokens
        ]
    )
    out = {r.doc_id: r for r in tx.repetition_ratio(df, n=2).collect()}
    assert out[1].n_ngrams == 5 and out[1].n_distinct == 2
    assert abs(out[1].repetition_ratio - 0.6) < 1e-12
    assert out[2].repetition_ratio == 0.0
    assert out[3].n_ngrams == 0 and out[3].repetition_ratio == 0.0


def test_scrub_pii_planted(spark):
    df = spark.createDataFrame(
        [Row(doc_id=1, text="mail a.b+c@ex-y.org call 555-0100 card 4111111111111111 ok 123")]
    )
    out = tx.scrub_pii(df).collect()[0].clean_text
    assert out == "mail <EMAIL> call <PHONE> card <NUM> ok 123"


def test_tfidf_by_language_partitions_df_by_lang(spark):
    # Same word "de" in both sub-corpora; df must be computed within
    # each language, not corpus-wide.
    df = spark.createDataFrame(
        [
            Row(doc_id=1, text="the cat and the dog"),
            Row(doc_id=2, text="the red cat"),
            Row(doc_id=3, text="el gato y la casa de que"),
            Row(doc_id=4, text="la casa de el perro que en los"),
        ]
    )
    rows = tx.tf_idf_by_language(df).collect()
    by = {(r.doc_id, r.word): r for r in rows}
    # "cat" appears in both en docs -> df=2, n_docs(en)=2
    r = by[(1, "cat")]
    assert (r.lang_pred, r.tf, r.df) == ("en", 1, 2)
    assert r.tfidf == round(1 * (math.log((2 + 1) / (2 + 1)) + 1.0), 6)
    # "casa" df=2 within es only; en corpus never sees it
    assert by[(3, "casa")].df == 2 and by[(3, "casa")].lang_pred == "es"
    assert (2, "casa") not in by
    # each doc's words all carry its own language
    assert {r.lang_pred for r in rows if r.doc_id == 4} == {"es"}


def test_rank_surprisal_matches_python_model(spark):
    from collections import Counter

    import re as _re

    rows = [
        (1, "the cat sat on the mat"),
        (2, "the the the zzz"),
        (3, "cat mat unique words here"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: (r.n_toks, r.rank_sum, r.rarest_rank) for r in tx.rank_surprisal(df).collect()}

    toks = {i: [t for t in _re.split(r"[^a-z]+", s.lower()) if t] for i, s in rows}
    corpus = Counter(t for ts in toks.values() for t in ts)
    # competition rank: 1 + #tokens with strictly larger count
    rank = {
        t: 1 + sum(1 for u, cu in corpus.items() if cu > c)
        for t, c in corpus.items()
    }
    for i, ts in toks.items():
        assert got[i] == (
            len(ts),
            sum(rank[t] for t in ts),
            max(rank[t] for t in ts),
        ), i


def test_chunk_documents_windows(spark):
    # 100 tokens, chunk 64, stride 48 -> chunks at 0 (64 toks) and 48 (52 toks)
    words = " ".join(f"w{i}" for i in range(100))
    df = spark.createDataFrame([(1, words), (2, "a b"), (3, "")],
                               "doc_id long, text string")
    out = {(r.doc_id, r.chunk_idx): (r.n_tokens, r.chunk_text)
           for r in tx.chunk_documents(df).collect()}
    assert out[(1, 0)][0] == 64 and out[(1, 0)][1].startswith("w0 w1 ")
    assert out[(1, 1)][0] == 52 and out[(1, 1)][1].startswith("w48 ")
    assert out[(1, 1)][1].endswith("w99")
    assert out[(2, 0)] == (2, "a b")       # short doc -> one whole chunk
    assert out[(3, 0)] == (0, "")          # empty doc -> one empty chunk
    assert set(out) == {(1, 0), (1, 1), (2, 0), (3, 0)}
    # consecutive chunks overlap by chunk_tokens - stride = 16 tokens
    assert out[(1, 0)][1].split()[48:] == out[(1, 1)][1].split()[:16]


def test_bpe_pair_counts_hand_computed(spark):
    from pyspark.sql import Row

    from mock_map_reduce_spark.operators import text as tx

    docs = spark.createDataFrame(
        [Row(doc_id=1, text="aba abab"), Row(doc_id=2, text="x ab!ba")]
    )
    # words (len>=2): "aba", "abab", "ab", "ba"
    # pairs: aba->[ab,ba]; abab->[ab,ba,ab]; ab->[ab]; ba->[ba]
    # counts: ab=4, ba=3
    rows = [(r.pair, r.n) for r in tx.bpe_pair_counts(docs, top_k=5).collect()]
    assert rows == [("ab", 4), ("ba", 3)]


def test_bpe_pair_counts_plan_is_bounded(spark, sf_dir):
    """TakeOrdered bounded heap + partial agg — never a global sort."""
    from mock_map_reduce_spark.operators import text as tx
    from mock_map_reduce_spark.plans import executed_plan
    from mock_map_reduce_spark.sources import load_table

    plan = executed_plan(tx.bpe_pair_counts(load_table(spark, sf_dir, "documents")))
    assert "TakeOrderedAndProject" in plan
    assert plan.count("HashAggregate") >= 2


def test_entropy_uniform_distribution_is_ln_n(spark):
    """4 equally-frequent tokens -> entropy = ln(4) nats."""
    import math

    from mock_map_reduce_spark.catalog.textops import q_text_entropy_by_source  # noqa: F401
    from mock_map_reduce_spark.registry import QUERIES
    import tempfile, os

    docs = spark.createDataFrame(
        [(1, "aa bb cc dd", "en", "s1", 11)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    with tempfile.TemporaryDirectory() as d:
        docs.coalesce(1).write.parquet(os.path.join(d, "documents.parquet"))
        out = QUERIES["text_entropy_by_source"](spark, d).collect()
    assert len(out) == 1
    r = out[0]
    assert (r.n_tokens, r.n_distinct) == (4, 4)
    assert abs(r.entropy_nats - math.log(4)) < 1e-6


_BPE_CORPUS = [
    "aaaa aaaa aaa banana banana bandana",
    "aaaa banana bananas abracadabra",
]


@pytest.mark.parametrize(
    "texts, n_merges, n_learned",
    [
        (_BPE_CORPUS, 6, 6),
        ([], 6, 0),
        (["a b c", None], 6, 0),
        # every corpus word is one token after 17 merges
        (_BPE_CORPUS, 50, 17),
    ],
    ids=["corpus", "empty", "no_pairs", "more_merges_than_pairs"],
)
def test_bpe_train_matches_canonical_reference(spark, texts, n_merges, n_learned):
    """The iterative trainer vs a pure-Python canonical BPE (Sennrich
    et al.: count pairs weighted by word freq, merge the argmax
    greedily left-to-right non-overlapping, repeat). The corpus
    plants 'aaaa'/'aaa' so consecutive overlapping occurrences — the
    case where a single naive string replace under-merges — decide
    the learned merges. An empty frame and a corpus with no pairs
    (one-letter words, a null text) give a typed empty table; asking
    for more merges than the corpus can make stops early."""

    def canonical_bpe(texts, n_merges):
        import re
        from collections import Counter

        wf = Counter(
            w
            for t in texts
            if t is not None
            for w in re.split(r"[^a-z]+", t.lower())
            if w
        )
        seqs = {w: tuple(w) for w in wf}
        merges = []
        for rank in range(1, n_merges + 1):
            pc = Counter()
            for w, s in seqs.items():
                for a, b in zip(s, s[1:]):
                    pc[(a, b)] += wf[w]
            if not pc:
                break
            (a, b), c = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
            merges.append((rank, f"{a} {b}", a + b, c))
            out = {}
            for w, s in seqs.items():
                r, i = [], 0
                while i < len(s):  # greedy left-to-right, non-overlapping
                    if i + 1 < len(s) and s[i] == a and s[i + 1] == b:
                        r.append(a + b)
                        i += 2
                    else:
                        r.append(s[i])
                        i += 1
                out[w] = tuple(r)
            seqs = out
        return merges

    docs = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    out = tx.bpe_train(docs, n_merges=n_merges)
    assert out.schema.simpleString() == (
        "struct<merge_rank:int,pair:string,token:string,c:bigint>"
    )
    got = [(r.merge_rank, r.pair, r.token, r.c) for r in out.collect()]
    assert got == canonical_bpe(texts, n_merges)
    assert len(got) == n_learned
    if n_learned:
        # sanity: the planted run actually exercised consecutive merging
        assert any(t == "aa" for _, _, t, _ in got)


def test_bpe_train_fires_at_most_three_jobs_and_pins_nothing(spark, sf_dir):
    """Training is one distributed word count and a merge loop on the
    driver: building and collecting the merge table fires at most 3
    Spark jobs, not one per merge round, and leaves no persisted RDD."""
    from mock_map_reduce_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents")
    sc = spark.sparkContext
    pins = sc._jsc.getPersistentRDDs().size()
    group = f"bpe-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "bpe_train")
    try:
        rows = tx.bpe_train(docs, n_merges=8).collect()
    finally:
        sc._jsc.clearJobGroup()
    assert [r.merge_rank for r in rows] == list(range(1, 9))
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 3
    assert sc._jsc.getPersistentRDDs().size() == pins


def test_bpe_segment_vocab_counts(spark):
    """Applying ordered merges segments the vocabulary exactly like the
    trainer's rewrite: 'banana' under merges ('a n' -> 'an', 'an a' ->
    'ana') becomes b|ana|n|a? No — greedy l-to-r: 'b an an a', then
    'ana' merges need 'an a' adjacency: 'b an an a' -> 'b an ana'."""
    docs = spark.createDataFrame([Row(doc_id=1, text="banana bans")])
    out = {
        r.word: r.n_toks
        for r in tx.bpe_segment_vocab(docs, ["a n", "an a"]).collect()
    }
    # banana: b a n a n a -> b an an a -> b an ana  (3 tokens)
    # bans:   b a n s -> b an s  (3 tokens)
    assert out == {"banana": 3, "bans": 3}


def test_bigram_logprob_hand_computed(spark):
    """Two docs over a 3-word vocabulary; add-one bigram NLL computed
    by hand.  Corpus bigrams: doc1 'a b a' -> (a,b), (b,a);
    doc2 'a b b' -> (a,b), (b,b).
    c1: a·=2, b·=2.  c2: (a,b)=2, (b,a)=1, (b,b)=1.  V=2 ('a','b').
    p(b|a) = (2+1)/(2+2) = 0.75
    p(a|b) = (1+1)/(2+2) = 0.5
    p(b|b) = (1+1)/(2+2) = 0.5
    """
    import math

    docs = spark.createDataFrame(
        [Row(doc_id=1, text="a b a"), Row(doc_id=2, text="a b b")]
    )
    out = {r.doc_id: r for r in tx.bigram_logprob(docs).collect()}
    nll = lambda p: round(-math.log(p), 6)
    d1 = nll(0.75) + nll(0.5)
    d2 = nll(0.75) + nll(0.5)
    assert out[1].n_bigrams == 2 and out[2].n_bigrams == 2
    assert abs(out[1].nll_total - d1) < 1e-9
    assert abs(out[2].nll_total - d2) < 1e-9
    # avg is exact integer micro-NLL floor division
    assert out[1].avg_nll == (int(round(d1 * 1e6)) // 2) / 1e6
    # single-token and empty docs produce no bigrams -> absent
    docs2 = spark.createDataFrame([Row(doc_id=3, text="only"), Row(doc_id=4, text="")])
    assert tx.bigram_logprob(docs2).count() == 0
